package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/** Driver contract (SURVEY.md §7): every operator of the engine exposed
  * as a named query (a "gate") over the sf test tables, with a DuckDB
  * oracle.
  *
  * The gates live in one object per family under `graft.gates`
  * ([[SqlGates]], [[RasterGates]], [[TemporalGates]], [[DedupGates]],
  * [[SimilarityGates]], [[TextGates]], [[GraphGates]], [[StatsGates]],
  * [[InferenceGates]], [[PipelineGates]], [[StreamingGates]]); a gate
  * sits in the family of the graft module its plan calls. Helpers that
  * more than one family uses (the table loader `t`, fixture paths,
  * shared oracle CTEs) live in [[GateSupport]]. A gate is declared once:
  * its plan `def`, directly followed by one registration that carries
  * its name, the plan and the oracle SQL,
  * {{{
  *   private def qGroupedCount(s: SparkSession, dir: String): DataFrame = ...
  *   gate("q01_grouped_count")(qGroupedCount(_, _))(
  *     """SELECT ...""".stripMargin)
  * }}}
  * The oracle is by-name: it is built only when [[oracleSql]] is read,
  * after [[Verify]] has set `graft.verify.sfdir`, so the fixture paths
  * it embeds follow the sf directory under test. Two flags mark gates
  * that the tools treat differently:
  *  - `eager = true`: building the DataFrame already runs Spark jobs
  *    (a localCheckpoint, a collect loop, a full streaming query, a
  *    fixture write). A `// eager:` comment beside the flag says which.
  *    `PlanCheck` skips these when it explains every gate.
  *  - `stream = true`: the gate runs a `writeStream` (MemoryStream →
  *    state store → memory sink); [[streamGates]] lists them.
  * This object only composes the families: [[queries]], [[oracleSql]],
  * [[streamGates]] and [[eagerGates]] are derived from their
  * registrations, and a gate name may be registered once.
  *
  * Every aggregate/computed column is aliased identically in the Spark
  * plan and the oracle SQL (driver hash-compares after sorting columns
  * by name), doubles are rounded at the same precision on both sides,
  * and each query has a deterministic ORDER BY on its natural key.
  */
object SparkEntry {

  private val families: Seq[GateFamily] = Seq(SqlGates, RasterGates,
    TemporalGates, DedupGates, SimilarityGates, TextGates, GraphGates,
    StatsGates, InferenceGates, PipelineGates, StreamingGates)

  private val registry: Seq[Gate] = families.flatMap(_.gates)

  locally {
    val dups = registry.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate ${dups.toSeq.sorted.mkString(", ")}")
  }

  /** Every gate's plan, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.iterator.map(g => g.name -> g.plan).toMap

  /** DuckDB-dialect oracle SQL, value-identical to the Spark plans.
    * Rebuilt on each call: the fixture paths depend on
    * `graft.verify.sfdir`.
    */
  def oracleSql: Map[String, String] =
    registry.iterator.map(g => g.name -> g.oracle()).toMap

  /** The `stream = true` gates, sorted by name. */
  lazy val streamGates: Seq[String] =
    registry.iterator.filter(_.stream).map(_.name).toSeq.sorted

  /** The `eager = true` gates. */
  private[graft] lazy val eagerGates: Set[String] =
    registry.iterator.filter(_.eager).map(_.name).toSet

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * The /multi-style batch plan (SURVEY §3.2): one shared scan,
    * several ops in a single grouped union.
    */
  def entry(spark: SparkSession): DataFrame =
    SqlGates.qMulti(spark, "/root/testdata/sf0.001")
}
