package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The gate registry: every gate is one `gate(...)` registration, and
  * `queries`, `oracleSql`, `streamGates` and `eagerGates` are derived
  * from it. The counts catch a gate or a flag lost in an edit. The gate
  * properties below are structural invariants of single gates that the
  * tabular oracle can't see, checked on the sf0.001 fixture.
  */
class SparkEntrySpec extends AnyFunSuite with SparkSpec {

  test("gate registry: 465 distinct gates, each with a plan and an oracle") {
    assert(SparkEntry.queries.size == 465)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("streamGates registry: every banded stream gate is a real query") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.streamGates.filterNot(qs.contains)
    assert(missing.isEmpty, s"streamGates not in queries: $missing")
    assert(SparkEntry.streamGates.distinct.size == SparkEntry.streamGates.size)
    assert(SparkEntry.streamGates.size == 22)
    assert(SparkEntry.streamGates == SparkEntry.streamGates.sorted)
  }

  test("eager gates: 48, each a real query") {
    assert(SparkEntry.eagerGates.size == 48)
    assert(SparkEntry.eagerGates.subsetOf(SparkEntry.queries.keySet))
  }

  private val dir = "/root/testdata/sf0.001"

  test("q429 bottom-k sample: the two-level merge equals the direct build on every row") {
    val rows = SparkEntry.queries("q429_bottomk_sample")(spark, dir).collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getAs[Boolean]("two_level_match")),
      "per-source bottom-8 merge must reproduce the direct global bottom-8")
    val hvs = rows.map(_.getAs[Long]("hv"))
    assert(hvs.sameElements(hvs.sorted), "ranks must ascend by hash value")
  }

  test("q448 Neyman allocation: seats sum EXACTLY to the 1000 budget") {
    val rows = SparkEntry.queries("q448_neyman_alloc")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("alloc")).sum == 1000L)
    assert(rows.forall(_.getAs[Long]("alloc") >= 0L))
  }

  test("q437 Holm rejections are a subset of q403 BH rejections (step-down is stricter)") {
    val holm = SparkEntry.queries("q437_holm")(spark, dir)
      .filter(col("rejected") === 1L).select("term").collect()
      .map(_.getString(0)).toSet
    val bh = SparkEntry.queries("q403_bh_fdr")(spark, dir)
      .filter(col("rejected") === 1L).select("term").collect()
      .map(_.getString(0)).toSet
    assert(holm.subsetOf(bh),
      s"FWER control must reject no more than FDR control; holm-only: ${holm.diff(bh)}")
  }

  test("q439 Croston closed form equals the step-by-step α=½ EWMA recursion") {
    val rows = SparkEntry.queries("q439_croston")(spark, dir).collect()
    // reference: replay the recursion from the same raw series
    val series = Tables.events(spark, dir)
      .filter(col("user_id") % 997L === 0L)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("z"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) =>
        t -> rs.map(r => (r.getAs[Long]("d"), r.getAs[Long]("z"))).sortBy(_._1)
      }
    def ewma(xs: Seq[Long]): Double =
      xs.tail.foldLeft(xs.head.toDouble) { case (s, x) => (s + x) / 2.0 }
    rows.foreach { r =>
      val t = r.getString(0)
      val occ = series(t)
      if (occ.length >= 2) {
        val sizes = occ.map(_._2)
        val gaps = occ.map(_._1).sliding(2).map(p => p(1) - p(0)).toSeq
        val expSize = math.floor(ewma(sizes) * 1e6 + 0.5).toLong
        val expGap = math.floor(ewma(gaps) * 1e6 + 0.5).toLong
        assert(r.getAs[Long]("size_ewma_micro") == expSize, s"size EWMA for $t")
        assert(r.getAs[Long]("gap_ewma_micro") == expGap, s"gap EWMA for $t")
      }
    }
  }

  test("q435 knee point: flagged rows carry the maximal chord distance, curve is monotone") {
    val rows = SparkEntry.queries("q435_knee_point")(spark, dir).collect()
    val d = rows.map(_.getAs[Long]("d_num"))
    val flagged = rows.filter(_.getAs[Boolean]("is_knee"))
    assert(flagged.nonEmpty)
    assert(flagged.forall(_.getAs[Long]("d_num") == d.max))
    val cum = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cum_tokens"))
    assert(cum.sameElements(cum.sorted), "cumulative tokens must be monotone")
  }

  test("q444 gaps-and-islands: run lengths partition the active days") {
    SparkEntry.queries("q444_gap_islands")(spark, dir).collect().foreach { r =>
      assert(r.getAs[Long]("max_run") <= r.getAs[Long]("n_active_days"))
      assert(r.getAs[Long]("n_islands") >= 1L)
      assert(r.getAs[Long]("n_active_days") >= r.getAs[Long]("n_islands"))
    }
  }

  test("q447 banding planner: more rows per band is strictly more selective on FP mass") {
    val rows = SparkEntry.queries("q447_lsh_band_planner")(spark, dir).collect()
      .sortBy(_.getAs[Long]("rows_per"))
    val fp = rows.map(_.getAs[Long]("fp_mass_micro"))
    // r ascending (2, 4, 8, 16) → collision prob on low-j pairs falls
    assert(fp.sameElements(fp.sorted.reverse),
      s"fp mass must decay as rows-per-band grows: ${fp.mkString(",")}")
  }
}
