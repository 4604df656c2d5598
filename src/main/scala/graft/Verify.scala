package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Resilient to the driver's wall-clock budget (round-4 lesson: the
  * snapshot produced an empty CORRECTNESS artifact): oracle_sql.json is
  * written FIRST (it depends only on source, not on query runs), the
  * shared zonal fixtures are built once up front, and independent
  * queries run on a bounded thread pool so a partial/aborted run still
  * leaves every finished query's parquet on disk.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Extra args are a
    // local-iteration filter: verify only the named queries.
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    // the zonal oracle SQL derives its fixture path from the sfDir
    // this run computes against (RasterGates.zfp)
    sys.props("graft.verify.sfdir") = sfDir
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      // FAIR lets the pool's concurrent queries share executor threads
      // instead of FIFO-serializing behind one wide stage
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    GraftSession.printConfiguration(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // shared fixture (zonal tile layers + oracle mask dumps) built once,
    // not lazily inside the first zonal query on some pool thread
    graft.sources.ZonalFixture.ensureMasks(spark, sfDir)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    val poolN = sys.env.getOrElse("SPARK_GRAFT_VERIFY_POOL", "4").toInt
    val pool = Executors.newFixedThreadPool(poolN)
    names.foreach { name =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            // per-query cloned session: shares the SparkContext (and
            // executor threads) but isolates runtime conf and temp
            // views, so concurrent queries can't race on the
            // shuffle-partition toggle or view registration
            val sess = spark.newSession()
            SparkEntry.queries(name)(sess, sfDir).coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$name")
            println(s"[verify] $name ok")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            // leave a durable per-query marker so the driver's artifact
            // records an `err` row instead of a silently-missing entry
            // (round-5 lesson: "{}" vs "27 err" is the whole signal)
            try Files.writeString(Paths.get(s"$outDir/$name.err.txt"),
              s"${e.getClass.getName}: ${e.getMessage}\n")
            catch { case _: Throwable => () }
          }
      })
    }
    pool.shutdown()
    pool.awaitTermination(4, TimeUnit.HOURS)
    spark.stop()
  }
}
