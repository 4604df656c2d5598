package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

class CorpusSinkSpec extends AnyFunSuite with SparkSpec {

  test("writePartitioned: pruned layout, sorted files, record cap") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    try {
      val df = Sampling.withEpochKey(
        spark.range(3000).toDF("doc_id"), "doc_id", epoch = 1)
        .withColumn("split", when(col("doc_id") % 10 < 8, "train").otherwise("val"))
      CorpusSink.writePartitioned(df, dir, Seq("split"), "epoch_key",
        buckets = 4, maxRecordsPerFile = 500)

      // partition directories exist -> reading one split prunes the other
      val subdirs = new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName).toSet
      assert(subdirs == Set("split=train", "split=val"))

      val back = spark.read.parquet(dir)
      assert(back.count() == 3000)
      val plan = back.filter(col("split") === "train")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(split"), plan)

      // every data file respects the record cap and is sorted by epoch_key
      val files = back.select(input_file_name().as("f"), col("epoch_key")).cache()
      val perFile = files.groupBy("f").count().collect()
      assert(perFile.forall(_.getLong(1) <= 500))
      val unsorted = files.withColumn("prev",
          lag(col("epoch_key"), 1).over(org.apache.spark.sql.expressions.Window
            .partitionBy("f").orderBy(monotonically_increasing_id())))
        .filter(col("prev") > col("epoch_key")).count()
      files.unpersist()
      assert(unsorted == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
