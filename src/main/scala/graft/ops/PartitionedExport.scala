package graft.ops

import graft.model.FeaturesConfig
import graft.pipeline.Features
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Day-partitioned parquet export + partition-pruned read-back — the
  * at-rest layout for the feature table at scale (SURVEY.md §4: "partition
  * pruning (if we partition exports by Day)"): a reader filtering on Day
  * must touch only that day's files, never the full history.
  */
object PartitionedExport {

  /** Write features partitioned by Day, read back one day, and report
    * (n_days, rows_total, rows_one_day, pruned) where `pruned` asserts
    * the scan carried partition filters and listed a single partition.
    */
  def demo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the result is a local frame, so the export goes with the call
    val staging = java.nio.file.Files.createTempDirectory("graft_s10_").toAbsolutePath
    val out = staging.toString
    try {
      val feats = Features.featuresFull(Tables.events(spark, dir), FeaturesConfig(), ordered = false)
      feats.write.partitionBy("Day").mode("overwrite").parquet(out)

      val back = Tables.parquet(spark, out)
      val days = back.select("Day").distinct().count()
      val total = back.count()
      // min over the written partition values — NOT over `feats`, which
      // would re-execute the whole feature pipeline a second time. Partition
      // value inference types `Day` as int on read-back, hence the cast.
      val day = back.agg(min(col("Day").cast("long"))).head().getLong(0)
      val oneDay = back.filter(col("Day") === day)
      val scans = oneDay.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      val pruned = scans.nonEmpty && scans.forall { s =>
        s.partitionFilters.nonEmpty && s.selectedPartitions.partitionCount == 1
      }
      val oneDayRows = oneDay.count()
      Seq((days, total, oneDayRows, pruned))
        .toDF("n_days", "rows_total", "rows_one_day", "pruned")
    } finally Scratch.deleteTree(staging)
  }
}
