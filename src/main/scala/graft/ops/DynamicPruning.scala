package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dynamic Partition Pruning demo — the RUNTIME partition pruner that
  * completes the engine's pruning trio: s10 proves STATIC pruning (a
  * literal day filter lists one partition), s13 proves runtime ROW
  * pruning (bloom semi-filter before the shuffle), and this proves
  * runtime PARTITION pruning: when a day-partitioned fact table joins a
  * dimension whose day set is only known at runtime (a filter on other
  * columns), Catalyst injects a `dynamicpruningexpression` into the fact
  * scan's PartitionFilters, so the scan lists ONLY the partitions the
  * joined day set can reach — at 100 TB the difference between scanning
  * a year and scanning the handful of matching days. With the dim side
  * broadcast, the pruning subquery REUSES the broadcast exchange, so the
  * filter is free (`reuseBroadcastOnly`, Spark's default posture).
  */
object DynamicPruning {

  /** Selectivity knobs for the runtime-derived day set: signup events
    * above this price are rare (~1% of rows), so the qualifying day set
    * is a strict subset of all days at every fixture SF.
    */
  val HotEventType = "signup"
  val HotValueMin = 190.0

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** events staged as day-partitioned parquet (the at-rest fact layout
    * s10 exports), memoized per source dir.
    */
  private def stagedFacts(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val out = Scratch.scratchDir("graft_s19_").toString
        Tables
          .events(spark, d)
          .withColumn("day", TimeCodec.dayInt(col("ts")))
          .write
          .partitionBy("day")
          .mode("overwrite")
          .parquet(out)
        out
      }
    )

  /** Join the day-partitioned facts with the runtime-derived hot-day
    * dimension and report integer/decimal-exact facets plus the in-plan
    * `dpp_pruned` assertion (oracle pins TRUE — losing the pruning
    * expression fails the hash gate, the s10/s13 discipline).
    */
  def demo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val facts = Tables.parquet(spark, stagedFacts(spark, dir))
    val hotDays = Tables
      .events(spark, dir)
      .filter(col("event_type") === HotEventType && col("value") > HotValueMin)
      .select(TimeCodec.dayInt(col("ts")).as("day"))
      .distinct()
    val joined = facts.join(broadcast(hotDays), Seq("day"))
    val agg = joined
      .agg(
        countDistinct(col("day")).as("n_days"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value")
      )
    // partition-value inference types `day` int on read-back; the
    // dynamicpruningexpression must sit in the fact scan's
    // PartitionFilters (visible in the plan text before execution)
    val plan = joined.queryExecution.executedPlan.toString
    val pruned = plan.contains("dynamicpruningexpression")
    agg.withColumn("dpp_pruned", lit(pruned))
  }
}
