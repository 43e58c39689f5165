package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import scala.reflect.ClassTag

/** Bucketed co-located join — the shuffle-elimination path for repeated
  * big⋈big joins (SURVEY.md §4: "bucketing for co-located joins"). Both
  * sides are written bucketed+sorted on the join key; the sort-merge join
  * then reads bucket-aligned files with NO exchange on either side — at
  * 100 TB this turns the dominant repeated shuffle into a one-time write
  * cost.
  */
object BucketedJoin {

  /** Memoized bucketed-table staging per source dir: the bucketed WRITE
    * is the op's declared ONE-TIME index-build cost ("turns the dominant
    * repeated shuffle into a one-time write"), so repeated demo
    * invocations in one JVM reuse the tables and measure what repeats at
    * scale — the exchange-free join.
    */
  private val staged = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Structural count of `T` nodes in a plan — collected from the
    * physical plan, NOT a substring match on the rendered plan text,
    * which would also count look-alikes (ReusedExchange and
    * BroadcastExchange for a shuffle) and track AQE's string format
    * across Spark versions. QueryStageExec is ALSO a leaf wrapper: a
    * plan inspected after AQE has materialized stages hides the stage
    * plans behind it, so both adaptive wrappers are unwrapped.
    */
  private def countNodes[T <: SparkPlan](df: DataFrame)(implicit t: ClassTag[T]): Long = {
    def walk(p: SparkPlan): Long =
      p.collect {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case n if t.runtimeClass.isInstance(n) => 1L
      }.sum
    walk(df.queryExecution.executedPlan)
  }

  /** Structural shuffle count (`ShuffleExchangeExec` nodes) — q209/q211's
    * measured zero-exchange claims.
    */
  def countShuffles(df: DataFrame): Long = countNodes[ShuffleExchangeExec](df)

  /** Structural count of broadcast hash joins — q216's plan audit. */
  def countBroadcastHashJoins(df: DataFrame): Long = countNodes[BroadcastHashJoinExec](df)

  /** Structural count of sort-merge joins — q226's split-join audit
    * (one BroadcastHashJoin for the hot-key slice + one SortMergeJoin
    * for the remainder).
    */
  def countSortMergeJoins(df: DataFrame): Long = countNodes[SortMergeJoinExec](df)

  /** Structural count of Generate (explode) nodes — q218's plan audit:
    * the salted join's small-side replication is an explode, so a plan
    * that chose the salted path carries exactly one GenerateExec and the
    * plain path zero.
    */
  def countGenerates(df: DataFrame): Long = countNodes[GenerateExec](df)

  /** Write lineitem/orders bucketed by order key (once per JVM+dir), join
    * co-located, and report (row count, revenue, whether any shuffle
    * appeared on the join inputs). Broadcast is disabled for the demo so
    * the plan genuinely exercises the bucket path; the conf is restored
    * afterwards.
    */
  def demo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (li, ord) = staged.compute(
      dir,
      (_, prev) => {
        if (
          prev != null && spark.catalog.tableExists(prev._1) && spark.catalog.tableExists(prev._2)
        ) prev
        else {
          val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
          val base = Scratch.scratchDir("graft_s08_").toString
          val liN = s"li_b_$suffix"
          val ordN = s"o_b_$suffix"
          Tables
            .lineitem(spark, dir)
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .write
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", s"$base/li")
            .saveAsTable(liN)
          Tables
            .orders(spark, dir)
            .select("o_orderkey", "o_orderstatus")
            .write
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", s"$base/o")
            .saveAsTable(ordN)
          (liN, ordN)
        }
      }
    )

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = spark
        .table(li)
        .join(spark.table(ord), col("l_orderkey") === col("o_orderkey"))
      // inspect the JOIN plan (pre-aggregation): bucketed sides must join
      // with zero exchanges; the tiny global agg below shuffles by design
      val shuffles = joined.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      val Array(row) = joined
        .agg(
          count(lit(1)).as("n_rows"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .as("revenue")
        )
        .collect()
      Seq((row.getLong(0), row.getDouble(1), shuffles.isEmpty))
        .toDF("n_rows", "revenue", "join_without_shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      // tables stay registered for reuse (see `staged`) — the warehouse
      // dirs are temp-dir scoped and die with the JVM's /tmp
    }
  }
}
