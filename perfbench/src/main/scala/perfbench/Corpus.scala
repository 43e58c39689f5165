package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a hash of (seed, row id, column
  * tag), so a seed always yields the same rows whatever the partitioning,
  * and two seeds yield corpora of the same size and shape.
  *
  * The base `events` table has the shape of the sf0.1 fixture: 100 000
  * events of 1 500 series over January 2024, with timestamps strictly
  * increasing in `event_id` (so `ts` is unique per series, which the bar
  * pipeline's open/close tie-break relies on).
  *
  * `widen` copies the base table with each copy's `user_id` and `event_id`
  * shifted past the previous copy's, so every copy yields exactly the base
  * table's features under its own series ids; `replicate` does the same
  * for any table. The seed also decides which file each row lands in and
  * the row order inside it; neither changes a folded-back result.
  */
object Corpus {
  val BaseEvents: Long = 100000L
  val BaseUsers: Long = 1500L
  private val Start = java.time.Instant.parse("2024-01-01T00:00:00Z")
  private val SpanMicros = 30L * 24 * 3600 * 1000000L

  /** Uniform non-negative long from (seed, id, tag). */
  private def h(seed: Long, id: Column, tag: Int): Column =
    pmod(xxhash64(lit(seed), id, lit(tag)), lit(Long.MaxValue))

  /** Uniform double in [0, 1). */
  private def u(seed: Long, id: Column, tag: Int): Column =
    (h(seed, id, tag) % lit(1L << 30)).cast("double") / lit((1L << 30).toDouble)

  def events(spark: SparkSession, seed: Long, n: Long = BaseEvents, users: Long = BaseUsers): DataFrame = {
    val id = col("id")
    val step = SpanMicros / n
    val startMicros = Start.getEpochSecond * 1000000L
    val types = array(Seq("click", "purchase", "error", "signup", "view").map(lit): _*)
    spark
      .range(n)
      .select(
        id.as("event_id"),
        timestamp_micros(lit(startMicros) + id * lit(step) + h(seed, id, 1) % lit(step)).as("ts"),
        (h(seed, id, 2) % lit(users)).as("user_id"),
        element_at(types, (h(seed, id, 3) % lit(5L)).cast("int") + lit(1)).as("event_type"),
        // heavy-tailed price-like values, two decimals
        round(-log(lit(1.0) - u(seed, id, 4)) * lit(60.0), 2).as("value"),
        concat(lit("{\"k\": "), (h(seed, id, 5) % lit(100L)).cast("string"), lit("}")).as("props")
      )
  }

  /** `copies` copies of `df`, copy k with each column in `shifts` moved by
    * k times its step, placed over `files` files by a seeded hash of the
    * row and shuffled inside each file. Rows must be distinct.
    */
  def replicate(df: DataFrame, seed: Long, copies: Int, shifts: Seq[(String, Long)], files: Int): DataFrame = {
    val k = col("copy")
    val shifted = shifts
      .foldLeft(df.crossJoin(broadcast(df.sparkSession.range(copies).select(col("id").as("copy"))))) {
        case (d, (c, step)) => d.withColumn(c, col(c) + k * lit(step))
      }
      .drop("copy")
    val row = shifted.columns.map(col).toSeq
    shifted
      .repartition(files, xxhash64(lit(seed) +: row: _*))
      .sortWithinPartitions(xxhash64(lit(seed + 1) +: row: _*))
  }

  /** Events widened by user-shifted copies: copy k holds the base series
    * under ids shifted by k * users, and its own event ids.
    */
  def widen(base: DataFrame, seed: Long, copies: Int, users: Long, rows: Long, files: Int): DataFrame =
    replicate(base, seed, copies, Seq("user_id" -> users, "event_id" -> rows), files)

  /** Writes `df` as parquet to `dir` (replacing it) and returns the path. */
  def write(df: DataFrame, dir: String): String = {
    df.write.mode("overwrite").parquet(dir)
    dir
  }
}
