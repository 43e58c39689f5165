package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session sizing for streaming queries.
  *
  * A streaming query's state-store partition count is fixed for the life of
  * the query from `spark.sql.shuffle.partitions` at start (AQE cannot
  * re-plan a stateful stream), so real streaming deployments size that knob
  * explicitly to expected state volume rather than inheriting the batch
  * default. The demo replays here carry ~1e4-1e5 rows per epoch; running
  * their stateful shuffles at the full core count (32) makes every epoch pay
  * 32 state-store commits for a handful of keys. A derived session pins a
  * proportionate partition count without disturbing the batch session.
  */
object StreamSessions {

  private val Partitions = 8

  /** A derived session (see `graft.GraftSession.derive`) with
    * streaming-appropriate shuffle/state partitioning, plus `confs`. The
    * partition count never RAISES above the parent's: a derived session
    * exists to downsize state-store parallelism, not to add commit
    * overhead on small runs.
    */
  def tuned(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val parentParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    graft.GraftSession.derive(spark,
      ("spark.sql.shuffle.partitions" -> math.min(Partitions, parentParts).toString) +: confs: _*)
  }

  /** Settle a streaming demo's FINAL result driver-locally and release the
    * streaming machinery: collect the (small, already-ordered) output into
    * a LocalRelation, drop the memory-sink temp view and forget terminated
    * queries. Without this, each demo's in-memory sink — e.g. s11's full
    * deduped event stream, ~1e5 rows at sf0.1 — stays reachable from the
    * sub-session for the rest of the JVM, and a long bench suite
    * accumulates every sink from every run. Settled outputs are bounded
    * (≤ a few thousand rows) by construction; the big intermediate state
    * lives only for the query's lifetime.
    */
  def settleLocal(spark: SparkSession, sinkName: String, result: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = result.collect().toSeq
    val schema = result.schema
    spark.catalog.dropTempView(sinkName)
    spark.streams.resetTerminated()
    spark.createDataFrame(rows.asJava, schema)
  }
}
