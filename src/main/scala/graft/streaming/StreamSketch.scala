package graft.streaming

import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** s33 — streaming maintenance of the q144 mergeable quantile sketch.
  *
  * The mergeable-histogram property q144 proves for BATCH partial
  * aggregation is exactly what makes the sketch maintainable over a
  * stream: each micro-batch reduces map-side to its own ≤512-cell
  * partial histogram, and the running sketch is the cell-wise SUM of
  * the per-epoch partials — associative and order-independent, so a
  * 1000-executor streaming job ships sketch cells per epoch, never
  * rows. Here the staged two-file replay ([01].parquet — batches 0+1
  * partition `events` exactly once, the at-least-once replay slice is
  * s11/s17's story, not this one's) delivers one epoch per file; the
  * per-epoch partials land in an epoch-keyed ledger (idempotent under
  * foreachBatch retry — a re-delivered epoch overwrites its own cells,
  * never double-merges), and the final read-off + EXACT containment
  * audit reuse q144's kernels: the true order statistic (batch census)
  * must land inside the stream-maintained sketch's estimated bin.
  *
  * Reference anchor: the micro-batch queue + drain cadence of
  * `ExporterDatabaseManager.cs:19-106` — a bounded in-flight batch
  * reduced and committed per epoch — re-expressed as per-epoch sketch
  * partials.
  */
object StreamSketch {

  def streamedQuantileSketch(outer: SparkSession, dir: String): DataFrame = {
    val s = StreamSessions.tuned(outer)
    val staged = Watermarks.stageBatches(s, dir)
    val schema = Tables.parquet(s, s"$staged/0.parquet").schema
    val base = graft.ops.Scratch.scratchDir("graft_s33_")
    // epoch -> (bin -> count): per-epoch partial sketches. putIfAbsent
    // semantics via put-on-epoch-key keeps a retried epoch idempotent.
    val partials =
      new java.util.concurrent.ConcurrentHashMap[Long, Map[Long, Long]]()
    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("basePath", staged)
      .parquet(s"$staged/[01].parquet")
      .select(expr("CAST(floor(value * 100) AS BIGINT) div 100").as("bin"))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        val cells = b
          .groupBy("bin")
          .agg(count(lit(1)).as("cnt"))
          .collect() // ≤512 sketch cells — the bounded-collect contract
          .map(r => r.getLong(0) -> r.getLong(1))
          .toMap
        partials.put(epoch, cells)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    import scala.jdk.CollectionConverters._
    val eps = partials.asScala.toMap
    require(eps.size == 2, s"s33 expected 2 epochs, got ${eps.size}")
    // the associative cell-wise merge — THE mergeable-sketch operation
    val merged: Map[Long, Long] =
      eps.values.flatten.groupMapReduce(_._1)(_._2)(_ + _)

    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cumB = merged.toSeq.sortBy(_._1).toDF("bin", "cnt")
      .withColumn(
        "cum",
        sum(col("cnt")).over(
          Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bin"), col("cum"))
    val tot = merged.values.sum
    val ks = Seq(50, 90, 99).toDF("p")
      .withColumn("k", expr(s"(p * CAST($tot AS BIGINT) + 99) div 100"))
      .select(col("p").cast("long").as("p"), col("k"))
    val est = ks
      .join(broadcast(cumB), col("cum") >= col("k"))
      .groupBy("p", "k")
      .agg(min(col("bin")).as("est_bin"))
    // exact audit side: the batch distinct-cents census (q144's true
    // order statistic) — the stream-maintained sketch must contain it
    val cumV = Tables
      .events(s, dir)
      .select(expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      .groupBy("v")
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "cum",
        sum(col("cnt")).over(
          Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("v"), col("cum"))
    val tru = ks
      .select(col("p").as("tp"), col("k").as("tk"))
      .join(cumV, col("cum") >= col("tk"))
      .groupBy("tp")
      .agg(min(col("v")).as("true_cents"))
    est
      .join(tru, col("p") === col("tp"))
      .select(
        col("p"), col("k"),
        (col("est_bin") * 100L).as("est_lo_cents"),
        col("true_cents"),
        (col("true_cents") - col("est_bin") * 100L).as("err_cents"),
        (expr("true_cents div 100") === col("est_bin")).as("contained"),
        lit(2L).as("n_epochs"))
      .orderBy("p")
  }
}
