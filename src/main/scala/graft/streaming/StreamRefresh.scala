package graft.streaming

import graft.ops.{FeatureOps, IvfKMeans, Tables, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** s34 — IVF index maintenance under drift: the piece of the ANN stack
  * s14 left static. s14 serves a codebook trained once before the
  * stream; a long-running embedding pipeline drifts away from it as new
  * content arrives, so the index needs the maintenance loop: per epoch,
  * re-center the codebook from a bounded reservoir of recent vectors and
  * measure how many assignments the refresh moved.
  *
  * Scale shape: the only things that ever reach the driver are the
  * bounded reservoir (the `TrainLimit` lowest vec_ids of the epoch —
  * TrainLimit·dim floats, the same bounded-collect contract as the IVF
  * build itself, `IvfKMeans.TrainLimit`) and 1-row per-epoch stat
  * aggregates; the per-vector data path is the s14 literal-argmax
  * (map-side, no shuffle, no join). Refresh semantics are RETAINED
  * Lloyd (`IvfKMeans.lloydStep(retain = true)`): cells the reservoir
  * touched take the quantized-integer mean, untouched cells keep
  * serving their old inverted list — an index refresh must not drop
  * cells the way the training recurrence does.
  *
  * The per-epoch ledger is epoch-keyed (put / computeIfAbsent — a
  * re-delivered epoch overwrites its own row and cannot double-advance
  * the codebook chain, the s33 idempotence discipline). The report is
  * exact and float-free: per epoch, vector count, arrival-census cell
  * count, reservoir-refreshed cell count, moved-assignment count and
  * drift in basis points, and the quantized codebook checksum (Σ
  * floor(cent·10⁶+½) over all cells — pins the exact final codebook
  * without comparing float strings). Oracle: the identical recurrence
  * unrolled as DuckDB CTEs (SimQueries.refreshLedgerSql).
  *
  * Reference anchor: the continuously fed analysis store of
  * `README.md:11` / `StrategyAnalyzerExporter.cs:168-233` — state that
  * must stay current as bars keep arriving — applied to the one graft
  * component whose state (the codebook) did not yet refresh.
  */
object StreamRefresh {

  /** Argmax cell over literal centroids — ties to the lowest cent_id via
    * the -cid struct field (the s14 stream-safe form).
    */
  private[streaming] def cellExpr(cents: Seq[(Long, Array[Double])]): Column =
    greatest(cents.map { case (cid, c) =>
      struct(
        FeatureOps.r6(VectorOps.dot(col("embedding"), typedLit(c.toSeq))).as("d"),
        lit(-cid).as("negid"),
        lit(cid).as("cid"))
    }: _*).getField("cid")

  /** Quantized codebook checksum — exact, order-free, no float compare. */
  private def qsum(cb: Seq[(Long, Array[Double])]): Long =
    cb.iterator.map(_._2.iterator.map(x => math.floor(x * 1e6 + 0.5).toLong).sum).sum

  def refreshLedger(outer: SparkSession, dir: String): DataFrame = {
    val s = StreamSessions.tuned(outer)
    val staged = StreamAssign.stageBatches(s, dir)
    val schema = Tables.parquet(s, s"$staged/0.parquet").schema
    val base = graft.ops.Scratch.scratchDir("graft_s34_")

    // initial codebook: trained pre-stream on the epoch-0 regime only
    // (seeds vec_id < K, Lloyd over vec_id ∈ [K, 250)) — the served
    // index that epoch 1's unseen slice will drift away from
    val cInit = IvfKMeans.codebookSeq(s, Tables.parquet(s, s"$staged/0.parquet"))

    // epoch-keyed chains: codebooks(e) = codebook SERVING epoch e;
    // computeIfAbsent keeps a retried epoch from double-advancing it
    val codebooks =
      new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Long, Array[Double])]]()
    codebooks.put(0L, cInit)
    val ledger =
      new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long, Long, Long)]()

    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("basePath", staged)
      .parquet(s"$staged/*.parquet")
      .filter(col("vec_id") >= IvfKMeans.K)
      .select("vec_id", "embedding")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        import s.implicits._
        val arrival = codebooks.get(epoch)
        // bounded reservoir: the TrainLimit lowest vec_ids of this epoch
        val reservoir = b.orderBy("vec_id").limit(IvfKMeans.TrainLimit.toInt)
        val sample: Array[Array[Float]] =
          reservoir.select("embedding").as[Array[Float]].collect()
        val next = IvfKMeans.lloydStep(sample, arrival, retain = true)
        codebooks.computeIfAbsent(epoch + 1, _ => next)
        // structural refresh census: cells the reservoir re-centered
        val nRefreshed = reservoir
          .select(cellExpr(arrival).as("c"))
          .agg(countDistinct(col("c")))
          .head().getLong(0)
        // one distributed pass over the epoch: arrival census + drift
        val r = b
          .select(cellExpr(arrival).as("ca"), cellExpr(next).as("cb"))
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("ca")).as("nc"),
            sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)).as("moved"))
          .head()
        ledger.put(epoch, (r.getLong(0), r.getLong(1), nRefreshed, r.getLong(2), qsum(next)))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    import scala.jdk.CollectionConverters._
    val eps = ledger.asScala.toMap
    require(eps.size == 2, s"s34 expected 2 epochs, got ${eps.size}")
    import s.implicits._
    eps.toSeq.sortBy(_._1)
      .map { case (e, (n, nc, refreshed, moved, cbq)) =>
        (e, n, nc, refreshed, moved, moved * 10000L / n, cbq)
      }
      .toDF("epoch", "n_vecs", "n_cells", "n_refreshed", "n_moved", "drift_bp", "cb_qsum")
      .orderBy("epoch")
  }
}
