package graft.streaming

import graft.ops.{FeatureOps, IvfKMeans, Tables, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** s38 — continuous recall monitoring of the SERVED index under
  * refresh: the evaluation loop a production ANN deployment runs next
  * to s34's maintenance loop. q174 measures recall once, offline; a
  * long-running index drifts, so the deploy needs the per-epoch number:
  * for each arriving epoch, the recall of cell-restricted search under
  * the codebook CURRENTLY SERVING that epoch (s34's refresh chain —
  * epoch 0 serves the pre-stream-trained codebook, epoch e+1 serves the
  * retained-Lloyd refresh from epoch e's reservoir) against the exact
  * within-epoch top-k for a fixed 20-probe evaluation set.
  *
  * Scale shape: the probe set (20·dim floats) and every codebook (K·dim
  * doubles) are driver-held index metadata; the per-epoch distributed
  * work is one map-side assignment + cosine pass over the batch and two
  * salted two-level top-ks (SimQueries.saltedTopK — no window partition
  * is ever epoch-sized); the driver sees the bounded reservoir and a
  * 20-cell recall frame per epoch. Probe cells are computed DRIVER-SIDE
  * from the codebook (the q67 FAISS-style query-prep discipline) — no
  * job runs to route a probe. The epoch ledger is computeIfAbsent-keyed
  * (the s34 double-advance guard).
  *
  * In-hash: per epoch, n_vecs, the probe count, and mean/min recall bp
  * — a refresh that degrades the served index, a codebook chain that
  * double-advances, or an assignment drift moves these integers.
  * Oracle: the identical recurrence + per-epoch recall unrolled as
  * DuckDB CTEs over SimQueries.refreshCtes.
  *
  * Reference anchor: `StrategyAnalyzerExporter.cs:234-246` — the
  * telemetry the reference emits ALONGSIDE its continuously maintained
  * store, applied to the index-quality metric an ANN serving stack
  * telemeters.
  */
object StreamRecall {

  private val P = 2
  private val KTop = 10

  def recallLedger(outer: SparkSession, dir: String): DataFrame = {
    val s = StreamSessions.tuned(outer)
    val staged = StreamAssign.stageBatches(s, dir)
    val schema = Tables.parquet(s, s"$staged/0.parquet").schema
    val base = graft.ops.Scratch.scratchDir("graft_s38_")
    import s.implicits._

    // the fixed evaluation probes (q174's set): 20·dim floats of
    // driver-held eval metadata, collected once pre-stream
    val probeRows: Seq[(Long, Array[Float])] = Tables
      .embeddings(s, dir)
      .filter(col("vec_id") >= 100 && col("vec_id") < 120)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
      .toSeq
    val probeDf = probeRows
      .map { case (id, v) => (id, v.toSeq) }
      .toDF("pid", "p")
      .select(col("pid"), col("p").cast("array<float>").as("p"))

    // serving-codebook chain: epoch 0 serves the pre-stream-trained
    // codebook; epoch e+1 serves epoch e's retained refresh (s34)
    val cInit = IvfKMeans.codebookSeq(s, Tables.parquet(s, s"$staged/0.parquet"))
    val codebooks =
      new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Long, Array[Double])]]()
    codebooks.put(0L, cInit)
    val ledger =
      new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long, Long)]()

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
        val serving = codebooks.get(epoch)
        // probe routing is driver-side arithmetic over the codebook —
        // top-P cells by the shared r6(dot) kernel, ties to lowest id
        val probeCells: Seq[(Long, Long)] = probeRows.flatMap { case (pid, p) =>
          serving
            .map { case (cid, c) => (IvfKMeans.r6d(IvfKMeans.dotD(p, c)), cid) }
            .sortBy { case (d, cid) => (-d, cid) }
            .take(P)
            .map { case (_, cid) => (pid, cid) }
        }
        val pcellDf = probeCells.toDF("c_pid", "c_cell")

        val scoredAll = b
          .withColumn("cell", StreamRefresh.cellExpr(serving))
          .crossJoin(broadcast(probeDf))
          .filter(col("vec_id") =!= col("pid"))
          .withColumn("cos", FeatureOps.r6(VectorOps.cosine(col("embedding"), col("p"))))
        val exact = graft.queries.SimQueries
          .saltedTopK(scoredAll.select(col("pid"), col("vec_id"), col("cos")), KTop)
        val approx = graft.queries.SimQueries
          .saltedTopK(
            scoredAll
              .join(
                broadcast(pcellDf),
                col("pid") === col("c_pid") && col("cell") === col("c_cell"))
              .select(col("pid"), col("vec_id"), col("cos")),
            KTop)
          .select(col("e_pid").as("a_pid"), col("e_vid").as("a_vid"))
        val rp = graft.queries.SimQueries
          .recallBp(exact, approx, KTop)
          .agg(
            count(lit(1)).as("np"),
            expr("sum(recall_bp) div count(1)").as("mean_bp"),
            min(col("recall_bp")).as("min_bp"))
          .head() // 1-row recall frame — the epoch's telemetry
        val n = b.count()
        ledger.put(epoch, (n, rp.getLong(0), rp.getLong(1), rp.getLong(2)))

        // advance the serving chain exactly like s34 (retained Lloyd
        // over the epoch's bounded reservoir)
        val sample: Array[Array[Float]] = b
          .orderBy("vec_id")
          .limit(IvfKMeans.TrainLimit.toInt)
          .select("embedding")
          .as[Array[Float]]
          .collect()
        codebooks.computeIfAbsent(epoch + 1, _ => IvfKMeans.lloydStep(sample, serving, retain = true))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    import scala.jdk.CollectionConverters._
    val eps = ledger.asScala.toMap
    require(eps.size == 2, s"s38 expected 2 epochs, got ${eps.size}")
    eps.toSeq.sortBy(_._1)
      .map { case (e, (n, np, mean, mn)) => (e, n, np, mean, mn) }
      .toDF("epoch", "n_vecs", "n_probes", "mean_recall_bp", "min_recall_bp")
      .orderBy("epoch")
  }
}
