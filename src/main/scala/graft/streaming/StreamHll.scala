package graft.streaming

import graft.ops.{Hashing, Hll, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** s36 — streaming maintenance of q170's exact-integer HLL registers:
  * the third mergeable-sketch demo (s33 summed histogram cells; this
  * one MAXes registers — the other associative merge a streaming sketch
  * pipeline needs). Each micro-batch reduces map-side to its own ≤64
  * (bucket, max rank) register partial; the running sketch is the
  * register-wise MAX over an epoch-keyed ledger (idempotent under
  * foreachBatch retry — a re-delivered epoch overwrites its own
  * registers, and max-merge makes even a double-merge harmless, the
  * idempotence s33's sums had to buy with the ledger alone). The final
  * read-off reuses the q170 kernel (integer harmonic sum + DECIMAL
  * estimate) and the oracle recomputes the registers from scratch over
  * the full corpus — stream-maintained ≡ batch, the q170 merge audit
  * exercised across epochs instead of halves. Per epoch a
  * 1000-executor job ships 64 registers to the driver, never rows.
  *
  * Reference anchor: the bounded micro-batch drain cadence of
  * `ExporterDatabaseManager.cs:19-106`, re-expressed as per-epoch
  * register partials.
  */
object StreamHll {

  def streamedHllRegisters(outer: SparkSession, dir: String): DataFrame = {
    val s = StreamSessions.tuned(outer)
    val staged = Watermarks.stageDocBatches(s, dir)
    val schema = Tables.parquet(s, s"$staged/0.parquet").schema
    val base = graft.ops.Scratch.scratchDir("graft_s36_")
    // epoch -> (bucket -> max rank): per-epoch register partials
    val partials =
      new java.util.concurrent.ConcurrentHashMap[Long, Map[Long, Long]]()
    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("basePath", staged)
      .parquet(s"$staged/[01].parquet")
      .select(Hashing.h60(col("text")).as("h"))
      .select(Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        val regs = b
          .groupBy("bucket")
          .agg(max("rk").as("mr"))
          .collect() // ≤64 registers — the bounded-collect contract
          .map(r => r.getLong(0) -> r.getLong(1))
          .toMap
        partials.put(epoch, regs)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    import scala.jdk.CollectionConverters._
    val eps = partials.asScala.toMap
    require(eps.size == 2, s"s36 expected 2 epochs, got ${eps.size}")
    // the register-wise MAX — the associative HLL merge
    val merged: Map[Long, Long] =
      eps.values.flatten.groupMapReduce(_._1)(_._2)(math.max)

    import s.implicits._
    val rw = merged.toSeq.sortBy(_._1).toDF("bucket", "mr")
    val n = Tables.documents(s, dir).agg(countDistinct(col("text")).as("n_exact"))
    Hll
      .harmonic(rw)
      .crossJoin(broadcast(n))
      .select(
        lit(Hll.M.toLong).as("m"),
        col("n_exact"),
        Hll.estimate.as("est_distinct"),
        col("n_regs").as("n_registers_used"))
      .withColumn("err_bp", expr("abs(est_distinct - n_exact) * 10000 div n_exact"))
      .withColumn("within_3sigma", col("err_bp") <= 3900L)
      .withColumn("n_epochs", lit(2L))
      .select(
        col("m"), col("n_exact"), col("est_distinct"), col("err_bp"),
        col("within_3sigma"), col("n_registers_used"), col("n_epochs"))
      .orderBy("m")
  }

  /** s70 — the q212 stat table maintained INCREMENTALLY by a stream:
    * each ingest epoch appends its own ≤64 (bucket, max-rank) register
    * rows into the long-form col_ndv table (keyed by the epoch's
    * synthetic file id), and the PLANNER answers "distinct texts seen
    * so far" after EVERY epoch by merging the table's rows — history is
    * never rescanned for stats, the 100 TB freshness property (stats
    * ride the ingest; a maintenance rescan would cost a corpus pass per
    * epoch). s36 proved streamed registers ≡ batch at the END; this
    * persists them through the log layer and audits the planner read at
    * every step. Per epoch, in-hash:
    *
    *   - n_stat_rows: the table's row count for the epochs so far
    *     (Σ per-epoch register-set sizes — O(64·epochs) metadata);
    *   - est vs the exact cumulative distinct (the audit layer's only
    *     corpus-sized work), abs err in bp;
    *   - regs_match: the table-merged registers must EQUAL the direct
    *     census over everything ingested so far — the merge property
    *     holding per epoch, through persistence.
    *
    * Oracle: identical per-step math over cumulative doc_id slices
    * (doc_id < 250 is epoch 0 — the stageDocBatches split).
    */
  def streamedNdvMaintenance(outer: SparkSession, dir: String): DataFrame = {
    import graft.sinks.TableLog
    val s = StreamSessions.tuned(outer)
    val staged = Watermarks.stageDocBatches(s, dir)
    val schema = Tables.parquet(s, s"$staged/0.parquet").schema
    val base = graft.ops.Scratch.scratchDir("graft_s70_")

    val dbFile = s"$base/stats.duckdb"
    TableLog.init(dbFile)
    val results = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Long, Long, Long, Long, Boolean)]()
    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("basePath", staged)
      .parquet(s"$staged/[01].parquet")
      .select(col("doc_id"), col("text"))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        val batch = b.persist()
        val nDocs = batch.count()
        val cells = batch
          .select(Hashing.h60(col("text")).as("h"))
          .select(Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
          .groupBy("bucket").agg(max("rk").as("mr"))
          .collect() // ≤64 register cells — the epoch's stats append
          .map(r => (s"epoch$epoch", "text", r.getLong(0), r.getLong(1)))
        TableLog.recordColNdv(dbFile, cells.toSeq)
        // the planner read: cumulative merge out of the stat table
        val paths = (0L to epoch).map(e => s"epoch$e")
        val merged = TableLog.colNdvRegisters(dbFile, paths, "text")
        val est = Hll.estimateInt(merged)
        val nStat = TableLog.statRowCount(dbFile, "col_ndv", paths, "text")
        // audit layer: exact + direct census over everything so far
        val cum = Tables.parquet(s, (0L to epoch).map(e => s"$staged/$e.parquet"): _*)
        val exact = cum.agg(countDistinct(col("text"))).head().getLong(0)
        val direct = Hll.registerCensus(cum, col("text"))
        results.computeIfAbsent(
          epoch,
          _ => (nDocs, nStat, est, exact,
            math.abs(est - exact) * 10000L / exact, merged == direct))
        batch.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    require(results.size() == 2, s"s70 expected 2 epochs, got ${results.size()}")
    import outer.implicits._
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq.sortBy(_._1)
      .map { case (epoch, (n, st, est, ex, err, rm)) =>
        (epoch + 1L, n, st, est, ex, err, rm, true)
      }
      .toDF("step", "n_docs", "n_stat_rows", "est_ndv", "exact_ndv",
        "err_bp", "regs_match", "live_stats")
      .orderBy("step")
  }
}
