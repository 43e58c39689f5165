package graft.streaming

import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** s59 — streaming DATA-QUALITY monitor: q193's curation gates evaluated
  * per ingest epoch, with a keep-rate floor that raises a breach flag the
  * moment a batch's quality collapses — the guardrail a production ingest
  * runs BESIDE the pipeline (a crawler that starts delivering boilerplate
  * should page someone at the batch that did it, not after the corpus is
  * poisoned). The monitor is the streaming face of the q193/q198 family:
  *
  *   - gates per doc, all map-side inside the epoch: language → length
  *     (40-90 words) → repetition (distinct-word ratio ≥ 40%) → q187's
  *     hashing-trick classifier (logit ≥ 0, the integer aggregate() HOF
  *     — no explode). The cross-doc DEDUP gate is deliberately absent:
  *     it needs cross-epoch state and is owned by s11/s12/s17; a
  *     monitor must stay stateless per batch to be cheap;
  *   - per epoch: survivor counts down the chain, keep rate in bp, and
  *     breach = keep_bp < KeepFloorBp (500 — measured to be LIVE: the
  *     doc_id<250 epoch keeps 480 bp at sf0.01 and trips it; the same
  *     epoch keeps 600/720 bp at sf0.001/sf0.1 and doesn't — the flag
  *     moves with data, it is not a constant);
  *   - results land in an epoch-keyed map via computeIfAbsent (the s34
  *     double-advance guard): a re-delivered epoch re-computes the same
  *     census and cannot double-record.
  *
  * Scale shape: per-epoch work is one map-side pass over the batch +
  * a single partial-agg census; driver traffic per epoch is ONE row of
  * gate counts. Nothing carried between epochs, nothing grows with the
  * corpus.
  *
  * Oracle: the identical gate arithmetic per epoch slice (doc_id < 250
  * is epoch 0 — the stageDocBatches split), stream ≡ batch under
  * AvailableNow.
  */
object StreamQuality {

  /** Alert floor in basis points: a batch keeping less trips the flag. */
  val KeepFloorBp = 500L

  /** s68's integer decay fold at an explicit keep ratio:
    * floor(prev·num/den) + epoch count. Decay of an empty history is
    * exactly 0 at ANY ratio, so a warm-start epoch 0 fits the SAME
    * table as a cold fit — the continuity property WarmStartSpec pins.
    * Integer-only (floor division on non-negative counts) so the
    * oracle replays it verbatim.
    */
  def decayFoldBy(prev: Long, epoch: Long, keepNum: Long, keepDen: Long): Long =
    prev * keepNum / keepDen + epoch

  /** PER-LABEL decay budgets (r18 verdict: one global floor(c·7/8)
    * decays positives and negatives at the same rate — wrong for the
    * imbalanced streams quality monitors actually see). The keep ratio
    * IS a memory budget: steady-state accumulated count ≈ c·den/(den −
    * num) epochs of evidence. The RARE positive seed label gets the
    * long memory (15/16 → ~16 epochs) so scarce positive evidence
    * isn't washed out at the abundant label's rate; the abundant
    * negative label gets the short one (3/4 → ~4 epochs) so the table
    * tracks recent negatives instead of a stale majority class.
    */
  val PosKeepNum = 15L
  val PosKeepDen = 16L
  val NegKeepNum = 3L
  val NegKeepDen = 4L

  def decayFoldPos(prev: Long, epoch: Long): Long =
    decayFoldBy(prev, epoch, PosKeepNum, PosKeepDen)

  def decayFoldNeg(prev: Long, epoch: Long): Long =
    decayFoldBy(prev, epoch, NegKeepNum, NegKeepDen)

  /** q189's Laplace per-mille weight from label-conditional counts —
    * the one rendering of the trainer formula shared by the cold (s66)
    * and warm-start (s68) monitors.
    */
  def laplaceWeight(pos: Long, neg: Long): Long =
    ((pos + 1L) * 1000L) / (pos + neg + 2L) - 500L

  def streamQualityMonitor(outer: SparkSession, dir: String): DataFrame = {
    val s = StreamSessions.tuned(outer)
    val staged = Watermarks.stageDocBatches(s, dir)
    val schema = Tables.parquet(s, s"$staged/0.parquet").schema
    val base = graft.ops.Scratch.scratchDir("graft_s59_")

    val results =
      new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long, Long, Long)]()

    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("basePath", staged)
      .parquet(s"$staged/[01].parquet")
      .select(col("doc_id"), col("lang"), col("text"))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        val ws = split(col("text"), " ")
        val r = b
          .select(
            col("lang"),
            size(ws).cast("long").as("nw"),
            size(array_distinct(ws)).cast("long").as("ndw"),
            aggregate(
              transform(ws, w => {
                val bb = pmod(conv(substring(md5(w), 1, 15), 16, 10).cast("long"), lit(64L))
                (bb * bb * 31L + bb * 7L) % 21L - 10L
              }),
              lit(0L), (acc, x) => acc + x).as("logit"))
          .withColumn("f_lang", col("lang") === "en")
          .withColumn("f_len", col("f_lang") && col("nw").between(40L, 90L))
          .withColumn("f_rep", col("f_len") && col("ndw") * 100L >= col("nw") * 40L)
          .withColumn("f_keep", col("f_rep") && col("logit") >= 0L)
          .agg(
            count(lit(1)),
            sum(when(col("f_lang"), 1L).otherwise(0L)),
            sum(when(col("f_len"), 1L).otherwise(0L)),
            sum(when(col("f_rep"), 1L).otherwise(0L)),
            sum(when(col("f_keep"), 1L).otherwise(0L)))
          .head()
        results.computeIfAbsent(
          epoch,
          _ => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    require(results.size() == 2, s"s59 expected 2 epochs, got ${results.size()}")
    import outer.implicits._
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq.sortBy(_._1)
      .map { case (epoch, (n, nl, nle, nr, nk)) =>
        val bp = nk * 10000L / n
        (epoch, n, nl, nle, nr, nk, bp, bp < KeepFloorBp)
      }
      .toDF("epoch", "n_docs", "n_lang", "n_len", "n_rep", "n_keep",
        "keep_bp", "breach")
      .orderBy("epoch")
  }

  /** s66 — streaming classifier DRIFT monitor: q189's trainer RE-FIT
    * per ingest epoch with the weight-table delta surfaced as the
    * drift signal — the s34 retained-refresh discipline applied to the
    * DCLM quality filter (a crawler whose content distribution shifts
    * moves the label-conditional slot censuses; the monitor pages on
    * Σ|Δwt| and sign flips BEFORE downstream keep-rates drift). Per
    * epoch, all inside `foreachBatch`:
    *
    *   - TRAIN on the epoch's provenance-labeled seed slice (sources
    *     0-3 positive, 16-19 negative — q189's recipe verbatim): one
    *     explode → 64-slot label-conditional census (partial-agg,
    *     bounded ≤64-row collect — model metadata), the Laplace
    *     per-mille weight formula, unseen slots exactly 0;
    *   - DRIFT vs the previous epoch's table (epoch 0 diffs against
    *     the all-zero table, so its delta_abs ≡ wt_abs): Σ|Δwt|,
    *     strict sign flips, plus q189's two table checksums
    *     (Σ wt·(b+1), Σ|wt|) so the oracle must reproduce every epoch's
    *     trainer slot-for-slot;
    *   - APPLY the epoch's own table to the epoch's docs (the learned
    *     array riding the expression — q187's no-join shape) for the
    *     calibration keep_bp at threshold 0.
    *
    * Sequential epochs are guaranteed by AvailableNow +
    * maxFilesPerTrigger=1 (the prev-table handoff is a driver var);
    * results land via computeIfAbsent (the s34 double-advance guard).
    *
    * Scale shape: per-epoch work is one explode → 64-key partial-agg
    * census + one apply pass over the batch; cross-epoch state is the
    * 64-long weight array — model metadata, never rows. Oracle: the
    * identical trainer + drift + apply arithmetic per doc_id epoch
    * slice, stream ≡ batch under AvailableNow.
    */
  def classifierDriftMonitor(outer: SparkSession, dir: String): DataFrame = {
    import graft.ops.Hashing
    val s = StreamSessions.tuned(outer)
    val staged = Watermarks.stageDocBatches(s, dir)
    val schema = Tables.parquet(s, s"$staged/0.parquet").schema
    val base = graft.ops.Scratch.scratchDir("graft_s66_")

    val results = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Long, Long, Long, Long, Long, Long, Long)]()
    @volatile var prevWt = Array.fill(64)(0L)

    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("basePath", staged)
      .parquet(s"$staged/[01].parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        val batch = b.persist()
        val ws = Hashing.words(col("text"))
        val census = batch
          .select(
            expr("CAST(substring(source, 4) AS BIGINT)").as("sn"),
            explode(ws).as("w"))
          .filter(col("sn") < 4L || col("sn") >= 16L)
          .select(col("sn"), pmod(Hashing.h60(col("w")), lit(64L)).as("b"))
          .groupBy("b")
          .agg(
            sum(when(col("sn") < 4L, lit(1L)).otherwise(lit(0L))).as("pos_c"),
            sum(when(col("sn") >= 16L, lit(1L)).otherwise(lit(0L))).as("neg_c"))
          .collect() // ≤64 slot cells — model metadata
        val wt = Array.fill(64)(0L)
        var nPos = 0L
        var nNeg = 0L
        census.foreach { r =>
          val (slot, p, n) = (r.getLong(0).toInt, r.getLong(1), r.getLong(2))
          wt(slot) = laplaceWeight(p, n)
          nPos += p; nNeg += n
        }
        val deltaAbs = wt.indices.map(i => math.abs(wt(i) - prevWt(i)).toLong).sum
        val flips = wt.indices.count(i =>
          (wt(i) > 0L && prevWt(i) < 0L) || (wt(i) < 0L && prevWt(i) > 0L)).toLong
        val wtAbs = wt.map(math.abs).sum
        val wtDot = wt.zipWithIndex.map { case (w, i) => w * (i + 1) }.sum
        val slot1 = (pmod(Hashing.h60(col("w")), lit(64L)) + 1L).cast("int")
        val kp = batch
          .select(col("doc_id"), explode(ws).as("w"))
          .select(col("doc_id"), element_at(lit(wt), slot1).as("wtv"))
          .groupBy("doc_id")
          .agg(sum(col("wtv")).as("logit"))
          .agg(
            count(lit(1)),
            sum(when(col("logit") >= 0L, 1L).otherwise(0L)))
          .head()
        results.computeIfAbsent(
          epoch,
          _ => (kp.getLong(0), nPos, nNeg, wtAbs, wtDot, deltaAbs, flips, kp.getLong(1)))
        prevWt = wt
        batch.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    require(results.size() == 2, s"s66 expected 2 epochs, got ${results.size()}")
    import outer.implicits._
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq.sortBy(_._1)
      .map { case (epoch, (n, np, nn, wa, wd, da, fl, nk)) =>
        (epoch + 1L, n, np, nn, wa, wd, da, fl, nk * 10000L / n, true)
      }
      .toDF("step", "n_docs", "n_seed_pos", "n_seed_neg", "wt_abs",
        "wt_dot", "delta_abs", "n_sign_flips", "keep_bp", "monitor_ok")
      .orderBy("step")
  }

  /** s68 — WARM-START classifier drift monitor: s66 re-fits each epoch
    * from scratch, so one epoch's content swing rewrites the whole
    * table; the production monitor folds the PREVIOUS label-conditional
    * censuses in with decayed counts before fitting — different drift
    * SEMANTICS (sign flips become rarer, drift decays smoothly instead
    * of resetting), one census away from s66. Per epoch:
    *
    *   - the same 64-slot label-conditional census as s66 (one explode
    *     → partial agg → ≤64-row collect, model metadata);
    *   - the FOLD, PER LABEL: acc_slot = floor(prev_acc · keep) +
    *     epoch_count with per-label keep budgets (decayFoldPos 15/16,
    *     decayFoldNeg 3/4 — the rare positive label keeps ~16 epochs
    *     of memory, the abundant negative ~4; integer-only so the
    *     oracle replays both rates verbatim; an empty history decays
    *     to exactly 0 at any rate, so epoch 0's table ≡ the cold fit —
    *     the continuity property WarmStartSpec pins per label);
    *   - the fit on ACCUMULATED counts (laplaceWeight — q189's exact
    *     formula over the folded censuses), drift vs the previous
    *     epoch's table (Σ|Δwt| + strict sign flips + both q189 table
    *     checksums), and the apply pass for keep_bp at threshold 0;
    *   - the folded per-label totals (acc_pos/acc_neg) ride the hash so
    *     the oracle must reproduce the decay slot-for-slot.
    *
    * Scale shape: identical to s66 — per-epoch one census + one apply
    * pass; cross-epoch state grows to THREE 64-long arrays (decayed
    * pos/neg counts + previous weights), still model metadata. Oracle:
    * the identical fold/fit/drift/apply arithmetic per doc_id epoch
    * slice, zero-filled slot tables, stream ≡ batch under AvailableNow.
    */
  def warmStartDriftMonitor(outer: SparkSession, dir: String): DataFrame = {
    import graft.ops.Hashing
    val s = StreamSessions.tuned(outer)
    val staged = Watermarks.stageDocBatches(s, dir)
    val schema = Tables.parquet(s, s"$staged/0.parquet").schema
    val base = graft.ops.Scratch.scratchDir("graft_s68_")

    val results = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]()
    @volatile var posAcc = Array.fill(64)(0L)
    @volatile var negAcc = Array.fill(64)(0L)
    @volatile var prevWt = Array.fill(64)(0L)

    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("basePath", staged)
      .parquet(s"$staged/[01].parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        val batch = b.persist()
        val ws = Hashing.words(col("text"))
        val census = batch
          .select(
            expr("CAST(substring(source, 4) AS BIGINT)").as("sn"),
            explode(ws).as("w"))
          .filter(col("sn") < 4L || col("sn") >= 16L)
          .select(col("sn"), pmod(Hashing.h60(col("w")), lit(64L)).as("b"))
          .groupBy("b")
          .agg(
            sum(when(col("sn") < 4L, lit(1L)).otherwise(lit(0L))).as("pos_c"),
            sum(when(col("sn") >= 16L, lit(1L)).otherwise(lit(0L))).as("neg_c"))
          .collect() // ≤64 slot cells — model metadata
        val posE = Array.fill(64)(0L)
        val negE = Array.fill(64)(0L)
        var nPos = 0L
        var nNeg = 0L
        census.foreach { r =>
          val (slot, p, n) = (r.getLong(0).toInt, r.getLong(1), r.getLong(2))
          posE(slot) = p; negE(slot) = n
          nPos += p; nNeg += n
        }
        val posA = Array.tabulate(64)(i => decayFoldPos(posAcc(i), posE(i)))
        val negA = Array.tabulate(64)(i => decayFoldNeg(negAcc(i), negE(i)))
        val wt = Array.tabulate(64)(i => laplaceWeight(posA(i), negA(i)))
        val deltaAbs = wt.indices.map(i => math.abs(wt(i) - prevWt(i)).toLong).sum
        val flips = wt.indices.count(i =>
          (wt(i) > 0L && prevWt(i) < 0L) || (wt(i) < 0L && prevWt(i) > 0L)).toLong
        val wtAbs = wt.map(math.abs).sum
        val wtDot = wt.zipWithIndex.map { case (w, i) => w * (i + 1) }.sum
        val slot1 = (pmod(Hashing.h60(col("w")), lit(64L)) + 1L).cast("int")
        val kp = batch
          .select(col("doc_id"), explode(ws).as("w"))
          .select(col("doc_id"), element_at(lit(wt), slot1).as("wtv"))
          .groupBy("doc_id")
          .agg(sum(col("wtv")).as("logit"))
          .agg(
            count(lit(1)),
            sum(when(col("logit") >= 0L, 1L).otherwise(0L)))
          .head()
        results.computeIfAbsent(
          epoch,
          _ => (kp.getLong(0), nPos, nNeg, posA.sum, negA.sum, wtAbs, wtDot,
            deltaAbs, flips, kp.getLong(1)))
        posAcc = posA; negAcc = negA; prevWt = wt
        batch.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    require(results.size() == 2, s"s68 expected 2 epochs, got ${results.size()}")
    import outer.implicits._
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq.sortBy(_._1)
      .map { case (epoch, (n, np, nn, ap, an, wa, wd, da, fl, nk)) =>
        (epoch + 1L, n, np, nn, ap, an, wa, wd, da, fl, nk * 10000L / n, true)
      }
      .toDF("step", "n_docs", "n_seed_pos", "n_seed_neg", "acc_pos",
        "acc_neg", "wt_abs", "wt_dot", "delta_abs", "n_sign_flips",
        "keep_bp", "warm_ok")
      .orderBy("step")
  }
}
