package graft.streaming

import graft.ops.Tables
import graft.queries.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** s37 — streaming sequence packing: q175's trainer artifact maintained
  * per epoch as documents arrive, instead of recomputed from scratch.
  *
  * The packing prefix sums compose across epochs exactly like s33's
  * sketch cells and s36's registers: a batch's spans are its OWN
  * two-level prefix sums (the q168 kernel, `TextQueries.docSpansOf`)
  * shifted by the per-source token offset accumulated over all PRIOR
  * epochs — ≤20 cells of state, the only thing carried between epochs.
  * Each epoch's segments land in an epoch-keyed output partition
  * (overwrite-per-epoch — a re-delivered epoch rewrites its own
  * partition, never double-emits) and the offset chain advances via
  * computeIfAbsent (the s34 double-advance guard). Because the staged
  * files split on doc_id and every batch's spans ride the carried
  * offset, the union of per-epoch emissions is BIT-EQUAL to the batch
  * q175 artifact — the stream ≡ batch discipline applied to a
  * corpus-sized emitted table (s03/s04's story, extended to the LLM
  * prep surface); the oracle IS q175's.
  *
  * Scale shape: per-epoch work is the batch's own span kernel + a
  * map-side explode (work ∝ batch rows + batch tokens/W); driver
  * traffic per epoch is the 20-cell source census that advances the
  * offsets. Nothing the driver holds grows with the corpus.
  *
  * Reference anchor: the continuously maintained analysis table of
  * `DatabaseWriter.cs:357-464` (flush/commit cadence) — state carried
  * across commits so each flush appends, never recomputes.
  */
object StreamPack {

  def streamedPackedWindows(outer: SparkSession, dir: String): DataFrame = {
    val s = StreamSessions.tuned(outer)
    val staged = Watermarks.stageDocBatches(s, dir)
    val schema = Tables.parquet(s, s"$staged/0.parquet").schema
    val base = graft.ops.Scratch.scratchDir("graft_s37_")
    val outDir = s"$base/segments"

    // epoch -> (source -> tokens BEFORE this epoch): the carried state
    val offsets =
      new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]()
    offsets.put(0L, Map.empty)

    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("basePath", staged)
      .parquet(s"$staged/[01].parquet")
      .select(col("source"), col("doc_id"), size(split(col("text"), " ")).cast("long").as("toks"))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        val off = Option(offsets.get(epoch)).getOrElse(Map.empty[String, Long])
        val offCol =
          if (off.isEmpty) lit(0L)
          else coalesce(element_at(typedLit(off), col("source")), lit(0L))
        val spans = TextQueries
          .docSpansOf(b)
          .withColumn("strt", col("strt") + offCol)
          .withColumn("e", col("e") + offCol)
        TextQueries
          .packedSegments(spans)
          .write.mode("overwrite")
          .parquet(s"$outDir/epoch=$epoch")
        // advance the offset chain: ≤20 source cells per epoch
        val batchTokens: Map[String, Long] = b
          .groupBy("source")
          .agg(sum("toks").as("t"))
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
          .toMap
        val next = (off.keySet ++ batchTokens.keySet).map { k =>
          k -> (off.getOrElse(k, 0L) + batchTokens.getOrElse(k, 0L))
        }.toMap
        offsets.computeIfAbsent(epoch + 1, _ => next)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    require(offsets.size() == 3, s"s37 expected 2 epochs, got ${offsets.size() - 1}")
    Tables.parquet(s, s"$outDir/epoch=0", s"$outDir/epoch=1")
      .select("source", "window_id", "doc_id", "seg_start", "seg_len", "is_doc_start")
      .orderBy("source", "window_id", "seg_start")
  }
}
