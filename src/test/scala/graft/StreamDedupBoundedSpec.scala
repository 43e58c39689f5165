package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** dropDuplicatesWithinWatermark semantics trace (s17's operator) — the
  * three behaviors the bounded dedup state actually has, against a
  * hand-staged two-file replay:
  *   1. a duplicate (same key, same event time) arriving while the
  *      original's state is LIVE is dropped;
  *   2. a duplicate with the same event time arriving BEYOND the
  *      watermark is dropped too — but as LATE INPUT, like any stateful
  *      operator filters, not by the dedup state;
  *   3. a duplicate KEY re-delivered with a FRESH event time after its
  *      original's state expired PASSES THROUGH as a new row — the trade
  *      bounded state makes, and why the delay must cover the real
  *      re-delivery horizon.
  */
class StreamDedupBoundedSpec extends AnyFunSuite with TempDirs {
  private val spark = graft.streaming.StreamSessions.tuned(TestSpark.spark)
  import spark.implicits._

  private def ts(day: Int, hour: Int = 0): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-02-$day%02d $hour%02d:00:00")

  test("live-state dup dropped; beyond-watermark same-ts dup late-filtered; fresh-ts rekey passes") {
    val base = tempDir("graft_s17spec_").toString
    def writeOne(rows: Seq[(Long, java.sql.Timestamp)], name: String, mtime: Long): Unit = {
      val out = s"$base/_$name"
      rows.toDF("event_id", "ts").coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/$name")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    // file 0: keys 1,2,3 on day 1; key 4 on day 9 (drives the watermark
    // far past day 1's state: wm for the NEXT batch = day9 - 1d = day 8)
    writeOne(Seq((1L, ts(1)), (2L, ts(1)), (3L, ts(1)), (4L, ts(9))), "0.parquet", 1000000L)
    // file 1: a watermark-advancer only. State eviction happens at each
    // batch's COMMIT with that batch's watermark, so day-1 state (expiry
    // day 2) is evicted at the end of THIS batch (wm = day 8) — one batch
    // after the watermark passed it, not instantly
    writeOne(Seq((5L, ts(9, 2))), "1.parquet", 2000000L)
    // file 2: key 4 duplicated at its original (still-live) event time ->
    // deduped; key 1 replayed at its original day-1 time, now far behind
    // the watermark -> late-filtered; key 2 re-delivered with a FRESH
    // day-9 event time after its day-1 state expired -> passes through
    writeOne(Seq((4L, ts(9)), (1L, ts(1)), (2L, ts(9, 1))), "2.parquet", 3000000L)

    val schema = spark.read.parquet(s"$base/0.parquet").schema
    val deduped = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/*.parquet")
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
    val name = "s17spec_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = deduped.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = graft.streaming.StreamSessions
      .settleLocal(spark, name, spark.table(name).orderBy("event_id", "ts"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
      .toSeq
    assert(
      got == Seq((1L, ts(1)), (2L, ts(1)), (2L, ts(9, 1)), (3L, ts(1)), (4L, ts(9)), (5L, ts(9, 2))),
      s"got: $got"
    )
  }
}
