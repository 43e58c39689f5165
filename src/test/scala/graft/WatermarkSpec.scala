package graft

import graft.ops.Tables
import graft.streaming.Watermarks
import org.scalatest.funsuite.AnyFunSuite

/** Watermark/late-data semantics vs a Scala model of the three-batch
  * trace (see Watermarks scaladoc): replayed old rows arriving after
  * their windows were finalized must be DROPPED — counts must not double
  * — and windows past the final watermark must be withheld.
  */
class WatermarkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("s12 fingerprint clusters merge across the two-batch split (stream == batch)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val got = Watermarks
      .streamNearDupClusters(spark, dir)
      .collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1), r.getLong(2)))
      .toSeq
      .sortBy(_._2)

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val fp = call_function("graft_minhash", split(col("text"), " "), lit(3), lit(""))
    val batch = docs
      .select(col("doc_id"), fp.as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_dups"))
      .collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1), r.getLong(2)))
      .toSeq
      .sortBy(_._2)
    assert(got == batch)

    // precondition that the test exercises cross-batch state: at least one
    // fingerprint cluster spans the doc_id=250 staging split
    val spans = docs
      .select(col("doc_id"), fp.as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .filter(col("lo") < 250 && col("hi") >= 250)
      .count()
    assert(spans > 0, "corpus has no fingerprint cluster spanning the batch split")
  }

  test("late replays behind the watermark are dropped; open windows are withheld") {
    val dir = "/root/testdata/sf0.001"
    val got = Watermarks
      .lateDataCounts(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
      .sorted

    val evs = Tables
      .events(spark, dir)
      .selectExpr("event_id", "CAST(ts AS LONG) AS sec", "user_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dayS = 86400L
    def winStart(sec: Long) = sec - java.lang.Math.floorMod(sec, dayS)
    def dayInt(ws: Long): Long = {
      val d = java.time.LocalDateTime.ofEpochSecond(ws, 0, java.time.ZoneOffset.UTC)
      d.getYear * 10000L + d.getMonthValue * 100L + d.getDayOfMonth
    }
    // batch-2 replays are all late beyond the watermark set by batch 1 →
    // dropped; so expected counts = each original row once, and only
    // windows closed by the final watermark are emitted.
    val finalW = evs.map(_._2).max - dayS
    val expect = evs
      .groupBy(e => (e._3, winStart(e._2)))
      .collect { case ((u, ws), rows) if ws + dayS <= finalW => (u, dayInt(ws), rows.length.toLong) }
      .toSeq
      .sorted

    assert(got == expect)
    // sanity: some windows were withheld (still open at query end)
    val all = evs.groupBy(e => (e._3, winStart(e._2))).size
    assert(expect.size < all, "expected open windows to be withheld")
  }
}
