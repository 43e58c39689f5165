package graft

import graft.ops.BucketCap
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-corpus guard for the LSH pair joins (VERDICT r3 item 2):
  * an all-identical corpus collapses every band into ONE bucket; the
  * per-bucket cap must bound the pair join at O(n·cap) while preserving
  * duplicate-cluster connectivity (every member pairs with the bucket
  * representative).
  */
class BucketCapSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("capSide keeps the lowest-id cap members per bucket") {
    val df = ((0L until 10L).map(("hot", _)) ++ Seq(("cold", 0L), ("cold", 1L)))
      .toDF("bkt", "id")
    val kept = BucketCap
      .capSide(df, col("bkt"), col("id"), maxPerBucket = 4, tag = "spec")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    assert(kept == Set(("hot", 0L), ("hot", 1L), ("hot", 2L), ("hot", 3L), ("cold", 0L), ("cold", 1L)))
  }

  test("fail mode throws when the cap fires, passes untouched buckets through") {
    val df = ((0L until 10L).map(("hot", _)) ++ Seq(("cold", 0L))).toDF("bkt", "id")
    spark.conf.set(BucketCap.ModeConf, "fail")
    try {
      val e = intercept[IllegalStateException] {
        BucketCap.capSide(df, col("bkt"), col("id"), maxPerBucket = 4, tag = "spec-fail")
      }
      assert(e.getMessage.contains("spec-fail"))
      // no oversized bucket → no throw, cap is a no-op
      val ok = BucketCap
        .capSide(df.filter(col("id") < 4), col("bkt"), col("id"), maxPerBucket = 4, tag = "spec-ok")
      assert(ok.count() == 5)
    } finally spark.conf.unset(BucketCap.ModeConf)
  }

  test("q34 stays bounded on 1000 identical documents and keeps cluster connectivity") {
    val n = 1000
    val cap = BucketCap.MaxPerBucket
    val dir = tempDir("graft_degen_").toString
    (0L until n.toLong)
      .map((_, "the quick brown fox jumps over the lazy dog again", "en", "degen", 49L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val q34 = graft.queries.DedupQueries.all.find(_.name == "q34_minhash_pairs").get
    val pairs = q34.run(spark, dir).select("doc_a", "doc_b").as[(Long, Long)].collect()

    // capped left side = doc_ids 0..cap-1; each pairs with every larger id
    val expected = (for { a <- 0L until cap.toLong; b <- (a + 1) until n.toLong } yield (a, b)).toSet
    assert(pairs.length == expected.size) // 61_920, not n·(n-1)/2 = 499_500
    assert(pairs.toSet == expected)
    // connectivity: every doc is paired with the representative doc 0
    assert((1L until n.toLong).forall(b => expected.contains((0L, b))))
  }

  test("q39 candidates stay bounded on identical embeddings; every vector keeps a top-k") {
    val n = 300
    val dir = tempDir("graft_degen_e_").toString
    val vec = (1 to 64).map(i => (if (i % 3 == 0) -1.0f else 1.0f) * 0.5f).toArray
    (0L until n.toLong)
      .map((_, vec, 1))
      .toDF("vec_id", "embedding", "label")
      .write
      .mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    val q39 = graft.queries.SimQueries.all.find(_.name == "q39_ann_bucket_topk").get
    val out = q39.run(spark, dir).select("vec_a").as[Long].collect()
    // all n vectors share one bucket; with the candidate side capped every
    // vector still surfaces with its top-3 (identical vectors → cos 1.0)
    assert(out.toSet == (0L until n.toLong).toSet)
    assert(out.length == n * 3)
  }
}
