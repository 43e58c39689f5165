package graft

import org.scalatest.funsuite.AnyFunSuite

/** q81's incremental merge vs q79's full rebuild on an ENGINEERED corpus
  * that forces the hardest merge case — a newly appended doc whose band
  * keys bridge TWO existing base clusters, so the delta CC must collapse
  * them into one (the driver-corpus oracles prove equality but may never
  * exercise a cross-cluster bridge). Texts were chosen so that, under
  * the q33/q34 minhash banding, T_C shares one band with T_A and the
  * other with T_B while T_A and T_B share none.
  */
class IncrementalCurationSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val tA = "foxtrot delta kilo kilo echo"
  private val tB = "india hotel echo alpha bravo"
  private val tC = tA + " " + tB // bridges both clusters

  // doc_id % 5 == 3 plays the appended batch: 8, 13, 18 are new.
  private val docs = Seq(
    (0L, tA), // base cluster {0, 1}
    (1L, tA),
    (2L, tB), // base cluster {2, 4}
    (4L, tB),
    (5L, "zulu yankee xray whiskey victor"), // base singleton, joined by new 18
    (6L, "uniform tango sierra romeo quebec"), // base singleton, untouched
    (8L, tC), // NEW: bridges {0,1} and {2,4} -> one cluster labeled 0
    (13L, "papa oscar november mike lima"), // NEW singleton
    (18L, "zulu yankee xray whiskey victor") // NEW: joins base singleton 5
  ).map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }

  private lazy val dir: String = {
    val base = graft.ops.Scratch.scratchDir("graft_incr_").toString
    docs
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    Seq((0L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    base
  }

  test("incremental merge equals full rebuild when a new doc bridges two base clusters") {
    val full = SparkEntry.queries("q79_curation_table")(spark, dir).collect().toSeq
    val incr = SparkEntry.queries("q81_curation_incremental")(spark, dir).collect().toSeq
    assert(incr == full)
  }

  test("the bridge doc collapses both base clusters to the global min label") {
    val clusters = SparkEntry
      .queries("q81_curation_incremental")(spark, dir)
      .select("doc_id", "cluster")
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(Seq(0L, 1L, 2L, 4L, 8L).forall(clusters(_) == 0L), s"merged cluster broken: $clusters")
    assert(clusters(5L) == 5L && clusters(18L) == 5L) // new doc joins a base singleton
    assert(clusters(13L) == 13L) // new singleton keeps itself
    assert(clusters(6L) == 6L) // untouched base singleton
  }
}
