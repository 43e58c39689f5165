package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q68's round-6 banding (Manku-style block-combination tables): the
  * 60-bit signature splits into 6 disjoint 10-bit blocks and each doc
  * keys on all C(6,3)=20 block triples (30-bit keys). Must (a) occupy
  * more band keys as the corpus grows — the round-5 16-bit signature had
  * at most 512 keys EVER, so its 64/band cap became the dominant
  * semantics beyond ~32k docs — and (b) guarantee by pigeonhole that
  * every pair within the hamming<=3 verification radius shares at least
  * one triple key (100% candidate recall at any corpus size).
  */
class SimHashBandSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark

  private val triples: Seq[Seq[Int]] = (0 until 6).combinations(3).map(_.toSeq).toSeq

  /** Same arithmetic as q68's Spark side and oracle: block k = bits
    * [10k, 10k+10), key = (comboIdx << 30) | blockA<<20 | blockB<<10 | blockC.
    */
  private def bandKeys(sh: Long): Seq[Long] =
    triples.zipWithIndex.map { case (Seq(a, b, c), ci) =>
      (ci.toLong << 30) + (((sh >> (10 * a)) & 1023L) << 20) +
        (((sh >> (10 * b)) & 1023L) << 10) + ((sh >> (10 * c)) & 1023L)
    }

  test("pigeonhole: any two 60-bit signatures within hamming 3 share a triple key") {
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val a = rnd.nextLong() & ((1L << 60) - 1)
      val flips = rnd.nextInt(4) // 0..3 bit flips
      val b = (1 to flips).foldLeft(a)((acc, _) => acc ^ (1L << rnd.nextInt(60)))
      assert(java.lang.Long.bitCount(a ^ b) <= 3)
      assert(bandKeys(a).intersect(bandKeys(b)).nonEmpty, s"no shared band for $a vs $b")
    }
  }

  test("band-key cardinality grows with the corpus (and clears the old 512-key ceiling)") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector.tabulate(400)(i => s"w$i")
    def corpus(n: Int) =
      (1 to n).map(_ => Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" "))

    import spark.implicits._
    def distinctBands(docs: Seq[String]): Long = {
      val sh = call_function("graft_simhash", split(col("text"), " "), lit(60))
      docs
        .toDF("text")
        .select(explode(array(triples.zipWithIndex.map { case (Seq(a, b, c), ci) =>
          lit(ci.toLong << 30) +
            shiftright(sh, 10 * a).bitwiseAND(lit(1023L)) * lit(1L << 20) +
            shiftright(sh, 10 * b).bitwiseAND(lit(1023L)) * lit(1L << 10) +
            shiftright(sh, 10 * c).bitwiseAND(lit(1023L))
        }: _*)).as("bkey"))
        .agg(count_distinct(col("bkey")))
        .as[Long]
        .collect()(0)
    }

    val small = distinctBands(corpus(200))
    val large = distinctBands(corpus(2000))
    assert(large > small, s"band keys must grow with the corpus: $small -> $large")
    assert(large > 512L, s"must clear the 16-bit design's 512-key ceiling, got $large")
    // headroom: the key space is 20 * 2^30, far above any occupancy here
    assert(large <= 20L * 2000L)
  }

  test("degenerate corpus (all-identical docs): cap bounds pairs at O(n*cap), connectivity survives") {
    import spark.implicits._
    val n = 200
    val base = tempDir("graft_sh_degen_").toString
    (0 until n)
      .map(i => (i.toLong, "spark scan join filter agg row key", "en", "s0", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val pairs = SparkEntry
      .queries("q68_simhash_neardup")(spark, base)
      .select("doc_a", "doc_b")
      .as[(Long, Long)]
      .collect()
    // every triple bucket holds all n docs; the capped side keeps the 64
    // lowest ids, so pairs are O(n*cap) per triple, never O(n^2)
    assert(pairs.nonEmpty && pairs.length <= 64 * n)
    // connectivity: every non-representative doc still pairs with doc 0
    // (the bucket representative survives the cap), so union-find over
    // the capped pairs yields ONE component
    val withRep = pairs.filter(_._1 == 0L).map(_._2).toSet
    assert((1 until n).forall(i => withRep.contains(i.toLong)))
  }
}
