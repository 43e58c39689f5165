package graft

import graft.ops.ConnectedComponents
import org.scalatest.funsuite.AnyFunSuite

/** Pins the iterative min-label propagation behind q59: multi-hop
  * convergence (labels move one hop per round — a path graph needs
  * diameter rounds, the loop must run them all), component separation,
  * and orientation-independence of the input pair list.
  */
class ConnectedComponentsSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents
      .minLabel(pairs.toDF("src", "dst"))
      .as[(Long, Long)]
      .collect()
      .toMap

  test("a 10-node path converges to one component across 9 hops") {
    val path = (0L until 9L).map(i => (i, i + 1))
    val got = components(path)
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("disjoint components keep distinct min labels; orientation is irrelevant") {
    // component A: 5-3-7 (given in mixed orientation), component B: 10-12
    val got = components(Seq((7L, 3L), (3L, 5L), (12L, 10L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 10L -> 10L, 12L -> 10L))
  }

  test("a star over 200 nodes resolves in the bounded loop") {
    val star = (1L until 200L).map(i => (0L, i))
    val got = components(star)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("matches a union-find referee on a 20k-edge pseudo-random graph") {
    // deterministic LCG so the graph is stable across runs
    var seed = 0x5deece66dL
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    val n = 5000
    val edges = Seq.fill(20000)((next(n).toLong, next(n).toLong)).filter(e => e._1 != e._2)

    // referee: path-compressed union-find, relabeled to min member per root
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
    val minOfRoot = scala.collection.mutable.Map[Int, Long]()
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.sorted.foreach { v =>
      val r = find(v.toInt)
      if (!minOfRoot.contains(r) || minOfRoot(r) > v) minOfRoot(r) = v
    }
    val expected = nodes.map(v => v -> minOfRoot(find(v.toInt))).toMap

    val got = components(edges)
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("q59 clusters the degenerate all-identical corpus into one component") {
    val n = 300
    val dir = tempDir("graft_cc_").toString
    (0L until n.toLong)
      .map((_, "the quick brown fox jumps over the lazy dog again", "en", "degen", 49L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val q59 = graft.queries.DedupQueries.all.find(_.name == "q59_dedup_components").get
    val out = q59.run(spark, dir).as[(Long, Long)].collect()
    // the band-capped pair list still connects every doc to doc 0
    assert(out.length == n && out.forall(_._2 == 0L))
  }
}
