package graft

/** Plan inspector: prints the formatted physical plan of the named
  * queries (default: a few load-bearing ones) against a testdata dir.
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq(
                  "q18_features_full", "q24_star_join_agg", "q34_minhash_pairs",
                  "q60_ngram_topk", "q66_contamination_probe", "q67_knn_pq"
                )
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, "ERROR")
    val qs = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      qs(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
