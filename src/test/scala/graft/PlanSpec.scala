package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression guardrails: pin the physical-plan properties the 100 TB
  * posture depends on (PLANS.md), so a refactor that silently introduces
  * an extra shuffle, loses a broadcast, or widens a scan fails here — not
  * in a cluster.
  */
class PlanSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  /** Partition-less Window nodes in the FINAL plan — the pattern behind
    * the bench tail's `WindowExec: No Partition Defined` warnings. A
    * `Window [...]` line is GLOBAL iff its windowspecdefinition carries
    * no partition columns: either no bracket group follows the function
    * list (no partition, no order) or exactly one follows and it is an
    * ORDER spec (contains ASC/DESC). Partition-only and fully-specified
    * windows never collapse to one partition and don't count.
    */
  private def globalWindows(p: String): Int =
    p.linesIterator.count { l =>
      val i = l.indexOf("Window [")
      if (i < 0) false
      else {
        val groups = "\\[[^\\]]*\\]".r.findAllIn(l.substring(i)).toList
        groups.size match {
          case 1 => true
          case 2 => groups(1).contains(" ASC") || groups(1).contains(" DESC")
          case _ => false
        }
      }
    }

  test("q18 flagship: exactly 2 exchanges (user_id hash under the window, final sort)") {
    val p = plan("q18_features_full")
    assert(count(p, "Exchange") == 2)
    assert(count(p, "Exchange hashpartitioning(user_id") == 1)
    assert(count(p, "Window [") == 1, "one window pass: row_number + graft_trailing")
    // day bars still combine map-side: the node under the hash exchange is
    // the partial aggregate
    val lines = p.linesIterator.toIndexedSeq
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(lines(ex + 1).contains("HashAggregate") && lines(ex + 1).contains("partial_"), lines(ex + 1))
  }

  test("a batch aggregate under a keyed window hashes on the window's keys only") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val agg = Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (2L, 1L, 3.0), (2L, 2L, 4.0)).toDF("k", "b", "v")
      .groupBy("k", "b").agg(sum("v").as("s"))
    def hashes(df: org.apache.spark.sql.DataFrame) =
      "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    val keyed = agg.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("b")))
    assert(hashes(keyed) == Seq("k, 4"), "one exchange, on the window's key")
    assert(keyed.orderBy("k", "b").select("r").as[Int].collect().toSeq == Seq(1, 2, 1, 2))
    // a window without partition keys leaves the aggregate its own exchange
    val global = agg.withColumn("r", row_number().over(Window.orderBy("k", "b")))
    assert(hashes(global) == Seq("k, b, 4"))
  }

  test("s03 streaming bar aggregate keeps its own two-key stateful exchange") {
    // The batch strategy that plans a window's aggregate onto the window's
    // exchange must leave a streaming aggregate alone: its state store
    // pins the (user_id, window) partitioning. Read the micro-batch plan
    // that s03 actually executed from the SQL execution events.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.physicalPlanDescription.contains("StateStoreSave") =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.streaming.StreamBars.runDayBars(spark, s"$dir/events.parquet")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!plans.isEmpty, "no micro-batch plan with a state store was observed")
    val p = plans.peek()
    val hashes = "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashes.nonEmpty)
    hashes.foreach { h =>
      assert(h.contains("user_id") && h.contains("window"), s"stateful exchange keys: $h")
    }
    assert(count(p, "partial_") > 0, "partial aggregation stays map-side")
    assert(!p.contains("Window ["))
  }

  test("q18 scan is pruned to the 3 used event columns") {
    // the generator has shipped ts as both nanos-as-long (bigint) and
    // plain timestamp_ntz across testdata regenerations; the pin is the
    // COLUMN PRUNING, not the physical time encoding — accept either.
    val p = plan("q18_features_full")
    assert(
      p.contains("ReadSchema: struct<ts:bigint,user_id:bigint,value:double>") ||
        p.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,value:double>") ||
        p.contains("ReadSchema: struct<ts:timestamp,user_id:bigint,value:double>")
    )
  }

  test("q24 star join: all three dimensions broadcast, fact side never pre-shuffled") {
    val p = plan("q24_star_join_agg")
    assert(count(p, "BroadcastHashJoin") == 3)
    // only the aggregation + final sort may exchange
    assert(count(p, "Exchange hashpartitioning") <= 1)
  }

  test("q25 top-k plans TakeOrderedAndProject, not a full sort") {
    assert(plan("q25_topk").contains("TakeOrderedAndProject"))
  }

  test("q23 semi join stays broadcast") {
    val p = plan("q23_semijoin_exists")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
  }

  test("q48 anti join carries no broadcast hint on the orders fact side") {
    // The scale contract: broadcast must stay a size-based (AQE/static
    // estimator) decision, never a pinned hint — a hinted broadcast(orders)
    // is a driver OOM at 100×. An explicit hint survives into the optimized
    // plan as a join-strategy annotation; its absence is what we pin.
    val opt = SparkEntry
      .queries("q48_antijoin")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("strategy=broadcast"))
    // and only the key column of orders is read for the anti join
    assert(plan("q48_antijoin").contains("ReadSchema: struct<o_custkey:bigint>"))
  }

  test("q50 range join carries no broadcast hint on the exploded orders side") {
    val opt = SparkEntry
      .queries("q50_range_join")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("strategy=broadcast"))
  }

  test("q02 pushes the time-gate scan filters") {
    // the filter happens on a derived column, but the scan must still be
    // column-pruned to what the query touches (ts encoding varies across
    // testdata regenerations — see the q18 pruning pin)
    val p = plan("q02_time_gate")
    assert(
      p.contains("ReadSchema: struct<event_id:bigint,ts:bigint,user_id:bigint,value:double>") ||
        p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,value:double>") ||
        p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp,user_id:bigint,value:double>")
    )
  }

  test("q129 triangle count: oriented wedge join is equi-keyed, top-20 is TakeOrdered") {
    val p = plan("q129_triangle_count")
    // every join keys on a vertex id — a cartesian/nested-loop here is the
    // hub-explosion failure the degree orientation exists to prevent
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q130 stratified sample: rank window is per-stratum, quota join broadcasts") {
    val p = plan("q130_stratified_sample")
    // the rank window must partition by the stratum key — an empty
    // partition spec would funnel the corpus through one task
    assert(!p.contains("Exchange SinglePartition"))
    assert(p.contains("BroadcastHashJoin"), "stratum quotas are a tiny broadcast side")
  }

  test("q131 compaction plan: packing window runs per partition dir, never globally") {
    val p = plan("q131_compaction_plan")
    assert(!p.contains("Exchange SinglePartition"))
    assert(p.contains("Window"), "bin assignment is a window computation")
  }

  test("q132 interval overlap: bucket equi-join, never a nested-loop over spans") {
    val p = plan("q132_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q133 stats manifest: one Expand-based multi-distinct pass, no per-column scans") {
    val p = plan("q133_stats_manifest")
    // the three exact NDVs must share one Expand, not re-scan per column
    assert(p.contains("Expand"))
    assert(count(p, "FileScan parquet") == 1, "stats collection is a single pass")
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q135 lateral top-k decorrelates to a rank window, never a per-group rescan") {
    val p = plan("q135_lateral_topk")
    // DecorrelateInnerQuery must rewrite the correlated LIMIT subquery
    // into the same WindowGroupLimit shape q55 declares directly — a
    // nested-loop (subquery-per-row) plan here is the failure mode
    assert(p.contains("WindowGroupLimit"), "rank pushdown must apply")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q136 winsorize: per-stratum rank window, cuts broadcast back for the clamp") {
    val p = plan("q136_winsorized_stats")
    assert(!p.contains("Exchange SinglePartition"))
    assert(p.contains("BroadcastHashJoin"), "per-stratum cuts are a tiny broadcast side")
  }

  test("q137 multigrain bars: one scan + one Expand feeds both granularities") {
    val p = plan("q137_multigrain_bars")
    assert(p.contains("Expand"), "grouping sets must share the scan via Expand")
    assert(count(p, "FileScan parquet") == 1, "one scan for all granularities")
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q139 langid confusion: predictor stays map-side, matrix is one count shuffle") {
    val p = plan("q139_langid_confusion")
    // the per-doc marker-hit predictor must not shuffle text — only the
    // (true, pred) cells and the per-lang margins exchange
    assert(p.contains("partial_count"), "matrix counts combine map-side")
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q60 ngram top-k: partial-aggregated before the gram shuffle, TakeOrdered at the top") {
    val p = plan("q60_ngram_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
    // map-side combine: a partial_count aggregate below the gram exchange
    assert(p.contains("partial_count"))
    // scan pruned to the repartition key + text
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q61 deterministic sample is map-only over a pruned scan") {
    val p = plan("q61_det_sample")
    assert(count(p, "Exchange") <= 1, "sample + order may exchange at most for the final sort")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"))
  }

  test("q62 histogram aggregates map-side into <=10 groups over a 1-column scan") {
    val p = plan("q62_length_histogram")
    assert(p.contains("partial_count"))
    assert(p.contains("ReadSchema: struct<n_chars:bigint>"))
  }

  test("q63 token packing: one hash exchange on the source shard key feeds the window") {
    val p = plan("q63_token_packing")
    // window partitioned by source + the final sort — never a global
    // single-partition window. No trailing newline in the needle: executed
    // plans render the node as 'Exchange SinglePartition, ENSURE_…', so a
    // newline-suffixed match could never fire (round-8 advice).
    assert(!p.contains("Exchange SinglePartition"), "packing must not funnel into one partition")
    assert(p.contains("Window"))
  }

  test("q64 label centroids: quantized partial sums combine below the (label, dim) exchange") {
    val p = plan("q64_label_centroids")
    assert(p.contains("partial_sum") || p.contains("partial_count"))
    assert(p.contains("ReadSchema: struct<embedding:array<float>,label:int>"))
  }

  test("q66 contamination probe: probe gram set broadcasts, corpus side semi-joins map-side") {
    val p = plan("q66_contamination_probe")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
    assert(!p.contains("SortMergeJoin"), "the corpus must never shuffle on the gram key")
    // map-side per-doc dedup: only the doc_id aggregate + final sort may
    // SHUFFLE (the broadcast exchange for the probe side is expected)
    assert(count(p, "Exchange hashpartitioning") <= 1)
  }

  test("q67 PQ search: zero shuffles and zero joins — one map-side pass + TakeOrdered") {
    val p = plan("q67_knn_pq")
    assert(count(p, "Exchange hashpartitioning") == 0, "PQ search must not shuffle")
    assert(!p.contains("Join"), "PQ search must not join — codes and LUT are literals")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q71 quantization export is map-only over a 2-column scan") {
    val p = plan("q71_embed_quantize")
    assert(count(p, "Exchange hashpartitioning") == 0, "export is map-only; only the sort exchanges")
    assert(p.contains("ReadSchema: struct<embedding:array<float>,vec_id:bigint>")
      || p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"))
  }

  test("q37 adaptive sign buckets: pair join is a hash join on the bucket key, never cartesian") {
    val p = plan("q37_embed_neardup")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"))
  }

  test("Tables.spread is the IDENTITY on a well-partitioned input (no fixture shuffle at scale)") {
    // An input already carrying >= defaultParallelism partitions must pass
    // through untouched — same DataFrame reference, hence zero Exchange
    // added to any downstream map-only plan. The single-split local
    // fixture (below the core count) still gets spread.
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, par).toDF("doc_id")
    assert(graft.ops.Tables.spread(wide) eq wide)
    val narrow = spark.range(0, 1000, 1, 1).toDF("doc_id")
    val s = graft.ops.Tables.spread(narrow)
    assert(s ne narrow)
    // the spread plans a hash repartition (AQE may coalesce its output
    // partition count at runtime — the Exchange node is what we pin)
    assert(s.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
  }

  test("q68 persists only the n-row signature table — the 20x banded projection is never cached") {
    // Round-7 slimming pin: the MEMORY_AND_DISK state behind the simhash
    // self-join must be the (doc_id, sh) signature table; both join sides
    // re-derive the 20-key Manku band explosion from that cache, so every
    // InMemoryTableScan in the pair plan reads signatures, never bkey.
    val (sims, pairs) = graft.queries.DedupQueries.simhashNeardupParts(spark, dir)
    try {
      assert(sims.schema.fieldNames.toSeq == Seq("doc_id", "sh"))
      val scans = pairs.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("InMemoryTableScan")).toSeq
      assert(scans.nonEmpty, "the signature cache must actually feed the join")
      assert(
        scans.forall(!_.contains("bkey")),
        s"a banded (20n-row) projection leaked into cached state:\n${scans.mkString("\n")}"
      )
    } finally sims.unpersist()
  }

  test("q81 incremental probe: batch bands semi-prune the banded index below the cap window") {
    // work∝batch: the corpus side of the probe join is pruned to the
    // batch's bands by a broadcast left-semi join BEFORE the per-band cap
    // window, so the shuffle carries the batch bands' buckets, never the
    // whole banded index. The probe frame is checkpointed, so its plan is
    // read from the checkpoint recorder; cleared caches make q81 rebuild it.
    queries.DedupQueries.clearStageCaches()
    ops.Ckpt.startRecording()
    plan("q81_curation_incremental")
    val recorded = ops.Ckpt.stopRecording()
    def column(l: String): Int = l.indexWhere(_.isLetter)
    // the cap window (row_number per band) and the lines of its subtree
    def capSubtrees(p: String): Seq[Seq[String]] = {
      val lines = p.linesIterator.toIndexedSeq
      lines.indices.filter { i =>
        lines(i).contains("Window [row_number()") && lines(i).contains("[band#")
      }.map { i =>
        lines.drop(i + 1).takeWhile(l => column(l) > column(lines(i)))
      }
    }
    val semiPruned = recorded.flatMap(capSubtrees).filter(_.exists { l =>
      l.contains("BroadcastHashJoin [band#") && l.contains("LeftSemi")
    })
    assert(
      semiPruned.nonEmpty,
      s"no cap window over a broadcast band semi-join in q81's checkpointed plans:\n" +
        recorded.mkString("\n---\n"))
  }

  test("q92 BM25: map-only scan + TakeOrdered — zero joins") {
    // corpus constants fold to literals at build time, so the executed
    // plan must be scan -> tf/score projection -> top-k; a word-explode
    // shuffle or a stats join sneaking in fails here. (The zero-shuffle
    // claim is pinned on multi-split input below, where the fixture
    // spread is the identity.)
    val p = plan("q92_bm25")
    assert(!p.contains("Join"), "corpus constants must fold to literals, not join")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q91 grouping sets: ONE Expand + partial-then-final aggregate, not N scans") {
    val p = plan("q91_grouping_sets")
    assert(count(p, "Expand") == 1, "grouping sets must be a single Expand pass")
    assert(count(p, "Scan parquet") == 1, "one scan feeds all four sets")
    assert(p.contains("partial_count"), "map-side combine below the grouping shuffle")
  }

  test("q90 gap-fill: both LOCF windows share one per-user sort lineage") {
    val p = plan("q90_gap_fill")
    assert(count(p, "Window") == 2, "non-null-count + group-max are the two LOCF windows")
    assert(!p.contains("CartesianProduct"))
    // calendar join + LOCF must not funnel into a single partition (no
    // trailing newline — see the q63 pin above)
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q93 SymSpell: variant expansion is map-side; exact levenshtein verifies post-join") {
    // the fuzzy-vocab shape pin (round-8 verdict item 7): deletion
    // variants must explode map-side with NO shuffle between the scan and
    // the variant-key join (the only hashpartitioning exchanges are the
    // vocab dedup aggregate + the join itself), the join must be a real
    // hash/merge join (never cartesian), and the O(1)-per-pair exact
    // levenshtein must appear as a post-join filter, not a join condition
    // that forces a cartesian fallback.
    val p = plan("q93_fuzzy_vocab")
    assert(!p.contains("CartesianProduct"), "candidate generation must stay bucket-joined")
    assert(!p.contains("BroadcastNestedLoopJoin"), "candidate generation must stay bucket-joined")
    assert(p.contains("levenshtein"), "the exact verify must survive in the plan")
    assert(
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      "variant-key equality must plan as a hash-family join"
    )
    // the self-join's two identical vocab pipelines (scan → word explode
    // → distinct) must collapse to ONE at runtime via AQE exchange reuse
    // — otherwise the corpus-side work doubles. Only the FINAL adaptive
    // plan shows ReusedExchange, so execute first.
    val df = SparkEntry.queries("q93_fuzzy_vocab")(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"))
    assert(
      finalPlan.contains("ReusedExchange"),
      "the duplicated vocab subplan must be computed once (AQE exchange reuse)"
    )
  }

  test("q96 compaction is a partial-aggregated reduction, never a rank window") {
    // the scale claim in the query doc: map side collapses to one
    // candidate row per user BEFORE the single shuffle. A refactor to
    // row_number()-over-user would pass the oracle (same rows) but sort
    // whole user partitions — the Window absence is the pin.
    val p = plan("q96_latest_event")
    assert(!p.contains("Window"), "compaction must stay an aggregation, not a rank window")
    assert(p.contains("partial_max"), "map-side partial max(struct) must combine before the wire")
    assert(count(p, "Exchange hashpartitioning") == 1, "one shuffle: the per-user aggregate")
  }

  test("q98 containment: gram join broadcasts the probe side, never shuffles the corpus") {
    val p = plan("q98_gram_containment")
    assert(p.contains("BroadcastHashJoin"), "probe grams must broadcast")
    assert(!p.contains("SortMergeJoin"), "the corpus side must never shuffle on the gram key")
    assert(!p.contains("CartesianProduct"))
  }

  test("q99 phrase mining: unigram counts broadcast, top-20 is TakeOrdered") {
    val p = plan("q99_phrase_mining")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
    assert(!p.contains("SortMergeJoin"), "vocab-sized unigram counts must broadcast")
    assert(count(p, "BroadcastHashJoin") == 2, "two unigram-count joins, both broadcast")
  }

  test("q100 CMS: the sketch side broadcasts, estimates never shuffle the corpus") {
    val p = plan("q100_heavy_hitters_cms")
    // the ≤2048-cell sketch must be the BROADCAST side of the estimate
    // join; a shuffle join here would re-shuffle the top-word rows for a
    // 2048-row table
    assert(p.contains("BroadcastHashJoin"), "sketch join must broadcast")
    assert(!p.contains("SortMergeJoin"), "estimate join must never plan a sort-merge")
    assert(p.contains("TakeOrderedAndProject"), "exact top-10 must be TakeOrdered, not a global sort")
  }

  test("q101 PageRank: no cartesian, every per-iteration aggregate partial-combines") {
    val p = plan("q101_pagerank_dupgraph")
    assert(!p.contains("CartesianProduct"))
    // 3 inflow sums + degree count: all must map-side combine (the
    // integer-quantized contributions are sums of longs)
    assert(p.contains("partial_sum") || p.contains("Partial"), "inflow sums must partial-aggregate")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must be TakeOrdered, not a global sort")
  }

  test("q97 fusion ranks bounded lists: both rankers TakeOrdered before their rank windows") {
    val p = plan("q97_rrf_hybrid")
    assert(!p.contains("CartesianProduct"))
    // 2 ranker truncations + the final top-10 (AQE may fold the last into
    // a sort+limit, so pin the lower bound)
    assert(count(p, "TakeOrderedAndProject") >= 2, "rank windows must run on truncated lists")
  }

  test("q103 RANGE window: both frame aggregates share ONE WindowExec over one sort") {
    val p = plan("q103_rolling_range_window")
    // the decimal cast is pre-projected; a cast born inside the window
    // sum would split count/sum into two Window nodes (CollapseWindow
    // blocked by the interposed Project) — two passes per partition
    assert(count(p, "Window [") == 1)
    assert(count(p, "Exchange hashpartitioning") == 1) // user_id, once
    assert(p.contains("RangeFrame"))
  }

  test("q104 mixture expansion is map-only: the sort is the only required exchange") {
    val p = plan("q104_mixture_sample")
    // weight lookup, slot test, sequence-explode all ride the scan; the
    // only ENSURE_REQUIREMENTS exchange is the final determinism sort
    // (the fixture spread is REPARTITION_BY_COL, not plan-required)
    assert(count(p, "ENSURE_REQUIREMENTS") == 1)
    assert(p.contains("explode(sequence"))
  }

  test("q105 vocab counts partial-aggregate; join + doc aggregate add no required shuffle") {
    val p = plan("q105_lexical_commonness")
    assert(p.contains("partial_count")) // vocab count combines map-side
    // required exchanges: the vocab aggregate's word-key shuffle + the
    // final sort — the occurrence→vocab join (broadcast at fixture
    // scale) and the doc-keyed aggregate must not add one
    assert(count(p, "ENSURE_REQUIREMENTS") == 2)
    assert(p.contains("partial_percentile")) // doc agg partial-combines too
  }

  test("q35/q82/q83 doc scans stay map-only up to the determinism sort on multi-split input") {
    // the round-6 verdict nit: the fixture spread must never leak a
    // corpus-wide shuffle into the declared plan. Materialize a
    // multi-split documents dir and assert the gated scans add no
    // hashpartitioning Exchange (the final orderBy's range exchange is
    // the only one allowed).
    val par = spark.sparkContext.defaultParallelism
    val docsDir = tempDir("graft_spread_").toString
    graft.ops.Tables
      .documents(spark, dir)
      .repartition(par)
      .write
      .mode("overwrite")
      .parquet(s"$docsDir/documents.parquet")
    // force enough splits: tiny files pack into few partitions otherwise
    val multi = graft.ops.Tables.documents(spark, docsDir)
    assume(multi.rdd.getNumPartitions >= par, "fixture packing defeated the multi-split setup")
    Seq("q35_simhash", "q82_repetition_ratio", "q83_doc_chunks", "q92_bm25").foreach { name =>
      val p = SparkEntry.queries(name)(spark, docsDir).queryExecution.executedPlan.toString
      assert(
        count(p, "Exchange hashpartitioning") == 0,
        s"$name must be map-only before the sort on a multi-split input"
      )
    }
  }

  test("q108 CDC apply: one reduction shuffle, tombstone drop is a post-agg filter") {
    // q96's pin extended to the delete-handling merge: still no rank
    // window, still exactly one ENSURE_REQUIREMENTS hash exchange —
    // deletes must not buy a second shuffle or a sort-by-ts-per-key.
    val p = plan("q108_cdc_apply")
    assert(!p.contains("Window"), "CDC apply must stay an aggregation, not a rank window")
    assert(p.contains("partial_max"), "map-side partial max(struct) must combine before the wire")
    assert(count(p, "Exchange hashpartitioning") == 1, "one shuffle: the per-entity reduction")
  }

  test("q110 moments: all six power sums partial-aggregate in one pass") {
    val p = plan("q110_stat_moments")
    // one partial HashAggregate carries count + the five sums map-side
    assert(p.contains("partial_count"), "count must partial-aggregate")
    assert(count(p, "partial_sum") == 5, "exactly five power sums, all map-side partials")
    // one REQUIRED shuffle (the per-lang aggregate); documentsSpread's
    // REPARTITION_BY_COL small-input heuristic is not a plan property
    val required = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(required == 1, s"one required shuffle: the per-lang aggregate (saw $required)")
    assert(!p.contains("Window"))
  }

  test("q111 phash: image filter reaches the media scan before the decode") {
    // only image blobs may ever be deserialized — the kind predicate
    // must push into the staged parquet scan, not run post-decode.
    val p = plan("q111_image_phash")
    assert(p.contains("PushedFilters: [IsNotNull(kind), EqualTo(kind,image)]"))
    assert(p.contains("MapPartitions"), "decode stays a mapPartitions over the filtered scan")
  }

  test("q112 funnel: both leads share ONE WindowExec; path counts partial-aggregate") {
    val p = plan("q112_funnel_triples")
    assert(count(p, "Window [") == 1, "stacked leads must collapse into one Window node")
    assert(p.contains("partial_count"), "the types^3 aggregate must combine map-side")
  }

  test("q114 SCD2: lead + row_number share ONE WindowExec over one entity shuffle") {
    val p = plan("q114_scd2_history")
    assert(count(p, "Window [") == 1, "interval + version must come from one window pass")
    assert(count(p, "Exchange hashpartitioning") == 1, "one entity shuffle")
  }

  test("q115 z-order: key compute is map-only; one required shuffle (the block aggregate)") {
    val p = plan("q115_zorder_key")
    assert(!p.contains("Window"))
    val required = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(required == 1, s"bit interleave must ride the scan (saw $required required shuffles)")
    assert(p.contains("partial_count"), "block census combines map-side")
  }

  test("q116 rank family: the two order specs share one exchange and one prefix sort") {
    val p = plan("q116_dist_rank_family")
    // ntile needs (value, event_id); percent_rank/cume_dist need (value)
    // — a prefix, so Catalyst satisfies both Window nodes from a single
    // sort over a single event_type exchange. A regression that reorders
    // the specs non-prefix-compatibly buys a second sort.
    assert(count(p, "Window [") == 2, "peer-group and positional specs stay separate nodes")
    assert(count(p, "Exchange hashpartitioning") == 1, "one event_type shuffle for both")
    assert(count(p, "Sort [") <= 2, "one window sort + the final output sort only")
  }

  test("q65 top-k per lang rides the two-phase WindowGroupLimit") {
    // Spark's InferWindowGroupLimit turns rank ≤ k into per-partition
    // top-k limits BEFORE the shuffle — the difference between moving
    // k rows per lang per partition and moving whole lang partitions.
    // A refactor that obscures the rank predicate loses the rewrite.
    val p = plan("q65_quality_topk_per_lang")
    assert(count(p, "WindowGroupLimit") == 2, "partial (map-side) + final group limits")
  }

  test("q118 drift gate scans the corpus exactly once") {
    // lang totals come from window sums over the reduced counts frame —
    // the groupBy+join-back alternative re-plans the twice-referenced
    // scan subtree (a second full corpus scan at 100 TB). One scan node.
    val p = plan("q118_drift_chi2")
    assert(count(p, "Scan parquet") == 1, "totals must not duplicate the scan subtree")
    assert(p.contains("partial_sum"), "the (lang, bucket, side) counts combine map-side")
  }

  test("q119 forward as-of is one window pass, no join") {
    val p = plan("q119_next_event_gap")
    assert(count(p, "Window [") == 1, "running min over reverse order — a single window")
    assert(!p.contains("Join"), "forward as-of must not become a self-join")
    assert(count(p, "Exchange hashpartitioning") == 1, "one user_id shuffle")
  }

  test("q120 hopping window expands map-side and aggregates in one shuffle") {
    // window(ts, 2d, 1d) must plan as Expand (each row → its 2 windows,
    // before the exchange) + a two-phase aggregate — never a self-join
    // or a union of shifted scans.
    val p = plan("q120_hopping_window")
    assert(p.contains("Expand"), "slide/size row expansion must be the map-side Expand node")
    assert(!p.contains("Join"))
    assert(count(p, "Exchange hashpartitioning") == 1, "one (user, window) shuffle")
    assert(p.contains("partial_count"), "window counts combine map-side")
  }

  test("q121 posting lists build with map-side partial collect") {
    val p = plan("q121_inverted_index")
    assert(count(p, "Scan parquet") == 1, "one corpus scan")
    assert(p.contains("partial_collect_list"), "postings partial-aggregate before the wire")
  }

  test("q122 pair plan reuses the checkpointed term frame, never re-scans the corpus") {
    // weighted feeds both join sides and the norms — localCheckpoint
    // pins it so the final plan reads ExistingRDD leaves; losing the
    // checkpoint re-plans the words→vocab subtree per reference.
    val p = plan("q122_tfidf_cosine_pairs")
    assert(count(p, "Scan parquet") == 0, "all leaves must be the checkpointed frame")
    assert(p.contains("Scan ExistingRDD"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q125 chunk dedup shuffles digests, not text: one window pass, no join") {
    // chunk text reduces to md5 in the map-side Project, so the window
    // exchange carries (digest, doc_id, chunk_id) only; first-occurrence
    // marking must stay a single Window, never a self-join of chunks.
    val p = plan("q125_chunk_dedup")
    assert(!p.contains("Join"))
    assert(count(p, "Window") == 1, "one first-occurrence window pass")
    assert(p.contains("hashpartitioning(h#"), "the one heavy shuffle keys on the digest")
    assert(count(p, "Exchange") == 4, "spread + digest window + doc rollup + final sort")
  }

  test("q126 bigram counts expand map-side and top-k via TakeOrdered") {
    // zip_with over shifted slices IS the bigram expansion (Generate,
    // map-side) — no per-doc window, no self-join; counts two-phase
    // aggregate; the top-20 must not be a global sort.
    val p = plan("q126_bigram_lm")
    assert(!p.contains("Join"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("partial_count"), "bigram counts combine map-side")
    assert(count(p, "Exchange hashpartitioning") == 2, "spread + (w1,w2) agg on the w1 window's exchange")
  }

  test("q127 FK audit: every parent key-set broadcasts, child tables never shuffle") {
    // At fixture scale all 7 edges broadcast their DISTINCT parent keys
    // (size-based, unhinted — at 100 TB the orders edge would degrade to
    // a shuffled key-vs-key join by the same estimator, which is the
    // correct posture); child rows must reach the aggregate without an
    // exchange of their own.
    val p = plan("q127_fk_audit")
    assert(count(p, "BroadcastHashJoin") == 7)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    val opt = SparkEntry
      .queries("q127_fk_audit")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("strategy=broadcast"), "broadcast stays size-based, never hinted")
  }

  test("q143 deletion cascade: every request-keyed join broadcasts, fact rows never shuffle") {
    // customer/orders/lineitem each take broadcast delete-marker, anti
    // and residual-probe joins against the (bounded) request keysets —
    // 9-10 broadcast joins total depending on reuse; what must NOT
    // appear is a shuffled or nested-loop join of any fact table, or a
    // hash exchange of fact rows (the only exchanges are the 1-row
    // aggregate collects and the 3-row final sort).
    val p = plan("q143_deletion_propagation")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(count(p, "BroadcastHashJoin") >= 9)
    assert(count(p, "Exchange hashpartitioning") == 0, "fact rows never hash-shuffle")
  }

  test("q144 quantile sketch: partial aggregation collapses map tasks to sketch cells") {
    // the mergeable-sketch contract: the cents census and bin histogram
    // both partial-aggregate map-side (shuffle carries cells ×
    // partitions, never rows), and the audit's cum windows run over the
    // domain-bounded frames — no row-sized window, no join blowup.
    val p = plan("q144_quantile_sketch")
    assert(p.contains("partial_count"), "cents census combines map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q145 MAD audit: domain census combines map-side, stats frames broadcast") {
    // event rows collapse to (type, cents) cells before any shuffle;
    // the median/MAD/count side frames are type-cardinality and must
    // broadcast — a sort-merge join here would mean a row-sized frame
    // leaked into the stats lineage.
    // the (type, cents) census materializes once at checkpoint time;
    // the FINAL plan must ride the cached cells (zero corpus re-scans
    // across the n/median/deviation/fence lineages).
    val p = plan("q145_mad_outliers")
    assert(p.contains("Scan ExistingRDD"), "stats lineages ride the checkpointed census")
    assert(count(p, "FileScan parquet") == 0, "no events re-scan after the census")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q146 decayed engagement: one combined aggregate, TakeOrdered cut") {
    // the per-row weight is a codegen'd CASE+shift in the project; the
    // only shuffle is the user-keyed aggregate (partials merge
    // associatively) and the top-20 is TakeOrdered — never a global
    // sort of the user frame.
    val p = plan("q146_decayed_engagement")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    assert(p.contains("TakeOrderedAndProject"), "top-20 must be TakeOrdered, not Sort+Limit")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q147 skew advisor: key-census aggregates only, no joins anywhere") {
    // the advisor is groupBy(key) → 1-row reduce per edge; key counts
    // are the only shuffled thing and there is no join of any kind.
    val p = plan("q147_skew_advisor")
    assert(p.contains("partial_count"), "key census combines map-side")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), "advisor has no joins")
  }

  test("q148 manifest diff: ONE scan computes both snapshots' manifests") {
    // current and snapshot counts+digests are conditional aggregates in
    // the same map-side pass — a second scan of the fact table would
    // defeat the point of an incremental planner.
    val p = plan("q148_manifest_diff")
    assert(count(p, "FileScan parquet") == 1, "both manifests from one scan")
    assert(p.contains("partial_count"), "bucket manifests combine map-side")
    assert(!p.contains("Join"))
  }

  test("q149 zone-map probe: one scan, predicate column only, map-side stats") {
    // the zone map and the in-range counts come from the same partial
    // aggregate, and the scan must read ONLY l_shipdate — reading more
    // columns for a min/max/count stats pass is the anti-pattern.
    val p = plan("q149_zonemap_prune")
    assert(count(p, "FileScan parquet") == 1)
    assert(p.contains("ReadSchema: struct<l_shipdate"), "scan prunes to the zone column")
    assert(!p.contains("Join"))
  }

  test("q150 attribution: sessionization rides ONE user-keyed exchange") {
    // lag-flag and running session counter share the user/ts sort; the
    // per-session min_by reduce reuses the same user partitioning (no
    // exchange between the window and the session aggregate) — only the
    // channel aggregate and the final sort repartition. 2 hash
    // exchanges total, no joins.
    val p = plan("q150_session_attribution")
    assert(count(p, "Exchange hashpartitioning") == 2)
    assert(p.contains("min_by"), "first-touch channel is a min_by reduce")
    assert(!p.contains("Join"))
  }

  test("q151 Heaps curve: conditional prefix sums, never a per-checkpoint rescan") {
    // two corpus reads total (per-doc token counts + the first-seen
    // vocab reduce); the four checkpoints join as a broadcast 4-row
    // frame — a FileScan per checkpoint (or a row-sized window) would
    // be the anti-pattern.
    val p = plan("q151_vocab_growth")
    assert(count(p, "ReadSchema: struct<doc_id:bigint,text:string>") == 2,
      "exactly two text reads (token counts + first-seen) — checkpoints never rescan text")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q152 overlap matrix: map-side distinct, token-keyed pair join, no cartesian") {
    // the corpus collapses to DISTINCT (source, token) with a two-phase
    // aggregate before any join; the pair join is keyed on the token
    // (sources^2-bounded fan-out), never a cartesian of sources.
    // the distinct (source, token) reduce runs once at checkpoint
    // materialization; the FINAL plan must consume the cached
    // vocab-sized frame — zero corpus re-scans — and join pairs on the
    // token, never a cartesian of sources.
    val p = plan("q152_source_overlap")
    assert(p.contains("Scan ExistingRDD"), "pair join rides the checkpointed vocab frame")
    assert(count(p, "FileScan parquet") == 0, "no corpus re-scan in the pair/size lineages")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q153 equi-depth: refinement windows only — never a value-domain-wide pass") {
    // exactly two Window nodes: the coarse-bin cum (a ~500-cell frame)
    // and the per-boundary refine (PARTITION BY i over ≤1000-cell
    // frames). A third window — or one over the raw census ordered by
    // v — would mean the scalable path regressed to a global-sort
    // order statistic.
    val p = plan("q153_equidepth_histogram")
    assert(count(p, "Window [") == 2, "coarse cum + partitioned refine only")
    assert(p.contains("windowspecdefinition(i#"), "refine window is PARTITION BY boundary")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q154 join costing: censuses combine map-side, no cartesian") {
    val p = plan("q154_join_size_audit")
    assert(p.contains("partial_count"), "key censuses combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q155 charset profile: map-only seeding + one source aggregate") {
    // seeding/length/regex are all in the scan projection; the only
    // shuffle is the source-keyed two-phase aggregate. No joins.
    val p = plan("q155_charset_profile")
    assert(p.contains("partial_count"))
    assert(!p.contains("Join"))
    // one source-keyed exchange; the doc_id REPARTITION_BY_COL belongs
    // to documentsSpread's multi-split fixture, not this query
    assert(count(p, "Exchange hashpartitioning(source") == 1)
  }

  test("q156 association rules: basket distinct combines map-side, user-keyed pairs") {
    // the corpus collapses to DISTINCT (user, type) before the pair
    // self-join (per-user fan-out <= types^2); item counts broadcast
    // onto the types^2-bounded rule frame. No cartesian beyond the
    // 1-row user-total broadcast.
    val p = plan("q156_association_rules")
    assert(count(p, "HashAggregate(keys=[u#") >= 2 || count(p, "HashAggregate(keys=[user_id") >= 2,
      "basket distinct is two-phase")
    assert(!p.contains("CartesianProduct"))
  }

  test("q157 vocab drift: one exploded scan, conditional half-counts, TakeOrdered") {
    // early/late counts are conditional aggregates in ONE pass over the
    // exploded corpus; the half totals re-aggregate the vocab-sized
    // census; top-20 is TakeOrdered, never a global sort.
    // the census is localCheckpoint'ed (one exploded text pass at
    // materialization), so the FINAL plan must consume the cached
    // vocab-sized frame — zero text re-scans — and cut via TakeOrdered.
    val p = plan("q157_vocab_drift")
    assert(count(p, "ReadSchema: struct<doc_id:bigint,text:string>") == 0,
      "rates/totals must ride the checkpointed census, not re-scan text")
    assert(p.contains("Scan ExistingRDD"), "census consumed from the checkpoint")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q158 gap profile: lag and rank read-offs ride user partitions, TakeOrdered cut") {
    // every window is user-partitioned (no partition-less spec over
    // row-sized frames) and the report cut is TakeOrdered.
    val p = plan("q158_interevent_gaps")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("windowspecdefinition(gap"), "no global-gap window")
    assert(!p.contains("Join"))
  }

  test("q159 Theil-Sen: corpus reduces to daily cells before the pair join") {
    // the only corpus-touching stage is the daily groupBy at checkpoint
    // materialization; the pair self-join and slope ranking ride the
    // ~30-cell cached frame (days^2-bounded).
    val p = plan("q159_theil_sen_trend")
    assert(p.contains("Scan ExistingRDD"), "pair frame rides the checkpointed daily cells")
    assert(count(p, "FileScan parquet") == 0, "no events re-scan past the daily reduce")
  }

  test("q160 grouped OLS: power sums partial-aggregate, no joins") {
    // every Σ is a map-side partial over the (type, day) cells; the
    // per-type min-day window rides the same type partitioning.
    val p = plan("q160_grouped_ols")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    assert(!p.contains("Join"))
  }

  test("q161 Simpson diversity: two-level reduce + TakeOrdered, no joins") {
    val p = plan("q161_simpson_diversity")
    assert(p.contains("partial_count"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Join"))
  }

  test("q162 kappa: confusion cells checkpointed, downstream langs-sized") {
    // one corpus pass materializes the langs^2 confusion cells; the
    // po/pe/rows/cols lineages all consume the cached cells.
    val p = plan("q162_kappa_agreement")
    assert(p.contains("Scan ExistingRDD"), "stat lineages ride the checkpointed cells")
    assert(count(p, "FileScan parquet") == 0, "no documents re-scan past the cells")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q163 archetype census: associative bit_or reduce, mask-domain frames") {
    // per-user bit_or partial-aggregates map-side; everything after is
    // 2^5-bounded. No joins beyond the 1-row total broadcast.
    val p = plan("q163_archetype_census")
    assert(p.contains("partial_bit_or") || p.contains("bit_or"), "bitmask reduce combines map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q164 Gini: rank sums from the checkpointed census, no global sort") {
    // the revenue census materializes once; the rank-sum assembly uses
    // the coarse-bin offset window + a PARTITION BY bin within-cum —
    // never a partition-less window over the full census order, and no
    // orders re-scan past the census.
    val p = plan("q164_gini_concentration")
    assert(p.contains("Scan ExistingRDD"), "rank sums ride the checkpointed census")
    assert(count(p, "FileScan parquet") == 0, "no orders re-scan past the census")
    assert(p.contains("windowspecdefinition(bin#"), "within-cum is PARTITION BY bin")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q165 length quartiles: source-partitioned census windows, one corpus shuffle") {
    // the (source, n_chars) census is the only corpus-touching reduce
    // (map-side combined); the cum window and every quartile read-off
    // are PARTITION BY source over domain-sized frames.
    val p = plan("q165_length_quartiles")
    assert(p.contains("partial_count"), "length census combines map-side")
    assert(p.contains("windowspecdefinition(source#"), "cum is PARTITION BY source")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q166 top share: two-level desc cum, census never single-partition or broadcast") {
    // the desc-cum rides q164's two-level decomposition: the bounded
    // bin index carries the cum-above offsets (checkpointed), the
    // within-bin cum is PARTITION BY bin, and the k-cuts equi-join the
    // census on bin — the customer-sized census never collapses to one
    // partition and is never on the build side of a broadcast.
    val p = plan("q166_top_share")
    assert(p.contains("Scan ExistingRDD"), "Lorenz read-offs ride the checkpointed census")
    assert(count(p, "FileScan parquet") == 0, "no orders re-scan past the census")
    assert(p.contains("windowspecdefinition(bin#"), "within-cum is PARTITION BY bin")
    // every SinglePartition exchange must be the benign global-agg-final
    // kind (fed by a map-side partial aggregate — moves one row per
    // upstream partition); a census-wide Window/Sort collapse would
    // surface here as a SinglePartition NOT followed by partial_*.
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        assert(
          lines.drop(i + 1).headOption.exists(_.contains("partial_")),
          s"SinglePartition at plan line $i is not a partial-agg combine — " +
            "the customer-sized census must never collapse to one partition")
    }
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("s35 incremental refresh: one corpus scan, view joins the census broadcast") {
    // the conditional-aggregate census is the ONLY orders read (it
    // materializes at checkpoint time); the final report consumes the
    // cached bucket cells joined against the bucket-domain-sized
    // read-back view — zero corpus re-scans, no sort-merge machinery.
    val p = plan("s35_incremental_refresh")
    assert(p.contains("Scan ExistingRDD"), "report rides the checkpointed census")
    assert(count(p, "FileScan parquet") == 0, "no orders re-scan past the census")
    assert(p.contains("BroadcastHashJoin"), "read-back view broadcasts onto the census")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q167 round-number bias: map-side classify + 4-cell aggregate") {
    val p = plan("q167_round_number_bias")
    assert(p.contains("partial_count"), "ending census combines map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q168 sequence packing: two-level prefix sums, all windows partitioned") {
    // block offsets ride a PARTITION BY source window over the block
    // index; within-block cums are PARTITION BY (source, blk); no
    // partition-less window anywhere — the packing op never collapses
    // the corpus to one partition.
    val p = plan("q168_sequence_packing")
    assert(globalWindows(p) == 0, "packing prefix sums must stay partitioned")
    assert(p.contains("windowspecdefinition(source#"), "offsets are PARTITION BY source")
    assert(!p.contains("CartesianProduct"))
  }

  test("q169 mixture weights: source-domain census, no corpus re-scan") {
    val p = plan("q169_mixture_weights")
    assert(p.contains("Scan ExistingRDD"), "weights ride the checkpointed source census")
    assert(count(p, "FileScan parquet") == 0, "no documents re-scan past the census")
    assert(globalWindows(p) == 0)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q170 HLL: register lineages ride the checkpointed hash pass") {
    // one corpus hash pass materializes (doc, bucket, rank); the whole/
    // half register sets and the merge audit all consume the cached
    // frame — only the exact-count comparison side re-reads text.
    val p = plan("q170_hll_registers")
    assert(p.contains("Scan ExistingRDD"), "registers ride the checkpointed hash pass")
    assert(count(p, "FileScan parquet") == 1, "only the exact-count audit re-reads text")
    assert(globalWindows(p) == 0)
    assert(!p.contains("CartesianProduct"))
  }

  test("q171 bloom prune: literal-filter probe is map-side, fact never shuffles") {
    // the 67-word filter folds into a literal AND membership ground
    // truth is the closed-form keyset predicate evaluated on the fact
    // row, so the probe is pure projection + filter arithmetic; the
    // only join left is the 1-row key count. In particular no
    // BroadcastHashJoin: the r12/r13-flagged broadcast of the
    // corpus-scaling keyset must never come back.
    val p = plan("q171_bloom_prune")
    assert(!p.contains("BroadcastHashJoin"), "membership is map-side — no keyset join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(globalWindows(p) == 0)
  }

  test("q172 weighted sample: rates broadcast onto the corpus, keep is map-side") {
    // the 20-cell rate frame broadcasts back onto the corpus scan; the
    // keep decision is pure hash arithmetic — one corpus-keyed
    // aggregate after, no SortMergeJoin anywhere.
    val p = plan("q172_weighted_sample")
    assert(p.contains("Scan ExistingRDD"), "rates ride the checkpointed source census")
    assert(p.contains("BroadcastHashJoin"), "rate frame broadcasts onto the corpus")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(globalWindows(p) == 0)
  }

  test("q174 ANN recall audit: probe-bounded broadcasts only, no corpus-sized window partitions") {
    // every join side that isn't the corpus is probe-bounded (20 probes
    // / k·20 recall rows / 8-cell codebook) and broadcasts; the exact
    // ground truth's top-k is the SALTED two-level rank, so window
    // partitions are (probe, salt) then probe over ≤64·k survivors —
    // never one probe × the whole corpus in a single partition.
    val p = plan("q174_ann_recall")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(globalWindows(p) == 0)
    assert(p.contains("salt"), "exact top-k must keep the salted first level")
  }

  test("q175 packed-window emission: map-side explode after the span join, zero global windows") {
    // the window fan-out must stay an expression-level Generate
    // (sequence+explode) on the span lineage — output work ∝
    // n_docs + n_tokens/W with no shuffle after the block-keyed span
    // join, and both prefix-sum windows stay partitioned.
    val p = plan("q175_packed_windows")
    assert(p.contains("Generate explode"), "window fan-out must be an explode, not a join")
    assert(globalWindows(p) == 0)
    assert(!p.contains("CartesianProduct"))
  }

  test("q176 LSH recall audit: every non-corpus join side is sample-bounded and broadcast") {
    // exact ground truth is all-pairs WITHIN the id-capped sample
    // (≤512 docs at any SF) — the pair generation must stay a
    // broadcast of the capped sample, and the candidate/count sides
    // ride broadcasts too: no SortMergeJoin, no cartesian of anything
    // unbounded, zero global windows.
    val p = plan("q176_lsh_recall")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(globalWindows(p) == 0)
  }

  test("q177 quant recall: integer-dot ranking stays map-side, salted top-k both sides") {
    // both the float-exact and quantized rankings must ride the salted
    // two-level top-k (no corpus-sized window partitions), quantized
    // arrays are a map-side projection (no extra shuffle class), and
    // every non-corpus join side broadcasts.
    val p = plan("q177_quant_recall")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(globalWindows(p) == 0)
    assert(p.contains("salt"), "top-k must keep the salted first level")
  }

  test("q178 IVF+PQ: literal index metadata, 2-cell semi-join, map-side CASE scoring") {
    // the whole search must stay a scan of (cell, codes) + a broadcast
    // semi-join on the 2 probe cells + literal CASE scoring +
    // TakeOrdered — no SortMergeJoin, no corpus shuffle, no windows.
    val p = plan("q178_knn_ivfpq")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered, not a full sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(globalWindows(p) == 0)
  }

  test("q179 substring dedup: digest-keyed shuffle only, both windows partitioned, no gram re-explode for counts") {
    // the corpus-wide shuffle must carry (h, doc_id, pos) — the exploded
    // grams are touched exactly once (the n_grams side is a closed-form
    // projection, not a second explode), the first-occurrence window
    // partitions by the digest and the run-merge window by doc_id (no
    // partition-less window), and nothing shuffles raw text
    val p = plan("q179_substring_dedup")
    assert(count(p, "Generate posexplode") == 1, "grams must explode exactly once")
    assert(globalWindows(p) == 0)
    assert(count(p, "Window ") == 2, "first-occurrence + run-merge windows only")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q180 BPE tokenize: vocab-bounded encode, materialized per-doc table feeds the two-read span kernel") {
    // the 278-replace chain must run on the DISTINCT-word frame only
    // (vocab-bounded — never per word instance), and docSpansOf's two
    // reads must hit the materialized (ckpt'd) per-doc token table, not
    // re-run the explode + vocab-join lineage (both final-plan scans are
    // ExistingRDD); both span windows are source-partitioned
    val p = plan("q180_bpe_tokenize")
    assert(count(p, "Scan ExistingRDD") == 2, "span kernel must read the materialized td twice")
    assert(!p.contains("FileScan"), "no raw re-scan after materialization")
    assert(globalWindows(p) == 0)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q181 embed+recall: featurizer materialized once, searches ride the audited q174 shapes") {
    // the md5-per-gram featurization must be ckpt'd (downstream consumers
    // — codebook collects, assignment, probes, exact side — read the
    // materialized 64-float table, never re-hash text), the exact side
    // keeps the salted two-level top-k, probe-cell joins broadcast, and
    // no window is partition-less
    val p = plan("q181_embed_recall")
    assert(!p.contains("FileScan"), "no raw re-scan after featurization materializes")
    assert(p.contains("salt"), "exact ground truth must ride the salted two-level top-k")
    assert(globalWindows(p) == 0)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q183 substring curation: cover test stays doc-equi-keyed, windows partitioned") {
    // the word-cover anti-join must key on doc_id (range conditions as
    // post-filters) — a nested-loop over corpus-sized sides would be the
    // interval-join blowup; grams and words each explode once, both
    // windows ride the q179 partitions
    val p = plan("q183_substring_curation")
    assert(count(p, "Generate posexplode") == 2, "grams + words explode once each")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(globalWindows(p) == 0)
  }

  test("q184 BPE train: vocab-bounded censuses via TakeOrdered, argmax broadcast is one row") {
    // both pair censuses and the argmax must plan TakeOrdered (never a
    // global sort), and the only nested-loop join is the crossJoin of
    // the 1-row argmax merge onto the vocab (index-metadata class)
    val p = plan("q184_bpe_train")
    assert(count(p, "TakeOrderedAndProject") == 3, "it1 + argmax + it2 top-k via TakeOrdered")
    assert(count(p, "BroadcastNestedLoopJoin") == 1, "only the 1-row argmax broadcast")
    assert(globalWindows(p) == 0)
    assert(!p.contains("CartesianProduct"))
  }

  test("q185 semantic dedup: assignment materialized once, pair join cell-bounded") {
    // the argmax assignment must be ckpt'd (pair-join sides + census
    // read the materialized table — three consumers, one featurize),
    // the final plan reads NO raw files, the pair join is cell-keyed
    // (never a cross product), and no window is partition-less
    val p = plan("q185_semantic_dedup")
    assert(!p.contains("FileScan"), "no raw re-scan after the assignment materializes")
    assert(count(p, "Scan ExistingRDD") == 3, "census + both pair sides read the ckpt'd assignment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(globalWindows(p) == 0)
  }

  test("q186 cluster split guard: audit rides the pair table, 1-row audit broadcasts") {
    // the leakage audit joins the LSH-bounded pair table to the
    // assignment on doc_id (equi joins), the only nested-loop is the
    // 1-row audit broadcast onto the 3-row census, and the cluster
    // labels come from the memoized ckpt'd stage (no CC re-plan)
    val p = plan("q186_cluster_split_guard")
    assert(count(p, "BroadcastNestedLoopJoin") == 1, "only the 1-row audit broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(globalWindows(p) == 0)
  }

  test("q182 SQL surface: native kernels resolve by name, same plan class as the DataFrame forms") {
    // the SQL text must land on the SAME native codegen expressions the
    // DataFrame path uses (not a fallback), the bar aggregate must
    // partial-aggregate map-side before its one user_id shuffle, and
    // the embedding facet must stay a pushed-down map-only scan
    val df = SparkEntry.queries("q182_sql_functions")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // graft_ema sits in the final aggregate's RESULT expressions, which
    // the executed-plan one-liner elides — pin it on the optimized plan
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_ema("),
      "graft_ema must resolve to the native EmaFold")
    assert(p.contains("graft_dotf("), "graft_dotf must resolve to the native DotF")
    assert(p.contains("partial_"), "bar aggregate must map-side combine")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,32)]"),
      "embedding-facet filter must reach the parquet scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(globalWindows(p) == 0)
  }

  test("q189 trained classifier: weights ride the expression — zero joins, 3 exchanges, 3-col scan") {
    // the r16 contract: the LEARNED 64-int table is model metadata in
    // an array literal, so the apply pass keeps q187's no-join shape —
    // scan → explode → (doc_id, source) partial agg → source rollup →
    // final sort. The trainer's own 64-row left join runs inside the
    // bounded weight collect, never in this plan.
    val p = plan("q189_classifier_train")
    assert(count(p, "Join") == 0)
    assert(count(p, "Exchange") == 3)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"))
  }

  test("q190 unicode norm dedup: the normalizer is fused into the key expression — zero joins") {
    // styled twins are ROW-LOCAL (both keys computed in one projection),
    // so the collision audit plans no join at all; the only exchanges
    // are the spread, the distinct-census pair, and the final sort
    val p = plan("q190_unicode_norm_dedup")
    assert(count(p, "Join") == 0)
    assert(count(p, "Exchange") <= 4)
  }

  test("q191 top-p threshold: rank windows ride the census, share one source exchange, zero joins") {
    // the two-level discipline pinned structurally: the desc-cum and
    // partition-total windows sit on ONE source-keyed exchange over the
    // (source, logit) CENSUS (docs collapsed first), and the threshold
    // rollup reuses that partitioning — no join anywhere, and exactly
    // 3 exchanges total (doc logits, the census on the windows' source
    // exchange, final sort)
    val p = plan("q191_quality_topk_threshold")
    assert(count(p, "Join") == 0)
    assert(count(p, "Exchange") == 3)
    assert(count(p, "Window") == 2)
  }

  test("q196 gopher coverage: one gram census, doc-keyed join-back, 2-col scan") {
    // ONE (doc_id, gram) partial-agg shuffle feeds the doc rollup; the
    // join back to the (doc_id, n_chars) projection is doc-keyed (the
    // estimator picks broadcast at sf0.001 — either shape is keyed,
    // never a cartesian); the scan reads exactly doc_id + text
    val p = plan("q196_gopher_coverage")
    assert(count(p, "Join") == 1)
    assert(count(p, "NestedLoop") == 0)
    assert(globalWindows(p) == 0)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q197 surprisal filter: ckpt'd census reused, one vocab join, no global windows") {
    // the (doc_id, w) census is checkpointed once (ONE corpus explode —
    // the pre-ckpt lineage is pinned by the board-wide budget sweep);
    // the final plan joins that census to the vocab frame on w and
    // rolls up per doc — exactly one join, zero windows
    val p = plan("q197_surprisal_filter")
    assert(count(p, "Join") == 1)
    assert(count(p, "NestedLoop") == 0)
    assert(globalWindows(p) == 0)
  }

  test("q198 filter ablation: flags map-side, one pkey window, gate-domain rollup, no joins") {
    // every gate flag incl. the classifier logit is computed in the
    // scan projection (integer aggregate() HOF — no explode of words,
    // no weight join); the dedup flag is ONE partitioned pkey window;
    // the report groupBy runs over the map-side exploded gate structs
    val p = plan("q198_filter_ablation")
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 1)
    assert(globalWindows(p) == 0)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"))
  }

  test("q199 padding efficiency: 1-row frames crossJoin-broadcast, no row-sized join, no windows") {
    // the two aggregates collapse to 1-row frames before any join —
    // every join in the plan is a broadcast of a 1-row side (the
    // report construction), never a row-keyed shuffle join
    val p = plan("q199_padding_efficiency")
    assert(count(p, "SortMergeJoin") == 0)
    assert(count(p, "ShuffledHashJoin") == 0)
    assert(globalWindows(p) == 0)
  }

  test("q200 curation diff: both versions' flags on one scan, zero joins, source rollup") {
    // v1/v2 share the feature projection (nw/ndw/logit computed once);
    // the only exchanges are the ~20-group source rollup and the final
    // sort — one corpus read for a two-version diff
    val p = plan("q200_curation_diff")
    assert(count(p, "Join") == 0)
    assert(count(p, "Exchange") <= 2)
    assert(globalWindows(p) == 0)
    assert(p.contains("ReadSchema: struct<text:string,lang:string,source:string>"))
  }

  test("q201 IVF quality: codebook is a literal broadcast leaf, cell-bounded joins, no global windows") {
    // the codebook rides as LocalTableScan -> broadcast; the
    // assignment argmax is the vec_id-PARTITIONED window the assign
    // kernel always plans (never global); the one shuffle join is the
    // 8-row codebook <- rollup left join (cell-domain-bounded)
    val p = plan("q201_ivf_quality")
    assert(count(p, "SortMergeJoin") <= 1)
    assert(count(p, "LocalTableScan") >= 1)
    assert(globalWindows(p) == 0)
  }

  test("q203 cluster histogram: label join then domain-collapsing rollups, no windows") {
    // labels come from the memoized component stage (Scan ExistingRDD
    // after ckpt); after the doc_id-keyed label join every frame is
    // cluster- then size-domain-bounded — zero windows in the final
    // plan, the only joins are the label join + the 1-row total
    // broadcast
    val p = plan("q203_dedup_cluster_stats")
    assert(count(p, "Window") == 0)
    assert(globalWindows(p) == 0)
    assert(count(p, "BroadcastNestedLoopJoin") <= 1) // the 1-row total
  }

  test("q204 tokenizer fertility: the ckpt'd census feeds both consumers — zero Generates in the final plan") {
    // the (lang, word) census is checkpointed (the corpus explode runs
    // ONCE, at ckpt time — covered by the board-wide ckpt sweep); both
    // the distinct-vocab encode and the join read Scan ExistingRDD, so
    // the final plan carries no Generate at all
    val p = plan("q204_tokenizer_fertility")
    assert(count(p, "Generate") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q205 keep-best rep: logits map-side, cluster-bounded argmax, no windows") {
    // the logit is an aggregate() HOF in the scan projection (no
    // Generate anywhere — words never explode); the two-pass argmax
    // (max join-back, min-id among maxima) runs over cluster-domain
    // frames; no window operator appears
    val p = plan("q205_quality_rep_dedup")
    assert(count(p, "Generate") == 0)
    assert(count(p, "Window") == 0)
    assert(globalWindows(p) == 0)
  }

  test("q202 waterfill: one census aggregate feeds the driver-side allocator — a local-relation result") {
    // the output frame is the allocator's literal rows (LocalTableScan
    // + sort): the corpus work happened in the collected census, and
    // no join/window/exchange beyond the final sort appears
    val p = plan("q202_token_budget_waterfill")
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
    assert(count(p, "LocalTableScan") == 1)
  }

  test("q206 bloom incremental dedup: ckpt'd marked table feeds all consumers — only 1-row broadcasts in the final plan") {
    // the 265-word Bloom filter folded into the ckpt-time probe
    // projection as a literal array; the final plan reads the
    // materialized (doc_id, pkey, pass, mem) table, aggregates it four
    // ways, and joins nothing but the three 1-row broadcast frames;
    // the kept windows are pkey-partitioned, never global
    val p = plan("q206_bloom_incremental_dedup")
    assert(globalWindows(p) == 0)
    assert(count(p, "BroadcastNestedLoopJoin") <= 3)
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("q207 diversity sample: ckpt'd ranked table reused by census + selection; no Generate, no global windows") {
    // assignment argmax + rank window run once at ckpt time; the final
    // plan is two aggregates over Scan ExistingRDD, a cell-domain
    // (≤8-row) quota join, and the 1-row totals broadcast
    val p = plan("q207_cluster_diversity_sample")
    assert(globalWindows(p) == 0)
    assert(count(p, "Generate") == 0)
    assert(count(p, "BroadcastNestedLoopJoin") <= 1)
  }

  test("q208 band sweep: sample-bounded — every join broadcasts, no sort-merge anywhere") {
    // the ≤512-doc sample is ckpt'd; band self-join, truth cross join,
    // recovery join and the 1-row n_true frame all ride broadcast
    val p = plan("q208_lsh_band_sweep")
    assert(globalWindows(p) == 0)
    assert(count(p, "SortMergeJoin") == 0)
  }

  test("q210 cardinality estimate: the metadata math lands as a local relation — corpus work happened in the censuses") {
    // row counts, register collects, and the true-join audit all run
    // before the frame is built; the result plan is the allocator
    // class (q202): one LocalTableScan, no join, no window
    val p = plan("q210_join_cardinality_estimate")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q211 bucketed agg: measured-constants local relation, like q210") {
    val p = plan("q211_bucketed_colocated_agg")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q226 build skew split join: decision math lands as a local relation — q210's class") {
    // staging + stats + both audited joins execute before the frame;
    // the DECISION reads col_topk/col_ndv (build) + col_cms (probe)
    val p = plan("q226_build_skew_split_join")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q225 pair stat routed: decision math lands as a local relation — q210's class") {
    // staging + stats writes + the audited joins execute before the
    // frame; the DECISION consumes only col_ndv rows (pair families on
    // log A, singles on log B) + manifest counts
    val p = plan("q225_pair_stat_routed")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q224 composite key ndv: pair math lands as a local relation — q210's class") {
    val p = plan("q224_composite_key_ndv")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q223 salt factor audit: factor math lands as a local relation — q210's class") {
    // the factor variants execute (streamed censuses + ONE fused
    // exploded (factor, key, salt) grouping) before the frame is built
    val p = plan("q223_salt_factor_audit")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q222 persisted strategy decision: decision math lands as a local relation — q210's class") {
    // the staged writes + stats jobs + audited joins run before the
    // frame; the DECISION reads are log-metadata queries, never a plan
    val p = plan("q222_persisted_strategy_decision")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q221 join strategy decision: decision math lands as a local relation — q210's class") {
    // the three audited joins execute (streamed censuses) before the
    // frame is built; the decision tree is driver-side integer math
    val p = plan("q221_join_strategy_decision")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q220 cms frequency stats: probe math lands as a local relation — q210's class") {
    // the staged write + one stats job run before the frame; the probe
    // estimates are driver-side min-lookups over the ≤256-cell merged
    // sketch read from the log
    val p = plan("q220_cms_frequency_stats")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q219 estimator regression: regime math lands as a local relation — q210's class") {
    // the per-regime censuses, counts, and streamed true-join counts
    // all run before the frame is built; the estimator arithmetic is
    // driver-side integer math over those results
    val p = plan("q219_estimator_regression")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q218 skew salt decision: decision math lands as a local relation — q210's class") {
    // the staged write, the one stats job, the audited joins, and the
    // load-split censuses all run before the frame is built; the
    // DECISION reads (merged top-1 + registers + manifest counts) are
    // metadata queries through the log, never a Spark plan
    val p = plan("q218_skew_salt_decision")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q217 sketch overlap sizing: metadata math lands as a local relation — q210's class") {
    val p = plan("q217_sketch_overlap_sizing")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q216 broadcast decision: metadata math lands as a local relation — q210's class") {
    val p = plan("q216_broadcast_decision")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q215 pruned-scope NDV: metadata math lands as a local relation — q210's class") {
    val p = plan("q215_pruned_scope_ndv")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q214 join-order audit: metadata math lands as a local relation — q210's class") {
    val p = plan("q214_join_order_audit")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("q212 colstat NDV estimates: metadata math lands as a local relation — q210's class") {
    // true-join audits, the staged writes, and the ≤512-cell stats job
    // all run before the frame is built; both estimator reads are
    // ≤64-row metadata merges through the log, never a Spark plan
    val p = plan("q212_colstat_ndv_estimates")
    assert(count(p, "LocalTableScan") == 1)
    assert(count(p, "Join") == 0)
    assert(count(p, "Window") == 0)
  }

  test("global-window budget: BOARD-WIDE — every partition-less window is an enumerated bounded frame") {
    // the silence-by-boundedness contract (r11 verdict item 6), made
    // board-wide (r13 verdict item 2): the bench tail's WindowExec
    // warnings must only ever come from THESE reviewed windows, each
    // over a frame bounded by a value/time domain, never by corpus
    // rows. Every other final plan on the board — all of Registry.all,
    // batch and streaming alike — must plan ZERO partition-less
    // windows, so a new one (or one resurfacing after a checkpoint
    // refactor, the round-11 q166 failure mode) fails here by NAME
    // instead of relying on per-author discipline.
    // counts are (final plan, checkpoint-time lineages) — the second
    // number covers plans that RUN at `ckpt()` time and are invisible
    // in the final plan (they show as `Scan ExistingRDD` there); see
    // `ops/Ckpt.scala`. Both numbers are reviewed-bounded inventories.
    val allow = Map(
      "q144_quantile_sketch" -> ((2, 0)), // cum + located-bin over the ≤49k-cell cents census
      "q153_equidepth_histogram" -> ((1, 0)), // coarse-bin cum over the bounded bin histogram
      "q159_theil_sen_trend" -> ((2, 1)), // median rank + count over the ≤435 day-pair slopes; ckpt-time dense_rank over the ~30-cell daily census
      "q164_gini_concentration" -> ((1, 0)), // desc cum over the bounded 10k-dollar bin index
      // the two below were FOUND BY THIS SWEEP when it went board-wide
      // (r14) — both reviewed bounded, neither was in the old 10-name
      // enumerated budget:
      "q97_rrf_hybrid" -> ((2, 0)), // rank row_numbers over the two top-50-truncated lists
      "s33_stream_quantile" -> ((2, 0)), // cums over the ≤512-cell merged sketch + cents census
      // checkpoint-lineage windows (second slot) — each runs over a
      // value-domain-bounded frame at ckpt() time:
      "q166_top_share" -> ((0, 1)) // r11's escapee: asc cum over the bounded revenue-bin index
    )
    // Ckpt's recording queue is process-global, so per-query (final,
    // ckpt) attribution must be made order-independent two ways:
    //   1. the dir-memoized shared stages (signature index, cluster
    //      labels, q81 base labels) fire their ckpt()s on FIRST touch in
    //      the JVM — whether that lands inside this sweep (and on which
    //      query) depends on which suites ran earlier. Clearing the memo
    //      caches here makes the sweep always run COLD, so first-touch
    //      lineages are attributed deterministically to the first
    //      Registry-order toucher (all such lineages plan zero global
    //      windows, so the allowlist pairs hold cold or warm — but a
    //      future offending memoized lineage now fails the same way
    //      every run instead of only when suite order exposes it).
    //   2. no ckpt() may run CONCURRENTLY with the sweep: suites execute
    //      sequentially in the forked test JVM (Test/fork with sbt's
    //      default testForkedParallel=false), and each streaming query's
    //      foreachBatch ckpts run to completion inside its own recorded
    //      segment (the batch-materialized streaming demos block until
    //      the stream drains). Enabling parallel suite execution would
    //      invalidate this test.
    queries.DedupQueries.clearStageCaches()
    val offenders = queries.Registry.all.flatMap { q =>
      ops.Ckpt.startRecording()
      val fin = globalWindows(plan(q.name))
      val ck = ops.Ckpt.stopRecording().map(globalWindows).sum
      val (wantFin, wantCk) = allow.getOrElse(q.name, (0, 0))
      if ((fin, ck) != ((wantFin, wantCk)))
        Some(s"${q.name}: ($fin final, $ck checkpoint-lineage) partition-less windows" +
          s" (want ($wantFin, $wantCk))")
      else None
    }
    assert(offenders.isEmpty,
      s"unreviewed global windows — review boundedness or extend the allowlist:\n  ${offenders.mkString("\n  ")}")
    // the allowlist itself must stay live: an entry for a query that no
    // longer plans that many global windows is stale review baggage.
    assert(allow.keySet.subsetOf(queries.Registry.all.map(_.name).toSet))
  }
}
