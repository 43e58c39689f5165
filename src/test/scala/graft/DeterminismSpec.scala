package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partitioning-invariance sweep: the scale property the golden hashes
  * alone cannot show. A 1000-executor cluster lays data out differently
  * than local[4] — different shuffle partition counts, different partial-
  * aggregation grouping, different merge order. Every declared query must
  * produce BIT-IDENTICAL results regardless, or its determinism contract
  * (SURVEY.md: order-free integer/DECIMAL aggregates, explicit fold
  * orders, total output ordering) has a hole that only shows up in
  * production.
  *
  * Mechanics: each sampled query runs under the shared TestSpark session
  * (shuffle.partitions=4, AQE on) and under a sibling session — same
  * SparkContext, independent SQL conf — with a co-prime partition count
  * (7) and AQE OFF (different plan shapes, same semantics). The two
  * canonical hashes must match exactly. The sample spans the numerically
  * delicate families: IEEE fold recurrences, DECIMAL money sums,
  * integer-quantized graph iteration, multi-distinct Expand, window
  * frames, LSH pair generation, partial-state merge.
  */
class DeterminismSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val alt = GraftSession.derive(TestSpark.spark,
    "spark.sql.shuffle.partitions" -> "7", "spark.sql.adaptive.enabled" -> "false")

  private def canonical(v: Any): String = v match {
    case d: Double => if (d == 0.0) "0" else java.lang.Double.toString(d)
    case x => String.valueOf(x)
  }

  private def hashUnder(session: org.apache.spark.sql.SparkSession, name: String): (Long, String) = {
    val rows = SparkEntry.queries(name)(session, dir).collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(r.toSeq.map(canonical).mkString("|").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private val sample = Seq(
    "q18_features_full",      // IEEE fold recurrence lineage (EMA/autocorr)
    "q56_pricing_summary",    // DECIMAL money-sum discipline
    "q34_minhash_pairs",      // LSH band pair generation
    "q101_pagerank_dupgraph", // integer-quantized iterative graph
    "q110_stat_moments",      // exact BIGINT power sums
    "q103_rolling_range_window", // RANGE-frame window
    "q129_triangle_count",    // oriented wedge joins
    "q130_stratified_sample", // per-stratum rank selection
    "q133_stats_manifest",    // Expand-based multi-distinct
    "q134_ivm_agg",           // cross-batch partial-state merge
    "q137_multigrain_bars",   // grouping-sets Expand, min_by/max_by grains
    "q136_winsorized_stats",  // rank-discrete cuts + integer clamp mean
    "q140_benford_audit",     // floor-cents digits, literal expectations
    "q143_deletion_propagation", // broadcast anti-join cascade + residual probes
    "q144_quantile_sketch",   // mergeable bin counts, domain-bounded cum windows
    "q145_mad_outliers",      // per-type rank read-offs on domain censuses
    "q146_decayed_engagement", // shift-based fixed-point decay, TakeOrdered cut
    "q148_manifest_diff",     // order-insensitive modular digests, one-scan snapshot diff
    "q150_session_attribution", // shared-WindowExec sessionization + min_by first touch
    "q152_source_overlap",    // token-keyed pair join, integer Jaccard
    "q153_equidepth_histogram", // sketch-guided boundary refinement read-offs
    "q154_join_size_audit",   // census-product costing vs executed join
    "q156_association_rules", // basket pairs, integer lift/confidence
    "q158_interevent_gaps",   // per-user rank read-offs on lag gaps
    "q160_grouped_ols",       // integer power-sum regression
    "q164_gini_concentration", // decimal-exact census rank sums
    "q166_top_share",         // two-level desc-cum + bin-resolved k-cuts (r12 rebuild)
    "q168_sequence_packing",  // two-level ORDER prefix sums — the partition-sensitive shape
    "q170_hll_registers",     // register max-merge + integer harmonic estimate
    "q171_bloom_prune",       // bit_or word aggregate + literal-filter probe
    "q172_weighted_sample",   // hash-Bernoulli keep + broadcast rates
    "q174_ann_recall",        // salted two-level top-k + recall joins (r14)
    "q175_packed_windows",    // span explode over the ORDER prefix sums (r14)
    "q176_lsh_recall",        // in-sample set intersections + banded candidates (r14)
    "q177_quant_recall",      // integer-dot ranking + salted top-k (r14)
    "q187_quality_classifier", // hashed-bucket weight sums under partial-agg merge (r15)
    "q189_classifier_train",  // trained-weight bounded collect + literal-table apply (r16)
    "q190_unicode_norm_dedup", // explicit-mapping unicode norm keys + distinct census (r16)
    "s45_changelog_feed",     // full-outer change classification over file diffs (r15)
    "s48_partition_evolution", // cross-spec pruned census vs full predicate answer (r15)
    "s49_position_deletes",   // ordinal-scoped masks + both-kinds compaction (r16)
    "s50_column_evolution",   // field-id projection across schema generations (r16)
    "s51_snapshot_rollback",  // AS-OF resolution + history-preserving restore (r16)
    "q191_quality_topk_threshold", // census-level desc-cum rank cuts per source (r16)
    "q192_shard_export",      // hash-permutation shards + bp mixing deviations (r17)
    "s52_stats_skipping",     // min/max-stats planning + clustering rewrite censuses (r17)
    "s53_metadata_tables",    // log-metadata rollups + truth-audit read censuses (r17)
    "s54_snapshot_tags",      // ref-retained expiry + tag-resolved read censuses (r17)
    "q193_curation_funnel",   // map-side gate flags + prefix-key dedup window (r17)
    "q194_incremental_dedup", // fingerprint-store anti-join + increment dedup window (r17)
    "s55_commit_constraints", // stats-validated reject + clean-retry censuses (r17)
    "q195_dataset_card",      // modular content digests + packed-key lang argmax (r17)
    "s56_cdc_apply",          // manifest-diff changelog apply + replica censuses (r17)
    "q196_gopher_coverage",   // char-coverage repetition bp + keep gates (r17)
    "s57_zorder_skipping",    // 2-D stats pruning under both layouts (r17)
    "q197_surprisal_filter",  // integer half-bit LM scores + bucket cuts (r17)
    "q198_filter_ablation",   // independent gate flags + unique-kill census (r17)
    "s58_binpack_compaction", // metadata-planned rewrite + carried-file audit (r17)
    "s59_stream_quality_monitor", // per-epoch gate censuses + breach floor (r17)
    "q199_padding_efficiency", // per-L ceil sums under both batching regimes (r17)
    "s60_commit_retry_rebase", // stale-parent reject + rebase commit censuses (r17)
    "q200_curation_diff",     // two-version gate flags + churn rollup (r17)
    "q201_ivf_quality",       // per-cell affinity censuses off the trained codebook (r17)
    "q202_token_budget_waterfill", // exact integer water-filling over the kept census (r17)
    "s61_stream_autocompact", // ingest-fused compaction + per-snapshot censuses (r17)
    "q203_dedup_cluster_stats", // component-size histogram off the memoized labels (r17)
    "q204_tokenizer_fertility", // vocab-bounded BPE encode + lang census ratios (r17)
    "q205_quality_rep_dedup", // max-logit/min-id rep argmax off the memoized labels (r17)
    "q213_ann_mrr",           // ranked salted top-k + reciprocal-rank joins (r18)
    "q219_estimator_regression" // six-regime estimator sweep, signed err_bp per regime (r19)
  )

  /** Queries whose lineage consumes dir-memoized, localCheckpoint'ed
    * frames (signatureIndex / componentLabels): without clearing, the alt
    * run would re-read a frame MATERIALIZED under the base session's
    * layout, and the sweep would exercise less of those plans than it
    * claims. Clearing before each run makes each session re-plan and
    * re-materialize the cached stages under its own conf.
    */
  private val cacheBacked =
    Set("q34_minhash_pairs", "q101_pagerank_dupgraph", "q129_triangle_count",
      "q176_lsh_recall", "q203_dedup_cluster_stats", "q205_quality_rep_dedup")

  sample.foreach { name =>
    test(s"$name is invariant under repartitioning (4→7) and AQE off") {
      val clear = cacheBacked.contains(name)
      if (clear) graft.queries.DedupQueries.clearStageCaches()
      val base = hashUnder(TestSpark.spark, name)
      if (clear) graft.queries.DedupQueries.clearStageCaches()
      val swept = hashUnder(alt, name)
      // leave a clean slate so later suites rebuild under the base session
      if (clear) graft.queries.DedupQueries.clearStageCaches()
      assert(base == swept, s"$name diverged under a different physical layout")
    }
  }
}
