package graft

import graft.ops.Tables
import graft.pipeline.Features
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end snapshot (SURVEY.md §5.2.5): the flagship q18
  * pipeline over sf0.001 events, hashed canonically. Any change to §2.3
  * semantics must regenerate this hash AND be recorded in SURVEY.md §2.4.
  */
class GoldenSpec extends AnyFunSuite {

  private def canonical(v: Any): String = v match {
    case d: Double => if (d == 0.0) "0" else java.lang.Double.toString(d) // normalize -0.0
    case x => String.valueOf(x)
  }

  private def queryHash(name: String): (Long, String) = {
    val rows = SparkEntry.queries(name)(TestSpark.spark, "/root/testdata/sf0.001").collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(r.toSeq.map(canonical).mkString("|").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  test("q59 dedup components sf0.001 golden hash") {
    assert(queryHash("q59_dedup_components") == ((500L, "0ddc91f0a53cf06ca4276531ab23f4e5")))
  }

  test("q67 PQ search sf0.001 golden hash") {
    assert(queryHash("q67_knn_pq") == ((5L, "02a7ae9d3d1e9467c6f4cfa3e9f58743")))
  }

  test("q68 simhash near-dup (60-bit block-triple banding) sf0.001 golden hash") {
    assert(queryHash("q68_simhash_neardup") == ((25L, "a7f1090c8b4b00ab45667329b147317c")))
  }

  test("round-6 additions sf0.001 golden hashes") {
    assert(queryHash("q81_curation_incremental") == ((500L, "2ded5adad9a8cf8e88c7b8eede73439d")))
    assert(queryHash("q82_repetition_ratio") == ((500L, "a53dc8b487a4197f22ad5e035309f8f1")))
    assert(queryHash("q83_doc_chunks") == ((1388L, "cd849e84e753c1d33f883077a7b97f74")))
    assert(queryHash("q84_norm_fingerprint") == ((500L, "bed8d3bdb48262d4ae18554222b3d91f")))
    assert(queryHash("q85_split_contamination") == ((4L, "04b437a199a36cf34e6bc6d961e1e611")))
  }

  test("round-8 additions sf0.001 golden hashes") {
    assert(queryHash("q89_sketch_census") == ((20L, "db80116375d4aca768728390c2b620ce")))
    assert(queryHash("q90_gap_fill") == ((449L, "f9d72ea29d301fa36fd18004ee0e19cc")))
    assert(queryHash("q91_grouping_sets") == ((12L, "c9cc5951c15c8159c55fce0913c73740")))
    assert(queryHash("q92_bm25") == ((20L, "60e2078d24df8a6d2f5003a1e10757db")))
    assert(queryHash("s16_stream_stream_join") == ((6L, "2d7708b748f448944768474efb0bb95d")))
    // the live-appender read-back census (incl. live_appender=true and
    // the pinned DDL literal) — a driver-jar regression changes the hash
    assert(queryHash("s01_duckdb_sink") == ((1L, "1c84134e964713b5398b53c6c1be04d3")))
    assert(queryHash("s17_stream_dedup_bounded") == ((15L, "56ce674b695a98301b961e3337a203d1")))
    assert(queryHash("q93_fuzzy_vocab") == ((7L, "b131d481c309024ccf34dff1bab7f970")))
    assert(queryHash("q94_csv_roundtrip") == ((1L, "72db24dee3837cde9b8842168df69e80")))
    assert(queryHash("q95_orc_pushdown") == ((1L, "689f245975ae35fd613d6e3cadd943b5")))
  }

  test("round-9 additions sf0.001 golden hashes") {
    assert(queryHash("q96_latest_event") == ((15L, "fbbced7c8a40a2d67c8fb7417ed1b442")))
    assert(queryHash("q97_rrf_hybrid") == ((10L, "6c59ade1adcc7de3a4687815b7d6a463")))
    assert(queryHash("q98_gram_containment") == ((15L, "e84d5fa5b3d00e3bbbf782757fe9286e")))
    assert(queryHash("q99_phrase_mining") == ((20L, "a493940518e23b1b65f3d340f98b6320")))
    assert(queryHash("q100_heavy_hitters_cms") == ((10L, "6a8b688c23e5eaccdb70a7bbc5ce803e")))
    assert(queryHash("q101_pagerank_dupgraph") == ((20L, "50058ee1fcd6514fe4d4520ccc32335b")))
    assert(queryHash("q102_split_assign") == ((15L, "6a73a03b34b5f48000a11a263d616451")))
    assert(queryHash("s18_stream_static_join") == ((4L, "a6b29ab1c4a4455598f1fbd95e714a7c")))
    assert(queryHash("s19_dynamic_pruning") == ((1L, "a53e32d6ccc32ebbdc2e6cfa640e766a")))
    assert(queryHash("q103_rolling_range_window") == ((1000L, "3b7483d058f4ab2d263833dbcf75f129")))
    assert(queryHash("s20_aqe_skew_join") == ((1L, "c4b909c833e687c052771fbc552177cf")))
    assert(queryHash("q104_mixture_sample") == ((539L, "4a585c4957f7178d736b1e293cda4a17")))
    assert(queryHash("q105_lexical_commonness") == ((500L, "94f48ca398ca6729be96f924d3521f2b")))
    assert(queryHash("s21_stream_session_windows") == ((789L, "b6c4a512a301aa21ba49fc6194a9f177")))
    assert(queryHash("q106_schema_evolution") == ((5L, "2055d0cba27a8cba53d797e839259c93")))
    assert(queryHash("q107_unpivot") == ((45L, "2a9bb324c09c692f671e7e0debf82f95")))
    assert(queryHash("s22_checkpoint_recovery") == ((15L, "295e172d9ad3fc2b8c896202800d181f")))
    assert(queryHash("q108_cdc_apply") == ((28L, "fe711b52a085f940ec61006b9272cad8")))
    assert(queryHash("s23_update_mode") == ((15L, "12cface8f08a5b88df46ccb319d29f32")))
    assert(queryHash("s24_transform_with_state") == ((15L, "ce7a4e15b114a32b0d560003e8f9ed81")))
    assert(queryHash("q109_pii_redaction") == ((500L, "f5b6ac62bdef565e060df3d4c496db31")))
    assert(queryHash("q110_stat_moments") == ((5L, "af6c2bcd687275054b1f9524c1eb0ba0")))
    assert(queryHash("q111_image_phash") == ((165L, "b6299cd4e3783421a58e5a94de51a657")))
    assert(queryHash("s25_timer_finalize") == ((369L, "20640a7503dccc34da95abc41f175fa3")))
    assert(queryHash("q112_funnel_triples") == ((125L, "8f4ec15a853885d80a822fbdd512fbf1")))
    assert(queryHash("q113_cohort_retention") == ((5L, "9ee14b994e6820200ca52831e9129446")))
    assert(queryHash("s26_initial_state") == ((15L, "b5e20c281eb213c035f37f50c2f6f82f")))
    assert(queryHash("q114_scd2_history") == ((1000L, "b8c3829e73feeeacadf2650dfdfbcdc6")))
    assert(queryHash("q115_zorder_key") == ((36L, "b8468f97db6b3b6be8ecdf2d8662b026")))
    assert(queryHash("q116_dist_rank_family") == ((1000L, "068ea7466f7372f7675b235be1e055f6")))
    assert(queryHash("q117_jsonl_quarantine") == ((6L, "44427aaa60189ccfab10cf0da5300130")))
    assert(queryHash("s27_stream_outer_join") == ((6L, "979a237422f97313431c5f7d0cd75fd6")))
    // same 369/20640a75… as s25 BY DESIGN: chained built-ins ≡ timer code
    assert(queryHash("s28_chained_stateful") == ((369L, "20640a7503dccc34da95abc41f175fa3")))
    assert(queryHash("q118_drift_chi2") == ((5L, "44159aa2165c05f05b557212db051b7c")))
    assert(queryHash("q119_next_event_gap") == ((7L, "a4e08d4d14e8a6962de0b74852993cae")))
    assert(queryHash("q120_hopping_window") == ((457L, "b9b3d11a8e90c562b6d1bcd998b9f820")))
    // q121 hash updated round 10: postings serialized comma-joined (the
    // harness compare cannot hash native array cells), values unchanged
    assert(queryHash("q121_inverted_index") == ((31L, "ef10d5879c1d5ca337e08535c4995b87")))
    assert(queryHash("q122_tfidf_cosine_pairs") == ((300L, "7a4336c6e3ef421a7a9f1a600a2a9968")))
    assert(queryHash("q123_binary_ingest") == ((500L, "f9d2471af0fc456078b650d09274e93a")))
    assert(queryHash("q124_xml_roundtrip") == ((1L, "8bba4cedc800aa03557fa744efeef0ca")))
    assert(queryHash("q125_chunk_dedup") == ((500L, "d2175fe70a61442efc546031c5897434")))
    assert(queryHash("s29_observe_metrics") == ((1L, "bb8193351b0aa58109c3c16d2eb86ce8")))
    assert(queryHash("q126_bigram_lm") == ((20L, "30fd40229d2023dad021638788db9353")))
    assert(queryHash("q127_fk_audit") == ((7L, "8efde9f4cfd386f35e742118a9d0a68e")))
    assert(queryHash("s30_stream_upsert") == ((15L, "7055f66b0423df8f68ac949a7165f007")))
  }

  test("round-10 additions sf0.001 golden hashes") {
    assert(queryHash("q129_triangle_count") == ((7L, "3194e28bcc402c7708ea9701bfd87815")))
    assert(queryHash("q130_stratified_sample") == ((102L, "1c48f6e3048e1bbf15747e6baadbf4ad")))
    assert(queryHash("q131_compaction_plan") == ((44L, "799944ee60c8511a5eca03cee955e944")))
    assert(queryHash("q132_interval_overlap") == ((30L, "27660ed825bde1513fd62826d2b8c5c2")))
    assert(queryHash("q133_stats_manifest") == ((20L, "b967df035e9f332f241ec5e22b08454d")))
    // torn_healed=TRUE is inside this hash: the injected torn fanout and
    // its ledger-diff heal must actually happen on every run
    assert(queryHash("s32_fanout_sinks") == ((15L, "63f069002a8b49022d85909972be38de")))
    // ivm_ok=TRUE is inside this hash: the merged partial states must
    // equal the from-scratch aggregate bit-for-bit
    assert(queryHash("q134_ivm_agg") == ((3L, "d6b5a6add8e57b83f7e959a404d62b5f")))
    assert(queryHash("q135_lateral_topk") == ((60L, "80cbee09e85cc9b54e8e782c853205e1")))
    assert(queryHash("q136_winsorized_stats") == ((5L, "0c7562d7b67a6e093bc7fe5b1652562d")))
    assert(queryHash("q137_multigrain_bars") == ((1348L, "0070b514e881a58217df36632c8a3c24")))
    assert(queryHash("q138_k_anonymity") == ((93L, "67374e225878282fc408e853ba1a2eb0")))
    assert(queryHash("q139_langid_confusion") == ((10L, "76c9331be46f92ea0686aee7bd8144db")))
    assert(queryHash("q140_benford_audit") == ((9L, "84c3be3610220ad415af274fd32d75b6")))
    assert(queryHash("q141_transition_matrix") == ((8L, "4fbee4cf1092f5f62f21b3fde7d41362")))
  }

  test("round-11 additions sf0.001 golden hashes") {
    // cascade_ok=TRUE and residual_refs=0 are inside this hash: the
    // FK cascade and its independent residual probe must both hold
    assert(queryHash("q143_deletion_propagation") == ((3L, "be2958a68ed73f5652a3e1999ec95e96")))
    // contained=TRUE is inside this hash: the true order statistic must
    // land inside the sketch's estimated bin on every quantile
    assert(queryHash("q144_quantile_sketch") == ((3L, "3c1e92acf00fbd9547d19e6ce1577c64")))
    // second round-11 batch: robust outliers / decayed engagement / skew advisor
    assert(queryHash("q145_mad_outliers") == ((5L, "162236e1d54e5c8e8e20507c85f27137")))
    assert(queryHash("q146_decayed_engagement") == ((15L, "e11231902fc21846d5de4fa5dfd038f1")))
    assert(queryHash("q147_skew_advisor") == ((3L, "ef905d540282247c9c054b4f034a2d86")))
    // fourth round-11 batch: manifest diff / zone-map prune / attribution.
    // prune_ok=true is inside q149's hash: zero rows may match inside a
    // pruned bucket, so a wrong zone bound fails the gate.
    assert(queryHash("q148_manifest_diff") == ((3L, "dd02430bf3b1b1c2751b4f1a37412665")))
    assert(queryHash("q149_zonemap_prune") == ((1L, "b1fd375f88e57e5298d325eebd063cb6")))
    assert(queryHash("q150_session_attribution") == ((5L, "f53c66fd85153948fc04b1e4c86ba5f3")))
    // fifth round-11 batch: Heaps-law curve / source-overlap matrix
    assert(queryHash("q151_vocab_growth") == ((4L, "ac241991c8d1b53bb1e2b42b3fcf9725")))
    assert(queryHash("q152_source_overlap") == ((190L, "0a25e812316c10edbf70821114dff939")))
    // streaming sketch maintenance: contained=TRUE and n_epochs=2 are
    // inside the hash — a lost/double-merged epoch fails the gate
    assert(queryHash("s33_stream_quantile") == ((3L, "2af66509be8e3374ee485b3c116da9d1")))
    // seventh round-11 batch: equi-depth stats / join costing / charset.
    // q154's est_ok=true (census product = executed join count) and
    // q153's refinement≡direct-order-statistics parity live in-hash.
    assert(queryHash("q153_equidepth_histogram") == ((16L, "84db2a4c51034b121d8f3f7676c9daea")))
    assert(queryHash("q154_join_size_audit") == ((2L, "74c51641471ae799e634168f45eda471")))
    // regenerated r12: na now counts the chars REMAINING after the
    // printable-ASCII strip (the r11 advisory inversion fix) — on the
    // fixture n_ascii_docs is 21-22 of 25 per source, as documented
    assert(queryHash("q155_charset_profile") == ((20L, "6c3b985c5f5a8a550a627df0b879f4e1")))
    // eighth round-11 batch: association rules / vocab drift
    assert(queryHash("q156_association_rules") == ((20L, "a880bd31d4df3e71df27815bec8c26ad")))
    assert(queryHash("q157_vocab_drift") == ((20L, "a4ac3377bb31deb11baf2078b2b80ead")))
    // ninth round-11 batch: gap profile / robust trend
    assert(queryHash("q158_interevent_gaps") == ((15L, "efc519df8ca952f39c371b1ff7d97fc1")))
    assert(queryHash("q159_theil_sen_trend") == ((1L, "f832501dd490252b0ba7a948a953eece")))
    // tenth round-11 batch: integer OLS / inverse-Simpson diversity
    assert(queryHash("q160_grouped_ols") == ((5L, "3c942a97c817325be47cd99222a85907")))
    assert(queryHash("q161_simpson_diversity") == ((15L, "f02089a1d9a80c19acbc00abc0ccf9c0")))
    // eleventh round-11 batch: kappa agreement / archetype bitmask census
    assert(queryHash("q162_kappa_agreement") == ((1L, "744e5af0f9c10358c362c1ee69bbe33b")))
    assert(queryHash("q163_archetype_census") == ((1L, "0ec0016aad806761f6a6c70027636e1a")))
    // twelfth round-11 batch: exact two-level census Gini
    assert(queryHash("q164_gini_concentration") == ((1L, "2119ad22c654087f8f90d7d85d9bee0e")))
    // thirteenth round-11 batch: grouped length quartiles
    assert(queryHash("q165_length_quartiles") == ((20L, "b0fc059f272eb00b34a233ef623dc454")))
    // fourteenth round-11 batch: Lorenz top-share / round-number bias
    assert(queryHash("q166_top_share") == ((3L, "142a49dae999cce9e3db7abb13ff2325")))
    assert(queryHash("q167_round_number_bias") == ((4L, "5e7f7d80d830ff048331a3319e07af1f")))
  }

  test("round-12 additions sf0.001 golden hashes") {
    // s34: drift_bp per epoch AND the quantized codebook checksum are
    // in-hash — a refresh that double-advances the chain, drops a cell,
    // or moves a different assignment set fails here
    assert(queryHash("s34_stream_ivf_refresh") == ((2L, "6ff7d0b8ca32bd4b3900620c2dc5d64c")))
    // s35: view_ok=TRUE per status AND n_redeliveries_rejected=1 are
    // in-hash — a double-merged re-delivery or a diverged view fails
    assert(queryHash("s35_incremental_refresh") == ((3L, "c56ca176cb12b2c742fac48b7cadad6c")))
    // q168/q169: the packing spans' exact prefix sums and the isqrt
    // mixture arithmetic are cross-engine bit-exact — in-hash
    assert(queryHash("q168_sequence_packing") == ((20L, "d333fa6369a84862a3b049e12dd335fd")))
    assert(queryHash("q169_mixture_weights") == ((20L, "dda26485a724e3acdd1d2c21288ccdd2")))
    // q170: the integer HLL estimate AND merge_ok are in-hash — a rank
    // kernel drift or a broken register merge fails the gate
    assert(queryHash("q170_hll_registers") == ((1L, "243486fe78b9631538d70a057903e01b")))
    // s36: the stream-maintained estimate equals q170's batch value and
    // n_epochs=2 — a lost epoch or broken max-merge shifts est_distinct
    assert(queryHash("s36_stream_hll") == ((1L, "f3bfaf2f8080f3797ad78fff944c6a19")))
    // q171: bloom_ok (zero false negatives) and the measured fp/prune
    // rates are in-hash — a corrupt filter or kernel drift fails here
    assert(queryHash("q171_bloom_prune") == ((1L, "00f7bf48f221353bd5845a9e5b9f80c7")))
    // q172: the deterministic hash-Bernoulli selection is in-hash — the
    // reproducible-sample property a training-data freeze depends on
    assert(queryHash("q172_weighted_sample") == ((20L, "888fc84d91cc7c8bd3bde7ab874565c8")))
    // q173: integrity_ok and every census column in-hash
    assert(queryHash("q173_embedding_integrity") == ((1L, "9943ca7872d4a38458c71e20109dde55")))
    // q174: measured ANN recall@10 — mean/min per family AND the
    // acceptance floors are in-hash, and the P=2−P=1 delta row's min≥0
    // rides the hash too: a recall regression (codebook drift, bucket
    // kernel change) or a multi-probe that stops paying fails here
    assert(queryHash("q174_ann_recall") == ((4L, "f5a1385dcf50439958aefd4864c8df93")))
    // q175: the emitted trainer artifact itself — every segment's
    // (window, offset, length, is_doc_start) is in-hash, so a prefix-sum
    // drift or off-by-one at a window boundary moves real mask rows
    assert(queryHash("q175_packed_windows") == ((598L, "8d66ae10459e5824388f880d726eefa8")))
    // q176: measured LSH banding recall/precision vs exact in-sample
    // Jaccard — a banding change that drops true pairs or floods
    // candidates moves these integers and fails here
    assert(queryHash("q176_lsh_recall") == ((2L, "0b7a71228c9d78ac09d2e5abdd8b555b")))
    // s37: the stream-maintained packing is BIT-EQUAL to batch q175
    // (same 598 rows, same hash) — a lost offset cell, double-emitted
    // epoch, or batch-relative span leak breaks the equality here
    assert(queryHash("s37_stream_packed_windows") == ((598L, "8d66ae10459e5824388f880d726eefa8")))
    // q177: int4/int8 serving recall vs exact float cosine — the
    // measured cost of quantized serving (int8 floor 9000bp in-hash);
    // a quantizer or integer-dot drift moves these numbers
    assert(queryHash("q177_quant_recall") == ((3L, "79e8ebe00a8c0de9ca2beecbfe8e672c")))
    // q178: the composed IVF+PQ index — coarse cell routing × PQ code
    // scoring; a drift in either quantizer or the LUT fold moves this
    assert(queryHash("q178_knn_ivfpq") == ((5L, "cce96825936efee20ee043bb87632c2f")))
    // s38: per-epoch served-index recall under the refresh chain — a
    // refresh that degrades serving, a double-advanced codebook, or an
    // assignment drift moves the mean/min recall integers
    assert(queryHash("s38_stream_recall_monitor") == ((2L, "7a344f2619bd0898c48f64b2313671b5")))
  }

  test("round-15 additions sf0.001 golden hashes") {
    // q179: arbitrary-offset substring dedup — every doc's gram census,
    // dup share, and LONGEST duplicated span are in-hash; a digest or
    // run-merge drift (off-by-one at a span boundary) moves real rows
    assert(queryHash("q179_substring_dedup") == ((468L, "c43faa340fb6d99826bc6789a47707cc")))
    // q180: real-token counts under the fixed 278-merge BPE table AND
    // the re-derived packing spans (strt/e) are in-hash — a merge-rank
    // drift, a staging bug, or a prefix-sum regression moves real rows
    assert(queryHash("q180_bpe_tokenize") == ((500L, "8b278c60d5cbc4b019b220e281ec3baa")))
    // q181: doc → hashed-ngram vector → int8 quantize → trained IVF →
    // measured recall@10, one lineage with no fixture embeddings; the
    // measured floors (P1 5600 / P2 7400, set below the worst mean
    // across all three SFs) and the ≥0 multi-probe delta ride the hash
    // — a featurizer or codebook drift fails here
    assert(queryHash("q181_embed_recall") == ((3L, "5073607a6e00f720edee608df2373dd6")))
    // q183: the CLEANED corpus itself is in-hash (per-doc md5 of the
    // post-cut text, retention stats) — a cover off-by-one or a
    // cross-doc leak in the interval join moves real rows
    assert(queryHash("q183_substring_curation") == ((500L, "8b5481d4ae18c04f979895af9ab3a5ab")))
    // q184: two BPE training iterations' top-10 pair censuses — the
    // argmax/apply/recount recurrence; a tie-break or splice drift here
    // would silently re-rank a real trainer's merge order
    assert(queryHash("q184_bpe_train") == ((20L, "74b70c2ff7e1583af2017d4315171111")))
    // s40: manifest-diff-driven refresh — view ≡ from-scratch over
    // snapshot 2's manifest, re-delivery rejected, delta = log diff
    assert(queryHash("s40_snapshot_refresh") == ((1L, "913b6ec64dce61d561407fe93bb0ab1d")))
    // s39: both snapshots' time-travel censuses (reconstructed from the
    // commit log's manifest lists), the pinned file counts, currency,
    // and the rejected stale commit are ALL in-hash — a swap that lets
    // the conflict through or a manifest that leaks an epoch fails here
    assert(queryHash("s39_snapshot_commits") == ((2L, "c817dd31c9f1aad0dd7bd77606fe74c0")))
    // q182: the graft_* kernels invoked BY NAME through spark.sql — the
    // SparkSessionExtensions deployment surface; a registration break or
    // a native-kernel drift (EMA fold, float-dot order) fails here
    assert(queryHash("q182_sql_functions") == ((47L, "5ac422a7f09b05e903285dde987ad742")))
    // q185: semantic (SemDeDup-shape) dedup — per-cell drop census and
    // the kept-id checksum are in-hash, so a codebook drift, a cosine
    // kernel change, or a keeper-rule flip moves real integers
    assert(queryHash("q185_semantic_dedup") == ((8L, "a144bc64c4dde608fe9c11095ebd8797")))
    // q186: cluster-aware split — the per-split censuses AND the
    // measured audit (naive split leaks 9 of the 29 dup pairs at this
    // SF, cluster-keyed split leaks 0 structurally) all in-hash
    assert(queryHash("q186_cluster_split_guard") == ((3L, "3c789509d8aa2f77d770a714e1a2e977")))
    // s41: streaming ingest through the commit log — all three
    // snapshots' time-travel censuses, pinned file counts, currency,
    // and exactly_once (commits landed, retried commit rejected) ride
    // the hash; a torn commit or replayed epoch moves real rows
    assert(queryHash("s41_stream_commits") == ((3L, "b5332c6411314f1ef43eac4e10cb355b")))
    // s42: the expire+GC lifecycle — expiry/orphan/live file counts and
    // the post-GC census of the compacted current snapshot (read from
    // its parquet AFTER the deletions) ride the hash; a GC that eats a
    // live file or an expiration that touches current moves real rows
    assert(queryHash("s42_snapshot_expire_gc") == ((1L, "a688875c1c85501989f84879f97da0c6")))
    // s43: COW merge — delta counts, both censuses (post-merge + the
    // still-time-travelable pre-merge), and the 1-of-4 pruned rewrite
    // are all in-hash; an unapplied update or wrong pruning fails here
    assert(queryHash("s43_merge_cow") == ((1L, "1a05445f924039fa308d768b19679f04")))
    // s44: merge-on-read — all four snapshots' censuses through the
    // seq-scoped delete-masking read path, incl. the update that must
    // NOT delete its own re-inserted rows and the census-neutral
    // compaction; a seq-rule break or a leaked dead row moves integers
    assert(queryHash("s44_merge_on_read") == ((4L, "34797220b0de55cf5e4528483dfe97e1")))
    // s45: the changelog feed — per-change-type censuses (counts, key
    // checksums, pre/post sums) of the COW merge's manifest diff, with
    // carried-unchanged rows suppressed as no-ops; a no-op leak or a
    // misclassified update moves every census
    assert(queryHash("s45_changelog_feed") == ((3L, "2747903a54e73023a8f987eb984b7c5f")))
    // s46: WAP — the bad-row count the audit caught, main's census
    // DURING staging (isolation) and after the publish, plus the
    // publish / stale-republish flags; a gate bypass or an isolation
    // leak moves real rows
    assert(queryHash("s46_write_audit_publish") == ((1L, "603462ca6b698a5d107880809f14b091")))
    // s47: streaming MOR upsert — three snapshots' upsert states
    // through the seq-scoped read path, incl. the pinned stale-replay
    // overwrite at epoch 2; a masking or arrival-order drift moves sums
    assert(queryHash("s47_stream_mor_upsert") == ((3L, "5ad8e3618a1060096d584be6bbe2600b")))
    // q187: the hashed-linear-classifier apply — per-doc logits and the
    // keep decision; a hash-routing or weight-table drift flips docs
    assert(queryHash("q187_quality_classifier") == ((500L, "3a98ed14b8cd4f4755e38eb966a4af9b")))
    // s48: partition evolution — total/scanned file counts, the pruned
    // read's census vs the predicate's full answer, and the snapshot-1
    // time travel; a naive cross-spec mapping misses old-generation
    // rows and fails here
    assert(queryHash("s48_partition_evolution") == ((1L, "bb21d03a1b97a822743803e7d8743371")))
    // q188: the filter's per-source calibration — keep rates in bp and
    // logit extremes; a classifier drift or a source-skew bug moves bp
    assert(queryHash("q188_filter_calibration") == ((20L, "c03337a36e794a1830f301781109d713")))
  }

  test("round-16 additions sf0.001 golden hashes") {
    // q189: the TRAINED classifier — per-source calibration under the
    // learned weight table, with the table's two integer checksums on
    // every row; any trainer drift (labeling, smoothing, slot routing)
    // moves wt_dot/wt_abs even when keep rates happen to agree
    assert(queryHash("q189_classifier_train") == ((20L, "a31dbf436b63c12aa8c299c94a34ff2b")))
    // q190: unicode-normalized dedup keys — styled twins must collide
    // after the explicit NFC/case/width/diacritic/punct mapping (= n_pairs)
    // and never before (0); a mapping drift in either engine moves both
    assert(queryHash("q190_unicode_norm_dedup") == ((20L, "8b73da2501d0db427bdd7fbe29e0d47c")))
    // s49: position deletes — all five snapshots' censuses through the
    // v2 read path, incl. the same-commit position mask (pseq >= fseq)
    // and the both-kinds census-neutral compaction; an ordinal-scope
    // or seq-rule break moves integers
    assert(queryHash("s49_position_deletes") == ((5L, "8ec57422a50a1b916cd05a795e3d91d7")))
    // s50: column evolution — three snapshots under their own schemas,
    // rename-by-id serving old physical columns and the reused-name
    // field projecting NULL for schema-2 files; a name-based
    // projection resurrects field 3 and moves sum_disc
    assert(queryHash("s50_column_evolution") == ((3L, "01f79fb9316207c18d8b8d61df7844a5")))
    // q191: top-p% threshold fitting — per-source k-th-largest-logit
    // cutoffs with ties-included kept counts; a trainer or rank drift
    // moves thresholds and keep_bp together
    assert(queryHash("q191_quality_topk_threshold") == ((20L, "8d64e923f2978e204efb279a446bdc48")))
    // s51: timestamp travel + rollback — the four recovery reads
    // (AS OF, post-rollback current, preserved history, redo head);
    // a resolution or pointer-move drift moves censuses
    assert(queryHash("s51_snapshot_rollback") == ((4L, "d0b4ae688a5f59292d7c1b8720c0ec20")))
  }

  test("q18_features_full sf0.001 golden hash") {
    val rows = Features
      .featuresFull(Tables.events(TestSpark.spark, "/root/testdata/sf0.001"))
      .collect()
    assert(rows.length == 112)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(r.toSeq.map(canonical).mkString("|").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    val hash = md.digest().map("%02x".format(_)).mkString
    assert(hash == "449440dacaf643c3bc754536b3ec3111")
  }

  test("driver entry smoke: rows > 0 on sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() == 112)
  }

  test("native functions resolve through the plain SQL surface") {
    val spark = TestSpark.spark
    val r = spark
      .sql("SELECT graft_ema(array(1.0d, 2.0d, 3.0d), 9) AS e, " +
        "graft_simhash(array('a','b'), 16) AS sh, " +
        "graft_jaccard(array('a','b','c'), array('a','b','c'), 3) AS j")
      .head()
    val k = 2.0 / 10.0
    assert(r.getDouble(0) == (1.0 * (1 - k) + 2.0 * k) * (1 - k) + 3.0 * k)
    assert(r.getLong(1) >= 0L)
    assert(r.getDouble(2) == 1.0)
  }
}
