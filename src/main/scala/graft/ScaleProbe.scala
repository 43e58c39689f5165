package graft

import graft.ops.Tables
import graft.pipeline.Features
import org.apache.spark.sql.functions._

/** Scale-linearity probe: widen the events table N× by unioning shifted
  * copies (new user_id ranges, same per-series distribution — more
  * SERIES, the way real scale arrives for this workload) and measure the
  * flagship pipeline at each multiple. Near-linear wall-clock growth and
  * stable per-row cost indicate the plan has no accidental quadratic or
  * single-reducer stage.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [multiples...]
  */
object ScaleProbe {

  /** Probe scratch is JVM-lifetime only — every widened corpus dir is
    * reclaimed on exit (the Media.stageDecodable pattern), so repeated
    * probe runs don't accrete multi-MB temp dirs.
    */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      } catch { case scala.util.control.NonFatal(_) => () }))
    p
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 4, 16)
    // optional probe-section filter: SPARK_GRAFT_PROBES=graph,interval
    // runs just those sections (default: all) — each probe stages its own
    // corpora, so isolating one keeps the loop tight.
    val probes = sys.env.get("SPARK_GRAFT_PROBES")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("features", "dedup", "incremental", "ann", "dpp",
        "graph", "interval", "topk", "census", "manifest", "overlap",
        "concentration", "streaming", "text", "epoch", "cc", "substr",
        "mor", "morupsert", "tablefmt", "skipping", "textquality",
        "binpack", "bloomdedup", "manifestplan"))
    def enabled(p: String): Boolean = probes.contains(p)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "ERROR")

    val base = Tables.events(spark, sfDir).select("user_id", "ts", "value")
    val nUsers = base.agg(max("user_id")).head().getLong(0) + 1
    // materialize each multiple once so the probe times the pipeline, not
    // repeated parquet decodes of the same file
    def widened(m: Int) = {
      val out = s"${scratchDir("graft_scale_")}/ev"
      (0 until m)
        .map(i => base.withColumn("user_id", col("user_id") + lit(i * nUsers)))
        .reduce(_ union _)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(out)
      out
    }
    if (enabled("features")) {
      // warm-up
      Features.featuresFull(base, ordered = false).write.format("noop").mode("overwrite").save()
      val results = mults.map { m =>
        val path = widened(m)
        val df = spark.read.parquet(path)
        val rows = df.count()
        val t0 = System.nanoTime()
        Features
          .featuresFull(df, ordered = false)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] x$m%-3d events=$rows%9d  features_full=$sec%7.2f s  (${rows / sec / 1e6}%.2f M rows/s)")
        (m, rows, sec)
      }
      val (m0, r0, s0) = results.head
      val (mN, rN, sN) = results.last
      println(f"[scale] growth: data x${rN.toDouble / r0}%.0f, time x${sN / s0}%.1f (linear would be x${rN.toDouble / r0}%.0f)")
    }

    // Dedup-pipeline linearity: widen documents m× by RENAMING THE
    // VOCABULARY per copy (every word prefixed with the copy tag). A
    // bijection on words preserves each copy's intra-corpus near-dup
    // structure exactly while making shingle sets across copies disjoint
    // — the faithful model of a corpus growing with mostly-new content.
    // (A trailing doc suffix leaves the min-shingle — and thus the whole
    // MinHash signature — unchanged, collapsing all copies into the same
    // band buckets; a shared inter-word salt token manufactures "salt w
    // salt" shingles shared by every doc pair. Both measure a synthetic
    // quadratic, not the pipeline.) q34 = signature + banded pair join
    // (the scale-critical shape); near-linear time and ~m× pair growth
    // mean no accidental cross-bucket blowup.
    val docsBase = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docsBase.agg(max("doc_id")).head().getLong(0) + 1
    def widenedDocs(m: Int): String = {
      val out = s"${scratchDir("graft_scale_d_")}"
      (0 until m)
        .map(i =>
          docsBase
            .withColumn("doc_id", col("doc_id") + lit(i * nDocs))
            .withColumn("text", regexp_replace(col("text"), "(^| )", s"$$1c$i"))
        )
        .reduce(_ union _)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      out
    }
    // q68 rides the same widened corpora: its round-6 block-combination
    // banding (60-bit signature, C(6,3)=20 triple keys) must stay
    // near-linear where the round-5 16-bit design collapsed — beyond
    // ~32k docs (= x64 of sf0.01) the old <=512-key band space made the
    // 64/band cap the dominant semantics. The copy-renamed vocabulary
    // gives each copy distinct word hashes, hence distinct vote bits and
    // signatures — corpus growth with mostly-new content.
    val q34 = SparkEntry.queries("q34_minhash_pairs")
    val q68 = SparkEntry.queries("q68_simhash_neardup")
    // widened-docs corpora are shared by the dedup / incremental / graph /
    // top-k probes — staged lazily so a filtered run only pays for what
    // it measures
    lazy val docDirs = mults.map(m => m -> widenedDocs(m)).toMap
    if (enabled("dedup")) {
    val dedupResults = mults.map { m =>
      val dir = docDirs(m)
      val rows = spark.read.parquet(s"$dir/documents.parquet").count()
      val t0 = System.nanoTime()
      val pairs = q34(spark, dir).count()
      val sec34 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val simPairs = q68(spark, dir).count()
      val sec68 = (System.nanoTime() - t1) / 1e9
      println(
        f"[scale] x$m%-3d docs=$rows%9d  q34_minhash_pairs=$sec34%7.2f s ($pairs pairs)  " +
          f"q68_simhash_neardup=$sec68%7.2f s ($simPairs pairs)"
      )
      (m, rows, sec34, sec68)
    }
    val (_, dr0, ds0, dsim0) = dedupResults.head
    val (_, drN, dsN, dsimN) = dedupResults.last
    println(
      f"[scale] dedup growth: data x${drN.toDouble / dr0}%.0f, q34 time x${dsN / ds0}%.1f, " +
        f"q68 time x${dsimN / dsim0}%.1f (linear would be x${drN.toDouble / dr0}%.0f)"
    )
    }

    // Incremental-curation work∝batch probe (q81's engine): the corpus
    // grows m× (renamed vocabulary — same widened dirs as above) while
    // the APPENDED BATCH stays FIXED: the base copy's doc_id % 5 == 3
    // slice only. The pre-existing state (base labels + signature index)
    // is staged untimed, exactly the production cost model where the
    // previous run's table is READ, not recomputed; the timed step is
    // probe + delta CC + relabel. Near-CONSTANT time across multiples —
    // against a corpus growing m× — is the measured form of the
    // work∝batch claim on DedupQueries.incrementalLabels.
    if (enabled("incremental")) {
    val incResults = mults.map { m =>
      val dir = docDirs(m)
      val rows = spark.read.parquet(s"$dir/documents.parquet").count()
      val pred = pmod(col("doc_id"), lit(5)) === 3 && col("doc_id") < lit(nDocs)
      val batchRows = spark.read.parquet(s"$dir/documents.parquet").filter(pred).count()
      val key = s"$dir#fixedbatch"
      // untimed staging: memoized base labels + signature index
      graft.queries.DedupQueries.incrementalLabelsFor(spark, dir, pred, key).count()
      val t0 = System.nanoTime()
      val labeled = graft.queries.DedupQueries.incrementalLabelsFor(spark, dir, pred, key).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(
        f"[scale] x$m%-3d docs=$rows%9d batch=$batchRows%6d  q81_incremental_merge=$sec%7.2f s ($labeled labels)"
      )
      (m, rows, sec)
    }
    val (_, ir0, is0) = incResults.head
    val (_, irN, isN) = incResults.last
    println(
      f"[scale] incremental growth: corpus x${irN.toDouble / ir0}%.0f, FIXED batch, " +
        f"q81 merge time x${isN / is0}%.1f (work∝batch predicts ~x1; corpus-proportional would be x${irN.toDouble / ir0}%.0f)"
    )
    }

    // Bloom-store incremental dedup (q206): history and increment both
    // grow m× while the FILTER stays fixed (m=16384 bits — the store
    // artifact a deployment sizes up front). Two claims measured at
    // once: wall-clock stays ~linear in the corpus (probe is map-side;
    // the exact join is bloom-pass-bounded; nothing goes pairwise), and
    // the fixed filter's pruning power DECAYS as history keys saturate
    // the bit budget (prune_bp per multiple) — the measured form of the
    // q206 scaladoc's sizing rule: at 100 TB you grow m with the store,
    // you don't accept fp→1. Exactness (bloom_ok) must hold at every
    // multiple regardless of saturation.
    if (enabled("bloomdedup")) {
    val q206 = SparkEntry.queries("q206_bloom_incremental_dedup")
    val blResults = mults.map { m =>
      val dir = docDirs(m)
      val rows = spark.read.parquet(s"$dir/documents.parquet").count()
      val t0 = System.nanoTime()
      val r = q206(spark, dir).head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(
        f"[scale] x$m%-3d docs=$rows%9d  q206_bloom_dedup=$sec%7.2f s " +
          f"(hist_keys=${r.getLong(0)} prune_bp=${r.getLong(7)} fp_bp=${r.getLong(6)} ok=${r.getBoolean(10)})")
      (m, rows, sec)
    }
    val (_, blr0, bls0) = blResults.head
    val (_, blrN, blsN) = blResults.last
    println(
      f"[scale] bloomdedup growth: data x${blrN.toDouble / blr0}%.0f, time x${blsN / bls0}%.1f " +
        f"(linear would be x${blrN.toDouble / blr0}%.0f; prune_bp decay is the fixed-m saturation, not a defect)")
    }

    // ANN-pipeline linearity: widen embeddings m× by flipping each
    // copy's dimensions with a deterministic per-(copy, dim) ±1 mask —
    // an orthogonal-ish transform that preserves intra-copy geometry
    // (near-dup pairs survive sign flips applied to BOTH vectors) while
    // giving every copy fresh sign-LSH bucket keys, the faithful model
    // of an embedding corpus growing with new content. q37 = adaptive
    // sign-bucket cosine near-dup (the scale-critical ANN shape):
    // adaptivePlanes raises the plane count as n grows, so per-bucket
    // join sizes stay ~TargetBucketSize and time stays near-linear.
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVecs = embBase.agg(max("vec_id")).head().getLong(0) + 1
    def widenedEmb(m: Int): String = {
      val out = s"${scratchDir("graft_scale_e_")}"
      (0 until m)
        .map { i =>
          embBase
            .withColumn("vec_id", col("vec_id") + lit(i * nVecs))
            .withColumn(
              "embedding",
              transform(
                col("embedding"),
                (x, j) => x * (pmod(graft.ops.Hashing.h60(concat(lit(s"m$i:"), j.cast("string"))), lit(2)) * 2 - 1).cast("float")
              )
            )
        }
        .reduce(_ union _)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      out
    }
    val q37 = SparkEntry.queries("q37_embed_neardup")
    if (enabled("ann")) {
    // q174 rides the same widened corpora: the recall AUDIT itself must
    // stay scan-linear (20-probe broadcast scoring + salted two-level
    // top-k + bounded recall joins) or a deploy couldn't afford to run
    // it continuously next to the index it audits. Copy 0 keeps the
    // original ids, so the [100,120) probe set and the <8 codebook
    // seeds exist at every multiple.
    val q174 = SparkEntry.queries("q174_ann_recall")
    val annResults = mults.map { m =>
      val dir = widenedEmb(m)
      val rows = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val t0 = System.nanoTime()
      val pairs = q37(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      q174(spark, dir).write.format("noop").mode("overwrite").save()
      val sec174 = (System.nanoTime() - t1) / 1e9
      val planes = graft.ops.VectorOps.adaptivePlanes(rows)
      println(f"[scale] x$m%-3d vecs=$rows%9d  q37_embed_neardup=$sec%7.2f s ($pairs pairs, $planes planes)  q174_recall_audit=$sec174%7.2f s")
      (m, rows, sec, sec174)
    }
    val (_, ar0, as0, at0) = annResults.head
    val (_, arN, asN, atN) = annResults.last
    println(
      f"[scale] ann growth: data x${arN.toDouble / ar0}%.0f, q37 time x${asN / as0}%.1f, " +
        f"q174 audit time x${atN / at0}%.1f (linear would be x${arN.toDouble / ar0}%.0f)"
    )
    }

    // Dynamic-partition-pruning probe (s19's engine): the TIME EXTENT
    // grows m× — each copy shifts the events onto a disjoint 90-day-step
    // day range, day-partitioned at rest — while the hot-day dimension
    // stays FIXED (derived at runtime from the base corpus, so it only
    // reaches base-range partitions). With DPP the fact scan lists just
    // the matched partitions and the query should stay near-CONSTANT as
    // history grows; with DPP disabled the same plan scans the whole
    // m×-wider table. The ON/OFF contrast at each multiple is the
    // measured form of s19's "scan the matching days, not the year".
    import graft.ops.TimeCodec
    if (enabled("dpp")) {
    val hotDays = Tables
      .events(spark, sfDir)
      .filter(
        col("event_type") === graft.ops.DynamicPruning.HotEventType &&
          col("value") > graft.ops.DynamicPruning.HotValueMin
      )
      .select(TimeCodec.dayInt(col("ts")).as("day"))
      .distinct()
    def widenedDayFacts(m: Int): String = {
      val out = s"${scratchDir("graft_scale_p_")}/facts"
      (0 until m)
        .map(i => base.withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 90} DAYS")))
        .reduce(_ union _)
        .withColumn("day", TimeCodec.dayInt(col("ts")))
        .repartition(col("day"))
        .write.partitionBy("day").mode("overwrite").parquet(out)
      out
    }
    def timeHotJoin(path: String, dpp: Boolean): Double = {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", dpp.toString)
      val t0 = System.nanoTime()
      spark.read
        .parquet(path)
        .join(broadcast(hotDays), Seq("day"))
        .agg(count(lit(1)), sum(col("value").cast("decimal(18,4)")))
        .head()
      (System.nanoTime() - t0) / 1e9
    }
    val dppResults = mults.map { m =>
      val path = widenedDayFacts(m)
      timeHotJoin(path, dpp = true) // warm the file index + page cache
      val on = timeHotJoin(path, dpp = true)
      val off = timeHotJoin(path, dpp = false)
      println(f"[scale] x$m%-3d day-partitions x$m  hot_join dpp_on=$on%6.2f s  dpp_off=$off%6.2f s")
      (m, on, off)
    }
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    val (_, on0, off0) = dppResults.head
    val (_, onN, offN) = dppResults.last
    println(
      f"[scale] dpp growth: history x${mults.last / mults.head}, dpp_on time x${onN / on0}%.1f " +
        f"(pruning predicts ~x1), dpp_off time x${offN / off0}%.1f (tracks the table)"
    )
    }

    // Triangle-count probe (q129's Σoutdeg² wedge bound): the dup-pair
    // graph widens with the renamed-vocabulary corpora — per-copy edge
    // sets are disjoint and structurally identical, so edges (and
    // oriented wedges) grow ~m× while per-vertex degree distributions
    // stay fixed. The UNTIMED first run stages the dir-memoized
    // signature index; the timed run measures the repeating cost the
    // PLANS.md claim is about — cap-bounded pair generation, degree
    // orientation, wedge self-join, closing-edge probe. Near-linear
    // time across x16/x64 is the measured form of "Σoutdeg², never
    // corpus²" (a quadratic wedge stage would track m²).
    if (enabled("graph")) {
      val q129 = SparkEntry.queries("q129_triangle_count")
      val triResults = mults.map { m =>
        val dir = docDirs(m)
        val rows = spark.read.parquet(s"$dir/documents.parquet").count()
        q129(spark, dir).write.format("noop").mode("overwrite").save() // untimed: stages the signature index
        val t0 = System.nanoTime()
        q129(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] x$m%-3d docs=$rows%9d  q129_triangle_count=$sec%7.2f s")
        (m, rows, sec)
      }
      val (_, tr0, ts0) = triResults.head
      val (_, trN, tsN) = triResults.last
      println(
        f"[scale] graph growth: docs x${trN.toDouble / tr0}%.0f, q129 time x${tsN / ts0}%.1f " +
          f"(Σoutdeg² with fixed degree distribution predicts ~linear; a wedge blowup would track x${(trN.toDouble / tr0) * (trN.toDouble / tr0)}%.0f)"
      )
    }

    // Iterative/join-heavy kernel probe (r14 verdict item 6): the two
    // remaining kernels without published curves. q59's connected
    // components runs min-label propagation over the LSH-capped pair
    // graph — rounds grow with component DIAMETER, not corpus size, and
    // the copy-renamed vocabulary keeps components within copies, so
    // m× corpora mean m× more components of FIXED diameter: near-linear
    // time is the measured claim (a propagation that mixed copies or a
    // pair stage gone super-linear would blow past it). The memoized
    // pairs→CC lineage is dropped first so each multiple measures the
    // COLD full build (signature index + capped band join + label
    // propagation), the honest production-build cost. q93's SymSpell
    // joins deletion neighborhoods on the bucket key — vocab grows m×
    // (renamed copies), neighborhoods stay word-length-bounded, so time
    // must track vocab (~m), never vocab² (the oracle's O(V²) shape).
    if (enabled("cc")) {
      val q59 = SparkEntry.queries("q59_dedup_components")
      val q93 = SparkEntry.queries("q93_fuzzy_vocab")
      q93(spark, docDirs(mults.head)).write.format("noop").mode("overwrite").save() // warm JIT
      val ccResults = mults.map { m =>
        val dir = docDirs(m)
        val rows = spark.read.parquet(s"$dir/documents.parquet").count()
        graft.queries.DedupQueries.clearStageCaches()
        val t0 = System.nanoTime()
        val n59 = q59(spark, dir).count()
        val sec59 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val n93 = q93(spark, dir).count()
        val sec93 = (System.nanoTime() - t1) / 1e9
        println(
          f"[scale] x$m%-3d docs=$rows%9d  q59_components_cold=$sec59%7.2f s ($n59 labels)  " +
            f"q93_fuzzy_vocab=$sec93%7.2f s ($n93 rows)")
        (m, rows, sec59, sec93)
      }
      val (_, cr0, c59a, c93a) = ccResults.head
      val (_, crN, c59b, c93b) = ccResults.last
      println(
        f"[scale] cc growth: docs x${crN.toDouble / cr0}%.0f, q59 time x${c59b / c59a}%.1f, " +
          f"q93 time x${c93b / c93a}%.1f (linear would be x${crN.toDouble / cr0}%.0f; " +
          f"quadratic x${(crN.toDouble / cr0) * (crN.toDouble / cr0)}%.0f)")
    }

    // Substring-dedup probe (q179/q183): stride-1 grams are the board's
    // biggest per-token fan-out (one digest per token vs q125's per-24)
    // — the claim to measure is that the digest-keyed shuffle keeps the
    // pass near-LINEAR in tokens. The copy-renamed corpora keep the
    // gram space mostly fresh per copy (dup runs stay within copies),
    // so m× docs ⇒ m× grams with bounded digest buckets — time must
    // track tokens, and the curation pass (words × per-doc intervals)
    // must add only the doc_id-equi join's linear cost on top.
    if (enabled("substr")) {
      val q179 = SparkEntry.queries("q179_substring_dedup")
      val q183 = SparkEntry.queries("q183_substring_curation")
      q179(spark, docDirs(mults.head)).write.format("noop").mode("overwrite").save() // warm JIT
      val ssResults = mults.map { m =>
        val dir = docDirs(m)
        val rows = spark.read.parquet(s"$dir/documents.parquet").count()
        val t0 = System.nanoTime()
        q179(spark, dir).write.format("noop").mode("overwrite").save()
        val sec179 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        q183(spark, dir).write.format("noop").mode("overwrite").save()
        val sec183 = (System.nanoTime() - t1) / 1e9
        println(
          f"[scale] x$m%-3d docs=$rows%9d  q179_substring_dedup=$sec179%7.2f s  " +
            f"q183_substring_curation=$sec183%7.2f s")
        (m, rows, sec179, sec183)
      }
      val (_, sr0, sa0, sb0) = ssResults.head
      val (_, srN, saN, sbN) = ssResults.last
      println(
        f"[scale] substr growth: docs x${srN.toDouble / sr0}%.0f, q179 time x${saN / sa0}%.1f, " +
          f"q183 time x${sbN / sb0}%.1f (linear would be x${srN.toDouble / sr0}%.0f)")
    }

    // Merge-on-read probe (s44's read path): the MOR-specific scale risk
    // is DELETE-FILE ACCUMULATION — every commit adds a delete file, and
    // the read path anti-joins the scan against the union of all of
    // them until a compaction folds them in. The curve to measure: scan
    // census time vs number of accumulated delete files (m× files AND
    // m× total delete rows — both grow per commit), against the
    // compacted (zero-delete-file) baseline. Near-flat growth = the
    // masking join is delta-bounded; super-linear growth would mean the
    // plan degrades with commit count and compaction cadence must be
    // tied to it.
    if (enabled("mor")) {
      val oMor = Tables.orders(spark, sfDir).select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val morDir = scratchDir("graft_scale_mor_")
      oMor.repartition(8).write.parquet(s"$morDir/data")
      val morData = spark.read.parquet(s"$morDir/data").withColumn("fseq", lit(1L))
      val rowsMor = morData.count()
      // compacted baseline: plain scan census, no delete masking
      morData.agg(count(lit(1)), sum(col("cents"))).head() // warm
      val tB = System.nanoTime()
      morData.agg(count(lit(1)), sum(col("cents"))).head()
      val secBase = (System.nanoTime() - tB) / 1e9
      println(f"[scale] mor baseline (compacted, 0 delete files): census=$secBase%7.2f s over $rowsMor rows")
      val morResults = mults.map { m =>
        (0 until m).foreach { i =>
          oMor.filter(col("k") % 997 === i).select("k")
            .repartition(1).write.mode("overwrite").parquet(s"$morDir/d$i")
        }
        val dv = (0 until m)
          .map(i => spark.read.parquet(s"$morDir/d$i").withColumn("dseq", lit(i + 2L)))
          .reduce(_ unionByName _)
        val t0 = System.nanoTime()
        val agg = morData.as("f")
          .join(dv.as("dv"),
            col("f.k") === col("dv.k") && col("dv.dseq") > col("f.fseq"),
            "left_anti")
          .agg(count(lit(1)), sum(col("cents"))).head()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] x$m%-3d delete_files=$m%4d  mor_census=$sec%7.2f s (live=${agg.getLong(0)})")
        (m, sec)
      }
      val (m0, s0m) = morResults.head
      val (mN, sNm) = morResults.last
      println(
        f"[scale] mor growth: delete files x${mN.toDouble / m0}%.0f, read time x${sNm / s0m}%.1f " +
          f"(flat would be x1; baseline $secBase%.2f s)")
    }

    // Streaming-MOR-upsert probe (s47): rows-per-epoch scaling of the
    // full lifecycle — staging, per-batch dedup+write+commit, and the
    // three MOR time-travel reads. Widening events m× by user copies
    // multiplies BOTH the per-batch dedup input and the per-snapshot
    // read fan-in (m× users ⇒ m× rows per data/delete file); per-epoch
    // commit cost stays metadata. Near-linear (or flatter, while
    // fixed streaming machinery dominates) is the pass bar.
    if (enabled("morupsert")) {
      val evFull = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "value")
      def widenedEventsDir(m: Int): String = {
        val dir = scratchDir("graft_scale_s47_").toString
        (0 until m)
          .map(i => evFull.withColumn("user_id", col("user_id") + lit(i * nUsers))
            .withColumn("event_id", col("event_id") + lit(i * 10000000L)))
          .reduce(_ union _)
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        dir
      }
      val s47q = SparkEntry.queries("s47_stream_mor_upsert")
      s47q(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      val muResults = mults.map { m =>
        val dir = widenedEventsDir(m)
        val rows = spark.read.parquet(s"$dir/events.parquet").count()
        val t0 = System.nanoTime()
        val n = s47q(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] x$m%-3d events=$rows%9d  s47_stream_mor_upsert=$sec%7.2f s ($n snapshots)")
        (m, rows, sec)
      }
      val (_, mr0, ms0) = muResults.head
      val (_, mrN, msN) = muResults.last
      println(
        f"[scale] morupsert growth: events x${mrN.toDouble / mr0}%.0f, time x${msN / ms0}%.1f " +
          f"(linear would be x${mrN.toDouble / mr0}%.0f)")
    }

    // Interval-overlap probe (q132's bucket decomposition): scale
    // arrives as TIME EXTENT — each copy shifts the events onto a
    // disjoint 90-day-step range, so the day-bucket count grows m×
    // while per-day activity (the bucket size that bounds candidate
    // pairs) stays FIXED. Near-linear time and ~m× overlap pairs are
    // the measured form of "per-bucket bounded, never corpus²" — a
    // decomposition failure (e.g. joining on user instead of day)
    // would track m² in pairs and time.
    if (enabled("interval")) {
      def widenedIntervalEvents(m: Int): String = {
        val out = s"${scratchDir("graft_scale_i_")}"
        (0 until m)
          .map(i => base.withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 90} DAYS")))
          .reduce(_ union _)
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$out/events.parquet")
        out
      }
      val q132 = SparkEntry.queries("q132_interval_overlap")
      val ivResults = mults.map { m =>
        val dir = widenedIntervalEvents(m)
        val rows = spark.read.parquet(s"$dir/events.parquet").count()
        q132(spark, dir).write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        val days = q132(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] x$m%-3d events=$rows%9d  q132_interval_overlap=$sec%7.2f s ($days day-buckets)")
        (m, rows, sec)
      }
      val (_, ivr0, ivs0) = ivResults.head
      val (_, ivrN, ivsN) = ivResults.last
      println(
        f"[scale] interval growth: events x${ivrN.toDouble / ivr0}%.0f (as days, fixed per-day activity), " +
          f"q132 time x${ivsN / ivs0}%.1f (bucket decomposition predicts ~linear)"
      )
    }

    // Lateral top-k probe (q135's WindowGroupLimit / rank pushdown):
    // the corpus widens m× while k (3) and the group domain (sources)
    // stay fixed. Catalyst decorrelates the LATERAL subquery into a
    // rank window with the per-group limit pushed BELOW the shuffle
    // (WindowGroupLimit): each map task forwards at most k rows per
    // group, so the exchange carries ~groups·k·partitions rows no
    // matter how wide the corpus — time should track the SCAN
    // (linear), with a flat post-shuffle stage. A decorrelation
    // regression (nested-loop re-scan per group) would track m·groups.
    if (enabled("topk")) {
      val q135 = SparkEntry.queries("q135_lateral_topk")
      val tkResults = mults.map { m =>
        val dir = docDirs(m)
        val rows = spark.read.parquet(s"$dir/documents.parquet").count()
        q135(spark, dir).write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        val kept = q135(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] x$m%-3d docs=$rows%9d  q135_lateral_topk=$sec%7.2f s ($kept rows kept)")
        (m, rows, sec)
      }
      val (_, tkr0, tks0) = tkResults.head
      val (_, tkrN, tksN) = tkResults.last
      println(
        f"[scale] topk growth: docs x${tkrN.toDouble / tkr0}%.0f, q135 time x${tksN / tks0}%.1f " +
          f"(rank pushdown predicts ~scan-linear; per-group re-scan would multiply by the group count)"
      )
    }
    // Domain-census probe (q145's MAD audit + q144's quantile sketch):
    // the corpus widens m× with MORE SERIES (user-shifted copies, same
    // value distribution), so the (type, cents) / cents census DOMAINS
    // stay fixed while rows grow m×. Both queries' post-census stages
    // are domain-sized, so time should track the one census scan
    // (~linear) with a FLAT tail — a census that leaked row-sized
    // frames into the stats lineage would grow super-linearly.
    if (enabled("census")) {
      val evFull = Tables.events(spark, sfDir) // q145 needs event_type too
      def widenedEventsDir(m: Int): String = {
        val out = s"${scratchDir("graft_scale_c_")}"
        (0 until m)
          .map(i => evFull.withColumn("user_id", col("user_id") + lit(i * nUsers)))
          .reduce(_ union _)
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$out/events.parquet")
        out
      }
      val q144 = SparkEntry.queries("q144_quantile_sketch")
      val q145 = SparkEntry.queries("q145_mad_outliers")
      val cenResults = mults.map { m =>
        val dir = widenedEventsDir(m)
        val rows = spark.read.parquet(s"$dir/events.parquet").count()
        q144(spark, dir).write.format("noop").mode("overwrite").save() // warm
        q145(spark, dir).write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        q144(spark, dir).write.format("noop").mode("overwrite").save()
        val s144 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        q145(spark, dir).write.format("noop").mode("overwrite").save()
        val s145 = (System.nanoTime() - t1) / 1e9
        println(f"[scale] x$m%-3d events=$rows%9d  q144_quantile_sketch=$s144%7.2f s  q145_mad_outliers=$s145%7.2f s")
        (m, rows, s144, s145)
      }
      val (_, cr0, c144a, c145a) = cenResults.head
      val (_, crN, c144b, c145b) = cenResults.last
      println(
        f"[scale] census growth: events x${crN.toDouble / cr0}%.0f (fixed value domain), " +
          f"q144 time x${c144b / c144a}%.1f, q145 time x${c145b / c145a}%.1f (domain-bounded predicts ~scan-linear)"
      )
    }

    // Manifest/equi-depth probe (q148's one-scan snapshot diff + q153's
    // sketch-guided refinement): scale arrives as HISTORY — each copy
    // shifts o_orderdate by a disjoint 90-day step, so the month-bucket
    // count grows m× while per-bucket size stays fixed (q148) and the
    // price-cents domain stays FIXED (q153: boundary refinement work is
    // unchanged as rows grow). Both should track the single scan.
    if (enabled("manifest")) {
      val ordersBase = spark.read.parquet(s"$sfDir/orders.parquet")
      val nOrders = ordersBase.agg(max("o_orderkey")).head().getLong(0) + 1
      def widenedOrdersDir(m: Int): String = {
        val out = s"${scratchDir("graft_scale_m_")}"
        (0 until m)
          .map(i =>
            ordersBase
              .withColumn("o_orderkey", col("o_orderkey") + lit(i * nOrders))
              .withColumn("o_orderdate", col("o_orderdate") + expr(s"INTERVAL ${i * 90} DAYS")))
          .reduce(_ union _)
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$out/orders.parquet")
        out
      }
      val q148 = SparkEntry.queries("q148_manifest_diff")
      val q153 = SparkEntry.queries("q153_equidepth_histogram")
      val mfResults = mults.map { m =>
        val dir = widenedOrdersDir(m)
        val rows = spark.read.parquet(s"$dir/orders.parquet").count()
        q148(spark, dir).write.format("noop").mode("overwrite").save() // warm
        q153(spark, dir).write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        q148(spark, dir).write.format("noop").mode("overwrite").save()
        val s148 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        q153(spark, dir).write.format("noop").mode("overwrite").save()
        val s153 = (System.nanoTime() - t1) / 1e9
        println(f"[scale] x$m%-3d orders=$rows%9d (buckets x$m)  q148_manifest_diff=$s148%7.2f s  q153_equidepth=$s153%7.2f s")
        (m, rows, s148, s153)
      }
      val (_, mr0, m148a, m153a) = mfResults.head
      val (_, mrN, m148b, m153b) = mfResults.last
      println(
        f"[scale] manifest growth: orders x${mrN.toDouble / mr0}%.0f (buckets x${mults.last / mults.head}), " +
          f"q148 time x${m148b / m148a}%.1f, q153 time x${m153b / m153a}%.1f (one-scan predicts ~linear)"
      )
    }

    // Source-overlap probe (q152's token-keyed pair join): the
    // renamed-vocabulary corpora grow the VOCABULARY m× (disjoint word
    // sets per copy) while sources stay the fixed 20-value domain —
    // per-token fan-out is bounded by sources², so pair-join work
    // tracks the vocabulary (linear), never corpus² or sources-cross.
    if (enabled("overlap")) {
      val q152 = SparkEntry.queries("q152_source_overlap")
      val ovResults = mults.map { m =>
        val dir = docDirs(m)
        val rows = spark.read.parquet(s"$dir/documents.parquet").count()
        q152(spark, dir).write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        val pairs = q152(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] x$m%-3d docs=$rows%9d  q152_source_overlap=$sec%7.2f s ($pairs pairs)")
        (m, rows, sec)
      }
      val (_, or0, os0) = ovResults.head
      val (_, orN, osN) = ovResults.last
      println(
        f"[scale] overlap growth: docs x${orN.toDouble / or0}%.0f (vocab xm, fixed source domain), " +
          f"q152 time x${osN / os0}%.1f (token-keyed pair join predicts ~vocab-linear)"
      )
    }
    // Concentration-family probe (q164's Gini, q166's Lorenz top-share,
    // q158's gap profile, q159's Theil–Sen): the axes the r11 verdict
    // flagged as prose-only claims.
    //  - q164/q166 scale with CUSTOMERS: each copy shifts o_custkey onto
    //    a disjoint range (same per-customer revenue distribution), so
    //    the revenue CENSUS grows ~m× — exactly the growth that made the
    //    old q166 single-partition desc-cum a scale defect. With the
    //    two-level decomposition the BIN domain stays fixed (revenue
    //    values are replicated, not widened), within-bin windows stay
    //    partitioned, and time should track the scan (~linear) — a
    //    SinglePartition census window would go super-linear here.
    //  - q158/q159 scale with SERIES (user-shifted event copies, fixed
    //    day domain): q158's rank read-offs ride user partitions
    //    (per-user work fixed), q159's pair join runs over the fixed
    //    ~30-day cell frame — both predict ~scan-linear.
    if (enabled("concentration")) {
      val ordersBase2 = spark.read.parquet(s"$sfDir/orders.parquet")
      val nCust = ordersBase2.agg(max("o_custkey")).head().getLong(0) + 1
      val nOrd = ordersBase2.agg(max("o_orderkey")).head().getLong(0) + 1
      def widenedCustOrdersDir(m: Int): String = {
        val out = s"${scratchDir("graft_scale_g_")}"
        (0 until m)
          .map(i =>
            ordersBase2
              .withColumn("o_orderkey", col("o_orderkey") + lit(i * nOrd))
              .withColumn("o_custkey", col("o_custkey") + lit(i * nCust)))
          .reduce(_ union _)
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$out/orders.parquet")
        out
      }
      val evFull2 = Tables.events(spark, sfDir)
      def widenedUserEventsDir(m: Int): String = {
        val out = s"${scratchDir("graft_scale_u_")}"
        (0 until m)
          .map(i => evFull2.withColumn("user_id", col("user_id") + lit(i * nUsers)))
          .reduce(_ union _)
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$out/events.parquet")
        out
      }
      val q164 = SparkEntry.queries("q164_gini_concentration")
      val q166 = SparkEntry.queries("q166_top_share")
      val q158 = SparkEntry.queries("q158_interevent_gaps")
      val q159 = SparkEntry.queries("q159_theil_sen_trend")
      val conResults = mults.map { m =>
        val odir = widenedCustOrdersDir(m)
        val edir = widenedUserEventsDir(m)
        val custs = spark.read.parquet(s"$odir/orders.parquet")
          .select("o_custkey").distinct().count()
        val evRows = spark.read.parquet(s"$edir/events.parquet").count()
        q164(spark, odir).write.format("noop").mode("overwrite").save() // warm
        q166(spark, odir).write.format("noop").mode("overwrite").save() // warm
        q158(spark, edir).write.format("noop").mode("overwrite").save() // warm
        q159(spark, edir).write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        q164(spark, odir).write.format("noop").mode("overwrite").save()
        val s164 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        q166(spark, odir).write.format("noop").mode("overwrite").save()
        val s166 = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        q158(spark, edir).write.format("noop").mode("overwrite").save()
        val s158 = (System.nanoTime() - t2) / 1e9
        val t3 = System.nanoTime()
        q159(spark, edir).write.format("noop").mode("overwrite").save()
        val s159 = (System.nanoTime() - t3) / 1e9
        println(
          f"[scale] x$m%-3d customers=$custs%9d events=$evRows%9d  q164_gini=$s164%7.2f s  " +
            f"q166_top_share=$s166%7.2f s  q158_gaps=$s158%7.2f s  q159_theil_sen=$s159%7.2f s")
        (m, custs, s164, s166, s158, s159)
      }
      val (_, cc0, g0, l0, n0, t0s) = conResults.head
      val (_, ccN, gN, lN, nN, tNs) = conResults.last
      println(
        f"[scale] concentration growth: customers x${ccN.toDouble / cc0}%.0f, " +
          f"q164 time x${gN / g0}%.1f, q166 time x${lN / l0}%.1f, " +
          f"q158 time x${nN / n0}%.1f, q159 time x${tNs / t0s}%.1f " +
          f"(two-level census + partitioned read-offs predict ~scan-linear)")
    }
    // Text/LLM-prep probe (q168's two-level packing prefix sums, q170's
    // HLL hash pass): the corpus widens m× with the renamed-vocabulary
    // copies (doc_id-shifted — per-source doc counts and thus the block
    // index grow m×, the axis the two-level decomposition exists for;
    // the fresh vocabulary keeps q170's distinct count growing too).
    // Both should track the scan: a packing regression to a global
    // prefix sum or an HLL register path that shipped rows instead of
    // ≤64 cells would go super-linear.
    if (enabled("text")) {
      val q168 = SparkEntry.queries("q168_sequence_packing")
      val q170 = SparkEntry.queries("q170_hll_registers")
      val txResults = mults.map { m =>
        val dir = docDirs(m)
        val rows = spark.read.parquet(s"$dir/documents.parquet").count()
        q168(spark, dir).write.format("noop").mode("overwrite").save() // warm
        q170(spark, dir).write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        q168(spark, dir).write.format("noop").mode("overwrite").save()
        val s168 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        q170(spark, dir).write.format("noop").mode("overwrite").save()
        val s170 = (System.nanoTime() - t1) / 1e9
        println(f"[scale] x$m%-3d docs=$rows%9d  q168_packing=$s168%7.2f s  q170_hll=$s170%7.2f s")
        (m, rows, s168, s170)
      }
      val (_, tx0, ta0, tb0) = txResults.head
      val (_, txN, taN, tbN) = txResults.last
      println(
        f"[scale] text growth: docs x${txN.toDouble / tx0}%.0f, q168 time x${taN / ta0}%.1f, " +
          f"q170 time x${tbN / tb0}%.1f (two-level prefix sums / register reduce predict ~scan-linear)")
    }

    // r17 text-quality curves: q196 (one (doc, 2-gram) partial-agg
    // census + doc-keyed join-back) predicts ~scan-linear; q197 is the
    // interesting one — widenedDocs renames the vocabulary per copy, so
    // the corpus grows with MOSTLY-NEW WORDS and the vocab frame (and
    // the census×vocab join's build side) grows ×m with the data. A
    // vocab handled as a broadcast pin would fall over exactly here;
    // the shuffle-join shape should stay ~scan-linear.
    if (enabled("textquality")) {
      val q196 = SparkEntry.queries("q196_gopher_coverage")
      val q197 = SparkEntry.queries("q197_surprisal_filter")
      val tqResults = mults.map { m =>
        val dir = docDirs(m)
        val rows = spark.read.parquet(s"$dir/documents.parquet").count()
        q196(spark, dir).write.format("noop").mode("overwrite").save() // warm
        q197(spark, dir).write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        q196(spark, dir).write.format("noop").mode("overwrite").save()
        val sA = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        q197(spark, dir).write.format("noop").mode("overwrite").save()
        val sB = (System.nanoTime() - t1) / 1e9
        println(f"[scale] x$m%-3d docs=$rows%9d  q196_coverage=$sA%7.2f s  q197_surprisal=$sB%7.2f s")
        (m, rows, sA, sB)
      }
      val (_, tq0, tqa0, tqb0) = tqResults.head
      val (_, tqN, tqaN, tqbN) = tqResults.last
      println(
        f"[scale] textquality growth: docs x${tqN.toDouble / tq0}%.0f, q196 time x${tqaN / tqa0}%.1f, " +
          f"q197 time x${tqbN / tqb0}%.1f (gram census / vocab-growing join predict ~scan-linear)")
    }

    // Streaming rows-per-epoch probe (s30's key-bounded upsert, s33's
    // ≤512-cell sketch): the r11 verdict's stretch item — turn the
    // "per-batch work is key-bounded" claims into measured curves the
    // way the batch side has them. Scale arrives as MORE ROWS PER
    // EPOCH with the epoch count, key domain, and value domain all
    // FIXED: copies keep user_id (s30's upsert key) and value (s33's
    // sketch bin) and shift only event_id + a few seconds of ts (same
    // days → the staged 3-epoch day split is preserved). The per-epoch
    // driver/JDBC traffic is then CONSTANT across multiples (keys /
    // 512 cells); total time should track the distributed per-epoch
    // reduce (~scan-linear). A demo whose epoch cost grew with rows
    // SHIPPED to the driver — not reduced map-side — would go
    // super-linear here.
    if (enabled("streaming")) {
      val evB = Tables.events(spark, sfDir)
      val nEv = evB.agg(max("event_id")).head().getLong(0) + 1
      def widenedRowsDir(m: Int): String = {
        val out = s"${scratchDir("graft_scale_s_")}"
        (0 until m)
          .map(i =>
            evB
              .withColumn("event_id", col("event_id") + lit(i * nEv))
              .withColumn("ts", col("ts") + expr(s"INTERVAL $i SECONDS")))
          .reduce(_ union _)
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$out/events.parquet")
        out
      }
      val s30q = SparkEntry.queries("s30_stream_upsert")
      val s33q = SparkEntry.queries("s33_stream_quantile")
      // JIT warm on the base dir (each multiple stages fresh epochs +
      // checkpoints, so there is no per-dir warm run to subtract)
      s30q(spark, sfDir).write.format("noop").mode("overwrite").save()
      s33q(spark, sfDir).write.format("noop").mode("overwrite").save()
      val stResults = mults.map { m =>
        val dir = widenedRowsDir(m)
        val rows = spark.read.parquet(s"$dir/events.parquet").count()
        val t0 = System.nanoTime()
        s30q(spark, dir).write.format("noop").mode("overwrite").save()
        val s30s = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        s33q(spark, dir).write.format("noop").mode("overwrite").save()
        val s33s = (System.nanoTime() - t1) / 1e9
        println(f"[scale] x$m%-3d rows/epoch x$m (events=$rows%9d, keys/cells fixed)  s30_upsert=$s30s%7.2f s  s33_sketch=$s33s%7.2f s")
        (m, rows, s30s, s33s)
      }
      val (_, sr0, sa0, sb0) = stResults.head
      val (_, srN, saN, sbN) = stResults.last
      println(
        f"[scale] streaming growth: rows/epoch x${srN.toDouble / sr0}%.0f (fixed keys + sketch cells), " +
          f"s30 time x${saN / sa0}%.1f, s33 time x${sbN / sb0}%.1f " +
          f"(key-bounded epoch traffic predicts ~scan-linear)")
    }

    // Maintenance-loop rows-per-epoch probe (s34's IVF refresh, s36's
    // HLL maintenance) — the last two bounded-work claims on the board
    // without a measured curve. Scale arrives as MORE ROWS PER EPOCH
    // with the EPOCH COUNT (2), the CODEBOOK (K=8 cells, seeds = the
    // one copy of vec_id<8), the reservoir bound (TrainLimit rows by
    // LIMIT, not id range), and the REGISTER DOMAIN (64) all fixed.
    // The production id-threshold staging (id<250 = epoch 0) cannot
    // express m× rows per epoch, so the probe pre-stages the epoch
    // files itself via the registerStaged hooks: copy i of each
    // epoch's rows keeps its epoch FILE and shifts ids by i·n. s36's
    // copies also rename the vocabulary (fresh text → the distinct
    // count grows with m; the registers must still reduce to ≤64
    // cells/epoch). Per-epoch driver traffic is constant by
    // construction (TrainLimit·dim floats + 1-row aggregates / 64
    // registers); total time should track the distributed per-epoch
    // scan. Work shipped to the driver instead of reduced map-side
    // goes super-linear here.
    if (enabled("epoch")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val nVec = emb.agg(max("vec_id")).head().getLong(0) + 1
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val nDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
      def writeOne(df: org.apache.spark.sql.DataFrame, base: String, name: String, mtime: Long): Unit = {
        val tmp = s"$base/_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$base/$name")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime)
      }
      def widenedEpochs(m: Int): String = {
        val dir = scratchDir("graft_scale_e_").toString
        def copies(df: org.apache.spark.sql.DataFrame, idCol: String, n: Long, fresh: Boolean) =
          (0 until m)
            .map { i =>
              val shifted = df.withColumn(idCol, col(idCol) + lit(i * n))
              if (fresh && i > 0)
                shifted.withColumn("text", regexp_replace(col("text"), "(^| )", s"$$1e$i"))
              else shifted
            }
            .reduce(_ unionAll _)
        // s34 epochs: per-epoch m× vectors; exactly one copy of the
        // vec_id<8 seed set (copy 0's) so the initial codebook stays K=8
        val eBase = scratchDir("graft_scale_e34_").toString
        writeOne(copies(emb.filter(col("vec_id") < 250), "vec_id", nVec, fresh = false),
          eBase, "0.parquet", 1000000L)
        writeOne(copies(emb.filter(col("vec_id") >= 250), "vec_id", nVec, fresh = false),
          eBase, "1.parquet", 2000000L)
        graft.streaming.StreamAssign.registerStaged(dir, eBase)
        // s36 epochs: per-epoch m× docs with per-copy-renamed vocabulary
        val dBase = scratchDir("graft_scale_e36_").toString
        writeOne(copies(docs.filter(col("doc_id") < 250), "doc_id", nDoc, fresh = true),
          dBase, "0.parquet", 1000000L)
        writeOne(copies(docs.filter(col("doc_id") >= 250), "doc_id", nDoc, fresh = true),
          dBase, "1.parquet", 2000000L)
        graft.streaming.Watermarks.registerDocStaged(dir, dBase)
        // s36's exact-count audit reads documents from the dir itself;
        // s38's probe set reads embeddings (copy 0 keeps original ids,
        // so vec_id ∈ [100,120) exists at every multiple)
        copies(docs, "doc_id", nDoc, fresh = true)
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        copies(emb, "vec_id", nVec, fresh = false)
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        dir
      }
      val s34q = SparkEntry.queries("s34_stream_ivf_refresh")
      val s36q = SparkEntry.queries("s36_stream_hll")
      val s37q = SparkEntry.queries("s37_stream_packed_windows")
      val s38q = SparkEntry.queries("s38_stream_recall_monitor")
      // JIT warm on the base dir
      s34q(spark, sfDir).write.format("noop").mode("overwrite").save()
      s36q(spark, sfDir).write.format("noop").mode("overwrite").save()
      s37q(spark, sfDir).write.format("noop").mode("overwrite").save()
      s38q(spark, sfDir).write.format("noop").mode("overwrite").save()
      val epResults = mults.map { m =>
        val dir = widenedEpochs(m)
        val t0 = System.nanoTime()
        s34q(spark, dir).write.format("noop").mode("overwrite").save()
        val s34s = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        s36q(spark, dir).write.format("noop").mode("overwrite").save()
        val s36s = (System.nanoTime() - t1) / 1e9
        // s37's per-epoch work is the batch's own span kernel + emission
        // (∝ batch rows + tokens/W) on the SAME pre-staged doc epochs;
        // its carried state stays 20 offset cells at every multiple
        val t2 = System.nanoTime()
        s37q(spark, dir).write.format("noop").mode("overwrite").save()
        val s37s = (System.nanoTime() - t2) / 1e9
        val t3 = System.nanoTime()
        s38q(spark, dir).write.format("noop").mode("overwrite").save()
        val s38s = (System.nanoTime() - t3) / 1e9
        println(f"[scale] x$m%-3d rows/epoch x$m (epochs=2, K=8, regs=64 fixed)  s34_ivf_refresh=$s34s%7.2f s  s36_hll=$s36s%7.2f s  s37_pack=$s37s%7.2f s  s38_recall=$s38s%7.2f s")
        (m, s34s, s36s, s37s, s38s)
      }
      val (_, ea0, eb0, ec0, ed0) = epResults.head
      val (_, eaN, ebN, ecN, edN) = epResults.last
      println(
        f"[scale] epoch growth: rows/epoch x${mults.last / mults.head}%d, " +
          f"s34 time x${eaN / ea0}%.1f, s36 time x${ebN / eb0}%.1f, s37 time x${ecN / ec0}%.1f, s38 time x${edN / ed0}%.1f " +
          f"(bounded reservoir + register reduce + batch-proportional work predict ~scan-linear)")
    }
    // Table-format metadata curves (s39–s50): the format's promise is
    // that COMMIT and SCAN PLANNING cost track MANIFEST ROWS (log
    // metadata), never data volume — a commit writes snapshot+manifest
    // rows through one JDBC hop and never opens a data file, and
    // planning (manifest list, stat-pruning) is a log query. Probe
    // shape: synthetic manifest entries ×(64·m) per snapshot (paths are
    // strings to the log — nothing on disk is read), cumulative
    // streaming-commit growth, and the s49 position-delete READ curve
    // (the one leg that touches data) over real files.
    if (enabled("tablefmt")) {
      import graft.sinks.SnapshotLog
      val logDir = scratchDir("graft_scale_log_")
      // (a) commit + planning vs manifest size — one snapshot per
      // multiple, 64·m entries, bucket stats recorded for pruning
      val dbA = s"$logDir/a.duckdb"
      SnapshotLog.initLog(dbA)
      SnapshotLog.initStats(dbA)
      var parent = 0L
      val fmtResults = mults.map { m =>
        val nf = 64 * m
        val snap = parent + 1
        val files = (0 until nf).map(i => (s"/synthetic/s$snap/f$i.parquet", 1000L))
        SnapshotLog.recordStats(dbA, files.map { case (p, _) =>
          (p, (p.hashCode.toLong & 0xff) % 16) })
        val t0 = System.nanoTime()
        val ok = SnapshotLog.commit(dbA, parent, snap, files)
        val commitSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val mf = SnapshotLog.manifest(dbA, snap)
        val pruned = SnapshotLog.prunePaths(dbA, snap, Seq(3L))
        val planSec = (System.nanoTime() - t1) / 1e9
        parent = snap
        println(f"[scale] x$m%-3d manifest=$nf%5d entries  commit=$commitSec%7.3f s  plan(list+prune)=$planSec%7.3f s (ok=$ok, listed=${mf.size}, pruned=${pruned.size})")
        (m, commitSec, planSec)
      }
      val (_, c0, p0) = fmtResults.head
      val (_, cN, pN) = fmtResults.last
      println(
        f"[scale] tablefmt growth: manifest x${mults.last / mults.head}%d, " +
          f"commit x${cN / c0}%.1f, plan x${pN / p0}%.1f (metadata-linear would track manifest rows; data volume never enters)")

      // (b) streaming-commit lifecycle (the s41/s47 shape): cumulative
      // manifests — epoch e commits e·F entries; per-epoch commit cost
      // must track the CUMULATIVE manifest it rewrites, bounded by
      // metadata, while rows-per-epoch never appears in the cost
      val dbB = s"$logDir/b.duckdb"
      SnapshotLog.initLog(dbB)
      val perEpoch = 64
      val epochs = mults.last
      var cum = Seq.empty[(String, Long)]
      var tCum = 0.0
      (1 to epochs).foreach { e =>
        cum = cum ++ (0 until perEpoch).map(i => (s"/synthetic/e$e/f$i.parquet", 1000L))
        val t0 = System.nanoTime()
        SnapshotLog.commit(dbB, e - 1L, e.toLong, cum)
        val dt = (System.nanoTime() - t0) / 1e9
        tCum += dt
        if (e == 1 || mults.contains(e))
          println(f"[scale] epoch $e%-3d cumulative_manifest=${cum.size}%5d  commit=$dt%7.3f s  (total so far $tCum%7.3f s)")
      }

      // (c) the s49 READ leg: position-delete masking cost vs number of
      // delete files — real parquet, anti-join per (path, ordinal);
      // near-flat growth means the mask stays delta-bounded
      val oPos = Tables.orders(spark, sfDir).select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val posDir = scratchDir("graft_scale_pos_")
      oPos.repartition(8).write.parquet(s"$posDir/data")
      val posData = spark.read.parquet(s"$posDir/data")
        .withColumn("fseq", lit(1L))
        .withColumn("fpath", col("_metadata.file_path"))
        .withColumn("fpos", col("_metadata.row_index"))
      val rowsPos = posData.count()
      posData.agg(count(lit(1)), sum(col("cents"))).head() // warm
      val posResults = mults.map { m =>
        (0 until m).foreach { i =>
          spark.read.parquet(s"$posDir/data")
            .select(col("_metadata.file_path").as("pd_path"),
              col("_metadata.row_index").as("pd_pos"), col("k"))
            .filter(col("k") % 997 === i)
            .select("pd_path", "pd_pos")
            .repartition(1).write.mode("overwrite").parquet(s"$posDir/pd$i")
        }
        val pv = (0 until m)
          .map(i => spark.read.parquet(s"$posDir/pd$i").withColumn("pseq", lit(i + 2L)))
          .reduce(_ unionByName _)
        val t0 = System.nanoTime()
        val agg = posData.as("f")
          .join(pv.as("pv"),
            col("f.fpath") === col("pv.pd_path") && col("f.fpos") === col("pv.pd_pos") &&
              col("pv.pseq") >= col("f.fseq"),
            "left_anti")
          .agg(count(lit(1)), sum(col("cents"))).head()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] x$m%-3d pos_delete_files=$m%4d  posmor_census=$sec%7.2f s (live=${agg.getLong(0)} of $rowsPos)")
        (m, sec)
      }
      val (pm0, ps0) = posResults.head
      val (pmN, psN) = posResults.last
      println(
        f"[scale] posmor growth: delete files x${pmN.toDouble / pm0}%.0f, read time x${psN / ps0}%.1f (flat would be x1)")
    }

    // ---- s52 stats-skipping curves ------------------------------------
    // The claims to measure: (a) RANGE PLANNING is a metadata query —
    // its cost tracks manifest/stat rows (synthetic paths, nothing on
    // disk), and the pruned FRACTION stays constant as the file count
    // grows; (b) on real files, the pruned read of a clustered layout
    // costs ~the selected fraction of the full scan — the whole point
    // of recording min/max stats.
    if (enabled("skipping")) {
      import graft.sinks.SnapshotLog
      val logDir = scratchDir("graft_scale_skip_")
      val dbS = s"$logDir/s.duckdb"
      SnapshotLog.initLog(dbS)
      SnapshotLog.initColStats(dbS)
      var parent = 0L
      val planResults = mults.map { m =>
        val nf = 64 * m
        val snap = parent + 1
        // disjoint per-file ranges [1000i, 1000i+999]: a fixed query
        // window selects a CONSTANT 1/16 of files at every scale
        val files = (0 until nf).map(i => (s"/synthetic/skip$snap/f$i.parquet", 1000L))
        SnapshotLog.recordColStats(
          dbS, "c0", files.zipWithIndex.map { case ((p, _), i) =>
            (p, 1000L * i, 1000L * i + 999L) })
        SnapshotLog.commit(dbS, parent, snap, files)
        val t0 = System.nanoTime()
        val pruned = SnapshotLog.pruneByCols(dbS, snap, Seq(("c0", 0L, 1000L * (nf / 16) - 1L)))
        val planSec = (System.nanoTime() - t0) / 1e9
        parent = snap
        println(f"[scale] x$m%-3d stat_files=$nf%5d  plan(range)=$planSec%7.3f s  pruned=${pruned.size}%5d (${pruned.size * 100 / nf}%d%% kept)")
        (m, planSec)
      }
      val (_, sp0) = planResults.head
      val (_, spN) = planResults.last
      println(
        f"[scale] skipping plan growth: stat rows x${mults.last / mults.head}%d, plan x${spN / sp0}%.1f (metadata-linear; kept fraction constant)")

      // ---- s58/s61 binpack-planning curve --------------------------
      // the auto-compact/OPTIMIZE planner must stay metadata-bounded:
      // 64·m manifest rows (16 buckets, alternating small/large files),
      // a fixed threshold selects the constant small half in 16 groups
      // — planning wall must track manifest rows, never data. Rides the
      // skipping section's scratch log: enable as "skipping,binpack".
      if (enabled("binpack")) {
        val dbB = s"$logDir/b.duckdb"
        SnapshotLog.initLog(dbB)
        SnapshotLog.initStats(dbB)
        var bParent = 0L
        val bpResults = mults.map { m =>
          val nf = 64 * m
          val snap = bParent + 1
          val files = (0 until nf).map { i =>
            val rows = if (i % 2 == 0) 10L else 1000L
            (s"/synthetic/bp$snap/f$i.parquet", rows)
          }
          SnapshotLog.recordStats(
            dbB, files.zipWithIndex.map { case ((p, _), i) => (p, (i % 16).toLong) })
          SnapshotLog.commit(dbB, bParent, snap, files)
          val t0 = System.nanoTime()
          val bp = SnapshotLog.planBinpack(dbB, snap, 500L)
          val planSec = (System.nanoTime() - t0) / 1e9
          bParent = snap
          println(f"[scale] x$m%-3d manifest=$nf%5d  plan(binpack)=$planSec%7.3f s  groups=${bp.size}%3d files=${bp.map(_._2.size).sum}%5d")
          (m, planSec)
        }
        val (_, bp0) = bpResults.head
        val (_, bpN) = bpResults.last
        println(
          f"[scale] binpack plan growth: manifest rows x${mults.last / mults.head}%d, plan x${bpN / bp0}%.1f (metadata-linear; group count constant)")
      }

      // (a3) two-level manifest + NDV-sketch planning (s65/s64): a
      // synthetic table of 16·m files in 4·m four-file groups, 8 sketch
      // rows per file. Timed: the s65 point-query plan (group prune →
      // surviving group's entries — the work is the group-summary scan,
      // never the full entry table) and the s64 register merge over ALL
      // files (the worst-case scope: O(files · regs) metadata agg).
      // Both must stay metadata-cheap as the file count grows ×64.
      if (enabled("manifestplan")) {
        val dbM = s"$logDir/m.duckdb"
        SnapshotLog.initLog(dbM)
        SnapshotLog.initManifestGroups(dbM)
        SnapshotLog.initColNdv(dbM)
        var mParent = 0L
        val mpResults = mults.map { m =>
          val nf = 16 * m
          val snap = mParent + 1
          val files = (0 until nf).map(i => (s"/synthetic/mp$snap/f$i.parquet", 100L))
          SnapshotLog.commit(dbM, mParent, snap, files)
          (0 until nf / 4).foreach { g =>
            SnapshotLog.recordGroup(dbM, snap, snap * 1000000L + g,
              (0 until 4).map(j => (files(g * 4 + j)._1, (g * 4 + j).toLong)))
          }
          SnapshotLog.recordColNdv(dbM, files.flatMap { case (p, _) =>
            (0 until 8).map(b => (p, "k", b.toLong, ((math.abs(p.hashCode) + b) % 20 + 1).toLong))
          })
          val probeB = (nf / 2).toLong
          val t0 = System.nanoTime()
          val planned = graft.sinks.DuckDbLive.withConnection(dbM) { c =>
            val gids = graft.sinks.DuckDbLive.queryRows(
              c,
              s"""SELECT group_id FROM manifest_groups
                 WHERE snapshot_id = $snap AND max_b >= $probeB AND min_b <= $probeB
                 ORDER BY group_id""").map(_.head.asInstanceOf[Number].longValue)
            graft.sinks.DuckDbLive.queryRows(
              c,
              s"""SELECT path, bucket FROM group_entries
                 WHERE group_id IN (${gids.mkString(", ")}) ORDER BY path""")
              .count(r => r(1).asInstanceOf[Number].longValue == probeB)
          }
          val planSec = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          val regs = SnapshotLog.colNdvRegisters(dbM, files.map(_._1), "k")
          val mergeSec = (System.nanoTime() - t1) / 1e9
          mParent = snap
          println(
            f"[scale] x$m%-3d files=$nf%5d  plan(2level)=$planSec%7.3f s (files=$planned)  " +
              f"ndv_merge(all)=$mergeSec%7.3f s (regs=${regs.size})")
          (m, planSec, mergeSec)
        }
        val (_, mp0, nv0) = mpResults.head
        val (_, mpN, nvN) = mpResults.last
        println(
          f"[scale] manifestplan growth: files x${mults.last / mults.head}%d, " +
            f"2level plan x${mpN / mp0}%.1f, ndv merge x${nvN / nv0}%.1f (both metadata-bounded)")
      }

      // (b) real-read leg: same rows, unclustered (k%16) vs
      // range-clustered files; the range census over the PRUNED
      // clustered set vs the FULL unclustered scan. The probe-SF table
      // is amplified x32 (distinct keys, same value distribution) so
      // the comparison is scan-bound — at raw sf0.1 both legs are pure
      // scheduler fixed cost and the ratio reads as noise.
      val oBase = Tables.orders(spark, sfDir).select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val oSkip = spark.range(32).crossJoin(oBase)
        .select((col("k") * 32L + col("id")).as("k"), col("cents"))
      val r = oSkip.agg(min(col("cents")), max(col("cents"))).head()
      val (mn, mxv) = (r.getLong(0), r.getLong(1))
      // 128 buckets >> the 32 local cores: the full scan needs 4 task
      // waves, the 8-bucket pruned read 1 — so skipping shows up in
      // wall-clock, as it would on a cluster where files >> slots
      val nb = 128L
      val bw = (mxv - mn) / nb + 1L
      val (lo, hi) = (mn, mn + 8L * bw - 1L)
      val skipDir = scratchDir("graft_scale_skipread_")
      oSkip.withColumn("g", pmod(col("k"), lit(nb)))
        .repartition(col("g")).write.partitionBy("g").parquet(s"$skipDir/u")
      oSkip.withColumn("g", expr(s"(cents - $mn) div $bw"))
        .repartition(col("g")).write.partitionBy("g").parquet(s"$skipDir/c")
      def rangeCensus(path: String) = {
        val t0 = System.nanoTime()
        val a = spark.read.parquet(path)
          .filter(col("cents").between(lo, hi))
          .agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head()
        ((System.nanoTime() - t0) / 1e9, a.getLong(0))
      }
      rangeCensus(s"$skipDir/u") // warm both layouts' footers
      rangeCensus(s"$skipDir/c")
      val (tFull, nFull) = rangeCensus(s"$skipDir/u")
      // the pruned read: only the clustered files whose range overlaps
      val prunedDirs = new java.io.File(s"$skipDir/c").listFiles()
        .filter(_.getName.startsWith("g="))
        .filter { d =>
          val g = d.getName.stripPrefix("g=").toLong
          val (fmn, fmx) = (mn + g * bw, mn + (g + 1) * bw - 1L)
          fmx >= lo && fmn <= hi
        }
        .map(_.getAbsolutePath).sorted
      val t1 = System.nanoTime()
      val aP = spark.read.parquet(prunedDirs: _*)
        .filter(col("cents").between(lo, hi))
        .agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head()
      val tPruned = (System.nanoTime() - t1) / 1e9
      println(
        f"[scale] skipping read: full-unclustered=$tFull%6.3f s ($nFull rows), pruned-clustered=$tPruned%6.3f s (${aP.getLong(0)} rows, ${prunedDirs.length} of $nb files) — ratio x${tFull / tPruned}%.1f")
      require(aP.getLong(0) == nFull, "pruned census diverged from full scan")
    }
    spark.stop()
  }
}
