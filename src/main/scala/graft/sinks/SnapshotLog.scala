package graft.sinks

import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The table-log entry family: the 40 lifecycle and planner-stat
  * entries (s39–s58, s60–s65, s67, s71–s76, q212, q215, q218, q220,
  * q222, q225, q226) that run on the snapshot-isolated log of
  * [[TableLog]]. Each stages immutable parquet
  * files (writeCounted, writeBucketed), commits them through
  * `TableLog.commit`, and audits what the log reconstructs.
  *
  * The s39 query drives the full lifecycle: two committed snapshots
  * (epoch-0 slice, then append), one INJECTED stale-parent commit that
  * must be rejected, then a time-travel read of snapshot 1 next to the
  * current read of snapshot 2 — both censuses hashed against the
  * oracle's from-scratch recompute over `orders`, so a commit that
  * loses files, a manifest that leaks the other epoch's rows, or a
  * swap that let the stale commit through all fail the gate.
  */
object SnapshotLog {

  private val Cutoff = "2001-07-15"

  /** Run `body` against a fresh temp dir and ALWAYS delete it on the way
    * out: every lifecycle fully materializes its censuses inside the
    * call, so the parquet staging is dead weight afterwards.
    */
  private def withTempTableDir[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    // connection reuse for the lifecycle's metadata calls; the scope
    // closes every cached connection BEFORE the finally deletes the files
    try DuckDbLive.cachingScope(base)(body(base))
    finally graft.ops.Scratch.deleteTree(base)
  }

  /** COMMIT-CARRIED counts for the s39-class lifecycles (no post-write
    * `_metadata.file_path` re-scan, like the bucket-base lifecycles):
    * write `df` as (at most)
    * `nParts` part files under `dir` with an Observation of
    * per-partition conditional counts attached to the WRITE JOB itself,
    * attributed to files by the part index Spark embeds in the file
    * name (`part-0000i-…` is task i's output — the same 1:1 task↔file
    * contract the listing relies on). The loud-failure contract and
    * the zero-row rule are kept by construction: every listed file's
    * parsed index must be inside the declared partition range and
    * unique, and a partition that observed rows must have produced a
    * file — mis-attribution fails the require, never zeroes a manifest
    * row count. (An empty partition writes no file and its observed 0
    * is checked; a listed zero-row file still enters with n_rows = 0.)
    *
    * SINGLE-ATTEMPT ASSUMPTION: Observation metrics are accumulator
    * updates, which Spark does NOT de-duplicate across task retries or
    * speculative attempts the way it de-dups committed task output — a
    * retried write task could double-count its rows. Safe here
    * (local mode, maxFailures = 1, no speculation); on a real cluster
    * set SPARK_GRAFT_VERIFY_COUNTS=1 to cross-check every attributed
    * count against a footer-derived per-file census and fail loudly on
    * divergence before the counts enter a manifest.
    */
  private def writeCounted(
      spark: SparkSession,
      df: DataFrame,
      dir: String,
      nParts: Int): Seq[(String, Long)] = {
    val obs = org.apache.spark.sql.Observation()
    val aggs = (0 until nParts).map(i =>
      sum(when(spark_partition_id() === i, lit(1L)).otherwise(lit(0L))).as(s"n_$i"))
    df.repartition(nParts)
      .observe(obs, aggs.head, aggs.tail: _*)
      .write.parquet(dir)
    val m = obs.get // blocks until the write job's listener fires
    val idxRe = "part-(\\d+)-".r
    val listed: Seq[(Int, String)] = new java.io.File(dir)
      .listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map { f =>
        val i = idxRe.findFirstMatchIn(f.getName).getOrElse(
          sys.error(s"writeCounted: unparseable part file name ${f.getName} under $dir"))
          .group(1).toInt
        (i, f.getAbsolutePath)
      }
      .toSeq
    require(
      listed.map(_._1).distinct.size == listed.size &&
        listed.forall(_._1 < nParts),
      s"writeCounted: listed part indices ${listed.map(_._1).sorted.mkString(",")} " +
        s"under $dir are not unique within the declared $nParts partitions")
    val present = listed.map(_._1).toSet
    val unattributed = (0 until nParts)
      .filter(i => !present.contains(i) && m(s"n_$i").asInstanceOf[Long] > 0L)
    require(
      unattributed.isEmpty,
      s"writeCounted: partition(s) ${unattributed.mkString(",")} observed rows " +
        s"but wrote no file under $dir — counts would be silently dropped")
    val out = listed.sortBy(_._2).map { case (i, p) => (p, m(s"n_$i").asInstanceOf[Long]) }
    if (sys.env.get("SPARK_GRAFT_VERIFY_COUNTS").contains("1")) {
      // debug cross-check for retry/speculation environments: the
      // observed counts must equal a committed-output census
      val actual = Tables.parquet(spark, dir)
        .groupBy(col("_metadata.file_path").as("fp"))
        .agg(count(lit(1)).as("c"))
        .collect() // one row per part file — manifest-scale metadata
        .map(r => (new java.net.URI(r.getString(0)).getPath, r.getLong(1)))
        .toMap
      out.foreach { case (p, n) =>
        require(
          actual.getOrElse(p, 0L) == n,
          s"writeCounted: observed count $n for $p diverges from the " +
            s"footer census ${actual.getOrElse(p, 0L)} — duplicate " +
            "accumulator updates (task retry / speculation)?")
      }
    }
    out
  }

  /** The s39 lifecycle (object scaladoc). Output: one row per committed
    * snapshot — manifest size, time-travel census, currency — plus the
    * injected stale commit's reject flag, all in-hash.
    */
  def snapshotLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderdate").cast("date").as("d"))

    withTempTableDir("graft_s39_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // epoch 0: the pre-cutoff slice, exactly 2 data files (repartition
      // pins the file count; both non-empty at every SF)
      val files1 = writeCounted(spark, o.filter(col("d") < lit(Cutoff).cast("date"))
        .drop("d"), s"$base/b1", 2)
      val c1 = TableLog.commit(dbFile, expectedParent = 0L, snapshotId = 1L, files1)

      // epoch 1: append the rest as 3 new files; snapshot 2's manifest
      // lists the FULL file set (snapshot-owns-its-manifest-list shape)
      val files2 = writeCounted(spark, o.filter(!(col("d") < lit(Cutoff).cast("date")))
        .drop("d"), s"$base/b2", 3)
      val c2 = TableLog.commit(dbFile, expectedParent = 1L, snapshotId = 2L, files1 ++ files2)

      // INJECTED stale commit: a writer that still thinks the table is
      // at snapshot 1 (the retried-job / concurrent-committer failure
      // mode) — the conditional swap must reject it cleanly
      val stale = TableLog.commit(dbFile, expectedParent = 1L, snapshotId = 3L, files2)
      val conflictRejected = c1 && c2 && !stale &&
        TableLog.currentSnapshot(dbFile) == 2L

      // time-travel read: reconstruct each snapshot FROM THE LOG ALONE
      // and census the actual parquet read (not the manifest counts) —
      // the hash proves the historical state is bit-reconstructible
      val census = TableLog.census(spark, dbFile, Seq(1L, 2L))()
      val rows = Seq(1L, 2L).map { snap =>
        (snap, TableLog.manifest(dbFile, snap).size.toLong,
          census(snap)._1, census(snap)._2,
          snap == TableLog.currentSnapshot(dbFile), conflictRejected)
      }
      rows
        .toDF("snapshot_id", "n_files", "n_rows", "sum_cents", "is_current",
          "conflict_rejected")
        .orderBy("snapshot_id")
    }
  }

  /** s41 — STREAMING ingest through the commit log: the production path
    * that turns s02's per-epoch parquet appends into SNAPSHOT-ISOLATED
    * table commits (Iceberg/Delta streaming-sink shape). Each micro-batch
    * writes its rows as immutable parquet files, then commits snapshot
    * (epoch+1) on parent epoch with the CUMULATIVE manifest list — read
    * from the log itself, the source of truth for what the table already
    * contains. Exactly-once visibility is the LOG's property, not the
    * source's: the staged replay re-delivers batch-0 rows (file 2), and
    * they append as new data exactly once, while an injected RE-DELIVERED
    * COMMIT (a retried epoch-1 job still claiming parent 1 after the
    * table moved to snapshot 3) is rejected by the conditional swap —
    * its data files would stay invisible orphans, never half-visible
    * table state. Output: per-snapshot time-travel censuses (n_files
    * pinned by the per-batch repartition, rows/cents read from the
    * listed parquet) + currency + the exactly_once flag (all commits
    * landed, retry rejected, pointer at 3).
    *
    * Scale shape: the stream shuffles nothing (map-only projection per
    * batch); commit cost is metadata rows through one JDBC hop; the
    * time-travel reads plan plain parquet scans of the listed files.
    */
  def streamCommits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val s = graft.streaming.StreamSessions.tuned(spark)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val cents = expr("CAST(floor(value * 100) AS BIGINT)").as("cents")

    withTempTableDir("graft_s41_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      val staged = graft.streaming.Watermarks.stageBatches(s, dir)
      val schema = Tables.parquet(s, s"$staged/0.parquet").schema
      val commits = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
      val q = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/*.parquet")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: DataFrame, epoch: Long) =>
          // write-then-commit: files first (2 per epoch, pinned), then
          // the atomic log commit makes them visible — a crash between
          // the two leaves invisible orphans, never a torn table
          val out = s"$base/e$epoch"
          val ef = writeCounted(
            s, b.select(col("event_id"), col("user_id"), cents), out, 2)
          commits.put(
            epoch,
            TableLog.commit(dbFile, epoch, epoch + 1, TableLog.manifest(dbFile, epoch) ++ ef))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      // injected RETRY of epoch 1's commit after the table advanced: the
      // swap's parent check (pointer = 3 ≠ 1) must reject it cleanly
      // the retried payload comes FROM THE LOG: snapshot 2's manifest is
      // exactly manifest(1) ++ epoch-1's files — no post-write re-scan
      val retry = TableLog.commit(dbFile, 1L, 2L, TableLog.manifest(dbFile, 2L))
      import scala.jdk.CollectionConverters._
      val exactlyOnce = commits.asScala.values.forall(identity) &&
        commits.size == 3 && !retry && TableLog.currentSnapshot(dbFile) == 3L

      val census = TableLog.census(spark, dbFile, Seq(1L, 2L, 3L))()
      val rows = Seq(1L, 2L, 3L).map { snap =>
        (snap, TableLog.manifest(dbFile, snap).size.toLong,
          census(snap)._1, census(snap)._2,
          snap == TableLog.currentSnapshot(dbFile), exactlyOnce)
      }
      rows
        .toDF("snapshot_id", "n_files", "n_rows", "sum_cents", "is_current",
          "exactly_once")
        .orderBy("snapshot_id")
    }
  }

  /** s40 — the INTEGRATION the pieces individually prove: incremental
    * refresh DRIVEN BY the commit log. s35 diffs the corpus against a
    * cutoff to find its delta; at 100 TB the production form diffs two
    * snapshots' MANIFEST LISTS — the files snapshot 2 added over
    * snapshot 1 ARE the delta, no corpus scan decides what changed.
    * Lifecycle: commit snapshot 1 and full-build the maintained view
    * from its manifest; commit snapshot 2 (append); refresh the view by
    * reading ONLY the manifest-diff files through s35's transactionally
    * idempotent ledger apply (`IncrementalRefresh.applyRefresh`);
    * INJECT a re-delivery of the same refresh batch (must be rejected);
    * verify the view per-bucket against a from-scratch aggregate over
    * snapshot 2's full manifest. Refresh cost is |added files| +
    * |view| — history is never re-read, and the decision input is pure
    * log metadata.
    */
  def snapshotRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("bucket"),
        col("o_orderdate").cast("date").as("d"))
    def partials(df: DataFrame): Seq[(Long, Long, Long, Long)] = df
      .withColumn("fp",
        expr("""(o_orderkey * 1000003 + cents * 31 + o_custkey) % 1000000007"""))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"), sum(col("fp")).as("dg"))
      .collect() // bucket-domain-bounded (~80 order-month cells)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

    withTempTableDir("graft_s40_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)
      IncrementalRefresh.initStore(dbFile)

      val files1 = writeCounted(spark, o.filter(col("d") < lit(Cutoff).cast("date")).drop("d"), s"$base/b1", 2)
      TableLog.commit(dbFile, 0L, 1L, files1)
      // full build from SNAPSHOT 1's manifest (the log is the source of
      // truth for what the table contains, not the raw fixture)
      val built = IncrementalRefresh.applyRefresh(
        dbFile, 1L,
        partials(TableLog.read(spark, dbFile, 1L)))

      val files2 = writeCounted(spark, o.filter(!(col("d") < lit(Cutoff).cast("date"))).drop("d"), s"$base/b2", 3)
      TableLog.commit(dbFile, 1L, 2L, files1 ++ files2)

      // the refresh delta = manifest(2) \ manifest(1): log metadata only
      val added = TableLog.manifest(dbFile, 2L).map(_._1)
        .filterNot(TableLog.manifest(dbFile, 1L).map(_._1).toSet)
      val addedPartials = partials(Tables.parquet(spark, added: _*))
      val refreshed = IncrementalRefresh.applyRefresh(dbFile, 2L, addedPartials)
      // injected re-delivery of the same refresh batch: ledger rejects
      val redelivered = IncrementalRefresh.applyRefresh(dbFile, 2L, addedPartials)

      // per-bucket from-scratch equality over snapshot 2's full manifest
      val scratch = TableLog.read(spark, dbFile, 2L)
        .withColumn("fp",
          expr("""(o_orderkey * 1000003 + cents * 31 + o_custkey) % 1000000007"""))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"), sum(col("fp")).as("dg"))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val viewRows = DuckDbLive.withConnection(dbFile) { c =>
        DuckDbLive
          .queryRows(c, "SELECT bucket, n_rows, sum_cents, dig FROM view_m ORDER BY bucket")
          .map(r => (
            r(0).asInstanceOf[Number].longValue,
            (r(1).asInstanceOf[Number].longValue,
              r(2).asInstanceOf[Number].longValue,
              r(3).asInstanceOf[Number].longValue)))
      }
      val viewOk = built && refreshed && !redelivered &&
        viewRows.toMap == scratch
      Seq((
        added.size.toLong,
        addedPartials.map(_._2).sum,
        viewRows.size.toLong,
        viewRows.map(_._2._1).sum,
        viewRows.map(_._2._2).sum,
        viewOk,
        1L,
        true))
        .toDF("n_files_added", "rows_added", "n_buckets", "n_rows_view",
          "sum_cents_view", "view_ok", "n_redeliveries_rejected", "refresh_live")
        .orderBy("n_files_added")
    }
  }

  /** s42 — snapshot EXPIRATION + orphan-file GC: the maintenance pair
    * (Iceberg `expire_snapshots` + `remove_orphan_files`) that keeps a
    * 100 TB table's storage bounded. Without it the s39 format leaks
    * forever: every compaction (snapshot 3 rewrites snapshots 1+2's five
    * files into two) strands the pre-compaction files behind historical
    * manifests, and every REJECTED commit (the s39/s41 failure mode —
    * write-then-commit means a loser's data files land on storage but
    * never become visible) strands true orphans no manifest ever listed.
    *
    * Lifecycle under test: commit snapshots 1 (2 files), 2 (append, +3
    * files), 3 (compaction — same rows, 2 NEW files); inject a stale
    * commit whose 2 already-written data files are cleanly rejected into
    * orphan-hood; EXPIRE snapshots 1 and 2; GC = delete every data file
    * not reachable from a retained manifest (pure log metadata — one
    * DISTINCT over manifest rows, never a content scan). The output
    * censuses read snapshot 3's parquet AFTER the deletions, so a GC
    * that deletes a live file, a compaction that lost rows, or an
    * expiration that touched the current snapshot all fail the hash;
    * gc_safe additionally pins "deleted files are really gone, live
    * files really remain, expired ids no longer time-travel".
    *
    * Scale shape: expiration and reachability are metadata-only (log
    * rows through one JDBC hop); the physical deletes are embarrassingly
    * parallel per-file ops driven by that bounded metadata diff, and the
    * data files themselves are never read to decide anything.
    */
  def expireGc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderdate").cast("date").as("d"))

    withTempTableDir("graft_s42_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // snapshots 1 and 2: the s39 append lifecycle (2 then +3 files)
      val files1 = writeCounted(spark, o.filter(col("d") < lit(Cutoff).cast("date")).drop("d"), s"$base/b1", 2)
      val c1 = TableLog.commit(dbFile, 0L, 1L, files1)
      val files2 = writeCounted(spark, o.filter(!(col("d") < lit(Cutoff).cast("date"))).drop("d"), s"$base/b2", 3)
      val c2 = TableLog.commit(dbFile, 1L, 2L, files1 ++ files2)

      // snapshot 3: COMPACTION — q131's algebra run against the log:
      // read exactly what snapshot 2's manifest lists, rewrite as 2 new
      // files, commit a manifest that references ONLY the new files
      val files3 = writeCounted(spark, TableLog.read(spark, dbFile, 2L), s"$base/b3", 2)
      val c3 = TableLog.commit(dbFile, 2L, 3L, files3)

      // ORPHANS: a loser of the commit race has already written its data
      // files when the conditional swap rejects it — they exist on
      // storage but no manifest row ever points at them
      val filesX = writeCounted(spark, o.filter(col("d") < lit(Cutoff).cast("date")).drop("d"), s"$base/bx", 2)
      val stale = TableLog.commit(dbFile, 1L, 9L, filesX)

      // expire 1 and 2, then GC against the retained reachability set
      val expired = TableLog.expireSnapshots(dbFile, olderThan = 3L)
      val live = TableLog.liveFiles(dbFile)
      val all = (files1 ++ files2 ++ files3 ++ filesX).map(_._1)
      val garbage = all.filterNot(live)
      garbage.foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
      val orphansDeleted = filesX.map(_._1).count(garbage.toSet)
      val expiredDeleted = (files1 ++ files2).map(_._1).count(garbage.toSet)

      // census snapshot 3 AFTER the deletions — the proof GC kept every
      // live file and compaction preserved every row
      val mf3 = TableLog.manifest(dbFile, 3L)
      val agg = Tables.parquet(spark, mf3.map(_._1): _*)
        .agg(count(lit(1)), sum(col("cents"))).head()
      val gcSafe = c1 && c2 && c3 && !stale &&
        expired == Seq(1L, 2L) &&
        TableLog.currentSnapshot(dbFile) == 3L &&
        TableLog.manifest(dbFile, 1L).isEmpty && TableLog.manifest(dbFile, 2L).isEmpty &&
        garbage.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))) &&
        live.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))

      Seq((
        expired.size.toLong,
        orphansDeleted.toLong,
        expiredDeleted.toLong,
        mf3.size.toLong,
        agg.getLong(0),
        agg.getLong(1),
        gcSafe))
        .toDF("n_snapshots_expired", "n_orphans_deleted",
          "n_expired_files_deleted", "n_files_live", "n_rows", "sum_cents",
          "gc_safe")
        .orderBy("n_rows")
    }
  }

  /** s43 — copy-on-write MERGE through the commit log: the row-level
    * mutation path (Delta/Iceberg `MERGE INTO`, COW mode) that turns the
    * append-only s39 format into a table you can UPDATE/DELETE/INSERT
    * against. The load-bearing ideas, each pinned by the gate:
    *
    *   - AFFECTED-FILE PRUNING is metadata-only: every data file carries
    *     its partition value in the log (`file_stats`, the Iceberg
    *     manifest-entry stat), the delta's touched buckets are computed
    *     from the delta alone (bucket domain ≤ 4), and their join picks
    *     the files to rewrite WITHOUT opening any data file — here
    *     exactly 1 of the 4 base files;
    *   - COPY-ON-WRITE: only that file is read and rewritten (deletes
    *     filtered, updates applied, inserts unioned); the 3 untouched
    *     files are carried into snapshot 2's manifest BY PATH — at
    *     100 TB the merge cost is |affected files| + |delta|, never a
    *     table rewrite;
    *   - TIME TRAVEL survives the mutation: the pre-merge census is read
    *     back from snapshot 1's manifest AFTER the merge committed.
    *
    * Delta (all in bucket k%4==2 by construction): DELETE k≡6 (mod 20),
    * UPDATE k≡2 (mod 20) → cents+1000, INSERT 10 fresh keys above
    * max(k). The output carries both censuses plus the delta counts; the
    * oracle recomputes every number from `orders` with the same
    * predicates, so an unapplied update, a leaked delete, a lost carried
    * file, or pruning that picked the wrong file all move real integers.
    * The per-bucket write loop pins the file count for the gate; the
    * production form is `write.partitionBy(bucket)` with the partition
    * value recorded per manifest entry, same metadata, same plan.
    */
  def mergeCow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val delPred = col("k") % 20 === 6
    val updPred = col("k") % 20 === 2
    val deltaAgg = o.agg(
      sum(when(delPred, lit(1L)).otherwise(lit(0L))).as("nd"),
      sum(when(updPred, lit(1L)).otherwise(lit(0L))).as("nu"),
      sum(when(delPred, col("cents")).otherwise(lit(0L))).as("sd"),
      max(col("k")).as("mx")).head()
    val (nd, nu, mx) = (deltaAgg.getLong(0), deltaAgg.getLong(1), deltaAgg.getLong(3))
    val inserts = (0 until 10)
      .map(i => (mx - (mx % 4) + 4L * (i + 1) + 2L, 1000000L + 7L * i))
      .toDF("k", "cents")

    withTempTableDir("graft_s43_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // base table: one immutable file per bucket, partition value
      // recorded in the log (the Iceberg manifest-entry stat)
      val baseFiles = writeBaseBuckets(spark, dbFile, o, s"$base/data", 4)
        .map(f => (f._1, f._2))
      val c1 = TableLog.commit(dbFile, 0L, 1L, baseFiles)

      // the delta's touched buckets, computed FROM the delta (domain ≤ 4
      // values — a bounded collect by construction)
      val deltaBuckets = o.filter(delPred || updPred).select((col("k") % 4).as("b"))
        .union(inserts.select((col("k") % 4).as("b")))
        .distinct().collect().map(_.getLong(0)).sorted.toSeq

      // metadata-only scan planning: which files must be rewritten
      val affected = TableLog.prunePaths(dbFile, 1L, deltaBuckets)
      val carried = TableLog.manifest(dbFile, 1L).filterNot(f => affected.contains(f._1))

      // COW rewrite of exactly the affected file(s)
      val newFiles = writeCounted(spark, Tables.parquet(spark, affected: _*)
        .filter(!delPred)
        .withColumn("cents",
          when(updPred, col("cents") + 1000L).otherwise(col("cents")))
        .unionByName(inserts), s"$base/m", 1)
      TableLog.recordStats(dbFile, newFiles.map(p => (p._1, 2L)))
      val c2 = TableLog.commit(dbFile, 1L, 2L, carried ++ newFiles)

      // post-merge census from snapshot 2, pre-merge TIME TRAVEL from
      // snapshot 1 — both read after the merge committed; independent
      // scans, overlapped
      val (post, pre) = graft.ops.Par.run2(
        () => TableLog.read(spark, dbFile, 2L)
          .agg(count(lit(1)), sum(col("cents"))).head(),
        () => TableLog.read(spark, dbFile, 1L)
          .agg(count(lit(1)), sum(col("cents"))).head())
      val mergeOk = c1 && c2 &&
        affected.size == 1 && carried.size == 3 &&
        TableLog.currentSnapshot(dbFile) == 2L &&
        carried.forall(f => TableLog.manifest(dbFile, 2L).contains(f)) &&
        post.getLong(0) == pre.getLong(0) - nd + 10L

      Seq((
        baseFiles.size.toLong, affected.size.toLong, carried.size.toLong,
        nd, nu, 10L,
        post.getLong(0), post.getLong(1), pre.getLong(0), pre.getLong(1),
        mergeOk))
        .toDF("n_files_base", "n_files_rewritten", "n_files_carried",
          "n_deleted", "n_updated", "n_inserted", "n_rows", "sum_cents",
          "n_rows_pre", "sum_cents_pre", "merge_ok")
        .orderBy("n_rows")
    }
  }

  /** s45 — the CHANGELOG FEED between two snapshots (Iceberg's
    * changelog-scan procedure / Delta's change-data-feed, computed
    * WITHOUT per-row tracking): the layer that lets downstream
    * incremental consumers — the s35/s40 refresh family, CDC mirrors,
    * index maintainers — subscribe to a snapshot table instead of
    * re-diffing it. The load-bearing ideas:
    *
    *   - the CHANGED-FILE SET is the manifest diff (removed =
    *     manifest(1) \ manifest(2), added = manifest(2) \ manifest(1))
    *     — pure log metadata, so CDC cost is ∝ |changed files|, never
    *     the table: the 3 carried-by-path files of the COW merge are
    *     never read;
    *   - row changes come from a full-outer join of removed-file rows
    *     vs added-file rows on the key: removed-only → delete,
    *     added-only → insert, both-with-different-payload → update
    *     (pre and post in one row), both-equal → NO-OP — the rows a COW
    *     rewrite carries unchanged inside the rewritten file MUST be
    *     suppressed or every merge looks like a table rewrite to
    *     consumers (the classic CDF-on-COW bug, pinned in-hash because
    *     emitting no-ops moves every census).
    *
    * The lifecycle is s43's COW merge (same predicates); the output is
    * the per-change-type census — row count, key checksum, pre/post
    * cents sums — plus the changed-file count, every number recomputed
    * by the oracle from `orders` with the same k%20 predicates and the
    * same 10 synthetic inserts.
    *
    * Scale shape: two bounded file reads (the affected file pre/post),
    * one equi-key full-outer join between them (both delta-file-sized),
    * one hash aggregate; nothing touches the unchanged table.
    */
  def changelogFeed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val delPred = col("k") % 20 === 6
    val updPred = col("k") % 20 === 2
    val mx = o.agg(max(col("k"))).head().getLong(0)
    val inserts = (0 until 10)
      .map(i => (mx - (mx % 4) + 4L * (i + 1) + 2L, 1000000L + 7L * i))
      .toDF("k", "cents")

    withTempTableDir("graft_s45_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // s43's COW lifecycle: 4 bucket files, prune to bucket 2, rewrite
      val baseFiles = writeBaseBuckets(spark, dbFile, o, s"$base/data", 4)
        .map(f => (f._1, f._2))
      TableLog.commit(dbFile, 0L, 1L, baseFiles)
      val affected = TableLog.prunePaths(dbFile, 1L, Seq(2L))
      val carried = TableLog.manifest(dbFile, 1L).filterNot(f => affected.contains(f._1))
      val newFiles = writeCounted(spark, Tables.parquet(spark, affected: _*)
        .filter(!delPred)
        .withColumn("cents",
          when(updPred, col("cents") + 1000L).otherwise(col("cents")))
        .unionByName(inserts), s"$base/m", 1)
      TableLog.commit(dbFile, 1L, 2L, carried ++ newFiles)

      // the changelog: manifest diff → removed/added file sets (log
      // metadata), then one full-outer join of exactly those files
      val mf1 = TableLog.manifest(dbFile, 1L).map(_._1).toSet
      val mf2 = TableLog.manifest(dbFile, 2L).map(_._1).toSet
      val removed = (mf1 -- mf2).toSeq.sorted
      val added = (mf2 -- mf1).toSeq.sorted
      val pre = Tables.parquet(spark, removed: _*).select(
        col("k").as("rk"), col("cents").as("pre_cents"))
      val post = Tables.parquet(spark, added: _*).select(
        col("k").as("ak"), col("cents").as("post_cents"))
      val changes = pre
        .join(post, col("rk") === col("ak"), "full_outer")
        .withColumn("change_type",
          when(col("ak").isNull, lit("delete"))
            .when(col("rk").isNull, lit("insert"))
            .when(col("pre_cents") =!= col("post_cents"), lit("update"))
            .otherwise(lit("noop")))
        .filter(col("change_type") =!= "noop")
      // materialize the (change-type-bounded, ≤3-row) census before
      // withTempTableDir deletes the staged parquet under the lazy plan
      changes
        .groupBy(col("change_type"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(coalesce(col("rk"), col("ak"))).as("key_sum"),
          sum(coalesce(col("pre_cents"), lit(0L))).as("sum_cents_pre"),
          sum(coalesce(col("post_cents"), lit(0L))).as("sum_cents_post"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), (removed.size + added.size).toLong))
        .toSeq
        .toDF("change_type", "n_rows", "key_sum", "sum_cents_pre",
          "sum_cents_post", "n_files_scanned")
        .orderBy("change_type")
    }
  }

  /** s46 — WRITE-AUDIT-PUBLISH (Iceberg WAP / Nessie branch workflow):
    * the quality gate every production ingest at 100 TB runs in front
    * of its table — new data commits to a BRANCH ref first, an audit
    * query runs against the staged snapshot, and only a passing stage
    * is published by an atomic fast-forward of main's pointer (a
    * pointer move over the shared snapshot DAG — never a data copy).
    * The properties the gate pins:
    *
    *   - ISOLATION: while the stage exists — including a stage that
    *     FAILS its audit (the first staged commit carries corrupted
    *     rows: negated cents on k≡3 mod 150) — main readers see exactly
    *     the pre-stage census, read back from main's pointer DURING
    *     staging, in-hash;
    *   - the audit runs against the staged snapshot THROUGH the log
    *     (manifest read of the branch ref's snapshot), counts the bad
    *     rows (> 0 first attempt, 0 after the fix), and only then is
    *     publish attempted;
    *   - PUBLISH is the same optimistic swap as every commit: it
    *     fast-forwards main only if main still sits where the stage
    *     was cut; a later RE-PUBLISH of the abandoned bad stage (stale
    *     expected-parent) must reject — an audit gate that can be
    *     bypassed by a stale retry is no gate;
    *   - the abandoned stage's data files become s42-style orphans by
    *     design: never visible, reclaimable by GC.
    *
    * Scale shape: staging is metadata (branch ref rows); the audit is
    * one aggregate over the staged snapshot's files; publish is a
    * single conditional pointer update.
    */
  def writeAuditPublish(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    // stage/main split on key residue (the date cutoff leaves a ~1%
    // tail at small SFs — too thin to host corrupted rows); the corrupt
    // set k%150==3 is a subset of the staged slice k%3==0 by CRT
    val stagePred = col("k") % 3 === 0
    val corruptPred = col("k") % 150 === 3

    withTempTableDir("graft_s46_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // main at snapshot 1: the non-staged two-thirds
      val files1 = writeCounted(spark, o.filter(!stagePred).select("k", "cents"), s"$base/b1", 2)
      val c1 = TableLog.commit(dbFile, 0L, 1L, files1)
      TableLog.createRef(dbFile, "wap", at = 1L)

      // staged commit A (branch only): the append, CORRUPTED — the
      // ingest bug the audit exists to catch
      val filesBad = writeCounted(spark, o.filter(stagePred)
        .select(col("k"),
          when(corruptPred, -col("cents")).otherwise(col("cents")).as("cents")), s"$base/bad", 2)
      val cA = TableLog.commit(dbFile, 1L, 2L, files1 ++ filesBad, ref = Some("wap"))

      // audit the staged snapshot through the log; count bad rows
      def audit(snap: Long): Long = TableLog.read(spark, dbFile, snap)
        .filter(col("cents") < 0L).count()
      val nBadStaged = audit(TableLog.refSnapshot(dbFile, "wap"))

      // isolation: main readers, DURING staging, see snapshot 1 exactly
      val mainStaged = TableLog.read(spark, dbFile, TableLog.currentSnapshot(dbFile))
        .agg(count(lit(1)), sum(col("cents"))).head()

      // staged commit B: the fixed append; audit passes; publish
      val filesGood = writeCounted(spark, o.filter(stagePred).select("k", "cents"), s"$base/good", 2)
      val cB = TableLog.commit(dbFile, 2L, 3L, files1 ++ filesGood, ref = Some("wap"))
      val nBadFixed = audit(TableLog.refSnapshot(dbFile, "wap"))
      val pub = nBadFixed == 0L && TableLog.moveCurrent(dbFile, expected = 1L, to = 3L)

      // a stale retry of the ABANDONED bad stage must reject
      val stalePub = TableLog.moveCurrent(dbFile, expected = 1L, to = 2L)

      val mainPub = TableLog.read(spark, dbFile, TableLog.currentSnapshot(dbFile))
        .agg(count(lit(1)), sum(col("cents"))).head()
      val wapOk = c1 && cA && cB && pub && !stalePub &&
        nBadStaged > 0L && nBadFixed == 0L &&
        TableLog.currentSnapshot(dbFile) == 3L && TableLog.refSnapshot(dbFile, "wap") == 3L

      Seq((
        nBadStaged, mainStaged.getLong(0), mainStaged.getLong(1),
        mainPub.getLong(0), mainPub.getLong(1), pub, !stalePub, wapOk))
        .toDF("n_bad_staged", "n_rows_main_staged", "sum_cents_main_staged",
          "n_rows_main_published", "sum_cents_main_published", "published",
          "stale_publish_rejected", "wap_ok")
        .orderBy("n_bad_staged")
    }
  }

  /** s48 — PARTITION-SPEC EVOLUTION (Iceberg's partition evolution): at
    * 100 TB the original partitioning eventually stops fitting the data
    * (finer grain needed as volume grows) and rewriting the table to
    * re-partition is off the table — so the FORMAT lets the spec change
    * per-file: old files stay under the old spec forever, new files
    * land under the new one, and scan planning maps each predicate to
    * EVERY live spec's transform. The lifecycle:
    *
    *   - snapshot 1: the pre-cutoff slice written `partitionBy` spec 1
    *     (bucket k%4 — 4 files, one per value);
    *   - snapshot 2: the table EVOLVES to spec 2 (bucket k%8) and the
    *     append lands under it; snapshot 2's manifest carries both
    *     generations, old files BY PATH (never rewritten — pinned);
    *   - a query for k%8 == 5 plans via the spec registry: spec-2 files
    *     need pval = 5, spec-1 files need pval = 5 mod 4 = 1 (the
    *     predicate pushed through the COARSER transform — the spec-aware
    *     mapping that makes evolution sound; mapping naively, e.g.
    *     expecting pval = 5 under spec 1, would silently MISS the old
    *     generation's matching rows, the classic evolution bug, and the
    *     census here would move);
    *   - the pruned read (metadata-picked files + residual filter) must
    *     census exactly the predicate's full-table answer — in-hash.
    *
    * Scale shape: planning is one metadata query across all specs; the
    * scan reads only overlapping files of each generation; evolution
    * itself costs zero data movement.
    */
  def partitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderdate").cast("date").as("d"))

    withTempTableDir("graft_s48_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // hive-style partitioned write; one file per present value, the
      // per-value counts carried by the WRITE JOB's Observation (the
      // writeBucketed discipline — no post-write re-scan); the listed
      // value set must EQUAL the write-observed present set, so
      // mis-attribution fails loudly instead of zeroing a manifest row
      def writeSpec(df: DataFrame, out: String, modBy: Long, specId: Long)
          : Seq[(String, Long)] = {
        val obs = org.apache.spark.sql.Observation()
        val aggs = (0L until modBy).map(v =>
          sum(when(col("p") === v, lit(1L)).otherwise(lit(0L))).as(s"n_$v"))
        df.withColumn("p", col("k") % modBy)
          .observe(obs, aggs.head, aggs.tail: _*)
          .repartition(col("p"))
          .write.partitionBy("p").parquet(out)
        val m = obs.get // blocks until the write job's listener fires
        val files = new java.io.File(out)
          .listFiles().filter(_.getName.startsWith("p="))
          .flatMap { pd =>
            val parts = pd.listFiles().filter(_.getName.endsWith(".parquet"))
            // the full per-value observed count is attributed to ONE
            // file; two part files under a value directory would BOTH
            // enter the manifest with it (double-counted rows) and the
            // present-set equality below would not notice
            require(
              parts.length == 1,
              s"partitioned write under ${pd.getAbsolutePath} produced " +
                s"${parts.length} part files — per-value count attribution " +
                "requires exactly one")
            val v = pd.getName.stripPrefix("p=").toLong
            parts.map(f => (f.getAbsolutePath, v))
          }
          .sortBy(_._1).toSeq
        val present =
          (0L until modBy).filter(v => m(s"n_$v").asInstanceOf[Long] > 0L).toSet
        require(
          files.map(_._2).toSet == present,
          s"partitioned write under $out listed values " +
            s"${files.map(_._2).sorted.mkString(",")} but the write observed " +
            s"${present.toSeq.sorted.mkString(",")} — counts would be mis-attributed")
        TableLog.recordSpec(dbFile, files.map { case (p, v) => (p, specId, v) })
        files.map { case (p, v) => (p, m(s"n_$v").asInstanceOf[Long]) }
      }

      val files1 = writeSpec(
        o.filter(col("d") < lit(Cutoff).cast("date")).drop("d"),
        s"$base/g1", modBy = 4L, specId = 1L)
      val c1 = TableLog.commit(dbFile, 0L, 1L, files1)
      // EVOLUTION: the append lands under spec 2; old files carry by path
      val files2 = writeSpec(
        o.filter(!(col("d") < lit(Cutoff).cast("date"))).drop("d"),
        s"$base/g2", modBy = 8L, specId = 2L)
      val c2 = TableLog.commit(dbFile, 1L, 2L, files1 ++ files2)

      // plan k%8 == 5 across both specs: 5 under spec 2, 5 mod 4 under 1
      val pruned = TableLog.pruneAcrossSpecs(dbFile, 2L, Map(1L -> (5L % 4L), 2L -> 5L))
      // the pruned read, its full-scan foil, and the snapshot-1 time
      // travel are independent scans — overlapped (guide §2.6, r21)
      val Seq(sel, full, snap1) = graft.ops.Par.run(Seq(
        () => Tables.parquet(spark, pruned: _*)
          .filter(col("k") % 8 === 5)
          .agg(count(lit(1)), sum(col("cents"))).head(),
        // the full-scan answer the pruned read must reproduce
        () => TableLog.read(spark, dbFile, 2L)
          .filter(col("k") % 8 === 5)
          .agg(count(lit(1)), sum(col("cents"))).head(),
        () => TableLog.read(spark, dbFile, 1L)
          .agg(count(lit(1)), sum(col("cents"))).head()))
      val evolutionOk = c1 && c2 &&
        TableLog.currentSnapshot(dbFile) == 2L &&
        files1.forall(f => TableLog.manifest(dbFile, 2L).contains(f)) && // never rewritten
        sel.getLong(0) == full.getLong(0) && sel.getLong(1) == full.getLong(1)

      Seq((
        TableLog.manifest(dbFile, 2L).size.toLong, pruned.size.toLong,
        sel.getLong(0), sel.getLong(1),
        snap1.getLong(0), snap1.getLong(1), evolutionOk))
        .toDF("n_files_total", "n_files_scanned", "n_rows_sel",
          "sum_cents_sel", "n_rows_snap1", "sum_cents_snap1", "evolution_ok")
        .orderBy("n_rows_sel")
    }
  }

  /** s50 — COLUMN evolution through the log (the half of Iceberg
    * evolution s48 didn't cover — s48 evolved partition SPECS; q106
    * does parquet-footer mergeSchema, which is name-based and
    * file-level): add-column and rename-BY-ID across three snapshots,
    * old files projected through the log alone. Lifecycle:
    *
    *   - schema 1 (fields 1:"k", 2:"amount"): the k≡0 (mod 3) slice;
    *   - schema 2: field 2 RENAMED amount → cents (same id), field 3
    *     "disc" ADDED (= k%5+1); the k≡1 slice lands under it; reading
    *     snapshot 2 under schema 2, old files serve cents FROM their
    *     physical "amount" column (id 2) and project disc as NULL;
    *   - schema 3: field 3 DROPPED, then a NEW field named "disc"
    *     added with a NEW id 4 (= k%7+3, different meaning); the k≡2
    *     slice lands under it. Reading snapshot 3 under schema 3, the
    *     schema-2 files must project disc as NULL **even though they
    *     physically contain a column named disc** — name-based
    *     projection would resurrect the dropped field's values, and
    *     the in-engine leak probe (a deliberate name-based read of the
    *     same files) proves the censuses differ, pinned via
    *     evolution_ok;
    *   - time travel: snapshot 1 reads under schema 1 (pre-rename
    *     name), its id-2 census equal to the schema-3 read's cents
    *     over the same slice; no file is ever rewritten (manifest
    *     containment pinned).
    *
    * Scale shape: schema resolution is log metadata (≤ #schemas tiny
    * frames); the read plans one parquet scan per schema GENERATION
    * with a per-group projection — no per-file plans, no data
    * movement for the evolution itself.
    */
  def columnEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))

    withTempTableDir("graft_s50_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)
      TableLog.recordSchema(dbFile, 1L, Seq((1L, "k", "bigint"), (2L, "amount", "bigint")))
      TableLog.recordSchema(dbFile, 2L,
        Seq((1L, "k", "bigint"), (2L, "cents", "bigint"), (3L, "disc", "bigint")))
      TableLog.recordSchema(dbFile, 3L,
        Seq((1L, "k", "bigint"), (2L, "cents", "bigint"), (4L, "disc", "bigint")))

      // slice 0 under schema 1: physical columns (k, amount)
      val files1 = writeCounted(spark, o.filter(col("k") % 3 === 0).select(col("k"), col("cents").as("amount")), s"$base/g1", 2)
      TableLog.recordFileSchema(dbFile, files1.map(_._1), 1L)
      val c1 = TableLog.commit(dbFile, 0L, 1L, files1)

      // slice 1 under schema 2: (k, cents, disc=k%5+1)
      val files2 = writeCounted(spark, o.filter(col("k") % 3 === 1)
        .select(col("k"), col("cents"), (col("k") % 5 + 1).as("disc")), s"$base/g2", 2)
      TableLog.recordFileSchema(dbFile, files2.map(_._1), 2L)
      val c2 = TableLog.commit(dbFile, 1L, 2L, files1 ++ files2)

      // slice 2 under schema 3: (k, cents, disc=k%7+3 — NEW field id 4
      // reusing the dropped field's NAME)
      val files3 = writeCounted(spark, o.filter(col("k") % 3 === 2)
        .select(col("k"), col("cents"), (col("k") % 7 + 3).as("disc")), s"$base/g3", 2)
      TableLog.recordFileSchema(dbFile, files3.map(_._1), 3L)
      val c3 = TableLog.commit(dbFile, 2L, 3L, files1 ++ files2 ++ files3)

      def census(snap: Long, schema: Long): (Long, Long, Long, Long) = {
        val df = TableLog.evolvedRead(spark, dbFile, snap, schema)
        if (schema == 1L) {
          // schema 1 predates field 3/4 entirely: value column still
          // carries its pre-rename name, no disc at all
          val r = df.agg(count(lit(1)), sum(col("amount"))).head()
          (r.getLong(0), r.getLong(1), 0L, 0L)
        } else {
          val r = df.agg(count(lit(1)), sum(col("cents")),
            count(col("disc")), coalesce(sum(col("disc")), lit(0L))).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
      }
      val r3 = census(3L, 3L)
      val r2 = census(2L, 2L)
      val r1 = census(1L, 1L)

      // the TRAP, demonstrated in-engine: a NAME-based read of the
      // schema-2 + schema-3 files (both physically carry "disc") sums
      // the dropped field id 3 into the live field id 4 — its census
      // must DIFFER from the by-id read or the indirection proves
      // nothing
      val leak = Tables.parquet(spark, (files2 ++ files3).map(_._1): _*)
        .agg(coalesce(sum(col("disc")), lit(0L))).head().getLong(0)

      val mf3 = TableLog.manifest(dbFile, 3L)
      val evolutionOk = c1 && c2 && c3 &&
        TableLog.currentSnapshot(dbFile) == 3L &&
        (files1 ++ files2).forall(mf3.contains) && // never rewritten
        leak != r3._4 && r3._4 > 0L && leak > r3._4

      Seq(
        (1L, 1L, files1.size.toLong, r1._1, r1._2, r1._3, r1._4, evolutionOk),
        (2L, 2L, (files1 ++ files2).size.toLong, r2._1, r2._2, r2._3, r2._4, evolutionOk),
        (3L, 3L, mf3.size.toLong, r3._1, r3._2, r3._3, r3._4, evolutionOk))
        .toDF("snapshot_id", "schema_id", "n_files", "n_rows", "sum_cents",
          "n_disc", "sum_disc", "evolution_ok")
        .orderBy("snapshot_id")
    }
  }

  /** s51 — TIMESTAMP time travel + ROLLBACK (Iceberg's snapshot
    * history + rollback_to_snapshot; Delta's RESTORE): the two
    * operator-facing recovery surfaces the s39 format was still
    * missing. The properties the gate pins:
    *
    *   - FOR TIMESTAMP AS OF resolves THROUGH THE LOG: the newest
    *     snapshot with commit-ts <= t (t=2500 → snapshot 2), and a
    *     pre-table instant resolves to NOTHING rather than the empty
    *     root silently (t=500 → None, pinned in rollback_ok);
    *     timestamps are logical instants recorded at commit —
    *     determinism is the contract, wall clock never enters;
    *   - ROLLBACK is a conditional POINTER MOVE, not history surgery:
    *     after rolling the head 3 → 1, current reads serve snapshot
    *     1's census, snapshot 3 REMAINS time-travelable (the
    *     abandoned lineage is preserved until expiration — the
    *     bad-deploy forensics read), and a RETRY still claiming the
    *     abandoned head (parent 3) is cleanly rejected by the same
    *     optimistic swap as every commit;
    *   - the REDO commit lands on the rolled-back head (parent 1 →
    *     snapshot 4), re-ingesting the slice as NEW files — history
    *     diverges forward, nothing is rewritten.
    *
    * Scale shape: resolution and rollback are single-row log metadata
    * ops; every census is a plain parquet scan of the listed files.
    */
  def snapshotRollback(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))

    withTempTableDir("graft_s51_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      def slice(r: Long) = o.filter(col("k") % 3 === r)

      // the three slice stagings are independent writes — overlapped
      // (guide §2.6, r21); the commits stay strictly ordered below
      val Seq(files1, files2, files3) = graft.ops.Par.run(Seq(
        () => writeCounted(spark, slice(0), s"$base/b1", 2),
        () => writeCounted(spark, slice(1), s"$base/b2", 2),
        () => writeCounted(spark, slice(2), s"$base/b3", 2)))
      val c1 = TableLog.commit(dbFile, 0L, 1L, files1)
      TableLog.recordTimestamp(dbFile, 1L, 1000L)
      val c2 = TableLog.commit(dbFile, 1L, 2L, files1 ++ files2)
      TableLog.recordTimestamp(dbFile, 2L, 2000L)
      val c3 = TableLog.commit(dbFile, 2L, 3L, files1 ++ files2 ++ files3)
      TableLog.recordTimestamp(dbFile, 3L, 3000L)

      // FOR TIMESTAMP AS OF: mid-history instant and pre-table instant
      val asOf2500 = TableLog.resolveAsOf(dbFile, 2500L)
      val preTable = TableLog.resolveAsOf(dbFile, 500L)

      // ROLLBACK 3 → 1 (the bad-deploy recovery), then: current serves
      // snapshot 1, the abandoned head still time-travels, and a retry
      // claiming it is rejected
      val rb = TableLog.moveCurrent(dbFile, expected = 3L, to = 1L)
      // the pointer is read HERE (between rollback and redo — the value
      // under audit); the census scan itself runs fused below, over
      // immutable committed files
      val curSnap = TableLog.currentSnapshot(dbFile)
      val staleRetry = TableLog.commit(dbFile, 3L, 9L, files3)

      // REDO on the rolled-back head: re-ingest slice 1 as NEW files
      val files4 = writeCounted(spark, slice(1), s"$base/b4", 2)
      val c4 = TableLog.commit(dbFile, 1L, 4L, files1 ++ files4)
      TableLog.recordTimestamp(dbFile, 4L, 4000L)

      // the four read surfaces: every snapshot's files are immutable,
      // so reading them after the pointer ops is identical
      val censusOf = TableLog.census(
        spark, dbFile, Seq(asOf2500.getOrElse(0L), curSnap, 3L, 4L).distinct)()
      val asOfCensus = censusOf(asOf2500.getOrElse(0L))
      val currentCensus = censusOf(curSnap)
      val historyCensus = censusOf(3L)
      val redoCensus = censusOf(4L)

      val ok = c1 && c2 && c3 && rb && !staleRetry && c4 &&
        asOf2500.contains(2L) && preTable.isEmpty &&
        TableLog.currentSnapshot(dbFile) == 4L &&
        TableLog.resolveAsOf(dbFile, 9999L).contains(4L)

      Seq(
        ("asof_t2500", 2L, asOfCensus._1, asOfCensus._2, ok),
        ("current_after_rollback", 1L, currentCensus._1, currentCensus._2, ok),
        ("history_snapshot3", 3L, historyCensus._1, historyCensus._2, ok),
        ("redo_snapshot4", 4L, redoCensus._1, redoCensus._2, ok))
        .toDF("read", "snapshot_id", "n_rows", "sum_cents", "rollback_ok")
        .orderBy("read")
    }
  }

  /** s47 — STREAMING UPSERT through the merge-on-read log: the
    * production form of s30's stream upsert when the sink is a snapshot
    * table instead of a KV store (Delta/Iceberg streaming MERGE, MOR
    * mode). Every micro-batch commits, in ONE atomic commit:
    *
    *   - an EQUALITY-DELETE file holding the batch's keys (masking all
    *     prior versions of those users — seq-scoped, so it never masks
    *     the batch's own inserts), and
    *   - a DATA file holding the batch's winners (within-batch dedup:
    *     max event_id per user — event_id is the engine-portable
    *     arrival key; ts is ns in the fixture and µs after Spark's
    *     nanosAsLong normalization, so ts ordering would tie-break
    *     differently in the oracle).
    *
    * Upsert semantics are LAST-WRITE-WINS BY ARRIVAL: the staged replay
    * (epoch 2 re-delivers the pre-replayBefore rows) legitimately
    * overwrites newer values for those users — exactly the stale-replay
    * hazard a real upsert stream has, and the gate PINS it: all three
    * snapshots' per-user states (user count + sum of current-version
    * cents) are read back through the MOR path and recomputed by the
    * oracle's (epoch DESC, event_id DESC) ranking over the same
    * delivery multiset.
    *
    * Scale shape: per-epoch work is |batch| (dedup is one partial-agg
    * groupBy, the commit is metadata); the read path is the s44
    * anti-join, delta-bounded; no state store — the LOG is the state.
    */
  def streamMorUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val s = graft.streaming.StreamSessions.tuned(spark)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    withTempTableDir("graft_s47_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      val staged = graft.streaming.Watermarks.stageBatches(s, dir)
      val schema = Tables.parquet(s, s"$staged/0.parquet").schema
      val commits = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
      val q = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/*.parquet")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: DataFrame, epoch: Long) =>
          val seqNo = epoch + 1
          // within-batch winners: one row per user, max event_id wins
          val up = b
            .select(col("user_id"), col("event_id"),
              expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
            .groupBy(col("user_id"))
            .agg(max(struct(col("event_id"), col("cents"))).as("w"))
            .select(col("user_id"), col("w.cents").as("cents"))
          // the data-file and delete-file writes are independent jobs
          // over the same winners frame — overlapped (guide §2.6, r21);
          // the commit stays strictly after both
          val (dataF, delF) = graft.ops.Par.run2(
            () => writeCounted(s, up, s"$base/u$epoch", 1),
            () => writeCounted(s, up.select(col("user_id")), s"$base/k$epoch", 1))
          TableLog.recordSeq(dbFile, (dataF ++ delF).map(_._1), seqNo)
          commits.put(
            epoch,
            TableLog.commit(dbFile, epoch, seqNo,
              TableLog.manifest(dbFile, epoch) ++ dataF,
              TableLog.deleteSeq(dbFile, epoch).map { case (p, _) =>
                (p, 0L) // carried delete entries; n_rows not re-derived
              } ++ delF))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      // the s44 read path, per snapshot
      def morRead(snap: Long): DataFrame = {
        val data = TableLog.manifestSeq(dbFile, snap)
          .groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (sq, fs) =>
            Tables.parquet(spark, fs.map(_._1): _*).withColumn("fseq", lit(sq))
          }
          .reduce(_ unionByName _)
        val dels = TableLog.deleteSeq(dbFile, snap)
        if (dels.isEmpty) data
        else data.as("f").join(
          dels.groupBy(_._2).toSeq.sortBy(_._1)
            .map { case (sq, fs) =>
              Tables.parquet(spark, fs.map(_._1): _*).withColumn("dseq", lit(sq))
            }
            .reduce(_ unionByName _)
            .as("dv"),
          col("f.user_id") === col("dv.user_id") && col("dv.dseq") > col("f.fseq"),
          "left_anti")
      }

      import scala.jdk.CollectionConverters._
      val ok = commits.asScala.values.forall(identity) && commits.size == 3 &&
        TableLog.currentSnapshot(dbFile) == 3L
      val census = TableLog.census(spark, dbFile, 1L to 3L)(morRead)
      (1L to 3L).map { snap =>
        (snap, TableLog.manifest(dbFile, snap).size.toLong,
          TableLog.deleteSeq(dbFile, snap).size.toLong,
          census(snap)._1, census(snap)._2, ok)
      }
        .toDF("snapshot_id", "n_data_files", "n_delete_files", "n_users",
          "sum_cents", "upsert_ok")
        .orderBy("snapshot_id")
    }
  }

  /** s44 — MERGE-ON-READ row-level deletes (Iceberg v2 / Delta
    * deletion-vector shape): the lazy half of the mutation story next
    * to s43's copy-on-write. At 100 TB a hot table can't afford a file
    * rewrite per delete batch — instead each commit writes a small
    * EQUALITY-DELETE file (the dead keys) and the READ PATH masks dead
    * rows with an anti-join; a later compaction folds the accumulated
    * deletes into rewritten data files and drops them from the
    * manifest. The rules the gate pins, each a real-world bug class:
    *
    *   - SEQUENCE SCOPING: a delete file applies only to data files
    *     with a strictly LOWER sequence number. Snapshot 3's update is
    *     delete(old versions) + insert(new versions) in ONE commit —
    *     without the seq rule the delete file would eat its own
    *     re-inserted rows (census moves, hash fails);
    *   - deletes ACCUMULATE across snapshots (snapshot 3 reads under
    *     TWO delete files) and every historical snapshot censuses
    *     correctly under exactly ITS delete set (time travel across all
    *     four snapshots is in-hash);
    *   - COMPACTION is census-neutral: snapshot 4 applies the delete
    *     files to the affected files only (partition-stat pruning picks
    *     the 2 bucket-2 files of 5), rewrites them as one file, carries
    *     the rest by path, and drops all delete files — its census must
    *     equal snapshot 3's, and the delete-manifest must be empty;
    *   - delete files ride the SAME atomic swap as data (one commit) —
    *     a torn commit can't leave data visible without its masks.
    *
    * Scale shape: the read path is one anti-join of the scan against
    * delta-sized delete files (broadcastable; Spark plans the equi-key
    * + seq-inequality as a single join), pruning is log metadata, and
    * compaction cost is |affected files| + |deletes|, never the table.
    */
  def mergeOnRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val delPred = col("k") % 20 === 6
    val updPred = col("k") % 20 === 2

    withTempTableDir("graft_s44_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // the MOR read path, reconstructed from the log alone: data files
      // unioned with their seq, dead rows masked by the seq-scoped
      // anti-join against the snapshot's delete files
      def morRead(snap: Long): DataFrame = {
        val data = TableLog.manifestSeq(dbFile, snap)
          .groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (seq, fs) =>
            Tables.parquet(spark, fs.map(_._1): _*).withColumn("fseq", lit(seq))
          }
          .reduce(_ unionByName _)
        val dels = TableLog.deleteSeq(dbFile, snap)
        if (dels.isEmpty) data
        else {
          val dv = dels
            .groupBy(_._2).toSeq.sortBy(_._1)
            .map { case (seq, fs) =>
              Tables.parquet(spark, fs.map(_._1): _*).withColumn("dseq", lit(seq))
            }
            .reduce(_ unionByName _)
          data.as("f").join(
            dv.as("dv"),
            col("f.k") === col("dv.k") && col("dv.dseq") > col("f.fseq"),
            "left_anti")
        }
      }

      // snapshot 1 (seq 1): one immutable data file per bucket
      val baseFiles = writeBaseBuckets(spark, dbFile, o, s"$base/data", 4)
        .map(f => (f._1, f._2))
      TableLog.recordSeq(dbFile, baseFiles.map(_._1), 1L)
      val c1 = TableLog.commit(dbFile, 0L, 1L, baseFiles)

      // The three delta-file WRITES of snapshots 2–3 depend only on the
      // source relation — independent, overlapped (guide §2.6, r21);
      // the commits stay strictly ordered below.
      val Seq(del1, del2, ins1) = graft.ops.Par.run(Seq(
        () => writeCounted(spark, o.filter(delPred).select("k"), s"$base/d1", 1),
        () => writeCounted(spark, o.filter(updPred).select("k"), s"$base/d2", 1),
        () => writeCounted(spark,
          o.filter(updPred).withColumn("cents", col("cents") + 1000L),
          s"$base/i1", 1)))

      // snapshot 2 (seq 2): MOR DELETE — dead keys land in an equality-
      // delete file; no data file is touched
      TableLog.recordSeq(dbFile, del1.map(_._1), 2L)
      val c2 = TableLog.commit(dbFile, 1L, 2L, baseFiles, del1)

      // snapshot 3 (seq 3): MOR UPDATE = delete(old) + insert(new) in
      // one commit; the seq rule keeps the delete off the new versions
      TableLog.recordSeq(dbFile, (del2 ++ ins1).map(_._1), 3L)
      TableLog.recordStats(dbFile, ins1.map(p => (p._1, 2L))) // all updated keys ≡ 2 (mod 4)
      val c3 = TableLog.commit(dbFile, 2L, 3L, baseFiles ++ ins1, del1 ++ del2)

      // snapshot 4 (seq 4): COMPACTION — partition stats prune the two
      // bucket-2 files (f2 + the update inserts), the delete files fold
      // into one rewritten file, the rest carries by path, deletes drop
      val affected = TableLog.prunePaths(dbFile, 3L, Seq(2L))
      val carried = TableLog.manifestSeq(dbFile, 3L).map(_._1).filterNot(affected.toSet)
      val affectedSeq = TableLog.manifestSeq(dbFile, 3L).filter(f => affected.contains(f._1))
      val dv3 = TableLog.deleteSeq(dbFile, 3L)
      val compacted = affectedSeq
        .groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (seq, fs) =>
          Tables.parquet(spark, fs.map(_._1): _*).withColumn("fseq", lit(seq))
        }
        .reduce(_ unionByName _)
        .as("f")
        .join(
          dv3.groupBy(_._2).toSeq.sortBy(_._1)
            .map { case (seq, fs) =>
              Tables.parquet(spark, fs.map(_._1): _*).withColumn("dseq", lit(seq))
            }
            .reduce(_ unionByName _)
            .as("dv"),
          col("f.k") === col("dv.k") && col("dv.dseq") > col("f.fseq"),
          "left_anti")
        .drop("fseq")
      val comp = writeCounted(spark, compacted, s"$base/c1", 1)
      TableLog.recordSeq(dbFile, comp.map(_._1), 4L)
      TableLog.recordStats(dbFile, comp.map(p => (p._1, 2L)))
      val carriedEntries = TableLog.manifest(dbFile, 3L).filter(f => carried.contains(f._1))
      val c4 = TableLog.commit(dbFile, 3L, 4L, carriedEntries ++ comp)

      // time-travel censuses of ALL FOUR snapshots through the MOR read
      val census = TableLog.census(spark, dbFile, 1L to 4L)(morRead)
      val morOk = c1 && c2 && c3 && c4 &&
        affected.size == 2 && carried.size == 3 &&
        TableLog.currentSnapshot(dbFile) == 4L &&
        TableLog.deleteSeq(dbFile, 4L).isEmpty &&
        census(3L) == census(4L)

      (1L to 4L).map { snap =>
        (snap,
          TableLog.manifest(dbFile, snap).size.toLong,
          TableLog.deleteSeq(dbFile, snap).size.toLong,
          census(snap)._1, census(snap)._2, morOk)
      }
        .toDF("snapshot_id", "n_data_files", "n_delete_files", "n_rows",
          "sum_cents", "mor_ok")
        .orderBy("snapshot_id")
    }
  }

  /** s49 — POSITION deletes in the MOR path (Iceberg v2's second delete
    * kind beside s44's equality deletes — the (file, row-ordinal) form
    * Spark/Iceberg writers emit by default because the writer knows
    * file+offset at delete time). The rules the gate pins, each a real
    * bug class:
    *
    *   - ORDINAL SCOPING IS PER FILE: a position delete masks row
    *     `ordinal` OF THE NAMED FILE only — the anti-join carries path
    *     equality next to the ordinal, and row identity comes from the
    *     engine's own `_metadata.row_index` (stable parquet row order),
    *     never a synthetic global index whose value depends on scan
    *     order;
    *   - the SEQ RULE IS ASYMMETRIC to equality deletes: position
    *     deletes apply at pseq >= fseq, so snapshot 4 commits a data
    *     file AND the position-delete file masking 4 of its 10 rows in
    *     ONE commit (the streaming-upsert flush pattern) and the masks
    *     bite; the same snapshot's equality semantics (s44, strictly
    *     lower) would NOT let a commit eat its own inserts — both
    *     behaviors are censused in-hash;
    *   - both kinds ACCUMULATE and time-travel correctly (snapshot 4
    *     reads under one equality + two position files), and the
    *     snapshot-5 COMPACTION folds BOTH kinds in one rewrite:
    *     affected files = the position deletes' referenced files
    *     (exact, read from the delta-sized delete files themselves —
    *     the referenced-data-file stat an Iceberg manifest carries) ∪
    *     the equality keys' bucket-pruned files with lower seq; the
    *     rewrite must be census-neutral and drop every delete manifest.
    *
    * Scale shape: the read path is two anti-joins against delta-sized
    * delete frames; affected-file planning reads log metadata plus the
    * delete files (delta-sized, exactly what Iceberg's planner reads);
    * compaction cost is |affected files| + |deletes|, never the table.
    */
  def mergeOnReadPositional(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    // k ≡ 6 (mod 20) ⇒ k ≡ 2 (mod 4): both delete sets live in bucket 2
    val delPred = col("k") % 20 === 6
    val updPred = col("k") % 20 === 2
    val mx = o.agg(max(col("k"))).head().getLong(0)
    val inserts = (0 until 10)
      .map(i => (mx - (mx % 4) + 4L * (i + 1) + 2L, 1000000L + 7L * i))
      .toDF("k", "cents")
    // the same-commit position-delete target: insert rows with
    // (cents - 1000000) div 7 ≡ 0 (mod 3) — i ∈ {0, 3, 6, 9}
    val insDelPred = expr("((cents - 1000000) div 7) % 3 = 0")

    withTempTableDir("graft_s49_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      def read(snap: Long): DataFrame = TableLog.morReadV2(spark, dbFile, snap, "k")

      // snapshot 1 (seq 1): one immutable data file per bucket
      val baseFiles = writeBaseBuckets(spark, dbFile, o, s"$base/data", 4)
        .map(f => (f._1, f._2))
      TableLog.recordSeq(dbFile, baseFiles.map(_._1), 1L)
      val c1 = TableLog.commit(dbFile, 0L, 1L, baseFiles)

      // The four delta-file WRITES of snapshots 2–4 are independent of
      // one another (each depends only on the base files / source
      // relation already on disk) — overlapped (guide §2.6, r21). The
      // COMMITS stay strictly ordered below; only the file staging
      // overlaps.
      //   pd1: POSITION DELETE of k≡6 (mod 20) — the dead rows'
      //     (file, ordinal) identities from scanning the base files
      //     WITH the metadata columns (the writer-knows-the-offset
      //     path); no data file is touched.
      //   del1/ins1: s44's EQUALITY update halves.
      //   ins2: snapshot 4's data file (pd2 — the position deletes
      //     masking 4 of ITS OWN 10 rows — depends on ins2 and follows
      //     sequentially; it scans one 10-row file).
      val Seq(pd1, del1, ins1, ins2) = graft.ops.Par.run(Seq(
        () => writeCounted(spark, Tables.parquet(spark, baseFiles.map(_._1): _*)
          .select(
            col("_metadata.file_path").as("pd_path"),
            col("_metadata.row_index").as("pd_pos"),
            col("k"))
          .filter(delPred)
          .select("pd_path", "pd_pos"), s"$base/pd1", 1),
        () => writeCounted(spark, o.filter(updPred).select("k"), s"$base/d1", 1),
        () => writeCounted(spark,
          o.filter(updPred).withColumn("cents", col("cents") + 1000L),
          s"$base/i1", 1),
        () => writeCounted(spark, inserts, s"$base/i2", 1)))
      val pd2 = writeCounted(spark, Tables.parquet(spark, ins2.map(_._1): _*)
        .select(
          col("_metadata.file_path").as("pd_path"),
          col("_metadata.row_index").as("pd_pos"),
          col("cents"))
        .filter(insDelPred)
        .select("pd_path", "pd_pos"), s"$base/pd2", 1)

      // snapshot 2 (seq 2)
      TableLog.recordSeq(dbFile, pd1.map(_._1), 2L)
      val c2 = TableLog.commit(dbFile, 1L, 2L, baseFiles, posDeletes = pd1)

      // snapshot 3 (seq 3): delete(old) + insert(new) in one commit; the
      // strict seq rule keeps the delete off its own inserts
      TableLog.recordSeq(dbFile, (del1 ++ ins1).map(_._1), 3L)
      TableLog.recordStats(dbFile, ins1.map(p => (p._1, 2L)))
      val c3 = TableLog.commit(dbFile, 2L, 3L, baseFiles ++ ins1, del1, pd1)

      // snapshot 4 (seq 4): pseq >= fseq must bite
      TableLog.recordStats(dbFile, ins2.map(p => (p._1, 2L)))
      TableLog.recordSeq(dbFile, (ins2 ++ pd2).map(_._1), 4L)
      val c4 = TableLog.commit(dbFile, 3L, 4L, baseFiles ++ ins1 ++ ins2, del1, pd1 ++ pd2)

      // snapshot 5 (seq 5): COMPACTION folding BOTH kinds. Affected =
      // the position deletes' referenced files (exact — read from the
      // delta-sized delete files, Iceberg's referenced-data-file stat)
      // ∪ equality-key bucket files with seq strictly below the delete
      val posRefs = Tables.parquet(spark, TableLog.posDeleteSeq(dbFile, 4L).map(_._1): _*)
        .select(col("pd_path")).distinct()
        .collect() // bounded by the file count — manifest-scale metadata
        .map(r => new java.net.URI(r.getString(0)).getPath)
        .toSet
      val eqSeqs = TableLog.deleteSeq(dbFile, 4L).map(_._2)
      val seq4 = TableLog.manifestSeq(dbFile, 4L)
      val seq4ByPath = seq4.toMap
      val eqAffected = TableLog.prunePaths(dbFile, 4L, Seq(2L)).filter { p =>
        seq4ByPath.get(p).exists(fs => eqSeqs.exists(_ > fs))
      }
      val affected = (posRefs ++ eqAffected).toSeq.sorted
      val carried = seq4.map(_._1).filterNot(affected.toSet)
      // the compaction read: snapshot 4's masks applied to ONLY the
      // affected files (the onlyFiles restriction — carried files are
      // never opened)
      val comp = writeCounted(spark, TableLog.morReadV2(spark, dbFile, 4L, "k", Some(affected.toSet)), s"$base/c1", 1)
      TableLog.recordSeq(dbFile, comp.map(_._1), 5L)
      TableLog.recordStats(dbFile, comp.map(p => (p._1, 2L)))
      val carriedEntries = TableLog.manifest(dbFile, 4L).filter(f => carried.contains(f._1))
      val c5 = TableLog.commit(dbFile, 4L, 5L, carriedEntries ++ comp)

      // time-travel censuses of ALL FIVE snapshots through the v2 read
      val census = TableLog.census(spark, dbFile, 1L to 5L)(read)
      val posOk = c1 && c2 && c3 && c4 && c5 &&
        affected.size == 2 && carried.size == 4 &&
        TableLog.currentSnapshot(dbFile) == 5L &&
        TableLog.deleteSeq(dbFile, 5L).isEmpty && TableLog.posDeleteSeq(dbFile, 5L).isEmpty &&
        census(4L) == census(5L)

      (1L to 5L).map { snap =>
        (snap,
          TableLog.manifest(dbFile, snap).size.toLong,
          TableLog.deleteSeq(dbFile, snap).size.toLong,
          TableLog.posDeleteSeq(dbFile, snap).size.toLong,
          census(snap)._1, census(snap)._2, posOk)
      }
        .toDF("snapshot_id", "n_data_files", "n_eq_delete_files",
          "n_pos_delete_files", "n_rows", "sum_cents", "posmor_ok")
        .orderBy("snapshot_id")
    }
  }

  // ------------------------------------------------------------------
  // s52 — per-file column MIN/MAX stats + range data skipping
  // ------------------------------------------------------------------

  /** One file of a [[writeBucketed]] write: its bucket value `g`, row
    * count, and the observed (min, max) of each requested stat column.
    */
  private final case class BucketFile(
      path: String, nRows: Long, g: Long, stats: Map[String, (Long, Long)]) {
    def entry: (String, Long) = (path, nRows)
    def range(c: String): (String, Long, Long) = (path, stats(c)._1, stats(c)._2)
  }

  /** Write `df` (column g confined to `gDomain`, plus every column in
    * `statCols`) partitioned by the bucket column g — one immutable file
    * per present bucket value — and return one [[BucketFile]] per file
    * with the stats captured IN THE WRITE JOB ITSELF: an `Observation`
    * of per-bucket conditional aggregates rides the write (the commit's
    * own metrics), so there is NO post-write re-scan and no
    * `_metadata.file_path` path-form matching at all. The bounded bucket
    * domain (≤16 across callers) keeps the observation a fixed
    * (1 + 2·|statCols|)·|domain|-column row. The loud-failure contract
    * is kept by construction: every listed bucket directory must be in
    * the declared domain, hold exactly one part file, and the listed
    * bucket set must EQUAL the write-observed present set (partitionBy
    * never writes empty files) — mis-attribution fails the require,
    * never zeroes a manifest row count. Same single-attempt assumption
    * as [[writeCounted]]: accumulator-carried stats are exact only
    * without task retries / speculation.
    */
  private def writeBucketed(
      spark: SparkSession,
      df: DataFrame,
      out: String,
      gDomain: Seq[Long],
      statCols: Seq[String]): Seq[BucketFile] = {
    val obs = org.apache.spark.sql.Observation()
    val aggs = gDomain.flatMap { g =>
      sum(when(col("g") === g, lit(1L)).otherwise(lit(0L))).as(s"n_$g") +:
        statCols.flatMap { c =>
          Seq(
            min(when(col("g") === g, col(c))).as(s"mn_${c}_$g"),
            max(when(col("g") === g, col(c))).as(s"mx_${c}_$g"))
        }
    }
    df.observe(obs, aggs.head, aggs.tail: _*)
      .repartition(col("g")).write.partitionBy("g").parquet(out)
    val m = obs.get // blocks until the write job's listener fires
    val listed: Seq[(Long, String)] = new java.io.File(out)
      .listFiles().filter(_.getName.startsWith("g="))
      .map { d =>
        val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
        require(
          parts.length == 1,
          s"bucketed write under $out produced ${parts.length} part files " +
            s"for ${d.getName} — hash repartition on g must give one file per bucket")
        (d.getName.drop(2).toLong, parts.head.getAbsolutePath)
      }.toSeq
    val strays = listed.map(_._1).filterNot(gDomain.contains)
    require(
      strays.isEmpty,
      s"bucketed write under $out produced bucket value(s) outside the " +
        s"declared domain: ${strays.take(3).mkString(", ")}")
    val present = gDomain.filter(g => m(s"n_$g").asInstanceOf[Long] > 0L).toSet
    require(
      listed.map(_._1).toSet == present,
      s"bucketed write under $out listed buckets " +
        s"${listed.map(_._1).sorted.mkString(",")} but the write observed " +
        s"${present.toSeq.sorted.mkString(",")} — stats would be mis-attributed")
    listed.sortBy(_._2).map { case (g, p) =>
      BucketFile(p, m(s"n_$g").asInstanceOf[Long], g, statCols.map { c =>
        c -> (m(s"mn_${c}_$g").asInstanceOf[Long], m(s"mx_${c}_$g").asInstanceOf[Long])
      }.toMap)
    }
  }

  /** One-JOB bucketed base-table write shared by the lifecycle demos
    * whose snapshot 1 is "one file per k-residue bucket" (s56/s62/s63/
    * s65): `df` (k, cents) splits on k % nBuckets via ONE partitionBy
    * write whose Observation carries the bucket stats (writeBucketed —
    * no census job at all since r18's commit-carried stats). Returns
    * (path, n_rows, bucket) per file. Replaces the per-bucket
    * filter-write loops (nBuckets write jobs → 1 job total).
    */
  private def writeBaseBuckets(
      spark: SparkSession,
      dbFile: String,
      o: DataFrame,
      out: String,
      nBuckets: Int): Seq[(String, Long, Long)] = {
    val files = writeBucketed(
      spark, o.select(col("k"), col("cents"), (col("k") % nBuckets).as("g")), out,
      0L until nBuckets.toLong, Nil)
      .map(f => (f.path, f.nRows, f.g))
    TableLog.recordStats(dbFile, files.map(f => (f._1, f._3)))
    files
  }

  /** s52 — MIN/MAX column stats in the manifest + range data skipping,
    * and the CLUSTERING REWRITE that makes skipping effective (Iceberg's
    * lower_bounds/upper_bounds + rewrite_data_files sort-order story,
    * Delta's OPTIMIZE ZORDER in one dimension). Lifecycle:
    *
    *   - snapshot 1 writes the table UNCLUSTERED — one file per k%4
    *     bucket, so every file's cents range spans ~the full domain;
    *     per-file (min_cents, max_cents) recorded in the log at write
    *     time from the same single census job that counts rows;
    *   - a range predicate [lo, hi] (the middle of the lowest quartile,
    *     boundaries computed from the table's own min/max by fixed
    *     integer arithmetic, so both engines replay them) is PLANNED
    *     from metadata alone: files overlapping the range. Unclustered,
    *     (almost) nothing skips — the measured n_scanned_unclustered;
    *   - snapshot 2 is the clustering rewrite: the SAME rows re-written
    *     with file assignment = (cents - min) div bucketWidth — explicit
    *     arithmetic boundaries, NOT repartitionByRange, whose sampled
    *     boundaries neither the oracle nor a re-run could replay —
    *     giving disjoint per-file ranges; the same predicate now plans
    *     ~1 file (n_scanned_clustered, in-hash);
    *   - correctness is pinned three ways, all in-hash: the pruned read
    *     + residual filter census equals the direct full-scan census
    *     (skipping never changes answers), under BOTH layouts; and the
    *     rewrite is census-neutral (snapshot 2's full census = the
    *     table's).
    *
    * Scale shape: stats ride the existing one-census-job-per-write
    * discipline (no extra data pass); planning is a metadata join in
    * the log; the clustering rewrite is ONE shuffle on an explicit
    * integer bucket key; the pruned read scans only listed files with
    * the residual predicate pushed to parquet. At 100 TB this is the
    * difference between scanning 4/4 and 1/4 of the table for every
    * range query — the core argument for clustering + stats.
    */
  def statsSkipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val r = o.agg(min(col("cents")), max(col("cents"))).head()
    val (mn, mxv) = (r.getLong(0), r.getLong(1))
    val bw = (mxv - mn) / 4L + 1L
    val (lo, hi) = (mn + bw / 2L, mn + bw - 1L)

    withTempTableDir("graft_s52_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // snapshot 1: unclustered layout (file = k%4 — uncorrelated with
      // cents, so every file's range covers ~the whole domain)
      val f1 = writeBucketed(
        spark, o.withColumn("g", pmod(col("k"), lit(4L))), s"$base/u", 0L to 3L,
        Seq("cents"))
      TableLog.recordColStats(dbFile, "c0", f1.map(_.range("cents")))
      val c1 = TableLog.commit(dbFile, 0L, 1L, f1.map(_.entry))
      val scan1 = TableLog.pruneByCols(dbFile, 1L, Seq(("c0", lo, hi)))
      val sel1 = Tables.parquet(spark, scan1: _*)
        .filter(col("cents").between(lo, hi))
        .agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head()

      // snapshot 2: clustering rewrite — same rows, explicit arithmetic
      // range buckets, disjoint per-file cents ranges
      val f2 = writeBucketed(
        spark,
        TableLog.read(spark, dbFile, 1L)
          .select(col("k"), col("cents"))
          .withColumn("g", expr(s"(cents - $mn) div $bw")),
        s"$base/c",
        // bw = (mx-mn)/4 + 1 > (mx-mn)/4, so (cents-mn) div bw ∈ [0, 3]
        0L to 3L,
        Seq("cents"))
      TableLog.recordColStats(dbFile, "c0", f2.map(_.range("cents")))
      val c2 = TableLog.commit(dbFile, 1L, 2L, f2.map(_.entry))
      val scan2 = TableLog.pruneByCols(dbFile, 2L, Seq(("c0", lo, hi)))
      // the four audit censuses are independent scans — overlapped
      // (guide §2.6, r21)
      val Seq(sel2, full2, direct, total) = graft.ops.Par.run(Seq(
        () => Tables.parquet(spark, scan2: _*)
          .filter(col("cents").between(lo, hi))
          .agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head(),
        () => TableLog.read(spark, dbFile, 2L)
          .agg(count(lit(1)), sum(col("cents"))).head(),
        () => o.filter(col("cents").between(lo, hi))
          .agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head(),
        () => o.agg(count(lit(1)), sum(col("cents"))).head()))

      val skipOk = c1 && c2 && TableLog.currentSnapshot(dbFile) == 2L &&
        sel1.getLong(0) == direct.getLong(0) &&
        sel1.getLong(1) == direct.getLong(1) &&
        sel2.getLong(0) == direct.getLong(0) &&
        sel2.getLong(1) == direct.getLong(1) &&
        full2.getLong(0) == total.getLong(0) &&
        full2.getLong(1) == total.getLong(1) &&
        scan2.size <= scan1.size

      Seq((
        f1.size.toLong, scan1.size.toLong, f2.size.toLong, scan2.size.toLong,
        direct.getLong(0), direct.getLong(1),
        total.getLong(0), total.getLong(1), skipOk))
        .toDF("n_files_unclustered", "n_scanned_unclustered",
          "n_files_clustered", "n_scanned_clustered",
          "n_sel", "sum_sel", "n_rows", "sum_cents", "skip_ok")
        .orderBy("n_sel")
    }
  }

  // ------------------------------------------------------------------
  // s54 — snapshot TAGS + retention-aware expiry
  // ------------------------------------------------------------------

  /** s54 — snapshot TAGS and retention-aware expiry (Iceberg tags /
    * `expire_snapshots` honoring refs): the compliance story — "keep
    * the audited Q1 state forever, expire the rest". Lifecycle:
    *
    *   - snapshot 1 (two files), snapshot 2 (append, one file),
    *     snapshot 3 = COMPACTION (all rows rewritten into one new
    *     file) — so history actually holds files the current snapshot
    *     does not, and retention has a measurable file-level effect;
    *   - TAG "audit-snap1" pins snapshot 1; expiry with olderThan
    *     covering everything must expire ONLY snapshot 2: the tagged
    *     snapshot survives (and stays readable through the tag — its
    *     census in-hash), and its files stay in the reachable set
    *     (live 4 → 3: only the append file orphaned);
    *   - DROPPING the tag and re-running the same expiry removes
    *     snapshot 1 (live 3 → 1, just the compacted file) and its
    *     manifest is gone — retention was the TAG, not an accident of
    *     age or position.
    *
    * Scale shape: tags are single log rows; retention is one NOT IN
    * subquery over the refs table inside the existing one-transaction
    * expiry — metadata-only, like everything in the s39 family. The
    * tag read plans a plain parquet scan of snapshot 1's listed files.
    */
  def snapshotTags(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))

    withTempTableDir("graft_s54_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // the two generation stagings are independent writes — overlapped
      // (guide §2.6, r21); commits stay strictly ordered
      val (f1, f2) = graft.ops.Par.run2(
        () => writeCounted(spark, o.filter(col("k") % 4 < 2), s"$base/f1", 2),
        () => writeCounted(spark, o.filter(col("k") % 4 >= 2), s"$base/f2", 1))
      val c1 = TableLog.commit(dbFile, 0L, 1L, f1)
      val c2 = TableLog.commit(dbFile, 1L, 2L, f1 ++ f2)
      TableLog.createRef(dbFile, "audit-snap1", 1L)
      // snapshot 3: compaction — every row rewritten into one new file
      val f3 = writeCounted(spark, TableLog.read(spark, dbFile, 2L), s"$base/f3", 1)
      val c3 = TableLog.commit(dbFile, 2L, 3L, f3)

      val live0 = TableLog.liveFiles(dbFile).size.toLong
      val exp1 = TableLog.expireSnapshots(dbFile, olderThan = 99L)
      val live1 = TableLog.liveFiles(dbFile).size.toLong

      // the tagged snapshot is still readable THROUGH the tag
      val tagSnap = TableLog.refSnapshot(dbFile, "audit-snap1")
      val tagged = TableLog.read(spark, dbFile, tagSnap)
        .agg(count(lit(1)), sum(col("cents"))).head()
      val current = TableLog.read(spark, dbFile, TableLog.currentSnapshot(dbFile))
        .agg(count(lit(1)), sum(col("cents"))).head()

      val dropped = TableLog.dropRef(dbFile, "audit-snap1")
      val exp2 = TableLog.expireSnapshots(dbFile, olderThan = 99L)
      val live2 = TableLog.liveFiles(dbFile).size.toLong

      val tagsOk = c1 && c2 && c3 && dropped &&
        TableLog.currentSnapshot(dbFile) == 3L && tagSnap == 1L &&
        exp1 == Seq(2L) && exp2 == Seq(1L) &&
        live0 == 4L && live1 == 3L && live2 == 1L &&
        TableLog.manifest(dbFile, 1L).isEmpty

      Seq((
        tagged.getLong(0), tagged.getLong(1),
        current.getLong(0), current.getLong(1),
        exp1.size.toLong, live1, exp2.size.toLong, live2, tagsOk))
        .toDF("n_rows_tagged", "sum_cents_tagged", "n_rows_current",
          "sum_cents_current", "n_expired_first", "n_live_after_first",
          "n_expired_second", "n_live_after_second", "tags_ok")
        .orderBy("n_rows_tagged")
    }
  }

  // ------------------------------------------------------------------
  // s55 — writer-side commit CONSTRAINTS (validated from file stats)
  // ------------------------------------------------------------------

  /** s55 — COMMIT-TIME CONSTRAINT ENFORCEMENT (Delta's CHECK
    * constraints / Iceberg's validation at the table boundary): a
    * commit whose staged files violate the table's invariant is
    * REJECTED BEFORE the pointer moves — the log defends itself, the
    * bad files never become table state, and readers never see them.
    * The load-bearing design point: validation reads NO data — it
    * consults the per-file min/max stats the writer already computed
    * in its single census job (the s52 stats), so enforcing
    * "cents >= 0" on a 100 TB commit costs one pass over the staged
    * manifest rows, not a second data scan. Lifecycle:
    *
    *   - snapshot 1: the k%2=0 slice, valid, commits;
    *   - a staged commit of the k%2=1 slice POISONED with 5 negative-
    *     cents rows (both staged files catch one — parities alternate)
    *     fails validation (min_cents < 0) and is rejected: current
    *     stays 1, no snapshot/manifest/stat rows land, the snapshot-1
    *     read is untouched (census in-hash);
    *   - the retry with the cleaned slice passes and commits as
    *     snapshot 2; the final census (in-hash) contains no poison.
    */
  def commitConstraints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))

    withTempTableDir("graft_s55_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)
      def minCents(f: BucketFile): Long = f.stats("cents")._1
      def minCentsOk(files: Seq[BucketFile]): Boolean =
        files.forall(minCents(_) >= 0L) // metadata-only: the recorded min

      val f1 = writeBucketed(
        spark,
        o.filter(col("k") % 2 === 0).withColumn("g", pmod(col("k"), lit(2L))),
        s"$base/f1", 0L to 1L, Seq("cents"))
      val v1 = minCentsOk(f1)
      TableLog.recordColStats(dbFile, "c0", f1.map(_.range("cents")))
      val c1 = v1 && TableLog.commit(dbFile, 0L, 1L, f1.map(_.entry))

      // staged second commit: cleaned slice + 5 poison rows
      val mx = o.agg(max(col("k"))).head().getLong(0)
      val poison = (1 to 5)
        .map(i => (mx + i.toLong, -(1000L + 7L * i)))
        .toDF("k", "cents")
      val f2 = writeBucketed(
        spark,
        o.filter(col("k") % 2 === 1).unionByName(poison)
          .withColumn("g", pmod(col("k"), lit(2L))),
        s"$base/f2", 0L to 1L, Seq("cents"))
      val v2 = minCentsOk(f2)
      val nViolating = f2.count(minCents(_) < 0L).toLong
      // REJECTED: nothing recorded, pointer untouched
      val curAfterReject = TableLog.currentSnapshot(dbFile)
      val s1 = TableLog.read(spark, dbFile, 1L)
        .agg(count(lit(1)), sum(col("cents"))).head()

      // the retry, cleaned
      val f3 = writeBucketed(
        spark,
        o.filter(col("k") % 2 === 1).withColumn("g", pmod(col("k"), lit(2L))),
        s"$base/f3", 0L to 1L, Seq("cents"))
      val v3 = minCentsOk(f3)
      TableLog.recordColStats(dbFile, "c0", f3.map(_.range("cents")))
      val c3 = v3 && TableLog.commit(dbFile, 1L, 2L, (f1 ++ f3).map(_.entry))
      val fin = TableLog.read(spark, dbFile, 2L)
        .agg(count(lit(1)), sum(col("cents"))).head()

      val constraintOk = c1 && !v2 && c3 &&
        curAfterReject == 1L && TableLog.currentSnapshot(dbFile) == 2L &&
        nViolating == 2L && f2.size == 2

      Seq((
        s1.getLong(0), s1.getLong(1),
        f2.size.toLong, nViolating,
        fin.getLong(0), fin.getLong(1), constraintOk))
        .toDF("n_rows_s1", "sum_cents_s1", "n_staged_files",
          "n_violating_files", "n_rows_final", "sum_cents_final",
          "constraint_ok")
        .orderBy("n_rows_s1")
    }
  }

  // ------------------------------------------------------------------
  // s53 — metadata tables (snapshots / files / entries-diff as frames)
  // ------------------------------------------------------------------

  /** s53 — METADATA TABLES over the commit log: Iceberg's
    * `table.snapshots` / `table.files` / `table.history` surface —
    * the operational queries a 100 TB table is ADMINISTERED with
    * (how many files, how many rows, what did each commit add, how
    * deep is the history) answered as Spark DataFrames over log rows,
    * with ZERO data-file reads. Lifecycle: three append commits
    * (k%4∈{0,1} as two files, then k%4=2, then k%4=3); then
    *
    *   - the snapshots/manifests tables export to bounded Spark frames
    *     (log metadata — snapshots × files rows, the DuckDbLive
    *     bounded-export contract);
    *   - per-snapshot n_files / n_rows_meta aggregate the MANIFEST
    *     frame; files-ADDED-per-commit is an anti-join of each
    *     snapshot's manifest against its parent's (the entries-diff
    *     table, s45's changed-file set as a first-class surface);
    *   - ancestry depth walks parent pointers (≤ #snapshots rows);
    *   - the TRUTH AUDIT: every snapshot's metadata row count must
    *     equal its actual time-travel read census — a manifest that
    *     lies about n_rows moves meta_ok and the in-hash censuses.
    *
    * Scale shape: every metadata question is answered from the log
    * alone (frames of #snapshots/#files rows); the audit reads are the
    * only data touches and exist to PIN the metadata's honesty, one
    * plain pushed-down parquet census per snapshot.
    */
  def metadataTables(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))

    withTempTableDir("graft_s53_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      def writeSlice(pred: org.apache.spark.sql.Column, out: String, parts: Int) =
        writeCounted(spark, o.filter(pred), out, parts)
      val f1 = writeSlice(col("k") % 4 < 2, s"$base/f1", 2)
      val c1 = TableLog.commit(dbFile, 0L, 1L, f1)
      val f2 = writeSlice(col("k") % 4 === 2, s"$base/f2", 1)
      val c2 = TableLog.commit(dbFile, 1L, 2L, f1 ++ f2)
      val f3 = writeSlice(col("k") % 4 === 3, s"$base/f3", 1)
      val c3 = TableLog.commit(dbFile, 2L, 3L, f1 ++ f2 ++ f3)

      // the log exported as bounded metadata frames (Iceberg's
      // .snapshots / .files): snapshots × files rows, never data
      val snapRows = TableLog.snapshotRows(dbFile)
      val maniRows = TableLog.manifestRows(dbFile)
      val snapsDf = snapRows.toDF("snapshot_id", "parent_id")
      val maniDf = maniRows.toDF("snapshot_id", "path", "n_rows")

      // files table: per-snapshot manifest rollup, metadata only
      val filesMeta = maniDf.groupBy(col("snapshot_id"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows_meta"))
      // entries-diff table: files each commit ADDED vs its parent
      val added = maniDf.as("m")
        .join(snapsDf.as("s"), col("m.snapshot_id") === col("s.snapshot_id"))
        .join(
          maniDf.select(col("snapshot_id").as("pid"), col("path").as("ppath")).as("p"),
          col("s.parent_id") === col("p.pid") && col("m.path") === col("p.ppath"),
          "left_anti")
        .groupBy(col("m.snapshot_id").as("snapshot_id"))
        .agg(count(lit(1)).as("n_added"))
      // history: ancestry depth by walking parent pointers (log rows)
      val parentOf = snapRows.toMap
      def depth(s: Long): Long =
        if (s == 0L) 0L else 1L + depth(parentOf(s))

      val audits = TableLog.census(spark, dbFile, 1L to 3L)()

      val metaBase = filesMeta
        .join(added, Seq("snapshot_id"))
        .join(snapsDf, Seq("snapshot_id"))
        .collect()
        .map { r =>
          val snap = r.getAs[Long]("snapshot_id")
          (snap, r.getAs[Long]("parent_id"), depth(snap),
            r.getAs[Long]("n_files"), r.getAs[Long]("n_added"),
            r.getAs[Long]("n_rows_meta"))
        }
        .sortBy(_._1)
        .toSeq // 3 metadata rows — bounded by #snapshots

      val metaOk = c1 && c2 && c3 && TableLog.currentSnapshot(dbFile) == 3L &&
        metaBase.forall { case (snap, _, _, _, _, nMeta) =>
          nMeta == audits(snap)._1
        }

      metaBase.map { case (snap, parent, dep, nf, na, nMeta) =>
        (snap, parent, dep, nf, na, nMeta, audits(snap)._1, audits(snap)._2, metaOk)
      }
        .toDF("snapshot_id", "parent_id", "depth", "n_files", "n_added",
          "n_rows_meta", "n_rows_read", "sum_cents", "meta_ok")
        .orderBy("snapshot_id")
    }
  }

  /** s56 — CDC APPLY: incremental maintenance of a downstream REPLICA
    * from the table's changelog — the consumer half of s45's feed
    * (Iceberg incremental read / Delta CDF "apply changes to target").
    * The property a 100 TB pipeline needs: after each source commit the
    * replica is brought current by reading ONLY that commit's changed
    * files (manifest diff) plus the replica itself — old-vs-old is
    * never recomputed (q194's incremental discipline at the table
    * layer). Lifecycle:
    *
    *   - snapshot 1: 4 bucket files (k%4); the replica bootstraps as a
    *     full copy (the one unavoidable full read);
    *   - snapshot 2: COW rewrite of bucket 2 — deletes k%20=6, updates
    *     k%20=2 (+1000 cents), 10 inserts (all ≡2 mod 4, so the commit
    *     touches exactly one file; the s45 predicate discipline);
    *   - snapshot 3: COW rewrite of bucket 1 — deletes k%20=13,
    *     updates k%20=17 (+500), 5 inserts (≡1 mod 4);
    *   - after each commit the changelog (pre-images from removed
    *     files, post-images from added files, full-outer on key,
    *     carried-unchanged rows suppressed as no-ops) is APPLIED:
    *     replica ⟵ replica ANTI-JOIN (delete ∪ update keys) ∪
    *     (update ∪ insert post-images);
    *   - the audit each step: the replica census equals the source's
    *     time-travel census at that snapshot (both in-hash via the
    *     replica / src column pairs), apply_ok pins the equality,
    *     and n_files_diff (= 2: one removed + one added) pins the
    *     read-boundedness claim itself.
    *
    * Scale shape: the changelog reads |removed| + |added| files; the
    * apply is one keyed anti-join + union against the replica (the
    * standard MERGE shape — at scale both sides bucket on k and the
    * join co-locates); censuses are partial-agg rollups. No unchanged
    * source file is ever reread.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    // lazy so this probe can overlap the base write (guide §2.6)
    lazy val mx = o.agg(max(col("k"))).head().getLong(0)
    lazy val mxb = mx - mx % 4
    // snapshot-2 / snapshot-3 insert batches (keys past mx, in the
    // rewritten file's bucket so each commit stays one-file-wide)
    lazy val ins1 = (0 until 10).map(i => (mxb + 4L * (i + 1) + 2L, 1000000L + 7L * i))
    lazy val ins2 = (0 until 5).map(i => (mxb + 4L * (i + 1) + 1L, 2000000L + 11L * i))

    withTempTableDir("graft_s56_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // base write and the max-key probe: independent scans of the same
      // input, overlapped (guide §2.6, r21)
      val (baseFiles, _) = graft.ops.Par.run2(
        () => writeBaseBuckets(spark, dbFile, o, s"$base/data", 4)
          .map(f => (f._1, f._2)),
        () => mxb)
      TableLog.commit(dbFile, 0L, 1L, baseFiles)

      def rewrite(
          parent: Long, snap: Long, bucket: Long,
          delMod: Long, updMod: Long, bump: Long,
          ins: Seq[(Long, Long)], out: String): Unit = {
        val affected = TableLog.prunePaths(dbFile, parent, Seq(bucket))
        val carried = TableLog.manifest(dbFile, parent).filterNot(f => affected.contains(f._1))
        val nf = writeCounted(spark, Tables.parquet(spark, affected: _*)
          .filter(col("k") % 20 =!= delMod)
          .withColumn("cents",
            when(col("k") % 20 === updMod, col("cents") + bump).otherwise(col("cents")))
          .unionByName(ins.toDF("k", "cents")), out, 1)
        TableLog.recordStats(dbFile, nf.map(p => (p._1, bucket)))
        TableLog.commit(dbFile, parent, snap, carried ++ nf)
      }
      // the rewrite chain (strictly ordered commits) and the replica
      // bootstrap (reads only snapshot 1, already committed) are
      // independent — overlapped (guide §2.6, r21)
      graft.ops.Par.run2(
        () => {
          rewrite(1L, 2L, 2L, 6L, 2L, 1000L, ins1, s"$base/m1")
          rewrite(2L, 3L, 1L, 13L, 17L, 500L, ins2, s"$base/m2")
        },
        () =>
          // replica bootstrap: full copy of snapshot 1, its OWN layout
          TableLog.read(spark, dbFile, 1L)
            .repartition(2).write.parquet(s"$base/rep1"))

      def applyStep(
          step: Long, pre: Long, post: Long,
          repIn: String, repOut: String) = {
        val mfPre = TableLog.manifest(dbFile, pre).map(_._1).toSet
        val mfPost = TableLog.manifest(dbFile, post).map(_._1).toSet
        val removed = (mfPre -- mfPost).toSeq.sorted
        val added = (mfPost -- mfPre).toSeq.sorted
        val preDf = Tables.parquet(spark, removed: _*)
          .select(col("k").as("rk"), col("cents").as("pre_cents"))
        val postDf = Tables.parquet(spark, added: _*)
          .select(col("k").as("ak"), col("cents").as("post_cents"))
        // (r20 note: persisting this frame was measured SLOWER than the
        // recompute — the columnar cache build costs more than the small
        // diff join; left uncached deliberately)
        val changes = preDf
          .join(postDf, col("rk") === col("ak"), "full_outer")
          .withColumn("change_type",
            when(col("ak").isNull, lit("delete"))
              .when(col("rk").isNull, lit("insert"))
              .when(col("pre_cents") =!= col("post_cents"), lit("update"))
              .otherwise(lit("noop")))
          .filter(col("change_type") =!= "noop")
        // the replica write→read-back, the change-type census and the
        // source census are three independent action chains of one step
        // — overlapped (guide §2.6, r21; values unchanged: each is a
        // deterministic read of already-staged or committed files)
        val Seq(repCA, ccA, srcCA) = graft.ops.Par.run(Seq[() => Any](
          () => {
            Tables.parquet(spark, repIn)
              .join(
                changes.filter(col("change_type").isin("delete", "update"))
                  .select(col("rk").as("k")),
                Seq("k"), "left_anti")
              .unionByName(
                changes.filter(col("change_type").isin("insert", "update"))
                  .select(col("ak").as("k"), col("post_cents").as("cents")))
              .repartition(2).write.parquet(repOut)
            Tables.parquet(spark, repOut)
              .agg(count(lit(1)), sum(col("cents"))).head()
          },
          () => changes.groupBy(col("change_type")).count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap,
          () => TableLog.read(spark, dbFile, post)
            .agg(count(lit(1)), sum(col("cents"))).head()))
        val repC = repCA.asInstanceOf[org.apache.spark.sql.Row]
        val cc = ccA.asInstanceOf[Map[String, Long]]
        val srcC = srcCA.asInstanceOf[org.apache.spark.sql.Row]
        (step,
          cc.getOrElse("delete", 0L), cc.getOrElse("update", 0L),
          cc.getOrElse("insert", 0L), (removed.size + added.size).toLong,
          repC.getLong(0), repC.getLong(1), srcC.getLong(0), srcC.getLong(1),
          repC.getLong(0) == srcC.getLong(0) && repC.getLong(1) == srcC.getLong(1))
      }
      // materialize before withTempTableDir deletes the staged parquet
      val rows = Seq(
        applyStep(1L, 1L, 2L, s"$base/rep1", s"$base/rep2"),
        applyStep(2L, 2L, 3L, s"$base/rep2", s"$base/rep3"))
      rows
        .toDF("step", "n_delete", "n_update", "n_insert", "n_files_diff",
          "replica_rows", "replica_cents", "src_rows", "src_cents", "apply_ok")
        .orderBy("step")
    }
  }

  // ------------------------------------------------------------------
  // s57 — multi-dimensional (z-order) clustering + box skipping
  // ------------------------------------------------------------------

  /** s57 — MULTI-DIMENSIONAL clustering (Delta OPTIMIZE ZORDER BY /
    * Iceberg rewrite with a z sort order) + box skipping: s52 proved
    * min/max stats prune a range predicate once files are clustered on
    * THAT column; this is the two-column sequel — a LINEAR layout
    * (files keyed by x alone) answers an (x, y) box by pruning only on
    * x and a y-stripe not at all, while the Z-ORDER rewrite (files =
    * blocks of the bit-interleaved (x, y) key) bounds BOTH dimensions
    * per file. Lifecycle:
    *
    *   - dims: x = k % 16, y = cents % 16 (independent by
    *     construction); 16 files in both layouts — the comparison is
    *     layout-only, never file-count;
    *   - snapshot 1: linear layout, file = x value (each file's y
    *     range spans ~the whole domain);
    *   - snapshot 2: z-order rewrite of exactly snapshot 1's rows —
    *     file = the top 4 interleaved bits x3 y3 x2 y2, i.e. each file
    *     is one 4×4 block of the (x, y) grid;
    *   - queries: an (x ∈ [4,7], y ∈ [8,11]) box — one grid block —
    *     and a y ∈ [0,3] stripe; planning is pruneByCols on x and y (a metadata
    *     join over the per-file 2-D stats, zero data reads);
    *   - per (layout, query) row: files, files scanned, and the pruned
    *     census — which must equal the direct full-scan predicate
    *     census (scan_ok, censuses in-hash). Expected shape: the box
    *     scans 4 linear files but 1 z-file; the stripe scans ALL 16
    *     linear files but 4 z-files.
    *
    * Scale shape: identical to s52 — planning cost ∝ manifest rows, and
    * the z rewrite is one shuffle by file key. The oracle recomputes
    * every census AND every scanned-file count from the same g
    * arithmetic over `orders` —
    * stats are grouped actual min/max, so both engines agree even
    * where a sparse file doesn't span its block.
    */
  def zorderSkipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val d = o
      .withColumn("x", pmod(col("k"), lit(16L)))
      .withColumn("y", pmod(col("cents"), lit(16L)))
    val zKey =
      "((x div 8) % 2) * 8 + ((y div 8) % 2) * 4 + ((x div 4) % 2) * 2 + ((y div 4) % 2)"
    val queries = Seq(
      ("box_xy", 4L, 7L, 8L, 11L),
      ("stripe_y", 0L, 15L, 0L, 3L))

    withTempTableDir("graft_s57_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      val f1 = writeBucketed(
        spark, d.withColumn("g", col("x")), s"$base/lin", 0L to 15L, Seq("x", "y"))
      TableLog.recordColStats(dbFile, "x", f1.map(_.range("x")))
      TableLog.recordColStats(dbFile, "y", f1.map(_.range("y")))
      val c1 = TableLog.commit(dbFile, 0L, 1L, f1.map(_.entry))

      val f2 = writeBucketed(
        spark,
        TableLog.read(spark, dbFile, 1L)
          .select(col("k"), col("cents"), col("x"), col("y"))
          .withColumn("g", expr(zKey)),
        s"$base/z", 0L to 15L, Seq("x", "y"))
      TableLog.recordColStats(dbFile, "x", f2.map(_.range("x")))
      TableLog.recordColStats(dbFile, "y", f2.map(_.range("y")))
      val c2 = TableLog.commit(dbFile, 1L, 2L, f2.map(_.entry))
      val committed = c1 && c2 && TableLog.currentSnapshot(dbFile) == 2L

      // the DIRECT ground-truth census depends only on the query box,
      // not the layout — computed once per query (was once per
      // (layout, query): 4 scans → 2; guide §2.4), and the two queries'
      // censuses overlap (guide §2.6)
      val directs: Map[String, org.apache.spark.sql.Row] = graft.ops.Par
        .run(queries.map { case (qn, xlo, xhi, ylo, yhi) => () =>
          qn -> d.filter(col("x").between(xlo, xhi) && col("y").between(ylo, yhi))
            .agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head()
        }).toMap
      // the four pruned-scan audits are independent — overlapped
      val rows = graft.ops.Par.run(for {
        (layout, snap) <- Seq(("linear", 1L), ("zorder", 2L))
        (qn, xlo, xhi, ylo, yhi) <- queries
      } yield { () =>
        val scanned = TableLog.pruneByCols(dbFile, snap, Seq(("x", xlo, xhi), ("y", ylo, yhi)))
        val boxPred = col("x").between(xlo, xhi) && col("y").between(ylo, yhi)
        val sel = Tables.parquet(spark, scanned: _*)
          .filter(boxPred)
          .agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head()
        val direct = directs(qn)
        val ok = committed &&
          sel.getLong(0) == direct.getLong(0) &&
          sel.getLong(1) == direct.getLong(1)
        (layout, qn, TableLog.manifest(dbFile, snap).size.toLong, scanned.size.toLong,
          direct.getLong(0), direct.getLong(1), ok)
      })
      rows
        .toDF("layout", "query", "n_files", "n_scanned", "n_sel", "sum_sel",
          "scan_ok")
        .orderBy("layout", "query")
    }
  }

  // ------------------------------------------------------------------
  // s58 — small-file bin-packing compaction (OPTIMIZE)
  // ------------------------------------------------------------------

  /** s58 — SMALL-FILE bin-packing compaction (Delta OPTIMIZE / Iceberg
    * rewrite_data_files binpack): the #1 operational problem of a
    * streamed-into table is thousands of tiny files per partition; the
    * fix is a metadata-planned rewrite that coalesces each partition's
    * small files into target-sized ones WITHOUT touching large files
    * or changing a single row. Lifecycle:
    *
    *   - snapshot 1: bucket 0 and 1 (k%3) land as 4 small sub-files
    *     each (a micro-batched ingest's footprint); bucket 2 lands as
    *     ONE large file — 9 files;
    *   - the PLAN is pure log metadata (planBinpack: manifest ×
    *     partition stats, n_rows < threshold, per-bucket groups of
    *     ≥ 2); threshold = total/6 sits between the small (~total/12)
    *     and large (~total/3) sizes by construction — 8 files in 2
    *     groups; the large file is NOT selected;
    *   - the compaction rewrites each group into one file and commits
    *     snapshot 2 carrying the untouched large file: 9 → 3 files;
    *   - audits, all in-hash: the plan's shape (n_small, n_groups, the
    *     large file carried — its path survives into snapshot 2's
    *     manifest), census neutrality (snapshot-2 census == snapshot-1
    *     census == direct recompute), and time travel (snapshot 1
    *     still reads as 9 files with the same census — compaction
    *     never rewrites history).
    *
    * Scale shape: planning is metadata-bounded (manifest rows); the
    * rewrite reads exactly the small files (never the large one) and
    * shuffles nothing — each group coalesces to one writer.
    */
  def binpackCompaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))

    withTempTableDir("graft_s58_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // the nine ingest-footprint writes are independent jobs over the
      // same source — overlapped (guide §2.6, r21); stat rows are keyed
      // by path, so recording order is immaterial to every reader
      val small = graft.ops.Par.run(
        (for (b <- 0L to 1L; sub <- 0L to 3L) yield { () =>
          val out = s"$base/f${b}_$sub"
          val pf = writeCounted(
            spark,
            o.filter(col("k") % 3 === b && expr("(k div 3) % 4") === sub),
            out, 1)
          TableLog.recordStats(dbFile, pf.map(p => (p._1, b)))
          pf
        }).toSeq :+ { () =>
          val pf = writeCounted(spark, o.filter(col("k") % 3 === 2), s"$base/f2", 1)
          TableLog.recordStats(dbFile, pf.map(p => (p._1, 2L)))
          pf
        })
      val big = small.last
      val s1Files = small.flatten
      val c1 = TableLog.commit(dbFile, 0L, 1L, s1Files)

      // metadata-only planning
      val total = s1Files.map(_._2).sum
      val threshold = total / 6L
      val plan = TableLog.planBinpack(dbFile, 1L, threshold)
      val planned = plan.flatMap(_._2).toSet
      val carried = TableLog.manifest(dbFile, 1L).filterNot(f => planned.contains(f._1))

      // the rewrite: one file per group, large file untouched; the
      // per-group rewrites are independent — overlapped (guide §2.6)
      val packed = graft.ops.Par.run(plan.map { case (b, paths) => () =>
        val out = s"$base/packed_$b"
        val pf = writeCounted(spark, Tables.parquet(spark, paths: _*), out, 1)
        TableLog.recordStats(dbFile, pf.map(p => (p._1, b)))
        pf
      }).flatten
      val c2 = TableLog.commit(dbFile, 1L, 2L, carried ++ packed)

      val tt1 = TableLog.manifest(dbFile, 1L)
      // the three audit censuses (snapshot 2, time-travel snapshot 1,
      // direct recompute) are independent scans — overlapped (§2.6)
      val Seq(census2, census1, direct) = graft.ops.Par.run(Seq(
        () => TableLog.read(spark, dbFile, 2L)
          .agg(count(lit(1)), sum(col("cents"))).head(),
        () => Tables.parquet(spark, tt1.map(_._1): _*)
          .agg(count(lit(1)), sum(col("cents"))).head(),
        () => o.agg(count(lit(1)), sum(col("cents"))).head()))
      val bigCarried = big.forall(f =>
        TableLog.manifest(dbFile, 2L).exists(_._1 == f._1))
      val ok = c1 && c2 && TableLog.currentSnapshot(dbFile) == 2L && bigCarried &&
        census2.getLong(0) == direct.getLong(0) &&
        census2.getLong(1) == direct.getLong(1) &&
        census1.getLong(0) == direct.getLong(0) &&
        census1.getLong(1) == direct.getLong(1)

      Seq((
        s1Files.size.toLong, planned.size.toLong, plan.size.toLong,
        TableLog.manifest(dbFile, 2L).size.toLong, tt1.size.toLong,
        direct.getLong(0), direct.getLong(1), ok))
        .toDF("n_files_s1", "n_small_planned", "n_groups", "n_files_s2",
          "n_files_tt1", "n_rows", "sum_cents", "compact_ok")
        .orderBy("n_files_s1")
    }
  }

  /** s60 — COMMIT RETRY WITH REBASE (Iceberg's commit.retry /
    * Delta's conflict-checked retry): the optimistic-concurrency loop
    * every multi-writer table lives by. The log's conditional swap
    * makes a losing writer FAIL CLEANLY (s39's race pins that); what a
    * production writer does next is the interesting half — it REBASES:
    * re-reads the new head, checks its planned change still applies
    * (a pure APPEND is conflict-free by construction: its file set is
    * disjoint from every concurrent change; a rewrite would re-check
    * its read set), and re-proposes the SAME files on the new parent.
    * Data is never rewritten for a retry — the files staged once ride
    * the second attempt untouched. Lifecycle:
    *
    *   - snapshot 1: the base table (2 files);
    *   - writers A and B both cut plans at parent 1 and stage their
    *     append files (10 rows each, disjoint keys past max(k));
    *   - A commits 1 → 2: wins;
    *   - B's first attempt (1 → 3) REJECTS — stale parent, the swap
    *     returns false, no snapshot/manifest rows land (pinned);
    *   - B rebases: new parent = current head (2), append still
    *     conflict-free, same staged file, commit 2 → 3: wins;
    *   - audits, all in-hash: the reject and the rebase-commit flags,
    *     snapshot 2 = base + A only (time travel — B's retry never
    *     leaked into history), snapshot 3 = base + A + B, current = 3.
    *
    * Scale shape: a retry costs one manifest re-read + one conditional
    * swap — metadata only; the staged data files are written exactly
    * once no matter how many retries.
    */
  def commitRetryRebase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val mx = o.agg(max(col("k"))).head().getLong(0)
    val insA = (0 until 10).map(i => (mx + 1L + i, 3000000L + 13L * i))
    val insB = (0 until 10).map(i => (mx + 11L + i, 4000000L + 17L * i))

    withTempTableDir("graft_s60_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // the two base-bucket writes and both writers' staged appends are
      // four independent write jobs — overlapped (guide §2.6, r21);
      // commit ordering below is unchanged
      val Seq(b0, b1, fa, fb) = graft.ops.Par.run(Seq(
        () => writeCounted(spark, o.filter(col("k") % 2 === 0L), s"$base/f0", 1),
        () => writeCounted(spark, o.filter(col("k") % 2 === 1L), s"$base/f1", 1),
        () => writeCounted(spark, insA.toDF("k", "cents"), s"$base/a", 1),
        () => writeCounted(spark, insB.toDF("k", "cents"), s"$base/b", 1)))
      val baseFiles = b0 ++ b1
      val c1 = TableLog.commit(dbFile, 0L, 1L, baseFiles)
      val planParentB = 1L

      val cA = TableLog.commit(dbFile, 1L, 2L, TableLog.manifest(dbFile, 1L) ++ fa)
      // B's first attempt on its stale plan parent
      val bFirst = TableLog.commit(dbFile, planParentB, 3L, TableLog.manifest(dbFile, planParentB) ++ fb)
      // rebase: re-read the head; an append's file set is disjoint from
      // any concurrent change, so the same staged file re-proposes as-is
      val head = TableLog.currentSnapshot(dbFile)
      val bRebase = !bFirst && TableLog.commit(dbFile, head, 3L, TableLog.manifest(dbFile, head) ++ fb)

      // the three audit censuses are independent scans — overlapped
      val Seq((n2, s2), (n3, s3), (nb, sb)) = graft.ops.Par.run(
        Seq(
          () => TableLog.read(spark, dbFile, 2L)
            .agg(count(lit(1)), sum(col("cents"))).head(),
          () => TableLog.read(spark, dbFile, 3L)
            .agg(count(lit(1)), sum(col("cents"))).head(),
          () => o.agg(count(lit(1)), sum(col("cents"))).head())
          .map(t => () => { val r = t(); (r.getLong(0), r.getLong(1)) }))
      val ok = c1 && cA && !bFirst && bRebase && TableLog.currentSnapshot(dbFile) == 3L &&
        n2 == nb + insA.size && s2 == sb + insA.map(_._2).sum &&
        n3 == nb + insA.size + insB.size &&
        s3 == sb + insA.map(_._2).sum + insB.map(_._2).sum

      Seq((nb, insA.size.toLong, insB.size.toLong, !bFirst, bRebase,
        n2, n3, s3, ok))
        .toDF("n_rows_base", "n_a", "n_b", "first_b_rejected",
          "rebase_committed", "n_rows_s2", "n_rows_s3", "sum_cents_s3",
          "retry_ok")
        .orderBy("n_rows_base")
    }
  }

  /** s61 — streaming AUTO-COMPACTION: the maintenance loop fused into
    * the ingest loop (Delta's autoOptimize / Iceberg's
    * rewrite-after-commit): every micro-batch epoch appends its small
    * files through the atomic log (s41's write-then-commit discipline),
    * and after each commit the writer checks the FILE-COUNT policy
    * (manifest ≥ 4 files) — when it trips, the s58 planner
    * (planBinpack, threshold ∞ → every file groups per bucket) plans a
    * full rewrite from LOG METADATA ONLY and lands it as its own
    * commit. Timeline (3 staged epochs):
    *
    *   - epoch 0 → snapshot 1: 2 files (policy quiet);
    *   - epoch 1 → snapshot 2: 4 files — policy trips → snapshot 3:
    *     1 file, census IDENTICAL to snapshot 2 (compaction is
    *     census-neutral, pinned in-hash);
    *   - epoch 2 → snapshot 4: 3 files (the packed file + epoch 2's
    *     2 appends — compaction never rewrites incoming data);
    *   - history intact: all four snapshots time-travel with their own
    *     file counts; loop_ok pins every commit + the final pointer.
    *
    * Scale shape: the policy check is one manifest count (metadata);
    * the compaction reads exactly the current snapshot's files once;
    * ingest epochs are never blocked on anything corpus-sized.
    */
  def streamAutoCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val s = graft.streaming.StreamSessions.tuned(spark)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val cents = expr("CAST(floor(value * 100) AS BIGINT)").as("cents")

    withTempTableDir("graft_s61_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      val staged = graft.streaming.Watermarks.stageBatches(s, dir)
      val schema = Tables.parquet(s, s"$staged/0.parquet").schema
      val oks = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
      val compactions = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/*.parquet")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: DataFrame, epoch: Long) =>
          val out = s"$base/e$epoch"
          val pf = writeCounted(s, b.select(col("event_id"), col("user_id"), cents), out, 2)
          TableLog.recordStats(dbFile, pf.map(p => (p._1, 0L)))
          val parent = TableLog.currentSnapshot(dbFile)
          var ok = TableLog.commit(dbFile, parent, parent + 1, TableLog.manifest(dbFile, parent) ++ pf)
          // the auto-compact policy: manifest grew past the cap
          val head = TableLog.currentSnapshot(dbFile)
          if (ok && TableLog.manifest(dbFile, head).size >= 4) {
            val plan = TableLog.planBinpack(dbFile, head, Long.MaxValue)
            val packed = plan.flatMap { case (bkt, paths) =>
              val pout = s"$base/packed_${head}_$bkt"
              val ppf = writeCounted(s, Tables.parquet(s, paths: _*), pout, 1)
              TableLog.recordStats(dbFile, ppf.map(p => (p._1, bkt)))
              ppf
            }
            val planned = plan.flatMap(_._2).toSet
            val carried = TableLog.manifest(dbFile, head).filterNot(f => planned.contains(f._1))
            ok = TableLog.commit(dbFile, head, head + 1, carried ++ packed)
            compactions.put(head + 1, head)
          }
          oks.put(epoch, ok)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      import scala.jdk.CollectionConverters._
      val loopOk = oks.asScala.values.forall(identity) && oks.size == 3 &&
        TableLog.currentSnapshot(dbFile) == 4L && compactions.keySet.asScala == Set(3L)

      val census = TableLog.census(spark, dbFile, 1L to 4L)()
      val rows = (1L to 4L).map { snap =>
        (snap, TableLog.manifest(dbFile, snap).size.toLong,
          census(snap)._1, census(snap)._2,
          compactions.containsKey(snap), snap == TableLog.currentSnapshot(dbFile),
          loopOk)
      }
      rows
        .toDF("snapshot_id", "n_files", "n_rows", "sum_cents", "compacted",
          "is_current", "loop_ok")
        .orderBy("snapshot_id")
    }
  }

  /** s62 — STREAMING CDC CONSUMER: s56's replica maintenance as a
    * Structured Streaming job (Delta CDF consumed by a continuous
    * `foreachBatch` MERGE — the shape a 100 TB downstream replica
    * actually runs as). The producer side is s56's lifecycle verbatim
    * (snapshot 1 = 4 bucket files; snapshots 2/3 = one-file-wide COW
    * rewrites with deletes/updates/inserts); each commit's changelog
    * (pre-images from removed files, post-images from added files,
    * no-ops suppressed) is STAGED as one file and the consumer stream
    * reads them `maxFilesPerTrigger=1` — one micro-batch per source
    * commit. What s56 could not show and this entry pins:
    *
    *   - the apply loop runs INSIDE `foreachBatch` with exactly-once
    *     semantics built from an idempotence LEDGER (`apply_log`,
    *     claimed via single-statement INSERT .. ON CONFLICT — the s35
    *     discipline): batch 2 is INJECTED a second time as a third
    *     staged delivery, and the claim must reject it with the
    *     replica untouched (applied=false, censuses frozen at
    *     snapshot 3's — the at-least-once file source made
    *     effectively-once by the consumer, not by the source);
    *   - per epoch, the replica census equals the source's time-travel
    *     census at the corresponding snapshot (both in-hash), so a
    *     half-applied or double-applied batch fails the gate.
    *
    * Scale shape: each micro-batch reads ONLY that commit's changed
    * files (|removed| + |added|, staged once); the apply is one keyed
    * anti-join + union against the replica (the MERGE shape — at scale
    * both sides bucket on k); the ledger claim is one metadata row.
    * Nothing corpus-sized ever blocks the consumer loop.
    */
  def cdcStreamConsume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val s = graft.streaming.StreamSessions.tuned(spark)
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    // lazy so this probe can overlap the base write (guide §2.6)
    lazy val mx = o.agg(max(col("k"))).head().getLong(0)
    lazy val mxb = mx - mx % 4
    lazy val ins1 = (0 until 10).map(i => (mxb + 4L * (i + 1) + 2L, 1000000L + 7L * i))
    lazy val ins2 = (0 until 5).map(i => (mxb + 4L * (i + 1) + 1L, 2000000L + 11L * i))

    withTempTableDir("graft_s62_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // ---- producer: s56's three snapshots ----
      // base write and the max-key probe: independent scans of the same
      // input, overlapped (guide §2.6, r21)
      val (baseFiles, _) = graft.ops.Par.run2(
        () => writeBaseBuckets(spark, dbFile, o, s"$base/data", 4)
          .map(f => (f._1, f._2)),
        () => mxb)
      TableLog.commit(dbFile, 0L, 1L, baseFiles)
      def rewrite(
          parent: Long, snap: Long, bucket: Long,
          delMod: Long, updMod: Long, bump: Long,
          ins: Seq[(Long, Long)], out: String): Unit = {
        val affected = TableLog.prunePaths(dbFile, parent, Seq(bucket))
        val carried = TableLog.manifest(dbFile, parent).filterNot(f => affected.contains(f._1))
        val nf = writeCounted(spark, Tables.parquet(spark, affected: _*)
          .filter(col("k") % 20 =!= delMod)
          .withColumn("cents",
            when(col("k") % 20 === updMod, col("cents") + bump).otherwise(col("cents")))
          .unionByName(ins.toDF("k", "cents")), out, 1)
        TableLog.recordStats(dbFile, nf.map(p => (p._1, bucket)))
        TableLog.commit(dbFile, parent, snap, carried ++ nf)
      }
      rewrite(1L, 2L, 2L, 6L, 2L, 1000L, ins1, s"$base/m1")
      rewrite(2L, 3L, 1L, 13L, 17L, 500L, ins2, s"$base/m2")

      // ---- changelog extraction + single-file staging (one file per
      // delivery; mtime fixes the FileStreamSource order; delivery 3 is
      // the injected REDELIVERY of batch 2) ----
      def changes(pre: Long, post: Long): DataFrame = {
        val mfPre = TableLog.manifest(dbFile, pre).map(_._1).toSet
        val mfPost = TableLog.manifest(dbFile, post).map(_._1).toSet
        val removed = (mfPre -- mfPost).toSeq.sorted
        val added = (mfPost -- mfPre).toSeq.sorted
        Tables.parquet(spark, removed: _*)
          .select(col("k").as("rk"), col("cents").as("pre_cents"))
          .join(
            Tables.parquet(spark, added: _*)
              .select(col("k").as("ak"), col("cents").as("post_cents")),
            col("rk") === col("ak"), "full_outer")
          .withColumn("change_type",
            when(col("ak").isNull, lit("delete"))
              .when(col("rk").isNull, lit("insert"))
              .when(col("pre_cents") =!= col("post_cents"), lit("update"))
              .otherwise(lit("noop")))
          .filter(col("change_type") =!= "noop")
          .select(
            coalesce(col("ak"), col("rk")).as("k"),
            col("pre_cents"), col("post_cents"), col("change_type"))
      }
      val stage = s"$base/chg"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
      def stageOne(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$base/_$name"
        df.coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$stage/$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime)
      }
      // the two changelog stagings and the replica bootstrap are
      // independent jobs — overlapped (guide §2.6, r21); the injected
      // at-least-once REDELIVERY d3 is by definition the same delivery
      // payload as d2, so it is a byte-identical file COPY (mtime moved
      // for the source order), not a third change-extraction job
      graft.ops.Par.run(Seq(
        () => stageOne(changes(1L, 2L).withColumn("batch_id", lit(1L)), "d1", 1000000L),
        () => stageOne(changes(2L, 3L).withColumn("batch_id", lit(2L)), "d2", 2000000L),
        () => {
          // replica bootstrap: full copy of snapshot 1, its OWN layout
          TableLog.read(spark, dbFile, 1L)
            .repartition(2).write.parquet(s"$base/rep1")
        }))
      locally {
        val d3 = new java.io.File(s"$stage/d3.parquet")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$stage/d2.parquet"), d3.toPath)
        d3.setLastModified(3000000L)
        ()
      }

      // ---- the consumer stream ----
      val schema = Tables.parquet(s, s"$stage/d1.parquet").schema
      val results = new java.util.concurrent.ConcurrentHashMap[
        Long, (Long, Long, Long, Long, Boolean, Long, Long, Long, Long)]()
      @volatile var repStep = 1L
      // the SOURCE census per snapshot is a deterministic read of
      // committed immutable files; the redelivered batch 3 asks for the
      // same snapshot-3 census batch 2 already computed — memoized
      // within this run (the REPLICA census is re-read every batch on
      // purpose: proving the replica didn't move on a rejected
      // redelivery is the point)
      val srcCCache = new java.util.concurrent.ConcurrentHashMap[
        Long, org.apache.spark.sql.Row]()
      val q = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$stage/*.parquet")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: DataFrame, epoch: Long) =>
          val batch = b.persist()
          // ONE bounded collect (≤3 rows): per-change-type counts AND
          // the batch id (constant per staged file, so the max over
          // group maxes equals the old whole-batch max)
          val hdr = batch.groupBy(col("change_type"))
            .agg(count(lit(1)).as("c"), max(col("batch_id")).as("mb"))
            .collect()
          require(
            hdr.nonEmpty,
            s"s62 micro-batch $epoch is empty: every staged change file " +
              "carries at least one row, so the batch id cannot be read")
          val bid = hdr.map(_.getLong(2)).max
          val cc = hdr.map(r => r.getString(0) -> r.getLong(1)).toMap
          val claimed = TableLog.claimApply(dbFile, bid)
          if (claimed) {
            val repOut = s"$base/rep${repStep + 1}"
            Tables.parquet(s, s"$base/rep$repStep")
              .join(
                batch.filter(col("change_type").isin("delete", "update"))
                  .select(col("k")),
                Seq("k"), "left_anti")
              .unionByName(
                batch.filter(col("change_type").isin("insert", "update"))
                  .select(col("k"), col("post_cents").as("cents")))
              .repartition(2).write.parquet(repOut)
            repStep += 1
          }
          // replica census and (memoized) source census are independent
          // reads — overlapped (guide §2.6, r21)
          val (repC, srcC) = graft.ops.Par.run2(
            () => Tables.parquet(s, s"$base/rep$repStep")
              .agg(count(lit(1)), sum(col("cents"))).head(),
            () => srcCCache.computeIfAbsent(
              repStep,
              snap => TableLog.read(s, dbFile, snap)
                .agg(count(lit(1)), sum(col("cents"))).head()))
          results.put(epoch, (bid,
            cc.getOrElse("delete", 0L), cc.getOrElse("update", 0L),
            cc.getOrElse("insert", 0L), claimed,
            repC.getLong(0), repC.getLong(1), srcC.getLong(0), srcC.getLong(1)))
          batch.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      import scala.jdk.CollectionConverters._
      val eps = results.asScala.toSeq.sortBy(_._1)
      val consumeOk = eps.size == 3 && repStep == 3L &&
        eps.map(_._2._5) == Seq(true, true, false) &&
        eps.forall(e => e._2._6 == e._2._8 && e._2._7 == e._2._9)
      eps.map { case (epoch, (bid, nd, nu, ni, applied, rn, rs, sn, ss)) =>
        (epoch + 1L, bid, nd, nu, ni, applied, rn, rs, sn, ss,
          rn == sn && rs == ss, consumeOk)
      }
        .toDF("step", "batch_id", "n_delete", "n_update", "n_insert",
          "applied", "replica_rows", "replica_cents", "src_rows",
          "src_cents", "apply_ok", "consume_ok")
        .orderBy("step")
    }
  }

  /** s63 — three-way BRANCH MERGE: the WAP family's missing verb. s46
    * publishes by FAST-FORWARD, which only works when main has not
    * moved since the branch was cut; the production case (Nessie merge
    * / Iceberg cherry-pick) is main and branch diverging from a common
    * base and the branch's changes being REPLAYED onto main's head —
    * a metadata-only three-way merge over manifests, never a data
    * rewrite. The rule, all from log metadata:
    *
    *   - branch delta vs the fork base = (files added, files removed);
    *   - CONFLICT iff a file the branch removed (i.e. rewrote) is no
    *     longer in main's head manifest — both sides rewrote it, and
    *     file-level replay would silently drop one side's edit. A
    *     conflicting merge must REJECT with main's pointer untouched;
    *   - otherwise the merge commit's manifest = main-head manifest
    *     − branch-removed + branch-added, committed through the SAME
    *     optimistic conditional swap as every commit (a concurrent
    *     main mover still rejects cleanly).
    *
    * Lifecycle: base snapshot 1 (4 bucket files); branch `dev` cut at
    * 1 rewrites bucket 3 (delete k%20=7, update k%20=11 +300, 6
    * inserts ≡3 mod 4) as snapshot 2; main independently rewrites
    * bucket 0 (delete k%20=8, update k%20=0 +200, 4 inserts ≡0 mod 4)
    * as snapshot 3 — touched file sets disjoint, so the merge lands as
    * snapshot 4 and its census (in-hash) equals BOTH edits applied to
    * the base. Then branch `dev2`, also cut at 1, rewrites bucket 0
    * too (snapshot 5) — merging it must detect the f0 conflict against
    * main's head and reject, pointer frozen at 4.
    *
    * Scale shape: the merge plans entirely over manifest rows (file
    * sets — metadata); the only data IO is each side's own rewrite,
    * which happened before the merge. Nothing re-reads, re-writes, or
    * shuffles table data at merge time.
    */
  def branchMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val mx = o.agg(max(col("k"))).head().getLong(0)
    val mxb = mx - mx % 4
    val insDev = (0 until 6).map(i => (mxb + 4L * (i + 1) + 3L, 3000000L + 13L * i))
    val insMain = (0 until 4).map(i => (mxb + 4L * (i + 1), 4000000L + 17L * i))

    withTempTableDir("graft_s63_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      val baseFiles = writeBaseBuckets(spark, dbFile, o, s"$base/data", 4)
        .map(f => (f._1, f._2))
      val c1 = TableLog.commit(dbFile, 0L, 1L, baseFiles)

      def rewriteFiles(
          fromSnap: Long, bucket: Long,
          delMod: Long, updMod: Long, bump: Long,
          ins: Seq[(Long, Long)], out: String): Seq[(String, Long)] = {
        val affected = TableLog.prunePaths(dbFile, fromSnap, Seq(bucket))
        val nf = writeCounted(spark, Tables.parquet(spark, affected: _*)
          .filter(col("k") % 20 =!= delMod)
          .withColumn("cents",
            when(col("k") % 20 === updMod, col("cents") + bump).otherwise(col("cents")))
          .unionByName(ins.toDF("k", "cents")), out, 1)
        TableLog.recordStats(dbFile, nf.map(p => (p._1, bucket)))
        TableLog.manifest(dbFile, fromSnap)
          .filterNot(f => affected.contains(f._1)) ++ nf
      }

      // branch `dev` cut at 1: bucket-3 rewrite → snapshot 2 (ref only)
      TableLog.createRef(dbFile, "dev", at = 1L)
      val cDev = TableLog.commit(dbFile, 1L, 2L,
        rewriteFiles(1L, 3L, 7L, 11L, 300L, insDev, s"$base/mdev"), ref = Some("dev"))
      // main moves independently: bucket-0 rewrite → snapshot 3
      val cMain = TableLog.commit(dbFile, 1L, 3L,
        rewriteFiles(1L, 0L, 8L, 0L, 200L, insMain, s"$base/mmain"))

      /** Replay `ref`'s delta vs `baseSnap` onto main's head; returns
        * (merged, conflictDetected). Metadata-only.
        */
      def mergeBranch(ref: String, baseSnap: Long): (Boolean, Boolean) = {
        val head = TableLog.currentSnapshot(dbFile)
        val baseMf = TableLog.manifest(dbFile, baseSnap).map(_._1).toSet
        val brMf = TableLog.manifest(dbFile, TableLog.refSnapshot(dbFile, ref))
        val brRemoved = baseMf -- brMf.map(_._1).toSet
        val brAdded = brMf.filterNot(f => baseMf.contains(f._1))
        val headMf = TableLog.manifest(dbFile, head)
        val headPaths = headMf.map(_._1).toSet
        if (brRemoved.exists(p => !headPaths.contains(p))) (false, true)
        else {
          val newMf = headMf.filterNot(f => brRemoved.contains(f._1)) ++ brAdded
          (TableLog.commit(dbFile, head, head + 1, newMf), false)
        }
      }

      def delta(snap: Long, vs: Long): (Long, Long) = {
        val a = TableLog.manifest(dbFile, snap).map(_._1).toSet
        val b = TableLog.manifest(dbFile, vs).map(_._1).toSet
        ((a -- b).size.toLong, (b -- a).size.toLong)
      }
      val (brAdd, brRem) = delta(2L, 1L)
      val (mnAdd, mnRem) = delta(3L, 1L)

      val (merged, conflict1) = mergeBranch("dev", 1L)
      val mergedC = TableLog.read(spark, dbFile, TableLog.currentSnapshot(dbFile))
        .agg(count(lit(1)), sum(col("cents"))).head()

      // branch `dev2`, also cut at 1, rewrites bucket 0 like main did:
      // its merge must conflict on f0 and leave the pointer at 4
      TableLog.createRef(dbFile, "dev2", at = 1L)
      val cDev2 = TableLog.commit(dbFile, 1L, 5L,
        rewriteFiles(1L, 0L, 16L, 12L, 100L, Seq.empty, s"$base/mdev2"), ref = Some("dev2"))
      val (merged2, conflict2) = mergeBranch("dev2", 1L)

      val mergeOk = c1 && cDev && cMain && cDev2 &&
        merged && !conflict1 && !merged2 && conflict2 &&
        TableLog.currentSnapshot(dbFile) == 4L

      Seq((brAdd, brRem, mnAdd, mnRem, merged,
        mergedC.getLong(0), mergedC.getLong(1), conflict2, mergeOk))
        .toDF("n_branch_added", "n_branch_removed", "n_main_added",
          "n_main_removed", "merged", "n_rows_merged", "sum_cents_merged",
          "conflict_rejected", "merge_ok")
        .orderBy("n_branch_added")
    }
  }

  // ------------------------------------------------------------------
  // q212 — per-COLUMN NDV registers in the long-form stat table
  // ------------------------------------------------------------------

  /** q212's memoized staging per source dir: (orders files, customer
    * files, lineitem files, long-form register rows) — the write-once
    * stats cost, reused across invocations (see colNdvEstimates).
    */
  private val q212Staged = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Seq[(String, Long)], Seq[(String, Long)], Seq[(String, Long)],
      Seq[(String, String, Long, Long)])]()

  // ------------------------------------------------------------------
  // q218 — per-column HEAVY-HITTER rows in the long-form stat table
  // ------------------------------------------------------------------

  /** q218's memoized staging per source dir: (manifest files, col_topk
    * rows, col_ndv rows) — the write-once stats cost (the q212Staged
    * discipline); repeated invocations measure the decision + audit.
    */
  private val q218Staged = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Seq[(String, Long)], Seq[(String, String, Long, Long)],
      Seq[(String, String, Long, Long)])]()

  /** q218 — HEAVY-HITTER STATISTICS → AUTOMATIC SALTED-JOIN DECISION:
    * the fourth planner decision, made entirely from the long-form stat
    * table. s09's salting (`ops/Salting.scala`) is applied by HAND; a
    * real planner must decide "is this key skewed enough to salt" from
    * write-time metadata, because by the time the hot key is discovered
    * at run time the straggler has already happened. Lifecycle:
    *
    *   - lineitem staged as 4 immutable bucket files with TWO join-key
    *     columns: pk_unif = l_partkey (TPC-H-uniform) and pk_skew =
    *     the star-schema "unknown member" pattern — every returned line
    *     (l_returnflag = 'R', ~25% of rows) resolves to sentinel part 1,
    *     the most common real-world join skew (null/default dimension
    *     keys). ONE stats job per staging computes per-(file, column,
    *     key) exact counts, from which BOTH stat families derive: top-8
    *     frequency rows → col_topk, register cells → col_ndv;
    *   - the DECISION, metadata only: skew_x100 = top1_cnt · 100 ·
    *     ndv / n_rows (the hottest key's count over the mean per-key
    *     count, q147's ratio) from merged col_topk + col_ndv + manifest
    *     counts; ≥ 800 (8× the mean) → the salted join (8 salts via the
    *     shared h60 so the oracle replays the split), else the plain
    *     join. pk_skew lands ~50000, pk_unif ~160 — opposite decisions
    *     at every SF by two orders of magnitude;
    *   - the AUDIT, in-hash: the EXECUTED chosen plan's structure
    *     (gen_nodes — the salted path's small-side replication is
    *     exactly one Generate node, the plain path zero; broadcast
    *     disabled scoped-and-restored so the join genuinely exercises
    *     the shuffle path salting exists for), census equality between
    *     the salted and plain variants (salting must never change
    *     results), the load split the salt bought (max per-key group vs
    *     max per-(key, salt) group — the straggler metric itself), and
    *     the stat table's top-1 against the exact heaviest key, and
    *     top1_reliable — the [[top1Reliability]] file-grain bound
    *     decided by the READER, not just documented: TRUE on the
    *     genuinely-hot edge, FALSE on the uniform edge, so decisions
    *     that need the exact argmax carry an explicit
    *     low-confidence bit (r19 verdict #8).
    *
    * Scale shape: the decision inputs are ≤ 8·n_files + 64·n_files
    * metadata rows; the exact per-key census exists once as the staged
    * write's stats job (map-side combined); the joins execute only as
    * this entry's audit layer. Reference behavior context:
    * StrategyAnalyzerExporter.cs drives single-node DuckDB joins where
    * skew is invisible — this decision only exists at cluster scale.
    */
  def skewSaltDecision(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{BucketedJoin, Hashing, Hll, Salting}
    import org.apache.spark.sql.expressions.Window

    val bigRel = Tables
      .lineitem(spark, dir)
      .select(
        (col("l_orderkey") % 4).cast("long").as("g"),
        when(col("l_returnflag") === "R", lit(1L))
          .otherwise(col("l_partkey").cast("long")).as("pk_skew"),
        col("l_partkey").cast("long").as("pk_unif"),
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("rid"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val dim = Tables.part(spark, dir).select(col("p_partkey").cast("long").as("pk"))
    val saltCol = pmod(Hashing.h60(col("rid").cast("string")), lit(8)).cast("int")

    withTempTableDir("graft_q218_") { tmp =>
      val (files, topkRows, regRows) = q218Staged.computeIfAbsent(
        dir,
        _ => {
          val base = graft.ops.Scratch.scratchDir("graft_q218_tbl_").toString
          val out = s"$base/line"
          bigRel.repartition(col("g")).write.partitionBy("g").parquet(out)
          val bucketRe = "/g=(\\d+)/".r
          val byG: Map[Long, String] = new java.io.File(out)
            .listFiles().filter(_.getName.startsWith("g="))
            .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
            .map(f =>
              (bucketRe.findFirstMatchIn(f.getAbsolutePath).get.group(1).toLong,
                f.getAbsolutePath))
            .toMap
          require(byG.size == 4, s"expected 4 one-file buckets under $out")
          // ONE stats scan: per-(file, column, key) exact counts — the
          // map-side-combined agg BOTH stat families derive from
          val perKey = bigRel
            .select(col("g"), explode(array(
              struct(lit("pk_skew").as("c"), col("pk_skew").as("v")),
              struct(lit("pk_unif").as("c"), col("pk_unif").as("v")))).as("kv"))
            .groupBy(col("g"), col("kv.c").as("cn"), col("kv.v").as("k"))
            .agg(count(lit(1)).as("c"))
          // top-8 per (file, column) → col_topk rows; ties broken by
          // key asc so both engines pick identical rows
          val topk = perKey
            .withColumn("rn", row_number().over(
              Window.partitionBy("g", "cn").orderBy(col("c").desc, col("k"))))
            .filter(col("rn") <= 8)
            .collect() // ≤ 4·2·8 stat rows — metadata
            .map(r => (byG(r.getLong(0)), r.getString(1), r.getLong(2), r.getLong(3)))
            .toSeq
          // register cells per (file, column) from the SAME per-key agg
          // (each distinct value appears exactly once per file) + the
          // per-file row counts the manifest carries
          val cells = perKey
            .select(col("g"), col("cn"),
              Hashing.h60(col("k").cast("string")).as("h"), col("c"))
            .select(col("g"), col("cn"), Hll.bucketCol.as("bucket"),
              Hll.rankCol.as("rk"), col("c"))
            .groupBy("g", "cn", "bucket")
            .agg(max("rk").as("mr"), sum("c").as("cnt"))
            .collect() // ≤ 4·2·64 sketch cells — metadata
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getLong(3), r.getLong(4)))
          val fs = byG.toSeq.sortBy(_._1).map { case (g, p) =>
            (p, cells.collect { case (gg, cn, _, _, n) if gg == g && cn == "pk_skew" => n }.sum)
          }
          (fs, topk, cells.map { case (g, cn, b, mr, _) => (byG(g), cn, b, mr) }.toSeq)
        })

      val dbFile = s"$tmp/log.duckdb"
      TableLog.init(dbFile)
      TableLog.recordColNdv(dbFile, regRows)
      TableLog.recordColTopk(dbFile, topkRows)
      require(TableLog.commit(dbFile, 0L, 1L, files), "q218 snapshot commit rejected")

      val paths = files.map(_._1)
      val man = TableLog.manifest(dbFile, 1L).toMap
      val nRows = files.map(f => man(f._1)).sum
      val big = Tables.parquet(spark, paths: _*)

      // broadcast off + AQE off, scoped-and-restored (the BucketedJoin /
      // q216 discipline): the dim stands in for a big⋈big edge at SF
      // scale — salting is the shuffle-join remedy, so the audited plan
      // must BE a shuffle join
      val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        def edgeRow(cn: String) = {
          // ---- the decision: long-form stat table + manifest ONLY ----
          val ndv = Hll.estimateInt(TableLog.colNdvRegisters(dbFile, paths, cn))
          // the reliability bit rides the decision: a FALSE bit means
          // top1_cnt is a lower bound only (safe for the ≥-threshold
          // salt rule; unsafe for anything needing the exact argmax)
          val (t1k, t1c, t1Rel) = TableLog.colTopkMergedTop1Checked(dbFile, paths, cn)
          val skewX100 = (BigInt(t1c) * 100 * BigInt(ndv) / BigInt(nRows)).toLong
          val salted = skewX100 >= 800L
          // ---- execution: the chosen physical shape ----
          def census(j: DataFrame): (Long, Long) = {
            val r = j.agg(count(lit(1)), sum(col("cents"))).head()
            (r.getLong(0), r.getLong(1))
          }
          val plainJ = big.join(dim, col(cn) === col("pk"))
          val saltJ = Salting.saltedJoinWith(big, dim, col(cn), col("pk"), saltCol, 8)
          val chosenJ = if (salted) saltJ else plainJ
          val gen = BucketedJoin.countGenerates(chosenJ)
          // the two join censuses and the exact audit are independent
          // actions — overlapped (guide §2.6, r21). Exact ground truth
          // stays fused: per-key top-1 and the per-(key, salt) straggler
          // max both derive from ONE per-(key, salt) aggregation
          // (Σ over salts = the per-key count; r20, §2.4).
          val ((nJoin, sumCents), (otherCensus, (exKey, maxGroup, maxSalt))) =
            graft.ops.Par.run2(
              () => census(chosenJ),
              () => graft.ops.Par.run2(
                () => census(if (salted) plainJ else saltJ),
                () => {
                  val perKS = big.groupBy(col(cn).as("k"), saltCol.as("s"))
                    .agg(count(lit(1)).as("c")).persist()
                  try {
                    val ex = perKS.groupBy("k").agg(sum(col("c")).as("c"))
                      .orderBy(col("c").desc, col("k")).head()
                    (ex.getLong(0), ex.getLong(1),
                      perKS.agg(max("c")).head().getLong(0))
                  } finally { perKS.unpersist(); () }
                }))
          val censusMatch = otherCensus == ((nJoin, sumCents))
          (cn, nRows, ndv, t1k, t1c, t1Rel, skewX100, salted, nJoin, sumCents,
            censusMatch, gen, maxGroup, maxSalt, exKey,
            t1k == exKey && t1c == maxGroup, gen == (if (salted) 1L else 0L))
        }
        // both edges run under the SAME scoped conf (broadcast off, AQE
        // off) — no per-edge conf difference, so they overlap safely
        graft.ops.Par.run(Seq(() => edgeRow("pk_skew"), () => edgeRow("pk_unif")))
          .toDF("edge", "n_rows", "ndv_est", "top1_key", "top1_cnt",
            "top1_reliable", "skew_x100", "salted", "n_join", "sum_cents",
            "census_match", "gen_nodes", "max_group", "max_salt_group",
            "top1_key_exact", "top1_is_exact", "plan_ok")
          .orderBy("edge")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }
  }

  // ------------------------------------------------------------------
  // q220 — per-column COUNT-MIN rows (the 100 TB frequency-stat shape)
  // ------------------------------------------------------------------

  /** q220's memoized staging per source dir: (manifest files, col_cms
    * rows) — the write-once stats cost (the q212Staged discipline).
    */
  private val q220Staged = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Seq[(String, Long)], Seq[(String, String, Long, Long, Long)])]()

  /** q220 — COUNT-MIN ROWS IN THE LONG-FORM STAT TABLE: q218's declared
    * scale path, made real. Per-file exact top-k (col_topk) answers
    * only "the hottest few keys", and its SUM-merge is reliable only
    * for keys in every file's top-k; a count-min sketch's 4·64 counters
    * per (file, column) answer the point frequency of ANY key, merge
    * across files EXACTLY (cell-wise sum — counters are additive), and
    * err on one side only (an overestimate, never under — a planner
    * acting on "at least this hot" is safe). Lifecycle:
    *
    *   - the q218 relation (lineitem with the sentinel-skew key) staged
    *     as 4 bucket files; ONE stats job computes per-(file, key)
    *     exact counts and derives the 4 hash rows' cells
    *     (hash_i(k) = h60("i:" || k) % 64 — the shared h60, so the
    *     oracle replays every cell); rows land in col_cms;
    *   - plan time, metadata only: the scope's sketch = cell-wise SUM
    *     of the files' rows; point estimates f̂(k) = min over the 4
    *     rows of the k-hashed cell — probed for the hot sentinel key,
    *     a typical key, and an ABSENT key;
    *   - the audit, in-hash per probe: f̂ vs the exact count (signed
    *     over_bp), ge_ok — the one-sided guarantee f̂ ≥ f, which holds
    *     deterministically by construction — and the q218 skew ratio
    *     recomputed FROM the sketch (skew_cms_x100) with the same ≥800
    *     salt decision, tying the scale path back to the decision it
    *     serves.
    *
    * Scale shape: ≤ 4·64 stat rows per (file, column) INDEPENDENT of
    * key cardinality (col_topk is 8, col_ndv 64 — col_cms 256, all
    * O(1) in corpus size); the merge is a ≤256-row metadata aggregate;
    * the exact per-key census exists once as the staged write's stats
    * job.
    */
  def cmsFrequencyStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.Hashing

    val bigRel = Tables
      .lineitem(spark, dir)
      .select(
        (col("l_orderkey") % 4).cast("long").as("g"),
        when(col("l_returnflag") === "R", lit(1L))
          .otherwise(col("l_partkey").cast("long")).as("k"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val probes = Seq(("hot_sentinel", 1L), ("typical", 5L), ("absent", 999999937L))

    def cellJ(i: Int, k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(Hashing.h60(concat(lit(s"$i:"), k.cast("string"))), lit(TableLog.CmsWidth))

    withTempTableDir("graft_q220_") { tmp =>
      val (files, cmsRows) = q220Staged.computeIfAbsent(
        dir,
        _ => {
          val base = graft.ops.Scratch.scratchDir("graft_q220_tbl_").toString
          val fs = writeBucketed(spark, bigRel, s"$base/line", 0L to 3L, Nil)
          val pathOf: Map[Long, String] = fs.map(f => (f.g, f.path)).toMap
          // ONE stats job: per-(file, key) exact counts → the 4 hash
          // rows' cells, all map-side-combined aggregation
          val cells = bigRel
            .groupBy(col("g"), col("k")).agg(count(lit(1)).as("c"))
            .select(col("g"), col("c"), explode(array((0 until TableLog.CmsDepth).map(i =>
              struct(lit(i.toLong).as("i"), cellJ(i, col("k")).as("j"))): _*)).as("ij"))
            .groupBy(col("g"), col("ij.i").as("i"), col("ij.j").as("j"))
            .agg(sum(col("c")).as("cnt"))
            .collect() // ≤ 4 files · 4·64 cells — stats metadata
            .map(r => (pathOf(r.getLong(0)), "k", r.getLong(1), r.getLong(2), r.getLong(3)))
            .toSeq
          (fs.map(_.entry), cells)
        })

      val dbFile = s"$tmp/log.duckdb"
      TableLog.init(dbFile)
      TableLog.recordColCms(dbFile, cmsRows)
      require(TableLog.commit(dbFile, 0L, 1L, files), "q220 snapshot commit rejected")

      val paths = files.map(_._1)
      val man = TableLog.manifest(dbFile, 1L).toMap
      val nRows = files.map(f => man(f._1)).sum
      // plan time: the merged sketch — metadata only
      val sketch = TableLog.colCmsMerged(dbFile, paths, "k")
      val nStatRows = sketch.size.toLong // merged cells = distinct (i, j) recorded
      def estimate(key: Long): Long =
        (0 until TableLog.CmsDepth).map { i =>
          sketch.getOrElse(
            (i.toLong, Hashing.h60Local(s"$i:$key") % TableLog.CmsWidth), 0L)
        }.min
      // the audit layer: exact probe counts from one scan
      val exact: Map[Long, Long] = bigRel
        .filter(col("k").isin(probes.map(_._2): _*))
        .groupBy("k").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val hotEst = estimate(1L)
      // q218's decision recomputed FROM the sketch (ndv-free form uses
      // the same ratio with col_ndv; here the hot count alone already
      // clears mean·8 = n·8/width-bound keys — keep the exact q218 form
      // with ndv from a direct register census for the tie-back)
      val ndv = graft.ops.Hll.estimateInt(
        graft.ops.Hll.registerCensus(bigRel, col("k").cast("string")))
      val skewCms = (BigInt(hotEst) * 100 * BigInt(ndv) / BigInt(nRows)).toLong
      probes.map { case (name, key) =>
        val est = estimate(key)
        val tru = exact.getOrElse(key, 0L)
        (name, key, tru, est,
          (BigInt(est - tru) * 10000 / BigInt(math.max(tru, 1L))).toLong,
          est >= tru, nRows, nStatRows, skewCms, skewCms >= 800L, true)
      }
        .toDF("probe", "key", "true_cnt", "cms_est", "over_bp", "ge_ok",
          "n_rows", "n_stat_rows", "skew_cms_x100", "salted_cms", "live_log")
        .orderBy("probe")
    }
  }

  /** q222's memoized staging per source dir: (orders files, customer
    * files, lineitem files, col_ndv rows, col_topk rows) — the
    * write-once stats cost (the q212Staged discipline).
    */
  private val q222Staged = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Seq[(String, Long)], Seq[(String, Long)], Seq[(String, Long)],
      Seq[(String, String, Long, Long)], Seq[(String, String, Long, Long)],
      Seq[(String, String, Long, Long, Long)])]()

  /** q222 — THE STRATEGY DECISION FROM THE PERSISTED TABLES, END TO
    * END: q221 proves the decision tree with direct censuses standing
    * in for the stats; this entry removes the stand-in — the ENTIRE
    * decision path reads manifest row counts, col_ndv register rows,
    * and col_topk frequency rows out of the committed log, and the
    * audited joins execute over the manifest's own staged files. Zero
    * dataframe aggregation happens before a strategy is chosen — the
    * 100 TB property stated by q212/q218 now holds for the composed
    * decision itself. Lifecycle:
    *
    *   - orders staged as 4 bucket files carrying THREE join-key
    *     columns (k_cust; k_ord; k_skew — status-'F' orders resolve to
    *     sentinel order 1), customer and lineitem as 2 files each; ONE
    *     partitionBy write + ONE stats job per relation records every
    *     key column's top-8 rows AND register cells, with manifest
    *     counts derived from the same per-key aggregation;
    *   - per edge, the decision reads METADATA ONLY: n_probe/n_build
    *     from the manifest, build_bytes vs the div-4 budget (q216's
    *     proven size model), and — when the build side is too big —
    *     the skew ratio from merged col_topk top-1 and merged col_ndv
    *     registers (q218's ≥ 800 rule): e1 → broadcast, e2 → shuffle,
    *     e3 → salted, at every SF by table-ratio construction;
    *   - the chosen joins execute over the staged files and are
    *     audited structurally (the q221 expected shapes), with
    *     censuses and every decision input in-hash, plus
    *     n_ndv_rows_read — the actual metadata row count the decision
    *     consumed.
    *
    * Scale shape: the decision is O(stat rows) metadata reads; the
    * stats were paid once at write time; only the AUDIT layer (the
    * three streamed join censuses) touches data.
    */
  def persistedStrategyDecision(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{BucketedJoin, Hashing, Hll, Salting}
    import org.apache.spark.sql.expressions.Window

    def ordersRel = Tables.orders(spark, dir).select(
      col("o_custkey").cast("long").as("k_cust"),
      col("o_orderkey").cast("long").as("k_ord"),
      when(col("o_orderstatus") === "F", lit(1L))
        .otherwise(col("o_orderkey").cast("long")).as("k_skew"),
      col("o_orderkey").cast("long").as("rid"))
    def custRel = Tables.customer(spark, dir)
      .select(col("c_custkey").cast("long").as("ck"))
    def lineRel = Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey").cast("long").as("lk"),
        // the q226 build-side sentinel: every returned line resolves to
        // order 1 — the hot BUILD key the fourth branch routes on
        when(col("l_returnflag") === "R", lit(1L))
          .otherwise(col("l_orderkey").cast("long")).as("lk_skew"))

    withTempTableDir("graft_q222_") { tmp =>
      val (fO, fC, fL, regRows, topkRows, cmsRows) = q222Staged.computeIfAbsent(
        dir,
        _ => {
          val base = graft.ops.Scratch.scratchDir("graft_q222_tbl_").toString

          /** ONE partitionBy write + ONE stats job: per-(file, column,
            * key) counts feed top-8 rows, register cells, count-min
            * cells, and the manifest counts.
            */
          def stage(
              df: DataFrame,
              gCol: org.apache.spark.sql.Column,
              nB: Int,
              keyCols: Seq[(String, org.apache.spark.sql.Column)],
              out: String): (Seq[(String, Long)],
                Seq[(String, String, Long, Long)],
                Seq[(String, String, Long, Long)],
                Seq[(String, String, Long, Long, Long)]) = {
            df.withColumn("g", gCol).repartition(col("g"))
              .write.partitionBy("g").parquet(out)
            val bucketRe = "/g=(\\d+)/".r
            val byG: Map[Long, String] = new java.io.File(out)
              .listFiles().filter(_.getName.startsWith("g="))
              .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
              .map(f =>
                (bucketRe.findFirstMatchIn(f.getAbsolutePath).get.group(1).toLong,
                  f.getAbsolutePath))
              .toMap
            require(byG.size == nB, s"expected $nB one-file buckets under $out")
            val perKey = df.withColumn("g", gCol)
              .select(col("g"), explode(array(keyCols.map { case (n, c) =>
                struct(lit(n).as("c"), c.cast("long").as("v"))
              }: _*)).as("kv"))
              .groupBy(col("g"), col("kv.c").as("cn"), col("kv.v").as("k"))
              .agg(count(lit(1)).as("c"))
            val topk = perKey
              .withColumn("rn", row_number().over(
                Window.partitionBy("g", "cn").orderBy(col("c").desc, col("k"))))
              .filter(col("rn") <= 8)
              .collect() // ≤ nB·n_cols·8 stat rows — metadata
              .map(r => (byG(r.getLong(0)), r.getString(1), r.getLong(2), r.getLong(3)))
              .toSeq
            val cells = perKey
              .select(col("g"), col("cn"),
                Hashing.h60(col("k").cast("string")).as("h"), col("c"))
              .select(col("g"), col("cn"), Hll.bucketCol.as("bucket"),
                Hll.rankCol.as("rk"), col("c"))
              .groupBy("g", "cn", "bucket")
              .agg(max("rk").as("mr"), sum("c").as("cnt"))
              .collect() // ≤ nB·n_cols·64 sketch cells — metadata
              .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                r.getLong(3), r.getLong(4)))
            // count-min cells from the SAME per-key agg — the family
            // the fourth branch's broadcast-size check consumes
            val cms = perKey
              .select(col("g"), col("cn"), col("c"),
                explode(array((0 until TableLog.CmsDepth).map(i =>
                  struct(lit(i.toLong).as("i"),
                    pmod(Hashing.h60(concat(lit(s"$i:"), col("k").cast("string"))),
                      lit(TableLog.CmsWidth)).as("j"))): _*)).as("ij"))
              .groupBy(col("g"), col("cn"), col("ij.i").as("i"), col("ij.j").as("j"))
              .agg(sum(col("c")).as("cnt"))
              .collect() // ≤ nB·n_cols·256 sketch cells — metadata
              .map(r => (byG(r.getLong(0)), r.getString(1), r.getLong(2),
                r.getLong(3), r.getLong(4)))
              .toSeq
            val c0 = keyCols.head._1
            val files = byG.toSeq.sortBy(_._1).map { case (g, p) =>
              (p, cells.collect { case (gg, cn, _, _, n) if gg == g && cn == c0 => n }.sum)
            }
            (files,
              cells.map { case (g, cn, b, mr, _) => (byG(g), cn, b, mr) }.toSeq,
              topk, cms)
          }

          val (o1, rO, tO, mO) = stage(ordersRel, col("k_ord") % 4, 4,
            Seq(("k_cust", col("k_cust")), ("k_ord", col("k_ord")),
              ("k_skew", col("k_skew"))), s"$base/orders")
          val (c1, rC, tC, mC) = stage(custRel, col("ck") % 2, 2,
            Seq(("ck", col("ck"))), s"$base/cust")
          val (l1, rL, tL, mL) = stage(lineRel, col("lk") % 2, 2,
            Seq(("lk", col("lk")), ("lk_skew", col("lk_skew"))), s"$base/line")
          (o1, c1, l1, rO ++ rC ++ rL, tO ++ tC ++ tL, mO ++ mC ++ mL)
        })

      val dbFile = s"$tmp/log.duckdb"
      TableLog.init(dbFile)
      TableLog.recordColNdv(dbFile, regRows)
      TableLog.recordColTopk(dbFile, topkRows)
      TableLog.recordColCms(dbFile, cmsRows)
      require(TableLog.commit(dbFile, 0L, 1L, fO ++ fC ++ fL), "q222 snapshot commit rejected")

      val man = TableLog.manifest(dbFile, 1L).toMap
      def nRows(files: Seq[(String, Long)]): Long = files.map(f => man(f._1)).sum
      val (pO, pC, pL) = (fO.map(_._1), fC.map(_._1), fL.map(_._1))

      locally {
        // Each edge runs in its OWN sub-session (shared SparkContext,
        // isolated SQL conf): the per-edge broadcast-threshold
        // enforcement and the AQE-off plan pin stop being a shared
        // mutable session conf, so the four independent
        // decision+execution edges can OVERLAP (guide §2.6, r21) —
        // previously they ran end-to-end on one session. Plans are
        // unchanged: same files, same conf values, per session.
        def edgeRow(edge: String, probeKey: String,
            buildPaths: Seq[String], buildKey: String,
            buildFiles: Seq[(String, Long)]) = {
          val se = spark.newSession()
          se.conf.set("spark.sql.session.timeZone", "UTC")
          se.conf.set("spark.sql.adaptive.enabled", "false")
          val ordersDf = Tables.parquet(se, pO: _*)
          val build = Tables.parquet(se, buildPaths: _*)
          // ---- the DECISION: log metadata only, no data touched ----
          val (nP, nB) = (nRows(fO), nRows(buildFiles))
          val (budget, buildBytes) = (nP * 8L / 4L, nB * 8L)
          val ndvRowsRead = TableLog.statRowCount(dbFile, "col_ndv", pO, probeKey)
          val (t1k, t1c) = TableLog.colTopkMergedTop1(dbFile, pO, probeKey)
          val ndv = Hll.estimateInt(TableLog.colNdvRegistersFresh(dbFile, pO, probeKey))
          val skew = (BigInt(t1c) * 100 * BigInt(ndv) / BigInt(nP)).toLong
          // fourth branch inputs (q226's split, now IN the tree): hot
          // BUILD keys from the build side's merged col_topk + col_ndv,
          // the probe's hot slice bounded by its col_cms point
          // estimates — all committed-log metadata
          val bNdv = Hll.estimateInt(TableLog.colNdvRegistersFresh(dbFile, buildPaths, buildKey))
          val (_, bt1c) = TableLog.colTopkMergedTop1(dbFile, buildPaths, buildKey)
          val bSkew = (BigInt(bt1c) * 100 * BigInt(bNdv) / BigInt(nB)).toLong
          val hot = TableLog.colTopkMerged(dbFile, buildPaths, buildKey)
            .filter { case (_, c) => BigInt(c) * 100 * BigInt(bNdv) / BigInt(nB) >= 800 }
            .map(_._1).sorted
          val hotEst =
            if (hot.isEmpty) 0L
            else {
              val cmsP = TableLog.colCmsMerged(dbFile, pO, probeKey)
              hot.map(TableLog.cmsPointMin(cmsP, _)).sum
            }
          val strategy =
            if (buildBytes <= budget) "broadcast"
            else if (skew >= 800L) "salted"
            else if (hot.nonEmpty && hotEst * 8L <= nP * 8L / 2L) "split"
            else "shuffle"
          // ---- execution over the MANIFEST'S OWN files ----
          // Enforcement threshold from the build side's MEASURED staged
          // bytes, not the model's abstract units — Spark compares the
          // threshold against on-disk file statistics, and projection
          // only ever scales its estimate down from file bytes, so
          // 4·bytes + 1 always clears it regardless of codec or SF.
          se.conf.set(
            "spark.sql.autoBroadcastJoinThreshold",
            if (strategy == "broadcast")
              (buildPaths.map(p => new java.io.File(p).length()).sum * 4L + 1L).toString
            else "-1")
          val j = strategy match {
            case "salted" =>
              Salting.saltedJoinWith(ordersDf, build,
                col(probeKey), col(buildKey),
                pmod(Hashing.h60(col("rid").cast("string")), lit(8)).cast("int"), 8)
            case "split" =>
              // broadcast the PROBE side's hot-key slice (tiny — the
              // key is hot in the BUILD relation), shuffle the rest
              val jHot = build.filter(col(buildKey).isin(hot: _*))
                .join(broadcast(ordersDf.filter(col(probeKey).isin(hot: _*))),
                  col(probeKey) === col(buildKey))
                .select(col(probeKey))
              val jRest = ordersDf.filter(!col(probeKey).isin(hot: _*))
                .join(build.filter(!col(buildKey).isin(hot: _*)),
                  col(probeKey) === col(buildKey))
                .select(col(probeKey))
              jHot.unionByName(jRest)
            case _ => ordersDf.join(build, col(probeKey) === col(buildKey))
          }
          val (bhj, sh, gen) = (BucketedJoin.countBroadcastHashJoins(j),
            BucketedJoin.countShuffles(j), BucketedJoin.countGenerates(j))
          val r = j.agg(count(lit(1)), sum(col(probeKey))).head()
          val expected = strategy match {
            case "broadcast" => (1L, 0L, 0L)
            case "shuffle" => (0L, 2L, 0L)
            case "salted" => (0L, 2L, 1L)
            case "split" => (1L, 2L, 0L)
          }
          (edge, strategy, nP, nB, budget, buildBytes, ndv, t1k, t1c, skew,
            bSkew, hotEst, ndvRowsRead, r.getLong(0), r.getLong(1), bhj, sh, gen,
            (bhj, sh, gen) == expected, true)
        }
        graft.ops.Par.run(Seq(
          () => edgeRow("e1_dim", "k_cust", pC, "ck", fC),
          () => edgeRow("e2_flat", "k_ord", pL, "lk", fL),
          () => edgeRow("e3_skew", "k_skew", pL, "lk", fL),
          () => edgeRow("e4_build_skew", "k_ord", pL, "lk_skew", fL)))
          .toDF("edge", "strategy", "n_probe", "n_build", "budget_bytes",
            "build_bytes", "ndv_probe", "top1_key", "top1_cnt", "skew_x100",
            "build_skew_x100", "hot_probe_est",
            "n_ndv_rows_read", "n_join", "sum_k", "bhj", "shuffles",
            "generates", "plan_ok", "live_log")
          .orderBy("edge")
      }
    }
  }

  /** q225's memoized staging per source dir: (probe files, build files,
    * col_ndv register rows incl. the composite "a|b" families) — the
    * write-once stats cost (the q212Staged discipline).
    */
  private val q225Staged = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Seq[(String, Long)], Seq[(String, Long)],
      Seq[(String, String, Long, Long)])]()

  /** q225 — COMPOSITE-KEY PAIR STATS, PERSISTED AND ROUTED (closing
    * q224's loop): q224 measures that a pair register sketch beats the
    * independence product on correlated keys, but computes the pair
    * registers ad hoc; here they are RECORDED as col_ndv rows under
    * the composite name ("k_cust|k_seg" — one more row family, same
    * table) at write time, and a TWO-COLUMN join edge is routed
    * through the persisted decision tree with the capped product as
    * the declared fallback when the family is absent. Lifecycle:
    *
    *   - orders staged as 4 bucket files carrying the correlated pair
    *     (k_cust = o_custkey, k_seg = o_custkey % 10 — the
    *     denormalized segment-of-key shape every star schema has);
    *     customer as 2 files with the matching build pair; ONE
    *     partitionBy write + ONE stats job per relation records the
    *     single-column AND composite register rows, with manifest
    *     counts from the same per-key aggregation;
    *   - TWO committed logs over the SAME staged files: log A carries
    *     the composite families, log B does not (yesterday's table) —
    *     the guarded reader (pairNdvOrProduct) consults the "a|b" rows
    *     and genuinely falls back to min(ndv_a·ndv_b, n) when none
    *     exist, so both routing regimes execute;
    *   - the routed decision, metadata only: est|J| = n_P·n_B /
    *     max(pair_P, pair_B) for the two-column join J; J is then the
    *     BUILD side of a second join against orders, broadcastable iff
    *     est·8 ≤ n_P·8/2. The pair edge estimates |J| ≈ n_P → SHUFFLE
    *     (correct — J is fact-sized, broadcasting it is the plan that
    *     dies at 100×); the product edge under-estimates ~5–7×
    *     (correlation collapses the true pair NDV to ndv(k_cust), the
    *     product sees ndv·10) → BROADCAST — the classic correlated-key
    *     planner miss, executed and recorded honestly;
    *   - the audit, in-hash: pair_rows_probe/build (>0 iff log A — the
    *     metadata actually consumed), est vs the exact |J| census
    *     (signed err_bp: the pair path within HLL noise, the product
    *     path thousands of bp under), both executed second-join plan
    *     shapes (bhj pinned by plan_ok, shuffle count surfaced), and
    *     the two paths' second-join censuses (identical — routing
    *     never changes results).
    *
    * Scale shape: the decision is O(stat rows) metadata reads — the
    * composite family rides col_ndv like any column and was paid once
    * at write time; only the audit layer (one exact |J| census + one
    * second-join census per edge) touches data.
    */
  def pairStatRoutedDecision(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{BucketedJoin, Hashing, Hll}

    def probeRel = Tables.orders(spark, dir).select(
      col("o_custkey").cast("long").as("k_cust"),
      (col("o_custkey") % 10).cast("long").as("k_seg"),
      col("o_orderkey").cast("long").as("rid"))
    def buildRel = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("bk_cust"),
      (col("c_custkey") % 10).cast("long").as("bk_seg"))

    withTempTableDir("graft_q225_") { tmp =>
      val (fP, fB, regRows) = q225Staged.computeIfAbsent(
        dir,
        _ => {
          val base = graft.ops.Scratch.scratchDir("graft_q225_tbl_").toString

          /** ONE partitionBy write + ONE stats job (the q222 stage
            * discipline): per-(file, column, key-string) counts feed
            * the register cells and the manifest counts.
            */
          def stage(
              df: DataFrame,
              gCol: org.apache.spark.sql.Column,
              nBkts: Int,
              keyCols: Seq[(String, org.apache.spark.sql.Column)],
              out: String): (Seq[(String, Long)],
                Seq[(String, String, Long, Long)]) = {
            df.withColumn("g", gCol).repartition(col("g"))
              .write.partitionBy("g").parquet(out)
            val bucketRe = "/g=(\\d+)/".r
            val byG: Map[Long, String] = new java.io.File(out)
              .listFiles().filter(_.getName.startsWith("g="))
              .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
              .map(f =>
                (bucketRe.findFirstMatchIn(f.getAbsolutePath).get.group(1).toLong,
                  f.getAbsolutePath))
              .toMap
            require(byG.size == nBkts, s"expected $nBkts one-file buckets under $out")
            val perKey = df.withColumn("g", gCol)
              .select(col("g"), explode(array(keyCols.map { case (n, c) =>
                struct(lit(n).as("c"), c.cast("string").as("v"))
              }: _*)).as("kv"))
              .groupBy(col("g"), col("kv.c").as("cn"), col("kv.v").as("k"))
              .agg(count(lit(1)).as("c"))
            val cells = perKey
              .select(col("g"), col("cn"), Hashing.h60(col("k")).as("h"), col("c"))
              .select(col("g"), col("cn"), Hll.bucketCol.as("bucket"),
                Hll.rankCol.as("rk"), col("c"))
              .groupBy("g", "cn", "bucket")
              .agg(max("rk").as("mr"), sum("c").as("cnt"))
              .collect() // ≤ nBkts·n_cols·64 sketch cells — metadata
              .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                r.getLong(3), r.getLong(4)))
            val c0 = keyCols.head._1
            val files = byG.toSeq.sortBy(_._1).map { case (g, p) =>
              (p, cells.collect { case (gg, cn, _, _, n) if gg == g && cn == c0 => n }.sum)
            }
            (files, cells.map { case (g, cn, b, mr, _) => (byG(g), cn, b, mr) }.toSeq)
          }

          val (p1, rP) = stage(probeRel, col("rid") % 4, 4,
            Seq(
              ("k_cust", col("k_cust")),
              ("k_seg", col("k_seg")),
              ("k_cust|k_seg", concat(col("k_cust").cast("string"),
                lit("|"), col("k_seg").cast("string")))),
            s"$base/probe")
          val (b1, rB) = stage(buildRel, col("bk_cust") % 2, 2,
            Seq(
              ("bk_cust", col("bk_cust")),
              ("bk_seg", col("bk_seg")),
              ("bk_cust|bk_seg", concat(col("bk_cust").cast("string"),
                lit("|"), col("bk_seg").cast("string")))),
            s"$base/build")
          (p1, b1, rP ++ rB)
        })

      // TWO logs over the same staged files: A carries the composite
      // families, B is yesterday's table (singles only) — the fallback
      // regime is committed state, not a simulation
      val dbA = s"$tmp/logA.duckdb"
      val dbB = s"$tmp/logB.duckdb"
      Seq(dbA, dbB).foreach(TableLog.init)
      TableLog.recordColNdv(dbA, regRows)
      TableLog.recordColNdv(dbB, regRows.filterNot(_._2.contains("|")))
      require(TableLog.commit(dbA, 0L, 1L, fP ++ fB), "q225 log A commit rejected")
      require(TableLog.commit(dbB, 0L, 1L, fP ++ fB), "q225 log B commit rejected")

      val (pP, pB) = (fP.map(_._1), fB.map(_._1))
      val probeDf = Tables.parquet(spark, pP: _*)
      val buildDf = Tables.parquet(spark, pB: _*)
      val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        // the two-column join J — executed ONCE as the exact audit both
        // edges compare their estimates against
        def jDf = probeDf.join(
          buildDf,
          col("k_cust") === col("bk_cust") && col("k_seg") === col("bk_seg"))
        val exactJ = jDf.agg(count(lit(1))).head().getLong(0)

        def edgeRow(edge: String, dbFile: String) = {
          // ---- the DECISION: log metadata only, no data touched ----
          val man = TableLog.manifest(dbFile, 1L).toMap
          val nP = fP.map(f => man(f._1)).sum
          val nB = fB.map(f => man(f._1)).sum
          val ndvCust = Hll.estimateInt(TableLog.colNdvRegisters(dbFile, pP, "k_cust"))
          val ndvSeg = Hll.estimateInt(TableLog.colNdvRegisters(dbFile, pP, "k_seg"))
          val (pairP, rowsP) = TableLog.pairNdvOrProduct(
            dbFile, pP, "k_cust|k_seg", "k_cust", "k_seg", nP)
          val (pairB, rowsB) = TableLog.pairNdvOrProduct(
            dbFile, pB, "bk_cust|bk_seg", "bk_cust", "bk_seg", nB)
          val used = if (rowsP > 0L) "pair" else "product"
          val estJ = (BigInt(nP) * BigInt(nB) /
            BigInt(math.max(math.max(pairP, pairB), 1L))).toLong
          val (estBytes, budget) = (estJ * 8L, nP * 8L / 2L)
          val decision = if (estBytes <= budget) "broadcast" else "shuffle"
          // ---- execution: the second join J is the build side of ----
          val probe2 = probeDf.select(col("k_cust").as("p2k"), col("rid"))
          val j2 =
            if (decision == "broadcast")
              probe2.join(broadcast(jDf), col("p2k") === col("k_cust"))
            else probe2.join(jDf, col("p2k") === col("k_cust"))
          val (bhj, sh) = (BucketedJoin.countBroadcastHashJoins(j2),
            BucketedJoin.countShuffles(j2))
          val r2 = j2.agg(count(lit(1)), sum(col("p2k"))).head()
          val errBp = (BigInt(estJ - exactJ) * 10000 / BigInt(exactJ)).toLong
          (edge, used, rowsP, rowsB, nP, nB, ndvCust, ndvSeg, pairP, pairB,
            estJ, exactJ, errBp, budget, estBytes, decision,
            r2.getLong(0), r2.getLong(1), bhj, sh,
            bhj == (if (decision == "broadcast") 1L else 0L), true)
        }
        Seq(
          edgeRow("e1_pair_stats", dbA),
          edgeRow("e2_no_pair_stats", dbB))
          .toDF("edge", "used", "pair_rows_probe", "pair_rows_build",
            "n_probe", "n_build", "ndv_cust", "ndv_seg", "pair_ndv_probe",
            "pair_ndv_build", "est_join", "exact_join", "err_bp",
            "budget_bytes", "est_bytes", "decision", "n_second",
            "sum_second", "bhj", "shuffles", "plan_ok", "live_log")
          .orderBy("edge")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }
  }

  // ------------------------------------------------------------------
  // q226 + s76 — build-side skew split join, decision history across commits
  // ------------------------------------------------------------------

  /** q226's memoized staging per source dir: (build files, probe files,
    * col_topk rows, col_ndv rows, col_cms rows) — the write-once stats
    * cost (the q212Staged discipline).
    */
  private val q226Staged = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Seq[(String, Long)], Seq[(String, Long)],
      Seq[(String, String, Long, Long)], Seq[(String, String, Long, Long)],
      Seq[(String, String, Long, Long, Long)])]()

  /** q226 — BUILD-SIDE SKEW: THE BROADCAST-HOT-KEYS SPLIT JOIN.
    * `ops/Salting.scala` (q218/q221/q223) handles PROBE-side skew by
    * replicating the build side across salts; a heavy hitter on the
    * BUILD side wants the other half of the playbook — split the join,
    * broadcast the PROBE side's hot-key slice (tiny: the hot key is
    * hot in the build relation, not the probe), and shuffle the
    * remainder. Two stat families drive the decision, both persisted:
    *
    *   - WHICH keys are hot: merged col_topk + col_ndv + manifest
    *     counts of the BUILD side (q218's skew ratio per key,
    *     cnt·100·ndv/n ≥ 800);
    *   - IS the probe slice broadcastable: col_cms point estimates of
    *     the hot keys on the PROBE side (q220's one-sided f̂ ≥ f —
    *     a conservative upper bound is exactly what a broadcast-size
    *     check wants), est_bytes = Σ f̂·8 ≤ the probe-div-2 budget;
    *
    * Lifecycle: lineitem staged as 4 bucket files with bk_skew (the
    * q218 sentinel pattern — every returned line resolves to key 1,
    * ~25% of build rows) and bk_flat (l_orderkey, ~4 per key) beside
    * orders as 2 files carrying k = o_orderkey with col_cms rows; ONE
    * commit; then per edge the decision reads ONLY stat tables +
    * manifest counts and routes: e1 bk_skew → SPLIT (executed with
    * broadcast+AQE off: exactly 1 BroadcastHashJoin on the hot slice +
    * 1 SortMergeJoin on the remainder, both pinned), e2 bk_flat →
    * plain shuffle SMJ (0 BHJ / 1 SMJ). In-hash: both routings, the
    * split census ≡ plain census (splitting never changes results),
    * the decision inputs (top1/skew/hot-key count/CMS probe estimate/
    * budget), and both executed plan shapes.
    *
    * Scale shape: the decision is O(stat rows) metadata; the hot slice
    * the split broadcasts is the PROBE side's hot keys only (bounded
    * by the CMS check before any data moves), and the remainder SMJ
    * sees per-key groups with the straggler removed — the shape that
    * survives a 1000-executor shuffle where the plain join stalls on
    * one task holding 25% of the build.
    */
  def buildSkewSplitJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{BucketedJoin, Hashing, Hll}
    import org.apache.spark.sql.expressions.Window

    def buildRel = Tables
      .lineitem(spark, dir)
      .select(
        (col("l_orderkey") % 4).cast("long").as("g"),
        when(col("l_returnflag") === "R", lit(1L))
          .otherwise(col("l_orderkey").cast("long")).as("bk_skew"),
        col("l_orderkey").cast("long").as("bk_flat"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
    def probeRel = Tables
      .orders(spark, dir)
      .select(
        (col("o_custkey") % 2).cast("long").as("g"),
        col("o_orderkey").cast("long").as("k"))

    withTempTableDir("graft_q226_") { tmp =>
      val (fB, fP, topkRows, regRows, cmsRows) = q226Staged.computeIfAbsent(
        dir,
        _ => {
          val base = graft.ops.Scratch.scratchDir("graft_q226_tbl_").toString
          val bucketRe = "/g=(\\d+)/".r
          def listByG(out: String, n: Int): Map[Long, String] = {
            val byG = new java.io.File(out)
              .listFiles().filter(_.getName.startsWith("g="))
              .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
              .map(f =>
                (bucketRe.findFirstMatchIn(f.getAbsolutePath).get.group(1).toLong,
                  f.getAbsolutePath))
              .toMap
            require(byG.size == n, s"expected $n one-file buckets under $out")
            byG
          }
          // build side: one write + ONE stats scan for both key columns
          // (per-(file, column, key) counts → top-8 rows + register
          // cells + manifest counts — the q218 staging shape)
          val outB = s"$base/line"
          buildRel.repartition(col("g")).write.partitionBy("g").parquet(outB)
          val byGB = listByG(outB, 4)
          val perKeyB = buildRel
            .select(col("g"), explode(array(
              struct(lit("bk_skew").as("c"), col("bk_skew").as("v")),
              struct(lit("bk_flat").as("c"), col("bk_flat").as("v")))).as("kv"))
            .groupBy(col("g"), col("kv.c").as("cn"), col("kv.v").as("k"))
            .agg(count(lit(1)).as("c"))
          val topk = perKeyB
            .withColumn("rn", row_number().over(
              Window.partitionBy("g", "cn").orderBy(col("c").desc, col("k"))))
            .filter(col("rn") <= 8)
            .collect() // ≤ 4·2·8 stat rows — metadata
            .map(r => (byGB(r.getLong(0)), r.getString(1), r.getLong(2), r.getLong(3)))
            .toSeq
          val cellsB = perKeyB
            .select(col("g"), col("cn"),
              Hashing.h60(col("k").cast("string")).as("h"), col("c"))
            .select(col("g"), col("cn"), Hll.bucketCol.as("bucket"),
              Hll.rankCol.as("rk"), col("c"))
            .groupBy("g", "cn", "bucket")
            .agg(max("rk").as("mr"), sum("c").as("cnt"))
            .collect() // ≤ 4·2·64 sketch cells — metadata
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getLong(3), r.getLong(4)))
          val filesB = byGB.toSeq.sortBy(_._1).map { case (g, p) =>
            (p, cellsB.collect {
              case (gg, cn, _, _, n) if gg == g && cn == "bk_skew" => n
            }.sum)
          }
          // probe side: one write + ONE stats scan → col_cms cells for
          // k (the family the split's broadcast-size check consumes)
          val outP = s"$base/ord"
          probeRel.repartition(col("g")).write.partitionBy("g").parquet(outP)
          val byGP = listByG(outP, 2)
          val perKeyP = probeRel.groupBy(col("g"), col("k"))
            .agg(count(lit(1)).as("c"))
          val cmsP = perKeyP
            .select(col("g"), col("c"), explode(array((0 until TableLog.CmsDepth).map(i =>
              struct(lit(i.toLong).as("i"),
                pmod(Hashing.h60(concat(lit(s"$i:"), col("k").cast("string"))),
                  lit(TableLog.CmsWidth)).as("j"))): _*)).as("ij"))
            .groupBy(col("g"), col("ij.i").as("i"), col("ij.j").as("j"))
            .agg(sum(col("c")).as("cnt"))
            .collect() // ≤ 2·4·64 sketch cells — metadata
            .map(r => (byGP(r.getLong(0)), "k", r.getLong(1), r.getLong(2),
              r.getLong(3)))
            .toSeq
          val countP = perKeyP.groupBy("g").agg(sum("c").as("n"))
            .collect() // one row per file — manifest metadata
            .map(r => (byGP(r.getLong(0)), r.getLong(1))).toMap
          val filesP = byGP.toSeq.sortBy(_._1).map { case (_, p) => (p, countP(p)) }
          (filesB, filesP, topk,
            cellsB.map { case (g, cn, b, mr, _) => (byGB(g), cn, b, mr) }.toSeq,
            cmsP)
        })

      val dbFile = s"$tmp/log.duckdb"
      TableLog.init(dbFile)
      TableLog.recordColNdv(dbFile, regRows)
      TableLog.recordColTopk(dbFile, topkRows)
      TableLog.recordColCms(dbFile, cmsRows)
      require(TableLog.commit(dbFile, 0L, 1L, fB ++ fP), "q226 snapshot commit rejected")

      val (pB, pP) = (fB.map(_._1), fP.map(_._1))
      val man = TableLog.manifest(dbFile, 1L).toMap
      val (nB, nP) = (pB.map(man).sum, pP.map(man).sum)
      val big = Tables.parquet(spark, pB: _*)
      val probe = Tables.parquet(spark, pP: _*)

      val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        // broadcast off + AQE off, scoped-and-restored: the split's one
        // BroadcastHashJoin must come from ITS OWN broadcast() hint,
        // and the audited remainder must BE a shuffle SMJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        def edgeRow(cn: String) = {
          // ---- the decision: stat tables + manifest counts ONLY ----
          val ndvB = Hll.estimateInt(TableLog.colNdvRegisters(dbFile, pB, cn))
          val hot = TableLog.colTopkMerged(dbFile, pB, cn)
            .filter { case (_, c) => BigInt(c) * 100 * BigInt(ndvB) / BigInt(nB) >= 800 }
            .map(_._1).sorted
          val (t1k, t1c) = TableLog.colTopkMergedTop1(dbFile, pB, cn)
          val skewX100 = (BigInt(t1c) * 100 * BigInt(ndvB) / BigInt(nB)).toLong
          val cmsP = TableLog.colCmsMerged(dbFile, pP, "k")
          val hotEst = hot.map(TableLog.cmsPointMin(cmsP, _)).sum
          val (estBytes, budget) = (hotEst * 8L, nP * 8L / 2L)
          val strategy =
            if (hot.isEmpty) "shuffle"
            else if (estBytes <= budget) "split"
            else "salted"
          // ---- execution: the chosen physical shape ----
          def census(j: DataFrame): (Long, Long) = {
            val r = j.agg(count(lit(1)), sum(col("cents"))).head()
            (r.getLong(0), r.getLong(1))
          }
          def plainJ = probe.join(big, col("k") === col(cn))
          def splitJ = {
            val hotSet = hot
            val jHot = big.filter(col(cn).isin(hotSet: _*))
              .join(broadcast(probe.filter(col("k").isin(hotSet: _*))),
                col("k") === col(cn))
              .select(col("k"), col(cn), col("cents"))
            val jRest = probe.filter(!col("k").isin(hotSet: _*))
              .join(big.filter(!col(cn).isin(hotSet: _*)), col("k") === col(cn))
              .select(col("k"), col(cn), col("cents"))
            jHot.unionByName(jRest)
          }
          val chosen = if (strategy == "split") splitJ else plainJ
          val (bhj, smj) = (BucketedJoin.countBroadcastHashJoins(chosen),
            BucketedJoin.countSortMergeJoins(chosen))
          val (nJoin, sumCents) = census(chosen)
          val censusMatch =
            census(if (strategy == "split") plainJ else splitJ) ==
              ((nJoin, sumCents))
          val expected = if (strategy == "split") (1L, 1L) else (0L, 1L)
          (cn, strategy, nP, nB, ndvB, t1k, t1c, skewX100,
            hot.size.toLong, hotEst, estBytes, budget,
            nJoin, sumCents, censusMatch, bhj, smj,
            (bhj, smj) == expected, true)
        }
        Seq(edgeRow("bk_skew"), edgeRow("bk_flat"))
          .toDF("edge", "strategy", "n_probe", "n_build", "ndv_b",
            "top1_key", "top1_cnt", "skew_x100", "n_hot_keys",
            "hot_probe_est", "est_bytes", "budget_bytes",
            "n_join", "sum_cents", "census_match", "bhj", "smj",
            "plan_ok", "live_log")
          .orderBy("edge")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }
  }

  /** s76 — DECISION HISTORY ACROSS COMMITS: every planner entry
    * (q212–q226) audits its decision WITHIN one run; if the statistics
    * drift between commits, a decision silently flips and nothing
    * records that it used to go the other way. This lifecycle persists
    * each decision as a `decision_log` row — (snapshot, edge, inputs
    * read, strategy chosen, audit verdict) — and surfaces the flip
    * FROM THE PERSISTED ROWS alone:
    *
    *   - snapshot 1: orders staged as 4 bucket files keyed by
    *     k = o_orderkey (uniform — every key count 1), stats recorded
    *     (col_topk + col_ndv), the fact⋈dim edge decided from merged
    *     stats (skew ≈ 100 < 800 → plain shuffle join), EXECUTED and
    *     audited (0 Generate, census vs the salted variant), and the
    *     decision row inserted;
    *   - snapshot 2: a skew delta file APPENDED (every status-'F'
    *     order re-keyed to the sentinel 1 — the unknown-member burst
    *     that turns a uniform key hot), with its own stat rows; the
    *     SAME edge re-decided from the now-merged stats (the sentinel's
    *     count · 100 · ndv / n ≥ 800 → salted), executed, audited
    *     (exactly 1 Generate), recorded;
    *   - the output replays the edge's history from `decision_log` —
    *     both rows' inputs/strategy/audit verdict in-hash, plus
    *     flipped_from_prev (FALSE, TRUE): the drift made observable
    *     across commits, which no single-entry audit can see.
    *
    * Scale shape: decision rows are O(edges · commits) metadata; the
    * inputs they record are the same ≤(8+64)·n_files stat rows the
    * decisions already read; the joins execute once per snapshot as
    * this entry's audit layer.
    */
  def decisionHistory(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{BucketedJoin, Hashing, Hll, Salting}
    import org.apache.spark.sql.expressions.Window

    val base = Tables
      .orders(spark, dir)
      .select(
        (col("o_orderkey") % 4).cast("long").as("g"),
        col("o_orderkey").cast("long").as("k"),
        col("o_orderkey").cast("long").as("rid"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    def delta = Tables
      .orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(
        lit(1L).as("k"),
        (col("o_orderkey") + 10000000L).cast("long").as("rid"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val saltCol = pmod(Hashing.h60(col("rid").cast("string")), lit(8)).cast("int")

    withTempTableDir("graft_s76_") { tmp =>
      val dbFile = s"$tmp/log.duckdb"
      TableLog.init(dbFile)

      /** Stats job of one staged frame (per-key counts → top-8 rows +
        * register cells per file) — the q218 shape.
        */
      def statsFor(df: DataFrame, byG: Map[Long, String]): Unit = {
        // the per-(file, key) aggregation is computed ONCE and shared by
        // both stat families (previously re-aggregated per family)
        val perKey = df.groupBy(col("g"), col("k"))
          .agg(count(lit(1)).as("c")).persist()
        try {
          val topk = perKey
            .withColumn("rn", row_number().over(
              Window.partitionBy("g").orderBy(col("c").desc, col("k"))))
            .filter(col("rn") <= 8)
            .collect() // ≤ n_files·8 stat rows — metadata
            .map(r => (byG(r.getLong(0)), "k", r.getLong(1), r.getLong(2)))
            .toSeq
          val cells = perKey
            .select(col("g"), Hashing.h60(col("k").cast("string")).as("h"))
            .select(col("g"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
            .groupBy("g", "bucket").agg(max("rk").as("mr"))
            .collect() // ≤ n_files·64 sketch cells — metadata
            .map(r => (byG(r.getLong(0)), "k", r.getLong(1), r.getLong(2)))
            .toSeq
          TableLog.recordColTopk(dbFile, topk)
          TableLog.recordColNdv(dbFile, cells)
        } finally { perKey.unpersist(); () }
      }

      val files1 = writeBucketed(spark, base, s"$tmp/data", 0L to 3L, Nil)
      val byG1: Map[Long, String] = files1.map(f => (f.g, f.path)).toMap
      statsFor(base, byG1)
      val c1 = TableLog.commit(dbFile, 0L, 1L, files1.map(_.entry))

      // the appended skew delta (snapshot 2): one file, own stat rows
      val files2 = writeCounted(spark, delta.select("k", "rid", "cents"),
        s"$tmp/delta", 1)
      statsFor(
        Tables.parquet(spark, files2.map(_._1): _*).withColumn("g", lit(4L)),
        Map(4L -> files2.head._1))
      val c2 = TableLog.commit(
        dbFile, 1L, 2L, files1.map(_.entry) ++ files2)

      // the dim is probed by FOUR join censuses below (plain + salted at
      // two snapshots) — persist it so the distinct is computed once,
      // not once per census (the Generate-count audit is unaffected:
      // the salted explode sits ABOVE the dim subtree either way)
      val dim = base.select(col("k").as("dk")).distinct().persist()
      val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        // the edge stands in for big⋈big: the audited plan must be the
        // shuffle-join family salting remedies (q218's discipline)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        // one decision per snapshot, from the persisted stats only;
        // executed, audited, RECORDED. The two snapshots' decision+audit
        // legs are independent (decisionRows orders by snapshot_id, so
        // insertion order is immaterial), and within each the chosen and
        // foil censuses are independent — all overlapped (guide §2.6,
        // r21); both run under the SAME scoped conf values.
        graft.ops.Par.run(Seq(1L, 2L).map(snap => () => {
          val man = TableLog.manifest(dbFile, snap)
          val paths = man.map(_._1)
          val nRows = man.map(_._2).sum
          val ndv = Hll.estimateInt(TableLog.colNdvRegisters(dbFile, paths, "k"))
          val (t1k, t1c) = TableLog.colTopkMergedTop1(dbFile, paths, "k")
          val skewX100 = (BigInt(t1c) * 100 * BigInt(ndv) / BigInt(nRows)).toLong
          val strategy = if (skewX100 >= 800L) "salted" else "shuffle"
          val fact = Tables.parquet(spark, paths: _*)
          def census(j: DataFrame): (Long, Long) = {
            val r = j.agg(count(lit(1)), sum(col("cents"))).head()
            (r.getLong(0), r.getLong(1))
          }
          val plainJ = fact.join(dim, col("k") === col("dk"))
          val saltJ =
            Salting.saltedJoinWith(fact, dim, col("k"), col("dk"), saltCol, 8)
          val chosen = if (strategy == "salted") saltJ else plainJ
          val gen = BucketedJoin.countGenerates(chosen)
          val (cen, foil) = graft.ops.Par.run2(
            () => census(chosen),
            () => census(if (strategy == "salted") plainJ else saltJ))
          val auditOk =
            foil == cen && gen == (if (strategy == "salted") 1L else 0L)
          TableLog.recordDecision(dbFile, snap, "fact_dim_k", nRows, ndv, t1k, t1c,
            skewX100, strategy, auditOk)
        }))
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        dim.unpersist()
      }

      // the REPLAY: history read back from the persisted rows alone
      val hist = TableLog.decisionRows(dbFile, "fact_dim_k")
      val rows = hist.zipWithIndex.map { case ((snap, n, ndv, t1k, t1c, skew,
          strat, ok), i) =>
        val flipped = i > 0 && hist(i - 1)._7 != strat
        (snap, n, ndv, t1k, t1c, skew, strat, ok,
          hist.size.toLong, flipped, c1 && c2)
      }
      rows.toDF("snapshot_id", "n_rows", "ndv_est", "top1_key", "top1_cnt",
        "skew_x100", "strategy", "audit_ok", "n_log_rows", "flipped_from_prev",
        "live_log")
        .orderBy("snapshot_id")
    }
  }

  /** s71 — STAT STALENESS UNDER DELETES: the delete-side contract the
    * append-only stat story (q212 write-time → s70 streaming
    * maintenance) was missing. HLL registers cannot be decremented, so
    * after an s49-class MOR position delete the affected file's
    * col_ndv rows are an over-count — a planner that keeps merging
    * them sizes every downstream join/agg against keys that no longer
    * exist. Lifecycle:
    *
    *   - snapshot 1: orders bucketed by cust%4 (customers DISJOINT
    *     across files, so a delete genuinely removes distinct keys),
    *     per-file cust registers recorded in col_ndv from one stats
    *     job, committed through the MOR log;
    *   - snapshot 2: position delete of HALF of bucket 2's customers
    *     (every row of cust%20 ∈ [10,20) — all resident in that one
    *     file); the SAME commit marks the referenced file's stat rows
    *     stale in stat_stale (referenced files read from the
    *     delta-sized delete file itself, Iceberg's
    *     referenced-data-file stat — never a table scan);
    *   - the estimator per snapshot: staleIn partitions the scope;
    *     fresh files' registers come from col_ndv through the GUARDED
    *     reader (colNdvRegistersFresh — a stale path in scope fails
    *     loudly, SnapshotLogSpec pins the rejection), the stale scope
    *     is RECOMPUTED by scanning ONLY those files with the masks
    *     applied (morReadV2 onlyFiles — q215's pruned-scope read),
    *     and the two register sets merge;
    *   - the audit, in-hash, per snapshot: est (fresh path) and
    *     naive_est (merging ALL rows incl. stale — the bug this entry
    *     exists to prevent) vs the exact post-delete NDV, both signed
    *     err_bp; n_stale_files and the fresh stat-row count (the
    *     estimate provably read only fresh rows); stale_read_rejected
    *     (the guard fired on the full scope at snapshot 2, not 1); and
    *     regs_match — fresh-merged ∪ recomputed must EQUAL the direct
    *     census over the live rows.
    *
    * Scale shape: staleness is O(affected files) marker rows riding
    * the delete commit; the estimator reads metadata for the fresh
    * scope and scans ONLY the stale files (exactly the files the
    * delete touched — delta-sized); the naive path and exact NDV exist
    * only as this entry's audit layer.
    */
  def staleStatsOnDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{Hashing, Hll}
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_custkey").cast("long").as("cust"))
    val delPred = col("cust") % 4 === 2 && col("cust") % 20 >= 10

    def errBp(est: Long, exact: Long): Long =
      (BigInt(est - exact) * 10000 / BigInt(exact)).toLong

    withTempTableDir("graft_s71_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // snapshot 1: one immutable file per cust%4 bucket + ONE stats
      // job recording each file's cust registers — two independent
      // scans of the same input, overlapped (guide §2.6, r21)
      val (files, rawCells) = graft.ops.Par.run2(
        () => writeBucketed(
          spark, o.withColumn("g", pmod(col("cust"), lit(4L))), s"$base/data", 0L to 3L,
          Nil),
        () => o
          .select(pmod(col("cust"), lit(4L)).as("g"),
            Hashing.h60(col("cust").cast("string")).as("h"))
          .select(col("g"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
          .groupBy("g", "bucket").agg(max("rk").as("mr"))
          .collect() // ≤ 4·64 sketch cells — stats metadata
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
      val pathOf: Map[Long, String] = files.map(f => (f.g, f.path)).toMap
      val cells = rawCells.map { case (g, b, mr) => (pathOf(g), "cust", b, mr) }
      TableLog.recordColNdv(dbFile, cells)
      val dataFiles = files.map(_.entry)
      TableLog.recordSeq(dbFile, dataFiles.map(_._1), 1L)
      val c1 = TableLog.commit(dbFile, 0L, 1L, dataFiles)

      def snapRow(step: Long, snap: Long, ok: Boolean) = {
        val paths = TableLog.manifestSeq(dbFile, snap).map(_._1)
        val stale = TableLog.staleIn(dbFile, paths, "cust") // metadata
        val freshPaths = paths.filterNot(stale.toSet)
        // the guard must reject the FULL scope exactly when stale rows
        // are in it — the pinned failure mode, exercised in-entry too
        val rejected = scala.util.Try(
          TableLog.colNdvRegistersFresh(dbFile, paths, "cust")).isFailure
        val freshRegs = TableLog.colNdvRegistersFresh(dbFile, freshPaths, "cust")
        // the pruned-scope recompute (ONLY the stale files, masked) and
        // the exact audit (ndvAudit's one per-key pass) are independent
        // scans — overlapped (guide §2.6, r21)
        val (recomputed, (nLive, exact, liveRegs)) = graft.ops.Par.run2(
          () =>
            if (stale.isEmpty) Seq.empty[(Long, Long)]
            else Hll.registerCensus(
              TableLog.morReadV2(spark, dbFile, snap, "cust", Some(stale.toSet)),
              col("cust").cast("string")),
          () => ndvAudit(TableLog.morReadV2(spark, dbFile, snap, "cust"), "cust"))
        val merged = Hll.mergeRegisters(freshRegs, recomputed)
        val est = Hll.estimateInt(merged)
        val naive = Hll.estimateInt(TableLog.colNdvRegisters(dbFile, paths, "cust"))
        val regsMatch = merged == liveRegs
        (step, nLive, paths.size.toLong, stale.size.toLong,
          TableLog.statRowCount(dbFile, "col_ndv", freshPaths, "cust"), est, naive, exact,
          errBp(est, exact), errBp(naive, exact), regsMatch,
          rejected == stale.nonEmpty && stale.nonEmpty == (step == 2L),
          ok)
      }
      // step 1 is read BEFORE the delete commit exists — staleness is
      // part of the log's timeline, and snapshot 1's planner never saw
      // the marker. The snapshot-1 reads and the snapshot-2 delete
      // STAGING (pd file write + ref listing — no commit) are
      // independent, so they overlap (guide §2.6, r21); the commit
      // itself stays strictly after both.
      val (row1, (pd1, refs)) = graft.ops.Par.run2(
        () => snapRow(1L, 1L, c1),
        () => {
          // snapshot 2 staging: position delete + its referenced files.
          // PARTITION PRUNING (guide §6): the table is partitioned by
          // g = cust % 4 and delPred requires cust % 4 = 2, so only the
          // g=2 file can hold matching rows — the delete scans that one
          // file instead of the full scope (rows elsewhere can't match).
          val pd = writeCounted(spark, Tables.parquet(spark, pathOf(2L))
            .select(
              col("_metadata.file_path").as("pd_path"),
              col("_metadata.row_index").as("pd_pos"),
              col("cust"))
            .filter(delPred)
            .select("pd_path", "pd_pos"), s"$base/pd1", 1)
          TableLog.recordSeq(dbFile, pd.map(_._1), 2L)
          // referenced data files: read from the delta-sized delete
          // file, BEFORE the commit — the markers ride the commit's
          // transaction
          val rf = Tables.parquet(spark, pd.map(_._1): _*)
            .select(col("pd_path")).distinct()
            .collect() // bounded by the file count — manifest-scale metadata
            .map(r => new java.net.URI(r.getString(0)).getPath)
            .toSeq.sorted
          (pd, rf)
        })
      val c2 = TableLog.commit(dbFile, 1L, 2L, dataFiles, posDeletes = pd1,
        staleMarkers = refs.map((_, "cust")))

      Seq(row1, snapRow(2L, 2L, c1 && c2))
        .toDF("step", "n_live_rows", "n_files", "n_stale_files",
          "n_fresh_stat_rows", "est_ndv", "naive_est_ndv", "exact_ndv",
          "err_bp", "naive_err_bp", "regs_match", "stale_guard_ok", "live_log")
        .orderBy("step")
    }
  }

  /** s73 — COMPACTION HEALS STALE STATS: the stats lifecycle CLOSED.
    * s71 leaves the table in its degraded steady state (one file's
    * sketch rows stale, every estimate paying a pruned-scope recompute
    * scan); the production system's way out is the compaction it
    * already owes the delete — the rewrite that folds the masks also
    * RE-STATS the new file, and the estimator returns to the
    * pure-metadata path. Lifecycle = s71's two snapshots plus:
    *
    *   - snapshot 3: the stale file compacted — its masked rows
    *     rewritten as one new file (morReadV2 restricted to exactly
    *     the stale scope; carried files never opened), FRESH col_ndv
    *     registers recorded for the new file from the same delta-sized
    *     input, position-delete manifests dropped, manifest = 3
    *     carried + 1 new;
    *   - the estimator at snapshot 3: the stale markers now reference
    *     a path OUTSIDE the manifest, so the guarded reader accepts
    *     the FULL scope (n_stale_in_scope = 0, n_recompute_files = 0 —
    *     no data scan on the estimate path again), and the naive
    *     stale-inclusive merge EQUALS the fresh path (the table
    *     healed: naive_err_bp collapses from the +over-count back to
    *     the fresh error);
    *   - in-hash per snapshot: everything s71 pins, plus
    *     n_recompute_files (0 → 1 → 0 — the recompute tax existing
    *     exactly while staleness does), n_pos_delete_files
    *     (0 → 1 → 0), and census-neutrality of the compaction
    *     (n_live_rows and exact_ndv flat across snapshots 2 → 3).
    *
    * Scale shape: compaction cost is |stale files| + |masks| (the
    * delta the delete created), the re-stat rides the same delta-sized
    * input, and the estimator's steady state is back to ≤64-row
    * metadata merges — the whole point of paying the rewrite.
    */
  def staleStatsCompactionRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{Hashing, Hll}
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_custkey").cast("long").as("cust"))
    val delPred = col("cust") % 4 === 2 && col("cust") % 20 >= 10

    def errBp(est: Long, exact: Long): Long =
      (BigInt(est - exact) * 10000 / BigInt(exact)).toLong

    withTempTableDir("graft_s73_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // bucketed write + write-time register job: independent scans of
      // the same input, overlapped (guide §2.6, r21)
      val (files, rawCells) = graft.ops.Par.run2(
        () => writeBucketed(
          spark, o.withColumn("g", pmod(col("cust"), lit(4L))), s"$base/data", 0L to 3L,
          Nil),
        () => o
          .select(pmod(col("cust"), lit(4L)).as("g"),
            Hashing.h60(col("cust").cast("string")).as("h"))
          .select(col("g"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
          .groupBy("g", "bucket").agg(max("rk").as("mr"))
          .collect() // ≤ 4·64 sketch cells — stats metadata
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
      val pathOf: Map[Long, String] = files.map(f => (f.g, f.path)).toMap
      val cells = rawCells.map { case (g, b, mr) => (pathOf(g), "cust", b, mr) }
      TableLog.recordColNdv(dbFile, cells)
      val dataFiles = files.map(_.entry)
      TableLog.recordSeq(dbFile, dataFiles.map(_._1), 1L)
      val c1 = TableLog.commit(dbFile, 0L, 1L, dataFiles)

      def snapRow(step: Long, snap: Long, ok: Boolean) = {
        val paths = TableLog.manifestSeq(dbFile, snap).map(_._1)
        val stale = TableLog.staleIn(dbFile, paths, "cust") // metadata
        val freshPaths = paths.filterNot(stale.toSet)
        val rejected = scala.util.Try(
          TableLog.colNdvRegistersFresh(dbFile, paths, "cust")).isFailure
        val freshRegs = TableLog.colNdvRegistersFresh(dbFile, freshPaths, "cust")
        // the pruned-scope recompute and the exact audit are independent
        // scans — overlapped (guide §2.6, r21)
        val (recomputed, (nLive, exact, liveRegs)) = graft.ops.Par.run2(
          () =>
            if (stale.isEmpty) Seq.empty[(Long, Long)]
            else Hll.registerCensus(
              TableLog.morReadV2(spark, dbFile, snap, "cust", Some(stale.toSet)),
              col("cust").cast("string")),
          () => ndvAudit(TableLog.morReadV2(spark, dbFile, snap, "cust"), "cust"))
        val merged = Hll.mergeRegisters(freshRegs, recomputed)
        val est = Hll.estimateInt(merged)
        val naive = Hll.estimateInt(TableLog.colNdvRegisters(dbFile, paths, "cust"))
        val regsMatch = merged == liveRegs
        ((step, nLive, paths.size.toLong, stale.size.toLong, stale.size.toLong,
          TableLog.posDeleteSeq(dbFile, snap).map(_._1).distinct.size.toLong,
          TableLog.statRowCount(dbFile, "col_ndv", freshPaths, "cust"), est, naive, exact,
          errBp(est, exact), errBp(naive, exact), regsMatch,
          rejected == stale.nonEmpty, ok), recomputed)
      }
      // snapshot-1 reads overlap the snapshot-2 delete STAGING (pd file
      // write + ref listing — no commit): independent work, guide §2.6
      val ((row1, _), (pd1, refs)) = graft.ops.Par.run2(
        () => snapRow(1L, 1L, c1),
        () => {
          // PARTITION PRUNING (guide §6): the table is partitioned by
          // g = cust % 4 and delPred requires cust % 4 = 2, so only the
          // g=2 file can hold matching rows
          val pd = writeCounted(spark, Tables.parquet(spark, pathOf(2L))
            .select(
              col("_metadata.file_path").as("pd_path"),
              col("_metadata.row_index").as("pd_pos"),
              col("cust"))
            .filter(delPred)
            .select("pd_path", "pd_pos"), s"$base/pd1", 1)
          TableLog.recordSeq(dbFile, pd.map(_._1), 2L)
          val rf = Tables.parquet(spark, pd.map(_._1): _*)
            .select(col("pd_path")).distinct()
            .collect() // bounded by the file count — manifest-scale metadata
            .map(r => new java.net.URI(r.getString(0)).getPath)
            .toSeq.sorted
          (pd, rf)
        })
      val c2 = TableLog.commit(dbFile, 1L, 2L, dataFiles, posDeletes = pd1,
        staleMarkers = refs.map((_, "cust")))

      // snapshot 3: COMPACTION of exactly the stale scope + re-stat.
      // The snapshot-2 reads and the compaction REWRITE (file write — no
      // commit, no stats yet) are independent scans of snapshot-2 state,
      // overlapped (guide §2.6, r21).
      val stale2 = TableLog.staleIn(dbFile, dataFiles.map(_._1), "cust")
      val ((row2, rec2), comp) = graft.ops.Par.run2(
        () => snapRow(2L, 2L, c1 && c2),
        () => writeCounted(
          spark,
          TableLog.morReadV2(spark, dbFile, 2L, "cust", Some(stale2.toSet))
            .select("k", "cents", "cust"),
          s"$base/c1", 1))
      // fresh registers for the new file = snapshot 2's pruned-scope
      // recompute: the compacted file holds EXACTLY the masked live rows
      // of the stale scope at snapshot 2 (the same morReadV2 frame the
      // recompute scanned), and registerCensus is a pure function of the
      // cust multiset — recording the already-computed registers drops a
      // full re-scan of the new file (guide §2.4: don't recompute what a
      // completed pass already produced).
      val newRegs = rec2
      TableLog.recordColNdv(dbFile, newRegs.map { case (b, mr) => (comp.head._1, "cust", b, mr) })
      TableLog.recordSeq(dbFile, comp.map(_._1), 3L)
      val carried = dataFiles.filterNot(f => stale2.contains(f._1))
      val c3 = TableLog.commit(dbFile, 2L, 3L, carried ++ comp)
      val (row3, _) = snapRow(3L, 3L, c1 && c2 && c3)

      Seq(row1, row2, row3)
        .toDF("step", "n_live_rows", "n_files", "n_stale_files",
          "n_recompute_files", "n_pos_delete_files", "n_fresh_stat_rows",
          "est_ndv", "naive_est_ndv", "exact_ndv", "err_bp", "naive_err_bp",
          "regs_match", "stale_guard_ok", "live_log")
        .orderBy("step")
    }
  }

  /** All three frequency-stat families (exact top-8, HLL registers,
    * count-min cells) of one frame's `k` column from ONE per-key
    * aggregation: perKey = groupBy(k).count is computed once (persisted
    * for the three bounded derivations, unpersisted before return), and
    * every family is provably identical to its standalone form — top-8
    * is the same (c DESC, k) sort+limit over the same per-key counts;
    * registers over the DISTINCT keys equal registers over the raw rows
    * (per-bucket MAX is duplicate-insensitive); count-min cells were
    * always summed from perKey. Replaces three full input scans + three
    * per-key aggregations per call with one (guide §2.4 — one exchange
    * shared by every consumer; §2.3 — aggregate before anything else).
    */
  private def freqStatFamilies(df: DataFrame): (Seq[(Long, Long)],
      Seq[(Long, Long)], Map[(Long, Long), Long]) = {
    import graft.ops.{Hashing, Hll}
    val perKey = df.groupBy("k").agg(count(lit(1)).as("c")).persist()
    try {
      val topk = perKey
        .orderBy(col("c").desc, col("k")).limit(8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val regs = perKey
        .select(Hashing.h60(col("k").cast("string")).as("h"))
        .select(Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
        .groupBy("bucket").agg(max("rk").as("mr"))
        .collect() // ≤64 register cells — sketch metadata
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      val cms = perKey
        .select(col("c"), explode(array((0 until TableLog.CmsDepth).map(i =>
          struct(lit(i.toLong).as("i"),
            pmod(Hashing.h60(concat(lit(s"$i:"), col("k").cast("string"))),
              lit(TableLog.CmsWidth)).as("j"))): _*)).as("ij"))
        .groupBy(col("ij.i").as("i"), col("ij.j").as("j"))
        .agg(sum(col("c")).as("cnt"))
        .collect() // ≤ 4·64 sketch cells — metadata
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      (topk, regs, cms)
    } finally { perKey.unpersist(); () }
  }

  /** [[freqStatFamilies]] for EVERY `g` bucket of one frame in a single
    * per-(g, k) aggregation pass — the write-time stats job of s74/s75
    * (previously one filtered scan per bucket: 4 scans × 3 jobs; now one
    * shared aggregation + 3 bounded jobs). Per-bucket results are
    * bit-identical to freqStatFamilies over that bucket's filtered
    * frame: the window's (c DESC, k) top-8 per g is the same sort+limit,
    * and registers/cms derive from the same per-key counts.
    */
  private def freqStatFamiliesByG(df: DataFrame): Map[Long, (Seq[(Long, Long)],
      Seq[(Long, Long)], Map[(Long, Long), Long])] = {
    import graft.ops.{Hashing, Hll}
    import org.apache.spark.sql.expressions.Window
    val perKey = df.groupBy(col("g"), col("k")).agg(count(lit(1)).as("c")).persist()
    try {
      val topk = perKey
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("c").desc, col("k"))))
        .filter(col("rn") <= 8).select("g", "k", "c")
        .collect() // ≤ n_buckets·8 stat rows — metadata
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSeq
      val regs = perKey
        .select(col("g"), Hashing.h60(col("k").cast("string")).as("h"))
        .select(col("g"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
        .groupBy("g", "bucket").agg(max("rk").as("mr"))
        .collect() // ≤ n_buckets·64 sketch cells — metadata
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSeq
      val cms = perKey
        .select(col("g"), col("c"), explode(array((0 until TableLog.CmsDepth).map(i =>
          struct(lit(i.toLong).as("i"),
            pmod(Hashing.h60(concat(lit(s"$i:"), col("k").cast("string"))),
              lit(TableLog.CmsWidth)).as("j"))): _*)).as("ij"))
        .groupBy(col("g"), col("ij.i").as("i"), col("ij.j").as("j"))
        .agg(sum(col("c")).as("cnt"))
        .collect() // ≤ n_buckets·4·64 sketch cells — metadata
        .map(r => (r.getLong(0), ((r.getLong(1), r.getLong(2)), r.getLong(3)))).toSeq
      val gs = (topk.map(_._1) ++ regs.map(_._1) ++ cms.map(_._1)).distinct
      gs.map { g =>
        g -> ((
          topk.collect { case (`g`, kc) => kc }.sortBy { case (k, c) => (-c, k) },
          regs.collect { case (`g`, bm) => bm }.sortBy(_._1),
          cms.collect { case (`g`, cell) => cell }.toMap))
      }.toMap
        // absent bucket = empty scope: the old per-bucket statsOf over an
        // empty filtered scan returned empty families, not a
        // NoSuchElementException (ADVICE r20)
        .withDefaultValue((Seq.empty, Seq.empty, Map.empty))
    } finally { perKey.unpersist(); () }
  }

  /** Exact per-key audit frame of one live scope, fused: top-1 (c DESC,
    * k tie-break), row count, exact NDV and the hot-key (k = 1) count
    * all derive from ONE groupBy(k) pass — count(*) = Σc, exact NDV =
    * |perKey| (countDistinct over the raw rows), hot count = c at k=1.
    * Previously two full scans of the (MOR-masked) live frame.
    */
  private def exactKeyAudit(live: DataFrame): (Long, Long, Long, Long, Long) = {
    val perKey = live.groupBy("k").agg(count(lit(1)).as("c")).persist()
    try {
      val ex = perKey.orderBy(col("c").desc, col("k")).head()
      val a = perKey.agg(sum(col("c")), count(lit(1)),
        coalesce(sum(when(col("k") === 1L, col("c"))), lit(0L))).head()
      (ex.getLong(0), ex.getLong(1), a.getLong(0), a.getLong(1), a.getLong(2))
    } finally { perKey.unpersist(); () }
  }

  /** Exact NDV audit of one live scope, fused: row count, exact distinct
    * count and the direct register census all derive from ONE
    * groupBy(key) pass — count(*) = Σc, countDistinct = |perKey|, and
    * registers over the DISTINCT keys equal registers over the raw rows
    * (per-bucket MAX is duplicate-insensitive; same sort order as
    * Hll.registerCensus). Previously two full scans of the MOR-masked
    * live frame (s71/s73's audit layer).
    */
  private def ndvAudit(
      live: DataFrame,
      keyCol: String): (Long, Long, Seq[(Long, Long)]) = {
    import graft.ops.{Hashing, Hll}
    val perKey = live.groupBy(keyCol).agg(count(lit(1)).as("c")).persist()
    try {
      val a = perKey.agg(sum(col("c")), count(lit(1))).head()
      val regs = perKey
        .select(Hashing.h60(col(keyCol).cast("string")).as("h"))
        .select(Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
        .groupBy("bucket").agg(max("rk").as("mr"))
        .collect() // ≤64 register cells — sketch metadata
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      (a.getLong(0), a.getLong(1), regs)
    } finally { perKey.unpersist(); () }
  }

  /** s74 — FREQUENCY-STAT STALENESS: s71's delete-side contract
    * extended to the stats that DRIVE the salt decision. Top-k rows
    * and count-min cells can't decrement any more than HLL registers
    * can — after a delete removes the hot key's rows, stale frequency
    * stats keep reporting a heavy hitter that no longer exists, and
    * the planner-visible consequence is a WRONG salt decision (pay the
    * explode + wider shuffle for a straggler that is gone). Lifecycle:
    *
    *   - orders staged bucketed by the SKEW KEY's residue (k = the
    *     sentinel: status-'F' orders resolve to key 1; g = k % 4, so
    *     every hot row lives in file 1), ONE stats job recording all
    *     three stat families (col_topk, col_ndv, col_cms) for k;
    *   - snapshot 2: position delete of every k = 1 row (the hot key
    *     evaporates — a retention purge of exactly the sentinel
    *     class); the commit marks file 1's k-stats stale (ONE marker
    *     covers all three families — staleness is a property of
    *     (file, column), not of a sketch kind);
    *   - the decision per snapshot, BOTH ways: the FRESH path (fresh
    *     files' rows + all three families recomputed over ONLY the
    *     masked stale file, merged) vs the NAIVE stale-inclusive path;
    *     in-hash: fresh top-1/NDV/skew/salt-decision match the exact
    *     ground truth at both snapshots, while the naive path still
    *     salts after the delete (naive_salted TRUE vs exact FALSE —
    *     the wrong decision this entry exists to prevent), the naive
    *     CMS still reports the dead key hot while the fresh CMS
    *     collapses to the collision floor (both ≥ the exact 0 — the
    *     one-sided guarantee survives the recompute), and the guarded
    *     reader rejects the full scope exactly at snapshot 2.
    *
    * Scale shape: markers ride the delete commit (O(affected files));
    * the fresh path recomputes only the delta the delete touched; the
    * naive path exists only as this entry's audit layer.
    */
  def freqStatsStaleness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.Hll

    val o = Tables
      .orders(spark, dir)
      .select(
        when(col("o_orderstatus") === "F", lit(1L))
          .otherwise(col("o_orderkey").cast("long")).as("k"),
        col("o_orderkey").cast("long").as("rid"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))

    withTempTableDir("graft_s74_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // the bucketed write and the write-time stats job are independent
      // scans of the same input — overlapped (guide §2.6, r21); the
      // stats job (freqStatFamiliesByG: ONE per-(g, k) pass for all four
      // files' three families) is bit-identical to the per-bucket path
      val (files, statsAll) = graft.ops.Par.run2(
        () => writeBucketed(
          spark, o.withColumn("g", pmod(col("k"), lit(4L))), s"$base/data", 0L to 3L,
          Nil),
        () => freqStatFamiliesByG(o.withColumn("g", pmod(col("k"), lit(4L)))))
      val pathOf: Map[Long, String] = files.map(f => (f.g, f.path)).toMap
      (0L to 3L).foreach { g =>
        val (tk, rg, cm) = statsAll(g)
        val p = pathOf(g)
        TableLog.recordColTopk(dbFile, tk.map { case (k, c) => (p, "k", k, c) })
        TableLog.recordColNdv(dbFile, rg.map { case (b, mr) => (p, "k", b, mr) })
        TableLog.recordColCms(dbFile, cm.toSeq.map { case ((i, j), c) => (p, "k", i, j, c) })
      }
      val dataFiles = files.map(_.entry)
      TableLog.recordSeq(dbFile, dataFiles.map(_._1), 1L)
      val c1 = TableLog.commit(dbFile, 0L, 1L, dataFiles)

      def addCells(a: Map[(Long, Long), Long], b: Map[(Long, Long), Long]) =
        (a.keySet ++ b.keySet).map(k =>
          k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
      def top1Of(rows: Seq[(Long, Long)]): (Long, Long) = {
        val byKey = rows.groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).sum) }
        byKey.toSeq.sortBy { case (k, c) => (-c, k) }.head
      }

      def snapRow(step: Long, snap: Long, ok: Boolean) = {
        val paths = TableLog.manifestSeq(dbFile, snap).map(_._1)
        val stale = TableLog.staleIn(dbFile, paths, "k")
        val freshPaths = paths.filterNot(stale.toSet)
        val rejected = scala.util.Try(
          TableLog.colNdvRegistersFresh(dbFile, paths, "k")).isFailure
        val nMan = TableLog.manifest(dbFile, snap).map(_._2).sum
        // the FRESH path's recompute (all three families over ONLY the
        // masked stale scope) and the exact ground-truth audit are
        // independent scans — overlapped (guide §2.6, r21)
        val ((recTk, recRg, recCms), (exK, exC, nLive, exNdv, hotLive)) =
          graft.ops.Par.run2(
            () =>
              if (stale.isEmpty)
                (Seq.empty[(Long, Long)], Seq.empty[(Long, Long)],
                  Map.empty[(Long, Long), Long])
              else freqStatFamilies(
                TableLog.morReadV2(spark, dbFile, snap, "k", Some(stale.toSet))),
            () => exactKeyAudit(TableLog.morReadV2(spark, dbFile, snap, "k")))
        val (t1k, t1c) = top1Of(TableLog.colTopkMerged(dbFile, freshPaths, "k") ++ recTk)
        val ndv = Hll.estimateInt(Hll.mergeRegisters(
          TableLog.colNdvRegistersFresh(dbFile, freshPaths, "k"), recRg))
        val skew = (BigInt(t1c) * 100 * BigInt(ndv) / BigInt(nMan)).toLong
        // the NAIVE stale-inclusive path — the audit layer's foil
        val (n1k, n1c) = top1Of(TableLog.colTopkMerged(dbFile, paths, "k"))
        val nNdv = Hll.estimateInt(TableLog.colNdvRegisters(dbFile, paths, "k"))
        val nSkew = (BigInt(n1c) * 100 * BigInt(nNdv) / BigInt(nMan)).toLong
        val cmsFresh = TableLog.cmsPointMin(
          addCells(TableLog.colCmsMerged(dbFile, freshPaths, "k"), recCms), 1L)
        val cmsNaive = TableLog.cmsPointMin(TableLog.colCmsMerged(dbFile, paths, "k"), 1L)
        val exSkew = (BigInt(exC) * 100 * BigInt(exNdv) / BigInt(nMan)).toLong
        (step, nLive, stale.size.toLong,
          t1k, t1c, ndv, skew, skew >= 800L,
          n1k, n1c, nSkew, nSkew >= 800L,
          exK, exC, exSkew >= 800L,
          cmsFresh, cmsNaive, hotLive,
          cmsFresh >= hotLive && cmsNaive >= hotLive,
          (skew >= 800L) == (exSkew >= 800L),
          rejected == stale.nonEmpty && stale.nonEmpty == (step == 2L), ok)
      }
      // snapshot-1 reads overlap the snapshot-2 delete STAGING (pd file
      // write + ref listing — no commit): independent work, guide §2.6
      val (row1, (pd1, refs)) = graft.ops.Par.run2(
        () => snapRow(1L, 1L, c1),
        () => {
          // snapshot 2 staging: the hot key's rows purged. PARTITION
          // PRUNING (guide §6): the table is partitioned by g = k % 4
          // and the purge predicate is k = 1, so only the g=1 file can
          // hold matching rows — scan that one file, not the full scope.
          val pd = writeCounted(spark, Tables.parquet(spark, pathOf(1L))
            .select(
              col("_metadata.file_path").as("pd_path"),
              col("_metadata.row_index").as("pd_pos"),
              col("k"))
            .filter(col("k") === 1L)
            .select("pd_path", "pd_pos"), s"$base/pd1", 1)
          TableLog.recordSeq(dbFile, pd.map(_._1), 2L)
          val rf = Tables.parquet(spark, pd.map(_._1): _*)
            .select(col("pd_path")).distinct()
            .collect() // bounded by the file count — manifest-scale metadata
            .map(r => new java.net.URI(r.getString(0)).getPath)
            .toSeq.sorted
          (pd, rf)
        })
      val c2 = TableLog.commit(dbFile, 1L, 2L, dataFiles, posDeletes = pd1,
        staleMarkers = refs.map((_, "k")))
      val row2 = snapRow(2L, 2L, c1 && c2)

      Seq(row1, row2)
        .toDF("step", "n_live_rows", "n_stale_files",
          "top1_key", "top1_cnt", "ndv_est", "skew_x100", "salted",
          "naive_top1_key", "naive_top1_cnt", "naive_skew_x100", "naive_salted",
          "top1_exact_key", "top1_exact_cnt", "exact_salted",
          "cms_hot_fresh", "cms_hot_naive", "hot_live",
          "cms_ge_ok", "decision_ok", "stale_guard_ok", "live_log")
        .orderBy("step")
    }
  }

  /** s75 — COMPACTION HEALS ALL THREE STAT FAMILIES: s73 closes the
    * staleness lifecycle for col_ndv only; after s74's delete the
    * frequency families (col_topk, col_cms) stay in the degraded
    * recompute-tax state forever — every decision over the scope pays
    * a masked data scan for the stale file. The production exit is the
    * same compaction the delete already owes, extended to re-stat ALL
    * THREE families for the rewritten file. Lifecycle = s74's two
    * snapshots plus:
    *
    *   - snapshot 3: the stale file compacted — its masked rows
    *     rewritten as one new file (morReadV2 restricted to exactly
    *     the stale scope; carried files never opened), and ONE
    *     delta-sized stats pass records fresh col_topk + col_ndv +
    *     col_cms rows for the new file; position-delete manifests
    *     dropped, manifest = 3 carried + 1 new;
    *   - the decision per snapshot, BOTH ways: the fresh path's
    *     recompute tax (n_recompute_files 0 → 1 → 0 — paid exactly
    *     while staleness exists) and the per-family metadata coverage
    *     (n_topk/ndv/cms_rows_fresh dropping at snapshot 2 and
    *     RECOVERING at snapshot 3 — each family's table healed, not
    *     just the registers); the NAIVE stale-inclusive path still
    *     salts the dead key at snapshot 2 (naive_salted TRUE vs exact
    *     FALSE) and COLLAPSES BACK onto the fresh path at snapshot 3
    *     (naive_matches_fresh TRUE→FALSE→TRUE — the stale markers now
    *     reference a path outside the manifest, so there is no stale
    *     row left to include);
    *   - in-hash: everything s74 pins per snapshot, the healed salt
    *     decision matching exact at snapshot 3, the CMS one-sided
    *     guarantee across all three snapshots, and the guarded reader
    *     rejecting the scope exactly at snapshot 2.
    *
    * Scale shape: compaction cost is |stale files| + |masks| (the
    * delta the delete created); the re-stat rides the same delta-sized
    * input; the steady state returns to ≤(8 + 64 + 256)·n_files
    * metadata rows per column with NO data scan on any decision path.
    */
  def freqStatsCompactionHeal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.Hll

    val o = Tables
      .orders(spark, dir)
      .select(
        when(col("o_orderstatus") === "F", lit(1L))
          .otherwise(col("o_orderkey").cast("long")).as("k"),
        col("o_orderkey").cast("long").as("rid"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))

    withTempTableDir("graft_s75_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // the bucketed write and the write-time stats job are independent
      // scans of the same input — overlapped (guide §2.6, r21); the
      // stats job (freqStatFamiliesByG: ONE per-(g, k) pass for all four
      // files' three families) is bit-identical to the per-bucket path
      val (files, statsAll) = graft.ops.Par.run2(
        () => writeBucketed(
          spark, o.withColumn("g", pmod(col("k"), lit(4L))), s"$base/data", 0L to 3L,
          Nil),
        () => freqStatFamiliesByG(o.withColumn("g", pmod(col("k"), lit(4L)))))
      val pathOf: Map[Long, String] = files.map(f => (f.g, f.path)).toMap

      def recordAll(p: String, tk: Seq[(Long, Long)], rg: Seq[(Long, Long)],
          cm: Map[(Long, Long), Long]): Unit = {
        TableLog.recordColTopk(dbFile, tk.map { case (k, c) => (p, "k", k, c) })
        TableLog.recordColNdv(dbFile, rg.map { case (b, mr) => (p, "k", b, mr) })
        TableLog.recordColCms(dbFile, cm.toSeq.map { case ((i, j), c) => (p, "k", i, j, c) })
      }
      (0L to 3L).foreach { g =>
        val (tk, rg, cm) = statsAll(g)
        recordAll(pathOf(g), tk, rg, cm)
      }
      val dataFiles = files.map(_.entry)
      TableLog.recordSeq(dbFile, dataFiles.map(_._1), 1L)
      val c1 = TableLog.commit(dbFile, 0L, 1L, dataFiles)

      def addCells(a: Map[(Long, Long), Long], b: Map[(Long, Long), Long]) =
        (a.keySet ++ b.keySet).map(k =>
          k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
      def top1Of(rows: Seq[(Long, Long)]): (Long, Long) = {
        val byKey = rows.groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).sum) }
        byKey.toSeq.sortBy { case (k, c) => (-c, k) }.head
      }

      def snapRow(step: Long, snap: Long, ok: Boolean) = {
        val paths = TableLog.manifestSeq(dbFile, snap).map(_._1)
        val stale = TableLog.staleIn(dbFile, paths, "k")
        val freshPaths = paths.filterNot(stale.toSet)
        val rejected = scala.util.Try(
          TableLog.colNdvRegistersFresh(dbFile, paths, "k")).isFailure
        val nMan = TableLog.manifest(dbFile, snap).map(_._2).sum
        // the fresh path's recompute (families over ONLY the masked
        // stale scope) and the exact ground-truth audit are independent
        // scans — overlapped (guide §2.6, r21)
        val ((recTk, recRg, recCms), (exK, exC, nLive, exNdv, hotLive)) =
          graft.ops.Par.run2(
            () =>
              if (stale.isEmpty)
                (Seq.empty[(Long, Long)], Seq.empty[(Long, Long)],
                  Map.empty[(Long, Long), Long])
              else freqStatFamilies(
                TableLog.morReadV2(spark, dbFile, snap, "k", Some(stale.toSet))),
            () => exactKeyAudit(TableLog.morReadV2(spark, dbFile, snap, "k")))
        val (t1k, t1c) = top1Of(TableLog.colTopkMerged(dbFile, freshPaths, "k") ++ recTk)
        val ndv = Hll.estimateInt(Hll.mergeRegisters(
          TableLog.colNdvRegistersFresh(dbFile, freshPaths, "k"), recRg))
        val skew = (BigInt(t1c) * 100 * BigInt(ndv) / BigInt(nMan)).toLong
        val cmsFresh = TableLog.cmsPointMin(
          addCells(TableLog.colCmsMerged(dbFile, freshPaths, "k"), recCms), 1L)
        // per-family metadata coverage of the FRESH scope — drops at
        // snapshot 2, recovers at 3 (≤ 8/64/256 rows per file each)
        val nTk = TableLog.statRowCount(dbFile, "col_topk", freshPaths, "k")
        val nNd = TableLog.statRowCount(dbFile, "col_ndv", freshPaths, "k")
        val nCm = TableLog.statRowCount(dbFile, "col_cms", freshPaths, "k")
        // naive stale-inclusive path over the MANIFEST scope — the
        // audit foil; after the compaction the stale path is out of
        // the manifest, so this COLLAPSES onto the fresh path
        val (n1k, n1c) = top1Of(TableLog.colTopkMerged(dbFile, paths, "k"))
        val nNdv = Hll.estimateInt(TableLog.colNdvRegisters(dbFile, paths, "k"))
        val nSkew = (BigInt(n1c) * 100 * BigInt(nNdv) / BigInt(nMan)).toLong
        val cmsNaive = TableLog.cmsPointMin(TableLog.colCmsMerged(dbFile, paths, "k"), 1L)
        val exSkew = (BigInt(exC) * 100 * BigInt(exNdv) / BigInt(nMan)).toLong
        ((step, nLive, stale.size.toLong,
          nTk, nNd, nCm,
          t1k, t1c, ndv, skew, skew >= 800L,
          n1c, nSkew >= 800L,
          exSkew >= 800L,
          cmsFresh, cmsNaive, hotLive,
          cmsFresh >= hotLive && cmsNaive >= hotLive,
          (skew >= 800L) == (exSkew >= 800L),
          n1k == t1k && n1c == t1c && (nSkew >= 800L) == (skew >= 800L),
          rejected == stale.nonEmpty && stale.nonEmpty == (step == 2L), ok),
          (recTk, recRg, recCms))
      }
      // snapshot-1 reads overlap the snapshot-2 delete STAGING (pd file
      // write + ref listing — no commit): independent work, guide §2.6
      val ((row1, _), (pd1, refs)) = graft.ops.Par.run2(
        () => snapRow(1L, 1L, c1),
        () => {
          // snapshot 2 staging: the hot key's rows purged. PARTITION
          // PRUNING (guide §6): the table is partitioned by g = k % 4
          // and the purge predicate is k = 1, so only the g=1 file can
          // hold matching rows — scan that one file, not the full scope.
          val pd = writeCounted(spark, Tables.parquet(spark, pathOf(1L))
            .select(
              col("_metadata.file_path").as("pd_path"),
              col("_metadata.row_index").as("pd_pos"),
              col("k"))
            .filter(col("k") === 1L)
            .select("pd_path", "pd_pos"), s"$base/pd1", 1)
          TableLog.recordSeq(dbFile, pd.map(_._1), 2L)
          val rf = Tables.parquet(spark, pd.map(_._1): _*)
            .select(col("pd_path")).distinct()
            .collect() // bounded by the file count — manifest-scale metadata
            .map(r => new java.net.URI(r.getString(0)).getPath)
            .toSeq.sorted
          (pd, rf)
        })
      val c2 = TableLog.commit(dbFile, 1L, 2L, dataFiles, posDeletes = pd1,
        staleMarkers = refs.map((_, "k")))

      // snapshot 3: COMPACTION of exactly the stale scope + a re-stat of
      // ALL THREE families from the same delta-sized input. The
      // snapshot-2 reads and the compaction REWRITE (file write — no
      // commit, no stats yet) are independent scans of snapshot-2 state,
      // overlapped (guide §2.6, r21).
      val stale2 = TableLog.staleIn(dbFile, dataFiles.map(_._1), "k")
      val ((row2, rec2), comp) = graft.ops.Par.run2(
        () => snapRow(2L, 2L, c1 && c2),
        () => writeCounted(
          spark,
          TableLog.morReadV2(spark, dbFile, 2L, "k", Some(stale2.toSet))
            .select("k", "rid", "cents"),
          s"$base/c1", 1))
      // the new file's three families = snapshot 2's recompute: the
      // compacted file holds EXACTLY the masked live rows of the stale
      // scope at snapshot 2 (the same morReadV2 frame the recompute
      // scanned), and freqStatFamilies is a pure function of the k
      // multiset — recording the already-computed families drops a full
      // re-scan of the new file (guide §2.4).
      val (tk3, rg3, cm3) = rec2
      recordAll(comp.head._1, tk3, rg3, cm3)
      TableLog.recordSeq(dbFile, comp.map(_._1), 3L)
      val carried = dataFiles.filterNot(f => stale2.contains(f._1))
      val c3 = TableLog.commit(dbFile, 2L, 3L, carried ++ comp)
      val (row3, _) = snapRow(3L, 3L, c1 && c2 && c3)

      Seq(row1, row2, row3)
        .toDF("step", "n_live_rows", "n_recompute_files",
          "n_topk_rows_fresh", "n_ndv_rows_fresh", "n_cms_rows_fresh",
          "top1_key", "top1_cnt", "ndv_est", "skew_x100", "salted",
          "naive_top1_cnt", "naive_salted", "exact_salted",
          "cms_hot_fresh", "cms_hot_naive", "hot_live",
          "cms_ge_ok", "decision_ok", "naive_matches_fresh",
          "stale_guard_ok", "live_log")
        .orderBy("step")
    }
  }

  /** s64 — NDV SKETCHES IN THE MANIFEST: the distinct-count statistics
    * a 100 TB planner needs (join-side choice, agg sizing, dictionary
    * decisions) persisted per FILE at write time and merged at PLAN
    * time from log metadata only — Iceberg's puffin/theta-sketch
    * design, built on q170's exact-integer HLL kernel so both engines
    * agree bit-for-bit. Lifecycle:
    *
    *   - one write-time scan computes every file's (bucket, max-rank)
    *     register rows (≤64 per file — stats, not data), recorded in
    *     the log beside the bucket stats;
    *   - the planner answers "distinct customers in scope X" for two
    *     scopes (the whole table; the bucket-{0,1} pruned subset) by
    *     MERGING the scope's register rows per-bucket-max and applying
    *     the integer Flajolet estimate — no data file is opened;
    *   - the audit, in-hash: est vs the exact scan NDV (err_bp), and
    *     regs_match — the metadata-merged registers must EQUAL the
    *     registers computed directly over the scanned scope rows (the
    *     HLL merge property is what makes per-file sketches sound; a
    *     stale or torn sketch row breaks the equality, not just the
    *     estimate).
    *
    * Scale shape: sketch rows are O(64 · n_files) metadata; merge is a
    * ≤64-row metadata aggregate per scope; the exact scan exists only
    * as this entry's audit layer. At 100 TB the planner path never
    * touches data.
    */
  def ndvSketchStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{Hashing, Hll}
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"))

    def estimate(regs: Seq[(Long, Long)]): Long = Hll.estimateInt(regs)

    withTempTableDir("graft_s64_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // ONE write-time scan: per-file (= per residue) register census
      val perFileRegs = o
        .select((col("k") % 4).as("f"), Hashing.h60(col("cust").cast("string")).as("h"))
        .select(col("f"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
        .groupBy("f", "bucket").agg(max("rk").as("mr"))
        .collect() // ≤256 sketch cells (64 × 4 files) — stats metadata
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // ONE partitionBy write for all four files (not one filtered
      // write job per residue — 4 scans of o), with
      // the per-file counts carried by the write job's own Observation
      // (the writeBucketed / commit-carried-counts discipline)
      val obs = org.apache.spark.sql.Observation()
      val cAggs = (0L to 3L).map(b =>
        sum(when(col("f") === b, lit(1L)).otherwise(lit(0L))).as(s"n_$b"))
      o.withColumn("f", col("k") % 4)
        .observe(obs, cAggs.head, cAggs.tail: _*)
        .repartition(col("f")).write.partitionBy("f").parquet(s"$base/data")
      val m = obs.get
      val fRe = "/f=(\\d+)/".r
      // group per bucket BEFORE building the map: toMap would silently
      // keep only the last file of a multi-file bucket (e.g. under
      // spark.sql.files.maxRecordsPerFile), committing one file while
      // its sibling's rows sit unregistered on disk
      val grouped: Map[Long, Seq[String]] = new java.io.File(s"$base/data")
        .listFiles().filter(_.getName.startsWith("f="))
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
        .map(f => (fRe.findFirstMatchIn(f.getAbsolutePath).get.group(1).toLong,
          f.getAbsolutePath))
        .toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      require(grouped.size == 4 && grouped.forall(_._2.size == 1),
        s"expected 4 one-file buckets under $base/data, got " +
          grouped.view.mapValues(_.size).toMap)
      val byF: Map[Long, String] = grouped.view.mapValues(_.head).toMap
      val files = (0L to 3L).map { b =>
        val pf = (byF(b), m(s"n_$b").asInstanceOf[Long])
        TableLog.recordStats(dbFile, Seq((pf._1, b)))
        TableLog.recordColNdv(dbFile, perFileRegs.collect {
          case (f, bkt, mr) if f == b => (pf._1, "cust", bkt, mr)
        }.toSeq)
        pf
      }
      TableLog.commit(dbFile, 0L, 1L, files)

      def scopeRow(scope: String, buckets: Seq[Long]) = {
        val paths = TableLog.prunePaths(dbFile, 1L, buckets)
        val merged = TableLog.colNdvRegisters(dbFile, paths, "cust") // plan-time: metadata only
        val est = estimate(merged)
        // audit scan, fused: exact NDV + direct census from ONE
        // per-key pass (ndvAudit — previously two scans per scope)
        val (_, exact, direct) =
          ndvAudit(Tables.parquet(spark, paths: _*), "cust")
        (scope, paths.size.toLong, TableLog.statRowCount(dbFile, "col_ndv", paths, "cust"), est, exact,
          math.abs(est - exact) * 10000L / exact,
          merged.sortBy(_._1) == direct, true)
      }
      Seq(scopeRow("all", Seq(0L, 1L, 2L, 3L)), scopeRow("b01", Seq(0L, 1L)))
        .toDF("scope", "n_files", "n_sketch_rows", "est_ndv", "exact_ndv",
          "err_bp", "regs_match", "log_ok")
        .orderBy("scope")
    }
  }

  /** q212 — JOIN-CARDINALITY ESTIMATES FROM THE LONG-FORM STAT TABLE:
    * q210's CBO formula |A⋈B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k))
    * evaluated for TWO different join keys entirely from ONE per-column
    * register stat table (col_ndv — s64's per-file sketches generalized
    * by col_name, the same long-form shape as col_stats), with row
    * counts read from the committed manifest: the whole estimator path
    * touches METADATA ONLY. Lifecycle:
    *
    *   - three relations staged as immutable bucket files (orders
    *     k%4, customer ck%2, lineitem lk%2), ONE partitionBy write +
    *     ONE stats job per relation: the stats job computes every key
    *     column's per-file (bucket, max-rank) register rows AND the
    *     per-file row counts the manifest carries (file row count =
    *     Σ register cell counts of one column, since each row lands in
    *     exactly one register cell per column);
    *   - the estimator answers BOTH joins (orders⋈customer on custkey,
    *     orders⋈lineitem on orderkey) by merging each side's register
    *     rows per-bucket-max out of col_ndv and applying the integer
    *     Flajolet estimate over manifest row counts — no data file is
    *     opened;
    *   - the audit, in-hash: est vs the TRUE join count (the only
    *     corpus-sized work, existing solely as ground truth), signed
    *     err_bp, q210's exact arithmetic; and regs_match — the
    *     metadata-merged registers must EQUAL the direct census over
    *     each side's key column (the merge property that makes
    *     per-file sketches composable).
    *
    * Scale shape: stat rows are O(64 · n_files · n_columns) metadata
    * riding the write-time scan (the s64 discipline); each estimate is
    * a ≤64-row metadata merge per side.
    */
  def colNdvEstimates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{Hashing, Hll}

    val orders = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"))
    val custT = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("ck"))
    val lineT = Tables.lineitem(spark, dir).select(col("l_orderkey").cast("long").as("lk"))

    // ground truth — the audit layer's only corpus-sized work (thunks:
    // overlapped with the direct-census job below, guide §2.6 r21)
    def trueOCJob(): Long = orders.select(col("cust").as("j"))
      .join(custT.select(col("ck").as("j")), Seq("j")).count()
    def trueOLJob(): Long = orders.select(col("k").as("j"))
      .join(lineT.select(col("lk").as("j")), Seq("j")).count()

    def estJoin(nL: Long, nR: Long, ndvL: Long, ndvR: Long): Long =
      (BigInt(nL) * BigInt(nR) / BigInt(math.max(ndvL, ndvR))).toLong
    def errBp(est: Long, t: Long): Long = (BigInt(est - t) * 10000 / BigInt(t)).toLong

    withTempTableDir("graft_q212_") { tmp =>
      // staging (the write-once stats cost) memoized per dir — the q209
      // discipline: production stat tables are written once per table
      // version and READ by every plan; repeated bench invocations must
      // measure the estimator + audit, not rewrite the layout. The
      // staged files live in a JVM-lifetime temp dir (the per-run log
      // db below is the only per-run artifact).
      val (fO, fC, fL, regsAll) = q212Staged.computeIfAbsent(
        dir,
        _ => {
          val base = graft.ops.Scratch.scratchDir("graft_q212_tbl_").toString

          /** ONE partitionBy write + ONE stats job per relation: the
            * stats job stacks every key column (explode of (name,
            * value) structs, one scan) into per-(file, column,
            * register-bucket) cells.
            */
          def stage(
              df: DataFrame,
              gCol: org.apache.spark.sql.Column,
              nB: Int,
              keyCols: Seq[(String, org.apache.spark.sql.Column)],
              out: String): (Seq[(String, Long)], Seq[(String, String, Long, Long)]) = {
            df.withColumn("g", gCol).repartition(col("g")).write.partitionBy("g").parquet(out)
            val bucketRe = "/g=(\\d+)/".r
            val byG: Map[Long, String] = new java.io.File(out)
              .listFiles().filter(_.getName.startsWith("g="))
              .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
              .map(f =>
                (bucketRe.findFirstMatchIn(f.getAbsolutePath).get.group(1).toLong,
                  f.getAbsolutePath))
              .toMap
            require(byG.size == nB, s"expected $nB one-file buckets under $out")
            val cells = df.withColumn("g", gCol)
              .select(col("g"), explode(array(keyCols.map { case (n, c) =>
                struct(lit(n).as("c"), c.cast("string").as("v"))
              }: _*)).as("kv"))
              .select(col("g"), col("kv.c").as("cn"), Hashing.h60(col("kv.v")).as("h"))
              .select(col("g"), col("cn"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
              .groupBy("g", "cn", "bucket")
              .agg(max("rk").as("mr"), count(lit(1)).as("cnt"))
              .collect() // ≤ nB·n_cols·64 sketch cells — stats metadata
              .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
            val c0 = keyCols.head._1
            val files = byG.toSeq.sortBy(_._1).map { case (g, p) =>
              (p, cells.collect { case (gg, cn, _, _, n) if gg == g && cn == c0 => n }.sum)
            }
            (files, cells.map { case (g, cn, b, mr, _) => (byG(g), cn, b, mr) }.toSeq)
          }

          val (fO0, rO) = stage(orders, col("k") % 4, 4,
            Seq(("o_custkey", col("cust")), ("o_orderkey", col("k"))), s"$base/orders")
          val (fC0, rC) = stage(custT, col("ck") % 2, 2,
            Seq(("c_custkey", col("ck"))), s"$base/cust")
          val (fL0, rL) = stage(lineT, col("lk") % 2, 2,
            Seq(("l_orderkey", col("lk"))), s"$base/line")
          (fO0, fC0, fL0, rO ++ rC ++ rL)
        })

      val dbFile = s"$tmp/log.duckdb"
      TableLog.init(dbFile)
      TableLog.recordColNdv(dbFile, regsAll)
      require(TableLog.commit(dbFile, 0L, 1L, fO ++ fC ++ fL), "q212 snapshot commit rejected")

      // ---- plan time: manifest row counts + col_ndv register merges ----
      val man = TableLog.manifest(dbFile, 1L).toMap
      def nRows(files: Seq[(String, Long)]): Long = files.map(f => man(f._1)).sum
      // the regs_match audit's four direct censuses from ONE union job
      // (identical registers: same h60 over the same cast strings,
      // per-column bucket max — previously one full-scan job each; r20),
      // overlapped with the two exact ground-truth joins (guide §2.6)
      val (directRegs, trues) = graft.ops.Par.run2(
        () => Seq(
          ("o_custkey", orders, "cust"), ("c_custkey", custT, "ck"),
          ("o_orderkey", orders, "k"), ("l_orderkey", lineT, "lk"))
          .map { case (cn, df, key) =>
            df.select(lit(cn).as("cn"), Hashing.h60(col(key).cast("string")).as("h"))
          }
          .reduce(_ unionByName _)
          .select(col("cn"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
          .groupBy("cn", "bucket").agg(max("rk").as("mr"))
          .collect() // ≤ 4·64 register cells — sketch metadata
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1)
          .map { case (cn, cells) => (cn, cells.map(_._2).toSeq.sortBy(_._1)) },
        () => graft.ops.Par.run(Seq(() => trueOCJob(), () => trueOLJob())))
      val Seq(trueOC, trueOL) = trues
      def side(paths: Seq[String], cn: String) = {
        val merged = TableLog.colNdvRegisters(dbFile, paths, cn)
        (Hll.estimateInt(merged), TableLog.statRowCount(dbFile, "col_ndv", paths, cn),
          merged == directRegs(cn))
      }
      val (pO, pC, pL) = (fO.map(_._1), fC.map(_._1), fL.map(_._1))
      val (nO, nC, nL) = (nRows(fO), nRows(fC), nRows(fL))
      val (ndvOc, sOc, mOc) = side(pO, "o_custkey")
      val (ndvC, sC, mC) = side(pC, "c_custkey")
      val (ndvOk, sOk, mOk) = side(pO, "o_orderkey")
      val (ndvL2, sL, mL) = side(pL, "l_orderkey")
      val e1 = estJoin(nO, nC, ndvOc, ndvC)
      val e2 = estJoin(nO, nL, ndvOk, ndvL2)
      Seq(
        ("orders_customer", nO, nC, ndvOc, ndvC, e1, trueOC,
          errBp(e1, trueOC), sOc + sC, mOc && mC),
        ("orders_lineitem", nO, nL, ndvOk, ndvL2, e2, trueOL,
          errBp(e2, trueOL), sOk + sL, mOk && mL))
        .toDF("join_key", "n_left", "n_right", "ndv_left", "ndv_right",
          "est_join_rows", "true_join_rows", "err_bp", "n_stat_rows", "regs_match")
        .orderBy("join_key")
    }
  }

  /** q215 — NDV OF A PRUNED SCOPE: the two stat tables composed at plan
    * time, which is what a real planner does — s52's range pruning
    * picks the file subset (col_stats min/max vs the predicate), then
    * q212's registers answer "how many distinct customers in THAT
    * subset" (col_ndv merged per-bucket-max over only the surviving
    * files). No data file is opened on the estimate path. Lifecycle:
    *
    *   - orders written CLUSTERED by cents (s52's explicit arithmetic
    *     buckets — both engines replay the boundaries), per-file
    *     min/max cents recorded in col_stats from the write's own
    *     Observation, per-file custkey registers in col_ndv from one
    *     stats job;
    *   - the plan: s52's range predicate (middle of the lowest
    *     quartile) prunes to ~1 of 4 files; the estimator merges the
    *     SURVIVORS' register rows and applies the integer Flajolet
    *     estimate — the composed, metadata-only answer;
    *   - the audit, in-hash, for scopes 'all' and 'pruned': est vs the
    *     exact scan NDV (err_bp) and regs_match — the metadata merge
    *     over the surviving subset must EQUAL the direct census over
    *     the scanned scope (the merge property q212 pins, now on a
    *     PRUNED subset).
    *
    * Scale shape: both stat reads are metadata joins in the log; the
    * exact side exists only as this entry's audit layer; at 100 TB the
    * composed estimate sizes the post-scan join/agg before a single
    * row is read.
    */
  def prunedScopeNdv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.{Hashing, Hll}
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_custkey").cast("long").as("cust"))
    val r = o.agg(min(col("cents")), max(col("cents"))).head()
    val (mn, mxv) = (r.getLong(0), r.getLong(1))
    val bw = (mxv - mn) / 4L + 1L
    val (lo, hi) = (mn + bw / 2L, mn + bw - 1L)

    withTempTableDir("graft_q215_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      // the bucketed write and the write-time stats job are independent
      // scans of the same input — overlapped (guide §2.6, r21); the
      // g→path attribution happens client-side after both finish
      val (files, rawCells) = graft.ops.Par.run2(
        () => writeBucketed(
          spark,
          o.withColumn("g", expr(s"(cents - $mn) div $bw")),
          s"$base/data",
          0L to 3L,
          Seq("cents")),
        () => o
          .select(
            expr(s"(cents - $mn) div $bw").as("g"),
            Hashing.h60(col("cust").cast("string")).as("h"))
          .select(col("g"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
          .groupBy("g", "bucket").agg(max("rk").as("mr"))
          .collect() // ≤256 sketch cells — stats metadata
          .map(r2 => (r2.getLong(0), r2.getLong(1), r2.getLong(2))).toSeq)
      TableLog.recordColStats(dbFile, "c0", files.map(_.range("cents")))
      val pathOf: Map[Long, String] = files.map(f => (f.g, f.path)).toMap
      val cells = rawCells.map { case (g, b, mr) => (pathOf(g), "cust", b, mr) }
      TableLog.recordColNdv(dbFile, cells)
      require(TableLog.commit(dbFile, 0L, 1L, files.map(_.entry)), "q215 commit rejected")

      def scopeRow(scope: String, paths: Seq[String]) = {
        val merged = TableLog.colNdvRegisters(dbFile, paths, "cust") // metadata only
        val est = Hll.estimateInt(merged)
        // audit scan, fused: exact NDV + direct census from ONE
        // per-key pass (ndvAudit — previously two scans per scope)
        val (_, exact, direct) = ndvAudit(Tables.parquet(spark, paths: _*), "cust")
        (scope, paths.size.toLong, est, exact,
          math.abs(est - exact) * 10000L / exact, merged == direct, true)
      }
      val pruned = TableLog.pruneByCols(dbFile, 1L, Seq(("c0", lo, hi))) // col_stats: the s52 plan
      // [lo, hi] sits inside bucket 0's value domain and every bucket is
      // non-empty by quartile construction — an empty prune is a stats
      // defect, failed loudly instead of dividing by zero below
      require(pruned.nonEmpty, "q215: range prune returned no files")
      // the two scope audits are independent scans — overlapped
      // (guide §2.6, r21)
      val (rowAll, rowPruned) = graft.ops.Par.run2(
        () => scopeRow("all", files.map(_.path)),
        () => scopeRow("pruned", pruned))
      Seq(rowAll, rowPruned)
        .toDF("scope", "n_files", "est_ndv", "exact_ndv", "err_bp",
          "regs_match", "composed_ok")
        .orderBy("scope")
    }
  }

  // ------------------------------------------------------------------
  // s67 — bucket-layout evolution
  // ------------------------------------------------------------------

  /** Memoized s67 catalog tables per dir: (orders8, cust8, orders16,
    * cust16). The bucketed writes are the op's declared one-time layout
    * costs (q209's discipline); the 16-bucket tables are rewritten FROM
    * the 8-bucket CATALOG TABLES — the production rewrite's source is
    * the committed layout, not the raw input.
    */
  private val s67Staged =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, String, String)]()

  /** s67 — BUCKET-LAYOUT EVOLUTION: q209 froze its co-located layout at
    * 8 buckets; production layouts get REWRITTEN (8 → 16) as tables
    * grow, and the transition must be planned from log metadata — s48's
    * partition-spec evolution story applied to bucket specs. Lifecycle:
    *
    *   - snapshot 1: both join sides written bucketBy(8, ck) (the q209
    *     layout), spec 8 recorded in the log; a reader pinned to spec 8
    *     validates against the log and is ACCEPTED; the co-located SMJ
    *     plans ZERO Exchange (measured in-query, q209's structural
    *     count) and its census is audited against the plain-parquet
    *     join (layout faithfulness);
    *   - the EVOLUTION: the next spec (2 × current) is computed FROM
    *     the log's current spec, both sides rewritten bucketBy(16) from
    *     the 8-bucket catalog tables (one planned shuffle — the
    *     rewrite's whole cost), snapshot 2 committed with spec 16;
    *   - snapshot 2: the join on the NEW layout must STAY exchange-free
    *     (in-hash count) and census-neutral vs snapshot 1 (in-hash
    *     equality); the reader still pinned to spec 8 is now REJECTED
    *     by the guard, not silently mis-co-located — surfaced in-hash
    *     as spec_guard_ok and pinned adversarially in SnapshotLogSpec.
    *
    * Scale shape: both layouts are write-once catalog tables (memoized
    * per dir — the bench measures what repeats: the exchange-free
    * join); the rewrite is ONE shuffle planned from metadata; the spec
    * table is O(snapshots) metadata rows.
    */
  def bucketEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.BucketedJoin.countShuffles

    def ordersDf = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey").cast("long").as("ck"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    def custDf =
      Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("ck"))

    def joined(o: DataFrame, c: DataFrame): DataFrame =
      o.hint("merge").join(c.hint("merge"), Seq("ck")).select(col("cents"))
    def census(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("cents"))).head()
      (r.getLong(0), r.getLong(1))
    }

    withTempTableDir("graft_s67_") { tmp =>
      val (o8, c8, o16, c16) = s67Staged.compute(
        dir,
        (_, prev) => {
          if (prev != null && spark.catalog.tableExists(prev._1) &&
            !spark.sparkContext.isStopped) prev
          else {
            val tag =
              s"${java.lang.Integer.toUnsignedString(dir.hashCode)}_${dir.length}"
            val names = (s"graft_s67_o8_$tag", s"graft_s67_c8_$tag",
              s"graft_s67_o16_$tag", s"graft_s67_c16_$tag")
            val base = graft.ops.Scratch.scratchDir("graft_s67_tbl_").toString
            Seq(names._1, names._2, names._3, names._4)
              .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
            ordersDf.write.bucketBy(8, "ck").sortBy("ck")
              .option("path", s"$base/o8").saveAsTable(names._1)
            custDf.write.bucketBy(8, "ck").sortBy("ck")
              .option("path", s"$base/c8").saveAsTable(names._2)
            // the rewrite reads the COMMITTED 8-bucket layout
            spark.table(names._1).write.bucketBy(16, "ck").sortBy("ck")
              .option("path", s"$base/o16").saveAsTable(names._3)
            spark.table(names._2).write.bucketBy(16, "ck").sortBy("ck")
              .option("path", s"$base/c16").saveAsTable(names._4)
            names
          }
        })

      val dbFile = s"$tmp/log.duckdb"
      TableLog.init(dbFile)
      require(TableLog.commit(dbFile, 0L, 1L, Nil), "s67 snapshot 1 rejected")
      TableLog.recordBucketSpec(dbFile, 1L, 8L)

      // snapshot 1: pinned-8 reader accepted; zero-exchange join; the
      // census audited against the plain-parquet join (ground truth)
      val guard1 = try { TableLog.requireBucketSpec(dbFile, 8L); true }
      catch { case _: IllegalArgumentException => false }
      val j8 = joined(spark.table(o8), spark.table(c8))
      val ex8 = countShuffles(j8)
      val (n8, s8) = census(j8)
      val (nP, sP) = census(joined(ordersDf, custDf))

      // the evolution: next spec planned FROM the log's current spec
      val next = TableLog.currentBucketSpec(dbFile) * 2L
      require(TableLog.commit(dbFile, 1L, 2L, Nil), "s67 snapshot 2 rejected")
      TableLog.recordBucketSpec(dbFile, 2L, next)

      // snapshot 2: join stays exchange-free on the new layout,
      // census-neutral; the stale pinned-8 reader is REJECTED
      val j16 = joined(spark.table(o16), spark.table(c16))
      val ex16 = countShuffles(j16)
      val (n16, s16) = census(j16)
      val guard2 = try { TableLog.requireBucketSpec(dbFile, 8L); false }
      catch { case _: IllegalArgumentException => true }

      Seq(
        (1L, 8L, n8, s8, ex8, n8 == nP && s8 == sP, guard1),
        (2L, next, n16, s16, ex16, n16 == n8 && s16 == s8, guard2))
        .toDF("snapshot_id", "n_buckets", "n_rows", "sum_cents",
          "exchanges_join", "census_ok", "spec_guard_ok")
        .orderBy("snapshot_id")
    }
  }

  /** Memoized s72 catalog tables per dir: o/c at 8, 16, 32 buckets —
    * each generation rewritten FROM the previous generation's committed
    * catalog tables (the production rewrite chain), all write-once.
    */
  private val s72Staged =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** s72 — MULTI-LEVEL BUCKET EVOLUTION (8 → 16 → 32): s67 proved one
    * hop; production layouts evolve REPEATEDLY as tables grow, and the
    * spec-guard story must COMPOSE — every evolution planned from the
    * log's current spec (next = 2 × current, never a constant), every
    * generation's reader accepted exactly while its layout is current,
    * and at the end state BOTH old generations' pinned readers rejected
    * (an 8-bucket reader surviving one evolution only to silently
    * mis-co-locate after the second is the compounding failure mode).
    * Per generation, in-hash: the co-located SMJ plans ZERO Exchange on
    * that layout (structural count), the census is audited against the
    * plain-parquet join, accept_ok while current, and final_state_ok —
    * the end-state guard verdict for THIS generation's pinned reader
    * (rejected for 8 and 16, accepted for 32). SnapshotLogSpec pins the
    * three-hop guard composition adversarially.
    *
    * Scale shape: three write-once layouts (memoized — the bench
    * measures the exchange-free joins, which is what repeats); each
    * rewrite is ONE planned shuffle reading the previous committed
    * layout; the spec table is O(snapshots) metadata rows.
    */
  def bucketEvolutionChain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.BucketedJoin.countShuffles

    def ordersDf = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey").cast("long").as("ck"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    def custDf =
      Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("ck"))
    def joined(o: DataFrame, c: DataFrame): DataFrame =
      o.hint("merge").join(c.hint("merge"), Seq("ck")).select(col("cents"))
    def census(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("cents"))).head()
      (r.getLong(0), r.getLong(1))
    }

    withTempTableDir("graft_s72_") { tmp =>
      val names = s72Staged.compute(
        dir,
        (_, prev) => {
          if (prev != null && spark.catalog.tableExists(prev.head) &&
            !spark.sparkContext.isStopped) prev
          else {
            val tag =
              s"${java.lang.Integer.toUnsignedString(dir.hashCode)}_${dir.length}"
            val ns = Seq(8L, 16L, 32L).flatMap(b =>
              Seq(s"graft_s72_o${b}_$tag", s"graft_s72_c${b}_$tag"))
            val base = graft.ops.Scratch.scratchDir("graft_s72_tbl_").toString
            ns.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
            ordersDf.write.bucketBy(8, "ck").sortBy("ck")
              .option("path", s"$base/o8").saveAsTable(ns(0))
            custDf.write.bucketBy(8, "ck").sortBy("ck")
              .option("path", s"$base/c8").saveAsTable(ns(1))
            // each rewrite reads the PREVIOUS generation's committed
            // catalog tables — the chain, not three parallel builds
            spark.table(ns(0)).write.bucketBy(16, "ck").sortBy("ck")
              .option("path", s"$base/o16").saveAsTable(ns(2))
            spark.table(ns(1)).write.bucketBy(16, "ck").sortBy("ck")
              .option("path", s"$base/c16").saveAsTable(ns(3))
            spark.table(ns(2)).write.bucketBy(32, "ck").sortBy("ck")
              .option("path", s"$base/o32").saveAsTable(ns(4))
            spark.table(ns(3)).write.bucketBy(32, "ck").sortBy("ck")
              .option("path", s"$base/c32").saveAsTable(ns(5))
            ns
          }
        })

      val dbFile = s"$tmp/log.duckdb"
      TableLog.init(dbFile)
      val (nP, sP) = census(joined(ordersDf, custDf)) // ground truth once

      val gens = Seq(
        (1L, 8L, names(0), names(1)),
        (2L, 16L, names(2), names(3)),
        (3L, 32L, names(4), names(5)))
      val perGen = gens.map { case (snap, b, ot, ct) =>
        // every evolution's spec comes FROM the log, never a constant
        val planned = if (snap == 1L) 8L else TableLog.currentBucketSpec(dbFile) * 2L
        require(planned == b, s"s72: planned spec $planned != staged layout $b")
        require(TableLog.commit(dbFile, snap - 1L, snap, Nil), s"s72 snapshot $snap rejected")
        TableLog.recordBucketSpec(dbFile, snap, b)
        val acceptOk = try { TableLog.requireBucketSpec(dbFile, b); true }
        catch { case _: IllegalArgumentException => false }
        val j = joined(spark.table(ot), spark.table(ct))
        val ex = countShuffles(j)
        val (n, s) = census(j)
        (snap, b, n, s, ex, n == nP && s == sP, acceptOk)
      }
      // end state (spec 32): both OLD generations' pinned readers must
      // be rejected, the current one accepted
      def rejectedNow(b: Long): Boolean =
        try { TableLog.requireBucketSpec(dbFile, b); false }
        catch { case _: IllegalArgumentException => true }
      val finalOk = Seq(rejectedNow(8L), rejectedNow(16L), !rejectedNow(32L))
      perGen.zip(finalOk)
        .map { case ((snap, b, n, s, ex, cen, acc), fin) =>
          (snap, b, n, s, ex, cen, acc, fin)
        }
        .toDF("snapshot_id", "n_buckets", "n_rows", "sum_cents",
          "exchanges_join", "census_ok", "accept_ok", "final_state_ok")
        .orderBy("snapshot_id")
    }
  }

  /** s65 — TWO-LEVEL MANIFEST PRUNING: the metadata-scalability layer
    * s52/s57/s58 all skipped — they plan over a FLAT per-file stat
    * table, which itself stops scaling when the table holds 100k+
    * files (reading 100k manifest rows per query is the new
    * bottleneck). Iceberg's answer is the snapshot → manifest-list →
    * manifest hierarchy: file entries live in manifest GROUPS, the
    * top-level list carries one (min, max) partition summary per
    * group, and planning is two staged prunes — groups by summary,
    * then files by stat, touching only surviving groups' entry rows.
    * Fixture: 16 bucket files (k%16) in 4 contiguous groups of 4; a
    * point query (b=5) must read 1 of 4 groups → 4 of 16 entry rows →
    * 1 file; a range query (6..12) reads 3 groups → 12 entry rows →
    * 7 files. Each query's plan census is pinned in-hash AND plan_ok
    * additionally pins the planned scan's census equal to the direct
    * predicate census computed without the log (pruning must never
    * lose rows — the s52 discipline one level up).
    *
    * Scale shape: a query's metadata cost is n_groups_total list rows
    * + the surviving groups' entries, not the table's full file count
    * — at 100k files with ~1k-entry groups, a point query reads ~100
    * list rows + ~1k entry rows instead of 100k. Data IO is the
    * pruned file set only.
    */
  def twoLevelManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .withColumn("b", col("k") % 16)

    withTempTableDir("graft_s65_") { base =>
      val dbFile = s"$base/log.duckdb"
      TableLog.init(dbFile)

      val files = writeBaseBuckets(spark, dbFile, o.select("k", "cents"), s"$base/data", 16)
      TableLog.commit(dbFile, 0L, 1L, files.map(f => (f._1, f._2)))
      (0L to 3L).foreach { g =>
        TableLog.recordGroup(dbFile, 1L, g,
          files.filter(_._3 / 4 == g).map(f => (f._1, f._3)))
      }

      def queryRow(name: String, lo: Long, hi: Long) = {
        val (nGroups, nEntries, files) = TableLog.planGroups(dbFile, 1L, lo, hi)
        val planned = Tables.parquet(spark, files: _*)
          .agg(count(lit(1)), sum(col("cents"))).head()
        val direct = o.filter(col("b") >= lo && col("b") <= hi)
          .agg(count(lit(1)), sum(col("cents"))).head()
        (name, 4L, nGroups, nEntries, files.size.toLong,
          planned.getLong(0), planned.getLong(1),
          planned.getLong(0) == direct.getLong(0) &&
            planned.getLong(1) == direct.getLong(1))
      }
      Seq(queryRow("point_b5", 5L, 5L), queryRow("range_b6_12", 6L, 12L))
        .toDF("query", "n_groups", "n_groups_read", "n_entries_read",
          "n_files_scanned", "n_rows", "sum_cents", "plan_ok")
        .orderBy("query")
    }
  }
}
