package graft.sinks

import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The table-log format: a minimal snapshot-isolated table over the
  * parquet lake — the commit-log layer (Iceberg/Delta shape) that q131's
  * compaction planning, q148's manifest diff, and s35's incremental
  * refresh would actually run AGAINST at 100 TB, reduced to its
  * load-bearing core:
  *
  *   - DATA lives as immutable parquet files, written once, never
  *     rewritten — a commit only writes NEW files plus log rows;
  *   - each SNAPSHOT owns its full manifest list (snapshot_id → the
  *     exact file set + per-file row counts), so any historical state
  *     is reconstructible from the log alone — time travel is "read
  *     the files snapshot N lists", nothing else;
  *   - the CURRENT pointer advances by an atomic conditional swap
  *     inside one transaction (the s35 ledger discipline): a commit
  *     declares the parent snapshot it built on, and the swap succeeds
  *     only if the pointer still equals that parent — a concurrent or
  *     stale committer gets a clean REJECT (optimistic concurrency,
  *     exactly Iceberg's commit protocol), never a half-visible table.
  *
  * The protocol has one version of each primitive: [[init]] creates
  * every log table; [[commit]] is the only writer of a snapshot — it
  * swaps main's pointer or a named branch ref and writes the snapshot,
  * data-manifest, delete-manifest and stale-marker rows in that one
  * transaction; [[moveCurrent]] is the only snapshot-less pointer move
  * (publish, rollback); [[expireSnapshots]] is the only expiry, and
  * always keeps the root, the current snapshot and every ref-named
  * snapshot; [[read]] is the one plain read of a snapshot. Every
  * pointer move goes through one conditional swap statement. Every
  * function that issues SQL against a log table lives here; the entries
  * that run on the log are [[SnapshotLog]]'s.
  *
  * Scale shape: the log is METADATA (snapshots × files rows through one
  * JDBC hop — the DuckDbLive bounded-export contract); data files never
  * move after write, and a time-travel read plans a plain parquet scan
  * of the listed files (all Catalyst pushdowns intact). Reference
  * anchor: the commit cadence + CHECKPOINT lifecycle of
  * `DatabaseWriter.cs:357-464` is this protocol's single-writer
  * degenerate case, and `DatabaseWriter.cs:131-256` derives its one
  * schema in one place, as [[init]] does.
  */
object TableLog {

  // ------------------------------------------------------------------
  // The commit protocol
  // ------------------------------------------------------------------

  /** DuckDB's optimistic-MVCC write-write conflict (measured from the
    * engine: "TransactionContext Error: Conflict on update!") — the ONLY
    * failure the commit path maps to a clean retryable reject. Missing
    * tables ("Catalog Error"), PK violations ("Constraint Error") and
    * I/O faults carry different prefixes and RETHROW: a genuine failure
    * masquerading as a stale-parent reject would send callers into a
    * futile retry loop against a broken log.
    *
    * Matched against BOTH message fragments the engine emits for this
    * condition — the "TransactionContext Error" category prefix and the
    * "Conflict on update" detail — so a driver release that re-words or
    * wraps one half still classifies the conflict instead of crashing a
    * racing committer. Message shape is pinned against duckdb_jdbc
    * 1.0.0 (the version in build.sbt); on a driver upgrade, re-run
    * SnapshotLogSpec's 4-way race test deliberately — it is the thing
    * that measures this string.
    */
  private def isWriteConflict(e: Throwable): Boolean =
    Option(e.getMessage).exists(m =>
      m.contains("TransactionContext Error") || m.contains("Conflict on update"))

  /** The three per-snapshot file lists: data, equality-delete and
    * position-delete manifests.
    */
  private val ManifestTables =
    Seq("manifests", "delete_manifests", "position_delete_manifests")

  /** The tables keyed by file path: a file's sequence number, stats,
    * spec, schema, column sketches and stale markers.
    */
  private val FileTables = Seq("file_seq", "file_stats", "file_spec", "file_schema",
    "col_stats", "col_ndv", "col_topk", "col_cms", "stat_stale")

  /** Insert log rows via PreparedStatement inside the caller's
    * transaction — paths are DATA, never spliced into SQL text (an
    * apostrophe in a path must not be able to tear the layer whose
    * whole contract is torn-proof commits). Every row a commit writes
    * (snapshot, data/delete manifest entries, stale markers) goes
    * through here; `DuckDbLive.insertRows` commits on its own and would
    * split the commit's transaction.
    */
  private def insertManifests(
      c: java.sql.Connection,
      table: String,
      rows: Seq[Product]): Unit =
    if (rows.nonEmpty) {
      val ps = c.prepareStatement(
        s"INSERT INTO $table VALUES (${Seq.fill(rows.head.productArity)("?").mkString(", ")})")
      try rows.foreach { r =>
        r.productIterator.zipWithIndex.foreach {
          case (v: Long, i) => ps.setLong(i + 1, v)
          case (v: String, i) => ps.setString(i + 1, v)
        }
        ps.executeUpdate()
      } finally ps.close()
    }

  /** Run `body` in one transaction on `c`: commit on success, rollback
    * and rethrow on any failure.
    */
  private def inTransaction[A](c: java.sql.Connection)(body: => A): A = {
    c.setAutoCommit(false)
    try {
      val out = body
      c.commit()
      out
    } catch {
      case scala.util.control.NonFatal(e) =>
        try c.rollback()
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    } finally c.setAutoCommit(true)
  }

  /** Create the empty log — every log table, in one transaction:
    * snapshot 0 is the empty table and the current pointer starts
    * there. No entry issues DDL of its own.
    *
    * The tables a [[commit]] writes:
    *
    *   - `snapshots` + `manifests` + `current`: each snapshot's parent
    *     and full data-file list (path, n_rows), and main's pointer (one
    *     pinned row).
    *   - `refs`: named branch refs (Iceberg refs / Nessie branches). A
    *     ref is a movable pointer into the SAME snapshot DAG the main
    *     `current` pointer reads — staged work advances a branch ref
    *     with the identical optimistic-swap discipline, and publishing
    *     is a pointer move, never a data copy.
    *   - `delete_manifests` + `file_seq`: merge-on-read metadata
    *     (Iceberg v2 row-level-delete shape). Delete files are
    *     first-class manifest entries per snapshot, and every file —
    *     data or delete — carries the SEQUENCE NUMBER of the commit that
    *     added it. The sequence number is the load-bearing rule: an
    *     equality delete applies only to data files with a STRICTLY
    *     LOWER seq, which is exactly what lets an update (delete old
    *     version + insert new version in the same commit) not delete its
    *     own re-inserted rows.
    *   - `position_delete_manifests`: POSITION deletes (Iceberg v2's
    *     second row-level-delete kind, the one Spark/Iceberg writers
    *     emit by default) — a delete file of (data-file path, row
    *     ordinal) tuples masking exact rows. The seq rule is deliberately
    *     ASYMMETRIC to equality deletes: a position delete applies to
    *     data files with seq <= its own (it names an exact file, so a
    *     commit can position-delete rows of the file it writes — the
    *     streaming-upsert flush pattern), while an equality delete
    *     applies strictly below (so an update never eats its own
    *     re-inserted keys).
    *   - `stat_stale`: staleness markers for the long-form stat tables.
    *     col_ndv is append-only and HLL registers cannot be decremented,
    *     so a delete that removes rows from a file makes that file's
    *     sketch rows an OVER-COUNT — silently, unless the delete commit
    *     marks them. The marker is a separate log table (Iceberg's
    *     stats-invalidation shape: metadata marks, never mutation of the
    *     immutable sketch rows); readers exclude marked (path, column)
    *     pairs and recompute the stale scope from data (q215's
    *     pruned-scope read).
    *
    * File metadata that scan planning reads without opening a data file:
    *
    *   - `file_stats`: file-level partition stats (Iceberg manifest-entry
    *     shape): each immutable data file records the single partition
    *     value it covers, so scan planning / merge-affected-file
    *     selection is a METADATA lookup.
    *   - `file_spec`: the partition-spec registry (Iceberg partition
    *     evolution): each data file records WHICH spec partitioned it and
    *     its value under that spec — changing the table's partitioning is
    *     a metadata change, never a rewrite of existing files.
    *   - `snapshot_ts`: snapshot timestamps (Iceberg's snapshot history /
    *     Delta's commit timestamps): each snapshot records WHEN it
    *     committed, so readers can address the table by time ("FOR
    *     TIMESTAMP AS OF t" = the newest snapshot with ts <= t) and
    *     operators can ROLL BACK — a pointer move to an older snapshot
    *     that preserves history (the abandoned lineage stays
    *     time-travelable until expiration). Timestamps are
    *     caller-supplied logical instants, not wall clock — determinism
    *     is the gate's contract.
    *   - `schema_fields` + `file_schema`: the schema registry (Iceberg
    *     schema evolution): schemas are LOG metadata with per-column
    *     FIELD IDS, and every data file records which schema it was
    *     written under. Column evolution — add, drop, rename — is a
    *     metadata change that never rewrites a file: readers project
    *     each file's columns BY FIELD ID ([[evolvedRead]]), so a renamed
    *     column still reads from the old file's physical column (same
    *     id, old name) and a field the file predates projects NULL.
    *   - `col_stats`: ONE long-form stat table for every column-stats
    *     consumer (the Iceberg shape: lower_bounds/upper_bounds keyed by
    *     column): s52/s55 record single-column cents ranges, s57 records
    *     the (x, y) pair — all land as (path, col_name, min_v, max_v)
    *     rows, and a 1-D range and a 2-D box are the SAME planner query
    *     ([[pruneByCols]]) with one resp. two per-column stat joins.
    *   - `bucket_specs`: the bucket COUNT each snapshot's co-located
    *     layout was written with — s48's cross-spec discipline
    *     (partition-spec evolution) applied to bucket specs, so a layout
    *     rewrite is planned from metadata and a reader pinned to the old
    *     layout is REJECTED, never silently mis-co-located.
    *   - `manifest_groups` + `group_entries`: the two-level manifest list
    *     (Iceberg's snapshot → manifest-list → manifest-file hierarchy):
    *     data-file entries are grouped into MANIFEST GROUPS, each
    *     carrying a partition-value summary (min_b/max_b) in the
    *     top-level list, so planning prunes whole groups before reading
    *     any per-file entry rows ([[planGroups]]).
    *
    * The statistics and decisions a planner reads:
    *
    *   - `col_ndv`: per-file NDV sketches (Iceberg puffin / theta-sketch
    *     shape, on the exact-integer HLL kernel `graft.ops.Hll`): each
    *     data file carries its ≤64 (bucket, max-rank) register rows per
    *     column as STATS METADATA, and a planner estimates the distinct
    *     count of any file subset by merging registers (per-bucket max)
    *     — metadata-only, no scan. Long-form by col_name exactly as
    *     `col_stats` is for the min/max stats: ONE table answers
    *     "registers of column c over file scope X" for ANY recorded
    *     column, which is what turns q210's dedicated-census demo into a
    *     planner input (q212).
    *   - `col_topk`: long-form per-file, per-column top-k frequency rows
    *     — the fourth stat the planner-decision family needs (q212
    *     cardinality → q214 order → q216 broadcast → q218 skew): col_ndv
    *     answers "how many distinct keys", col_topk answers "how hot is
    *     the hottest one". Exact capped top-k per file at these SFs; the
    *     100 TB row shape is identical for a count-min/SpaceSaving
    *     summary.
    *   - `col_cms`: long-form per-file count-min sketch rows, (path,
    *     col_name, row_i, col_j, cnt) — see [[CmsDepth]].
    *   - `decision_log`: one row per (snapshot, edge) planner decision —
    *     the inputs read, the strategy chosen, and the audit verdict.
    *     q212–q226 each audit a decision WITHIN one entry run; recording
    *     the row makes estimator/stat drift observable ACROSS commits
    *     (the s76 lifecycle replays two commits whose stats drift and
    *     surfaces the flipped decision from the persisted rows alone).
    *   - `apply_log`: the s62 consumer's idempotence ledger, one row per
    *     APPLIED change batch ([[claimApply]]).
    */
  private[graft] def init(dbFile: String): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      val manifestCols = "snapshot_id BIGINT NOT NULL, path VARCHAR NOT NULL, n_rows BIGINT NOT NULL"
      val statKey = "path VARCHAR NOT NULL, col_name VARCHAR NOT NULL"
      inTransaction(c) {
        Seq(
          "CREATE TABLE snapshots(snapshot_id BIGINT PRIMARY KEY, parent_id BIGINT NOT NULL)",
          s"CREATE TABLE manifests($manifestCols)",
          s"CREATE TABLE delete_manifests($manifestCols)",
          s"CREATE TABLE position_delete_manifests($manifestCols)",
          "CREATE TABLE current(pin BIGINT PRIMARY KEY CHECK (pin = 0), snapshot_id BIGINT NOT NULL)",
          "CREATE TABLE refs(name VARCHAR PRIMARY KEY, snapshot_id BIGINT NOT NULL)",
          "CREATE TABLE file_seq(path VARCHAR PRIMARY KEY, seq BIGINT NOT NULL)",
          s"CREATE TABLE stat_stale($statKey)",
          "CREATE TABLE file_stats(path VARCHAR PRIMARY KEY, bucket BIGINT NOT NULL)",
          "CREATE TABLE file_spec(path VARCHAR PRIMARY KEY, spec_id BIGINT NOT NULL, pval BIGINT NOT NULL)",
          "CREATE TABLE snapshot_ts(snapshot_id BIGINT PRIMARY KEY, ts BIGINT NOT NULL)",
          """CREATE TABLE schema_fields(schema_id BIGINT NOT NULL, field_id BIGINT NOT NULL,
            |name VARCHAR NOT NULL, dtype VARCHAR NOT NULL)""".stripMargin,
          "CREATE TABLE file_schema(path VARCHAR PRIMARY KEY, schema_id BIGINT NOT NULL)",
          s"""CREATE TABLE col_stats($statKey, min_v BIGINT NOT NULL, max_v BIGINT NOT NULL,
             |PRIMARY KEY (path, col_name))""".stripMargin,
          "CREATE TABLE bucket_specs(snapshot_id BIGINT NOT NULL, n_buckets BIGINT NOT NULL)",
          """CREATE TABLE manifest_groups(snapshot_id BIGINT NOT NULL, group_id BIGINT NOT NULL,
            |min_b BIGINT NOT NULL, max_b BIGINT NOT NULL, n_entries BIGINT NOT NULL)""".stripMargin,
          """CREATE TABLE group_entries(snapshot_id BIGINT NOT NULL, group_id BIGINT NOT NULL,
            |path VARCHAR NOT NULL, bucket BIGINT NOT NULL)""".stripMargin,
          s"CREATE TABLE col_ndv($statKey, bucket BIGINT NOT NULL, mr BIGINT NOT NULL)",
          s"CREATE TABLE col_topk($statKey, key_val BIGINT NOT NULL, cnt BIGINT NOT NULL)",
          s"""CREATE TABLE col_cms($statKey, row_i BIGINT NOT NULL, col_j BIGINT NOT NULL,
             |cnt BIGINT NOT NULL)""".stripMargin,
          """CREATE TABLE decision_log(snapshot_id BIGINT, edge VARCHAR, n_rows BIGINT,
            |ndv_est BIGINT, top1_key BIGINT, top1_cnt BIGINT, skew_x100 BIGINT,
            |strategy VARCHAR, audit_ok BOOLEAN)""".stripMargin,
          "CREATE TABLE apply_log(batch_id BIGINT PRIMARY KEY)",
          "INSERT INTO current VALUES (0, 0)",
          "INSERT INTO snapshots VALUES (0, 0)"
        ).foreach(DuckDbLive.execute(c, _))
      }
    }

  /** The conditional pointer swap: move main's `current` pointer
    * (`ref` = None) or the named branch ref from `expected` to `to`,
    * true iff the pointer still sat at `expected`. The only statement in
    * the log that moves a pointer.
    */
  private def swap(c: java.sql.Connection, ref: Option[String], expected: Long, to: Long): Boolean = {
    val ps = c.prepareStatement(ref.fold(
      "UPDATE current SET snapshot_id = ? WHERE snapshot_id = ? AND pin = 0")(_ =>
      "UPDATE refs SET snapshot_id = ? WHERE snapshot_id = ? AND name = ?"))
    try {
      ps.setLong(1, to)
      ps.setLong(2, expected)
      ref.foreach(ps.setString(3, _))
      ps.executeUpdate() == 1
    } finally ps.close()
  }

  /** Commit `snapshotId` whose manifest list is `dataFiles`, built on
    * `expectedParent`. TRANSACTIONAL + OPTIMISTIC: the conditional
    * pointer swap runs in the same transaction as the snapshot row and
    * every manifest row, so a stale parent (update count 0) writes
    * nothing and returns false — and a RACING committer that
    * touched the pointer row first surfaces as DuckDB's optimistic-MVCC
    * write-write conflict, which is caught and reported as the same
    * clean reject (the loser retries against the new parent or gives
    * up; it never half-commits). Returns true iff this call advanced
    * the table.
    *
    * With `ref` set the commit advances that BRANCH ref instead of main:
    * same transaction shape, so staged history is exactly as torn-proof
    * as published history; main's pointer is never touched.
    *
    * Row-level deletes ride the same transaction: equality-delete and
    * position-delete manifests land with the data manifest, so a torn
    * commit can never leave data files visible without the delete
    * files that mask their dead rows. `staleMarkers` (path, col) rows
    * land in `stat_stale` INSIDE that transaction too — a delete that
    * invalidates sketch rows must never become visible without its
    * markers (a crash between the swap and a follow-up marker insert
    * would leave col_ndv/col_topk/col_cms looking fresh over rows that
    * no longer exist — the silent over-count s71/s74 exist to prevent).
    */
  private[graft] def commit(
      dbFile: String,
      expectedParent: Long,
      snapshotId: Long,
      dataFiles: Seq[(String, Long)],
      eqDeletes: Seq[(String, Long)] = Nil,
      posDeletes: Seq[(String, Long)] = Nil,
      staleMarkers: Seq[(String, String)] = Nil,
      ref: Option[String] = None): Boolean =
    DuckDbLive.withConnection(dbFile) { c =>
      def entries(files: Seq[(String, Long)]) = files.map { case (p, n) => (snapshotId, p, n) }
      try inTransaction(c) {
        swap(c, ref, expectedParent, snapshotId) && {
          insertManifests(c, "snapshots", Seq((snapshotId, expectedParent)))
          ManifestTables.zip(Seq(dataFiles, eqDeletes, posDeletes)).foreach { case (t, fs) =>
            insertManifests(c, t, entries(fs))
          }
          insertManifests(c, "stat_stale", staleMarkers)
          true
        }
      } catch {
        // racing committer won the pointer row (MVCC write-write
        // conflict) — same clean reject as the stale-parent path;
        // any OTHER failure rethrows (see isWriteConflict)
        case scala.util.control.NonFatal(e) if isWriteConflict(e) => false
      }
    }

  /** Move main's pointer from `expected` to `to` without writing a
    * snapshot — conditional on the expected head, so a racing writer is
    * never silently clobbered or undone:
    *
    *   - PUBLISH: fast-forward main to an audited staged snapshot; it
    *     succeeds only if main still sits at the parent the stage was
    *     cut from (a concurrent main commit makes the staged lineage
    *     stale, and the publish must reject, not clobber).
    *   - ROLLBACK: move main back to an older snapshot, rewriting NO
    *     history: the rolled-back-from lineage stays in the log,
    *     readable and expirable, exactly like Iceberg's
    *     rollback_to_snapshot.
    */
  private[graft] def moveCurrent(dbFile: String, expected: Long, to: Long): Boolean =
    DuckDbLive.withConnection(dbFile)(swap(_, None, expected, to))

  /** Expire every snapshot older than `olderThan` — never the empty root
    * 0, never the current pointer, and never a snapshot any ref names
    * (Iceberg's tag semantics: a tag pinning an audited state or a
    * branch head survives expiry regardless of age): delete their
    * snapshot row and their rows in all three manifest tables (data,
    * equality-delete, position-delete) in ONE transaction. Iceberg's
    * `expire_snapshots` shape — after this, those historical states are
    * no longer time-travelable and any file referenced ONLY by them
    * becomes garbage, so the same transaction deletes that file's rows
    * in every [[FileTables]] table. A file no snapshot ever listed (staged,
    * not yet committed) keeps its rows. Returns the expired ids
    * (ascending).
    */
  private[graft] def expireSnapshots(dbFile: String, olderThan: Long): Seq[Long] =
    DuckDbLive.withConnection(dbFile) { c =>
      inTransaction(c) {
        val ids = DuckDbLive
          .queryRows(
            c,
            s"""SELECT snapshot_id FROM snapshots
               WHERE snapshot_id > 0 AND snapshot_id < $olderThan
               AND snapshot_id <> (SELECT snapshot_id FROM current WHERE pin = 0)
               AND snapshot_id NOT IN (SELECT snapshot_id FROM refs)
               ORDER BY snapshot_id""")
          .map(_.head.asInstanceOf[Number].longValue)
        if (ids.nonEmpty) {
          val expired = ids.mkString(", ")
          def listed(pred: String) =
            ManifestTables.map(t => s"SELECT path FROM $t WHERE snapshot_id $pred").mkString(" UNION ")
          val garbage = s"""SELECT path FROM (${listed(s"IN ($expired)")})
                            WHERE path NOT IN (${listed(s"NOT IN ($expired)")})"""
          val st = c.createStatement()
          try {
            FileTables.foreach(t => st.executeUpdate(s"DELETE FROM $t WHERE path IN ($garbage)"))
            (ManifestTables :+ "snapshots").foreach(t =>
              st.executeUpdate(s"DELETE FROM $t WHERE snapshot_id IN ($expired)"))
          } finally st.close()
        }
        ids
      }
    }

  /** Every file still referenced by ANY retained snapshot — data files
    * and both kinds of delete file — the reachability set orphan-file GC
    * deletes against. A delete file left out of it would be collected
    * while the snapshot that lists it still masks rows with it. Pure log
    * metadata (one DISTINCT over the manifest rows), never a storage
    * listing join against data contents.
    */
  private[graft] def liveFiles(dbFile: String): Set[String] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(c, ManifestTables.map(t => s"SELECT path FROM $t").mkString(" UNION "))
        .map(_.head.toString)
        .toSet
    }

  private[graft] def createRef(dbFile: String, name: String, at: Long): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      val ps = c.prepareStatement("INSERT INTO refs VALUES (?, ?)")
      try {
        ps.setString(1, name)
        ps.setLong(2, at)
        ps.executeUpdate()
        ()
      } finally ps.close()
    }

  private[graft] def refSnapshot(dbFile: String, name: String): Long =
    DuckDbLive.withConnection(dbFile) { c =>
      val ps = c.prepareStatement("SELECT snapshot_id FROM refs WHERE name = ?")
      try {
        ps.setString(1, name)
        val rs = ps.executeQuery()
        try { rs.next(); rs.getLong(1) }
        finally rs.close()
      } finally ps.close()
    }

  private[graft] def dropRef(dbFile: String, name: String): Boolean =
    DuckDbLive.withConnection(dbFile) { c =>
      val ps = c.prepareStatement("DELETE FROM refs WHERE name = ?")
      try {
        ps.setString(1, name)
        ps.executeUpdate() == 1
      } finally ps.close()
    }

  /** Claim change batch `batchId` in the `apply_log` idempotence
    * ledger: true iff this call is the first claim. The claim is a
    * single-statement `INSERT .. ON CONFLICT DO NOTHING` (update count
    * 0 = already applied), the same no-check-then-act window discipline
    * as `IncrementalRefresh.applyRefresh` — a redelivered batch is
    * rejected atomically, never half-applied.
    *
    * Scope: the single-statement claim closes the check-then-act RACE
    * (two concurrent deliveries of one batch id), which is the
    * concurrency discipline this ledger pins. It does NOT give crash
    * atomicity — the claim precedes the replica write, so a crash in
    * between would leave the batch claimed-but-unapplied; true
    * exactly-once under crashes requires committing the batch id
    * transactionally WITH the sink data (Delta's txnAppId/txnVersion).
    * In s62's deterministic lifecycle the in-hash consume_ok equality
    * (replica census == source-of-truth census per step) would surface
    * any such gap.
    */
  private[graft] def claimApply(dbFile: String, batchId: Long): Boolean =
    DuckDbLive.withConnection(dbFile) { c =>
      val st = c.createStatement()
      try st.executeUpdate(
        s"INSERT INTO apply_log VALUES ($batchId) ON CONFLICT DO NOTHING") == 1
      finally st.close()
    }

  // ------------------------------------------------------------------
  // Snapshot reads
  // ------------------------------------------------------------------

  private[graft] def currentSnapshot(dbFile: String): Long =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(c, "SELECT snapshot_id FROM current WHERE pin = 0")
        .head.head.asInstanceOf[Number].longValue
    }

  /** Snapshot N's manifest list (path, n_rows) — the full file set. */
  private[graft] def manifest(dbFile: String, snapshotId: Long): Seq[(String, Long)] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(
          c,
          s"SELECT path, n_rows FROM manifests WHERE snapshot_id = $snapshotId ORDER BY path")
        .map(r => (r(0).toString, r(1).asInstanceOf[Number].longValue))
    }

  /** Snapshot `snap` as a plain parquet read of the data files its
    * manifest lists — time travel is this read, nothing else.
    */
  private[graft] def read(spark: SparkSession, dbFile: String, snap: Long): DataFrame =
    Tables.parquet(spark, manifest(dbFile, snap).map(_._1): _*)

  /** (row count, sum of `cents`) per snapshot in `snaps`, from ONE job:
    * each snapshot's read is tagged with its id, the reads are unioned
    * and a single `groupBy("snap")` counts them all. `readSnap` is the
    * snapshot read to census — [[read]] by default, a merge-on-read for
    * the MOR entries.
    */
  private[graft] def census(spark: SparkSession, dbFile: String, snaps: Seq[Long])(
      readSnap: Long => DataFrame = read(spark, dbFile, _)): Map[Long, (Long, Long)] =
    snaps
      .map(snap => readSnap(snap).select(lit(snap).as("snap"), col("cents")))
      .reduce(_ unionByName _)
      .groupBy("snap").agg(count(lit(1)), sum(col("cents")))
      .collect() // one row per snapshot
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

  /** Snapshot N's files in one manifest table with their sequence
    * numbers, by path.
    */
  private def filesWithSeq(dbFile: String, table: String, snapshotId: Long): Seq[(String, Long)] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(
          c,
          s"""SELECT m.path, s.seq FROM $table m JOIN file_seq s ON m.path = s.path
             WHERE m.snapshot_id = $snapshotId ORDER BY m.path""")
        .map(r => (r(0).toString, r(1).asInstanceOf[Number].longValue))
    }

  /** Snapshot N's data files with their sequence numbers. */
  private[graft] def manifestSeq(dbFile: String, snapshotId: Long): Seq[(String, Long)] =
    filesWithSeq(dbFile, "manifests", snapshotId)

  /** Snapshot N's equality-delete files with their sequence numbers. */
  private[graft] def deleteSeq(dbFile: String, snapshotId: Long): Seq[(String, Long)] =
    filesWithSeq(dbFile, "delete_manifests", snapshotId)

  /** Snapshot N's position-delete files with their sequence numbers. */
  private[graft] def posDeleteSeq(dbFile: String, snapshotId: Long): Seq[(String, Long)] =
    filesWithSeq(dbFile, "position_delete_manifests", snapshotId)

  /** The v2 MOR read path, reconstructed from the log alone: data files
    * unioned with their seq AND their per-row (file, ordinal) identity
    * (Spark's `_metadata.file_path` / `_metadata.row_index` hidden
    * columns — the engine-native row-position source, no synthetic
    * zipWithIndex pass), equality-dead rows masked by the strictly-
    * lower-seq anti-join on `keyCol`, position-dead rows masked by the
    * ordinal anti-join SCOPED PER FILE (path equality) under the <=
    * rule (pseq >= fseq). Scale shape: both masks are anti-joins of the
    * scan against delta-sized delete frames (broadcastable); ordinals
    * never materialize outside the join keys.
    */
  private[graft] def morReadV2(
      spark: SparkSession,
      dbFile: String,
      snap: Long,
      keyCol: String,
      onlyFiles: Option[Set[String]] = None): DataFrame = {
    val dataFiles = manifestSeq(dbFile, snap)
      .filter(f => onlyFiles.forall(_.contains(f._1)))
    require(
      dataFiles.nonEmpty,
      s"morReadV2: snapshot $snap has no data files" +
        onlyFiles.fold("")(s => s" after onlyFiles filter (${s.size} allowed)") +
        " — reduce over zero per-seq groups would throw an opaque " +
        "UnsupportedOperationException")
    val data = dataFiles
      .groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (sq, fs) =>
        Tables.parquet(spark, fs.map(_._1): _*)
          .withColumn("fseq", lit(sq))
          .withColumn("fpath", col("_metadata.file_path"))
          .withColumn("fpos", col("_metadata.row_index"))
      }
      .reduce(_ unionByName _)
    val eq = deleteSeq(dbFile, snap)
    val afterEq =
      if (eq.isEmpty) data
      else data.as("f").join(
        eq.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (sq, fs) =>
            Tables.parquet(spark, fs.map(_._1): _*).withColumn("dseq", lit(sq))
          }
          .reduce(_ unionByName _)
          .as("dv"),
        col(s"f.$keyCol") === col(s"dv.$keyCol") && col("dv.dseq") > col("f.fseq"),
        "left_anti")
    val pos = posDeleteSeq(dbFile, snap)
    val out =
      if (pos.isEmpty) afterEq
      else afterEq.as("f").join(
        pos.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (sq, fs) =>
            Tables.parquet(spark, fs.map(_._1): _*).withColumn("pseq", lit(sq))
          }
          .reduce(_ unionByName _)
          .as("pv"),
        col("f.fpath") === col("pv.pd_path") && col("f.fpos") === col("pv.pd_pos") &&
          col("pv.pseq") >= col("f.fseq"),
        "left_anti")
    out.drop("fseq", "fpath", "fpos")
  }

  /** Every (snapshot_id, parent_id) row of the log, by snapshot id. */
  private[graft] def snapshotRows(dbFile: String): Seq[(Long, Long)] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.queryRows(c, "SELECT snapshot_id, parent_id FROM snapshots ORDER BY 1")
        .map(r => (
          r(0).asInstanceOf[Number].longValue,
          r(1).asInstanceOf[Number].longValue))
    }

  /** Every (snapshot_id, path, n_rows) data-manifest row of the log. */
  private[graft] def manifestRows(dbFile: String): Seq[(Long, String, Long)] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.queryRows(c, "SELECT snapshot_id, path, n_rows FROM manifests ORDER BY 1, 2")
        .map(r => (
          r(0).asInstanceOf[Number].longValue,
          r(1).toString,
          r(2).asInstanceOf[Number].longValue))
    }

  // ------------------------------------------------------------------
  // File metadata and scan planning
  // ------------------------------------------------------------------

  private[graft] def recordSeq(dbFile: String, paths: Seq[String], seq: Long): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(c, "INSERT INTO file_seq VALUES (?, ?)", paths) {
        (ps, o, p) =>
          ps.setString(o + 1, p)
          ps.setLong(o + 2, seq)
      }
    }

  private[graft] def recordStats(dbFile: String, stats: Seq[(String, Long)]): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(c, "INSERT INTO file_stats VALUES (?, ?)", stats) {
        (ps, o, r) =>
          ps.setString(o + 1, r._1)
          ps.setLong(o + 2, r._2)
      }
    }

  /** The data files of snapshot `snapshotId` whose recorded partition
    * value overlaps the delta's buckets — Iceberg scan planning reduced
    * to its core: manifest rows × file stats, zero data-file reads.
    */
  private[graft] def prunePaths(
      dbFile: String,
      snapshotId: Long,
      buckets: Seq[Long]): Seq[String] =
    if (buckets.isEmpty) Seq.empty
    else
      DuckDbLive.withConnection(dbFile) { c =>
        DuckDbLive
          .queryRows(
            c,
            s"""SELECT m.path FROM manifests m JOIN file_stats f ON m.path = f.path
               WHERE m.snapshot_id = $snapshotId
               AND f.bucket IN (${buckets.mkString(",")})
               ORDER BY m.path""")
          .map(_.head.toString)
      }

  /** The bin-pack PLAN, computed purely from log metadata: snapshot N's
    * manifest rows joined to the partition stats, filtered to files
    * with n_rows < threshold, grouped by bucket — only groups of ≥ 2
    * small files are worth a rewrite (one small file alone gains
    * nothing). Zero data reads; at 100 TB this is the planning query
    * Delta's OPTIMIZE runs over its own metadata.
    */
  private[graft] def planBinpack(
      dbFile: String,
      snapshotId: Long,
      threshold: Long): Seq[(Long, Seq[String])] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(
          c,
          s"""SELECT f.bucket, m.path
             FROM manifests m JOIN file_stats f ON m.path = f.path
             WHERE m.snapshot_id = $snapshotId AND m.n_rows < $threshold
             ORDER BY f.bucket, m.path""")
        .map(r => (r(0).asInstanceOf[Number].longValue, r(1).toString))
        .groupBy(_._1)
        .map { case (b, rows) => (b, rows.map(_._2)) }
        .filter(_._2.size >= 2)
        .toSeq
        .sortBy(_._1)
    }

  private[graft] def recordSpec(
      dbFile: String,
      stats: Seq[(String, Long, Long)]): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(c, "INSERT INTO file_spec VALUES (?, ?, ?)", stats) {
        (ps, o, r) =>
          ps.setString(o + 1, r._1)
          ps.setLong(o + 2, r._2)
          ps.setLong(o + 3, r._3)
      }
    }

  /** Spec-aware scan planning: the files of `snapshotId` whose partition
    * value can contain rows matching the per-spec value map — one
    * metadata query across ALL specs at once (`wanted` maps spec_id →
    * the value the predicate implies under that spec's transform).
    */
  private[graft] def pruneAcrossSpecs(
      dbFile: String,
      snapshotId: Long,
      wanted: Map[Long, Long]): Seq[String] =
    if (wanted.isEmpty) Seq.empty
    else
      DuckDbLive.withConnection(dbFile) { c =>
        val cond = wanted
          .map { case (spec, v) => s"(f.spec_id = $spec AND f.pval = $v)" }
          .mkString(" OR ")
        DuckDbLive
          .queryRows(
            c,
            s"""SELECT m.path FROM manifests m JOIN file_spec f ON m.path = f.path
               WHERE m.snapshot_id = $snapshotId AND ($cond)
               ORDER BY m.path""")
          .map(_.head.toString)
      }

  private[graft] def recordColStats(
      dbFile: String,
      col: String,
      stats: Seq[(String, Long, Long)]): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(c, "INSERT INTO col_stats VALUES (?, ?, ?, ?)", stats) {
        (ps, o, r) =>
          ps.setString(o + 1, r._1)
          ps.setString(o + 2, col)
          ps.setLong(o + 3, r._2)
          ps.setLong(o + 4, r._3)
      }
    }

  /** Snapshot N's data files whose recorded per-column [min, max] range
    * OVERLAPS [lo, hi] on EVERY queried column — Iceberg's
    * lower_bounds/upper_bounds skipping as a pure metadata join:
    * manifest rows × one stat join per queried column, zero data reads.
    * (s43's prunePaths skips on partition EQUALITY; this is the RANGE
    * half — the one that rewards clustering.)
    */
  private[graft] def pruneByCols(
      dbFile: String,
      snapshotId: Long,
      bounds: Seq[(String, Long, Long)]): Seq[String] = {
    require(bounds.nonEmpty, "pruneByCols needs at least one column bound")
    val joins = bounds.zipWithIndex.map { case ((col, _, _), i) =>
      s"""JOIN col_stats s$i ON m.path = s$i.path AND s$i.col_name = '$col'"""
    }.mkString(" ")
    val preds = bounds.zipWithIndex.map { case ((_, lo, hi), i) =>
      s"s$i.max_v >= $lo AND s$i.min_v <= $hi"
    }.mkString(" AND ")
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(
          c,
          s"""SELECT m.path FROM manifests m $joins
             WHERE m.snapshot_id = $snapshotId AND $preds
             ORDER BY m.path""")
        .map(_.head.toString)
    }
  }

  private[graft] def recordGroup(
      dbFile: String,
      snapshotId: Long,
      groupId: Long,
      entries: Seq[(String, Long)]): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      val st = c.createStatement()
      try st.executeUpdate(
        s"""INSERT INTO manifest_groups VALUES ($snapshotId, $groupId,
           ${entries.map(_._2).min}, ${entries.map(_._2).max}, ${entries.size})""")
      finally st.close()
      DuckDbLive.insertRows(c, "INSERT INTO group_entries VALUES (?, ?, ?, ?)", entries) {
        (ps, o, r) =>
          ps.setLong(o + 1, snapshotId)
          ps.setLong(o + 2, groupId)
          ps.setString(o + 3, r._1)
          ps.setLong(o + 4, r._2)
      }
    }

  /** Two-level plan of snapshot `snapshotId` for buckets [lo, hi]: the
    * groups whose (min_b, max_b) summary overlaps, then only those
    * groups' entry rows. Returns (groups read, entry rows read, the
    * matching files).
    */
  private[graft] def planGroups(
      dbFile: String,
      snapshotId: Long,
      lo: Long,
      hi: Long): (Long, Long, Seq[String]) =
    DuckDbLive.withConnection(dbFile) { c =>
      val gids = DuckDbLive.queryRows(
        c,
        s"""SELECT group_id FROM manifest_groups
           WHERE snapshot_id = $snapshotId AND max_b >= $lo AND min_b <= $hi
           ORDER BY group_id""").map(_(0).asInstanceOf[Number].longValue)
      // an empty survivor set would make the IN () clause a syntax
      // error and the downstream read a confusing failure — fail
      // loudly at the plan layer instead (q204-class guard)
      require(
        gids.nonEmpty,
        s"two-level plan for [$lo, $hi] pruned every manifest group — " +
          "no group summary overlaps the predicate")
      val entries = DuckDbLive.queryRows(
        c,
        s"""SELECT path, bucket FROM group_entries
           WHERE snapshot_id = $snapshotId AND group_id IN (${gids.mkString(", ")})
           ORDER BY path""")
        .map(r => (r(0).toString, r(1).asInstanceOf[Number].longValue))
      (gids.size.toLong, entries.size.toLong,
        entries.collect { case (p, b) if b >= lo && b <= hi => p })
    }

  private[graft] def recordTimestamp(dbFile: String, snapshotId: Long, ts: Long): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      val ps = c.prepareStatement("INSERT INTO snapshot_ts VALUES (?, ?)")
      try { ps.setLong(1, snapshotId); ps.setLong(2, ts); ps.executeUpdate(); () }
      finally ps.close()
    }

  /** FOR TIMESTAMP AS OF: the newest snapshot committed at or before
    * `ts`, or None if the table didn't exist yet. Pure log metadata.
    */
  private[graft] def resolveAsOf(dbFile: String, ts: Long): Option[Long] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(
          c,
          s"""SELECT snapshot_id FROM snapshot_ts WHERE ts <= $ts
             ORDER BY ts DESC, snapshot_id DESC LIMIT 1""")
        .headOption
        .map(_.head.asInstanceOf[Number].longValue)
    }

  private[graft] def recordSchema(
      dbFile: String,
      schemaId: Long,
      fields: Seq[(Long, String, String)]): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(
        c, "INSERT INTO schema_fields VALUES (?, ?, ?, ?)", fields) {
        (ps, o, r) =>
          ps.setLong(o + 1, schemaId)
          ps.setLong(o + 2, r._1)
          ps.setString(o + 3, r._2)
          ps.setString(o + 4, r._3)
      }
    }

  private[graft] def recordFileSchema(
      dbFile: String,
      paths: Seq[String],
      schemaId: Long): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(c, "INSERT INTO file_schema VALUES (?, ?)", paths) {
        (ps, o, p) =>
          ps.setString(o + 1, p)
          ps.setLong(o + 2, schemaId)
      }
    }

  /** Schema N's fields, field-id-ordered: (field_id, name, dtype). */
  private[graft] def schemaFields(
      dbFile: String,
      schemaId: Long): Seq[(Long, String, String)] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(
          c,
          s"""SELECT field_id, name, dtype FROM schema_fields
             WHERE schema_id = $schemaId ORDER BY field_id""")
        .map(r => (r(0).asInstanceOf[Number].longValue, r(1).toString, r(2).toString))
    }

  /** Read snapshot `snap` PROJECTED UNDER `readSchema`, purely from log
    * metadata: group the snapshot's files by their recorded write
    * schema; for each group, resolve every requested field BY ID
    * against that schema — same id under an old name reads the old
    * physical column (rename), an id the file's schema lacks projects
    * typed NULL (add / the re-added-name trap) — then union the groups.
    * Name-based projection here would silently RESURRECT dropped
    * columns whose name was later reused; the field-id indirection is
    * the whole soundness argument, and s50 pins it in-hash.
    */
  private[graft] def evolvedRead(
      spark: SparkSession,
      dbFile: String,
      snap: Long,
      readSchema: Long): DataFrame = {
    val want = schemaFields(dbFile, readSchema)
    val fileSchema: Map[String, Long] = DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(
          c,
          s"""SELECT m.path, f.schema_id FROM manifests m
             JOIN file_schema f ON m.path = f.path
             WHERE m.snapshot_id = $snap ORDER BY m.path""")
        .map(r => r(0).toString -> r(1).asInstanceOf[Number].longValue)
        .toMap
    }
    require(
      fileSchema.nonEmpty,
      s"evolvedRead: snapshot $snap lists no data files with schema ids — " +
        "reduce over zero per-schema groups would throw an opaque " +
        "UnsupportedOperationException")
    fileSchema.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (sid, entries) =>
        val have = schemaFields(dbFile, sid).map(f => f._1 -> f._2).toMap
        Tables.parquet(spark, entries.keys.toSeq.sorted: _*)
          .select(want.map { case (fid, name, dtype) =>
            have.get(fid)
              .map(physical => col(physical).as(name))
              .getOrElse(lit(null).cast(dtype).as(name))
          }: _*)
      }
      .reduce(_ unionByName _)
  }

  private[graft] def recordBucketSpec(
      dbFile: String,
      snapshotId: Long,
      nBuckets: Long): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.execute(
        c,
        s"INSERT INTO bucket_specs VALUES ($snapshotId, $nBuckets)")
    }

  /** Bucket spec of the CURRENT snapshot — the metadata a layout
    * rewrite (and every reader) plans from.
    */
  private[graft] def currentBucketSpec(dbFile: String): Long =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(
          c,
          """SELECT b.n_buckets FROM bucket_specs b
            |JOIN current c ON b.snapshot_id = c.snapshot_id
            |WHERE c.pin = 0""".stripMargin)
        .head.head.asInstanceOf[Number].longValue
    }

  /** Stale-reader guard: a reader compiled against an `expected`-bucket
    * layout must validate the log's current spec BEFORE planning a
    * co-located join — joining 8-bucket task assignments against a
    * 16-bucket layout would be silently WRONG co-location, the failure
    * mode this guard turns into a loud reject.
    */
  private[graft] def requireBucketSpec(dbFile: String, expected: Long): Unit = {
    val cur = currentBucketSpec(dbFile)
    require(
      cur == expected,
      s"stale bucket-spec reader: compiled for $expected buckets, " +
        s"current layout spec is $cur — re-plan from the log")
  }

  // ------------------------------------------------------------------
  // Column sketches and staleness
  // ------------------------------------------------------------------

  /** `SELECT select FROM table` over one (column, file scope) of a
    * long-form stat table, followed by `tail` (GROUP BY / ORDER BY). The
    * column name and the paths are bound as parameters, never spliced
    * into the SQL text.
    */
  private def scopeRows(dbFile: String, table: String, colName: String, paths: Seq[String])(
      select: String,
      tail: String = ""): Seq[IndexedSeq[AnyRef]] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.queryRowsBound(
        c,
        s"""SELECT $select FROM $table
           WHERE col_name = ? AND path IN (${paths.map(_ => "?").mkString(", ")}) $tail""",
        colName +: paths)
    }

  private[graft] def recordColNdv(
      dbFile: String,
      rows: Seq[(String, String, Long, Long)]): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(c, "INSERT INTO col_ndv VALUES (?, ?, ?, ?)", rows) {
        (ps, o, r) =>
          ps.setString(o + 1, r._1)
          ps.setString(o + 2, r._2)
          ps.setLong(o + 3, r._3)
          ps.setLong(o + 4, r._4)
      }
    }

  /** Merged register set of (file scope, column) — per-bucket max over
    * the scope's long-form sketch rows. ≤64 metadata rows per call.
    */
  private[graft] def colNdvRegisters(
      dbFile: String,
      paths: Seq[String],
      colName: String): Seq[(Long, Long)] =
    scopeRows(dbFile, "col_ndv", colName, paths)(
      "bucket, CAST(max(mr) AS BIGINT)", "GROUP BY bucket ORDER BY bucket")
      .map(r => (r(0).asInstanceOf[Number].longValue, r(1).asInstanceOf[Number].longValue))

  /** Stat-table row count of (scope, column) for one family — the
    * metadata-coverage measure s75 surfaces per family (coverage drops
    * while a file's stats are stale-excluded and recovers when the
    * compaction re-stats the rewritten file).
    */
  private[graft] def statRowCount(
      dbFile: String,
      table: String,
      paths: Seq[String],
      colName: String): Long = {
    require(Set("col_ndv", "col_topk", "col_cms")(table), s"unknown stat table $table")
    scopeRows(dbFile, table, colName, paths)("count(*)").head(0).asInstanceOf[Number].longValue
  }

  /** Pair-NDV with the declared fallback: the composite "a|b" col_ndv
    * row family when the log carries it (q225's write-time stat), else
    * the independence product of the single-column estimates capped at
    * the scope's row count — the only honest estimate a log without
    * pair stats can offer. Returns (estimate, n_pair_rows_read);
    * rows_read = 0 marks the fallback path, in-hash at the call sites.
    */
  private[graft] def pairNdvOrProduct(
      dbFile: String,
      paths: Seq[String],
      pairName: String,
      aName: String,
      bName: String,
      nRows: Long): (Long, Long) = {
    val nPairRows = statRowCount(dbFile, "col_ndv", paths, pairName)
    if (nPairRows > 0L)
      (graft.ops.Hll.estimateInt(colNdvRegisters(dbFile, paths, pairName)), nPairRows)
    else {
      val a = graft.ops.Hll.estimateInt(colNdvRegisters(dbFile, paths, aName))
      val b = graft.ops.Hll.estimateInt(colNdvRegisters(dbFile, paths, bName))
      ((BigInt(a) * BigInt(b)).min(BigInt(nRows)).toLong, 0L)
    }
  }

  /** Mark `paths`' `colName` stat rows stale outside a commit (the
    * `stat_stale` table is created by [[init]]).
    */
  private[graft] def markStatsStale(
      dbFile: String,
      paths: Seq[String],
      colName: String): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(c, "INSERT INTO stat_stale VALUES (?, ?)", paths) {
        (ps, o, p) =>
          ps.setString(o + 1, p)
          ps.setString(o + 2, colName)
      }
    }

  /** Which of `paths` carry a stale marker for `colName` — the
    * metadata question the estimator asks before trusting col_ndv.
    */
  private[graft] def staleIn(
      dbFile: String,
      paths: Seq[String],
      colName: String): Seq[String] =
    scopeRows(dbFile, "stat_stale", colName, paths)("DISTINCT path", "ORDER BY path")
      .map(_(0).asInstanceOf[String])

  /** [[colNdvRegisters]] with the staleness GUARD: a scope containing a
    * stale path is REJECTED loudly — an estimator that merged a stale
    * sketch row would silently over-count (registers can't decrement),
    * which is strictly worse than failing. Callers exclude the stale
    * paths (staleIn) and recompute that scope from data.
    */
  private[graft] def colNdvRegistersFresh(
      dbFile: String,
      paths: Seq[String],
      colName: String): Seq[(Long, Long)] = {
    val stale = staleIn(dbFile, paths, colName)
    require(
      stale.isEmpty,
      s"colNdvRegistersFresh: scope contains ${stale.size} stale stat " +
        s"path(s) for column '$colName' (e.g. ${stale.head}) — merging " +
        "them would over-count; exclude them and recompute from data")
    colNdvRegisters(dbFile, paths, colName)
  }

  private[graft] def recordColTopk(
      dbFile: String,
      rows: Seq[(String, String, Long, Long)]): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(c, "INSERT INTO col_topk VALUES (?, ?, ?, ?)", rows) {
        (ps, o, r) =>
          ps.setString(o + 1, r._1)
          ps.setString(o + 2, r._2)
          ps.setLong(o + 3, r._3)
          ps.setLong(o + 4, r._4)
      }
    }

  /** The merged heaviest key of (file scope, column): per-file top-k
    * rows summed per key, argmax by (count desc, key asc) — exact for a
    * dominant key (it sits in EVERY file's top-k by construction),
    * an underestimate for uniform columns, which only pushes the skew
    * ratio DOWN — the safe direction for a salt decision. Metadata only
    * (≤ k·n_files rows); col_name/paths bound, never spliced.
    */
  private[graft] def colTopkMergedTop1(
      dbFile: String,
      paths: Seq[String],
      colName: String): (Long, Long) =
    scopeRows(dbFile, "col_topk", colName, paths)(
      "key_val, CAST(sum(cnt) AS BIGINT) AS c", "GROUP BY key_val ORDER BY c DESC, key_val LIMIT 1")
      .map(r => (r(0).asInstanceOf[Number].longValue, r(1).asInstanceOf[Number].longValue))
      .head

  /** The file-grain top-1 RELIABILITY decision over raw (file, key,
    * cnt) top-k rows — the theoretical bound behind "merged top-1 is
    * exact only when the key is genuinely hot". A key absent from file
    * f's top-k has true count ≤ f's k-th-place count (or 0 when f
    * listed fewer than k rows — its top-k is exhaustive), so:
    *   - an unseen key's count is ≤ Σ_f threshold_f,
    *   - a partially-seen key's count is ≤ observed + Σ over its
    *     MISSING files' thresholds.
    * The merged top-1 is CERTAIN to be the true heaviest key iff its
    * (lower-bound) observed sum beats both bounds. On a uniform column
    * the bit goes FALSE — exactly the q222-measured underestimate
    * (merged 11 vs exact 24) a planner must not silently trust.
    * Pure arithmetic over ≤ k·n_files metadata rows.
    */
  private[graft] def top1Reliability(
      rows: Seq[(String, Long, Long)],
      k: Int = 8): (Long, Long, Boolean) = {
    val th: Map[String, Long] = rows.groupBy(_._1).map { case (p, rs) =>
      (p, if (rs.size >= k) rs.map(_._3).min else 0L)
    }
    val totalTh = th.values.sum
    val obs: Map[Long, Long] =
      rows.groupBy(_._2).map { case (key, rs) => (key, rs.map(_._3).sum) }
    val presentBy: Map[Long, Set[String]] =
      rows.groupBy(_._2).map { case (key, rs) => (key, rs.map(_._1).toSet) }
    val (t1k, t1c) = obs.toSeq.maxBy { case (key, c) => (c, -key) }
    val reliable = t1c >= totalTh && obs.forall { case (key, c) =>
      key == t1k || {
        val ub = c + th.collect {
          case (p, t) if !presentBy(key).contains(p) => t
        }.sum
        ub <= t1c
      }
    }
    (t1k, t1c, reliable)
  }

  /** [[colTopkMergedTop1]] with the [[top1Reliability]] bit — reads the
    * scope's raw top-k rows (≤ k·n_files, bounded) and decides on the
    * driver. Decisions on a FALSE bit should treat top1_cnt as a lower
    * bound only (safe for the ≥-threshold salt rule — an underestimate
    * pushes the ratio down — but not for anything that needs the exact
    * argmax).
    */
  private[graft] def colTopkMergedTop1Checked(
      dbFile: String,
      paths: Seq[String],
      colName: String): (Long, Long, Boolean) = {
    top1Reliability(
      scopeRows(dbFile, "col_topk", colName, paths)("path, key_val, cnt", "ORDER BY path, key_val")
        .map(r => (r(0).asInstanceOf[String],
          r(1).asInstanceOf[Number].longValue,
          r(2).asInstanceOf[Number].longValue)))
  }

  /** The scope's full merged frequency view: per-key SUMS over the
    * files' top-k rows (s74 merges this with a recomputed stale scope
    * before taking the argmax). ≤ k·n_files metadata rows; bound.
    */
  private[graft] def colTopkMerged(
      dbFile: String,
      paths: Seq[String],
      colName: String): Seq[(Long, Long)] =
    scopeRows(dbFile, "col_topk", colName, paths)(
      "key_val, CAST(sum(cnt) AS BIGINT) AS c", "GROUP BY key_val ORDER BY key_val")
      .map(r => (r(0).asInstanceOf[Number].longValue, r(1).asInstanceOf[Number].longValue))

  /** Long-form per-file count-min sketch rows — q218's declared scale
    * path made real: col_topk's per-file exact top-k merges by SUM only
    * for keys present in every file's top-k (reliable exactly when skew
    * exists); a count-min sketch's cells merge by SUM exactly for EVERY
    * key, with a one-sided error (never an underestimate), so the stat
    * table can answer point-frequency questions for ANY key at plan
    * time from 4·64 counters per (file, column) regardless of key
    * cardinality. Row shape: (path, col_name, row_i, col_j, cnt);
    * hash_i(k) = h60("i:" || k) % 64 — shared h60, so the oracle
    * replays every cell.
    */
  private[graft] val CmsDepth = 4

  private[graft] val CmsWidth = 64L

  private[graft] def recordColCms(
      dbFile: String,
      rows: Seq[(String, String, Long, Long, Long)]): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.insertRows(c, "INSERT INTO col_cms VALUES (?, ?, ?, ?, ?)", rows) {
        (ps, o, r) =>
          ps.setString(o + 1, r._1)
          ps.setString(o + 2, r._2)
          ps.setLong(o + 3, r._3)
          ps.setLong(o + 4, r._4)
          ps.setLong(o + 5, r._5)
      }
    }

  /** The merged sketch of (file scope, column): cell-wise SUM over the
    * scope's rows — exact for count-min (counters are additive), the
    * property col_topk lacks. ≤ 4·64 metadata rows; params bound.
    */
  private[graft] def colCmsMerged(
      dbFile: String,
      paths: Seq[String],
      colName: String): Map[(Long, Long), Long] =
    scopeRows(dbFile, "col_cms", colName, paths)(
      "row_i, col_j, CAST(sum(cnt) AS BIGINT)", "GROUP BY 1, 2")
      .map(r => ((r(0).asInstanceOf[Number].longValue,
        r(1).asInstanceOf[Number].longValue),
        r(2).asInstanceOf[Number].longValue))
      .toMap

  /** CMS point-frequency probe: min over the depth rows of the key's
    * cell — the one-sided (never-under) estimate, driver-side over
    * merged cells (`h60Local` is the bit-identical driver h60). Shared
    * by s74/s75's staleness audits and q226's split-join sizing.
    */
  private[graft] def cmsPointMin(cells: Map[(Long, Long), Long], key: Long): Long =
    (0 until CmsDepth).map { i =>
      cells.getOrElse(
        (i.toLong, graft.ops.Hashing.h60Local(s"$i:$key") % CmsWidth), 0L)
    }.min

  // ------------------------------------------------------------------
  // Planner decisions
  // ------------------------------------------------------------------

  private[graft] def recordDecision(
      dbFile: String,
      snapshotId: Long,
      edge: String,
      nRows: Long,
      ndvEst: Long,
      top1Key: Long,
      top1Cnt: Long,
      skewX100: Long,
      strategy: String,
      auditOk: Boolean): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      val ps = c.prepareStatement(
        "INSERT INTO decision_log VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)")
      try {
        ps.setLong(1, snapshotId)
        ps.setString(2, edge)
        ps.setLong(3, nRows)
        ps.setLong(4, ndvEst)
        ps.setLong(5, top1Key)
        ps.setLong(6, top1Cnt)
        ps.setLong(7, skewX100)
        ps.setString(8, strategy)
        ps.setBoolean(9, auditOk)
        ps.executeUpdate()
      } finally ps.close()
    }

  /** All decision rows for an edge, oldest snapshot first. */
  private[graft] def decisionRows(
      dbFile: String,
      edge: String): Seq[(Long, Long, Long, Long, Long, Long, String, Boolean)] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRowsBound(
          c,
          """SELECT snapshot_id, n_rows, ndv_est, top1_key, top1_cnt,
             skew_x100, strategy, audit_ok FROM decision_log
             WHERE edge = ? ORDER BY snapshot_id""",
          Seq(edge))
        .map(r => (r(0).asInstanceOf[Number].longValue,
          r(1).asInstanceOf[Number].longValue,
          r(2).asInstanceOf[Number].longValue,
          r(3).asInstanceOf[Number].longValue,
          r(4).asInstanceOf[Number].longValue,
          r(5).asInstanceOf[Number].longValue,
          r(6).asInstanceOf[String],
          r(7).asInstanceOf[Boolean]))
    }
}
