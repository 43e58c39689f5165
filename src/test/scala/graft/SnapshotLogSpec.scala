package graft

import graft.sinks.{DuckDbLive, TableLog}
import org.scalatest.funsuite.AnyFunSuite

/** s39's commit protocol under adversarial schedules — the properties
  * the in-query lifecycle can't exercise: a REAL concurrent race for
  * the pointer (not just a stale re-delivery), and log-only isolation
  * of historical snapshots.
  */
class SnapshotLogSpec extends AnyFunSuite with TempDirs {

  private def withLog(f: String => Unit): Unit = {
    assume(DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    f(s"${tempDir("graft_s39_spec_")}/log.duckdb")
  }

  test("bucket-spec evolution: a stale 8-bucket reader is rejected, never silently wrong") {
    withLog { db =>
      TableLog.init(db)
      assert(TableLog.commit(db, 0L, 1L, Nil))
      TableLog.recordBucketSpec(db, 1L, 8L)
      TableLog.requireBucketSpec(db, 8L) // pinned reader accepted pre-evolution
      assert(TableLog.currentBucketSpec(db) == 8L)
      assert(TableLog.commit(db, 1L, 2L, Nil))
      TableLog.recordBucketSpec(db, 2L, 16L)
      assert(TableLog.currentBucketSpec(db) == 16L)
      // the SAME pinned-8 reader must now fail loudly
      val e = intercept[IllegalArgumentException](TableLog.requireBucketSpec(db, 8L))
      assert(e.getMessage.contains("stale bucket-spec reader"))
      TableLog.requireBucketSpec(db, 16L) // a re-planned reader is accepted
    }
  }

  test("bucket-spec evolution COMPOSES: after 8→16→32 BOTH old generations' readers are rejected") {
    withLog { db =>
      TableLog.init(db)
      // generation chain, each spec planned from the log's current one
      assert(TableLog.commit(db, 0L, 1L, Nil))
      TableLog.recordBucketSpec(db, 1L, 8L)
      TableLog.requireBucketSpec(db, 8L)
      val next16 = TableLog.currentBucketSpec(db) * 2L
      assert(next16 == 16L)
      assert(TableLog.commit(db, 1L, 2L, Nil))
      TableLog.recordBucketSpec(db, 2L, next16)
      TableLog.requireBucketSpec(db, 16L) // current generation accepted
      val next32 = TableLog.currentBucketSpec(db) * 2L
      assert(next32 == 32L)
      assert(TableLog.commit(db, 2L, 3L, Nil))
      TableLog.recordBucketSpec(db, 3L, next32)
      // the compounding failure mode: a reader that survived one
      // evolution must not survive the second — BOTH stale generations
      // fail loudly, only the current one plans
      val e8 = intercept[IllegalArgumentException](TableLog.requireBucketSpec(db, 8L))
      assert(e8.getMessage.contains("stale bucket-spec reader"))
      val e16 = intercept[IllegalArgumentException](TableLog.requireBucketSpec(db, 16L))
      assert(e16.getMessage.contains("current layout spec is 32"))
      TableLog.requireBucketSpec(db, 32L)
    }
  }

  test("stale-parent commit is rejected and leaves no log rows") {
    withLog { db =>
      TableLog.init(db)
      assert(TableLog.commit(db, 0L, 1L, Seq(("f1", 10L), ("f2", 5L))))
      assert(TableLog.commit(db, 1L, 2L, Seq(("f1", 10L), ("f2", 5L), ("f3", 7L))))
      // a writer still at snapshot 1: clean reject, nothing written
      assert(!TableLog.commit(db, 1L, 3L, Seq(("f4", 1L))))
      assert(TableLog.currentSnapshot(db) == 2L)
      assert(TableLog.manifest(db, 3L).isEmpty)
    }
  }

  test("time travel: snapshot 1's manifest never sees snapshot 2's files") {
    withLog { db =>
      TableLog.init(db)
      TableLog.commit(db, 0L, 1L, Seq(("a", 3L)))
      TableLog.commit(db, 1L, 2L, Seq(("a", 3L), ("b", 4L)))
      assert(TableLog.manifest(db, 1L) == Seq(("a", 3L)))
      assert(TableLog.manifest(db, 2L) == Seq(("a", 3L), ("b", 4L)))
    }
  }

  test("expiration never touches the root, the current snapshot, or newer history") {
    withLog { db =>
      TableLog.init(db)
      TableLog.commit(db, 0L, 1L, Seq(("a", 1L)))
      TableLog.commit(db, 1L, 2L, Seq(("a", 1L), ("b", 2L)))
      TableLog.commit(db, 2L, 3L, Seq(("c", 3L)))
      // olderThan covers EVERYTHING — current (3) and root (0) must survive
      val expired = TableLog.expireSnapshots(db, olderThan = 99L)
      assert(expired == Seq(1L, 2L))
      assert(TableLog.currentSnapshot(db) == 3L)
      assert(TableLog.manifest(db, 1L).isEmpty)
      assert(TableLog.manifest(db, 2L).isEmpty)
      assert(TableLog.manifest(db, 3L) == Seq(("c", 3L)))
      // reachability after expiry: only the retained manifest's files
      assert(TableLog.liveFiles(db) == Set("c"))
      // expiration is idempotent
      assert(TableLog.expireSnapshots(db, olderThan = 99L).isEmpty)
    }
  }

  test("liveFiles is the union across retained snapshots, not just current") {
    withLog { db =>
      TableLog.init(db)
      TableLog.commit(db, 0L, 1L, Seq(("a", 1L)))
      TableLog.commit(db, 1L, 2L, Seq(("a", 1L), ("b", 2L)))
      TableLog.commit(db, 2L, 3L, Seq(("c", 3L))) // compaction dropped a,b
      // nothing expired yet: a file referenced ONLY by history is live
      assert(TableLog.liveFiles(db) == Set("a", "b", "c"))
      TableLog.expireSnapshots(db, olderThan = 3L)
      assert(TableLog.liveFiles(db) == Set("c"))
    }
  }

  test("liveFiles and expiry cover delete manifests: GC keeps a retained snapshot's delete files") {
    withLog { db =>
      TableLog.init(db)
      assert(TableLog.commit(db, 0L, 1L, Seq(("d1", 3L)), eqDeletes = Seq(("eq1", 1L)),
        posDeletes = Seq(("pos1", 1L))))
      assert(TableLog.commit(db, 1L, 2L, Seq(("d1", 3L), ("d2", 2L)),
        eqDeletes = Seq(("eq2", 1L)), posDeletes = Seq(("pos2", 1L))))
      assert(TableLog.liveFiles(db) == Set("d1", "d2", "eq1", "eq2", "pos1", "pos2"))
      assert(TableLog.expireSnapshots(db, olderThan = 2L) == Seq(1L))
      // snapshot 2 still masks rows with eq2 and pos2, so orphan GC must
      // keep them; eq1 and pos1 were listed only by the expired snapshot
      assert(TableLog.liveFiles(db) == Set("d1", "d2", "eq2", "pos2"))
      Seq("manifests", "delete_manifests", "position_delete_manifests").foreach { t =>
        val left = DuckDbLive.withConnection(db) { c =>
          DuckDbLive.queryRows(c, s"SELECT count(*) FROM $t WHERE snapshot_id = 1")
            .head.head.asInstanceOf[Number].longValue
        }
        assert(left == 0L, s"expired snapshot 1 left rows in $t")
      }
    }
  }

  test("one DDL: a fresh init serves every recorder and reader, and creates exactly the log tables") {
    val spark = TestSpark.spark
    import spark.implicits._
    withLog { db =>
      val base = tempDir("graft_tablelog_ddl_")
      Seq((1L, 250L)).toDF("k", "cents").coalesce(1).write.parquet(s"$base/a")
      val f = new java.io.File(s"$base/a").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      TableLog.init(db)
      // every recorder the entries call
      TableLog.recordSeq(db, Seq(f), 1L)
      TableLog.recordStats(db, Seq((f, 0L)))
      TableLog.recordSpec(db, Seq((f, 1L, 0L)))
      TableLog.recordColStats(db, "cents", Seq((f, 250L, 250L)))
      TableLog.recordGroup(db, 1L, 0L, Seq((f, 0L)))
      TableLog.recordSchema(db, 1L, Seq((1L, "k", "bigint"), (2L, "cents", "bigint")))
      TableLog.recordFileSchema(db, Seq(f), 1L)
      TableLog.recordColNdv(db, Seq((f, "k", 0L, 1L)))
      TableLog.recordColTopk(db, Seq((f, "k", 1L, 1L)))
      TableLog.recordColCms(db, Seq((f, "k", 0L, 0L, 1L)))
      TableLog.markStatsStale(db, Seq("other"), "k")
      TableLog.recordDecision(db, 1L, "e", 1L, 1L, 1L, 1L, 100L, "plain", auditOk = true)
      assert(TableLog.commit(db, 0L, 1L, Seq((f, 1L)), staleMarkers = Seq(("other", "cents"))))
      TableLog.recordTimestamp(db, 1L, 1000L)
      TableLog.recordBucketSpec(db, 1L, 8L)
      TableLog.createRef(db, "tag", 1L)
      assert(TableLog.claimApply(db, 7L) && !TableLog.claimApply(db, 7L))
      // every reader the entries call
      assert(TableLog.currentSnapshot(db) == 1L && TableLog.refSnapshot(db, "tag") == 1L)
      assert(TableLog.manifest(db, 1L) == Seq((f, 1L)))
      assert(TableLog.manifestSeq(db, 1L) == Seq((f, 1L)))
      assert(TableLog.deleteSeq(db, 1L).isEmpty && TableLog.posDeleteSeq(db, 1L).isEmpty)
      assert(TableLog.snapshotRows(db) == Seq((0L, 0L), (1L, 0L)))
      assert(TableLog.manifestRows(db) == Seq((1L, f, 1L)))
      assert(TableLog.census(spark, db, Seq(1L))() == Map(1L -> ((1L, 250L))))
      assert(TableLog.census(spark, db, Seq(1L))(TableLog.morReadV2(spark, db, _, "k")) ==
        Map(1L -> ((1L, 250L))))
      assert(TableLog.evolvedRead(spark, db, 1L, 1L).as[(Long, Long)].collect().toSeq ==
        Seq((1L, 250L)))
      assert(TableLog.prunePaths(db, 1L, Seq(0L)) == Seq(f))
      assert(TableLog.planBinpack(db, 1L, 10L).isEmpty)
      assert(TableLog.pruneAcrossSpecs(db, 1L, Map(1L -> 0L)) == Seq(f))
      assert(TableLog.pruneByCols(db, 1L, Seq(("cents", 0L, 300L))) == Seq(f))
      assert(TableLog.planGroups(db, 1L, 0L, 0L) == ((1L, 1L, Seq(f))))
      assert(TableLog.resolveAsOf(db, 1000L).contains(1L))
      assert(TableLog.schemaFields(db, 1L).map(_._2) == Seq("k", "cents"))
      TableLog.requireBucketSpec(db, 8L)
      assert(TableLog.colNdvRegistersFresh(db, Seq(f), "k") == Seq((0L, 1L)))
      assert(Seq("col_ndv", "col_topk", "col_cms").map(TableLog.statRowCount(db, _, Seq(f), "k")) ==
        Seq(1L, 1L, 1L))
      assert(TableLog.pairNdvOrProduct(db, Seq(f), "k|k", "k", "k", 1L)._2 == 0L)
      assert(TableLog.staleIn(db, Seq(f, "other"), "k") == Seq("other"))
      assert(TableLog.colTopkMergedTop1(db, Seq(f), "k") == ((1L, 1L)))
      assert(TableLog.colTopkMergedTop1Checked(db, Seq(f), "k") == ((1L, 1L, true)))
      assert(TableLog.colTopkMerged(db, Seq(f), "k") == Seq((1L, 1L)))
      assert(TableLog.colCmsMerged(db, Seq(f), "k") == Map((0L, 0L) -> 1L))
      assert(TableLog.decisionRows(db, "e").map(_._7) == Seq("plain"))
      assert(TableLog.moveCurrent(db, 1L, 0L) && TableLog.dropRef(db, "tag"))
      assert(TableLog.expireSnapshots(db, 2L) == Seq(1L) && TableLog.liveFiles(db).isEmpty)
      val catalog = DuckDbLive.withConnection(db) { c =>
        DuckDbLive.queryRows(c, "SELECT table_name FROM duckdb_tables()").map(_.head.toString).toSet
      }
      assert(catalog == Set(
        "snapshots", "manifests", "delete_manifests", "position_delete_manifests", "current",
        "refs", "file_seq", "stat_stale", "file_stats", "file_spec", "snapshot_ts",
        "schema_fields", "file_schema", "col_stats", "bucket_specs", "manifest_groups",
        "group_entries", "col_ndv", "col_topk", "col_cms", "decision_log", "apply_log"))
    }
  }

  test("stats pruning selects exactly the overlapping buckets' files") {
    withLog { db =>
      TableLog.init(db)
      TableLog.recordStats(db, Seq(("f0", 0L), ("f1", 1L), ("f2", 2L), ("f3", 3L)))
      TableLog.commit(db, 0L, 1L, Seq(("f0", 1L), ("f1", 1L), ("f2", 1L), ("f3", 1L)))
      assert(TableLog.prunePaths(db, 1L, Seq(2L)) == Seq("f2"))
      assert(TableLog.prunePaths(db, 1L, Seq(1L, 3L)) == Seq("f1", "f3"))
      assert(TableLog.prunePaths(db, 1L, Seq.empty).isEmpty)
      // pruning is snapshot-scoped: a file in stats but NOT in the
      // snapshot's manifest is never selected
      TableLog.recordStats(db, Seq(("g2", 2L)))
      assert(TableLog.prunePaths(db, 1L, Seq(2L)) == Seq("f2"))
    }
  }

  test("MOR commit is atomic over data AND delete manifests; seq metadata round-trips") {
    withLog { db =>
      TableLog.init(db)
      TableLog.recordSeq(db, Seq("a", "b"), 1L)
      assert(TableLog.commit(db, 0L, 1L, Seq(("a", 3L), ("b", 4L))))
      TableLog.recordSeq(db, Seq("del1"), 2L)
      assert(TableLog.commit(db, 1L, 2L, Seq(("a", 3L), ("b", 4L)), Seq(("del1", 2L))))
      assert(TableLog.manifestSeq(db, 2L) == Seq(("a", 1L), ("b", 1L)))
      assert(TableLog.deleteSeq(db, 2L) == Seq(("del1", 2L)))
      // snapshot 1 never sees snapshot 2's delete file
      assert(TableLog.deleteSeq(db, 1L).isEmpty)
      // a stale MOR commit leaves NEITHER data nor delete manifest rows
      assert(!TableLog.commit(db, 1L, 3L, Seq(("c", 1L)), Seq(("del2", 1L))))
      assert(TableLog.manifest(db, 3L).isEmpty)
      assert(TableLog.deleteSeq(db, 3L).isEmpty)
      assert(TableLog.currentSnapshot(db) == 2L)
    }
  }

  test("branch refs: staged commits never move main; publish is conditional") {
    withLog { db =>
      TableLog.init(db)
      assert(TableLog.commit(db, 0L, 1L, Seq(("a", 1L))))
      TableLog.createRef(db, "wap", 1L)
      // two staged commits advance the BRANCH; main never moves
      assert(TableLog.commit(db, 1L, 2L, Seq(("a", 1L), ("x", 2L)), ref = Some("wap")))
      assert(TableLog.commit(db, 2L, 3L, Seq(("a", 1L), ("y", 3L)), ref = Some("wap")))
      assert(TableLog.currentSnapshot(db) == 1L)
      assert(TableLog.refSnapshot(db, "wap") == 3L)
      // a stale staged commit rejects without touching either pointer
      assert(!TableLog.commit(db, 2L, 4L, Seq(("z", 1L)), ref = Some("wap")))
      assert(TableLog.manifest(db, 4L).isEmpty)
      // publish fast-forwards main only from the expected position
      assert(!TableLog.moveCurrent(db, expected = 2L, to = 3L))
      assert(TableLog.currentSnapshot(db) == 1L)
      assert(TableLog.moveCurrent(db, expected = 1L, to = 3L))
      assert(TableLog.currentSnapshot(db) == 3L)
      // re-publishing the superseded stage is rejected
      assert(!TableLog.moveCurrent(db, expected = 1L, to = 2L))
      assert(TableLog.currentSnapshot(db) == 3L)
    }
  }

  test("cross-spec pruning selects per-spec values and never leaks across specs") {
    withLog { db =>
      TableLog.init(db)
      // generation 1 under spec 1 (k%4), generation 2 under spec 2 (k%8)
      TableLog.recordSpec(db, Seq(("a0", 1L, 0L), ("a1", 1L, 1L), ("a2", 1L, 2L)))
      TableLog.recordSpec(db, Seq(("b5", 2L, 5L), ("b1", 2L, 1L)))
      TableLog.commit(db, 0L, 1L,
        Seq(("a0", 1L), ("a1", 1L), ("a2", 1L), ("b5", 1L), ("b1", 1L)))
      // k%8==5 → spec-2 pval 5 AND spec-1 pval 1 — NOT spec-1 pval 5
      // (which doesn't exist) and NOT spec-2 pval 1 (value collision
      // across specs must not leak)
      assert(TableLog.pruneAcrossSpecs(db, 1L, Map(1L -> 1L, 2L -> 5L))
        == Seq("a1", "b5"))
      // a predicate outside every spec's values selects nothing
      assert(TableLog.pruneAcrossSpecs(db, 1L, Map(1L -> 3L, 2L -> 6L)).isEmpty)
      assert(TableLog.pruneAcrossSpecs(db, 1L, Map.empty).isEmpty)
      // pruning is snapshot-scoped: files absent from the manifest are
      // never selected even with matching stats
      TableLog.recordSpec(db, Seq(("c5", 2L, 5L)))
      assert(TableLog.pruneAcrossSpecs(db, 1L, Map(2L -> 5L)) == Seq("b5"))
    }
  }

  test("4-way race on the same parent: exactly one commit wins, losers leave nothing") {
    // each case races the same commit path: (branch ref, row-level deletes
    // and stale markers carried by every racer). Case 2 moves a branch
    // ref and must never move main.
    Seq(None, Some("b")).foreach { ref =>
      withLog { db =>
        TableLog.init(db)
        assert(TableLog.commit(db, 0L, 1L, Seq(("base", 1L))))
        ref.foreach(TableLog.createRef(db, _, 1L))
        def extras(i: Int): Seq[(String, Long)] =
          if (ref.isEmpty) Nil else Seq((s"del$i", 1L))
        import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
        val pool = Executors.newFixedThreadPool(4)
        val gate = new CountDownLatch(1)
        val results = (0 until 4).map { i =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              gate.await()
              // each racer proposes its own snapshot id built on parent 1
              TableLog.commit(db, 1L, 10L + i, Seq((s"race$i", 1L)),
                eqDeletes = extras(i), posDeletes = extras(i),
                staleMarkers = extras(i).map { case (p, _) => (p, "k") }, ref = ref)
            }
          })
        }
        gate.countDown()
        pool.shutdown()
        assert(pool.awaitTermination(60, TimeUnit.SECONDS))
        val wins = results.map(_.get()).count(identity)
        assert(wins == 1, s"expected exactly one winning commit, got $wins")
        val cur = ref.fold(TableLog.currentSnapshot(db))(TableLog.refSnapshot(db, _))
        assert(cur >= 10L && cur < 14L)
        // a branch commit never moves main
        if (ref.nonEmpty) assert(TableLog.currentSnapshot(db) == 1L)
        def rows(table: String, where: String): Long =
          DuckDbLive.withConnection(db) { c =>
            DuckDbLive.queryRows(c, s"SELECT count(*) FROM $table WHERE $where")
              .head.head.asInstanceOf[Number].longValue
          }
        val deleteTables = Seq("delete_manifests", "position_delete_manifests")
        val nExtras = extras((cur - 10L).toInt).size.toLong
        // the winner's manifests are intact; every loser left zero rows
        assert(TableLog.manifest(db, cur).size == 1)
        deleteTables.foreach(t => assert(rows(t, s"snapshot_id = $cur") == nExtras))
        assert(rows("stat_stale", "true") == nExtras)
        (10L until 14L).filter(_ != cur).foreach { l =>
          assert(TableLog.manifest(db, l).isEmpty, s"loser $l leaked manifest rows")
          deleteTables.foreach { t =>
            assert(rows(t, s"snapshot_id = $l") == 0L, s"loser $l leaked $t rows")
          }
          assert(rows("stat_stale", s"path = 'del${l - 10L}'") == 0L,
            s"loser $l leaked stat_stale rows")
        }
      }
    }
  }

  test("genuine failures rethrow — only MVCC write-write conflicts map to the clean reject") {
    withLog { db =>
      // missing tables (init skipped): a Catalog Error, NOT a
      // retryable stale-parent outcome — the old catch-all turned this
      // into `false` and callers would retry a broken log forever
      intercept[Exception] {
        TableLog.commit(db, 0L, 1L, Seq(("f1", 1L)))
      }
    }
  }

  test("paths are bound as parameters: an apostrophe in a path cannot tear a commit") {
    withLog { db =>
      TableLog.init(db)
      val odd = "/tmp/it's a path/part-00000.parquet"
      assert(TableLog.commit(db, 0L, 1L, Seq((odd, 3L))))
      assert(TableLog.manifest(db, 1L) == Seq((odd, 3L)))
    }
  }

  test("evolvedRead projects by FIELD ID: rename keeps old columns, a reused name never resurrects a dropped field") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    withLog { db =>
      val base = tempDir("graft_s50_spec_")
      TableLog.init(db)
      // schema 1: (1:k, 2:v); schema 2 renames v→w + adds (3:x);
      // schema 3 drops field 3 and adds a NEW (4:x) under the old name
      TableLog.recordSchema(db, 1L, Seq((1L, "k", "bigint"), (2L, "v", "bigint")))
      TableLog.recordSchema(db, 2L,
        Seq((1L, "k", "bigint"), (2L, "w", "bigint"), (3L, "x", "bigint")))
      TableLog.recordSchema(db, 3L,
        Seq((1L, "k", "bigint"), (2L, "w", "bigint"), (4L, "x", "bigint")))
      Seq((1L, 10L)).toDF("k", "v").coalesce(1).write.parquet(s"$base/a")
      Seq((2L, 20L, 777L)).toDF("k", "w", "x").coalesce(1).write.parquet(s"$base/b")
      Seq((3L, 30L, 9L)).toDF("k", "w", "x").coalesce(1).write.parquet(s"$base/c")
      def pf(d: String) = new java.io.File(s"$base/$d").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => (f.getAbsolutePath, 1L)).toSeq
      val (fa, fb, fc) = (pf("a"), pf("b"), pf("c"))
      TableLog.recordFileSchema(db, fa.map(_._1), 1L)
      TableLog.recordFileSchema(db, fb.map(_._1), 2L)
      TableLog.recordFileSchema(db, fc.map(_._1), 3L)
      assert(TableLog.commit(db, 0L, 1L, fa ++ fb ++ fc))
      val got = TableLog.evolvedRead(spark, db, 1L, 3L)
        .orderBy("k")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSeq
      // file A: w served from physical "v" (same id 2), x NULL;
      // file B: x NULL despite a physical column named x (id 3 ≠ 4 —
      // 777 must NOT leak); file C: the live field 4
      assert(got == Seq((1L, 10L, None), (2L, 20L, None), (3L, 30L, Some(9L))))
    }
  }

  test("position deletes are ordinal-scoped PER FILE and apply at seq <=, equality strictly <") {
    // two data files with IDENTICAL contents: a position delete naming
    // file A's ordinal 0 must kill exactly one row (file B's ordinal 0
    // survives — the path-equality half of the scoping rule), and a
    // position delete committed at the SAME seq as its data file must
    // bite (>= rule) while an equality delete at the same seq must not
    // (strict rule) — the v2 asymmetry s49 depends on.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    withLog { db =>
      val base = tempDir("graft_s49_spec_")
      TableLog.init(db)
      val rows = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "cents")
      rows.coalesce(1).write.parquet(s"$base/a")
      rows.coalesce(1).write.parquet(s"$base/b")
      def pf(d: String) = new java.io.File(s"$base/$d").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => (f.getAbsolutePath, 3L)).toSeq
      val (fa, fb) = (pf("a"), pf("b"))
      // the delete file names file A ordinal 0 (k=1's row)
      spark.read.parquet(fa.map(_._1): _*)
        .select(col("_metadata.file_path").as("pd_path"),
          col("_metadata.row_index").as("pd_pos"), col("k"))
        .filter(col("k") === 1L).select("pd_path", "pd_pos")
        .coalesce(1).write.parquet(s"$base/pd")
      val pd = pf("pd").map { case (p, _) => (p, 1L) }
      // an equality delete for k=2, committed at the SAME seq as data
      Seq(2L).toDF("k").coalesce(1).write.parquet(s"$base/eq")
      val eq = pf("eq").map { case (p, _) => (p, 1L) }
      TableLog.recordSeq(db, (fa ++ fb ++ pd ++ eq).map(_._1), 1L)
      assert(TableLog.commit(db, 0L, 1L, fa ++ fb, eq, pd))
      val got = TableLog.morReadV2(spark, db, 1L, "k")
        .groupBy("k").count().orderBy("k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // k=1: one of two copies position-deleted (file A only);
      // k=2: BOTH survive (same-seq equality delete must not bite);
      // k=3: untouched
      assert(got == Seq((1L, 1L), (2L, 2L), (3L, 2L)))
    }
  }

  test("expiry honors refs: a tagged snapshot survives expire-everything until the tag drops") {
    withLog { db =>
      TableLog.init(db)
      TableLog.commit(db, 0L, 1L, Seq(("a", 1L), ("b", 2L)))
      TableLog.commit(db, 1L, 2L, Seq(("a", 1L), ("b", 2L), ("c", 3L)))
      TableLog.commit(db, 2L, 3L, Seq(("d", 6L))) // compaction
      TableLog.createRef(db, "audit", 1L)
      // tag retains snapshot 1; snapshot 2 expires; files a,b stay live
      assert(TableLog.expireSnapshots(db, 99L) == Seq(2L))
      assert(TableLog.manifest(db, 1L) == Seq(("a", 1L), ("b", 2L)))
      assert(TableLog.liveFiles(db) == Set("a", "b", "d"))
      // idempotent while the tag holds
      assert(TableLog.expireSnapshots(db, 99L).isEmpty)
      // dropping the tag releases it; only then does the same expiry bite
      assert(TableLog.dropRef(db, "audit"))
      assert(!TableLog.dropRef(db, "audit")) // second drop: clean false
      assert(TableLog.expireSnapshots(db, 99L) == Seq(1L))
      assert(TableLog.manifest(db, 1L).isEmpty)
      assert(TableLog.liveFiles(db) == Set("d"))
      assert(TableLog.currentSnapshot(db) == 3L)
    }
  }

  test("range pruning keeps exactly the files whose [min,max] OVERLAPS the bounds, endpoints inclusive") {
    withLog { db =>
      TableLog.init(db)
      TableLog.commit(db, 0L, 1L, Seq(("lo", 4L), ("mid", 4L), ("hi", 4L)))
      TableLog.recordColStats(
        db,
        "c0",
        Seq(("lo", 0L, 10L), ("mid", 5L, 15L), ("hi", 20L, 30L)))
      def inRange(snap: Long, lo: Long, hi: Long) =
        TableLog.pruneByCols(db, snap, Seq(("c0", lo, hi)))
      // [12, 22]: "lo" ends at 10 (skipped), "mid" and "hi" overlap
      assert(inRange(1L, 12L, 22L) == Seq("hi", "mid"))
      // touching at a single endpoint is still an overlap (Iceberg's
      // inclusive bounds): hi's min == the query's upper bound
      assert(inRange(1L, 16L, 20L) == Seq("hi"))
      assert(inRange(1L, 10L, 10L) == Seq("lo", "mid"))
      // a gap between files prunes everything — and planning an empty
      // set is a VALID answer here (the read side guards the empty case)
      assert(inRange(1L, 16L, 19L).isEmpty)
      // stats are per-file, pruning is per-snapshot: a file absent from
      // the snapshot's manifest never resurfaces via its stats row
      TableLog.commit(db, 1L, 2L, Seq(("lo", 4L)))
      assert(inRange(2L, 0L, 99L) == Seq("lo"))
    }
  }

  test("box pruning requires overlap in BOTH dimensions, endpoints inclusive") {
    withLog { db =>
      TableLog.init(db)
      TableLog.commit(db, 0L, 1L, Seq(("a", 4L), ("b", 4L), ("c", 4L)))
      // a: x[0,3] y[0,3]; b: x[4,7] y[8,11]; c: x[4,7] y[0,3]
      TableLog.recordColStats(db, "x", Seq(("a", 0L, 3L), ("b", 4L, 7L), ("c", 4L, 7L)))
      TableLog.recordColStats(db, "y", Seq(("a", 0L, 3L), ("b", 8L, 11L), ("c", 0L, 3L)))
      def inBox(snap: Long, xlo: Long, xhi: Long, ylo: Long, yhi: Long) =
        TableLog.pruneByCols(db, snap, Seq(("x", xlo, xhi), ("y", ylo, yhi)))
      // the box hits b only: a fails on x, c fails on y — a file
      // overlapping one dimension but not the other must be pruned
      // (this is the whole point of 2-D stats over 1-D)
      assert(inBox(1L, 4L, 7L, 8L, 11L) == Seq("b"))
      // endpoint touch counts in both dims (inclusive bounds): the box
      // corner (3, 3) touches a's max corner exactly
      assert(inBox(1L, 3L, 5L, 3L, 5L) == Seq("a", "c"))
      // a y-stripe keeps every file whose y range overlaps, any x
      assert(inBox(1L, 0L, 7L, 0L, 3L) == Seq("a", "c"))
      // disjoint in y everywhere → empty plan (valid; read side guards)
      assert(inBox(1L, 0L, 7L, 4L, 7L).isEmpty)
      // pruning is per-snapshot: dropping a file from the manifest
      // hides it regardless of its stats row
      TableLog.commit(db, 1L, 2L, Seq(("b", 4L)))
      assert(inBox(2L, 0L, 99L, 0L, 99L) == Seq("b"))
    }
  }

  test("binpack planning: strictly-below threshold, groups of >= 2, per bucket, per snapshot") {
    withLog { db =>
      TableLog.init(db)
      TableLog.commit(
        db, 0L, 1L,
        Seq(("s1", 10L), ("s2", 10L), ("s3", 10L), ("big", 100L), ("lone", 10L)))
      TableLog.recordStats(
        db,
        Seq(("s1", 0L), ("s2", 0L), ("s3", 1L), ("big", 1L), ("lone", 2L)))
      // threshold 50: s1+s2 group under bucket 0; bucket 1 has only one
      // small file (s3 — big is above threshold) so it does NOT pack
      // (one small file alone gains nothing); bucket 2's lone file
      // likewise stays
      assert(TableLog.planBinpack(db, 1L, 50L) == Seq((0L, Seq("s1", "s2"))))
      // threshold is strict <: a file AT the threshold is not small
      assert(TableLog.planBinpack(db, 1L, 10L).isEmpty)
      // the plan is per-snapshot: after compaction the group is gone
      TableLog.commit(
        db, 1L, 2L, Seq(("packed0", 20L), ("s3", 10L), ("big", 100L), ("lone", 10L)))
      TableLog.recordStats(db, Seq(("packed0", 0L)))
      assert(TableLog.planBinpack(db, 2L, 50L).isEmpty)
    }
  }

  test("morReadV2 and evolvedRead fail loudly (not UnsupportedOperationException) on an empty file set") {
    val spark = TestSpark.spark
    withLog { db =>
      TableLog.init(db)
      TableLog.commit(db, 0L, 1L, Seq(("a", 3L)))
      TableLog.recordSeq(db, Seq("a"), 1L)
      val e = intercept[IllegalArgumentException] {
        TableLog.morReadV2(spark, db, 1L, "k", onlyFiles = Some(Set("nope")))
      }
      assert(e.getMessage.contains("no data files"))
      val e2 = intercept[IllegalArgumentException] {
        TableLog.evolvedRead(spark, db, snap = 7L, readSchema = 1L)
      }
      assert(e2.getMessage.contains("lists no data files"))
    }
  }

  test("stale stat rows: the guarded register read REJECTS a scope with a stale path, accepts after exclusion") {
    withLog { db =>
      TableLog.init(db)
      TableLog.recordColNdv(db, Seq(("fA", "cust", 0L, 3L), ("fB", "cust", 0L, 5L)))
      // fresh everywhere: full scope accepted, per-bucket max merged
      assert(TableLog.colNdvRegistersFresh(db, Seq("fA", "fB"), "cust") == Seq((0L, 5L)))
      // a delete marks fB's cust rows stale — the full scope must now be
      // rejected BY NAME (merging an undeletable register silently
      // over-counts; loud beats wrong), other columns stay readable
      TableLog.markStatsStale(db, Seq("fB"), "cust")
      assert(TableLog.staleIn(db, Seq("fA", "fB"), "cust") == Seq("fB"))
      val e = intercept[IllegalArgumentException] {
        TableLog.colNdvRegistersFresh(db, Seq("fA", "fB"), "cust")
      }
      assert(e.getMessage.contains("stale"))
      assert(e.getMessage.contains("cust"))
      // the fallback path: exclude the stale file, read the rest
      assert(TableLog.colNdvRegistersFresh(db, Seq("fA"), "cust") == Seq((0L, 3L)))
      // staleness is per (path, column): a different column on fB is fresh
      TableLog.recordColNdv(db, Seq(("fB", "k", 1L, 2L)))
      assert(TableLog.colNdvRegistersFresh(db, Seq("fA", "fB"), "k") == Seq((1L, 2L)))
    }
  }

  test("top1Reliability: certain only when the observed sum beats every file-grain upper bound") {
    import TableLog.top1Reliability
    // one file, exhaustive top-k (fewer than k rows listed): threshold 0,
    // nothing unseen can hide — reliable
    assert(top1Reliability(Seq(("f1", 10L, 5L), ("f1", 11L, 3L))) == ((10L, 5L, true)))
    // two files, both with FULL top-k lists (k=2): each file's 2nd-place
    // count is the hiding bound for unseen keys
    val full = Seq(
      ("f1", 1L, 100L), ("f1", 2L, 10L),
      ("f2", 1L, 90L), ("f2", 3L, 9L))
    // top-1 = key 1 with 190 observed; total threshold = 10 + 9 = 19;
    // key 2's upper bound = 10 + 9 (unseen in f2) = 19 < 190 — reliable
    assert(top1Reliability(full, k = 2) == ((1L, 190L, true)))
    // uniform column: every count ties, an unseen key could match or
    // beat the merged top-1 — NOT reliable (the q222-measured trap)
    val unif = Seq(
      ("f1", 1L, 2L), ("f1", 2L, 2L),
      ("f2", 3L, 2L), ("f2", 4L, 2L))
    val (_, _, rel) = top1Reliability(unif, k = 2)
    assert(!rel)
    // partially-seen challenger: key 2 observed 80 in f1 only; its bound
    // 80 + f2's threshold 9 = 89 < 100+90 — key 1 still certain
    val part = Seq(
      ("f1", 1L, 100L), ("f1", 2L, 80L),
      ("f2", 1L, 90L), ("f2", 3L, 9L))
    assert(top1Reliability(part, k = 2) == ((1L, 190L, true)))
    // ...but if a challenger's bound can EXCEED the top-1, the bit must
    // drop: key 2 observed 185 + up to 9 hidden in f2 = 194 > 190
    val close = Seq(
      ("f1", 1L, 100L), ("f1", 2L, 185L),
      ("f2", 1L, 90L), ("f2", 3L, 9L))
    assert(top1Reliability(close, k = 2) == ((1L, 190L, false)))
  }

  test("cmsPointMin: min over depth rows; absent cells read as zero") {
    import TableLog.cmsPointMin
    import graft.ops.Hashing
    // cells populated for key 7 on all four rows with different loads —
    // the probe must take the MIN
    val cells = (0 until 4).map { i =>
      ((i.toLong, Hashing.h60Local(s"$i:7") % 64L), 10L + i)
    }.toMap
    assert(cmsPointMin(cells, 7L) == 10L)
    // a key whose cells are absent on any row reads 0 (never negative,
    // never an exception) — the f̂ ≥ f floor for an unseen key
    assert(cmsPointMin(Map.empty, 123L) == 0L)
  }
}
