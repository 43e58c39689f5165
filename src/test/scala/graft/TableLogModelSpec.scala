package graft

import graft.sinks.{DuckDbLive, TableLog}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Model-based test of the table-log commit protocol: random operation
  * sequences run against a real `TableLog` file and against a pure
  * in-memory model of the same protocol, and the two must agree after
  * every operation. Every staged file gets its per-file metadata rows
  * when it is written, as the entries record stats at write time.
  */
class TableLogModelSpec extends AnyFunSuite with TempDirs {
  import TableLogModelSpec._

  /** Run `ops` on a fresh log and on the model, checking every invariant
    * after each step. Any divergence throws, naming the step.
    */
  private def run(ops: List[Op]): Unit = {
    val dir = tempDir("graft_tablelog_model_")
    val db = s"$dir/log.duckdb"
    DuckDbLive.cachingScope(dir) {
      TableLog.init(db)
      TableLog.createRef(db, Ref, 0L)
      val m = new Model
      ops.zipWithIndex.foreach { case (op, i) =>
        try {
          step(db, m, op)
          check(db, m)
        } catch {
          case e: Throwable =>
            throw new AssertionError(s"step $i ($op) of ${ops.mkString(", ")}: ${e.getMessage}", e)
        }
      }
    }
  }

  /** Apply one operation to the log and to the model; the log's answer
    * (accepted, rejected, expired ids, claim) must be the model's. Then
    * record the metadata rows of the files the operation staged.
    */
  private def step(db: String, m: Model, op: Op): Unit = {
    runOp(db, m, op)
    recordFiles(db, m.unrecorded())
  }

  /** One row per file in each path-keyed table but `stat_stale`, which
    * commits write.
    */
  private def recordFiles(db: String, paths: Seq[String]): Unit = if (paths.nonEmpty) {
    TableLog.recordSeq(db, paths, 1L)
    TableLog.recordStats(db, paths.map((_, 0L)))
    TableLog.recordSpec(db, paths.map((_, 1L, 0L)))
    TableLog.recordColStats(db, "k", paths.map((_, 0L, 1L)))
    TableLog.recordFileSchema(db, paths, 1L)
    TableLog.recordColNdv(db, paths.map((_, "k", 0L, 1L)))
    TableLog.recordColTopk(db, paths.map((_, "k", 1L, 1L)))
    TableLog.recordColCms(db, paths.map((_, "k", 0L, 0L, 1L)))
  }

  private def runOp(db: String, m: Model, op: Op): Unit = op match {
    case Commit(onRef, stale, nData, deletes, markers) =>
      val head = m.head(onRef)
      val parent =
        if (!stale) head
        else m.snaps.keys.filter(_ != head).minOption.getOrElse(m.nextId + 1000L)
      val id = m.take()
      val base = m.snaps.getOrElse(parent, Snap.Empty)
      val data = Seq.fill(nData)(m.stage())
      val eq = if (deletes) Seq(m.stage()) else Nil
      val pos = if (deletes) Seq(m.stage()) else Nil
      val marks = if (markers) (data ++ eq).map(p => (p, "k")) else Nil
      val ok = TableLog.commit(db, parent, id, entries(base.data ++ data),
        entries(base.eq ++ eq), entries(base.pos ++ pos), marks,
        if (onRef) Some(Ref) else None)
      assert(ok == !stale, s"commit on parent $parent (head $head) returned $ok")
      if (ok) {
        m.snaps += id -> Snap(parent, base.data ++ data, base.eq ++ eq, base.pos ++ pos)
        m.advance(onRef, id)
        m.markers ++= marks.map(_._1)
      }
    case Race(onRef) =>
      // two writers staged on the same head: the first wins, the second
      // is a clean reject that leaves only orphans on storage
      val head = m.head(onRef)
      val base = m.snaps(head)
      val (a, b) = (m.stage(), m.stage())
      val (idA, idB) = (m.take(), m.take())
      val ref = if (onRef) Some(Ref) else None
      def propose(id: Long, p: String) = TableLog.commit(db, head, id, entries(base.data + p),
        entries(base.eq), entries(base.pos), ref = ref)
      assert(propose(idA, a) && !propose(idB, b))
      m.snaps += idA -> base.copy(parent = head, data = base.data + a)
      m.advance(onRef, idA)
    case Crash(nData) =>
      // files written, then the writer dies before its commit
      (1 to nData).foreach(_ => m.stage())
    case Move(pick, stale) =>
      val ids = m.snaps.keys.toSeq.sorted
      val to = ids(pick % ids.size)
      val expected = if (stale) m.current + 1000L else m.current
      assert(TableLog.moveCurrent(db, expected, to) == !stale)
      if (!stale) m.current = to
    case Expire(pick) =>
      val olderThan = pick.toLong % (m.nextId + 1L)
      val keep = m.refs.values.toSet + m.current + 0L
      val expired = m.snaps.keys.filter(id => id < olderThan && !keep(id)).toSeq.sorted
      assert(TableLog.expireSnapshots(db, olderThan) == expired)
      // a file only the expired snapshots listed loses its metadata rows
      def listed(ss: Iterable[Snap]) = ss.flatMap(s => s.data ++ s.eq ++ s.pos).toSet
      val dropped = listed(expired.map(m.snaps)) -- listed(m.snaps.view.filterKeys(!expired.contains(_)).values)
      m.snaps --= expired
      m.files --= dropped
      m.markers = m.markers.filterNot(dropped)
    case Claim(batch) =>
      assert(TableLog.claimApply(db, batch) == !m.claimed(batch), s"batch $batch claim")
      m.claimed += batch
  }

  /** The invariants: pointers, refs and manifests equal the model's; no
    * manifest row without its snapshot row and no snapshot without its
    * manifest rows; GC against `liveFiles` never removes a file the log
    * still lists; every claimed batch is in the ledger exactly once; the
    * path-keyed tables hold rows for exactly the files expiry has not
    * made garbage.
    */
  private def check(db: String, m: Model): Unit = {
    assert(TableLog.currentSnapshot(db) == m.current, "current pointer")
    assert(TableLog.refSnapshot(db, Ref) == m.head(onRef = true), "ref pointer")
    assert(TableLog.snapshotRows(db).toMap == m.snaps.map { case (id, s) => id -> s.parent },
      "snapshot rows")
    val listed = DuckDbLive.withConnection(db) { c =>
      ManifestTables.map { t =>
        t -> DuckDbLive.queryRows(c, s"SELECT snapshot_id, path FROM $t")
          .map(r => (r(0).asInstanceOf[Number].longValue, r(1).toString))
          .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
      }.toMap
    }
    def nonEmpty(f: Snap => Set[String]) =
      m.snaps.map { case (id, s) => id -> f(s) }.filter(_._2.nonEmpty)
    assert(listed("manifests") == nonEmpty(_.data), "data manifests")
    assert(listed("delete_manifests") == nonEmpty(_.eq), "equality-delete manifests")
    assert(listed("position_delete_manifests") == nonEmpty(_.pos), "position-delete manifests")
    // the model's GC deletes every staged file no retained snapshot lists
    val modelLive = m.snaps.values.flatMap(s => s.data ++ s.eq ++ s.pos).toSet
    val live = TableLog.liveFiles(db)
    assert(live == modelLive, "liveFiles")
    m.storage = m.storage.filter(live)
    val dangling = listed.values.flatMap(_.values.flatten).filterNot(m.storage).toSet
    assert(dangling.isEmpty, s"the log lists files GC deleted: $dangling")
    val (claims, fileRows) = DuckDbLive.withConnection(db) { c =>
      def paths(t: String) = DuckDbLive.queryRows(c, s"SELECT path FROM $t").map(_.head.toString).sorted
      (DuckDbLive.queryRows(c, "SELECT count(*) FROM apply_log").head.head.asInstanceOf[Number].longValue,
        FileTables.map(t => t -> paths(t)).toMap)
    }
    assert(claims == m.claimed.size.toLong, "apply_log rows")
    assert(fileRows("stat_stale") == m.markers.sorted, "stat_stale rows")
    FileTables.filter(_ != "stat_stale").foreach(t => assert(fileRows(t) == m.files.toSeq.sorted, s"$t rows"))
  }

  test("model-based: random commit / race / crash / move / expire / claim sequences match the model") {
    assume(DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    val prop = Prop.forAllNoShrink(Gen.listOf(opGen)) { ops => run(ops); true }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(40)
      .withMaxSize(30)
      .withWorkers(1)
      .withInitialSeed(Seed(42L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}

object TableLogModelSpec {
  private val Ref = "b"
  private val ManifestTables = Seq("manifests", "delete_manifests", "position_delete_manifests")
  private val FileTables = Seq("file_seq", "file_stats", "file_spec", "file_schema",
    "col_stats", "col_ndv", "col_topk", "col_cms", "stat_stale")

  sealed trait Op
  /** A commit to main or to the ref, on the head or on a stale parent. */
  final case class Commit(onRef: Boolean, stale: Boolean, nData: Int, deletes: Boolean,
      markers: Boolean) extends Op
  /** Two commits staged on one parent. */
  final case class Race(onRef: Boolean) extends Op
  /** Files staged, the writer dies before its commit. */
  final case class Crash(nData: Int) extends Op
  final case class Move(pick: Int, stale: Boolean) extends Op
  final case class Expire(pick: Int) extends Op
  final case class Claim(batch: Long) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> (for {
      onRef <- Gen.oneOf(false, true)
      stale <- Gen.frequency(4 -> false, 1 -> true)
      n <- Gen.choose(0, 2)
      deletes <- Gen.oneOf(false, true)
      markers <- Gen.oneOf(false, true)
    } yield Commit(onRef, stale, n, deletes, markers)),
    1 -> Gen.oneOf(false, true).map(Race(_)),
    1 -> Gen.choose(1, 2).map(Crash(_)),
    2 -> (for { p <- Gen.choose(0, 50); s <- Gen.oneOf(false, true) } yield Move(p, s)),
    2 -> Gen.choose(0, 50).map(Expire(_)),
    2 -> Gen.choose(0L, 4L).map(Claim(_)))

  final case class Snap(parent: Long, data: Set[String], eq: Set[String], pos: Set[String])
  object Snap { val Empty: Snap = Snap(0L, Set.empty, Set.empty, Set.empty) }

  /** The protocol as plain values: retained snapshots, pointers, the
    * claim ledger, and the files on storage.
    */
  final class Model {
    var snaps: Map[Long, Snap] = Map(0L -> Snap.Empty)
    var current = 0L
    var refs: Map[String, Long] = Map(Ref -> 0L)
    var claimed = Set.empty[Long]
    /** One path per `stat_stale` row. */
    var markers = Seq.empty[String]
    var storage = Set.empty[String]
    /** Files whose metadata rows the log still holds. */
    var files = Set.empty[String]
    private var recorded = 0
    var nextId = 1L
    private var nextFile = 0

    def head(onRef: Boolean): Long = if (onRef) refs(Ref) else current
    def advance(onRef: Boolean, id: Long): Unit =
      if (onRef) refs += Ref -> id else current = id
    def take(): Long = { nextId += 1; nextId - 1 }
    /** Write one new file to storage (before any commit names it). */
    def stage(): String = {
      nextFile += 1
      val p = s"f$nextFile"
      storage += p
      files += p
      p
    }
    /** The files staged since the last call, whose rows are not yet written. */
    def unrecorded(): Seq[String] = {
      val ps = (recorded + 1 to nextFile).map(i => s"f$i")
      recorded = nextFile
      ps
    }
  }

  private def entries(paths: Iterable[String]): Seq[(String, Long)] =
    paths.toSeq.sorted.map((_, 1L))
}
