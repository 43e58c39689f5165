package graft

import graft.sinks.{DuckDbLive, IncrementalRefresh}
import org.scalatest.funsuite.AnyFunSuite

/** s35's apply step under the failure modes a retried refresh job
  * actually has: duplicate delivery (same refresh_id twice, including
  * concurrently) and a delivery that throws MID-MERGE. The ledger claim
  * runs INSIDE the transaction (`INSERT .. ON CONFLICT DO NOTHING` +
  * update-count check), so a duplicate is rejected with no
  * check-then-act window, and a failed merge rolls back both the
  * partial view rows AND the ledger row — the id is not burned and the
  * retry applies cleanly.
  */
class RefreshIdempotenceSpec extends AnyFunSuite with TempDirs {

  private def freshStore(): String = {
    val base = tempDir("graft_s35_spec_")
    val f = s"$base/view.duckdb"
    IncrementalRefresh.initStore(f)
    f
  }

  private def view(dbFile: String): Seq[(Long, Long, Long, Long)] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(c, "SELECT bucket, n_rows, sum_cents, dig FROM view_m ORDER BY bucket")
        .map(r =>
          (r(0).asInstanceOf[Number].longValue, r(1).asInstanceOf[Number].longValue,
            r(2).asInstanceOf[Number].longValue, r(3).asInstanceOf[Number].longValue))
    }

  private def ledger(dbFile: String): Seq[Long] =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive
        .queryRows(c, "SELECT refresh_id FROM refresh_log ORDER BY refresh_id")
        .map(_.head.asInstanceOf[Number].longValue)
    }

  private val batch = Seq((202101L, 2L, 500L, 7L), (202102L, 1L, 300L, 11L))

  test("duplicate delivery is rejected; view and ledger unchanged") {
    assume(DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    val db = freshStore()
    assert(IncrementalRefresh.applyRefresh(db, 1L, batch))
    assert(!IncrementalRefresh.applyRefresh(db, 1L, batch), "re-delivery must be rejected")
    assert(view(db) == batch)
    assert(ledger(db) == Seq(1L))
  }

  test("mid-merge failure rolls back view AND ledger; the retry then applies") {
    assume(DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    val db = freshStore()
    // a batch whose SECOND row throws during iteration — the partial
    // first row is already merged inside the open transaction
    val poison: Iterable[(Long, Long, Long, Long)] =
      new Iterable[(Long, Long, Long, Long)] {
        def iterator: Iterator[(Long, Long, Long, Long)] =
          new Iterator[(Long, Long, Long, Long)] {
            private var i = 0
            def hasNext: Boolean = i < 2
            def next(): (Long, Long, Long, Long) = {
              i += 1
              if (i == 2) throw new RuntimeException("injected mid-merge failure")
              batch.head
            }
          }
      }
    val ex = intercept[RuntimeException](IncrementalRefresh.applyRefresh(db, 1L, poison))
    assert(ex.getMessage.contains("injected"))
    assert(view(db).isEmpty, "partial merge must be rolled back")
    assert(ledger(db).isEmpty, "the failed delivery must not burn its refresh_id")
    // the retry of the SAME id now applies in full
    assert(IncrementalRefresh.applyRefresh(db, 1L, batch))
    assert(view(db) == batch)
    assert(ledger(db) == Seq(1L))
  }

  test("concurrent duplicate deliveries: exactly one merges") {
    assume(DuckDbLive.available, "duckdb_jdbc jar not in the offline cache")
    val db = freshStore()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence(Seq.fill(4)(Future(
        IncrementalRefresh.applyRefresh(db, 7L, batch)))),
      2.minutes)
    assert(results.count(identity) == 1, s"exactly one of the racers merges, got $results")
    assert(view(db) == batch, "no double-merge")
    assert(ledger(db) == Seq(7L))
  }
}
