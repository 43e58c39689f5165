package graft.sinks

import graft.ops.Tables
import graft.ops.Ckpt.RichCkpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s35 — the end-to-end incremental refresh loop: the composition the
  * parts have individually proven, chained as one pipeline against a
  * live store. This is the reference's production shape — a continuously
  * maintained analysis table (`README.md:11`, flush/commit cadence of
  * `DatabaseWriter.cs:357-464`) — expressed at dataset scale:
  *
  *   1. q148's manifest diff decides WHAT to refresh: one scan builds
  *      the per-bucket (order-month) current manifest AND the snapshot /
  *      delta partials as conditional aggregates — never a second
  *      corpus read. Buckets classify new / changed / unchanged; only
  *      the first two produce work.
  *   2. q134's partial-state algebra decides HOW: the maintained view
  *      (bucket → n_rows, sum_cents, digest) absorbs the delta by
  *      MERGING partials (counts add, sums add, the commutative modular
  *      digest adds) — refresh cost is |delta| + |view|, never
  *      |history|.
  *   3. s30's conditional-apply discipline decides SAFELY: the merge is
  *      applied through `INSERT .. ON CONFLICT (bucket) DO UPDATE SET
  *      n_rows = n_rows + excluded...` guarded by a refresh-id ledger
  *      committed in the SAME transaction — and the pipeline then
  *      INJECTS a stale re-delivery of the whole delta batch (the
  *      retried-refresh-job failure mode). The ledger must reject it: a
  *      double-merge would double the changed buckets' sums and fail
  *      the from-scratch equality below, and the measured reject count
  *      is folded into the hashed rows.
  *
  * Oracle = from-scratch recompute equality (the q134 discipline): the
  * final report joins the read-back view against the scratch aggregate
  * per bucket; `view_ok` must be TRUE for every status class and the
  * view's row/sum columns must hash-equal the scratch numbers.
  *
  * Scale shape: the corpus is touched ONCE (the conditional-aggregate
  * census, localCheckpoint'ed at ~80 bucket cells); everything the
  * driver or the JDBC hop sees is bucket-domain-bounded (the view IS
  * the bucket domain — the same bounded-export contract as
  * `DuckDbLive.appendAll`). At 100 TB the delta partials ride the same
  * scan's date-pruned partitions and the apply step shards per
  * partition like `appendPartitioned`.
  */
object IncrementalRefresh {

  private val Cutoff = "2001-07-15"

  /** Create the maintained view + refresh ledger (test-visible so the
    * re-delivery suite drives `applyRefresh` against its own store).
    */
  private[graft] def initStore(dbFile: String): Unit =
    DuckDbLive.withConnection(dbFile) { c =>
      DuckDbLive.execute(
        c,
        """CREATE TABLE view_m(
          |bucket BIGINT PRIMARY KEY, n_rows BIGINT NOT NULL,
          |sum_cents BIGINT NOT NULL, dig BIGINT NOT NULL)""".stripMargin)
      DuckDbLive.execute(c, "CREATE TABLE refresh_log(refresh_id BIGINT PRIMARY KEY)")
    }

  /** Apply one refresh batch under the ledger guard. TRANSACTIONALLY
    * idempotent: the refresh_id is claimed INSIDE the transaction via
    * `INSERT .. ON CONFLICT DO NOTHING` (update count 0 = already
    * applied — reject without touching the view), so there is no
    * check-then-act window for a concurrent duplicate delivery, and a
    * mid-merge throw rolls BOTH the ledger row and any partial merge
    * back — the failed delivery never burns its id and a retry of the
    * same batch applies cleanly. Returns true iff this call merged.
    */
  private[graft] def applyRefresh(
      dbFile: String,
      id: Long,
      rows: Iterable[(Long, Long, Long, Long)]): Boolean =
    applyRefreshAttempt(dbFile, id, rows, attemptsLeft = 4)

  private def applyRefreshAttempt(
      dbFile: String,
      id: Long,
      rows: Iterable[(Long, Long, Long, Long)],
      attemptsLeft: Int): Boolean =
    DuckDbLive.withConnection(dbFile) { c =>
      def idLogged(): Boolean = {
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT count(*) FROM refresh_log WHERE refresh_id = $id")
          rs.next(); rs.getLong(1) > 0
        } finally st.close()
      }
      c.setAutoCommit(false)
      try {
        val claimed = {
          val st = c.createStatement()
          try st.executeUpdate(
            s"INSERT INTO refresh_log VALUES ($id) ON CONFLICT DO NOTHING") == 1
          finally st.close()
        }
        if (claimed) {
          val ps = c.prepareStatement(
            """INSERT INTO view_m VALUES (?, ?, ?, ?)
              |ON CONFLICT (bucket) DO UPDATE SET
              |  n_rows = view_m.n_rows + excluded.n_rows,
              |  sum_cents = view_m.sum_cents + excluded.sum_cents,
              |  dig = view_m.dig + excluded.dig""".stripMargin)
          try rows.foreach { case (b, n, s, d) =>
            ps.setLong(1, b)
            ps.setLong(2, n)
            ps.setLong(3, s)
            ps.setLong(4, d)
            ps.executeUpdate()
          } finally ps.close()
        }
        c.commit()
        claimed
      } catch {
        case t: Throwable =>
          try c.rollback()
          catch { case scala.util.control.NonFatal(_) => () }
          // DuckDB's optimistic MVCC surfaces a CONCURRENT duplicate as
          // a serialization/PK conflict — at commit time, or at the
          // INSERT itself if it collides with the racer's still-
          // UNCOMMITTED row; neither racer sees the other's uncommitted
          // ledger row. If the id is committed now, the race loser is
          // just a duplicate delivery: reject, don't throw. If it is
          // NOT visible yet (the racer hadn't committed when we
          // conflicted — or it aborted), RETRY the whole attempt: a
          // committed winner makes the retry's ON CONFLICT claim 0
          // (reject), an aborted winner lets the retry merge. Bounded
          // attempts; a non-conflict failure (e.g. a mid-merge throw)
          // rethrows with the rollback above having un-burned the id.
          t match {
            case _: java.sql.SQLException if idLogged() => false
            case _: java.sql.SQLException if attemptsLeft > 1 =>
              Thread.sleep(10L)
              applyRefreshAttempt(dbFile, id, rows, attemptsLeft - 1)
            case _ => throw t
          }
      } finally {
        try c.setAutoCommit(true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  def refreshLoop(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: current manifest + snapshot partials + delta
    // partials as conditional aggregates over the bucket census
    val census = Tables
      .orders(spark, dir)
      .select(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long").as("bucket"),
        expr("""(o_orderkey * 1000003
          + CAST(floor(o_totalprice * 100) AS BIGINT) * 31
          + o_custkey) % 1000000007""").as("fp"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderdate").cast("date").as("d"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("cnt_b"),
        sum(col("fp")).as("dig_b"),
        sum(col("cents")).as("sum_b"),
        sum(when(col("d") < lit(Cutoff).cast("date"), 1L).otherwise(0L)).as("cnt_a"),
        coalesce(sum(when(col("d") < lit(Cutoff).cast("date"), col("fp"))), lit(0L))
          .as("dig_a"),
        coalesce(sum(when(col("d") < lit(Cutoff).cast("date"), col("cents"))), lit(0L))
          .as("sum_a"))
      .withColumn("cnt_d", col("cnt_b") - col("cnt_a"))
      .withColumn("dig_d", col("dig_b") - col("dig_a"))
      .withColumn("sum_d", col("sum_b") - col("sum_a"))
      .withColumn(
        "status",
        when(col("cnt_a") === 0L, lit("new"))
          .when(col("cnt_a") === col("cnt_b") && col("dig_a") === col("dig_b"),
            lit("unchanged"))
          .otherwise(lit("changed")))
      .ckpt() // bucket-domain-sized (~80 cells)

    val base = graft.ops.Scratch.scratchDir("graft_s35_")
    val dbFile = s"$base/view.duckdb"
    initStore(dbFile)

    // bucket-domain-bounded batch collects — the view's own size
    def collectBatch(df: DataFrame): Seq[(Long, Long, Long, Long)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // refresh 0: the previous run — view built from the SNAPSHOT only
    val snapshotBatch = collectBatch(
      census.filter(col("cnt_a") > 0L).select("bucket", "cnt_a", "sum_a", "dig_a"))
    applyRefresh(dbFile, 0L, snapshotBatch)
    // refresh 1: the incremental run — manifest diff's to-process set
    // is exactly the buckets with a delta; only their partials ship
    val deltaBatch = collectBatch(
      census.filter(col("cnt_d") > 0L).select("bucket", "cnt_d", "sum_d", "dig_d"))
    applyRefresh(dbFile, 1L, deltaBatch)
    // INJECTED stale re-delivery of the same refresh: must be rejected
    val rejected = Seq(applyRefresh(dbFile, 1L, deltaBatch)).count(_ == false).toLong

    // read back the maintained view (bucket-domain-bounded)
    val viewRows = DuckDbLive.withConnection(dbFile) { c =>
      val st = c.createStatement()
      try {
        val rs =
          st.executeQuery("SELECT bucket, n_rows, sum_cents, dig FROM view_m ORDER BY bucket")
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        while (rs.next()) buf += ((rs.getLong(1), rs.getLong(2), rs.getLong(3), rs.getLong(4)))
        buf.toSeq
      } finally st.close()
    }
    import spark.implicits._
    val viewDf = viewRows.toDF("v_bucket", "v_rows", "v_sum", "v_dig")
    // from-scratch equality per bucket (the q134 discipline), then the
    // q148-style per-status report
    census
      .join(broadcast(viewDf), col("bucket") === col("v_bucket"))
      .withColumn(
        "ok",
        col("v_rows") === col("cnt_b") && col("v_sum") === col("sum_b") &&
          col("v_dig") === col("dig_b"))
      .groupBy("status")
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("cnt_b")).as("rows_current"),
        sum(when(col("status") =!= "unchanged", col("cnt_b")).otherwise(0L))
          .as("rows_to_process"),
        sum(col("v_rows")).as("n_rows_view"),
        sum(col("v_sum")).as("sum_cents_view"),
        expr("bool_and(ok)").as("view_ok"))
      .withColumn("n_redeliveries_rejected", lit(rejected))
      .withColumn("refresh_live", lit(true))
      .orderBy("status")
  }
}
