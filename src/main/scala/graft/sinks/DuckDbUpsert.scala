package graft.sinks

import graft.ops.Tables
import graft.streaming.{StreamSessions, Watermarks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** s30: streaming CDC UPSERT into a live external store — the write-side
  * completion of the sink family: s01 bulk-appends a finished frame, s02
  * appends per epoch; a real CDC export must MERGE, and merge must be
  * conditional or late replays corrupt the table. Each micro-batch is
  * first reduced to one latest-wins candidate per key (q96's max(struct)
  * reduction — map-side, so the per-batch JDBC traffic is key-bounded,
  * never row-bounded), then applied with
  * `INSERT .. ON CONFLICT (pk) DO UPDATE .. WHERE (excluded.ts, id) >
  * (current.ts, id)` — the conditional upsert. The staged replay
  * (`Watermarks.stageBatches`) re-delivers far-stale rows in batch 2, so
  * the guard is genuinely exercised: every batch-2 attempt must lose,
  * and the measured reject count is folded into the hashed row. Restart
  * safety comes from the same property: re-applying any prefix of
  * batches is idempotent (stale re-application changes nothing), which
  * is exactly what a checkpoint-resumed foreachBatch needs.
  *
  * Scale: the stream side is arbitrarily large — everything before the
  * JDBC hop is partial-aggregated on the key; the per-batch collect is
  * bounded by the key domain (the upsert target's own size), the same
  * bounded-export contract as `DuckDbLive.appendAll`. A cluster
  * deployment shards the same conditional-upsert statement per partition
  * over a store that takes concurrent writers (the
  * `appendPartitioned` composition).
  */
object DuckDbUpsert {

  def streamUpsertLatest(session: SparkSession, dir: String): DataFrame = {
    import session.implicits._
    val spark = StreamSessions.tuned(session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = Watermarks.stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    val stream = Tables.normalizeEvents(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
    )
    val base = graft.ops.Scratch.scratchDir("graft_s30_")
    val dbFile = s"$base/upsert.duckdb"

    val nBatches = new java.util.concurrent.atomic.AtomicLong(0)
    val nStale = new java.util.concurrent.atomic.AtomicLong(0)

    def reduceLatest(batch: DataFrame): Array[org.apache.spark.sql.Row] = batch
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("last"))
      .select(
        col("user_id"),
        unix_micros(col("last.ts")).as("ts_us"),
        col("last.event_id").as("event_id"),
        col("last.value").as("value")
      )
      .collect() // bounded by the key domain = the upsert target's size

    DuckDbLive.cachingScope(base) {
      // one native DuckDB open for the whole lifecycle (DDL + one
      // upsert transaction per micro-batch + the final state read)
      // instead of an open/close — each with a WAL checkpoint — per
      // call (the cachingScope discipline of withTempTableDir)
      DuckDbLive.withConnection(dbFile) { c =>
        DuckDbLive.execute(
          c,
          """CREATE TABLE latest(
            |user_id BIGINT PRIMARY KEY, ts_us BIGINT NOT NULL,
            |event_id BIGINT NOT NULL, value DOUBLE NOT NULL)""".stripMargin
        )
      }
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = reduceLatest(batch)
          nBatches.incrementAndGet()
          DuckDbLive.withConnection(dbFile) { c =>
            // ONE transaction per batch: the autocommit default commits
            // (and checkpoints the WAL) once per row, which dominates a
            // per-user upsert loop (r20, guide §1). The per-row
            // executeUpdate() return still counts stale rows; the batch
            // stays atomic, matching the commit-cadence contract.
            val prevAuto = c.getAutoCommit // restore, not hardcode (ADVICE r20)
            c.setAutoCommit(false)
            val ps = c.prepareStatement(
              """INSERT INTO latest VALUES (?, ?, ?, ?)
                |ON CONFLICT (user_id) DO UPDATE SET
                |  ts_us = excluded.ts_us, event_id = excluded.event_id,
                |  value = excluded.value
                |WHERE excluded.ts_us > latest.ts_us
                |   OR (excluded.ts_us = latest.ts_us AND excluded.event_id > latest.event_id)""".stripMargin
            )
            try {
              rows.foreach { r =>
                ps.setLong(1, r.getLong(0))
                ps.setLong(2, r.getLong(1))
                ps.setLong(3, r.getLong(2))
                ps.setDouble(4, r.getDouble(3))
                if (ps.executeUpdate() == 0) nStale.incrementAndGet()
              }
              c.commit()
            } catch {
              case scala.util.control.NonFatal(e) => c.rollback(); throw e
            } finally {
              ps.close()
              c.setAutoCommit(prevAuto)
            }
          }
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val state = DuckDbLive.withConnection(dbFile) { c =>
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            "SELECT user_id, ts_us, event_id, value FROM latest ORDER BY user_id")
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
          while (rs.next()) buf += ((rs.getLong(1), rs.getLong(2), rs.getLong(3), rs.getDouble(4)))
          buf.toSeq
        } finally st.close()
      }
      spark.streams.resetTerminated()
      state
        .toDF("user_id", "ts_us", "event_id", "value")
        .withColumn("n_batches", lit(nBatches.get))
        .withColumn("n_stale_rejected", lit(nStale.get))
        .withColumn("upsert_live", lit(true))
    }
  }
}
