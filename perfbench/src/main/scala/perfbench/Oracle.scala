package perfbench

import graft.sinks.DuckDbLive
import org.apache.spark.sql.DataFrame

import java.security.MessageDigest

/** Output checks against DuckDB, through the engine's own DuckDB driver
  * (`DuckDbLive`). A result is compared as the engines' shared oracle
  * convention has it: columns in name order, rows in the query's order,
  * each value in DuckDB's own rendering with NaN and -0.0 normalised.
  */
object Oracle {

  /** In-memory DuckDB with one view per corpus table. */
  def withCorpus[A](corpusDir: String, tables: Seq[String])(f: java.sql.Connection => A): A =
    DuckDbLive.withConnection("") { conn =>
      tables.foreach { t =>
        DuckDbLive.execute(conn, s"CREATE VIEW $t AS SELECT * FROM read_parquet('$corpusDir/$t.parquet/*.parquet')")
      }
      f(conn)
    }

  private def canon(v: AnyRef): String = v match {
    case null => "null"
    case d: java.lang.Double if d.isNaN => "NaN"
    case f: java.lang.Float if f.isNaN => "NaN"
    case d: java.lang.Double if d.doubleValue == 0.0 => "0.0"
    case f: java.lang.Float if f.floatValue == 0.0f => "0.0"
    case o => o.toString
  }

  /** (row count, MD5 of the canonical rows) of a DuckDB query. */
  def digest(conn: java.sql.Connection, sql: String): (Long, String) = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val order = (1 to md.getColumnCount).sortBy(md.getColumnName)
      val h = MessageDigest.getInstance("MD5")
      order.foreach(i => h.update((md.getColumnName(i) + "\u0001").getBytes("UTF-8")))
      var n = 0L
      while (rs.next()) {
        h.update(order.map(i => canon(rs.getObject(i))).mkString("\n", "\u0002", "").getBytes("UTF-8"))
        n += 1
      }
      (n, h.digest().map("%02x".format(_)).mkString)
    } finally st.close()
  }

  /** Writes `df` as one parquet file in its own row order. */
  def writeOrdered(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  /** Compares a result written by [[writeOrdered]] with `oracleSql`.
    * Returns the result's row count, and the mismatch if there is one.
    */
  def compare(conn: java.sql.Connection, dir: String, oracleSql: String): (Long, Option[String]) = {
    val spark = digest(conn, s"SELECT * FROM read_parquet('$dir/*.parquet')")
    val oracle = digest(conn, oracleSql)
    val bad =
      if (spark == oracle) None
      else Some(s"spark ${spark._1} rows (${spark._2.take(12)}) vs oracle ${oracle._1} rows (${oracle._2.take(12)})")
    (spark._1, bad)
  }

  /** Values compared across engines: integers by value, floats by their
    * double value.
    */
  def number(v: Any): String = v match {
    case null => "null"
    case f: java.lang.Float => f.toDouble.toString
    case d: java.lang.Double => d.toString
    case n: java.lang.Number => BigDecimal(n.toString).toString
    case o => o.toString
  }
}
