package graft.sinks

import java.nio.file.{Files, Path, Paths}
import java.sql.Connection

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** Live DuckDB JDBC + native-Appender binding — the reference's actual
  * sink path (`DatabaseWriter.cs:141-212`: one appender per table,
  * `BeginRow`/typed `Append` per ordinal-sorted column, periodic flush as
  * the commit cadence), re-expressed against the public
  * `org.duckdb:duckdb_jdbc` driver.
  *
  * The binding is REFLECTIVE: the jar is discovered in the
  * machine-local artifact caches (the same pre-warmed, offline cache the
  * test dependencies resolve from — no remote fetch, no repository host
  * named anywhere) and loaded in a child classloader, so `build.sbt`'s
  * dependency set stays fixed. The jar is REQUIRED by every DuckDB-backed
  * entry: without it the first connection throws
  * `IllegalStateException("duckdb_jdbc not present …")` from
  * `openConnection`, and that entry fails by name.
  *
  * Type coverage mirrors the reference's full appender map
  * (`DatabaseWriter.cs:299-315`): integral widths, float32/float64,
  * boolean, varchar, TIMESTAMP (`appendLocalDateTime`), DECIMAL
  * (`appendBigDecimal`), DATE and BLOB (via the appender's documented
  * varchar-with-cast path — this driver version exposes no direct
  * date/blob overloads). NULL cells take the reference's `AppendNull`
  * path (`DatabaseWriter.cs:164`): every `append*` overload in the
  * driver routes a null argument to the native `append_null`, which the
  * null-guarded setters below exploit uniformly.
  *
  * Scale posture: DuckDB is a single-node store, so `appendAll` is for
  * bounded, driver-side exports — exactly the reference's single-process
  * appender loop. The DISTRIBUTED form is `appendPartitioned`: one
  * appender connection per output partition, executor-side, each writing
  * an independent DuckDB file (DuckDB files are single-writer, so
  * partition-per-file is the shape that composes with a cluster; the
  * per-file results union back via `read_parquet`-style ATTACH or a
  * UNION ALL view).
  */
object DuckDbLive {

  /** Numeric version segments of a `duckdb_jdbc-X.Y.Z.jar` filename —
    * used to prefer the NEWEST cached driver (reflective signatures and
    * storage-format behavior differ across versions; the lexicographic
    * minimum would pick the oldest).
    */
  private def versionOf(p: Path): Seq[Int] =
    """\d+""".r.findAllIn(p.getFileName.toString).map(_.toInt).toSeq

  /** `duckdb_jdbc-*.jar` from the local artifact caches, HIGHEST version
    * first (path string as the deterministic tiebreak). None → unavailable.
    */
  lazy val jarPath: Option[Path] =
    try {
      val home = Paths.get(sys.props.getOrElse("user.home", "/root"))
      val roots = Seq(".cache/coursier", ".ivy2", ".m2")
        .map(home.resolve)
        .filter(Files.isDirectory(_))
      import scala.jdk.CollectionConverters._
      implicit val bySegments: Ordering[Seq[Int]] = Ordering.Implicits.seqOrdering
      roots.flatMap { r =>
        val stream = Files.walk(r)
        try
          stream.iterator().asScala.filter { p =>
            val n = p.getFileName.toString
            n.startsWith("duckdb_jdbc") && n.endsWith(".jar")
          }.toList
        finally stream.close()
      }.sortBy(p => (versionOf(p), p.toString))(Ordering.Tuple2(bySegments.reverse, Ordering.String))
        .headOption
    } catch { case NonFatal(_) => None }

  /** The JDBC driver instance from the child classloader. `java.sql.Driver`
    * is JDK-loaded, so the instance is usable across the loader boundary
    * (DriverManager itself would refuse drivers it cannot see, hence
    * `driver.connect`, not `getConnection`).
    */
  private lazy val driver: Option[java.sql.Driver] = jarPath.flatMap { p =>
    try {
      val loader = new java.net.URLClassLoader(Array(p.toUri.toURL), getClass.getClassLoader)
      Some(
        loader
          .loadClass("org.duckdb.DuckDBDriver")
          .getDeclaredConstructor()
          .newInstance()
          .asInstanceOf[java.sql.Driver]
      )
    } catch { case NonFatal(_) => None }
  }

  def available: Boolean = driver.isDefined

  private def openConnection(dbFile: String): Connection = {
    val d = driver.getOrElse(
      throw new IllegalStateException("duckdb_jdbc not present in the local artifact cache")
    )
    d.connect(s"jdbc:duckdb:$dbFile", new java.util.Properties)
  }

  /** Scoped per-dbFile connection reuse. A metadata lifecycle makes
    * dozens of `withConnection` calls against the SAME file; under the
    * default each call pays a full DuckDB open (catalog + WAL replay) and
    * close (WAL checkpoint) — a large share of the lifecycle entries'
    * driver gap. Inside `cachingScope(root)`, calls on a dbFile under
    * `root` reuse ONE open connection per dbFile (access serialized on
    * the connection — callers from streaming callback threads reuse the
    * same session instead of racing a second native open). The scope
    * owns exactly the connections it cached and closes them when it
    * exits — before the scope owner deletes `root` — however other
    * scopes (nested, or on other threads) overlap it. A dbFile under no
    * open scope's root gets its own connection per call.
    * Transaction boundaries are untouched: each call still commits
    * exactly where it used to (autocommit per statement, or the call's
    * own explicit transaction).
    */
  private final class Scope {
    private val conns = scala.collection.mutable.HashMap.empty[String, Connection]
    private var open = true

    /** The scope's connection for `dbFile`; None once the scope has exited. */
    def connection(dbFile: String): Option[Connection] = synchronized {
      if (open) Some(conns.getOrElseUpdate(dbFile, openConnection(dbFile))) else None
    }

    def close(): Unit = synchronized {
      open = false
      conns.values.foreach(c => try c.close() catch { case NonFatal(_) => () })
      conns.clear()
    }
  }

  private val scopes = new java.util.concurrent.ConcurrentHashMap[Path, Scope]()

  def cachingScope[A](root: Path)(body: => A): A = {
    val key = root.toAbsolutePath.normalize
    val scope = new Scope
    require(scopes.putIfAbsent(key, scope) == null, s"a caching scope is already open on $key")
    try body
    finally {
      scopes.remove(key, scope)
      scope.close()
    }
  }

  /** The innermost open scope whose root holds `dbFile`. */
  private def scopeOf(dbFile: String): Option[Scope] =
    if (scopes.isEmpty) None
    else
      Iterator
        .iterate(Paths.get(dbFile).toAbsolutePath.normalize.getParent)(_.getParent)
        .takeWhile(_ != null)
        .map(scopes.get)
        .find(_ != null)

  def withConnection[A](dbFile: String)(f: Connection => A): A =
    scopeOf(dbFile).flatMap(_.connection(dbFile)) match {
      case Some(conn) => conn.synchronized(f(conn))
      case None =>
        val conn = openConnection(dbFile)
        try f(conn)
        finally conn.close()
    }

  def execute(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try { st.execute(sql); () }
    finally st.close()
  }

  /** Run a query and return the single result row as a Seq of values. */
  def queryRow(conn: Connection, sql: String): IndexedSeq[AnyRef] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      require(rs.next(), s"empty result for: $sql")
      (1 to rs.getMetaData.getColumnCount).map(rs.getObject)
    } finally st.close()
  }

  /** Run a query and return every result row — the DESCRIBE surface the
    * oracle-dtype parity guard (OracleDtypeSpec) reads.
    */
  def queryRows(conn: Connection, sql: String): Seq[IndexedSeq[AnyRef]] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[AnyRef]]
      while (rs.next()) out += (1 to n).map(rs.getObject)
      out.toSeq
    } finally st.close()
  }

  /** Like [[queryRows]] but with positional string parameters bound via
    * a prepared statement — identifiers and values that arrive as data
    * (column names, paths) must never be spliced into the SQL text
    * (ADVICE r18: a quote in a spliced col_name silently breaks a query
    * built at a distance).
    */
  def queryRowsBound(
      conn: Connection,
      sql: String,
      params: Seq[String]): Seq[IndexedSeq[AnyRef]] = {
    val ps = conn.prepareStatement(sql)
    try {
      params.zipWithIndex.foreach { case (p, i) => ps.setString(i + 1, p) }
      val rs = ps.executeQuery()
      val n = rs.getMetaData.getColumnCount
      val out = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[AnyRef]]
      while (rs.next()) out += (1 to n).map(rs.getObject)
      out.toSeq
    } finally ps.close()
  }

  /** Rows per multi-row INSERT statement. 200 × (≤8 cols) stays far
    * under any parameter-count concern while cutting JDBC round trips
    * ~200×.
    */
  private val InsertChunk = 200

  /** Insert rows through CHUNKED multi-row prepared statements inside
    * ONE transaction. r20 moved the commit boundary from per-row to
    * per-call (one transaction); r21 measurement (q222 JobProfile)
    * showed the remaining cost is the per-`executeUpdate` JDBC→native
    * round trip itself (~4.6k calls ≈ 1.4 s of the entry's 4.8 s), so
    * rows are now bound 200-at-a-time into a `VALUES (...),(...)...`
    * statement — ~25 native calls instead of ~4.6k. Row order, values
    * and the single commit boundary are unchanged; `bind` receives the
    * parameter-index BASE for its row (0 for the first row in a
    * statement, `arity` for the second, ...).
    *
    * `sql` must have the shape `INSERT INTO <t> VALUES (?, ...)` —
    * the template after VALUES is replicated per chunk row, so anything
    * else there (a suffix clause such as `ON CONFLICT`, a literal, a
    * second tuple) is rejected before any statement runs.
    */
  def insertRows[A](
      conn: Connection,
      sql: String,
      rows: Seq[A])(bind: (java.sql.PreparedStatement, Int, A) => Unit): Unit =
    if (rows.nonEmpty) {
      val vIdx = sql.toUpperCase.indexOf("VALUES")
      require(vIdx >= 0, s"insertRows needs an INSERT ... VALUES statement, got: $sql")
      val prefix = sql.substring(0, vIdx + "VALUES".length)
      val template = sql.substring(vIdx + "VALUES".length).trim
      require(
        template.matches("""\(\s*\?(\s*,\s*\?)*\s*\)"""),
        s"insertRows needs exactly one (?, ..., ?) tuple after VALUES, got: $sql")
      val arity = template.count(_ == '?')
      val prevAuto = conn.getAutoCommit
      conn.setAutoCommit(false)
      try {
        var prepared: (Int, java.sql.PreparedStatement) = (0, null)
        def stmtFor(n: Int): java.sql.PreparedStatement = {
          if (prepared._1 != n) {
            if (prepared._2 != null) prepared._2.close()
            prepared = (n, conn.prepareStatement(
              prefix + " " + Seq.fill(n)(template).mkString(", ")))
          }
          prepared._2
        }
        try {
          rows.grouped(InsertChunk).foreach { chunk =>
            val ps = stmtFor(chunk.size)
            chunk.zipWithIndex.foreach { case (r, i) => bind(ps, i * arity, r) }
            ps.executeUpdate()
          }
        } finally if (prepared._2 != null) prepared._2.close()
        conn.commit()
      } catch {
        case NonFatal(e) => conn.rollback(); throw e
      } finally {
        conn.setAutoCommit(prevAuto)
      }
    }

  /** Bytes → DuckDB blob-literal body (`\xHH` per byte): the appender's
    * varchar→BLOB cast decodes exactly this form, so arbitrary binary
    * survives the driver's string-only append surface.
    */
  private def blobLiteral(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 4)
    var i = 0
    while (i < bytes.length) {
      sb.append(f"\\x${bytes(i) & 0xff}%02X")
      i += 1
    }
    sb.toString
  }

  /** Rows per appender flush: the reference's `CommitEveryRows`
    * (`StrategyAnalyzerExporter.cs:114`, SURVEY O22). Under autocommit
    * DuckDB runs each flush in its own transaction, so every flush is a
    * commit; the flush dominates the appender's task time at 1,000.
    */
  val DefaultCommitEvery: Int = 10000

  /** Append rows through ONE native appender on `conn` — the shared core
    * of the driver-side (`appendAll`) and executor-side
    * (`appendPartitioned`) paths. Every setter is null-guarded: a null
    * cell appends SQL NULL via the driver's internal append_null route
    * (each overload null-checks its argument), matching the reference's
    * `AppendNull` (`DatabaseWriter.cs:164`).
    */
  def appendRows(
      conn: Connection,
      table: String,
      schema: StructType,
      rows: Iterator[Row],
      commitEvery: Int = DefaultCommitEvery
  ): Long = {
    val createAppender =
      conn.getClass.getMethod("createAppender", classOf[String], classOf[String])
    val ap = createAppender.invoke(conn, "main", table)
    val apc = ap.getClass
    val beginRow = apc.getMethod("beginRow")
    val endRow = apc.getMethod("endRow")
    val flush = apc.getMethod("flush")
    val close = apc.getMethod("close")
    val appendStr = apc.getMethod("append", classOf[String])
    def withNullGuard(set: (Row, Int) => Unit): (Row, Int) => Unit =
      (r, i) => if (r.isNullAt(i)) { appendStr.invoke(ap, null); () } else set(r, i)

    // one boxed-invoke thunk per column, resolved once (not per row)
    val setters: Array[(Row, Int) => Unit] =
      schema.fields.map { f =>
        f.dataType match {
          case LongType =>
            val m = apc.getMethod("append", java.lang.Long.TYPE)
            withNullGuard((r, i) => { m.invoke(ap, java.lang.Long.valueOf(r.getLong(i))); () })
          case IntegerType =>
            val m = apc.getMethod("append", java.lang.Integer.TYPE)
            withNullGuard((r, i) => { m.invoke(ap, java.lang.Integer.valueOf(r.getInt(i))); () })
          case ShortType =>
            val m = apc.getMethod("append", java.lang.Short.TYPE)
            withNullGuard((r, i) => { m.invoke(ap, java.lang.Short.valueOf(r.getShort(i))); () })
          case ByteType =>
            val m = apc.getMethod("append", java.lang.Byte.TYPE)
            withNullGuard((r, i) => { m.invoke(ap, java.lang.Byte.valueOf(r.getByte(i))); () })
          case FloatType =>
            val m = apc.getMethod("append", java.lang.Float.TYPE)
            withNullGuard((r, i) => { m.invoke(ap, java.lang.Float.valueOf(r.getFloat(i))); () })
          case DoubleType =>
            val m = apc.getMethod("append", java.lang.Double.TYPE)
            withNullGuard((r, i) => { m.invoke(ap, java.lang.Double.valueOf(r.getDouble(i))); () })
          case BooleanType =>
            val m = apc.getMethod("append", java.lang.Boolean.TYPE)
            withNullGuard((r, i) => { m.invoke(ap, java.lang.Boolean.valueOf(r.getBoolean(i))); () })
          case StringType =>
            withNullGuard((r, i) => { appendStr.invoke(ap, r.getString(i)); () })
          case TimestampType =>
            // session TZ is UTC and DuckDB TIMESTAMP is naive: append the
            // UTC wall-clock of the instant (DatabaseWriter.cs maps
            // DateTime → TIMESTAMP the same way)
            val m = apc.getMethod("appendLocalDateTime", classOf[java.time.LocalDateTime])
            withNullGuard { (r, i) =>
              val ldt = r.getTimestamp(i).toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
              m.invoke(ap, ldt); ()
            }
          case _: DecimalType =>
            val m = apc.getMethod("appendBigDecimal", classOf[java.math.BigDecimal])
            withNullGuard((r, i) => { m.invoke(ap, r.getDecimal(i)); () })
          case DateType =>
            // no direct date overload in this driver version: ISO-8601
            // varchar, cast by the appender to the DATE column
            withNullGuard((r, i) => { appendStr.invoke(ap, r.getDate(i).toLocalDate.toString); () })
          case BinaryType =>
            // no byte[] overload either: \xHH blob-literal varchar, cast
            // by the appender to the BLOB column
            withNullGuard((r, i) => { appendStr.invoke(ap, blobLiteral(r.getAs[Array[Byte]](i))); () })
          case other =>
            throw new IllegalArgumentException(
              s"live appender supports scalar columns only; ${f.name} is $other"
            )
        }
      }

    var n = 0L
    try {
      while (rows.hasNext) {
        val row = rows.next()
        beginRow.invoke(ap)
        var i = 0
        while (i < setters.length) { setters(i)(row, i); i += 1 }
        endRow.invoke(ap)
        n += 1
        if (n % commitEvery == 0) flush.invoke(ap)
      }
    } finally close.invoke(ap)
    n
  }

  /** Append every row of `df` to `table` through the NATIVE appender
    * (`DuckDBConnection.createAppender` → `beginRow`/typed
    * `append`/`endRow`), flushing every `commitEvery` rows — the commit
    * cadence of the reference's `CommitEveryRows` loop. All appender calls
    * are reflective (the class lives in the child loader). Returns the row
    * count appended.
    *
    * Driver-side by design: callers hand in BOUNDED exports (see class
    * doc); rows stream via `toLocalIterator`, so only one partition is
    * resident at a time. For the distributed form see `appendPartitioned`.
    */
  def appendAll(conn: Connection, table: String, df: DataFrame, commitEvery: Int = DefaultCommitEvery): Long = {
    import scala.jdk.CollectionConverters._
    appendRows(conn, table, df.schema, df.toLocalIterator().asScala, commitEvery)
  }

  /** DISTRIBUTED appender export: each partition of `df` opens its own
    * appender connection ON THE EXECUTOR and writes an independent DuckDB
    * file `dbDir/part-<partitionId>.duckdb` (single-writer store →
    * partition-per-file is the only shape that parallelizes). Empty
    * partitions write nothing. Returns the written file names.
    *
    * This is the form the class doc has promised since round 8: the
    * per-connection API composes with `foreachPartition`, so a
    * 1000-executor cluster appends 1000 files in parallel and the
    * warehouse unions them (ATTACH per file, or re-exports to parquet).
    */
  def appendPartitioned(
      df: DataFrame,
      dbDir: String,
      table: String,
      commitEvery: Int = DefaultCommitEvery
  ): Seq[String] = {
    val schema = df.schema
    val ddl = DuckDbSink.ddlFor(schema, table, useFloat32 = false)
    // ordinal column order so the appender ordinals line up with the DDL
    val ordered = df.select(
      DuckDbSink.ordinalColumns(schema).map(f => org.apache.spark.sql.functions.col(f.name)): _*
    )
    val orderedSchema = ordered.schema
    Files.createDirectories(Paths.get(dbDir))
    ordered.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        DuckDbLive.withConnection(s"$dbDir/part-$pid.duckdb") { conn =>
          DuckDbLive.execute(conn, ddl)
          DuckDbLive.appendRows(conn, table, orderedSchema, it, commitEvery)
          ()
        }
      }
    }
    import scala.jdk.CollectionConverters._
    val stream = Files.list(Paths.get(dbDir))
    try stream.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".duckdb")).toSeq.sorted
    finally stream.close()
  }
}
