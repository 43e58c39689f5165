package graft

import graft.pipeline.Features
import graft.sinks.{DuckDbLive, DuckDbSink}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Live DuckDB appender binding (DatabaseWriter.cs:141-212 re-expressed
  * over the offline-cached public duckdb_jdbc driver): jar discovery,
  * DDL execution, native-appender round trip, commit cadence.
  */
class DuckDbLiveSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("duckdb_jdbc resolves from the offline artifact cache") {
    // Rounds 5-8 each disproved an "environment-blocked" premise (imageio,
    // sound.sampled, RIFF/AVI); this pins the round-8 one: the driver jar
    // IS reachable offline, so every DuckDB-backed entry can run.
    assert(DuckDbLive.available, s"expected a duckdb_jdbc jar; found ${DuckDbLive.jarPath}")
  }

  test("DDL + native appender + JDBC read-back round-trips every scalar type") {
    val df = Seq(
      (1L, 7, 1.5f, 2.25, true, "alpha"),
      (2L, -3, -0.5f, 1e-3, false, "beta\"quoted"),
      (3L, 0, 3.75f, -4.5, true, "")
    ).toDF("IdBig", "IdInt", "ValF", "ValD", "Flag", "Tag")
    val ordered = df.select(
      DuckDbSink.ordinalColumns(df.schema).map(f => org.apache.spark.sql.functions.col(f.name)): _*
    )
    val db = tempDir("graft_live_test_").toString + "/t.db"
    val (n, back) = DuckDbLive.withConnection(db) { c =>
      DuckDbLive.execute(c, DuckDbSink.ddlFor(df.schema, "T", useFloat32 = false))
      val n = DuckDbLive.appendAll(c, "T", ordered, commitEvery = 2)
      val row = DuckDbLive.queryRow(
        c,
        """SELECT count(*), sum("IdBig"), sum("IdInt"), sum("ValF"), sum("ValD"),
          |count(CASE WHEN "Flag" THEN 1 END),
          |string_agg("Tag", '|' ORDER BY "IdBig") FROM "T"""".stripMargin
      )
      (n, row)
    }
    assert(n == 3L)
    assert(back(0).asInstanceOf[Number].longValue == 3L)
    assert(back(1).asInstanceOf[Number].longValue == 6L)
    assert(back(2).asInstanceOf[Number].longValue == 4L)
    assert(math.abs(back(3).asInstanceOf[Number].doubleValue - 4.75) < 1e-6)
    assert(math.abs(back(4).asInstanceOf[Number].doubleValue - (2.25 + 1e-3 - 4.5)) < 1e-12)
    assert(back(5).asInstanceOf[Number].longValue == 2L)
    assert(back(6).toString == "alpha|beta\"quoted|")
  }

  test("widened type map + null cells: timestamp/date/decimal/blob/short/byte round-trip") {
    // the reference appender's FULL map (DatabaseWriter.cs:299-315) and
    // its AppendNull path (DatabaseWriter.cs:164): every column type the
    // DDL generator emits must survive the live appender, and a null in
    // ANY column must land as SQL NULL, not NPE
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("b_big", LongType),
      StructField("c_int", IntegerType),
      StructField("d_small", ShortType),
      StructField("e_tiny", ByteType),
      StructField("f_real", FloatType),
      StructField("g_dbl", DoubleType),
      StructField("h_bool", BooleanType),
      StructField("i_str", StringType),
      StructField("j_ts", TimestampType),
      StructField("k_date", DateType),
      StructField("l_dec", DecimalType(18, 3)),
      StructField("m_blob", BinaryType)
    ))
    val ts1 = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.123456Z"))
    val ts3 = java.sql.Timestamp.from(java.time.Instant.parse("2024-06-07T08:09:10.000001Z"))
    val rows = Seq(
      org.apache.spark.sql.Row(
        1L, 7, 3.toShort, 2.toByte, 1.5f, 2.25, true, "alpha", ts1,
        java.sql.Date.valueOf("2024-03-05"), new java.math.BigDecimal("12.345"),
        Array[Byte](0x00, 0x7f, -1)),
      org.apache.spark.sql.Row(
        2L, null, null, null, null, null, null, null, null, null, null, null),
      org.apache.spark.sql.Row(
        3L, -3, (-3).toShort, (-2).toByte, -0.5f, 1e-3, false, "beta", ts3,
        java.sql.Date.valueOf("2023-12-31"), new java.math.BigDecimal("-0.001"),
        Array[Byte](-85, -51)) // 0xAB 0xCD
    )
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava), schema)
    val db = tempDir("graft_live_types_").toString + "/w.db"
    val (n, back) = DuckDbLive.withConnection(db) { c =>
      DuckDbLive.execute(c, DuckDbSink.ddlFor(schema, "W", useFloat32 = false))
      val n = DuckDbLive.appendAll(c, "W", df, commitEvery = 2)
      val row = DuckDbLive.queryRow(
        c,
        """SELECT count(*), count("c_int"), sum("c_int"), count("j_ts"),
          |strftime(min("j_ts"), '%Y-%m-%d %H:%M:%S.%f'),
          |min("k_date")::VARCHAR, sum("l_dec")::VARCHAR,
          |string_agg(hex("m_blob"), '|' ORDER BY "b_big"),
          |sum("d_small"), sum("e_tiny"), count("m_blob") FROM "W"""".stripMargin
      )
      (n, row)
    }
    assert(n == 3L)
    assert(back(0).asInstanceOf[Number].longValue == 3L)
    assert(back(1).asInstanceOf[Number].longValue == 2L, "null int must count as missing")
    assert(back(2).asInstanceOf[Number].longValue == 4L)
    assert(back(3).asInstanceOf[Number].longValue == 2L, "null timestamp must count as missing")
    assert(back(4).toString == "2024-01-02 03:04:05.123456", "UTC micros must survive")
    assert(back(5).toString == "2023-12-31")
    assert(back(6).toString == "12.344")
    assert(back(7).toString == "007FFF|ABCD", "blob bytes must survive the \\xHH cast path")
    assert(back(8).asInstanceOf[Number].longValue == 0L)
    assert(back(9).asInstanceOf[Number].longValue == 0L)
    assert(back(10).asInstanceOf[Number].longValue == 2L)
  }

  test("appendPartitioned: executor-side appenders write one DuckDB file per partition") {
    // the distributed form the class doc promises: per-partition appender
    // connections opened inside foreachPartition (not on the driver), one
    // single-writer DuckDB file each; the union of the files is the frame
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2).repartition(3)
    val dir = tempDir("graft_live_part_").toString
    val files = DuckDbLive.appendPartitioned(df, dir, "P", commitEvery = 10)
    assert(files.size >= 2, s"expected multiple per-partition files, got $files")
    val (rows, idSum) = files.map { f =>
      val r = DuckDbLive.withConnection(s"$dir/$f")(c =>
        DuckDbLive.queryRow(c, """SELECT count(*), coalesce(sum("id"), 0) FROM "P""""))
      (r(0).asInstanceOf[Number].longValue, r(1).asInstanceOf[Number].longValue)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(rows == 100L, "union of per-partition files must hold every row exactly once")
    assert(idSum == 4950L)
  }

  test("insertRows rejects a template with a suffix clause before anything runs") {
    // the tuple after VALUES is replicated per row, so a trailing clause
    // would be replicated too and fail late inside DuckDB's parser
    val db = tempDir("graft_live_ins_").toString + "/t.db"
    val sql = "INSERT INTO t VALUES (?, ?) ON CONFLICT DO NOTHING"
    val n = DuckDbLive.withConnection(db) { c =>
      DuckDbLive.execute(c, "CREATE TABLE t(k BIGINT PRIMARY KEY, v BIGINT)")
      DuckDbLive.execute(c, "INSERT INTO t VALUES (0, 0)")
      val e = intercept[IllegalArgumentException] {
        DuckDbLive.insertRows(c, sql, Seq((1L, 10L), (2L, 20L))) { (ps, o, r) =>
          ps.setLong(o + 1, r._1)
          ps.setLong(o + 2, r._2)
        }
      }
      assert(e.getMessage.contains(sql))
      DuckDbLive.queryRow(c, "SELECT count(*) FROM t")(0).asInstanceOf[Number].longValue
    }
    assert(n == 1L, "a rejected template must leave the table unchanged")
  }

  /** Run `graft.Verify` at sf0.001 on `entries` in a child JVM on this
    * JVM's class path and `--add-opens`, with extra `-D` properties; its
    * combined output goes to `log`. Returns the exit code.
    */
  private def childVerify(props: Seq[String], out: java.nio.file.Path, log: java.io.File, entries: Seq[String]): Int = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val addOpens = jvmArgs.zip(jvmArgs.drop(1)).flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case _ => Nil
    } ++ jvmArgs.filter(_.startsWith("--add-opens="))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ addOpens ++ Seq("-Xmx1g") ++ props ++ Seq(
      "-cp", sys.props("java.class.path"),
      "graft.Verify", "/root/testdata/sf0.001", out.toString) ++ entries
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
    assert(proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES), "child Verify timed out")
    proc.exitValue
  }

  test("a missing duckdb_jdbc jar fails each DuckDB-backed entry by name") {
    // a child Verify run whose user.home is an empty dir finds no jar in
    // any artifact cache; each entry must fail with the one named error
    // from DuckDbLive.openConnection and write no result
    val home = tempDir("graft_nojar_home_")
    val out = tempDir("graft_nojar_out_")
    val log = out.resolve("verify.log").toFile
    val entries = Seq("s39_snapshot_commits", "s01_duckdb_sink")
    val rc = childVerify(Seq(s"-Duser.home=$home"), out, log, entries)
    val text = new String(java.nio.file.Files.readAllBytes(log.toPath))
    assert(rc == 0, text.takeRight(2000))
    entries.foreach { name =>
      assert(
        text.contains(s"[verify] $name failed: duckdb_jdbc not present in the local artifact cache"),
        s"$name must fail by name without the jar:\n${text.takeRight(2000)}")
      assert(!out.resolve(name).toFile.exists, s"$name must write no result dir")
    }
  }

  test("staging entries leave no graft_* dir in the temp dir once the JVM exits") {
    // s01 and s10 stage the features export and delete it when the call
    // returns; q218 memoizes its staging for the JVM's lifetime and
    // reclaims it at exit. A child Verify with its own java.io.tmpdir
    // must leave that dir free of graft_* entries.
    val tmp = tempDir("graft_leak_tmp_")
    val out = tempDir("graft_leak_out_")
    val log = out.resolve("verify.log").toFile
    val entries = Seq("s01_duckdb_sink", "s10_partitioned_export", "q218_skew_salt_decision")
    val rc = childVerify(Seq(s"-Djava.io.tmpdir=$tmp"), out, log, entries)
    val text = new String(java.nio.file.Files.readAllBytes(log.toPath))
    assert(rc == 0, text.takeRight(2000))
    entries.foreach(name => assert(out.resolve(name).toFile.exists, s"$name wrote no result:\n${text.takeRight(2000)}"))
    val left = Option(tmp.toFile.list()).toSeq.flatten.filter(_.startsWith("graft_")).sorted
    assert(left.isEmpty, s"staging left behind: ${left.mkString(", ")}")
  }

  test("a caching scope closes its own connections on exit inside an open outer scope") {
    // the inner scope's connection must close when the inner scope exits,
    // not when the outermost one does: its owner deletes the files next,
    // and a database recreated at the same path must read fresh
    val tmp = tempDir("graft_scope_test_")
    val outer = java.nio.file.Files.createDirectory(tmp.resolve("outer"))
    val inner = outer.resolve("inner")
    val db = s"$inner/x.duckdb"
    def tables(): Long = DuckDbLive.withConnection(db) { c =>
      DuckDbLive.queryRow(c, "SELECT count(*) FROM duckdb_tables() WHERE table_name = 't'")(0)
        .asInstanceOf[Number].longValue
    }
    DuckDbLive.cachingScope(outer) {
      java.nio.file.Files.createDirectory(inner)
      DuckDbLive.cachingScope(inner) {
        DuckDbLive.withConnection(db)(c => DuckDbLive.execute(c, "CREATE TABLE t(i INTEGER)"))
        assert(tables() == 1L)
      }
      graft.ops.Scratch.deleteTree(inner)
      java.nio.file.Files.createDirectory(inner)
      assert(tables() == 0L, "a connection cached by the exited inner scope outlived it")
    }
  }

  test("featuresF32Schema matches the pipeline's real f32 export schema") {
    // the s01 DDL oracle is generated from the STATIC schema; this pins it
    // to the actual pipeline output so they cannot drift apart
    val real = Features.featuresF32(graft.ops.Tables.events(spark, "/root/testdata/sf0.001")).schema
    val declared = Features.featuresF32Schema
    assert(
      real.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq ==
        declared.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    )
  }
}
