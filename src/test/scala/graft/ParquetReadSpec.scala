package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.ops.Tables
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` reads with the schema Spark's own inference would
  * find, taken from one footer on the driver, and so runs no job before
  * the query's own.
  */
class ParquetReadSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** The same schema, field for field (name, type, nullability,
    * metadata), or the same error class, from both readers.
    */
  private def sameAsSpark(paths: String*): Unit = {
    def attempt(read: => DataFrame) = scala.util.Try(read.schema)
    (attempt(spark.read.parquet(paths: _*)), attempt(Tables.parquet(spark, paths: _*))) match {
      case (scala.util.Success(want), scala.util.Success(got)) =>
        assert(got.fields.toSeq == want.fields.toSeq, s"\n got: ${got.treeString}\nwant: ${want.treeString}")
      case (scala.util.Failure(want: AnalysisException), scala.util.Failure(got: AnalysisException)) =>
        assert(got.getCondition == want.getCondition, s"got $got, want $want")
      case (want, got) => fail(s"spark.read.parquet: $want; Tables.parquet: $got")
    }
  }

  private def withConf[A](kv: (String, String))(body: => A): A = {
    val old = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body
    finally old.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  /** One parquet file of `df` at `dst`. */
  private def writeFile(df: DataFrame, dst: Path): Unit = {
    val tmp = tempDir("graft_pq_one_").resolve("d").toString
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(dst.getParent)
    Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  private val rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5))
  private def ab = rows.toDF("k", "s", "v")
  private def ba = ab.select("v", "s", "k") // same columns, other order

  test("flat dir: the first data file by full path gives the schema") {
    val dir = tempDir("graft_pq_flat_")
    ab.repartition(2).write.mode("overwrite").parquet(dir.toString)
    // sorts before every part-* file, so inference reads this footer
    writeFile(ba, dir.resolve("a-first.parquet"))
    sameAsSpark(dir.toString)
    assert(Tables.parquet(spark, dir.toString).columns.toSeq == Seq("v", "s", "k"))
  }

  test("single file") {
    val f = tempDir("graft_pq_file_").resolve("one.parquet")
    writeFile(ab, f)
    sameAsSpark(f.toString)
  }

  test("partitionBy dir: partition columns come from partition discovery") {
    val dir = tempDir("graft_pq_part_").resolve("t").toString
    ab.withColumn("day", ($"k" % 2).cast("int")).withColumn("tag", lit("x"))
      .write.partitionBy("day", "tag").parquet(dir)
    sameAsSpark(dir)
    val df = Tables.parquet(spark, dir)
    assert(df.columns.toSeq == Seq("k", "s", "v", "day", "tag"))
    assert(df.filter($"day" === 1).count() == 2L)
  }

  test("file-sink output: files come from the _spark_metadata log") {
    val base = tempDir("graft_pq_sink_")
    val src = base.resolve("src").toString
    ab.write.parquet(src)
    val out = base.resolve("out").toString
    spark.readStream.schema(ab.schema).parquet(src)
      .writeStream.format("parquet")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start(out)
      .awaitTermination()
    // a file no batch committed, sorting first: a listing would pick it,
    // the sink's log does not
    writeFile(ba.withColumn("extra", lit(1)), base.resolve("out/a-stray.parquet"))
    sameAsSpark(out)
    assert(Tables.parquet(spark, out).columns.toSeq == Seq("k", "s", "v"))
    assert(Tables.parquet(spark, out).count() == 3L)
  }

  test("several paths: the first data file across all of them") {
    val base = tempDir("graft_pq_multi_")
    ab.write.parquet(base.resolve("z").toString)
    ba.write.parquet(base.resolve("y").toString)
    sameAsSpark(base.resolve("z").toString, base.resolve("y").toString)
    assert(Tables.parquet(spark, base.resolve("z").toString, base.resolve("y").toString).columns.head == "v")
  }

  test("a _metadata summary gives the schema where Spark lists it") {
    // partitioned: the summary is among the listed files and wins;
    // flat: Spark lists data files only, and so does Tables.parquet
    val base = tempDir("graft_pq_summary_")
    val parted = base.resolve("parted").toString
    ab.withColumn("day", ($"k" % 2).cast("int")).write.partitionBy("day").parquet(parted)
    writeFile(ba, base.resolve("parted/_metadata"))
    sameAsSpark(parted)
    assert(Tables.parquet(spark, parted).columns.toSeq == Seq("v", "s", "k", "day"))
    val flat = base.resolve("flat").toString
    ab.write.parquet(flat)
    writeFile(ba, base.resolve("flat/_metadata"))
    sameAsSpark(flat)
  }

  test("TIMESTAMP(NANOS) with nanosAsLong on and off") {
    val f = tempDir("graft_pq_nanos_").resolve("ns.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 k; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f.toString))
      .withConf(new Configuration()).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("k", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      sameAsSpark(f.toString)
      assert(Tables.parquet(spark, f.toString).head().getLong(1) == 1700000000123456789L)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false")(sameAsSpark(f.toString))
  }

  test("NTZ timestamps: Spark-written and from the test fixtures") {
    val dir = tempDir("graft_pq_ntz_").resolve("t").toString
    Seq((1L, java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)), (2L, null)).toDF("k", "ts").write.parquet(dir)
    sameAsSpark(dir)
    assert(Tables.parquet(spark, dir).schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    sameAsSpark("/root/testdata/sf0.001/events.parquet")
  }

  test("a dir with no data file raises Spark's own error") {
    val empty = tempDir("graft_pq_empty_")
    sameAsSpark(empty.toString)
    val marked = tempDir("graft_pq_marked_")
    Files.createFile(marked.resolve("_SUCCESS"))
    sameAsSpark(marked.toString)
    val e = intercept[AnalysisException](Tables.parquet(spark, marked.toString))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA")
    sameAsSpark(empty.resolve("missing").toString)
  }

  test("q01, q158, s01, s22 and q18 run no schema-inference job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val fence = "graft.spec.fence"
    val inference = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
        if (prop(fence).isDefined) fenced = true
        else if (prop("spark.sql.execution.id").isEmpty && callSite.startsWith("parquet at"))
          inference.add(callSite)
      }
    }
    val dir = "/root/testdata/sf0.001"
    val entries = Seq("q01_scan_project", "q158_interevent_gaps", "s01_duckdb_sink",
      "s22_checkpoint_recovery", "q18_features_full")
    spark.sparkContext.addSparkListener(listener)
    try {
      entries.foreach(name => SparkEntry.queries(name)(spark, dir).collect())
      // the listener bus delivers in order: once this job's start is
      // seen, every job the entries ran has been seen
      spark.sparkContext.setLocalProperty(fence, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(fence, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(fenced, "the fence job was not observed")
    assert(inference.isEmpty, s"schema-inference jobs: ${inference.toArray.mkString(", ")}")
  }

  private def lit(v: Any) = org.apache.spark.sql.functions.lit(v)
}
