package graft

import graft.sources.AvroSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Avro adapter (q142's engine): explicit schema translation, nullable
  * unions, logical-type timestamps — the fidelity obligations the
  * round-trip checksum depends on, unit-pinned so a mapping regression
  * fails here before it fails a 100-TB export.
  */
class AvroSourceSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark

  test("round-trip preserves every mapped type, including a nulls-in-every-column row") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("i", IntegerType),
      StructField("d", DoubleType),
      StructField("f", FloatType),
      StructField("b", BooleanType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("dt", DateType)
    ))
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.123456Z"))
    val ntz = java.time.LocalDateTime.parse("2024-06-07T08:09:10.000001")
    val rows = Seq(
      Row(1L, 7, 2.25, 1.5f, true, "alpha", Array[Byte](0, 127, -1), ts, ntz,
        java.sql.Date.valueOf("2024-03-05")),
      Row(2L, null, null, null, null, null, null, null, null, null),
      Row(3L, -3, -0.5, 3.75f, false, "", Array.empty[Byte], ts, ntz,
        java.sql.Date.valueOf("1969-12-31")) // pre-epoch date: negative epochDay
    )
    val df = spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
      .repartition(2) // exercise the file-per-partition write
    val dir = s"${tempDir("graft_avro_spec_")}/t"
    AvroSource.writeAvro(df, dir)
    val back = AvroSource.readAvro(spark, dir, schema).collect()
    assert(back.length == 3)
    val byK = back.map(r => r.getLong(0) -> r).toMap
    val r1 = byK(1L)
    assert(r1.getInt(1) == 7 && r1.getDouble(2) == 2.25 && r1.getFloat(3) == 1.5f)
    assert(r1.getBoolean(4) && r1.getString(5) == "alpha")
    assert(r1.getAs[Array[Byte]](6).toSeq == Seq[Byte](0, 127, -1))
    assert(r1.getAs[java.sql.Timestamp](7) == ts, "timestamp micros must survive bit-exact")
    assert(r1.getAs[java.time.LocalDateTime](8) == ntz, "NTZ micros must survive bit-exact")
    assert(r1.getAs[java.sql.Date](9).toString == "2024-03-05")
    val r2 = byK(2L)
    (1 until schema.length).foreach(i => assert(r2.isNullAt(i), s"col $i must round-trip NULL"))
    assert(byK(3L).getAs[java.sql.Date](9).toString == "1969-12-31", "pre-epoch date")
  }

  test("writer emits one container file per partition; reader parallelizes over them") {
    val df = spark.range(100).toDF("k").repartition(4)
    val schema = StructType(Seq(StructField("k", LongType, nullable = false)))
    val dir = s"${tempDir("graft_avro_parts_")}/t"
    AvroSource.writeAvro(df.select(df("k")), dir)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".avro")).toSeq
    assert(files.size == 4, s"expected 4 container files, got $files")
    val back = AvroSource.readAvro(spark, dir, schema)
    assert(back.rdd.getNumPartitions == 4, "read-back parallelism = file count")
    assert(back.agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0) == 4950L)
  }
}
