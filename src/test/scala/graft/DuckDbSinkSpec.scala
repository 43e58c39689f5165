package graft

import graft.sinks.DuckDbSink
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Dynamic-schema sink: ordinal column sort, identifier quoting, type
  * map, float32 downcast (DatabaseWriter.cs:131-256,299-315,467).
  */
class DuckDbSinkSpec extends AnyFunSuite with TempDirs {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("ddlFor sorts columns ordinally and maps types") {
    val schema = StructType(Seq(
      StructField("Volume", DoubleType),
      StructField("Close", DoubleType),
      StructField("Day", LongType),
      StructField("Name", StringType),
      StructField("Flag", BooleanType)
    ))
    val ddl = DuckDbSink.ddlFor(schema, "Features", useFloat32 = true)
    assert(ddl ==
      """CREATE TABLE IF NOT EXISTS "Features" ("Close" REAL, "Day" BIGINT, "Flag" BOOLEAN, "Name" VARCHAR, "Volume" REAL)""")
    val ddl64 = DuckDbSink.ddlFor(schema, "Features", useFloat32 = false)
    assert(ddl64.contains("\"Close\" DOUBLE"))
  }

  test("identifier quoting doubles embedded quotes (DatabaseWriter.cs:467)") {
    assert(DuckDbSink.quoteIdent("a\"b") == "\"a\"\"b\"")
  }

  test("write lands ordinal-ordered parquet with float32 doubles") {
    val out = tempDir("graft_sink_test_").toString
    val df = Seq((1.5, 10L, "x")).toDF("Value", "Key", "Tag")
    val (ddl, ins) = DuckDbSink.write(df, "T", out)
    val back = spark.read.parquet(out)
    assert(back.columns.toSeq == Seq("Key", "Tag", "Value"))
    assert(back.schema("Value").dataType == FloatType)
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS \"T\""))
    assert(ins.contains("read_parquet"))
    assert(back.count() == 1)
  }

  test("array and decimal types map through") {
    assert(DuckDbSink.duckType(ArrayType(FloatType), useFloat32 = true) == "REAL[]")
    assert(DuckDbSink.duckType(DecimalType(28, 9), useFloat32 = true) == "DECIMAL(28,9)")
    assert(DuckDbSink.duckType(TimestampType, useFloat32 = true) == "TIMESTAMP")
  }
}
