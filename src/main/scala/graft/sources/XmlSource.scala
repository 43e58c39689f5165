package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** XML source-format support (q124): the document-interchange format B2B
  * feeds still arrive in (EDI bridges, regulatory filings, legacy
  * exports). Spark 4 ships XML as a BUILT-IN source (the spark-xml
  * package was merged upstream), so the adapter is pure configuration:
  * `rowTag` selects the repeating element, and reads MUST carry an
  * explicit schema — XML inference triple-penalizes (extra pass + guess
  * typing + every field nullable-string by default).
  *
  * Scale notes: multiline XML is NOT splittable (one element tree can
  * span any byte range), so each file is one task — the 100 TB contract
  * is many medium files in, parquet out on the first pass, same as
  * q123's blob rule. Timestamp format is pinned on both legs; doubles
  * survive via shortest-round-trip text exactly as CSV (q94).
  */
object XmlSource {

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage `orders` as an XML export once per (JVM, source dir) — staging
    * is corpus prep, not the measured operator. JVM-lifetime scratch,
    * reclaimed on exit (the Media.stageDecodable pattern).
    */
  def stageOrdersXml(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val out = graft.ops.Scratch.scratchDir("graft_q124_")
        graft.ops.Tables
          .orders(spark, d)
          .write
          .mode("overwrite")
          .format("xml")
          .option("rowTag", "order")
          .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
          .save(s"$out/orders_xml")
        s"$out/orders_xml"
      }
    )

  /** Typed read-back: explicit schema, same rowTag and timestamp format —
    * never schema inference.
    */
  def readOrdersXml(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .format("xml")
      .schema(schema)
      .option("rowTag", "order")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .load(path)
}
