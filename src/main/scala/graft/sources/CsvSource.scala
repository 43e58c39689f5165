package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV source-format support (q94): the interchange format every
  * warehouse/spreadsheet handoff still speaks. The engine's canonical
  * format stays parquet (typed, splittable, pruned); this adapter proves
  * the full fidelity loop parquet → CSV → typed read-back.
  *
  * Scale notes: a CSV scan is splittable but neither column-pruned nor
  * predicate-pushed, so the adapter's contract is EXPLICIT-schema reads
  * (no `inferSchema`, which double-scans the file and types by guess)
  * and timestamp format pinned — the two classic CSV round-trip traps.
  * Doubles survive exactly: Spark writes shortest-round-trip
  * representations and parses them back to identical bits.
  */
object CsvSource {

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage `lineitem` as a header'd CSV export once per (JVM, source dir)
    * — staging is corpus prep, not the measured operator. JVM-lifetime
    * scratch, reclaimed on exit (the Media.stageDecodable pattern).
    */
  def stageLineitemCsv(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val out = graft.ops.Scratch.scratchDir("graft_q94_")
        graft.ops.Tables
          .lineitem(spark, d)
          .write
          .mode("overwrite")
          .option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
          .csv(s"$out/lineitem_csv")
        s"$out/lineitem_csv"
      }
    )

  /** Typed read-back: explicit schema, header skipped, same timestamp
    * format — never `inferSchema`.
    */
  def readLineitemCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .csv(path)
}
