package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JSON-lines ingestion with corrupt-record quarantine (q117) — the
  * robustness contract every 100 TB ingest of third-party JSONL needs:
  * malformed lines must not kill the job OR silently vanish; they land
  * in a quarantine column (`columnNameOfCorruptRecord`) under PERMISSIVE
  * mode, auditable and re-processable, while well-formed rows parse
  * against an EXPLICIT schema (never `inferSchema` — a second full scan
  * and guess-typing). The staged fixture corrupts a deterministic slice
  * of lines (doc_id ≡ 7 mod 23 → truncated JSON) so the oracle can
  * mirror the quarantine closed-form.
  */
object JsonlSource {

  val CorruptMod = 23L
  val CorruptRem = 7L

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage `documents` as JSONL with the deterministic corruption slice
    * — once per (JVM, source dir); JVM-lifetime scratch reclaimed on
    * exit (the CsvSource.stageLineitemCsv pattern).
    */
  def stageDocsJsonl(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val out = graft.ops.Scratch.scratchDir("graft_q117_")
        graft.ops.Tables
          .documents(spark, d)
          .select(
            when(
              col("doc_id") % CorruptMod === CorruptRem,
              concat(lit("{\"doc_id\":"), col("doc_id").cast("string"), lit(",TRUNCATED"))
            ).otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
              .as("value")
          )
          .write
          .mode("overwrite")
          .text(s"$out/docs_jsonl")
        s"$out/docs_jsonl"
      }
    )

  /** Permissive typed read-back: explicit schema + quarantine column. A
    * malformed line yields all-null fields plus the raw line in
    * `_corrupt`; a well-formed line parses exactly.
    */
  def readDocsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("doc_id LONG, lang STRING, n_chars LONG, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
}
