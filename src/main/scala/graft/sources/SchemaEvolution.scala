package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Schema-evolution parquet reads (q106) — the lake reality the static
  * formats (q94 CSV, q95 ORC) don't exercise: a long-lived dataset whose
  * early files were written BEFORE a column existed. The reader must
  * union the file schemas (`mergeSchema`), surfacing the missing column
  * as NULL for old files, without rewriting history — at 100 TB,
  * re-writing every old file to add a column is exactly what a lake
  * cannot afford, so the READ path carries the evolution.
  *
  * Spark's default reads the schema from ONE footer (cheap, wrong here);
  * `mergeSchema=true` unions all footers (a driver-side listing cost,
  * which is why it's opt-in — the demo stages the two generations and
  * asserts the merged shape from the resulting schema itself).
  */
object SchemaEvolution {

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage `documents` as a two-generation parquet dataset once per
    * (JVM, source dir): generation 0 (even doc_id) was written before
    * `n_chars` existed — (doc_id, lang) only; generation 1 (odd doc_id)
    * carries (doc_id, lang, n_chars). Both part files land in ONE
    * directory, the way a real dataset accretes. JVM-lifetime scratch,
    * reclaimed on exit.
    */
  def stageTwoGenerations(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val out = graft.ops.Scratch.scratchDir("graft_q106_")
        val docs = graft.ops.Tables.documents(spark, d)
        val dataDir = new java.io.File(s"$out/documents_evolved")
        dataDir.mkdirs()
        def writeGen(df: DataFrame, name: String): Unit = {
          val tmp = s"$out/_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.move(
            part.toPath,
            new java.io.File(dataDir, s"$name.parquet").toPath
          )
        }
        writeGen(docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang"), "gen0")
        writeGen(docs.filter(col("doc_id") % 2 === 1).select("doc_id", "lang", "n_chars"), "gen1")
        dataDir.getAbsolutePath
      }
    )

  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
