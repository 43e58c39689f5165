package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `binaryFile` source-format support (q123): the multimodal INGESTION
  * front door. Real training-data pipelines start from a blob store full
  * of raw files (images/audio/video/docs); Spark's built-in `binaryFile`
  * format lists them distributedly and yields (path, modificationTime,
  * length, content) rows — the step BEFORE everything the media pipeline
  * (q69/q78/q86–q88/s05) does on parquet-packed blobs.
  *
  * Scale notes: the scan is one task per file (binary payloads are not
  * splittable), so at 100 TB the contract is (a) `pathGlobFilter` prunes
  * the listing server-side before any read, and (b) the FIRST job
  * compacts raw files into parquet blob tables (exactly this repo's
  * `media` staging shape) so every downstream pass reads a splittable,
  * column-pruned format instead of re-listing millions of small objects.
  * This adapter proves the ingestion hop itself is byte-exact.
  */
object BinaryIngest {

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage each document's UTF-8 payload as one standalone `doc_<id>.bin`
    * file — the "directory of raw blobs" fixture. Files are written
    * EXECUTOR-SIDE via `foreachPartition` (each task writes its own
    * partition's files), the same distributed write a real ingest
    * pre-stage would do against a shared filesystem; nothing is collected
    * to the driver. One `.keep` file guarantees the glob filter has
    * something to exclude. JVM-lifetime scratch, reclaimed on exit (the
    * Media.stageDecodable pattern).
    */
  def stageDocFiles(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val out = graft.ops.Scratch.scratchDir("graft_q123_")
        val outStr = out.toString
        graft.ops.Tables
          .documentsSpread(spark, d)
          .selectExpr("doc_id", "encode(text, 'utf-8') AS content")
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r =>
              val p = java.nio.file.Paths.get(outStr, f"doc_${r.getLong(0)}%06d.bin")
              java.nio.file.Files.write(p, r.getAs[Array[Byte]](1))
            }
          }
        // a non-matching sibling so q123's pathGlobFilter provably filters
        java.nio.file.Files.write(out.resolve("manifest.keep"), Array[Byte](0))
        outStr
      }
    )

  /** Distributed listing + read of the staged blob directory: one row per
    * matching file with its raw bytes. `pathGlobFilter` prunes at listing
    * time — non-matching files are never opened.
    */
  def readBlobDir(spark: SparkSession, path: String): DataFrame =
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(path)
}
