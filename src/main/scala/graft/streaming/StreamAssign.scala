package graft.streaming

import graft.ops.{FeatureOps, IvfKMeans, Tables, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming IVF cell assignment (s14) — the streaming-inference shape of
  * the ANN index: the codebook is trained BEFORE the stream (batch
  * driver-side, like any served index) and folded into a literal
  * argmax expression; the stream then assigns every arriving vector to
  * its inverted-list cell ENTIRELY map-side (no window, no join — the
  * q67-style greatest() over (rounded-dot, -cent_id) structs is
  * stream-safe where assignTopP's row_number window is not), with a
  * running per-cell census maintained by the streaming aggregation
  * state. Oracle: the identical batch assignment (SimQueries.ivfCtes) —
  * stream-batch parity under AvailableNow.
  */
object StreamAssign {

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage `embeddings` as an ordered two-file stream (vec_id < 250,
    * then the rest) — memoized per source dir.
    */
  private[streaming] def stageBatches(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val base = graft.ops.Scratch.scratchDir("graft_s14_").toString
        val e = Tables.parquet(spark, s"$d/embeddings.parquet")
        def writeOne(df: DataFrame, out: String, name: String, mtime: Long): Unit = {
          df.coalesce(1).write.mode("overwrite").parquet(out)
          val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(s"$base/$name")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(mtime)
        }
        writeOne(e.filter(col("vec_id") < 250), s"$base/_b0", "0.parquet", 1000000L)
        writeOne(e.filter(col("vec_id") >= 250), s"$base/_b1", "1.parquet", 2000000L)
        base
      }
    )

  /** Per-cell census (count + min vec_id) of the streamed assignment. */
  def cellCensus(session: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.tuned(session)
    val cents = IvfKMeans.codebookSeq(spark, Tables.embeddings(spark, dir))
    val streamDir = stageBatches(spark, dir)
    val schema = Tables.parquet(spark, s"$streamDir/0.parquet").schema
    // literal argmax: ties to the lowest cent_id via the -cid struct field
    val cell = greatest(cents.map { case (cid, c) =>
      struct(
        FeatureOps.r6(VectorOps.dot(col("embedding"), typedLit(c.toSeq))).as("d"),
        lit(-cid).as("negid"),
        lit(cid).as("cid")
      )
    }: _*).getField("cid")
    val census = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$streamDir/*.parquet")
      .filter(col("vec_id") >= IvfKMeans.K)
      .select(col("vec_id"), cell.as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
    val name = "s14_ca_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = census.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamSessions.settleLocal(spark, name, spark.table(name).orderBy("cell"))
  }
}
