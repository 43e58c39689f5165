package graft.ops

import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Test-table readers. All engine queries take a scale-factor directory and
  * read the driver-generated parquet tables (TESTDATA.md). Column pruning /
  * predicate pushdown happens at the parquet scan via Catalyst — callers
  * just declare projections and filters.
  */
object Tables {

  /** The engine's one parquet reader: `spark.read.parquet(paths)` with
    * the schema inference would find, read from one footer on the driver.
    * Inference runs a one-task job (and ships the Hadoop conf in its
    * closure) to read that same footer; here the footer is read in
    * place, then Spark reads with it as the given schema. The file is
    * the one `ParquetUtils.inferSchema` picks among the files Spark
    * lists: a `_common_metadata`, else a `_metadata` summary, else the
    * first data file by full path. Partition columns still come from
    * Spark's partition discovery. Paths with no such file read through
    * `spark.read.parquet`, so their error is Spark's own.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val files = FooterSchema.listedFiles(spark, paths).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summaries = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
      .flatMap(FooterSchema.read(spark, _)) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Sessions built outside the engine (the harness that calls
    // `SparkEntry`, perfbench, the specs) enter here, so the read
    // boundary prepares them; on a prepared session this writes nothing.
    graft.GraftSession.prepare(spark)
    parquet(spark, s"$dir/$name.parquet")
  }

  /** Normalize `events.ts` to Spark's TIMESTAMP type regardless of how the
    * generator wrote it — the physical encoding has changed across testdata
    * regenerations, and every downstream consumer (event-time watermarks,
    * unix_micros, CAST(ts AS BIGINT)) requires TIMESTAMP, not NTZ/raw:
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read as
    *     raw nanos (`nanosAsLong`, pinned by `GraftSession`) and
    *     truncate to µs — the same ns→µs truncation DuckDB applies
    *     casting TIMESTAMP_NS to TIMESTAMP, so both engines see identical
    *     instants. Integer `div` (not FP division): epoch-nanos exceed
    *     double's 53-bit mantissa.
    *   - timestamp[us] without UTC adjustment: Spark infers TIMESTAMP_NTZ;
    *     cast to TIMESTAMP under the pinned UTC session timezone, which
    *     reinterprets the same wall-clock instant DuckDB reads — values
    *     are bit-identical to the pre-NTZ rounds.
    */
  def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEvents(table(spark, dir, "events"))
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Spread an under-partitioned scan across cores by `doc_id` — a
    * SMALL-INPUT HEURISTIC, gated so it only fires on a fixture-shaped
    * input. The local test corpus is one small parquet split, which would
    * serialize every md5/shingle-heavy per-row projection onto a single
    * core; at 100 TB the scan already yields thousands of splits and an
    * unconditional repartition would inject a corpus-wide shuffle of the
    * text/payload column into otherwise map-only plans. The gate compares
    * the scan's planned partition count (computed from file splits — no job
    * runs) against the session's core count. That bounds the shuffled bytes
    * because every caller scans PARQUET, a splittable format: fewer planned
    * splits than cores implies total input ≲ cores ×
    * `spark.sql.files.maxPartitionBytes` (128 MB default) — a shuffle of
    * that size is noise, and the spread buys full-core decode parallelism.
    * The bound does NOT transfer to unsplittable formats (gzip JSON, one
    * 100 GB member = one split regardless of size); a caller adding such a
    * source must gate on scan bytes instead.
    */
  def spread(df: DataFrame): DataFrame =
    if (df.rdd.getNumPartitions < df.sparkSession.sparkContext.defaultParallelism)
      df.repartition(org.apache.spark.sql.functions.col("doc_id"))
    else df

  /** `documents` spread across cores when (and only when) the scan is
    * under-partitioned — the standard entry point for the text/dedup/media
    * query family.
    */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(documents(spark, dir))

  /** Memoized table row count per (dir, table) — the corpus-size input to
    * adaptive bucket sizing (VectorOps.adaptivePlanes). The count itself is
    * metadata-cheap (Spark answers parquet count() from row-group footers),
    * but it is still a driver ACTION per invocation; memoizing makes it one
    * job per table per JVM instead of one per query run. Table files are
    * generated once and immutable, so the cache cannot go stale mid-run.
    */
  private val countCache = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    countCache.computeIfAbsent(s"$dir/$name", _ => table(spark, dir, name).count())
}
