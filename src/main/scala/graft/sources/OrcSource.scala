package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ORC source-format support (q95) — the other big columnar format a
  * warehouse migration hands this engine. Unlike CSV (q94's explicit-
  * schema discipline), ORC is typed and splittable like parquet, so the
  * q95 contract is the SCALE property instead: filters must reach the
  * ORC scan as `PushedFilters` (stripe/row-group skipping at 100 TB),
  * which the query asserts from its own executed plan and folds into the
  * hash-checked row (the s08/s10 pattern).
  */
object OrcSource {

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage `orders` as an ORC export once per (JVM, source dir) —
    * JVM-lifetime scratch, reclaimed on exit.
    */
  def stageOrdersOrc(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val out = graft.ops.Scratch.scratchDir("graft_q95_")
        graft.ops.Tables
          .orders(spark, d)
          .write
          .mode("overwrite")
          .orc(s"$out/orders_orc")
        s"$out/orders_orc"
      }
    )

  def readOrdersOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
