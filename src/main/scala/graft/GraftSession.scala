package graft

import graft.functions.{ClusteredAggregate, GraftFunctions}
import org.apache.spark.sql.SparkSession

/** The engine's session policy, in one place. Every session a query runs
  * on has the graft_* functions and the `ClusteredAggregate` strategy,
  * the UTC session time zone (every time codec and every DuckDB oracle
  * assumes UTC) and `nanosAsLong` (events.parquet stores
  * TIMESTAMP(NANOS), which Spark reads only as raw longs).
  *
  * A job that needs other SQL confs runs on a [[derive]]d session, never
  * by setting them on the session it was given: entries overlap under
  * `ops.Par`, and a conf set on a shared session is visible to every job
  * running on it.
  */
object GraftSession {

  private val Pinned = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The one session shape every main runs on: `local[cpus]` with shuffle
    * partitions = cpus and the UI off, prepared. `extra` confs are applied
    * on top (Verify's LSH bucket-cap mode).
    */
  def local(cpus: String, logLevel: String, extra: (String, String)*): SparkSession = {
    val spark = extra
      .foldLeft(
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    prepare(spark)
  }

  /** Install the session policy on `spark`. Idempotent, and it writes a
    * conf key only when its value differs, so on a prepared session it
    * writes nothing. `Tables.table` calls it on every read because
    * sessions built outside the engine (the harness that calls
    * `SparkEntry`, perfbench, the specs) enter there.
    */
  def prepare(spark: SparkSession): SparkSession = {
    val reg = spark.sessionState.functionRegistry
    GraftFunctions.all.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    val extra = spark.experimental.extraStrategies
    if (!extra.contains(ClusteredAggregate)) spark.experimental.extraStrategies = ClusteredAggregate +: extra
    Pinned.foreach { case (k, v) => if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v) }
    spark
  }

  /** A prepared sibling of `spark` (same SparkContext, catalog and cache;
    * its own SQL conf) with `confs` set. `newSession()` starts from the
    * SparkConf alone, dropping runtime confs, functions and strategies,
    * so `prepare` runs first.
    */
  def derive(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val s = prepare(spark.newSession())
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
