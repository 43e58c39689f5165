package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every main runs on: `local[cpus]` with shuffle
  * partitions = cpus, the UTC session time zone and the UI off. `extra`
  * confs are applied on top (Verify's LSH bucket-cap mode).
  */
object GraftSession {
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
    spark
  }
}
