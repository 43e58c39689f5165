package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all specs (one JVM per test run — forked). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.prepare(s)
  }
}
