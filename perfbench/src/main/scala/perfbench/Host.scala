package perfbench

import graft.sinks.DuckDbLive

import java.lang.management.ManagementFactory

/** Host context stored beside every record. It explains a number; it is
  * not a metric and gates nothing.
  */
object Host {
  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Seconds one thread takes for a fixed LCG loop: how fast this host
    * runs a single thread right now.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) { h = h * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.println("")
    dt
  }

  /** duckdb_jdbc jar file and the DuckDB version it reports. */
  def duckdb(): (String, String) =
    DuckDbLive.withConnection("") { conn =>
      val jar = Option(conn.getClass.getProtectionDomain.getCodeSource)
        .map(cs => java.nio.file.Paths.get(cs.getLocation.toURI).getFileName.toString)
        .getOrElse("unknown")
      (jar, conn.getMetaData.getDriverVersion)
    }

  def context(cores: Int, loadStart: Double, calibStart: Double): Map[String, Any] = {
    val (jar, duck) = duckdb()
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[$cores]",
      "load_avg_start" -> loadStart,
      "load_avg_end" -> loadAvg(),
      "calib_start_s" -> calibStart,
      "calib_end_s" -> calibrate(),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "duckdb_jdbc" -> jar,
      "duckdb" -> duck
    )
  }
}
