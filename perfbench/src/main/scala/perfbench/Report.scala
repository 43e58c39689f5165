package perfbench

import java.nio.file.{Files, Paths}

/** Human-readable table, record files and the trace file. */
object Report {
  private def line(wl: String, name: String, value: Double, unit: String): Unit =
    println(f"$wl%-14s $name%-28s ${value}%14.4f $unit")

  def table(wl: String, e2e: Seq[Metric], o: Outcome, layers: Map[String, Double], failed: Int, attempted: Int): Unit = {
    e2e.foreach(m => line(wl, m.name, m.value, m.unit))
    o.named.foreach(m => line(wl, m.name, m.value, m.unit))
    line(wl, "failed_ratio", failed.toDouble / attempted, s"($failed of $attempted)")
    Layers.Units.foreach { case (k, u) => layers.get(k).foreach(v => line(wl, k, v, u)) }
    o.checks.foreach { case (c, bad) => println(s"$wl check ${if (bad.isEmpty) "ok  " else "FAIL"} $c${bad.fold("")(": " + _)}") }
  }

  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), Json.render(v) + "\n")
  }

  /** End-to-end values of the untraced record of the same workload and
    * seed, when one exists under `out`.
    */
  private def untraced(out: String, wl: String, seed: Long): Option[Map[String, Double]] = {
    val p = Paths.get(s"$out/records/$wl-seed$seed-trace0.json")
    if (!Files.exists(p)) None
    else {
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile).get("end_to_end")
      Some(root.fieldNames().asScala.map(k => k -> root.get(k).get("value").asDouble()).toMap)
    }
  }

  /** The trace file: per workload its record and the tracing overhead
    * (traced minus untraced end-to-end values), then every span.
    */
  def trace(rec: Trace.Recorded, records: Seq[(String, Map[String, Any])], out: String, seed: Long): Map[String, Any] = {
    val perWorkload = records.map { case (wl, r) =>
      val traced = r("end_to_end").asInstanceOf[Map[String, Map[String, Any]]]
        .map { case (k, v) => k -> v("value").asInstanceOf[Double] }
      val overhead = untraced(out, wl, seed) match {
        case Some(base) => traced.collect { case (k, v) if base.contains(k) =>
          k -> Map("traced" -> v, "untraced" -> base(k), "difference" -> (v - base(k)))
        }
        case None => Map("note" -> s"no untraced record for seed $seed; run with --trace 0 first")
      }
      wl -> Map("record" -> r, "tracing_overhead" -> overhead)
    }
    Map("workloads" -> perWorkload.toMap, "spans" -> Layers.spans(rec))
  }
}
