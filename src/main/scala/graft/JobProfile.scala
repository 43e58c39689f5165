package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB profiler for one query: runs the named query with the bench's
  * session shape (same master/shuffle confs) and prints every Spark job
  * the run launches — start offset, duration, description — so a
  * multi-action entry (the SnapshotLog lifecycles, the planner-stat
  * audits) can be decomposed into its actual job list instead of guessed
  * at from code. Measurement tooling only (guide §1): never invoked by
  * the driver, never part of the declared contract.
  *
  * Usage: runMain graft.JobProfile <sfDir> <query> [runs]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "ERROR")

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    val t0 = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (s, d) =>
          done.add((je.jobId, s - t0.get, System.nanoTime() - s, d))
        }
      }
    })

    val fn = SparkEntry.queries(name)
    // warm run (JIT, codegen, staging memoization) — like the bench
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    (1 to runs).foreach { r =>
      done.clear()
      t0.set(System.nanoTime())
      val w0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - w0) / 1e9
      Thread.sleep(200) // let listener events drain
      import scala.jdk.CollectionConverters._
      val jobs = done.asScala.toSeq.sortBy(_._1)
      println(f"\n=== $name run $r: wall $wall%.2f s, ${jobs.size} jobs ===")
      jobs.foreach { case (id, off, dur, desc) =>
        println(f"  job $id%4d  +${off / 1e9}%7.2f s  ${dur / 1e9}%6.2f s  ${desc.take(90)}")
      }
      val sum = jobs.map(_._3).sum / 1e9
      println(f"  job-time sum $sum%.2f s vs wall $wall%.2f s (gap = driver/DuckDB/plan time)")
    }
    spark.stop()
  }
}
