package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Dev tool: run named queries and attribute wall time to Spark jobs
  * vs driver-side gaps (planning, collects, driver loops). For each
  * query prints total wall, per-job (start-offset, duration,
  * description) and the job time (the union of the job intervals)
  * vs the un-jobbed remainder — the quick answer to "is this query
  * slow because of many small round-barrier jobs or because of
  * driver work between them".
  *
  * Usage: sbt "runMain graft.ProbeJobs q_kcore q_pagerank"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      GRAFT_PROBE_PASSES (default 2 — pass 1 warms JIT, pass 2 is the
  *      reported one, mirroring Bench's second-pass discipline).
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("GRAFT_PROBE_PASSES", "2").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    case class J(id: Int, start: Long, var end: Long, desc: String, var stages: Int)
    val jobs = mutable.ArrayBuffer.empty[J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += J(e.jobId, e.time, -1L,
          Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse(""),
          e.stageInfos.size)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val names = if (args.nonEmpty) args.toSeq else Seq("q_count")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      var lastReport = ""
      (1 to passes).foreach { pass =>
        jobs.synchronized { jobs.clear() }
        val t0 = System.currentTimeMillis()
        val df = fn(spark, sfDir)
        val planned = System.currentTimeMillis()
        df.queryExecution.toRdd.count()
        val t1 = System.currentTimeMillis()
        // drain the async listener bus deterministically — a fixed
        // sleep dropped late job-end events on a loaded bus (ADVICE
        // r17), understating jobMs, the exact signal measured here. A
        // bus still busy after 10 s leaves the report on the events
        // seen so far rather than losing the whole probe.
        try org.apache.spark.GraftListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext, 10000)
        catch { case _: java.util.concurrent.TimeoutException =>
          System.err.println(s"[probe-jobs] $n: listener bus not drained in 10 s; partial job list")
        }
        val snapshot = jobs.synchronized { jobs.toVector }.filter(_.end > 0)
        // union of the job intervals: concurrent jobs (AQE stage
        // jobs, broadcast builds) overlap, and summing them would
        // bill the same wall time twice and drive gapMs negative
        val jobMs = snapshot.sortBy(_.start).foldLeft((0L, Long.MinValue)) {
          case ((sum, reach), j) =>
            (sum + math.max(0L, j.end - math.max(j.start, reach)), math.max(reach, j.end))
        }._1
        val sb = new StringBuilder
        sb.append(f"== $n pass$pass wall=${(t1 - t0) / 1000.0}%.2fs build+plan=${(planned - t0) / 1000.0}%.2fs jobs=${snapshot.size} jobMs=${jobMs / 1000.0}%.2fs gapMs=${(t1 - t0 - jobMs) / 1000.0}%.2fs\n")
        snapshot.sortBy(_.start).foreach { j =>
          sb.append(f"   job ${j.id}%4d +${(j.start - t0) / 1000.0}%6.2fs ${(j.end - j.start) / 1000.0}%6.2fs stages=${j.stages} ${j.desc.take(80)}\n")
        }
        lastReport = sb.toString
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
      }
      println(lastReport)
    }
    spark.stop()
  }
}
