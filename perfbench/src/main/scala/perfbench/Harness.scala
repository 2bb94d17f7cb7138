package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, one cold pass, warm passes
  * for the measured time, then an untimed output-hash pass. Writes one
  * JSON record to `out=`; `perfbench/run.py` turns it into metrics.
  *
  * Arguments are `key=value`:
  *   - `mode=run` (the benchmark) or `mode=expect` (hash every query
  *     once and dump its rows to parquet under `dump=`, for building
  *     and confirming the expected-hash table)
  *   - `sf=` corpus directory, `queries=` comma-separated query names
  *     in execution order, `cpus=` local cores
  *   - `seconds=` least measured warm time, `trace=0|1`, `out=` record path
  *
  * Every call into a layer is timed from outside, around the public
  * entry points: `Tables.load`, the registry entry's `fn` (the query
  * body), `queryExecution.executedPlan` (planning) and
  * `queryExecution.toRdd.count()` (execution).
  */
object Harness {

  /** Passes after the cold one that are run but not measured: in a
    * fresh JVM the first few passes still speed up as the JIT catches
    * up, so a median over them would follow how fast it did. */
  val SettlePasses = 3

  /** Least measured warm passes of a run. */
  val MinWarmPasses = 5

  /** Local property that tags every job with the query that ran it. */
  val TagKey = "perfbench.query"

  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond digits. */
  def now(): Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  /** CPU milliseconds this JVM has used so far, all threads. */
  def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def main(argv: Array[String]): Unit = {
    val mainMs = now()
    Codegen.install()
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val sf = args("sf")
    val cpus = args.getOrElse("cpus", "4")
    val names = args("queries").split(',').toSeq.filter(_.nonEmpty)
    val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val queries = names.map(registry)
    val registryMs = now()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the session confs of graft.Bench
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = now()
    val out = args("out")
    val json = try {
      if (args.getOrElse("mode", "run") == "expect") expect(spark, sf, queries, args("dump"))
      else run(spark, sf, queries, args("seconds").toDouble, args.getOrElse("trace", "0") == "1",
        Map("jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
          "main_ms" -> mainMs, "registry_ms" -> registryMs, "session_ms" -> sessionMs))
    } finally spark.stop()
    val text = org.json4s.jackson.Serialization.write(json)(org.json4s.DefaultFormats)
    java.nio.file.Files.write(java.nio.file.Paths.get(out), text.getBytes("UTF-8"))
  }

  /** Drops every frame a query persisted, waiting for the blocks to go. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def run(spark: SparkSession, sf: String, queries: Seq[graft.Q],
      seconds: Double, trace: Boolean, startup: Map[String, Double]): Map[String, Any] = {
    val sc = spark.sparkContext
    val t0 = now()
    graft.Tables.all.foreach(graft.Tables.load(spark, sf, _))
    val tablesMs = now() - t0
    // the session's first job: starts the scheduler and task threads
    spark.range(1000L).selectExpr("sum(id)").collect()
    val readyMs = now()
    val readyCpuMs = cpuMs()

    val listener = new LayerListener
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def pass(kind: String, idx: Int, traced: Boolean): Unit = {
      if (traced) sc.addSparkListener(listener)
      val cg0 = Codegen.totals()
      val cpu0 = cpuMs()
      val start = now()
      val recs = queries.map { q =>
        val tag = s"$idx/${q.name}"
        if (traced) sc.setLocalProperty(TagKey, tag)
        val before = sc.getPersistentRDDs.keySet
        val ts = Array.fill(5)(Double.NaN)
        ts(0) = now()
        var err: String = null
        var phases = Map.empty[String, Long]
        try {
          val df = q.fn(spark, sf)
          ts(1) = now()
          df.queryExecution.executedPlan
          ts(2) = now()
          df.queryExecution.toRdd.count()
          ts(3) = now()
          phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        } catch { case NonFatal(e) => err = errText(e) }
        val left = (sc.getPersistentRDDs.keySet -- before).size
        val r0 = now()
        release(spark)
        ts(4) = now()
        if (traced) sc.setLocalProperty(TagKey, null)
        Map[String, Any]("name" -> q.name, "tag" -> tag,
          "t" -> ts.toList.map(t => if (t.isNaN) null else t), "release_start" -> r0,
          "error" -> err, "phases" -> phases, "persisted_left" -> left)
      }
      val end = now()
      val cpu = cpuMs() - cpu0
      val cg1 = Codegen.totals()
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc, 60000L)
        sc.removeSparkListener(listener)
      }
      passes += Map[String, Any]("kind" -> kind, "index" -> idx, "traced" -> traced,
        "start" -> start, "end" -> end, "cpu_ms" -> cpu, "queries" -> recs.toList,
        "codegen_compiles" -> (cg1._1 - cg0._1), "codegen_ms" -> (cg1._2 - cg0._2))
    }

    pass("cold", 0, traced = trace)
    (1 to SettlePasses).foreach(i => pass("settle", i, traced = false))
    // warm passes until both the measured time and the least pass
    // count are reached; a traced run alternates traced and untraced
    // passes, so the pair of medians gives the tracing overhead within
    // one JVM
    val warmStart = now()
    var n = 0
    while (n < MinWarmPasses || now() - warmStart < seconds * 1000) {
      n += 1
      pass("warm", SettlePasses + n, traced = trace && n % 2 == 1)
    }

    // untimed output check: one more execution per query, hashed
    val hashes = mutable.LinkedHashMap.empty[String, Any]
    val hashErrors = mutable.LinkedHashMap.empty[String, Any]
    queries.foreach { q =>
      try hashes(q.name) = Canon.of(q.fn(spark, sf))
      catch { case NonFatal(e) => hashErrors(q.name) = errText(e) }
      release(spark)
    }

    val l = if (trace) Map[String, Any](
      "aggs" -> listener.aggs.map { case (tag, a) => tag -> Map[String, Any](
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "run_ns" -> a.runNs, "cpu_ns" -> a.cpuNs, "gc_ns" -> a.gcNs,
        "deserialize_ns" -> a.deserializeNs, "sched_delay_ns" -> a.schedDelayNs,
        "fetch_wait_ns" -> a.fetchWaitNs, "shuffle_write_ns" -> a.shuffleWriteNs,
        "shuffle_read_bytes" -> a.shuffleReadBytes, "shuffle_write_bytes" -> a.shuffleWriteBytes,
        "spill_mem_bytes" -> a.spillMemBytes, "spill_disk_bytes" -> a.spillDiskBytes,
        "input_bytes" -> a.inputBytes, "input_rows" -> a.inputRows,
        "peak_exec_mem_bytes" -> a.peakExecMem) }.toMap,
      "jobs" -> listener.jobs.values.toSeq.map(j => Seq(j.id, j.tag, j.start, j.end)),
      "sql_starts" -> listener.sqlStarts.toSeq,
      "progress" -> listener.progress.toSeq.map { case (t, d) => Seq(t, d) })
    else null

    Map[String, Any]("startup" -> startup, "setup_start_ms" -> t0, "tables_load_ms" -> tablesMs,
      "ready_ms" -> readyMs, "ready_cpu_ms" -> readyCpuMs, "cpus" -> sc.defaultParallelism, "passes" -> passes.toList,
      "hashes" -> hashes.toMap, "hash_errors" -> hashErrors.toMap, "listener" -> l,
      "peak_rss_mb" -> peakRssMb())
  }

  /** Resident-set high-water mark of this JVM, from /proc. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Hashes every query once and writes its rows under `dump`, with the
    * registry's oracle SQL beside them, for the DuckDB confirmation. */
  private def expect(spark: SparkSession, sf: String, queries: Seq[graft.Q],
      dump: String): Map[String, Any] = {
    val hashes = mutable.LinkedHashMap.empty[String, Any]
    val oracles = mutable.LinkedHashMap.empty[String, Any]
    queries.foreach { q =>
      val df = q.fn(spark, sf)
      hashes(q.name) = Canon.of(df)
      df.write.mode("overwrite").parquet(s"$dump/${q.name}")
      q.oracle.foreach(o => oracles(q.name) = o.stripMargin.trim)
      release(spark)
    }
    Map[String, Any]("hashes" -> hashes.toMap, "oracles" -> oracles.toMap)
  }
}
