package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.ops.Graph
import graft.streaming.EventStream

/** [[Scoped]] is the one cloned-session device of the iterative,
  * pinned and streaming operators: its clone carries the caller's
  * checkpoint/staging/aggregation conf, sizes its own shuffle width
  * without touching the caller's, and rebinds frames both ways. */
class ScopedSpec extends SparkSpec {
  import spark.implicits._

  private val probe = Map(
    Checkpoints.ReliableKey -> "true",
    Checkpoints.DirKey -> "/tmp/graft_ckpt_probe",
    "spark.graft.staging.dir" -> "/tmp/graft_stage_probe",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "12345")

  /** Set `kvs` on the shared session for `body`, then restore each
    * key's previous value (the builder-level ones included). */
  private def withConf[A](kvs: Map[String, String])(body: => A): A = {
    val prev = kvs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a Scoped clone carries checkpoint AND staging conf") {
    withConf(probe) {
      val clone = Scoped(spark).session
      assert(clone ne spark)
      probe.foreach { case (k, v) => assert(clone.conf.get(k) === v, k) }
      // the staging override must ride along: the clone's checkpoint
      // fallback and any staged store it touches resolve against the
      // CLONE's conf
      assert(Staging.dir(clone, "probe")
        .startsWith("/tmp/graft_stage_probe/probe_"))
    }
  }

  test("the streaming clone carries every carry-over key at width 4") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scoped_stream").toString
    Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(dir)
    // the checkpoint keys ride along unused here: no stream cuts lineage
    val (sink, sq) = withConf(probe) {
      EventStream.drain(spark, "graft_scoped_probe_sink", OutputMode.Append) { local =>
        local.readStream.schema("x BIGINT").parquet(dir)
      }
    }
    val clone = sink.sparkSession
    assert(clone ne spark)
    probe.foreach { case (k, v) => assert(clone.conf.get(k) === v, k) }
    assert(clone.conf.get(Scoped.WidthKey) === "4")
    assert(sink.orderBy("x").as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    assert(sq.recentProgress.map(_.numInputRows).sum === 3L)
  }

  test("a scoped run leaves the caller's shuffle width unchanged") {
    // a caller width no scope picks here, so a leak would show
    withConf(Map(Scoped.WidthKey -> "7")) {
      val pinned = Scoped.pin(spark) { scope =>
        assert(scope.width === 4)
        scope.ferry(spark.range(10).toDF("id")).groupBy(col("id") % 3).count()
      }
      assert(pinned.sparkSession eq spark)
      assert(pinned.count() === 3)
      val ring = (0L until 6L).flatMap(i => Seq((i, (i + 1) % 6), ((i + 1) % 6, i)))
        .toDF("src", "dst")
      assert(Graph.pageRank(ring, 3).count() === 6)
      assert(spark.conf.get(Scoped.WidthKey) === "7")
    }
  }

  test("vertex width: 4 up to 262143 vertices, n / 65536 above") {
    assert(Scoped.vertexWidth(0L) === 4L)
    assert(Scoped.vertexWidth(262143L) === 4L)
    assert(Scoped.vertexWidth(327680L) === 5L)
    assert(Scoped.vertexWidth(65536L * 1000L + 65535L) === 1000L)
    val scope = Scoped(spark)
    scope.setVertexWidth(65536L * 7L)
    assert(scope.width === 7)
  }

  test("in/out rebinds keep rows and partition order") {
    val scope = Scoped(spark, 3)
    val src = spark.range(0, 20, 1, 5).toDF("id")
    val inside = scope.in(src)
    assert(inside.sparkSession eq scope.session)
    val back = scope.out(inside.filter(col("id") % 2 === 0))
    assert(back.sparkSession eq spark)
    assert(back.as[Long].collect().toSeq === (0L until 20L by 2L))
  }
}
