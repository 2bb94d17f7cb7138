package graft

import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.ops.Graph

/** The iterative operators cut lineage through [[Checkpoints.cut]]:
  * `localCheckpoint` by default (fast, unrecoverable), reliable
  * `checkpoint()` under `graft.checkpoint.reliable` (cluster mode —
  * survives executor loss). Checkpointing changes where blocks live,
  * never values: both modes must produce IDENTICAL results. */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  // 12-vertex ring (diameter 6 — several pointer-jump rounds) plus a
  // disjoint 3-chain and an isolated vertex
  private def ringEdges = ((0L until 12L).map(i => (i, (i + 1) % 12)) ++
    Seq((100L, 101L), (101L, 102L))).toDF("src", "dst")
  private def ringVerts = ((0L until 12L) ++ Seq(100L, 101L, 102L, 999L)).toDF("id")

  private def withReliable[A](body: => A): A = {
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try body
    finally spark.conf.unset(Checkpoints.ReliableKey)
  }

  test("connectedComponents: reliable checkpoint mode matches local mode exactly") {
    val local = Dedup.connectedComponents(ringEdges, ringVerts)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val reliable = withReliable {
      Dedup.connectedComponents(ringEdges, ringVerts)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(reliable.toSeq === local.toSeq)
    // sanity: the ring collapses to label 0, the chain to 100,
    // the isolate keeps itself
    val m = local.toMap
    assert((0L until 12L).forall(m(_) == 0L))
    assert(Seq(100L, 101L, 102L).forall(m(_) == 100L))
    assert(m(999L) === 999L)
  }

  test("pageRank: reliable checkpoint mode matches local mode exactly") {
    val sym = ringEdges.unionAll(ringEdges.select(col("dst").as("src"),
      col("src").as("dst")))
    val local = Graph.pageRank(sym, 5)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val reliable = withReliable {
      Graph.pageRank(sym, 5)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(reliable.toSeq === local.toSeq)
    assert(local.nonEmpty)
  }

  test("reliable mode actually writes checkpoint files") {
    // the context checkpoint dir is set once per JVM by the first
    // reliable cut (possibly in an earlier test) — assert on whatever
    // dir the context carries after this cut
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try {
      val cut = Checkpoints.cut(ringVerts)
      assert(cut.count() === 16)
      val dir = spark.sparkContext.getCheckpointDir.get
      val files = java.nio.file.Files.walk(
          new org.apache.hadoop.fs.Path(dir).toUri.getPath match {
            case p => java.nio.file.Paths.get(p)
          })
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable cut left no files in the checkpoint dir")
    } finally spark.conf.unset(Checkpoints.ReliableKey)
  }

  test("pageRank returns an empty frame on an empty edge set (no /0)") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(empty, 5).count() === 0)
  }
}
