package graft

import org.apache.spark.sql.DataFrame

/** Lineage cuts for iterative operators ([[graft.ops.Graph.pageRank]],
  * [[graft.llm.Dedup.connectedComponents]]), conf-gated between the
  * two checkpoint families Spark offers:
  *
  *  - `localCheckpoint` (default): blocks live in executor
  *    block-manager storage — no filesystem round trip, the right
  *    choice for single-node / interactive runs. But the blocks are
  *    UNRECOVERABLE: lose one executor mid-iteration on a real
  *    cluster and the whole multi-round job dies with no recompute
  *    path (the lineage was truncated — that was the point).
  *  - reliable `checkpoint` (`graft.checkpoint.reliable=true`): each
  *    cut writes to the checkpoint directory
  *    (`graft.checkpoint.dir`, default a per-application staging
  *    path — on a cluster point it at durable shared storage, e.g.
  *    an HDFS/S3A path). Costs one extra computation of the frame
  *    per cut (Spark re-runs the RDD to write checkpoint files) plus
  *    the write, buys executor-loss recovery: exactly the trade a
  *    5-round job over 100 TB wants.
  *
  * Results are bit-identical in both modes — checkpointing changes
  * WHERE blocks live, never values or partitioning (pinned in
  * CheckpointSpec on both operators).
  */
object Checkpoints {

  val ReliableKey = "graft.checkpoint.reliable"
  val DirKey = "graft.checkpoint.dir"

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ReliableKey, "false").toBoolean

  /** Truncate `df`'s lineage: reliable `checkpoint(eager)` when
    * [[ReliableKey]] is set on the frame's session, else
    * `localCheckpoint(eager)`. Lazy cuts (`eager = false`) still keep
    * the plan tree one-round deep; materialization happens at the
    * caller's next action in either mode. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (reliable(df)) {
      val s = df.sparkSession
      val sc = s.sparkContext
      if (sc.getCheckpointDir.isEmpty) s.conf.getOption(DirKey) match {
        case Some(dir) => sc.setCheckpointDir(dir)
        case None if sc.isLocal =>
          // single-node: a tmpdir staging path is as durable as the
          // node itself, so it is an acceptable default
          sc.setCheckpointDir(Staging.dir(s, "checkpoints"))
        case None =>
          // on a cluster, a driver-local java.io.tmpdir fallback would
          // WRITE checkpoints nowhere durable — executors cannot read
          // the driver's /tmp, and the whole point of reliable mode is
          // surviving executor loss. Refuse loudly instead of
          // checkpointing into a path that silently voids the
          // guarantee. (For long-lived apps, pair with
          // spark.cleaner.referenceTracking.cleanCheckpoints=true so
          // out-of-scope checkpoint files are collected.)
          throw new IllegalStateException(
            s"$ReliableKey=true on a non-local master requires $DirKey " +
              "to point at durable shared storage (HDFS/S3A)")
      }
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
}
