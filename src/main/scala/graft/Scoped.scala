package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A cloned-session scope: the one device every iterative, pinned and
  * streaming operator runs its body in.
  *
  * The body plans in a clone of the caller's session (same
  * SparkContext and block manager, private SQLConf and catalog), so
  * the shuffle width it sizes to its own DATA never leaks into the
  * caller's session or into queries running beside it. Three
  * decisions live here and nowhere else:
  *
  *  - the clone: `newSession()` starts from context defaults, not the
  *    parent's runtime conf, so the [[Carried]] keys are copied over —
  *    the checkpoint mode and dir ([[Checkpoints.cut]] reads them from
  *    the frame's session), the staging base ([[Staging.dir]]
  *    resolves against the clone's conf), and the object-hash
  *    fallback threshold the typed/ordered aggregates rely on;
  *  - the width rule for vertex-sized iteration ([[vertexWidth]]);
  *  - the rebind: frames cross between the sessions through their
  *    RDDs ([[in]] / [[out]]). Row order is preserved — the rebound
  *    frame keeps the computed RDD's partitions, so a sorted output
  *    stays sorted.
  */
final class Scoped private (val origin: SparkSession) {

  /** The clone the body plans in. */
  val session: SparkSession = origin.newSession()
  Scoped.Carried.foreach(k => origin.conf.getOption(k).foreach(session.conf.set(k, _)))

  /** The clone's shuffle width. */
  def width: Int = session.conf.get(Scoped.WidthKey).toInt

  def setWidth(n: Long): Unit = session.conf.set(Scoped.WidthKey, n.toString)

  /** Size the clone to a vertex-keyed working set of `n` rows. */
  def setVertexWidth(n: Long): Unit = setWidth(Scoped.vertexWidth(n))

  /** Rebind a caller-planned frame into the clone: its derivation
    * still runs under the caller's session, everything downstream
    * plans in the clone. */
  def in(df: DataFrame): DataFrame = Scoped.rebind(session, df)

  /** Rebind a clone-planned result to the caller's session. */
  def out(df: DataFrame): DataFrame = Scoped.rebind(origin, df)

  /** Ferry a (small, caller-planned) frame into the clone with its
    * lineage cut: the derivation runs ONCE at the caller's full scan
    * parallelism; everything downstream plans in the clone. The RDD
    * is coalesced to the clone's width — a bounded slice left at scan
    * partitioning would otherwise leak core-count-scaled task counts
    * into every downstream stage (a ferried frame also loses size
    * statistics, so an inequality self-join over it plans as a
    * CartesianProduct whose task count is the PRODUCT of the input
    * partition counts). */
  def ferry(df: DataFrame): DataFrame =
    Checkpoints.cut(Scoped.rebind(session, df, _.coalesce(width)))
}

object Scoped {

  val WidthKey = "spark.sql.shuffle.partitions"

  /** Runtime conf every clone inherits from its caller. */
  val Carried: Seq[String] = Seq(
    Checkpoints.ReliableKey,
    Checkpoints.DirKey,
    "spark.graft.staging.dir",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")

  def apply(origin: SparkSession): Scoped = new Scoped(origin)

  def apply(origin: SparkSession, width: Long): Scoped = {
    val scope = new Scoped(origin)
    scope.setWidth(width)
    scope
  }

  /** Width for a vertex-keyed iteration over `n` vertices: one
    * partition per 64k vertices, floor 4. At harness scale the
    * session default's per-round tasks are pure scheduling overhead;
    * at billion-vertex scale the rule yields thousands of
    * partitions, where it matters. */
  def vertexWidth(n: Long): Long = math.max(4L, n / 65536L)

  /** Cloned-session scope for BOUNDED-SLICE pin queries (the `*_exact`
    * DuckDB pins): their working set is a constant by construction (a
    * literal `id < N` slice plus a fixed plant set), yet under the
    * session default every one of their dozens of AQE stage-jobs
    * schedules `spark.sql.shuffle.partitions` tasks over a few
    * thousand rows — task-dispatch overhead that GROWS with core
    * count (q_dedup_banded_exact measured 3× slower at 32 cores than
    * at 8). A bounded slice is one or a few partitions at any corpus
    * scale, which is what AQE would coalesce to by size, so the clone
    * runs at a fixed width of 4. The body ferries its inputs in
    * ([[Scoped.ferry]]) and its result is rebound to the caller's
    * session. */
  def pin(origin: SparkSession)(body: Scoped => DataFrame): DataFrame = {
    val scope = Scoped(origin, 4)
    scope.out(body(scope))
  }

  private def rebind(to: SparkSession, df: DataFrame,
      shape: RDD[Row] => RDD[Row] = identity): DataFrame =
    to.createDataFrame(shape(df.rdd), df.schema)
}
