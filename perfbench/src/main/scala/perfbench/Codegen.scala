package perfbench

import java.util.concurrent.atomic.LongAdder
import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.metrics.source.CodegenMetrics

/** Exact codegen compile totals for this JVM.
  *
  * Spark records the milliseconds of every generated-code compile in
  * `CodegenMetrics.METRIC_COMPILATION_TIME`, a histogram whose default
  * reservoir keeps only a decaying sample of 1028 values, so the total
  * cannot be read back once a run has compiled more than that. The
  * benchmark wraps the reservoir with one that also keeps the running
  * sum; every value still reaches the original reservoir.
  */
object Codegen {
  private final class SumReservoir(inner: Reservoir) extends Reservoir {
    val sum = new LongAdder
    override def size(): Int = inner.size()
    override def update(v: Long): Unit = { sum.add(v); inner.update(v) }
    override def getSnapshot(): Snapshot = inner.getSnapshot
  }

  private lazy val reservoir: SumReservoir = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    val r = new SumReservoir(f.get(h).asInstanceOf[Reservoir])
    f.set(h, r)
    r
  }

  /** Must run before the first compile of the JVM. */
  def install(): Unit = reservoir

  /** (compiles, summed compile milliseconds) since [[install]]. */
  def totals(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, reservoir.sum.sum)
}
