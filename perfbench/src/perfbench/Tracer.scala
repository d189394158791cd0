package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.HiveCatalogMetrics

/** One timed interval. `parent` is the enclosing span's id (-1 at the top
  * of an operation) and `op` the id of the operation it belongs to. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** One unit of client work (an ask on one path, an append, an ingest
  * round, ...), with its wall-clock interval in milliseconds so that
  * Spark's own events can be attributed to it by time, and the number of
  * files Spark's file index listed while it ran. */
final case class Op(id: Int, kind: String, startMs: Long, endMs: Long, filesListed: Long)

/** Span recorder for the traced run. Operations are always recorded;
  * spans only when `enabled`, so an untraced run pays one branch per
  * call. Everything stays in memory until the run ends. The benchmark
  * drives the engine from one thread, so no synchronisation is needed.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[Op]
  private var stack: List[Int] = Nil
  private var currentOp = -1

  /** Runs `body` as one operation of `kind`; returns its result and its
    * wall time in nanoseconds. */
  def op[T](kind: String)(body: => T): (T, Long) = {
    val id = ops.size
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    currentOp = id
    val r = try span(kind)(body) finally currentOp = -1
    val t1 = System.nanoTime()
    ops += Op(id, kind, ms0, System.currentTimeMillis(),
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0)
    (r, t1 - t0)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null // reserve the id so children numbered later sort after
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, currentOp, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time of every span: its duration minus the part of it that
    * its children cover. Children of one span run one after another on
    * the calling thread, so the covered part is the sum of theirs. */
  def selfNs: Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** The spans as JSON lines, for the trace file written at the end. */
  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}
