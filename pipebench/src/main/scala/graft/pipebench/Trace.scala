package graft.pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded call into a layer: `name` is `<layer>.<call>`; `op` ties
  * the spans of one unit of work (a chunk, a block, a query) together.
  * `counters` holds the deltas of the sampled counters over the span.
  */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    startNs: Long, endNs: Long, counters: Map[String, Long]) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded by the benchmark around its own calls into each layer.
  * Off (the untraced run), [[span]] only runs the body. On, spans are
  * kept in memory and written out once at the end; counters are sampled
  * at the same boundaries.
  */
final class Trace(val enabled: Boolean, counters: () => Map[String, Long]) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, op: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val c0 = counters()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = counters()
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, name, op, t0, t1,
          c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) }.filter(_._2 != 0L)))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Length of the union of `[start, end)` intervals. */
  private def unionNs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var lo = 0L
    var hi = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > hi) { if (open) covered += hi - lo; lo = a; hi = b; open = true }
      else hi = math.max(hi, b)
    }
    if (open) covered + hi - lo else covered
  }

  /** Self time per span: its duration minus the part its children cover. */
  def selfNs: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map(s => s.id -> (s.durNs - unionNs(byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))))).toMap
  }

  /** Share of [t0, t1] covered by the union of top-level spans. */
  def coverage(t0Ns: Long, t1Ns: Long): Double =
    unionNs(all.filter(_.parent == 0L).map(s => (math.max(s.startNs, t0Ns), math.min(s.endNs, t1Ns)))
      .filter { case (a, b) => b > a }).toDouble / (t1Ns - t0Ns)

  def write(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = all.map { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},"counters":{$cs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }

  /** Cost of recording one span, measured on a scratch trace. */
  def perSpanCostNs: Double = {
    val probe = new Trace(true, counters)
    val n = 20000
    (0 until 2000).foreach(_ => probe.span("warm")(()))
    val t0 = System.nanoTime()
    (0 until n).foreach(_ => probe.span("probe")(()))
    (System.nanoTime() - t0).toDouble / n
  }
}
