package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

/** In-memory span and count recorder for the traced run.
  *
  * A span is (id, parent, request id, name, start, end); the parent is the
  * innermost open span of the same thread. Names are `<layer>.<what>`, and a
  * layer's self time is the time its spans cover minus the part covered by
  * their child spans. Counts are recorded at the same boundaries. Nothing is
  * written until `dump`, so recording costs two clock reads and one queue
  * append per span. When tracing is off every call is a pass-through.
  */
object Trace {
  final case class Span(id: Long, parent: Long, req: Long, name: String, startNs: Long, endNs: Long)

  @volatile var on: Boolean = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue(): java.lang.Long = 0L }

  def span[T](name: String, req: Long)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  private val reqIds = new AtomicLong(0)

  /** First id of a block of `n` request ids (spans of one request share it). */
  def nextRequestBase(n: Int): Long = reqIds.getAndAdd(n.toLong)

  def count(name: String, v: Long): Unit =
    if (on) counts.computeIfAbsent(name, _ => new LongAdder).add(v)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer (the name up to the first dot), in nanos. */
  def selfNsByLayer: Map[String, Long] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupMapReduce(_.name.takeWhile(_ != '.')) { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      math.max(0L, (s.endNs - s.startNs) - Probe.covered(kids))
    }(_ + _)
  }

  /** Write spans (one JSON object per line) and counts (one JSON object). */
  def dump(dir: Path): Unit = {
    Files.createDirectories(dir)
    val w = new PrintWriter(Files.newBufferedWriter(dir.resolve("spans.jsonl")))
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
    val c = counts.asScala.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${v.sum}""" }.mkString("{", ",", "}")
    Files.writeString(dir.resolve("counts.json"), c + "\n")
  }
}
