package layerbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span recorder. Spans are recorded from the benchmark's own
  * code, around its calls into each layer and from the layers' public
  * progress reports; nothing inside the program is instrumented. Times
  * are epoch milliseconds (fractional). The spans are written once, at
  * the end of a traced run.
  *
  * A disabled trace records nothing and costs one branch per call.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong(0)

  /** Records a span and returns its id (0 when tracing is off). */
  def span(name: String, layer: String, startMs: Double, endMs: Double,
      parent: Long, traceId: String): Long =
    if (!enabled) 0L
    else {
      val id = seq.incrementAndGet()
      spans.add(Span(id, name, layer, startMs, endMs, parent, traceId))
      id
    }

  def size: Int = spans.size

  def write(path: String, meta: Map[String, String]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val mo = root.putObject("meta")
    meta.foreach { case (k, v) => mo.put(k, v) }
    val arr = root.putArray("spans")
    spans.asScala.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("layer", s.layer)
      o.put("start", s.startMs); o.put("end", s.endMs)
      o.put("parent", s.parent); o.put("trace", s.traceId)
    }
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    m.writeValue(f, root)
  }
}

object Trace {
  final case class Span(id: Long, name: String, layer: String,
      startMs: Double, endMs: Double, parent: Long, traceId: String)
}

/** One clock for the whole run: `System.nanoTime` for intervals, mapped to
  * epoch milliseconds so client-side times line up with the wall-clock
  * timestamps in streaming progress reports.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowNs: Long = System.nanoTime()
  def wallMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def nowMs: Double = wallMs(System.nanoTime())
}
