package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** In-memory spans recorded around the benchmark's calls into the engine.
  * Each span names the layer entry point it wraps and the span that caused
  * it; `write` dumps them as JSON lines when the run ends. A disabled
  * tracer only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()

  def span[A](name: String, parent: Long = 0)(body: Long => A): A =
    if (!enabled) body(0)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally {
        val t1 = System.nanoTime()
        spans.synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Total seconds spent in spans of `name`. */
  def seconds(name: String): Double =
    spans.synchronized(spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum)

  def write(path: String): Unit = if (enabled) {
    val lines = spans.synchronized(spans.toList).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)
}
