package dispatchbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** A span around one bench-side call into a layer. */
final case class Span(id: Int, parent: Int, layer: String, name: String, startNs: Long, var endNs: Long)

/** In-memory span recorder for the driver thread. Disabled, `span` only
  * runs its body, so untraced runs pay nothing. Spans nest by call order;
  * the recorder writes them out once, at the end of the run.
  */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.length, open.headOption.getOrElse(-1), layer, name, System.nanoTime(), 0L)
      spans += s
      open = s.id :: open
      try body
      finally { s.endNs = System.nanoTime(); open = open.tail }
    }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover.
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  def write(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
