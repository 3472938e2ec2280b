package graft.perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. Spans are opened only by the
  * benchmark's own code (around each op, its plan/execute phases and each
  * direct layer call), on the driver thread; nothing is written until the
  * run ends. When off, `span` is a plain call: the untraced run pays one
  * boolean test per op. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, var endNs: Long,
                        parent: Int) {
    def layer: String = name.takeWhile(_ != '.')
    def durNs: Long = endNs - startNs
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val origin = System.nanoTime()
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val s = Span(spans.length, name, System.nanoTime(), -1L,
        stack.headOption.getOrElse(-1))
      spans += s
      stack = s.id :: stack
      try f
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  def count(name: String, v: Double): Unit =
    if (on) counts(name) = counts.getOrElse(name, 0.0) + v

  /** Durations (ms) of every closed span with this exact name. */
  def durationsMs(name: String): Seq[Double] =
    spans.iterator.filter(s => s.name == name && s.endNs >= 0)
      .map(_.durNs / 1e6).toSeq

  /** Per-layer self time (span time minus its children's), in ms. */
  def selfMsByLayer: Map[String, Double] = {
    val child = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0 && s.endNs >= 0) child(s.parent) += s.durNs)
    spans.iterator.filter(_.endNs >= 0)
      .map(s => s.layer -> (s.durNs - child(s.id)) / 1e6)
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Spans, per-layer self time, counters and the caller's extra figures as
    * one JSON document. */
  def toJson(extra: Seq[(String, String)]): String = {
    val sb = new StringBuilder
    sb ++= "{"
    extra.foreach { case (k, v) => sb ++= Json.str(k) ++= ":" ++= v ++= "," }
    sb ++= "\"layer_self_ms\":" ++=
      Json.obj(selfMsByLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    sb ++= ",\"counts\":" ++= Json.obj(counts.toSeq.map { case (k, v) => k -> Json.num(v) })
    sb ++= ",\"spans\":["
    var first = true
    spans.foreach { s =>
      if (!first) sb ++= ","
      first = false
      sb ++= "{\"name\":" ++= Json.str(s.name)
      sb ++= f",\"start_ms\":${(s.startNs - origin) / 1e6}%.3f"
      sb ++= f",\"end_ms\":${(s.endNs - origin) / 1e6}%.3f"
      sb ++= ",\"parent\":" ++= s.parent.toString ++= "}"
    }
    sb ++= "]}"
    sb.toString
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
