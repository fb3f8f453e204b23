package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON: parse to Scala maps/seqs/doubles, render ordered maps. */
object Json {
  private val mapper = new ObjectMapper()

  def parse(s: String): Any = conv(mapper.readValue(s, classOf[Object]))

  private def conv(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> conv(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(conv).toSeq
    case n: java.lang.Number => n.doubleValue
    case x => x
  }

  /** Renders Seq[(String, Any)] as an object in order, Map sorted by key. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      render(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
        case (_: String, _) => true
        case _ => false
      } =>
      kv.map { case (k: String, x) => render(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }
}
