package perfbench

import scala.jdk.CollectionConverters._

/** Minimal JSON for the files run.py and the JVM exchange. */
object Json {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Objects become `Map[String, Any]`, arrays `Seq[Any]`. */
  def parse(s: String): Any = toScala(mapper.readValue(s, classOf[Object]))

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case x => x
  }

  def write(v: Any): String = {
    val sb = new StringBuilder
    def go(v: Any): Unit = v match {
      case null => sb ++= "null"
      case s: String => sb ++= mapper.writeValueAsString(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','
          go(k.toString); sb += ':'; go(x)
        }
        sb += '}'
      case it: Iterable[_] =>
        sb += '['
        it.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case x => go(x.toString)
    }
    go(v)
    sb.toString
  }
}
