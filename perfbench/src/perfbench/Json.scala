package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** JSON through the Jackson that ships with Spark. The generator's spec
  * files read as `Map[String, Any]`, with arrays as `Seq[Any]` and numbers
  * as `Double`. */
object Json {
  private val mapper = new ObjectMapper()

  def parse(f: File): Map[String, Any] =
    scalaOf(mapper.readValue(f, classOf[Object])).asInstanceOf[Map[String, Any]]

  private def scalaOf(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> scalaOf(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(scalaOf).toSeq
    case n: java.lang.Number => n.doubleValue
    case x => x
  }

  def quote(s: String): String = mapper.writeValueAsString(s)

  def write(m: Map[String, String]): String = mapper.writeValueAsString(m.asJava)
}
