package perfbench

import scala.jdk.CollectionConverters._

/** JSON in and out with Jackson, which Spark ships, for the run
  * configuration and the result file the runner reads. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readFile(path: String): Any = toScala(mapper.readValue(new java.io.File(path), classOf[Object]))

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toVector
    case other => other
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  /** Scala collections as Java ones, in their iteration order; a number
    * JSON cannot hold (NaN, infinity) becomes null. */
  private def toJava(v: Any): Any = v match {
    case Some(x) => toJava(x)
    case None => null
    case d: Double if d.isNaN || d.isInfinite => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case other => other
  }
}
