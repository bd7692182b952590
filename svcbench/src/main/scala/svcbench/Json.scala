package svcbench

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the run record, written by Jackson once the Spark values in
  * it are turned into the plain values the checker reads: rows into
  * lists, timestamps into ISO-8601 UTC strings, non-finite doubles into
  * null. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN).build()

  def encode(v: Any): String = mapper.writeValueAsString(plain(v))

  private def plain(v: Any): Any = v match {
    case Some(x) => plain(x)
    case r: org.apache.spark.sql.Row => r.toSeq.map(plain)
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toString
    case d: Double if d.isNaN || d.isInfinite => null
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> plain(x) }
    case a: Array[_] => a.toSeq.map(plain)
    case s: Iterable[_] => s.map(plain)
    case other => other
  }
}
