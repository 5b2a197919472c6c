package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** JSON in and out: Spark values become plain JSON values (dates and
  * timestamps as ISO strings, structs as lists, maps as objects). */
object Out {
  val mapper = new ObjectMapper()

  def value(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case f: Float => f.toDouble
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case ts: java.sql.Timestamp => micros(ts.toInstant)
    case ts: java.time.Instant => micros(ts)
    case ts: java.time.LocalDateTime => micros(ts.toInstant(java.time.ZoneOffset.UTC))
    case r: Row => r.toSeq.map(value)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => String.valueOf(k) -> value(x) }.sortBy(_._1).toMap
    case s: scala.collection.Seq[_] => s.map(value)
    case a: Array[_] => a.toSeq.map(value)
    case other => other
  }

  /** Timestamps travel as "ts:<epoch micros>" (UTC). */
  private def micros(i: java.time.Instant): String =
    s"ts:${i.getEpochSecond * 1000000L + i.getNano / 1000}"

  /** Scala collections to Java ones, for the mapper. */
  def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(String.valueOf(k), toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case other => other.asInstanceOf[AnyRef]
  }

  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    mapper.writeValue(f, toJava(v))
  }
}
