package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._

/** JSON for the harness's outputs and the files_sql script reader, both
  * through the Jackson that ships with Spark. */
object Json {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One JSON object, keys in the order given. */
  def obj(kv: (String, Any)*): String =
    mapper.writeValueAsString(scala.collection.immutable.ListMap(kv: _*))

  private val utc = java.time.ZoneOffset.UTC
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** A Spark row value as a JSON-ready value: timestamps as UTC text,
    * dates as ISO text, decimals as exact text, nested values as lists. */
  def cell(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => tsFmt.format(t.toInstant.atZone(utc))
    case t: java.time.Instant => tsFmt.format(t.atZone(utc))
    case t: java.time.LocalDateTime => tsFmt.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case r: org.apache.spark.sql.Row => r.toSeq.map(cell)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> cell(x) }
    case xs: scala.collection.Seq[_] => xs.map(cell)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case f: java.lang.Float => f.toDouble
    case x @ (_: String | _: Number | _: java.lang.Boolean) => x
    case other => other.toString
  }

  final case class Script(statements: Seq[(String, String)],
                          exportStatement: String, exports: Seq[String])

  def parseStatements(text: String): Script = {
    val root = mapper.readTree(text)
    val stmts = root.get("statements").elements().asScala.map { n =>
      n.get("name").asText -> n.get("spark").asText
    }.toSeq
    val ex = root.get("export")
    Script(stmts, ex.get("spark").asText,
      ex.get("formats").elements().asScala.map(_.asText).toSeq)
  }
}
