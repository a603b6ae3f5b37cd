package perfbench

import org.apache.spark.sql.Row

/** Minimal JSON writing plus the canonical row encoding the Python side
  * decodes to compare results with DuckDB. Typed values that JSON cannot
  * carry are tagged objects: `{"$dec": "1.50"}`, `{"$date": "2024-01-31"}`,
  * `{"$ts": <epoch micros>}`, `{"$bin": "<base64>"}`, and non-finite
  * doubles as `{"$f": "NaN"}`.
  */
object Json {

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) s"""{"$$f": ${str(d.toString)}}""" else d.toString

  /** A flat JSON object from (key, already-encoded value) pairs. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ", ", "]")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => s"""{"$$dec": ${str(d.toPlainString)}}"""
    case d: scala.math.BigDecimal => s"""{"$$dec": ${str(d.bigDecimal.toPlainString)}}"""
    case d: java.sql.Date => s"""{"$$date": ${str(d.toLocalDate.toString)}}"""
    case d: java.time.LocalDate => s"""{"$$date": ${str(d.toString)}}"""
    case t: java.sql.Timestamp => s"""{"$$ts": ${micros(t.toInstant)}}"""
    case t: java.time.Instant => s"""{"$$ts": ${micros(t)}}"""
    case t: java.time.LocalDateTime =>
      s"""{"$$ts": ${micros(t.toInstant(java.time.ZoneOffset.UTC))}}"""
    case b: Array[Byte] =>
      s"""{"$$bin": ${str(java.util.Base64.getEncoder.encodeToString(b))}}"""
    case r: Row =>
      if (r.schema == null) arr(r.toSeq.map(value))
      else obj(r.schema.fieldNames.toIndexedSeq.zip(r.toSeq.map(value)): _*)
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => String.valueOf(k) -> value(x) }: _*)
    case s: scala.collection.Seq[_] => arr(s.map(value))
    case a: Array[_] => arr(a.toSeq.map(value))
    case other => str(other.toString)
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** Result rows as one JSON document: column names plus row arrays. */
  def rows(columns: Seq[String], rs: Array[Row]): String =
    obj("columns" -> arr(columns.map(str)),
        "rows" -> arr(rs.toSeq.map(r => arr(r.toSeq.map(value)))))

  def write(path: java.io.File, text: String): Unit = {
    Option(path.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(path.toPath,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Parse a JSON file into plain Java collections (Jackson ships with Spark). */
  def read(path: java.io.File): java.util.Map[String, Object] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(path, classOf[java.util.Map[String, Object]])
}
