package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Renders a collected result as JSON text in the canonical encoding that
  * run.py also produces from DuckDB oracle results:
  *
  *  - line 1: `{"columns": [names]}`; then one JSON array per row;
  *  - decimals and floats as JSON numbers (`"NaN"`, `"Infinity"`,
  *    `"-Infinity"` for the non-finite ones);
  *  - dates as days and timestamps as microseconds since the epoch (UTC);
  *  - binary as lowercase hex; arrays and structs as JSON arrays; maps as
  *    arrays of `[key, value]` pairs sorted by the rendered key.
  */
object Canon {
  def render(schema: StructType, rows: Array[Row]): String = {
    val sb = new java.lang.StringBuilder(64 + rows.length * 48)
    sb.append("{\"columns\": ")
      .append(schema.fields.map(f => Json.str(f.name)).mkString("[", ", ", "]"))
      .append("}\n")
    rows.foreach { r =>
      sb.append('[')
      var i = 0
      while (i < schema.length) {
        if (i > 0) sb.append(", ")
        value(sb, schema(i).dataType, if (r.isNullAt(i)) null else r.get(i))
        i += 1
      }
      sb.append("]\n")
    }
    sb.toString
  }

  def digest(text: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def double(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("\"NaN\"")
    else if (d.isPosInfinity) sb.append("\"Infinity\"")
    else if (d.isNegInfinity) sb.append("\"-Infinity\"")
    else sb.append(java.lang.Double.toString(d))

  private def value(sb: java.lang.StringBuilder, t: DataType, v: Any): Unit =
    if (v == null) sb.append("null")
    else (t, v) match {
      case (BooleanType, b: Boolean) => sb.append(b)
      case (ByteType | ShortType | IntegerType | LongType, n) => sb.append(n.toString)
      case (FloatType, f: Float) => double(sb, f.toDouble)
      case (DoubleType, d: Double) => double(sb, d)
      case (_: DecimalType, d: java.math.BigDecimal) => sb.append(d.toPlainString)
      case (StringType, s: String) => sb.append(Json.str(s))
      case (DateType, d: java.sql.Date) => sb.append(d.toLocalDate.toEpochDay)
      case (DateType, d: java.time.LocalDate) => sb.append(d.toEpochDay)
      case (TimestampType, ts: java.sql.Timestamp) => sb.append(micros(ts.toInstant))
      case (TimestampType, i: java.time.Instant) => sb.append(micros(i))
      case (TimestampNTZType, l: java.time.LocalDateTime) =>
        sb.append(micros(l.toInstant(java.time.ZoneOffset.UTC)))
      case (BinaryType, b: Array[Byte]) =>
        sb.append('"').append(b.map(x => f"${x & 0xff}%02x").mkString).append('"')
      case (ArrayType(et, _), s: scala.collection.Seq[_]) =>
        sb.append('[')
        s.zipWithIndex.foreach { case (e, i) =>
          if (i > 0) sb.append(", ")
          value(sb, et, e)
        }
        sb.append(']')
      case (st: StructType, r: Row) =>
        sb.append('[')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append(", ")
          value(sb, st(i).dataType, if (r.isNullAt(i)) null else r.get(i))
        }
        sb.append(']')
      case (MapType(kt, vt, _), m: scala.collection.Map[_, _]) =>
        val pairs = m.toSeq.map { case (k, x) =>
          val ks = new java.lang.StringBuilder; value(ks, kt, k)
          val vs = new java.lang.StringBuilder; value(vs, vt, x)
          (ks.toString, vs.toString)
        }.sortBy(_._1)
        sb.append(pairs.map { case (k, x) => s"[$k, $x]" }.mkString("[", ", ", "]"))
      case (_, other) => sb.append(Json.str(other.toString))
    }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
