package perfbench

import java.security.MessageDigest
import java.util.{ArrayList => JList}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical, engine-neutral form of a collected result, so the checker can
  * compare it with a DuckDB result value by value (the normalization of
  * `scripts/compare.py`: columns sorted by name, row order kept, exact
  * values). Encoding per cell:
  *  - integers, booleans and strings as JSON;
  *  - doubles and floats as `f:<hex of the IEEE-754 double bits>`, with
  *    -0.0 folded to 0.0 and one canonical NaN;
  *  - decimals as `dec:<plain string without trailing zeros>`;
  *  - timestamps as `ts:<epoch micros>`, dates as `date:<ISO day>`;
  *  - binaries as `bin:<hex>`; arrays and structs as lists; maps as lists
  *    of `[key, value]` pairs sorted by the key's JSON text.
  */
object Canon {
  private val json = new ObjectMapper()

  final case class Result(columns: Seq[String], types: Seq[String], rows: JList[AnyRef], digest: String)

  def apply(schema: StructType, rows: Array[Row]): Result = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val out = new JList[AnyRef](rows.length)
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val cells = new JList[AnyRef](order.length)
      order.foreach(i => cells.add(cell(r.get(i))))
      md.update(json.writeValueAsBytes(cells))
      md.update('\n'.toByte)
      out.add(cells)
    }
    Result(order.map(schema.fieldNames(_)).toSeq, order.map(schema.fields(_).dataType.simpleString).toSeq,
      out, md.digest().take(12).map("%02x".format(_)).mkString)
  }

  private def dbl(d: Double): String = {
    val v = if (d == 0.0) 0.0 else d
    "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(v))
  }

  def cell(v: Any): AnyRef = v match {
    case null => null
    case s: String => s
    case b: java.lang.Boolean => b
    case b: Byte => java.lang.Long.valueOf(b.toLong)
    case s: Short => java.lang.Long.valueOf(s.toLong)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case l: Long => java.lang.Long.valueOf(l)
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => "dec:" + normDec(d)
    case d: scala.math.BigDecimal => "dec:" + normDec(d.bigDecimal)
    case t: java.sql.Timestamp =>
      "ts:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "ts:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "ts:" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => "date:" + d.toLocalDate.toString
    case d: java.time.LocalDate => "date:" + d.toString
    case b: Array[Byte] => "bin:" + b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] =>
      val l = new JList[AnyRef](s.size); s.foreach(x => l.add(cell(x))); l
    case r: Row =>
      val l = new JList[AnyRef](r.length); (0 until r.length).foreach(i => l.add(cell(r.get(i)))); l
    case m: scala.collection.Map[_, _] =>
      val pairs = m.toSeq.map { case (k, x) => (json.writeValueAsString(cell(k)), cell(k), cell(x)) }
      val l = new JList[AnyRef](pairs.size)
      pairs.sortBy(_._1).foreach { case (_, k, x) => l.add(List(k, x).asJava) }
      l
    case other => throw new IllegalArgumentException(s"no canonical form for ${other.getClass}")
  }

  private def normDec(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  def write(path: java.nio.file.Path, r: Result): Unit = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("columns", r.columns.asJava)
    m.put("types", r.types.asJava)
    m.put("rows", r.rows)
    json.writeValue(path.toFile, m)
  }
}
