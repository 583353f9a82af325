package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a result: the schema (column names
  * sorted, as the oracle compares them) plus a multiset hash of the
  * rows. Doubles are rounded to 9 significant digits and floats to 6,
  * so a last-ulp difference in an aggregation order cannot flip the
  * fingerprint while any value the oracle would see as different does.
  */
object Fingerprint {
  private val dblCtx = new java.math.MathContext(9)
  private val fltCtx = new java.math.MathContext(6)

  private def num(d: Double, mc: java.math.MathContext, sb: StringBuilder): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d)
    else if (d == 0.0) sb.append('0')
    else sb.append(new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString)

  private def canon(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("∅")
    case d: Double => num(d, dblCtx, sb)
    case f: Float => num(f.toDouble, fltCtx, sb)
    case b: java.math.BigDecimal => sb.append(b.stripTrailingZeros.toPlainString)
    case r: Row =>
      sb.append('(')
      r.toSeq.foreach { x => canon(x, sb); sb.append(',') }
      sb.append(')')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.map { case (k, x) =>
        val e = new StringBuilder
        canon(k, e); e.append(':'); canon(x, e); e.toString
      }.sorted.foreach { e => sb.append(e).append(',') }
      sb.append('}')
    case a: Array[Byte] => a.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { x => canon(x, sb); sb.append(',') }
      sb.append(']')
    case other => sb.append(other.toString)
  }

  /** `rows:sum:xor` over per-row 64-bit hashes, prefixed by the schema
    * hash; equal multisets of rows give equal fingerprints. */
  def of(df: DataFrame): String = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val schema = df.schema.fields.sortBy(_.name)
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val (n, sum, xor) = df.rdd.mapPartitions { it =>
      var n = 0L; var sum = 0L; var xor = 0L
      val sb = new StringBuilder
      it.foreach { r =>
        sb.setLength(0)
        cols.foreach { i => canon(r.get(i), sb); sb.append('\u0001') }
        val s = sb.toString
        val h = (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) ^
          (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
        n += 1; sum += h; xor ^= h * 0x9e3779b97f4a7c15L
      }
      Iterator((n, sum, xor))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
      (a + x, b + y, c ^ z)
    }
    f"${MurmurHash3.stringHash(schema)}%08x:$n:$sum%016x:$xor%016x"
  }
}
