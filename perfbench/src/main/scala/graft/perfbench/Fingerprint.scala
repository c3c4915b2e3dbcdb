package graft.perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-independent output fingerprint: row count plus the sum, mod
  * 2^64, of a SHA-1 prefix of each row's canonical text. Columns are
  * keyed by name and sorted, so column order does not matter but
  * aliases do. `oracle.py` computes the same text for DuckDB results,
  * so a Spark result and its DuckDB twin fingerprint equal exactly when
  * they hold the same rows (NaN reads as null, -0.0 as 0, decimals as
  * the nearest double, timestamps as UTC microseconds). */
final case class Fp(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {

  def of(columns: Seq[String], rows: Iterator[Row]): Fp = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val md = MessageDigest.getInstance("SHA-1")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val text = order.map { case (c, i) => c + "\u0002" + canon(r.get(i)) }.mkString("\u0001")
      val d = md.digest(text.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
      n += 1
    }
    Fp(n, f"$sum%016x")
  }

  /** The same sum over the raw lines of a CSV sink directory (headers
    * dropped), read straight from the local part files: no Spark job, so
    * checking a sink costs no engine time. Comparable only with itself. */
  def ofCsvDir(dir: String): Fp = {
    val md = MessageDigest.getInstance("SHA-1")
    var n = 0L
    var sum = 0L
    val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    parts.foreach { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath).iterator()
      if (lines.hasNext) lines.next()
      while (lines.hasNext) {
        sum += java.nio.ByteBuffer.wrap(md.digest(lines.next().getBytes("UTF-8")), 0, 8).getLong
        n += 1
      }
    }
    Fp(n, f"$sum%016x")
  }

  private def num(d: Double): String =
    if (d.isNaN) "∅"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.floor(d)) new java.math.BigDecimal(d).toBigInteger.toString
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: scala.math.BigDecimal => num(b.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case s: String => s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant => "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case a: Array[Byte] => "b" + a.map(x => f"${x & 0xff}%02x").mkString
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(i => s"f$i"))
      names.zipWithIndex.sortBy(_._1)
        .map { case (k, i) => k + "=" + canon(r.get(i)) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) -> canon(x) }.sortBy(_._1)
        .map { case (k, x) => k + ":" + x }.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
