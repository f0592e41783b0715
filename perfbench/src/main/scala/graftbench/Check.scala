package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Result fingerprints.
  *
  * `ordered` digests a collected result row by row in emitted order. Its
  * encoding is type-tagged but blind to the timestamp kind, so a live result
  * (session-zone TIMESTAMP) and its oracle-checked parquet dump (relabelled
  * TIMESTAMP_NTZ) digest the same when their values agree.
  *
  * `summarize` materializes every partition of a distributed result on the
  * executors and folds each row's binary form into an order-free sum/xor
  * pair, so a read or write can be compared with its source without
  * dragging the rows to the driver. */
object Check {

  private def canon(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append('~')
    case t: java.sql.Timestamp =>
      sb.append("t:").append(DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant =>
      sb.append("t:").append(DateTimeUtils.instantToMicros(t))
    case t: java.time.LocalDateTime =>
      sb.append("t:").append(DateTimeUtils.localDateTimeToMicros(t))
    case d: java.sql.Date => sb.append("d:").append(d.toString)
    case d: java.time.LocalDate => sb.append("d:").append(d.toString)
    case d: Double =>
      sb.append("f:").append(java.lang.Double.doubleToLongBits(d))
    case f: Float =>
      sb.append("f:").append(java.lang.Double.doubleToLongBits(f.toDouble))
    case i: Int => sb.append("i:").append(i.toLong)
    case i: Long => sb.append("i:").append(i)
    case i: Short => sb.append("i:").append(i.toLong)
    case i: Byte => sb.append("i:").append(i.toLong)
    case b: Boolean => sb.append("b:").append(b)
    case d: java.math.BigDecimal =>
      sb.append("n:").append(d.stripTrailingZeros.toPlainString)
    case d: scala.math.BigDecimal =>
      sb.append("n:").append(d.bigDecimal.stripTrailingZeros.toPlainString)
    case s: String => sb.append("s").append(s.length).append(':').append(s)
    case b: Array[Byte] =>
      sb.append("x:"); b.foreach(x => sb.append(f"$x%02x"))
    case r: Row =>
      sb.append('{')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append(','); canon(sb, r.get(i)); i += 1 }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        canon(e, k); e.append("=>"); canon(e, x); e.toString
      }.sorted
      sb.append("m[").append(parts.mkString(",")).append(']')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append(','); canon(sb, x); first = false }
      sb.append(']')
    case other => sb.append("?:").append(other.toString)
  }

  /** SHA-256 over column names and every row, in order. */
  def ordered(names: Seq[String], rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(names.mkString("|").getBytes(StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      canon(sb, r)
      sb.append('\n')
      md.update(sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Row count, order-free content hash and the delivered partitioning of a
    * distributed result. `partRows`/`partBytes` are per partition. */
  final case class Summary(rows: Long, sum: Long, xor: Long,
      partRows: Array[Long], partBytes: Array[Long]) {
    def parts: Int = partRows.length
    def sameContent(o: Summary): Boolean =
      rows == o.rows && sum == o.sum && xor == o.xor
    override def toString: String =
      s"rows=$rows sum=${java.lang.Long.toHexString(sum)} " +
        s"xor=${java.lang.Long.toHexString(xor)} parts=$parts"
  }

  private def rowHash(u: UnsafeRow): Long = {
    val h1 = Murmur3_x86_32.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
    val h2 = Murmur3_x86_32.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Compute every partition of `df` and fingerprint its rows. */
  def summarize(df: DataFrame): Summary = {
    val schema = df.schema
    val per = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var s = 0L; var x = 0L; var b = 0L
      it.foreach { r =>
        val u = proj(r)
        val h = rowHash(u)
        n += 1; s += h; x ^= h; b += u.getSizeInBytes
      }
      Iterator((n, s, x, b))
    }.collect()
    Summary(per.map(_._1).sum, per.map(_._2).sum, per.foldLeft(0L)(_ ^ _._3),
      per.map(_._1), per.map(_._4))
  }
}
