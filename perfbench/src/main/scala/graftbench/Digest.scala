package graftbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive answer digest of a query result: the row count plus
  * the wrapping sum of one 64-bit hash per row. Doubles and floats are
  * rounded to 9 significant digits before hashing, so a different
  * summation order inside the engine cannot flip the digest. Column order
  * is canonicalised by name, so a reordered projection still matches. */
object Digest {
  final case class D(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  def parse(s: String): D = {
    val Array(r, h) = s.split(':')
    D(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def of(df: DataFrame): D = {
    val names = df.columns
    val order = names.indices.sortBy(i => names(i))
    var n = 0L
    var sum = 0L
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val sb = new java.lang.StringBuilder
      order.foreach { i => canon(r.get(i), sb); sb.append('\u0001') }
      sum += hash64(sb.toString)
      n += 1
    }
    D(n, sum)
  }

  private def round9(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString

  private def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\u0000")
    case d: Double => sb.append(round9(d))
    case f: Float => sb.append(round9(f.toDouble))
    case r: Row =>
      sb.append('{'); r.toSeq.foreach { x => canon(x, sb); sb.append(',') }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      // map entry order is not part of the answer
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; canon(k, e); e.append('='); canon(x, e)
        e.toString
      }.sorted
      sb.append('<').append(parts.mkString(",")).append('>')
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.foreach { x => canon(x, sb); sb.append(',') }
      sb.append(']')
    case a: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(a))
    case x => sb.append(x.toString)
  }

  private def hash64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes("UTF-8"))).getLong
  }
}
