package perfbench

import org.apache.spark.sql.Row

/** Order-independent digest of a result: each row is rendered with its
  * columns sorted by name (the canonical form the DuckDB oracle check
  * compares), hashed, and the row hashes are summed, so row order does
  * not matter but every value does. */
object Digest {

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def hash64(s: String): Long = {
    val h = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** (row count, 16-hex digest) of `rows` under column names `names`. */
  def of(names: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val sum = rows.map(r => hash64(order.map(i => render(r.get(i))).mkString("\u0001"))).sum
    (rows.size.toLong, f"$sum%016x")
  }

  /** Pinned (rows, digest) per operator, from a run that matched the
    * DuckDB oracle (see pin.py). */
  def loadPins(path: java.nio.file.Path): Map[String, (Long, String)] =
    graft.util.JsonParse.parse(java.nio.file.Files.readString(path)) match {
      case m: scala.collection.Map[_, _] => m.map { case (k, v) =>
        val e = v.asInstanceOf[scala.collection.Map[String, Any]]
        k.toString -> (e("rows").asInstanceOf[Long], e("digest").toString)
      }.toMap
      case other => throw new IllegalArgumentException(s"bad pins file: $other")
    }
}
