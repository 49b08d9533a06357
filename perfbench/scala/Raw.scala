package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** The raw record one benchmark run hands to `run.py`: plain values only.
  * All arithmetic on them (percentiles, freshness, self times, geomeans,
  * output checks against recorded digests) lives in `metrics.py`, where it
  * is unit-tested; the JVM side only measures and counts.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Order-insensitive content digest of a query result: each row is
  * rendered canonically (binary as hex, maps with sorted keys, doubles
  * by `Double.toString`), the renderings are sorted, and the sorted list
  * is hashed with SHA-256.
  */
object Digest {
  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }
}

/** One timed operation: a format landing, a read-back, a micro-batch or a
  * query execution. `ok` is false when the call threw or its output check
  * failed; `detail` then says which.
  */
final case class Op(kind: String, startMs: Double, seconds: Double, ok: Boolean,
                    records: Long = 0L, bytes: Long = 0L, traced: Boolean = false,
                    detail: String = "") {
  def toMap: Map[String, Any] = Map("kind" -> kind, "start_ms" -> startMs, "s" -> seconds,
    "ok" -> ok, "records" -> records, "bytes" -> bytes, "traced" -> traced, "detail" -> detail)
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * time base as Spark's listener and progress timestamps. */
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
