package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Locale

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result.
  *
  * Each row is reduced to a canonical string and hashed; the digest is the
  * row count plus the 128-bit sum (mod 2^64 per half) of the row hashes, so
  * it does not depend on row order but does count duplicate rows. Doubles
  * are rounded to 12 significant digits: a floating sum whose addition
  * order varies between runs may differ in its last bits without the
  * result being wrong.
  */
object RowDigest {

  def of(schema: StructType, rows: Iterable[Row]): String = {
    var a = 0L
    var b = 0L
    var n = 0L
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val h = md.digest(canon(r).getBytes(UTF_8))
      a += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      b += java.nio.ByteBuffer.wrap(h, 8, 8).getLong
      n += 1
    }
    val cols = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val s = java.nio.ByteBuffer.wrap(md.digest(cols.getBytes(UTF_8)), 0, 8).getLong
    f"$n:${s ^ a}%016x${b}%016x"
  }

  /** Row count encoded in a digest (for results checked by count only). */
  def count(digest: String): Long = digest.takeWhile(_ != ':').toLong

  private[perfbench] def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case bytes: Array[Byte] => bytes.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(Locale.ROOT, "%.11e", Double.box(d))
}

/** Plan-cache and memo hit detection by object identity: a call that
  * returns the very DataFrame returned for the same key last time was
  * served from a cache; any other object was built afresh. The last object
  * is held weakly: one the cache no longer holds may be collected, and then
  * cannot be the one returned. */
final class IdentityHits {
  import IdentityHits._
  private val last =
    new java.util.concurrent.ConcurrentHashMap[String, (java.lang.ref.WeakReference[AnyRef], Long)]()

  /** Record that `key` returned `obj` while the write epoch was `epoch`. */
  def observe(key: String, obj: AnyRef, epoch: Long = 0L): Outcome = {
    val prev = last.put(key, (new java.lang.ref.WeakReference(obj), epoch))
    if (prev == null) First
    else if (prev._1.get eq obj) Hit
    else if (prev._2 != epoch) Invalidated
    else Miss
  }
}

object IdentityHits {
  sealed trait Outcome
  /** First use of the key: nothing to compare with. */
  case object First extends Outcome
  /** Same object as last time: served from the cache. */
  case object Hit extends Outcome
  /** A new object after a write happened since the key's last use. */
  case object Invalidated extends Outcome
  /** A new object with no write in between (eviction or a racing build). */
  case object Miss extends Outcome
}
