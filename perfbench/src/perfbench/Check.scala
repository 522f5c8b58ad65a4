package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import java.security.MessageDigest

/** Order-independent result checksums, rendered exactly as `gen.py`
  * renders its expectations: each row becomes `v1|v2|...` (null as `\N`,
  * integral doubles as integers), and the checksum is the row count plus
  * the sum of the first 32 bits of each row's SHA-1.
  */
object Check {
  final case class Sum(n: Long, sum: Long) {
    override def toString = s"(n=$n, sum=$sum)"
  }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      require(d.isWhole, s"non-integral double in a checked column: $d")
      d.toLong.toString
    case f: Float =>
      require(f.isWhole, s"non-integral float in a checked column: $f")
      f.toLong.toString
    case other => other.toString
  }

  def rowHash(values: Seq[Any]): Long = {
    val d = MessageDigest.getInstance("SHA-1").digest(values.map(canon).mkString("|").getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  def of(rows: Array[Row]): Sum = Sum(rows.length, rows.iterator.map(r => rowHash(r.toSeq)).sum)

  /** The same checksum computed by Spark over the store's version keys
    * `(_oid, _start, _end, _hash)`, for stores too large to collect.
    */
  def storeKeys(df: DataFrame): Sum = {
    def txt(c: Column) = coalesce(c.cast("string"), lit("\\N"))
    val key = concat_ws("|", txt(col("_oid")), txt(col("_start").cast("long")),
      txt(col("_end").cast("long")), txt(col("_hash")))
    val r = df.agg(count(lit(1)), coalesce(sum(conv(substring(sha1(key), 1, 8), 16, 10)
      .cast("long")), lit(0L))).head()
    Sum(r.getLong(0), r.getLong(1))
  }
}
