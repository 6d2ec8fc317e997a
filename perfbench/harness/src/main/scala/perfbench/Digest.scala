package perfbench

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Order-insensitive fingerprint of a query result: the row count and the
  * exact sum of one xxhash64 per row over every column.
  *
  * The benchmark finishes each op with this aggregate instead of `count()`:
  * a bare count lets Catalyst prune result columns that feed no filter,
  * join or sort, so the timed work would be less than the result a user
  * gets. The hashes are summed as DECIMAL(38,0), so the sum cannot
  * overflow under ANSI mode and does not depend on row order. */
final case class Digest(rows: Long, hashSum: java.math.BigDecimal) {
  override def toString: String = s"$rows:${hashSum.toPlainString}"
}

object Digest {

  def parse(s: String): Digest = {
    val Array(r, h) = s.split(':')
    Digest(r.toLong, new java.math.BigDecimal(h))
  }

  /** The digest aggregate over `df`, as a one-row frame. Columns are renamed
    * by position first, so duplicate result names stay addressable; a map
    * column hashes as its sorted entries, since Spark refuses to hash maps. */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => F.array_sort(F.map_entries(F.col(f.name)))
        case _ => F.col(f.name)
      }
    }
    val h = if (cols.isEmpty) F.lit(0L) else F.xxhash64(cols: _*)
    named.agg(F.count(F.lit(1)), F.sum(h.cast(DecimalType(38, 0))))
  }

  def of(df: DataFrame): Digest = {
    val r = frame(df).collect().head
    Digest(r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
