package perfbench

import org.apache.spark.sql.{DataFrame, functions => F}

/** Order-independent digest of a whole result: every row is hashed over all
  * of its columns, and the row hashes are summed, so the digest does not
  * depend on row order or partitioning but does count duplicate rows. Unlike
  * `count()`, hashing every column keeps Catalyst from pruning the columns
  * a query computes.
  *
  * Two independent hash functions (xxhash64 and murmur3) are summed, the
  * 64-bit one as two 32-bit halves so that no sum can overflow under ANSI
  * arithmetic.
  */
object Digest {

  /** The one-row frame whose collect() yields the digest of `df`. */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.columns.toIndexedSeq.map(c => df.col(s"`$c`"))
    val x = F.xxhash64(cols: _*)
    df.agg(
      F.count(F.lit(1)),
      F.coalesce(F.sum(x.bitwiseAND(F.lit(0xffffffffL))), F.lit(0L)),
      F.coalesce(F.sum(F.shiftrightunsigned(x, 32)), F.lit(0L)),
      F.coalesce(F.sum(F.hash(cols: _*).cast("long")), F.lit(0L)))
  }

  /** Render the collected digest row as `rows:lo:hi:murmur` in hex. */
  def render(row: org.apache.spark.sql.Row): String =
    "%d:%x:%x:%x".format(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))

  def of(df: DataFrame): String = render(frame(df).collect().head)

  /** The row count a rendered digest carries. */
  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
