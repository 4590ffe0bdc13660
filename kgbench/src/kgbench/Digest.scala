package kgbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent digest of a set of output lines: the line count plus
  * the sum of `xxhash64` over the lines. Two outputs with the same lines
  * in any order and partitioning have the same digest; the sum is taken
  * as decimal(38,0) so it cannot overflow under ANSI arithmetic. */
final case class Digest(lines: Long, hashSum: java.math.BigDecimal) {
  override def toString: String = s"$lines:$hashSum"
}

object Digest {
  val empty: Digest = Digest(0L, java.math.BigDecimal.ZERO)

  /** Digest of a one-string-column frame. */
  def of(lines: DataFrame): Digest = {
    require(lines.columns.length == 1, s"digest wants one column, got ${lines.columns.toSeq}")
    val r = lines.agg(
      count(lit(1)),
      coalesce(sum(xxhash64(col(lines.columns.head)).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), r.getDecimal(1))
  }

  /** Digest of a (subj, pred, obj) frame rendered as N-Triples lines. */
  def ofTriples(triples: DataFrame): Digest =
    of(graft.Pipeline.ntLines(triples.select("subj", "pred", "obj")).toDF())

  private def line(cols: Seq[String]) = concat_ws(" ", cols.map(c => col(c).cast("string")): _*)

  /** Digest of arbitrary rows, each rendered as its space-joined columns. */
  def ofRows(df: DataFrame): Digest = of(df.select(line(df.columns.toSeq)))

  /** [[ofRows]] of `cols` for each value of `key`, in one pass. */
  def byKey(df: DataFrame, key: String, cols: Seq[String]): Map[String, Digest] =
    df.groupBy(col(key))
      .agg(count(lit(1)), sum(xxhash64(line(cols)).cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) -> Digest(r.getLong(1), r.getDecimal(2))).toMap
}
