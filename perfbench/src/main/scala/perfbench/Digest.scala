package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output digest: the row count plus the wrapping sum of
  * one 64-bit hash per row over every output column. Because the digest
  * reads every column, Catalyst cannot prune a projected column the way it
  * can for a bare `count()`.
  */
object Digest {

  final case class Value(rows: Long, hash: BigDecimal) {
    override def toString: String = s"$rows:${hash.bigDecimal.toPlainString}"
  }

  /** Maps cannot be hashed in Spark SQL; their entries, sorted, can. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** One action: a single aggregate job over the frame. */
  def of(df: DataFrame): Value = {
    val fields = df.schema.fields.sortBy(_.name)
    val cols = fields.map(f => hashable(df.col(s"`${f.name}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    // decimal(20,0) sums cannot overflow, so the sum is exact under ANSI mode
    val r = df.agg(count(lit(1)),
      coalesce(sum(rowHash.cast("decimal(20,0)")), lit(0).cast("decimal(30,0)"))).head()
    Value(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
