package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every judged operator, one entry per family (family name → its
    * queries). This is the one place that says which family a query
    * belongs to; `Verify` resolves a family name through it.
    */
  lazy val families: ListMap[String, Seq[Declared]] = {
    import _root_.graft.queries._
    ListMap(
      "relational" -> (Relational.all ++ TpchQ.all ++ Aggregates.all ++
        Windows.all ++ SetOps.all ++ SqlSurface.all ++ Scalars.all ++
        Physical.all),
      "ops" -> Ops.all,
      "events" -> EventsQ.all,
      "streaming" -> StreamQ.all,
      "dedup" -> DedupQ.all,
      "similarity" -> SimilarityQ.all,
      "text" -> TextQ.all,
      "graph" -> GraphQ.all,
      "rec" -> RecQ.all,
      "quality" -> QualityQ.all,
      "pipeline" -> PipelineQ.all,
      "multimodal" -> MultimodalQ.all)
  }

  /** All families' queries. A duplicate name would silently drop one of the
    * two when collapsed into the `queries` Map, so it is a hard error here.
    */
  lazy val declared: Seq[Declared] = {
    val ds = families.values.flatten.toSeq
    val dups = ds.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate declared query names: ${dups.mkString(", ")}")
    ds
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.Relational.q1.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omitted for non-SQL-expressible ops (weaker rows-only
    * check).
    */
  def oracleSql: Map[String, String] =
    declared.flatMap(d => d.oracle.map(o => d.name -> o)).toMap
}
