package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine's public API surface: every operator family declares its
  * `registry` of [[Query]] rows (name, implementation, DuckDB oracle SQL)
  * and this object concatenates them. Modules live under graft.operators.*
  * and graft.sources.*; each query is a pure (SparkSession, sfDir) =>
  * DataFrame over the TESTDATA.md parquet tables.
  */
object SparkEntry {
  /** Every registered query, in module order. */
  lazy val registry: Seq[Query] = Query.checked(Seq(
    operators.Relational.registry,
    operators.Joins.registry,
    operators.Intervals.registry,
    operators.Windows.registry,
    operators.Cdc.registry,
    operators.AvroWire.registry,
    operators.CdcE2e.registry,
    operators.Olap.registry,
    operators.Docs.registry,
    operators.NearDup.registry,
    operators.Retrieval.registry,
    operators.Embeddings.registry,
    operators.Multimodal.registry,
    operators.Analytics.registry,
    operators.Scalar.registry,
    operators.Collections.registry,
    operators.Pipeline.registry,
    operators.Skew.registry,
    operators.Quality.registry,
    operators.TimeSeries.registry,
    operators.SqlSuite.registry,
    sources.Partitioned.registry,
    sources.Formats.registry,
    sources.Bucketed.registry,
    sources.Catalog.registry,
    sources.Dml.registry,
    sources.TxLog.registry,
    sources.TxSql.registry,
    sources.TxFeatures.registry,
    sources.TxDml.registry,
    sources.Layout.registry,
    sources.ChangeLog.registry).flatten)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1Pricing(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap
}
