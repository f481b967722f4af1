package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its implementation over the
  * TESTDATA.md parquet tables of a scale-factor directory, and the DuckDB
  * SQL that must produce the same rows.
  *
  * `warm` marks queries whose timed path serves state built once per JVM
  * or per corpus (stamped landings, drained streams, trained index
  * artifacts), while the DuckDB denominator rebuilds everything from raw
  * on every run. Bench discloses them as `warm_state`.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    warm: Boolean = false)

object Query {
  /** `all` unchanged, after checking that no two queries share a name and
    * that every query has oracle SQL. A duplicate would otherwise let a
    * later module silently replace an earlier module's query.
    */
  def checked(all: Seq[Query]): Seq[Query] = {
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    val blank = all.filter(_.oracleSql.trim.isEmpty).map(_.name)
    require(blank.isEmpty, s"queries without oracle SQL: ${blank.mkString(", ")}")
    all
  }
}
