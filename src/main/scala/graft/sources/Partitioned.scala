package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det._

/** Partition-pruned READ path (SURVEY.md §4 "partition pruning").
  *
  * The driver-provided layout is one flat parquet file per table, which a
  * real 100-TB deployment would never use: the first thing such a
  * deployment does is land facts DATE-PARTITIONED so date-bounded queries
  * list and scan only the matching partition directories. This module
  * demonstrates that path end-to-end ON the driver's own data: a one-time
  * prep step lands `events` partitioned by event_date under the JVM temp
  * dir (hive-style `event_date=YYYY-MM-DD/` directories — the layout
  * `spark.write.partitionBy` and every catalog format agree on), and the
  * query reads it back with a date predicate that Catalyst turns into
  * PartitionFilters: 3 of 30 directories listed, 27 never opened —
  * asserted as a plan invariant in PlanSpec.
  *
  * Scale: the prep write is a linear one-pass re-land (exactly the
  * ingestion job a deployment runs once); the read side's pruning cost is
  * O(matching partitions), independent of table size — this is THE
  * mechanism that keeps date-bounded queries constant-time as the table
  * grows. The partitioned copy is immutable once landed (same contract as
  * the Tables relation cache: driver testdata never changes mid-session);
  * a _SUCCESS marker makes the prep idempotent across sessions and JVMs.
  */
object Partitioned {
  private val prepared =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Drop the in-JVM memo so a test can simulate a fresh JVM observing a
    * regenerated source (the cross-JVM staleness path srcStamp guards). */
  private[graft] def resetMemoForTest(): Unit = prepared.clear()

  /** Fingerprint of the source parquet (size + mtime, recursing into a
    * directory-shaped table): part of the landing path, so a REGENERATED
    * events.parquet at the same dir lands a fresh partitioned copy instead
    * of silently serving the previous JVM's stale _SUCCESS-gated one.
    */
  private def srcStamp(dir: String): String =
    Tables.srcStamp(new java.io.File(dir, "events.parquet"))

  /** Land (once) and return the date-partitioned events copy for sfDir. */
  private[graft] def eventsByDay(spark: SparkSession, dir: String): String =
    prepared.getOrElseUpdate(dir, {
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_part_$safe/events_by_day_${srcStamp(dir)}")
      Tables.publishOnce(out) { tmp =>
        Tables.events(spark, dir)
          .withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date")
          .parquet(tmp.getAbsolutePath)
      }
    })

  /** events_pruned — per-day per-type traffic for a 3-day window, read
    * from the date-partitioned landing copy so the scan lists only the 3
    * matching `event_date=` directories (PartitionFilters non-empty,
    * PartitionCount 3/30 — see PlanSpec).
    */
  def eventsPruned(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(eventsByDay(spark, dir))
      .filter(col("event_date")
        .between(lit("2024-01-10"), lit("2024-01-12")))
      .groupBy(col("event_date"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .select(fmtDate(col("event_date")).as("event_date"),
        col("event_type"), col("n_events"), col("n_users"),
        col("total_value"))
      .orderBy(col("event_date"), col("event_type"))

  /** Oracle over the FLAT events view (DuckDB has no partitioned copy —
    * the whole point is that pruning changes the plan, not the answer). */
  val eventsPrunedSql: String =
    s"""SELECT ${sqlFmtDate("CAST(ts AS DATE)")} AS event_date, event_type,
       |  COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  ${sqlDsum("value")} AS total_value
       |FROM events
       |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
       |GROUP BY 1, 2 ORDER BY event_date, event_type""".stripMargin

  /** events_dpp — DYNAMIC partition pruning: events_pruned's static
    * predicate is known at plan time, but here the days to read are the
    * answer to another query — the top-3 error-spike days, computed from
    * the flat events table at RUNTIME. Catalyst plans a
    * DynamicPruningSubquery on the partitioned scan's `event_date`: the
    * dim side's broadcast result filters the partition listing before any
    * fact file is opened (PartitionFilters: [dynamicpruning#...] — pinned
    * in PlanSpec).
    *
    * Scale: DPP is the star-schema workhorse at 100 TB — "scan only the
    * days the filtered dim selects" without the user hand-propagating
    * dates into the fact predicate. The spike dim is a filtered aggregate
    * (Filter → Aggregate → top-3), small by construction, broadcast; the
    * fact side lists O(matching partitions) directories.
    */
  def eventsDpp(spark: SparkSession, dir: String): DataFrame = {
    val spikeDays = Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("n_err"))
      .orderBy(col("n_err").desc, col("event_date")).limit(3)
    spark.read.parquet(eventsByDay(spark, dir))
      .join(broadcast(spikeDays), Seq("event_date"))
      .groupBy(col("event_date"))
      .agg(
        min(col("n_err")).as("n_err"),
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .select(fmtDate(col("event_date")).as("event_date"), col("n_err"),
        col("n_events"), col("n_users"), col("total_value"))
      .orderBy(col("event_date"))
  }

  /** Oracle over the flat view (as events_pruned: pruning changes the
    * plan, not the answer). */
  val eventsDppSql: String =
    s"""WITH spike AS (
       |  SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n_err
       |  FROM events WHERE event_type = 'error'
       |  GROUP BY 1 ORDER BY n_err DESC, event_date LIMIT 3)
       |SELECT ${sqlFmtDate("s.event_date")} AS event_date,
       |  s.n_err AS n_err,
       |  COUNT(*) AS n_events,
       |  COUNT(DISTINCT e.user_id) AS n_users,
       |  ${sqlDsum("e.value")} AS total_value
       |FROM events e JOIN spike s ON CAST(e.ts AS DATE) = s.event_date
       |GROUP BY s.event_date, s.n_err ORDER BY event_date""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("events_pruned", eventsPruned, eventsPrunedSql),
    Query("events_dpp", eventsDpp, eventsDppSql))
}
