package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det._

/** Multi-format source parity (SURVEY.md §2.1 S11/S12): the same logical
  * table served from ORC and from CSV-with-quarantine, proving the engine
  * is not parquet-coupled — every operator downstream of `Tables` works
  * unchanged over any columnar/text source Spark can scan, with the same
  * pushdown behavior (PlanSpec pins PushedFilters on the ORC scan).
  *
  * Both landings follow the `Partitioned.eventsByDay` idiom: written once
  * per (source fingerprint) under java.io.tmpdir, _SUCCESS-gated, keyed on
  * the source parquet's size+mtime so a regenerated input invalidates the
  * copy. The ORACLE reads the original parquet-backed view — format parity
  * means the answer cannot depend on the physical source.
  */
object Formats {
  // Keyed on (dir, fmt, srcStamp): the stamp in the key — not just the
  // landing path — means a source regenerated MID-PROCESS still lands
  // fresh; without it the memo would pin the first stamp for the JVM's
  // lifetime and the advertised size+mtime invalidation would be
  // cross-JVM only.
  private val prepared =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), String]

  private def srcStamp(dir: String): String =
    Tables.srcStamp(new java.io.File(dir, "events.parquet"))

  private def land(spark: SparkSession, dir: String, fmt: String)(
      write: (DataFrame, String) => Unit): String =
    prepared.getOrElseUpdate((dir, fmt, srcStamp(dir)), {
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_fmt_$safe/events_${fmt}_${srcStamp(dir)}")
      Tables.publishOnce(out) { tmp =>
        write(Tables.events(spark, dir), tmp.getAbsolutePath)
      }
    })

  /** events_orc (S11) — the ORC read path: identical aggregation over an
    * ORC landing of the events table. Spark's native vectorized ORC
    * reader gets the same filter pushdown and column pruning as parquet
    * (plan-pinned); the oracle runs on the original parquet view, so the
    * hash-match IS the format-parity proof.
    */
  def eventsOrc(spark: SparkSession, dir: String): DataFrame = {
    val path = land(spark, dir, "orc") { (df, out) =>
      df.write.mode("overwrite").orc(out)
    }
    spark.read.orc(path)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .select(fmtDate(col("d")).as("day"), col("event_type"),
        col("n_events"), col("n_users"), col("total_value"))
      .orderBy(col("day"), col("event_type"))
  }

  val eventsOrcSql: String =
    s"""SELECT ${sqlFmtDate("CAST(ts AS DATE)")} AS day, event_type,
       |  COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  ${sqlDsum("value")} AS total_value
       |FROM events
       |WHERE event_type IN ('click', 'purchase')
       |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** events_csv_quarantine (S12) — text-format ingestion with a
    * malformed-row quarantine, the CSV sibling of `json_malformed`: the
    * landing deterministically corrupts every 500th event (event_id
    * replaced by an unparseable token — the classic upstream-export rot),
    * the PERMISSIVE reader parks those rows in `_corrupt` instead of
    * failing the job, and the report carries clean per-type aggregates
    * PLUS the quarantine count — nothing silently dropped. The oracle
    * recomputes both sides from the parquet truth (corrupt ⟺
    * event_id % 500 = 0), so the hash-match proves the CSV round-trip
    * (timestamps to the microsecond via min/max) AND the quarantine
    * accounting.
    *
    * props stays out of the CSV landing: JSON-in-CSV needs full quoting
    * semantics, which `json_malformed` already covers on the JSON side.
    */
  def eventsCsvQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val path = land(spark, dir, "csv") { (df, out) =>
      // concat + per-field coalesce-to-empty, NOT concat_ws: concat_ws
      // silently SKIPS null arguments, so a null field would drop its
      // delimiter and shift every later column — the row then parses
      // cleanly with wrong alignment instead of landing in quarantine.
      // With coalesce, a null field becomes an empty cell and the column
      // grid stays intact. (Fixture events are currently null-free, so
      // this is a guard, not a behavior change.)
      def cell(c: org.apache.spark.sql.Column) =
        coalesce(c.cast("string"), lit(""))
      val csvLine = concat(
        cell(col("event_id")), lit(","),
        cell(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")), lit(","),
        cell(col("user_id")), lit(","),
        cell(col("event_type")), lit(","),
        cell(col("value")))
      val corruptLine = concat(lit("CORRUPT#"), col("event_id"), lit(",x"))
      df.select(
          when(col("event_id") % 500 === 0, corruptLine)
            .otherwise(csvLine).as("value"))
        .write.mode("overwrite").text(out)
    }
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, _corrupt STRING"
    val raw = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(path)
    // ONE conditional grouping instead of a clean/corrupt union: corrupt
    // rows route to the '_quarantined' group (their data columns are null,
    // so the clean aggregates are untouched), and the final projection
    // nulls the metrics that are meaningless for the quarantine row. One
    // scan, one shuffle — and it sidesteps Spark's restriction on plans
    // that reference ONLY the corrupt-record column.
    raw.groupBy(
        when(col("_corrupt").isNotNull, lit("_quarantined"))
          .otherwise(col("event_type")).as("kind"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("nu"),
        dsum(col("value")).as("tv"),
        fmtTs(min(col("ts"))).as("ft"),
        fmtTs(max(col("ts"))).as("lt"))
      .select(col("kind"), col("n_rows"),
        when(col("kind") === "_quarantined", lit(null).cast("long"))
          .otherwise(col("nu")).as("n_users"),
        when(col("kind") === "_quarantined", lit(null).cast("double"))
          .otherwise(col("tv")).as("total_value"),
        when(col("kind") === "_quarantined", lit(null).cast("string"))
          .otherwise(col("ft")).as("first_ts"),
        when(col("kind") === "_quarantined", lit(null).cast("string"))
          .otherwise(col("lt")).as("last_ts"))
      .orderBy(col("kind"))
  }

  val eventsCsvQuarantineSql: String =
    s"""SELECT event_type AS kind, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  ${sqlDsum("value")} AS total_value,
       |  ${sqlFmtTs("MIN(ts)")} AS first_ts,
       |  ${sqlFmtTs("MAX(ts)")} AS last_ts
       |FROM events WHERE event_id % 500 <> 0
       |GROUP BY event_type
       |UNION ALL
       |SELECT '_quarantined', COUNT(*),
       |  NULL, NULL, NULL, NULL
       |FROM events WHERE event_id % 500 = 0
       |ORDER BY kind""".stripMargin

  /** events_schema_merge (S13) — parquet schema EVOLUTION ON READ: the
    * landing splits events across two writer generations (the "old
    * writer" — even event_ids — never had a `value` column; the "new
    * writer" does), and `mergeSchema=true` reconciles the footers into
    * one superset schema with NULLs where the old files have no column —
    * the lakehouse reality after any additive schema change. The report
    * proves the reconciliation: per type, how many rows carry the new
    * column and the exact sum over exactly those rows. The oracle
    * recomputes from the flat parquet truth with the same
    * writer-generation rule (value present ⟺ odd event_id), so the
    * hash-match pins both the merge AND the null accounting.
    *
    * json_evolution covers evolution inside a VALUE (decode-level); this
    * covers evolution of the FILE SCHEMA itself — different capability,
    * different failure mode (a non-merged read would either drop the
    * column or fail on the old files).
    */
  def eventsSchemaMerge(spark: SparkSession, dir: String): DataFrame = {
    val path = land(spark, dir, "mergegen") { (df, out) =>
      df.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$out/old")
      df.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").parquet(s"$out/new")
      new java.io.File(out, "_SUCCESS").createNewFile()
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$path/old", s"$path/new")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("value")).as("n_with_value"),
        dsum(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  val eventsSchemaMergeSql: String =
    s"""SELECT event_type, COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_with_value,
       |  ${sqlDsum("CASE WHEN event_id % 2 <> 0 THEN value END")}
       |    AS total_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("events_orc", eventsOrc, eventsOrcSql),
    Query("events_csv_quarantine", eventsCsvQuarantine, eventsCsvQuarantineSql),
    Query("events_schema_merge", eventsSchemaMerge, eventsSchemaMergeSql))
}
