package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det._

/** Window functions: ranking, analytic lag/lead, running frames, top-k per
  * group (SURVEY.md §2.5 W1-W4).
  *
  * Scale notes (100 TB): window partitions shuffle once on the PARTITION BY
  * key then sort within partitions — fine as long as no single key is huge
  * (user_id / nation / brand cardinalities are safe). Every window ORDER BY
  * carries a unique tiebreaker so results are deterministic under any
  * task-level ordering.
  */
object Windows {

  /** window_rank — row_number / rank / dense_rank / ntile over per-nation
    * account balances.
    */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    c.select(
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy(col("c_nationkey"), col("rn"))
  }

  val windowRankSql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal,
      |  CAST(row_number() OVER w AS BIGINT) AS rn,
      |  CAST(rank() OVER w AS BIGINT) AS rk,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_nationkey, rn""".stripMargin

  /** window_lag_gap — lag/lead across per-user event sequences; gap in
    * exact epoch microseconds (identical longs in both engines).
    */
  def windowLagGap(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.select(
        col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts_s"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val windowLagGapSql: String =
    s"""SELECT event_id, user_id, ${sqlFmtTs("ts")} AS ts_s,
       |  epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us,
       |  lag(event_type, 1) OVER w AS prev_type,
       |  lead(event_type, 1) OVER w AS next_type
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, event_id""".stripMargin

  /** window_running — running exact fixed-point sum + 4-row moving average
    * per user (ROWS frames).
    */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov = ord.rowsBetween(-3, Window.currentRow)
    e.select(
        col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts_s"), col("value"),
        // single-level fixed-point window sum: one user's history is
        // bounded, so the unsplit i64 never nears 2^63 (see Det)
        (sum(scaledLong(col("value"), 100)).over(run).cast("double") / 100)
          .as("running_value"),
        (sum(scaledLong(col("value"), 100)).over(mov).cast("double") / 100 /
          count(lit(1)).over(mov)).as("moving_avg4"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val windowRunningSql: String =
    s"""SELECT event_id, user_id, ${sqlFmtTs("ts")} AS ts_s, value,
       |  (CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER run AS DOUBLE) / 100)
       |    AS running_value,
       |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER mov AS DOUBLE) / 100
       |    / COUNT(*) OVER mov AS moving_avg4
       |FROM events
       |WINDOW run AS (PARTITION BY user_id ORDER BY ts, event_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |       mov AS (PARTITION BY user_id ORDER BY ts, event_id
       |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, event_id""".stripMargin

  /** topk_per_group — top-3 parts by retail price per brand via row_number
    * filter (the scalable top-k: shuffle on group key, no global sort).
    */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    p.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
      .orderBy(col("p_brand"), col("rn"))
  }

  val topkPerGroupSql: String =
    """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |    CAST(row_number() OVER (PARTITION BY p_brand
      |      ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rn
      |  FROM part) t
      |WHERE rn <= 3
      |ORDER BY p_brand, rn""".stripMargin

  /** window_range_frame — time-based RANGE frame (W3's second half): the
    * trailing-1-hour event count and value sum per user, ordered by event
    * time. Spark range frames need a numeric ordering column, so both
    * engines order by epoch seconds and bound the frame at -3600 — the
    * engine-portable formulation of `RANGE INTERVAL 1 HOUR PRECEDING`.
    */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("ts_sec", unix_timestamp(col("ts")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
      .rangeBetween(-3600L, Window.currentRow)
    e.select(
        col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts_s"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        (sum(scaledLong(col("value"), 100)).over(w).cast("double") / 100)
          .as("value_trailing_1h"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val windowRangeFrameSql: String =
    s"""SELECT event_id, user_id, ${sqlFmtTs("ts")} AS ts_s,
       |  COUNT(*) OVER w AS n_trailing_1h,
       |  (CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100)
       |    AS value_trailing_1h
       |FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
       |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, event_id""".stripMargin

  /** window_dist — the distribution/navigation window family:
    * percent_rank, cume_dist, ntile quartiles, first/last/nth value over
    * an explicit full-partition frame (last_value under the default frame
    * is a classic wrong-answer trap — the running row, not the partition
    * max). All ratios are exact integer-derived divisions, engine-identical.
    */
  def windowDist(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    val ord = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal"), col("s_suppkey"))
    val full = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    s.select(
        col("s_nationkey").cast("long").as("nation"),
        col("s_suppkey"), col("s_acctbal"),
        percent_rank().over(ord).as("pct_rank"),
        cume_dist().over(ord).as("cume"),
        ntile(4).over(ord).cast("long").as("quartile"),
        first_value(col("s_suppkey")).over(full).as("poorest_supp"),
        last_value(col("s_suppkey")).over(full).as("richest_supp"),
        nth_value(col("s_suppkey"), 2).over(full).as("second_supp"))
      .orderBy(col("nation"), col("s_suppkey"))
  }

  val windowDistSql: String =
    """SELECT CAST(s_nationkey AS BIGINT) AS nation, s_suppkey, s_acctbal,
      |  percent_rank() OVER ord AS pct_rank,
      |  cume_dist() OVER ord AS cume,
      |  CAST(ntile(4) OVER ord AS BIGINT) AS quartile,
      |  first_value(s_suppkey) OVER wfull AS poorest_supp,
      |  last_value(s_suppkey) OVER wfull AS richest_supp,
      |  nth_value(s_suppkey, 2) OVER wfull AS second_supp
      |FROM supplier
      |WINDOW ord AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey),
      |       wfull AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
      |                ROWS BETWEEN UNBOUNDED PRECEDING
      |                         AND UNBOUNDED FOLLOWING)
      |ORDER BY nation, s_suppkey""".stripMargin

  /** topk_native — the SAME top-3-per-brand result computed by the
    * engine's native whole-operator extension (graft.plans.TopK: custom
    * LogicalPlan + Strategy + two-phase bounded-heap SparkPlan) instead of
    * the window composition. Shares topk_per_group's oracle: identical
    * output is exactly the point — the operator replaces a full
    * per-partition sort with O(groups·k) heaps and a k-bounded shuffle.
    */
  def topkNative(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    graft.plans.TopK.topKPerGroup(p,
        Seq("p_brand"),
        Seq(("p_retailprice", true), ("p_partkey", false)), 3)
      .select(col("p_brand"), col("rn"), col("p_partkey"),
        col("p_retailprice"))
      .orderBy(col("p_brand"), col("rn"))
  }

  /** window_ntile (W15) — equal-height decile segmentation per event
    * type: ntile(10) over the per-type (value, id) total order, rolled up
    * to one row per (type, decile) with population and exact cents
    * bounds. ntile's remainder rule (SQL standard: first `n mod 10`
    * buckets get the extra row) is engine-identical given the total
    * order, so the decile boundaries hash-match. This is the
    * "score-band" segmentation every campaign/risk readout uses; the
    * rollup keeps the compared payload domain-sized.
    *
    * Scale: one per-type window pass (the partition IS the sort unit) +
    * a (type, decile) mergeable rollup. Where the full sort would hurt at
    * 100 TB, the RFM/histogram idiom (value-domain cumulative) replaces
    * it — pinned by events_rfm; this row pins the ntile SEMANTICS.
    */
  def windowNtile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        graft.functions.Det.scaledLong(col("value"), 100L).as("cents"))
      .filter(col("cents").isNotNull)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    e.withColumn("decile", ntile(10).over(w))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        bit_xor(col("event_id")).as("id_xor"))
      .select(col("event_type"), col("decile").cast("long").as("decile"),
        col("n_rows"), col("min_cents"), col("max_cents"), col("id_xor"))
      .orderBy(col("event_type"), col("decile"))
  }

  val windowNtileSql: String =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |d AS (SELECT *, ntile(10) OVER (PARTITION BY event_type
      |    ORDER BY cents, event_id) AS decile FROM e)
      |SELECT event_type, CAST(decile AS BIGINT) AS decile,
      |  COUNT(*) AS n_rows,
      |  CAST(MIN(cents) AS BIGINT) AS min_cents,
      |  CAST(MAX(cents) AS BIGINT) AS max_cents,
      |  CAST(bit_xor(event_id) AS BIGINT) AS id_xor
      |FROM d GROUP BY event_type, decile
      |ORDER BY event_type, decile""".stripMargin

  /** window_first_last (W16) — the boundary-value window family:
    * first_value / last_value / nth_value over the FULL partition frame
    * (ROWS UNBOUNDED PRECEDING → UNBOUNDED FOLLOWING) per customer's
    * order history — "first order date, latest order price, second-ever
    * order" is the classic customer-lifecycle projection. The default
    * frame trap: last_value under the SQL default frame (… AND CURRENT
    * ROW) returns the current row, not the partition max — both engines
    * here pin the explicit full frame, and the ORDER BY carries the
    * unique o_orderkey tiebreak so boundary rows are engine-identical.
    *
    * Scale: one window pass partitioned by custkey (millions of
    * independent partitions — no global sort); the % 17 sample bounds the
    * compared payload, not the plan shape.
    */
  def windowFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_custkey") % 17 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        graft.functions.Det.scaledLong(col("o_totalprice"), 100L)
          .as("cents"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.select(col("o_custkey"), col("o_orderkey"),
        fmtDate(first(col("o_orderdate")).over(w)).as("first_date"),
        last(col("cents")).over(w).as("last_cents"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"),
        count(lit(1)).over(w).as("n_orders"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowFirstLastSql: String =
    """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_custkey % 17 = 0)
      |SELECT o_custkey, o_orderkey,
      |  strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d')
      |    AS first_date,
      |  last_value(cents) OVER w AS last_cents,
      |  nth_value(o_orderkey, 2) OVER w AS second_key,
      |  count(*) OVER w AS n_orders
      |FROM o
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("window_first_last", windowFirstLast, windowFirstLastSql),
    Query("window_ntile", windowNtile, windowNtileSql),
    Query("window_dist", windowDist, windowDistSql),
    Query("window_rank", windowRank, windowRankSql),
    Query("window_lag_gap", windowLagGap, windowLagGapSql),
    Query("window_running", windowRunning, windowRunningSql),
    Query("window_range_frame", windowRangeFrame, windowRangeFrameSql),
    Query("topk_per_group", topkPerGroup, topkPerGroupSql),
    Query("topk_native", topkNative, topkPerGroupSql))
}
