package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det.{fmtTs, sqlFmtTs}

/** Data-quality constraint audit over the fact tables (SURVEY.md §2 row
  * Q1) — the Deequ/"unit tests for data" idiom every production pipeline
  * runs before publishing a batch: completeness, key uniqueness, value
  * bounds, and referential integrity, each reported as a (check, metric,
  * passed) row.
  *
  * Engine shape: ALL constraints — including referential integrity —
  * collapse into ONE scan of lineitem: the fact LEFT-joins the pruned
  * orders key column (probe side of a broadcast/shuffled hash join, no
  * second fact pass), a NULL build row marks an orphan, and one hash
  * aggregate emits the 1-row metric struct (adding a constraint adds a
  * column to that row, never a pass over the data), unpivoted via `stack`
  * into the report. The round-6 shape paid a SECOND fact scan for a
  * LEFT ANTI orphan count plus a cross-join assembly; folding the FK
  * check into the main aggregate halved the jobs (1.03 s → see
  * bench_detail) and cut the plan to a single FileScan of lineitem.
  *
  * Scale (100 TB): every constraint — including PK uniqueness, packed
  * into bitmap words (see dqAudit) — is an associatively-combining
  * partial, so the only wide exchange carries |pk domain|/64 word rows
  * and the final reduce sees word-count rows, not data rows. The FK
  * probe joins the same pruned key column any fact⋈dim query pays —
  * broadcast while the dim key set fits, AQE's shuffled hash join
  * beyond that — and the join preserves cardinality (o_orderkey
  * unique), so every other metric is unchanged by the fold.
  */
object Quality {

  /** dq_audit — seven constraints over lineitem (+ orders for the FK):
    * non-null shipdate, (orderkey, linenumber) primary-key uniqueness,
    * quantity bounds, discount domain, non-empty table, and FK
    * lineitem.l_orderkey → orders.o_orderkey.
    */
  def dqAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // LEFT join against the pruned key column: o_orderkey is unique, so
    // the join is cardinality-preserving and every non-FK metric computes
    // exactly as it would over bare lineitem; a NULL o_orderkey marks an
    // orphan, folding the referential check into the same single scan
    val keyed = li.join(
      Tables.orders(spark, dir).select(col("o_orderkey")),
      col("l_orderkey") === col("o_orderkey"), "left")
    // PK uniqueness via the packed-bitmap distinct idiom (A7): the
    // composite key packs densely — l_linenumber ∈ [1,7] by the TPC-H
    // spec, so pk = l_orderkey*8 + l_linenumber is injective — and a
    // first aggregate keyed on pk >> 6 bit_ORs 64-key words while every
    // OTHER metric folds associatively through the same stage (each is a
    // sum/min/max/count). What crosses the wires is |pk domain|/64 word
    // rows instead of the raw 2-column distinct pair stream the previous
    // countDistinct shuffled; a sparse composite key would swap in a
    // roaring bitmap behind the same two-level algebra.
    keyed
      .groupBy(expr("(l_orderkey * 8 + l_linenumber) >> 6").as("pk_word"))
      .agg(
        expr("bit_or(shiftleft(1L, cast((l_orderkey * 8 + l_linenumber) & 63 as int)))")
          .as("bits"),
        count(lit(1)).as("p_rows"),
        count(col("l_shipdate")).as("p_shipdate"),
        min(col("l_quantity")).as("p_min_qty"),
        max(col("l_quantity")).as("p_max_qty"),
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("p_disc_viol"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("p_fk_viol"),
        max(col("l_linenumber")).as("p_max_ln"))
      .agg(
        sum(col("p_rows")).as("n_rows"),
        sum(col("p_shipdate")).as("n_shipdate"),
        sum(bit_count(col("bits"))).cast("long").as("n_pk"),
        min(col("p_min_qty")).as("min_qty"),
        max(col("p_max_qty")).as("max_qty"),
        sum(col("p_disc_viol")).as("disc_viol"),
        sum(col("p_fk_viol")).as("fk_viol"),
        max(col("p_max_ln")).as("max_ln"))
      // injectivity guard on the packed pk (ADVICE r7): the packing is
      // only injective while l_linenumber ∈ [0,7]; driver testdata has
      // drifted between rounds before, and a silent collision would
      // corrupt n_pk. assert_true makes a bound violation FAIL LOUDLY;
      // it is folded INTO n_pk (null when passing) so pruning can't drop
      // it, and rides the same single scan (one extra max per word).
      .select(
        col("n_rows"), col("n_shipdate"),
        (col("n_pk") + coalesce(expr(
          "assert_true(max_ln <= 7, " +
            "'dq_audit: l_linenumber > 7 breaks packed-pk injectivity — " +
            "switch uniqueness_pk to the countDistinct plan')"),
          lit(0L))).as("n_pk"),
        col("min_qty"), col("max_qty"), col("disc_viol"), col("fk_viol"))
      .select(expr(
        """stack(7,
          |  'completeness_shipdate', CAST(n_shipdate AS DOUBLE) / n_rows,
          |    n_shipdate = n_rows,
          |  'discount_in_range', CAST(disc_viol AS DOUBLE), disc_viol = 0,
          |  'fk_lineitem_orders', CAST(fk_viol AS DOUBLE), fk_viol = 0,
          |  'quantity_max_le_50', max_qty, max_qty <= 50.0,
          |  'quantity_min_ge_1', min_qty, min_qty >= 1.0,
          |  'size_nonempty', CAST(n_rows AS DOUBLE), n_rows > 0,
          |  'uniqueness_pk', CAST(n_pk AS DOUBLE) / n_rows, n_pk = n_rows
          |) AS (chk, metric, passed)""".stripMargin))
      .orderBy(col("chk"))
  }

  val dqAuditSql: String =
    """WITH m AS (
      |  SELECT count(*) AS n_rows,
      |    count(l_shipdate) AS n_shipdate,
      |    count(DISTINCT (l_orderkey, l_linenumber)) AS n_pk,
      |    min(l_quantity) AS min_qty,
      |    max(l_quantity) AS max_qty,
      |    SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
      |        THEN 1 ELSE 0 END) AS disc_viol
      |  FROM lineitem),
      |fk AS (
      |  SELECT count(*) AS fk_viol FROM lineitem l
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |SELECT chk, metric, passed FROM (
      |  SELECT 'completeness_shipdate' AS chk,
      |    CAST(n_shipdate AS DOUBLE) / n_rows AS metric,
      |    n_shipdate = n_rows AS passed FROM m
      |  UNION ALL SELECT 'discount_in_range', CAST(disc_viol AS DOUBLE),
      |    disc_viol = 0 FROM m
      |  UNION ALL SELECT 'fk_lineitem_orders', CAST(fk_viol AS DOUBLE),
      |    fk_viol = 0 FROM fk
      |  UNION ALL SELECT 'quantity_max_le_50', max_qty,
      |    max_qty <= 50.0 FROM m
      |  UNION ALL SELECT 'quantity_min_ge_1', min_qty,
      |    min_qty >= 1.0 FROM m
      |  UNION ALL SELECT 'size_nonempty', CAST(n_rows AS DOUBLE),
      |    n_rows > 0 FROM m
      |  UNION ALL SELECT 'uniqueness_pk', CAST(n_pk AS DOUBLE) / n_rows,
      |    n_pk = n_rows FROM m)
      |ORDER BY chk""".stripMargin

  /** dq_profile (Q2) — batched column profiling (the Deequ/Great
    * Expectations profiler sibling of dq_audit): for each profiled orders
    * column, row count, distinct count, mode (most frequent value, ties
    * broken by value) and numeric min/max — ALL columns in one unpivot +
    * two aggregation levels, not one job per column.
    *
    * Engine shape: `stack` unpivots k columns map-side (k× rows, no
    * shuffle), ONE (column, value) hash aggregate collapses to the
    * distinct-value histogram, a per-column window picks the mode on the
    * (already tiny) histogram, and a final per-column aggregate folds
    * counts/min/max. Adding a profiled column extends the stack literal —
    * the pass structure is k-independent, which is what keeps profiling
    * 1000-column tables at 100 TB to two shuffles of histogram-sized
    * data.
    */
  def dqProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val u = o.select(expr(
      """stack(3,
        |  'o_custkey', CAST(o_custkey AS STRING), CAST(o_custkey AS DOUBLE),
        |  'o_orderpriority', o_orderpriority, CAST(NULL AS DOUBLE),
        |  'o_orderstatus', o_orderstatus, CAST(NULL AS DOUBLE)
        |) AS (colname, sval, nval)""".stripMargin))
    val g = u.groupBy(col("colname"), col("sval"))
      .agg(count(lit(1)).as("cnt"),
        min(col("nval")).as("mn"), max(col("nval")).as("mx"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("colname")).orderBy(col("cnt").desc, col("sval"))
    g.withColumn("rn", row_number().over(w))
      .groupBy(col("colname"))
      .agg(
        sum(col("cnt")).cast("long").as("n_rows"),
        count(lit(1)).as("n_distinct"),
        max(when(col("rn") === 1, col("sval"))).as("top_value"),
        max(when(col("rn") === 1, col("cnt"))).as("top_count"),
        min(col("mn")).as("min_num"),
        max(col("mx")).as("max_num"))
      .orderBy(col("colname"))
  }

  val dqProfileSql: String =
    """WITH u AS (
      |  SELECT 'o_custkey' AS colname, CAST(o_custkey AS VARCHAR) AS sval,
      |    CAST(o_custkey AS DOUBLE) AS nval FROM orders
      |  UNION ALL SELECT 'o_orderpriority', o_orderpriority, NULL FROM orders
      |  UNION ALL SELECT 'o_orderstatus', o_orderstatus, NULL FROM orders),
      |g AS (
      |  SELECT colname, sval, count(*) AS cnt, min(nval) AS mn,
      |    max(nval) AS mx
      |  FROM u GROUP BY colname, sval),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY colname ORDER BY cnt DESC, sval) AS rn
      |  FROM g)
      |SELECT colname,
      |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  max(CASE WHEN rn = 1 THEN sval END) AS top_value,
      |  CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_count,
      |  min(mn) AS min_num,
      |  max(mx) AS max_num
      |FROM r GROUP BY colname ORDER BY colname""".stripMargin

  /** events_lateness_profile (Q3) — the WATERMARK-TUNING audit: how
    * out-of-order is the stream, per disorder budget? For each event,
    * lateness = (max event-time among ALREADY-ARRIVED events of the same
    * key) − (its own event time) — exactly the quantity a Structured
    * Streaming watermark bounds. The profile buckets lateness into
    * candidate watermark budgets and reports how many events a watermark
    * of each size would have saved vs dropped — the measurement that
    * turns ST4's watermark from a guess into a sized decision
    * (drop-rate SLO ⇒ smallest sufficient budget).
    *
    * The testdata's event_ids follow event time (a perfectly ordered
    * log profiles trivially in-order), so ARRIVAL order is modeled as a
    * deterministic hash scramble of the id — the disorder a consumer
    * sees replaying an unordered multi-partition log, which is the
    * worst-case a watermark must be sized for. Swap the hash for the
    * real arrival column (offset, ingest ts) where one exists.
    *
    * Shape: one per-key window pass (running max over the preceding
    * frame, exclusive of the current row), one bucket aggregate. Exact
    * integer microseconds; shares in integer ppm (BIGINT floor div).
    */
  def eventsLatenessProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(md5(col("event_id").cast("string")), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // first-arrival rows have an empty preceding frame → null running max;
    // coalesce AFTER the subtraction (a MinValue sentinel would wrap on
    // subtract — silent in Spark, an overflow error in DuckDB)
    val lateUs = greatest(lit(0L), coalesce(
      max(unix_micros(col("ts"))).over(w) - unix_micros(col("ts")), lit(0L)))
    val tot = e.count()
    e.withColumn("late_us", lateUs)
      .withColumn("bucket",
        when(col("late_us") === 0L, "0_in_order")
          .when(col("late_us") <= 60L * 1000000L, "1_within_1min")
          .when(col("late_us") <= 300L * 1000000L, "2_within_5min")
          .when(col("late_us") <= 900L * 1000000L, "3_within_15min")
          .otherwise("4_beyond_15min"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        max(col("late_us")).cast("long").as("max_lateness_us"))
      .select(col("bucket"), col("n_events"),
        expr(s"n_events * 1000000 div $tot").as("share_ppm"),
        col("max_lateness_us"))
      .orderBy(col("bucket"))
  }

  val eventsLatenessProfileSql: String =
    """WITH l AS (
      |  SELECT event_id, user_id, ts,
      |    greatest(0, coalesce(epoch_us(max(ts) OVER (
      |      PARTITION BY user_id
      |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |      - epoch_us(ts), 0)) AS late_us
      |  FROM events),
      |b AS (
      |  SELECT CASE
      |    WHEN late_us = 0 THEN '0_in_order'
      |    WHEN late_us <= 60000000 THEN '1_within_1min'
      |    WHEN late_us <= 300000000 THEN '2_within_5min'
      |    WHEN late_us <= 900000000 THEN '3_within_15min'
      |    ELSE '4_beyond_15min' END AS bucket, late_us
      |  FROM l),
      |t AS (SELECT COUNT(*) AS n FROM events)
      |SELECT bucket, COUNT(*) AS n_events,
      |  CAST(COUNT(*) * 1000000 // MAX(t.n) AS BIGINT) AS share_ppm,
      |  CAST(MAX(late_us) AS BIGINT) AS max_lateness_us
      |FROM b CROSS JOIN t
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** dq_drift (Q5) — DISTRIBUTION DRIFT detection between two periods,
    * the monitoring check every production pipeline runs before trusting
    * this week's data against last week's model/baseline: per event
    * type, the value distribution is histogrammed into 10 fixed-width
    * buckets for each half-month and compared with a chi-square-style
    * statistic computed ON PROPORTIONS-PPM, not raw counts —
    * Σ (p_b − q_b)² / max(q_b, 1) with p, q in parts-per-million. Two
    * engine-relevant choices: (a) proportions keep every intermediate
    * ≤ 1e12 regardless of data scale, where the textbook raw-count
    * chi-square squares 1e11-row counts into i64/decimal overflow at
    * 100 TB; (b) the statistic is pure integer floor arithmetic — no ln
    * (PSI) or float division, so both engines produce the identical
    * score bit-for-bit. The worst bucket rides the same aggregate as an
    * argmax via max(struct(term, b)) — single-pass, merge-safe.
    *
    * Scale: one scan → (type, bucket) counts (domain-sized); the bucket
    * grid is generated map-side; totals broadcast; the final rollup is
    * |types| rows. Empty-bucket handling is explicit (grid left-join,
    * q=0 ⇒ divisor 1) so a bucket appearing only in period B still
    * contributes its full drift term.
    */
  /** dq_ks_test (Q11) — two-sample KOLMOGOROV-SMIRNOV drift test on the
    * continuous value domain, the distribution-shape twin of Q5's
    * binned chi-square (chi-square sees density shifts within its 10
    * coarse buckets as noise; KS is binning-free — the max gap between
    * the two periods' EXACT empirical CDFs over every observed cents
    * value). Exact integer skeleton: per (type, cents) censuses of both
    * periods in ONE pass, cumulative windows walk the shared value
    * domain, and the gap is cross-multiplied (|cuma·nb − cumb·na|) so no
    * CDF ratio ever materializes; the reported statistic is integer
    * milli-D = gap·1000 div (na·nb). The 5% decision compares the SAME
    * exact integers through the identical IEEE double ops in both
    * engines (the cosine discipline): D > 1.358·√((na+nb)/(na·nb)).
    *
    * Scale: census bounded by the value domain per type (not rows); one
    * scan, one window partition per type, |types|-row report.
    */
  def dqKsTest(spark: SparkSession, dir: String): DataFrame = {
    val census = Tables.events(spark, dir)
      .select(col("event_type"),
        graft.functions.Det.scaledLong(col("value"), 100L).as("cents"),
        when(col("ts") < lit("2024-01-16").cast("timestamp"), 1L)
          .otherwise(0L).as("ia"))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(col("ia")).as("ca"),
        sum(lit(1L) - col("ia")).as("cb"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("event_type"))
    census
      .withColumn("cuma", sum(col("ca")).over(cum))
      .withColumn("cumb", sum(col("cb")).over(cum))
      .withColumn("na", sum(col("ca")).over(tot))
      .withColumn("nb", sum(col("cb")).over(tot))
      .withColumn("gap", abs(col("cuma") * col("nb") -
        col("cumb") * col("na")))
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("gap")).as("gap_x"),
        max(struct(col("gap"), (-col("cents")).as("nc")))
          .getField("nc").as("neg_worst"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        expr("gap_x * 1000 div (n_a * n_b)").as("ks_milli"),
        (-col("neg_worst")).as("worst_cents"),
        (col("gap_x").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")) >
          lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))))
          .as("drift_detected"))
      .orderBy(col("event_type"))
  }

  val dqKsTestSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
      |      END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1
      |      END) AS BIGINT) AS cb
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, cents,
      |    SUM(ca) OVER (PARTITION BY event_type ORDER BY cents) AS cuma,
      |    SUM(cb) OVER (PARTITION BY event_type ORDER BY cents) AS cumb,
      |    SUM(ca) OVER (PARTITION BY event_type) AS na,
      |    SUM(cb) OVER (PARTITION BY event_type) AS nb
      |  FROM c),
      |g AS (SELECT event_type, cents, na, nb,
      |    abs(cuma * nb - cumb * na) AS gap FROM w),
      |r AS (SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
      |    CAST(max(nb) AS BIGINT) AS n_b,
      |    CAST(max(gap) AS BIGINT) AS gap_x,
      |    CAST(max(struct_pack(g := gap, nc := -cents)).nc AS BIGINT)
      |      AS neg_worst
      |  FROM g GROUP BY 1)
      |SELECT event_type, n_a, n_b,
      |  CAST(gap_x * 1000 // (n_a * n_b) AS BIGINT) AS ks_milli,
      |  CAST(-neg_worst AS BIGINT) AS worst_cents,
      |  (CAST(gap_x AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS
      |    DOUBLE))) > 1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) /
      |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS drift_detected
      |FROM r ORDER BY 1""".stripMargin

  def dqDrift(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir).select(col("event_type"),
      least(floor(col("value") / 50).cast("long"), lit(9L)).as("b"),
      when(col("ts") < lit("2024-01-16").cast("timestamp"), "a")
        .otherwise(lit("b")).as("period"))
    val cnt = base.groupBy(col("event_type"), col("b")).agg(
      count(when(col("period") === "a", 1)).as("oa"),
      count(when(col("period") === "b", 1)).as("ob"))
    val grid = cnt.select(col("event_type")).distinct()
      .select(col("event_type"), explode(sequence(lit(0L), lit(9L))).as("b"))
    val full = grid.join(cnt, Seq("event_type", "b"), "left")
      .select(col("event_type"), col("b"),
        coalesce(col("oa"), lit(0L)).as("oa"),
        coalesce(col("ob"), lit(0L)).as("ob"))
    val tot = full.groupBy(col("event_type"))
      .agg(sum(col("oa")).as("na"), sum(col("ob")).as("nb"))
    full.join(broadcast(tot), Seq("event_type"))
      .withColumn("pa", expr("oa * 1000000 div na"))
      .withColumn("pb", expr("ob * 1000000 div nb"))
      .withColumn("term", expr("(pb - pa) * (pb - pa) div greatest(pa, 1)"))
      .groupBy(col("event_type"))
      .agg(max(col("na")).cast("long").as("n_a"),
        max(col("nb")).cast("long").as("n_b"),
        sum(col("term")).cast("long").as("drift_score"),
        max(struct(col("term"), col("b"))).getField("b").as("worst_bucket"))
      .orderBy(col("event_type"))
  }

  val dqDriftSql: String =
    """WITH base AS (SELECT event_type,
      |    least(CAST(floor(value / 50) AS BIGINT), 9) AS b,
      |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END
      |      AS period
      |  FROM events),
      |cnt AS (SELECT event_type, b,
      |    count(*) FILTER (period = 'a') AS oa,
      |    count(*) FILTER (period = 'b') AS ob
      |  FROM base GROUP BY event_type, b),
      |grid AS (SELECT event_type, unnest(range(0, 10)) AS b
      |  FROM (SELECT DISTINCT event_type FROM cnt)),
      |full_cnt AS (SELECT g.event_type, g.b,
      |    coalesce(c.oa, 0) AS oa, coalesce(c.ob, 0) AS ob
      |  FROM grid g LEFT JOIN cnt c
      |    ON c.event_type = g.event_type AND c.b = g.b),
      |tot AS (SELECT event_type, sum(oa) AS na, sum(ob) AS nb
      |  FROM full_cnt GROUP BY event_type),
      |terms AS (SELECT f.event_type, f.b, t.na, t.nb,
      |    (f.oa * 1000000 // t.na) AS pa,
      |    (f.ob * 1000000 // t.nb) AS pb
      |  FROM full_cnt f JOIN tot t ON t.event_type = f.event_type)
      |SELECT event_type,
      |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
      |  CAST(sum((pb - pa) * (pb - pa) // greatest(pa, 1)) AS BIGINT)
      |    AS drift_score,
      |  CAST(max(struct_pack(term := (pb - pa) * (pb - pa)
      |    // greatest(pa, 1), b := b)).b AS BIGINT) AS worst_bucket
      |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin

  /** dq_freshness (Q6) — per-stream FRESHNESS/VOLUME monitor (the
    * Monte-Carlo-style "did the pipeline stop?" check next to dq_drift's
    * distribution test): per event type, the last observed event, its
    * age in minutes against a fixed reference instant (a deployment
    * passes now(); fixed here for determinism — the repo-wide ban on
    * wall-clock in compared output), the final-24h volume against the
    * stream's mean daily volume in ppm, and two integer SLA verdicts
    * (stale = age > 120 min; volume anomaly = last day under half or
    * over double the mean). Every number is integer arithmetic on exact
    * epoch seconds and counts — both engines agree bit-for-bit.
    *
    * Scale: ONE scan → per-type mergeable aggregate (max ts, total, a
    * conditional last-24h count); day span derives from min/max ts. No
    * window, no second pass.
    */
  def dqFreshness(spark: SparkSession, dir: String): DataFrame = {
    val REF = "2024-02-01 00:00:00"
    val refS = unix_timestamp(lit(REF).cast("timestamp"))
    val e = Tables.events(spark, dir)
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts"),
        min(unix_timestamp(col("ts"))).as("first_s"),
        max(unix_timestamp(col("ts"))).as("last_s"),
        sum(when(unix_timestamp(col("ts")) >= refS - 86400L, 1L)
          .otherwise(0L)).as("n_last_day"))
      .withColumn("ref_s", refS)
      .select(col("event_type"), col("n_events"),
        fmtTs(col("last_ts")).as("last_seen"),
        expr("(ref_s - last_s) div 60").as("age_min"),
        col("n_last_day").cast("long").as("n_last_day"),
        expr("n_last_day * ((last_s - first_s) div 86400 + 1) * 1000000" +
          " div n_events").as("volume_ratio_ppm"))
      .withColumn("stale", col("age_min") > 120L)
      .withColumn("volume_anomaly",
        col("volume_ratio_ppm") < 500000L ||
          col("volume_ratio_ppm") > 2000000L)
      .orderBy(col("event_type"))
  }

  val dqFreshnessSql: String =
    s"""WITH a AS (SELECT event_type, count(*) AS n_events,
       |    max(ts) AS last_ts,
       |    min(CAST(epoch(ts) AS BIGINT)) AS first_s,
       |    max(CAST(epoch(ts) AS BIGINT)) AS last_s,
       |    sum(CASE WHEN CAST(epoch(ts) AS BIGINT) >=
       |        CAST(epoch(TIMESTAMP '2024-02-01 00:00:00') AS BIGINT) - 86400
       |      THEN 1 ELSE 0 END) AS n_last_day
       |  FROM events GROUP BY event_type)
       |SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
       |  ${sqlFmtTs("last_ts")} AS last_seen,
       |  (CAST(epoch(TIMESTAMP '2024-02-01 00:00:00') AS BIGINT) - last_s)
       |    // 60 AS age_min,
       |  CAST(n_last_day AS BIGINT) AS n_last_day,
       |  CAST(n_last_day * ((last_s - first_s) // 86400 + 1) * 1000000
       |    // n_events AS BIGINT) AS volume_ratio_ppm,
       |  (CAST(epoch(TIMESTAMP '2024-02-01 00:00:00') AS BIGINT) - last_s)
       |    // 60 > 120 AS stale,
       |  (n_last_day * ((last_s - first_s) // 86400 + 1) * 1000000
       |     // n_events < 500000
       |   OR n_last_day * ((last_s - first_s) // 86400 + 1) * 1000000
       |     // n_events > 2000000) AS volume_anomaly
       |FROM a ORDER BY event_type""".stripMargin

  /** dq_kanonymity (Q7) — k-anonymity audit over the customer PII table:
    * for the quasi-identifier (nation, market segment, account-balance
    * band), every row's equivalence class must hold at least k=5 rows or
    * a release of the table re-identifies individuals by QI intersection
    * (Sweeney's k-anonymity, the privacy gate next to S28's
    * right-to-be-forgotten audit). The audit walks a GENERALIZATION
    * LADDER — band widths 1000 → 2500 → 10000 — and reports, per level,
    * the class census (count, min/max k) and the suppression cost
    * (rows in classes with k<5, as exact integer ppm of the table):
    * the curve a privacy officer reads to pick the coarsest level that
    * meets policy.
    *
    * Engine shape: ONE scan; the three ladder levels expand map-side as
    * an explode of a 3-literal array (Expand, 3× rows, no extra scan),
    * then two mergeable keyed aggregates: class sizes on (level, QI),
    * and the domain-sized per-level rollup. Bands come from exact cents
    * i64 (scaledLong) with floor division, so both engines bin
    * identically including negative balances; the ppm is an integral
    * division both engines truncate.
    *
    * Scale (100 TB): class-size partials combine map-side; the wide
    * exchange carries |QI domain| rows per level, not data rows, and the
    * report is 3 rows. Adding a ladder level adds one array literal.
    */
  def dqKanonymity(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Det.scaledLong
    val c = Tables.customer(spark, dir)
    val cents = scaledLong(col("c_acctbal"), 100L)
    val leveled = c.select(
      col("c_nationkey"), col("c_mktsegment"),
      explode(array(Seq(1000L, 2500L, 10000L).map(wd =>
        struct(lit(wd).as("level"),
          floor(cents.cast("double") / lit(wd * 100).cast("double"))
            .cast("long").as("band"))): _*)).as("g"))
      .select(col("g.level").as("level"), col("c_nationkey"),
        col("c_mktsegment"), col("g.band").as("band"))
    val classes = leveled
      .groupBy(col("level"), col("c_nationkey"), col("c_mktsegment"),
        col("band"))
      .agg(count(lit(1)).as("k"))
    classes.groupBy(col("level"))
      .agg(
        count(lit(1)).as("n_classes"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("n_rows"),
        sum(when(col("k") < 5, col("k")).otherwise(0L)).as("rows_below_k5"))
      .withColumn("suppressed_ppm",
        expr("rows_below_k5 * 1000000 div n_rows"))
      .select(col("level"), col("n_classes"), col("min_k"), col("max_k"),
        col("n_rows"), col("rows_below_k5"), col("suppressed_ppm"))
      .orderBy(col("level"))
  }

  val dqKanonymitySql: String =
    """WITH leveled AS (
      |  SELECT g.level, c_nationkey, c_mktsegment,
      |    CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
      |      / (g.level * 100.0)) AS BIGINT) AS band
      |  FROM customer
      |  CROSS JOIN (SELECT unnest([1000, 2500, 10000]) AS level) g),
      |classes AS (
      |  SELECT level, c_nationkey, c_mktsegment, band, COUNT(*) AS k
      |  FROM leveled GROUP BY 1, 2, 3, 4)
      |SELECT CAST(level AS BIGINT) AS level,
      |  COUNT(*) AS n_classes,
      |  CAST(MIN(k) AS BIGINT) AS min_k,
      |  CAST(MAX(k) AS BIGINT) AS max_k,
      |  CAST(SUM(k) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
      |    AS rows_below_k5,
      |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000 // SUM(k)
      |    AS BIGINT) AS suppressed_ppm
      |FROM classes GROUP BY level ORDER BY level""".stripMargin

  /** events_srm_check (Q8) — SAMPLE-RATIO-MISMATCH guard for the A20
    * experiment assignment, the validity check every experimentation
    * platform runs BEFORE reading a lift: if the md5 traffic split is
    * not uniform across its 16 first-hex-digit buckets, assignment is
    * corrupted (bot traffic, logging loss, biased exposure) and the A/B
    * readout is void. Chi-square against uniform in EXACT integers —
    * stat_milli = Σ(16·obs − N)²·1000 div (16·N), df = 15, the 95%
    * fence 24.996 folded to the integer literal 24996 — so the verdict
    * is engine-identical (float chi-square would hash-drift). Report:
    * per-bucket census with signed deviation ppm, each row carrying the
    * global statistic and the verdict.
    *
    * Scale: one scan → user-keyed distinct (the same exchange A20 pays)
    * → 16-cell mergeable census; the global stat is a 1-row broadcast
    * back over 16 rows.
    */
  def eventsSrmCheck(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .withColumn("bucket",
        substring(md5(col("user_id").cast("string")), 1, 1))
    // The 16-bucket domain is LITERAL, not observed: a bucket with ZERO
    // users is the strongest possible mismatch and must contribute its
    // full (0−E)²/E term (ADVICE r8 — deriving the domain from observed
    // rows silently under-weights total bucket loss). lower(hex(0..15))
    // enumerates the md5 first-hex-digit alphabet.
    // domain is the ROW-PRESERVING side, so the observed counts are the
    // broadcast build side (build-left right-outer — a broadcast hint on
    // the preserved side of an outer join is unsupported and would warn)
    val domain = spark.range(16).select(lower(hex(col("id"))).as("bucket"))
    val cells = broadcast(
        users.groupBy(col("bucket")).agg(count(lit(1)).as("n_obs")))
      .join(domain, Seq("bucket"), "right")
      .select(col("bucket"), coalesce(col("n_obs"), lit(0L)).as("n_users"))
    val g = cells.agg(sum(col("n_users")).as("n_total"))
    val stat = cells.crossJoin(broadcast(g))
      .select(((col("n_users") * 16 - col("n_total")) *
        (col("n_users") * 16 - col("n_total"))).as("sq"),
        col("n_total"))
      .groupBy(col("n_total"))
      .agg(sum(col("sq")).as("sqsum"))
      .select(col("n_total"),
        expr("sqsum * 1000 div (16 * n_total)").as("chi2_milli"))
    cells.crossJoin(broadcast(stat))
      .select(col("bucket"), col("n_users"),
        expr("n_total div 16").as("expected"),
        (col("n_users") - expr("n_total div 16")).as("dev"),
        expr("(n_users * 16 - n_total) * 1000000 div n_total")
          .as("dev_ppm"),
        col("chi2_milli"),
        (col("chi2_milli") > 24996L).cast("long").as("srm_detected"))
      .orderBy(col("bucket"))
  }

  val eventsSrmCheckSql: String =
    """WITH users AS (
      |  SELECT DISTINCT user_id FROM events),
      |obs AS (
      |  SELECT substring(md5(CAST(user_id AS VARCHAR)), 1, 1) AS bucket,
      |    COUNT(*) AS n_obs
      |  FROM users GROUP BY 1),
      |cells AS (
      |  SELECT d.bucket, CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_users
      |  FROM (SELECT unnest(['0','1','2','3','4','5','6','7',
      |                       '8','9','a','b','c','d','e','f']) AS bucket) d
      |  LEFT JOIN obs o ON o.bucket = d.bucket),
      |g AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_total FROM cells),
      |stat AS (
      |  SELECT n_total,
      |    CAST(SUM((n_users * 16 - n_total) * (n_users * 16 - n_total))
      |      * 1000 // (16 * n_total) AS BIGINT) AS chi2_milli
      |  FROM cells CROSS JOIN g GROUP BY n_total)
      |SELECT bucket, n_users,
      |  CAST(n_total // 16 AS BIGINT) AS expected,
      |  CAST(n_users - n_total // 16 AS BIGINT) AS dev,
      |  CAST((n_users * 16 - n_total) * 1000000 // n_total AS BIGINT)
      |    AS dev_ppm,
      |  chi2_milli,
      |  CAST(CASE WHEN chi2_milli > 24996 THEN 1 ELSE 0 END AS BIGINT)
      |    AS srm_detected
      |FROM cells CROSS JOIN stat ORDER BY bucket""".stripMargin

  /** events_benford (Q9) — Benford's-law first-significant-digit audit
    * of the money column: fabricated or systematically generated amounts
    * flunk the log-distribution of leading digits, the classic
    * forensic-accounting / data-fabrication screen. The digit extracts
    * with NO float log: value scales to cents (×100 preserves the
    * leading significant digit) and the first character of the integer's
    * decimal string IS the digit — pure string/integer ops, identical in
    * both engines. Expected shares are the log10(1+1/d) constants folded
    * to ppm integer literals (they sum to exactly 1e6), deviations and
    * the Σ(obs−exp)²/exp statistic stay in integer ppm.
    *
    * Scale: one scan → 9-cell mergeable census; the total is a 1-row
    * broadcast back over 9 rows (the Q8 idiom).
    */
  def eventsBenford(spark: SparkSession, dir: String): DataFrame = {
    val BENFORD = "array(301030, 176091, 124939, 96910, 79181, 66947, " +
      "57992, 51153, 45757)"
    val cells = Tables.events(spark, dir)
      .select(graft.functions.Det.scaledLong(col("value"), 100L)
        .as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val g = cells.agg(sum(col("n")).as("n_total"))
    cells.crossJoin(broadcast(g))
      .select(col("digit").cast("long").as("digit"), col("n"),
        expr("n * 1000000 div n_total").as("obs_ppm"),
        expr(s"element_at($BENFORD, digit)").cast("long").as("exp_ppm"))
      .withColumn("dev_ppm",
        abs(col("obs_ppm") - col("exp_ppm")))
      .withColumn("chi_contrib_ppm",
        expr("(obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) div exp_ppm"))
      .orderBy(col("digit"))
  }

  val eventsBenfordSql: String =
    """WITH cells AS (
      |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
      |    COUNT(*) AS n
      |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS cents
      |    FROM events) WHERE cents > 0 GROUP BY 1),
      |g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cells)
      |SELECT CAST(digit AS BIGINT) AS digit, n,
      |  CAST(n * 1000000 // n_total AS BIGINT) AS obs_ppm,
      |  CAST([301030, 176091, 124939, 96910, 79181, 66947, 57992,
      |        51153, 45757][digit] AS BIGINT) AS exp_ppm,
      |  CAST(abs(n * 1000000 // n_total
      |    - [301030, 176091, 124939, 96910, 79181, 66947, 57992,
      |       51153, 45757][digit]) AS BIGINT) AS dev_ppm,
      |  CAST((n * 1000000 // n_total
      |      - [301030, 176091, 124939, 96910, 79181, 66947, 57992,
      |         51153, 45757][digit])
      |    * (n * 1000000 // n_total
      |      - [301030, 176091, 124939, 96910, 79181, 66947, 57992,
      |         51153, 45757][digit])
      |    // [301030, 176091, 124939, 96910, 79181, 66947, 57992,
      |        51153, 45757][digit] AS BIGINT) AS chi_contrib_ppm
      |FROM cells CROSS JOIN g ORDER BY digit""".stripMargin

  /** events_rapid_repeat (Q10) — duplicate-transaction screen: purchase
    * events by the same user within 10 minutes of each other — the
    * double-charge / double-click audit every payments pipeline runs.
    * Adjacent-pair detection via lag() over (user, ts, event_id); the
    * gap compares in EXACT microseconds (no float seconds), and the
    * unique event_id tiebreak makes pair formation engine-identical
    * even under equal timestamps.
    *
    * Scale: the type filter prunes at the scan; one window pass
    * partitioned by user (millions of small partitions, no global
    * sort); output is the flagged pairs only.
    */
  def eventsRapidRepeat(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    p.withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("prev_event_id", lag(col("event_id"), 1).over(w))
      .filter(col("prev_us").isNotNull &&
        col("us") - col("prev_us") <= 600000000L)
      .select(col("user_id"), col("prev_event_id"), col("event_id"),
        (col("us") - col("prev_us")).as("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val eventsRapidRepeatSql: String =
    """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS us
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (SELECT user_id, event_id, us,
      |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS prev_us,
      |    lag(event_id) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) AS prev_event_id
      |  FROM p)
      |SELECT user_id, prev_event_id, event_id,
      |  CAST(us - prev_us AS BIGINT) AS gap_us
      |FROM w WHERE prev_us IS NOT NULL AND us - prev_us <= 600000000
      |ORDER BY user_id, event_id""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("events_benford", eventsBenford, eventsBenfordSql),
    Query("events_rapid_repeat", eventsRapidRepeat, eventsRapidRepeatSql),
    Query("dq_audit", dqAudit, dqAuditSql),
    Query("events_srm_check", eventsSrmCheck, eventsSrmCheckSql),
    Query("dq_kanonymity", dqKanonymity, dqKanonymitySql),
    Query("dq_profile", dqProfile, dqProfileSql),
    Query("dq_drift", dqDrift, dqDriftSql),
    Query("dq_ks_test", dqKsTest, dqKsTestSql),
    Query("dq_freshness", dqFreshness, dqFreshnessSql),
    Query("events_lateness_profile", eventsLatenessProfile,
      eventsLatenessProfileSql))
}
