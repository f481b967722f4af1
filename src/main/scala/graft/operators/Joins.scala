package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det._

/** Join family: multi-way equi joins, outer, semi/anti, non-equi range
  * (theta), as-of, and set operations (SURVEY.md §2.3 J1-J5, §2.6 O3-O4).
  *
  * Scale notes (100 TB): dims (region/nation/supplier/customer bands) are
  * broadcast — no shuffle of the fact side; fact⋈fact joins shuffle on the
  * join key once and AQE handles skew. The as-of join deliberately avoids a
  * join at all: it is a union + per-key ordered window (last non-null), so
  * its cost is one shuffle-on-user_id sort — the only as-of formulation that
  * survives a 1000-executor scale-up without range-explosion.
  */
object Joins {

  /** q5_multijoin — TPC-H Q5-shaped 6-way star join. Join order written
    * smallest-last so Catalyst broadcasts region/nation/supplier/customer;
    * the lineitem⋈orders backbone is the single shuffled join.
    */
  def q5Multijoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey") && c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** FROM order leads with the FACT tables (lineitem, orders) — without
    * CBO stats Spark joins comma-joined relations in DECLARED order, and
    * the customer-first TPC-H text made the c⋈o subtree the stream side
    * with column-pruned LINEITEM (~2.5 MB estimated at sf0.1) sneaking
    * under the broadcast threshold as the BUILD side: the biggest table
    * broadcast wholesale, a 2× slowdown measured at sf0.1 (0.594 s vs
    * 0.316 s quiet min) and a non-plan at 100 TB. Fact-first text gives
    * the same stream-lineitem / broadcast-dims plan as the DataFrame
    * form; DuckDB reorders joins from stats, so the shared oracle text
    * is unaffected there (r12 verdict task 2).
    */
  val q5MultijoinSql: String =
    s"""SELECT n_name, ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem, orders, customer, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** join_outer — left outer join with a join-side predicate (orders must be
    * status F), preserving customers with no match; COUNT skips nulls.
    */
  def joinOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey") && o("o_orderstatus") === "F", "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_f_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("f_spend"))
      .orderBy(col("c_custkey"))
  }

  val joinOuterSql: String =
    s"""SELECT c_custkey, c_name,
       |  COUNT(o_orderkey) AS n_f_orders,
       |  COALESCE(${sqlDsum("o_totalprice")}, 0.0) AS f_spend
       |FROM customer LEFT JOIN orders
       |  ON c_custkey = o_custkey AND o_orderstatus = 'F'
       |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** join_semi_anti — EXISTS as left-semi, NOT EXISTS as left-anti (the CDC
    * delete-reconciliation shape), tagged and unioned into one result.
    */
  def joinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
    val semi = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .select(lit("has_urgent").as("kind"), col("c_custkey"))
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(lit("no_orders").as("kind"), col("c_custkey"))
    semi.unionByName(anti).orderBy(col("kind"), col("c_custkey"))
  }

  val joinSemiAntiSql: String =
    """SELECT 'has_urgent' AS kind, c_custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |UNION ALL
      |SELECT 'no_orders' AS kind, c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY kind, c_custkey""".stripMargin

  /** join_range — non-equi band (theta) join: orders bucketed into price
    * bands. The band table is tiny → BroadcastNestedLoopJoin, which is the
    * right plan at any scale for a constant-size band dim.
    */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    val bands = Seq(
      ("b0_low", 0.0, 50000.0),
      ("b1_mid", 50000.0, 150000.0),
      ("b2_high", 150000.0, 1e12)).toDF("band", "lo", "hi")
    val o = Tables.orders(spark, dir)
    o.join(broadcast(bands), o("o_totalprice") >= bands("lo") && o("o_totalprice") < bands("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("band_value"))
      .orderBy(col("band"))
  }

  val joinRangeSql: String =
    s"""WITH bands(band, lo, hi) AS (VALUES
       |  ('b0_low', 0.0, 50000.0),
       |  ('b1_mid', 50000.0, 150000.0),
       |  ('b2_high', 150000.0, 1e12))
       |SELECT band, COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS band_value
       |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY band ORDER BY band""".stripMargin

  /** join_asof — for each purchase event, the user's latest click at ts ≤
    * purchase ts. Implemented WITHOUT a join: union-tag both sides, one
    * shuffle on user_id, `last(..., ignoreNulls)` over an ordered window.
    * O(n log n) per key at any scale — no quadratic range-join blowup.
    * DuckDB oracle uses its native ASOF LEFT JOIN (same semantics, ts >=).
    *
    * Tie rule: every union row keeps its REAL event id as `src_id`, and the
    * window orders by (ts, tag, src_id) — a total order (event ids are
    * unique), so two clicks by one user at the same ts resolve to the
    * larger event_id deterministically. ASOF JOIN leaves the equal-ts pick
    * unspecified, so the oracle pairing relies on the generator's unique
    * (user_id, ts) per event type; the Spark side no longer does.
    */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"),
      lit(0).as("tag"), lit(null).cast("long").as("event_id"),
      col("event_id").as("src_id"),
      lit(null).cast("double").as("pvalue"),
      col("ts").as("click_ts"), col("value").as("click_value"))
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"),
      lit(1).as("tag"), col("event_id"),
      col("event_id").as("src_id"),
      col("value").as("pvalue"),
      lit(null).cast("timestamp").as("click_ts"),
      lit(null).cast("double").as("click_value"))
    // clicks sort before purchases at equal ts (tag 0 < 1) → '<=' semantics
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("src_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
      .withColumn("asof_click_value", last(col("click_value"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(
        col("event_id"), col("user_id"), fmtTs(col("ts")).as("purchase_ts"),
        col("pvalue").as("purchase_value"),
        fmtTs(col("asof_click_ts")).as("last_click_ts"),
        col("asof_click_value").as("last_click_value"))
      .orderBy(col("event_id"))
  }

  val joinAsofSql: String =
    s"""SELECT p.event_id, p.user_id, ${sqlFmtTs("p.ts")} AS purchase_ts,
       |  p.value AS purchase_value,
       |  ${sqlFmtTs("c.ts")} AS last_click_ts,
       |  c.value AS last_click_value
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id AND p.ts >= c.ts
       |ORDER BY p.event_id""".stripMargin

  /** join_asof_tolerance (J5c) — as-of join with a MAX-STALENESS bound
    * (pandas `merge_asof(tolerance=…)`, kdb/QuestDB asof TOLERANCE): the
    * latest click ≤ the purchase counts only when it is at most 1 hour
    * old — older context is affirmatively WRONG for attribution, so the
    * row degrades to the no-match shape instead of silently joining a
    * stale state. Same union-tag single-sort carry as join_asof (one
    * exchange, no range join); the tolerance is a post-carry conditional
    * on the exact epoch-microsecond age, emitted as its own column so
    * downstream can re-band it.
    *
    * Scale: identical to join_asof — O(n log n) per user key; the
    * tolerance test is map-side arithmetic on the carried row. The
    * DuckDB twin is its native ASOF LEFT JOIN with the same conditional
    * null-out — the hash-match proves carry ≡ ASOF + tolerance.
    */
  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val TOL_US = 3600L * 1000000L
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"),
      lit(0).as("tag"), lit(null).cast("long").as("event_id"),
      col("event_id").as("src_id"),
      lit(null).cast("double").as("pvalue"),
      col("ts").as("click_ts"), col("value").as("click_value"))
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"),
      lit(1).as("tag"), col("event_id"),
      col("event_id").as("src_id"),
      col("value").as("pvalue"),
      lit(null).cast("timestamp").as("click_ts"),
      lit(null).cast("double").as("click_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("src_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = clicks.unionByName(purchases)
      .withColumn("a_ts", last(col("click_ts"), ignoreNulls = true).over(w))
      .withColumn("a_v", last(col("click_value"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .withColumn("age_us", unix_micros(col("ts")) - unix_micros(col("a_ts")))
    val ok = col("a_ts").isNotNull && col("age_us") <= TOL_US
    carried.select(
        col("event_id"), col("user_id"), fmtTs(col("ts")).as("purchase_ts"),
        col("pvalue").as("purchase_value"),
        when(ok, fmtTs(col("a_ts"))).as("last_click_ts"),
        when(ok, col("a_v")).as("last_click_value"),
        when(ok, col("age_us")).as("age_us"))
      .orderBy(col("event_id"))
  }

  val joinAsofToleranceSql: String =
    s"""SELECT p.event_id, p.user_id, ${sqlFmtTs("p.ts")} AS purchase_ts,
       |  p.value AS purchase_value,
       |  CASE WHEN c.ts IS NOT NULL
       |      AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
       |    THEN ${sqlFmtTs("c.ts")} END AS last_click_ts,
       |  CASE WHEN c.ts IS NOT NULL
       |      AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
       |    THEN c.value END AS last_click_value,
       |  CAST(CASE WHEN c.ts IS NOT NULL
       |      AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
       |    THEN epoch_us(p.ts) - epoch_us(c.ts) END AS BIGINT) AS age_us
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id AND p.ts >= c.ts
       |ORDER BY p.event_id""".stripMargin

  /** join_asof_nearest (J5b) — BIDIRECTIONAL as-of: for each purchase,
    * the user's nearest click in EITHER direction (backward last-before
    * vs forward first-after, whichever |Δt| is smaller; ties go
    * backward). Same union-tag single-shuffle formulation as join_asof —
    * both direction carries come from TWO window frames over ONE
    * (user_id, ts, tag, src_id) sort (unbounded-preceding `last` and
    * unbounded-following `first`, both IGNORE NULLS), so the plan pays
    * one exchange + one sort, never a range join. Δt compares in exact
    * epoch microseconds (BIGINT) — no interval-type cross-engine
    * semantics in the tiebreak.
    *
    * Scale: identical to join_asof — O(n log n) per user key, no
    * candidate blowup; the forward pass rides the same sorted run.
    */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"),
      lit(0).as("tag"), lit(null).cast("long").as("event_id"),
      col("event_id").as("src_id"),
      lit(null).cast("double").as("pvalue"),
      col("ts").as("click_ts"), col("value").as("click_value"))
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"),
      lit(1).as("tag"), col("event_id"),
      col("event_id").as("src_id"),
      col("value").as("pvalue"),
      lit(null).cast("timestamp").as("click_ts"),
      lit(null).cast("double").as("click_value"))
    val order = Seq(col("ts"), col("tag"), col("src_id"))
    val wb = Window.partitionBy(col("user_id")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("user_id")).orderBy(order: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val backWins = col("back_ts").isNotNull && (col("fwd_ts").isNull ||
      (unix_micros(col("ts")) - unix_micros(col("back_ts"))) <=
        (unix_micros(col("fwd_ts")) - unix_micros(col("ts"))))
    clicks.unionByName(purchases)
      .withColumn("back_ts", last(col("click_ts"), ignoreNulls = true).over(wb))
      .withColumn("back_v", last(col("click_value"), ignoreNulls = true).over(wb))
      .withColumn("fwd_ts", first(col("click_ts"), ignoreNulls = true).over(wf))
      .withColumn("fwd_v", first(col("click_value"), ignoreNulls = true).over(wf))
      .filter(col("tag") === 1)
      .select(
        col("event_id"), col("user_id"), fmtTs(col("ts")).as("purchase_ts"),
        col("pvalue").as("purchase_value"),
        when(backWins, fmtTs(col("back_ts")))
          .otherwise(fmtTs(col("fwd_ts"))).as("near_click_ts"),
        when(backWins, col("back_v")).otherwise(col("fwd_v"))
          .as("near_click_value"),
        when(backWins, lit("backward"))
          .when(col("fwd_ts").isNotNull, lit("forward"))
          .otherwise(lit(null).cast("string")).as("direction"))
      .orderBy(col("event_id"))
  }

  val joinAsofNearestSql: String =
    s"""WITH u AS (
       |  SELECT user_id, ts, 0 AS tag, CAST(NULL AS BIGINT) AS event_id,
       |    event_id AS src_id, CAST(NULL AS DOUBLE) AS pvalue,
       |    ts AS click_ts, value AS click_value
       |  FROM events WHERE event_type = 'click'
       |  UNION ALL
       |  SELECT user_id, ts, 1, event_id, event_id, value, NULL, NULL
       |  FROM events WHERE event_type = 'purchase'),
       |w AS (
       |  SELECT *,
       |    last_value(click_ts IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY ts, tag, src_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
       |    last_value(click_value IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY ts, tag, src_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_v,
       |    first_value(click_ts IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY ts, tag, src_id
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_ts,
       |    first_value(click_value IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY ts, tag, src_id
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_v
       |  FROM u)
       |SELECT event_id, user_id, ${sqlFmtTs("ts")} AS purchase_ts,
       |  pvalue AS purchase_value,
       |  CASE WHEN back_ts IS NOT NULL AND (fwd_ts IS NULL OR
       |      (epoch_us(ts) - epoch_us(back_ts)) <=
       |      (epoch_us(fwd_ts) - epoch_us(ts)))
       |    THEN ${sqlFmtTs("back_ts")} ELSE ${sqlFmtTs("fwd_ts")}
       |  END AS near_click_ts,
       |  CASE WHEN back_ts IS NOT NULL AND (fwd_ts IS NULL OR
       |      (epoch_us(ts) - epoch_us(back_ts)) <=
       |      (epoch_us(fwd_ts) - epoch_us(ts)))
       |    THEN back_v ELSE fwd_v
       |  END AS near_click_value,
       |  CASE WHEN back_ts IS NOT NULL AND (fwd_ts IS NULL OR
       |      (epoch_us(ts) - epoch_us(back_ts)) <=
       |      (epoch_us(fwd_ts) - epoch_us(ts)))
       |    THEN 'backward'
       |    WHEN fwd_ts IS NOT NULL THEN 'forward'
       |    ELSE CAST(NULL AS VARCHAR)
       |  END AS direction
       |FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin

  /** join_bloom_filtered (J10) — Spark's NATIVE runtime bloom-filter
    * injection (`InjectRuntimeFilter`): the selective dim-side predicate
    * (urgent + high-value orders, ~8% of orders) is distilled into a
    * bloom filter that prunes the fact side BEFORE its shuffle —
    * `might_contain(xxhash64(l_orderkey))` lands under the lineitem scan,
    * so ~92% of fact rows never enter the exchange. This is the
    * semi-join-reduction machinery a 100-TB deployment leans on when the
    * filtered dim is too big to broadcast (broadcast disabled here to
    * force exactly that regime); bloom false positives only let extra
    * rows reach the real join, which drops them — the result is exact.
    *
    * Runs in a CHILD session (`newSession`: shared context, isolated
    * conf): the injection thresholds default to ≥10 GB application-side
    * scans — right for a cluster, unreachable for test parquet — so the
    * child scales them to the testdata. A real deployment leaves the
    * defaults. PlanSpec pins `might_contain` in the executed plan.
    */
  def joinBloomFiltered(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "1KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = Tables.lineitem(s2, dir)
    val sel = Tables.orders(s2, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 300000)
    li.join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("gross"))
      .orderBy(col("l_returnflag"))
  }

  val joinBloomFilteredSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_items,
       |  ${sqlDsum("l_extendedprice")} AS gross
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 300000
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** setop_union — UNION ALL of two key streams + aggregation (the
    * snapshot ∪ tail shape of a CDC bootstrap, SURVEY.md §2.1 S4).
    */
  def setopUnion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nk"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nk"))
    c.unionByName(s).groupBy(col("nk"))
      .agg(count(lit(1)).as("n_entities"))
      .orderBy(col("nk"))
  }

  val setopUnionSql: String =
    """SELECT nk, COUNT(*) AS n_entities
      |FROM (SELECT c_nationkey AS nk FROM customer
      |      UNION ALL SELECT s_nationkey AS nk FROM supplier)
      |GROUP BY nk ORDER BY nk""".stripMargin

  /** setop_diff — INTERSECT and EXCEPT (source-vs-sink reconciliation
    * diff), tagged into one result.
    */
  def setopDiff(spark: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(spark, dir).select(col("c_nationkey").as("nk"))
    val sn = Tables.supplier(spark, dir).select(col("s_nationkey").as("nk"))
    val both = cn.intersect(sn).select(lit("both").as("kind"), col("nk"))
    val custOnly = cn.distinct().except(sn).select(lit("cust_only").as("kind"), col("nk"))
    both.unionByName(custOnly).orderBy(col("kind"), col("nk"))
  }

  val setopDiffSql: String =
    """SELECT 'both' AS kind, nk
      |FROM (SELECT c_nationkey AS nk FROM customer
      |      INTERSECT SELECT s_nationkey AS nk FROM supplier)
      |UNION ALL
      |SELECT 'cust_only' AS kind, nk
      |FROM (SELECT c_nationkey AS nk FROM customer
      |      EXCEPT SELECT s_nationkey AS nk FROM supplier)
      |ORDER BY kind, nk""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("q5_multijoin", q5Multijoin, q5MultijoinSql),
    Query("join_outer", joinOuter, joinOuterSql),
    Query("join_semi_anti", joinSemiAnti, joinSemiAntiSql),
    Query("join_range", joinRange, joinRangeSql),
    Query("join_asof", joinAsof, joinAsofSql),
    Query("join_asof_tolerance", joinAsofTolerance, joinAsofToleranceSql),
    Query("join_asof_nearest", joinAsofNearest, joinAsofNearestSql),
    Query("join_bloom_filtered", joinBloomFiltered, joinBloomFilteredSql),
    Query("setop_union", setopUnion, setopUnionSql),
    Query("setop_diff", setopDiff, setopDiffSql))
}
