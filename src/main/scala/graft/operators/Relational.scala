package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det._

/** Relational core: projection + arithmetic, predicate pushdown, hash
  * aggregation (partial+final), distinct aggregation, date bucketing, and
  * the join+top-k pattern (SURVEY.md §2.2/§2.4 rows P1-P4, A1-A2, O1-O2).
  *
  * Scale notes (100 TB): every query here is a single scan → partial agg →
  * shuffle-on-group-keys → final agg (or TakeOrderedAndProject for top-k);
  * filters and column pruning reach the parquet reader, so bytes read scale
  * with selected columns, not table width. No driver-side collection.
  */
object Relational {

  /** q1_pricing — TPC-H Q1-shaped pricing summary: scan-heavy group-agg with
    * 7 aggregates over ~95% of lineitem. Map-side partial aggregation makes
    * the shuffle 6 rows × partitions regardless of input size.
    */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1PricingSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       |  ${sqlDsum6("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       |  ${sqlDavg("l_quantity")} AS avg_qty,
       |  ${sqlDavg("l_extendedprice")} AS avg_price,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** filter_pushdown — compound predicate (comparison, BETWEEN, IN, LIKE,
    * modulo, AND/OR) that Catalyst pushes into the parquet scan as row-group
    * filters; projection prunes to 5 of 6 columns.
    */
  def filterPushdown(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(
        col("o_orderstatus") === "O" &&
        col("o_totalprice").between(1000.0, 50000.0) &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_custkey") % 10 =!= 3 &&
        col("o_orderpriority").like("%-%"))
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        fmtDate(col("o_orderdate")).as("o_orderdate_s"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  val filterPushdownSql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice,
       |  ${sqlFmtDate("o_orderdate")} AS o_orderdate_s, o_orderpriority
       |FROM orders
       |WHERE o_orderstatus = 'O' AND o_totalprice BETWEEN 1000.0 AND 50000.0
       |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
       |  AND (o_custkey % 10) <> 3 AND o_orderpriority LIKE '%-%'
       |ORDER BY o_orderkey""".stripMargin

  /** agg_distinct — exact multi-column COUNT(DISTINCT) in ONE fact scan
    * via the packed-bitmap distinct idiom (A7/agg_bitmap_distinct,
    * ClickHouse groupBitmap): a map-side `stack` emits one (column_id,
    * key) row per distinct column, keys pack into 64-bit words
    * (word = k >> 6, bit = k & 63), and partial bit_or collapses each
    * partition to at most |key domain|/64 words per (group, column)
    * BEFORE the only shuffle; popcounts sum to the exact distinct counts.
    *
    * Why not the alternatives (both re-measured round 7 at sf0.1):
    * the round-2 split-and-rejoin reads the fact FOUR times (0.95-1.06 s
    * warm, and 4 full passes at 100 TB); Catalyst's native Expand-based
    * multi-distinct is one scan but shuffles every surviving distinct
    * (group, gid, key) pair and re-dedups reduce-side (1.4-1.8 s warm).
    * The bitmap form shuffles word partials — 64× fewer rows on dense
    * keys, degrading only to Expand's pair count on fully sparse keys —
    * and re-aggregates by bit_or + popcount sum. Dense non-negative int
    * keys (every TPC-H key) pack directly; sparse/negative/string domains
    * swap in roaring bitmaps or the Expand plan behind the same contract.
    * n_rows rides the same scan: the stage-1 count of column 0's rows.
    * PlanSpec pins the single-scan shape. (Approx twin:
    * agg_approx_distinct.)
    */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // COUNT(DISTINCT c) ignores NULL c: a NULL key yields NULL word+bits,
    // bit_count(NULL) drops out of the popcount sum, while cnt still
    // counts the row into n_rows — both semantics fall out of the packing
    val words = li
      .select(col("l_returnflag"), expr(
        """stack(3, 0L, l_orderkey, 1L, l_partkey, 2L, l_suppkey)
          |AS (cid, k)""".stripMargin))
      .groupBy(col("l_returnflag"), col("cid"),
        expr("k >> 6").as("word_idx"))
      .agg(
        expr("bit_or(shiftleft(1L, cast(k & 63 as int)))").as("bits"),
        count(lit(1)).as("cnt"))
    val perCol = words
      .groupBy(col("l_returnflag"), col("cid"))
      .agg(
        sum(bit_count(col("bits"))).cast("long").as("nd"),
        sum(col("cnt")).as("nr"))
    perCol.groupBy(col("l_returnflag"))
      .agg(
        max(when(col("cid") === 0, col("nd"))).as("n_orders"),
        max(when(col("cid") === 1, col("nd"))).as("n_parts"),
        max(when(col("cid") === 2, col("nd"))).as("n_supps"),
        max(when(col("cid") === 0, col("nr"))).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val aggDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** date_buckets — calendar bucketing (year/month/quarter/dow) + money agg;
    * the shape of every time-partitioned rollup in a CDC sink.
    */
  def dateBuckets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("revenue"),
        davg(col("o_totalprice")).as("avg_price"))
      .orderBy(col("yr"), col("qtr"))
  }

  val dateBucketsSql: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       |  COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS revenue,
       |  ${sqlDavg("o_totalprice")} AS avg_price
       |FROM orders
       |GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin

  /** q3_join_topk — TPC-H Q3-shaped: selective dim filter → 3-way join →
    * group → top-10. customer is broadcast (small side); the limit plans as
    * TakeOrderedAndProject so only k rows cross the final exchange.
    */
  def q3JoinTopk(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), fmtDate(col("o_orderdate")).as("odate"), col("o_orderpriority"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinTopkSql: String =
    s"""SELECT l_orderkey, ${sqlFmtDate("o_orderdate")} AS odate, o_orderpriority,
       |  ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
       |GROUP BY l_orderkey, odate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q19_disjunction (P5) — the TPC-H Q19 shape: an OR-of-ANDs predicate
    * spanning both join sides (three (brand, size-range, quantity-range)
    * branches), the classic test of DISJUNCTIVE pushdown — a naive
    * planner evaluates the whole disjunction post-join; a good one
    * pushes the part-side projection of the OR (brand/size branches) to
    * the part scan and the derived quantity envelope [1,30] to the
    * lineitem scan, shrinking BOTH inputs before the join (pinned in
    * PlanSpec). Revenue per branch in exact 6dp fixed-point.
    *
    * Scale: part prunes to the 3-brand union (broadcast side), lineitem
    * prunes on the quantity envelope at the scan; one broadcast join, a
    * 3-row aggregate.
    */
  def q19Disjunction(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    def branch(b: String, s1: Int, s2: Int, q1: Int, q2: Int) =
      col("p_brand") === b &&
        col("p_size").between(s1, s2) &&
        col("l_quantity").between(q1, q2)
    val b1 = branch("Brand#12", 1, 15, 1, 11)
    val b2 = branch("Brand#23", 10, 25, 10, 20)
    val b3 = branch("Brand#15", 20, 40, 20, 30)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(b1 || b2 || b3)
      .select(when(b1, "b1").when(b2, "b2").otherwise("b3").as("branch"),
        col("l_extendedprice"), col("l_discount"))
      .groupBy(col("branch"))
      .agg(count(lit(1)).as("n_items"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("branch"))
  }

  val q19DisjunctionSql: String =
    s"""WITH j AS (
       |  SELECT p_brand, p_size, l_quantity, l_extendedprice, l_discount,
       |    CASE
       |      WHEN p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       |        AND l_quantity BETWEEN 1 AND 11 THEN 'b1'
       |      WHEN p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25
       |        AND l_quantity BETWEEN 10 AND 20 THEN 'b2'
       |      WHEN p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 40
       |        AND l_quantity BETWEEN 20 AND 30 THEN 'b3'
       |    END AS branch
       |  FROM lineitem JOIN part ON p_partkey = l_partkey)
       |SELECT branch, COUNT(*) AS n_items,
       |  ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM j WHERE branch IS NOT NULL
       |GROUP BY branch ORDER BY branch""".stripMargin

  /** q2_min_cost_supp (A32) — the TPC-H Q2 shape: a CORRELATED-MIN
    * subquery ("the supplier offering this part cheapest") resolved as a
    * two-level aggregate + packed argmin instead of a per-part rescan.
    * Per (part, supplier) the exact sourcing cost (cents, i64) aggregates
    * once; the per-part argmin rides a single packed i64
    * min(cost·10⁶ + suppkey) — deterministic tie-break by suppkey built
    * into the packing, no window, no self-join back onto the agg (the
    * textbook correlated formulation rescans the cost table per part).
    *
    * Argmin is `min(struct(cost, suppkey))` — lexicographic struct
    * ordering, no arithmetic packing. (The r8 form packed
    * `min(cost·10⁶ + suppkey)`, which silently corrupts both fields once
    * suppkey reaches 10⁶ — TPC-H has SF×10,000 suppliers, so SF ≥ 100
    * overflows the modulus; ADVICE r8.) The struct min keeps the same
    * single-pass partial-aggregate shape with no overflow bound, and the
    * tie-break (lowest suppkey at equal cost) is now explicit.
    *
    * Scale: the filtered part dim broadcasts into the lineitem scan (the
    * join prunes the fact before any exchange); both aggregates cluster
    * on p_partkey so one exchange serves them; supplier re-broadcasts
    * for the name. Top-20 is TakeOrderedAndProject.
    */
  def q2MinCostSupp(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_size").between(10, 20) && col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_brand"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        scaledLong(col("l_extendedprice"), 100L).as("cents"))
    val cost = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_brand"), col("l_suppkey"))
      .agg(sum(col("cents")).as("cost"))
    val best = cost.groupBy(col("p_partkey"), col("p_brand"))
      .agg(min(struct(col("cost"), col("l_suppkey"))).as("m"),
        count(lit(1)).as("n_supp"))
      .select(col("p_partkey"), col("p_brand"),
        col("m.l_suppkey").as("s_suppkey"),
        col("m.cost").as("min_cost_cents"),
        col("n_supp"))
    best.join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("sk"), col("s_name"))),
        col("s_suppkey") === col("sk"))
      .select(col("p_partkey"), col("p_brand"), col("s_suppkey"),
        col("s_name"), col("min_cost_cents"), col("n_supp"))
      .orderBy(col("min_cost_cents"), col("p_partkey"))
      .limit(20)
  }

  val q2MinCostSuppSql: String =
    """WITH p AS (SELECT p_partkey, p_brand FROM part
      |  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'),
      |cost AS (SELECT p_partkey, p_brand, l_suppkey,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cost
      |  FROM lineitem JOIN p ON p_partkey = l_partkey GROUP BY 1, 2, 3),
      |best AS (SELECT p_partkey, p_brand,
      |    min(cost) AS min_cost_cents,
      |    count(*) AS n_supp
      |  FROM cost GROUP BY 1, 2),
      |pick AS (SELECT c.p_partkey, min(c.l_suppkey) AS s_suppkey
      |  FROM cost c JOIN best b
      |    ON c.p_partkey = b.p_partkey AND c.cost = b.min_cost_cents
      |  GROUP BY 1)
      |SELECT b.p_partkey, b.p_brand, k.s_suppkey, s.s_name,
      |  CAST(b.min_cost_cents AS BIGINT) AS min_cost_cents,
      |  CAST(b.n_supp AS BIGINT) AS n_supp
      |FROM best b JOIN pick k ON k.p_partkey = b.p_partkey
      |JOIN supplier s ON s.s_suppkey = k.s_suppkey
      |ORDER BY min_cost_cents, b.p_partkey LIMIT 20""".stripMargin

  /** q21_sole_returner (J12) — the TPC-H Q21 shape: EXISTS + NOT-EXISTS
    * against the same fact ("suppliers who alone returned goods on a
    * multi-supplier order"). Both correlated quantifiers collapse into
    * ONE grouped pass: per (order, supplier) an any-R flag, per order the
    * supplier count, the R-supplier count, and — because the predicate
    * pins n_r = 1 — THE sole R-supplier as max(when(has_r, suppkey)).
    * EXISTS(another supplier) ⟺ n_supp ≥ 2; NOT EXISTS(another
    * R-supplier) ⟺ n_r = 1. The textbook formulation pays two extra
    * correlated semi/anti joins of lineitem against itself.
    *
    * Scale: the orders(status F) filter joins on l_orderkey, and BOTH
    * downstream aggregates cluster on l_orderkey — Spark's
    * HashPartitioning(orderkey) satisfies the (orderkey, suppkey)
    * clustering, so the join exchange is the only fact exchange in the
    * plan; the final per-supplier census is |suppliers|-sized.
    */
  def q21SoleReturner(spark: SparkSession, dir: String): DataFrame = {
    val of0 = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    // the status filter keeps ~1/3 of orders: one projected key column
    // broadcasts at small scale (the q3 dim-filter discipline), so
    // lineitem reaches its (orderkey, suppkey) aggregate with NO join
    // exchange — measured 1.25 → 0.77 s at sf0.1. But an explicit
    // broadcast() hint is honored REGARDLESS of size (it bypasses
    // autoBroadcastJoinThreshold — ADVICE r8), so it is GATED on the
    // orders source size: ≤64 MB compressed (≈ SF 2; one projected long
    // column of the F-subset is far smaller still) forces the hint; above
    // that the planner chooses, and the join shares the orderkey exchange
    // the downstream aggregate pays anyway.
    val of = if (Tables.srcBytes(dir, "orders") <= (64L << 20)) broadcast(of0)
             else of0
    val ls = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .join(of, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
        .as("has_r"))
    val perOrder = ls.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("has_r")).as("n_r"),
        max(when(col("has_r") === 1, col("l_suppkey"))).as("the_supp"))
    perOrder.filter(col("n_supp") >= 2 && col("n_r") === 1)
      .groupBy(col("the_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("n_sole_return"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("sk"), col("s_name"))),
        col("s_suppkey") === col("sk"))
      .select(col("s_suppkey"), col("s_name"), col("n_sole_return"))
      .orderBy(col("n_sole_return").desc, col("s_suppkey"))
      .limit(10)
  }

  val q21SoleReturnerSql: String =
    """WITH ls AS (SELECT l_orderkey, l_suppkey,
      |    max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE o_orderstatus = 'F' GROUP BY 1, 2),
      |per_o AS (SELECT l_orderkey, count(*) AS n_supp, sum(has_r) AS n_r,
      |    max(CASE WHEN has_r = 1 THEN l_suppkey END) AS the_supp
      |  FROM ls GROUP BY 1)
      |SELECT the_supp AS s_suppkey, s_name,
      |  count(*) AS n_sole_return
      |FROM per_o JOIN supplier ON s_suppkey = the_supp
      |WHERE n_supp >= 2 AND n_r = 1
      |GROUP BY 1, 2 ORDER BY n_sole_return DESC, s_suppkey LIMIT 10""".stripMargin

  /** q22_dormant_value (J13) — the TPC-H Q22 shape: a SCALAR subquery
    * (global positive-balance average) + anti join ("above-average-balance
    * customers with no recent orders, by nation"). The float-compare trap:
    * `acctbal > avg(acctbal)` diverges between engines when the avg is a
    * float — here the comparison CROSS-MULTIPLIES in exact integers
    * (cents·n_pos > total_cents ⟺ cents > total/n), so the rich set is
    * engine-exact. Dormancy = left_anti against orders since 2000-01-01.
    *
    * Scale: the scalar aggregate is one row broadcast into the customer
    * scan; the anti join keys on custkey (the orders side prunes to the
    * date window at the scan); final census is |nations|-sized.
    */
  def q22DormantValue(spark: SparkSession, dir: String): DataFrame = {
    val pos = Tables.customer(spark, dir).filter(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_nationkey"),
        scaledLong(col("c_acctbal"), 100L).as("cents"))
    val stats = pos.agg(sum(col("cents")).as("tot"),
      count(lit(1)).as("n_pos"))
    val rich = pos.crossJoin(broadcast(stats))
      .filter(col("cents") * col("n_pos") > col("tot"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val dormant = rich.join(recent,
      col("c_custkey") === col("o_custkey"), "left_anti")
    dormant.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"), sum(col("cents")).as("bal_cents"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_custs"), col("bal_cents"))
      .orderBy(col("n_name"))
  }

  val q22DormantValueSql: String =
    """WITH pos AS (SELECT c_custkey, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer WHERE c_acctbal > 0),
      |stats AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot,
      |    COUNT(*) AS n_pos FROM pos),
      |rich AS (SELECT p.* FROM pos p, stats WHERE cents * n_pos > tot),
      |dormant AS (SELECT * FROM rich WHERE NOT EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'))
      |SELECT n_name, COUNT(*) AS n_custs,
      |  CAST(SUM(cents) AS BIGINT) AS bal_cents
      |FROM dormant JOIN nation ON n_nationkey = c_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q13_order_dist (A37) — the TPC-H Q13 shape: DISTRIBUTION OF COUNTS
    * ("how many customers placed exactly k qualifying orders"), the
    * two-level aggregate whose first level must be a LEFT join so
    * zero-order customers land in the k=0 bucket — an inner join silently
    * drops them, the classic Q13 bug. Qualifying = non-urgent orders.
    *
    * Scale: the join and the per-customer count share one custkey
    * clustering (no extra exchange between them); the second aggregate
    * is |distinct counts|-sized. count(o_orderkey) — not count(*) —
    * makes the null-padded row count 0.
    */
  def q13OrderDist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13OrderDistSql: String =
    """WITH per_cust AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |    AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |SELECT c_count, count(*) AS custdist
      |FROM per_cust GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q7_volume_shipping (J14) — the TPC-H Q7 shape: bilateral trade flows
    * between a nation PAIR, grouped by (supp_nation, cust_nation, year).
    * Both directions of the pair survive one scan: each side's dimension
    * prunes to the 2-nation union BEFORE its join (supplier via a
    * broadcast nation lookup, customer likewise), and the asymmetric
    * pair filter (supp ≠ cust) runs post-join on the two tiny name
    * columns.
    *
    * Scale: the supplier leg broadcasts (2/25 of suppliers joined to a
    * 2-row nation slice); lineitem reaches the orders join already
    * supplier-pruned to ~8%, so the one orderkey exchange moves 8% of
    * the fact; the customer leg prunes to 2/25 before its join and the
    * planner picks broadcast vs shuffle by size (no forced hint — at
    * 100 TB customers outgrow broadcast). 4-group-per-year output.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .filter(col("n_name").isin("NATION_18", "NATION_19"))
      .select(col("n_nationkey"), col("n_name"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(nat.select(col("n_nationkey").as("nk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("nk"))
      .select(col("c_custkey"), col("cust_nation"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(count(lit(1)).as("n_items"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7VolumeShippingSql: String =
    s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |  COUNT(*) AS n_items,
       |  ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN nation ns ON ns.n_nationkey = s_nationkey
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation nc ON nc.n_nationkey = c_nationkey
       |WHERE ns.n_name IN ('NATION_18', 'NATION_19')
       |  AND nc.n_name IN ('NATION_18', 'NATION_19')
       |  AND ns.n_name <> nc.n_name
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q8_market_share (A38) — the TPC-H Q8 shape: one nation's SHARE of a
    * region's market per year — the ratio-of-conditional-aggregates
    * pattern where both numerator and denominator must come out of ONE
    * grouped pass (two scans would double the fact cost). Share =
    * exact-6dp numerator / exact-6dp denominator in double division
    * (both operands are exact-integer-derived doubles — the davg
    * discipline — so the IEEE result is engine-identical).
    *
    * Scale: part prunes to the 1/6 type slice at its scan; the ASIA
    * customer slice prunes to 1/5; nation+region broadcast (≤25 rows);
    * supplier joins by planner choice (10k×SF — broadcastable only at
    * small SF, and not forced). One orderkey exchange on the
    * part-pruned fact; |years| output rows.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val asiaNat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(asiaNat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        dsum6(when(col("supp_nation") === "NATION_5", rev).otherwise(lit(0.0)))
          .as("nation_rev"),
        dsum6(rev).as("total_rev"))
      .withColumn("mkt_share", col("nation_rev") / col("total_rev"))
      .orderBy(col("o_year"))
  }

  val q8MarketShareSql: String =
    s"""WITH j AS (
       |  SELECT year(o_orderdate) AS o_year,
       |    l_extendedprice * (1 - l_discount) AS rev,
       |    ns.n_name AS supp_nation
       |  FROM lineitem
       |  JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation nc ON nc.n_nationkey = c_nationkey
       |  JOIN region ON r_regionkey = nc.n_regionkey AND r_name = 'ASIA'
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN nation ns ON ns.n_nationkey = s_nationkey)
       |SELECT CAST(o_year AS BIGINT) AS o_year,
       |  ${sqlDsum6("CASE WHEN supp_nation = 'NATION_5' THEN rev ELSE 0 END")}
       |    AS nation_rev,
       |  ${sqlDsum6("rev")} AS total_rev,
       |  ${sqlDsum6("CASE WHEN supp_nation = 'NATION_5' THEN rev ELSE 0 END")}
       |    / ${sqlDsum6("rev")} AS mkt_share
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** q10_returned_top (J15) — the TPC-H Q10 shape: top-k customers by
    * RETURNED-goods revenue in one quarter — the "who's sending product
    * back" churn report. Quarter window prunes orders at the scan,
    * returnflag prunes lineitem at the scan; group keys carry the
    * customer attributes through the aggregate (no re-join after the
    * agg); top-20 plans as TakeOrderedAndProject so only k rows reach
    * the driver-side collect the parquet write replaces.
    *
    * Scale: both fact scans pre-pruned (quarter ≈ 1/26 of orders, R ≈
    * 1/3 of lineitem); one orderkey exchange joins them; the customer
    * join keys the aggregate's own custkey clustering; nation broadcasts.
    */
  def q10ReturnedTop(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_nationkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10ReturnedTopSql: String =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |  ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation ON n_nationkey = c_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** q14_promo_share (A39) — the TPC-H Q14 shape: promo revenue share per
    * month — the conditional-aggregate RATIO computed in the same grouped
    * pass as its denominator (the q8 discipline, here with a month grain
    * and a date-window scan prune). Share = exact-int-derived double /
    * exact-int-derived double.
    *
    * Scale: the 1997 window prunes lineitem at the scan; part projects
    * (partkey, type) only — the join carries one short string per row
    * and the planner picks broadcast vs shuffle by part's size; 12
    * output rows.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(month(col("l_shipdate")).cast("long").as("l_month"))
      .agg(
        dsum6(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
          .as("promo_rev"),
        dsum6(rev).as("total_rev"))
      .withColumn("promo_share", col("promo_rev") / col("total_rev"))
      .orderBy(col("l_month"))
  }

  val q14PromoShareSql: String =
    s"""SELECT CAST(month(l_shipdate) AS BIGINT) AS l_month,
       |  ${sqlDsum6("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
       |    AS promo_rev,
       |  ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS total_rev,
       |  ${sqlDsum6("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
       |    / ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS promo_share
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q17_small_qty_rev (A40) — the TPC-H Q17 shape: revenue from orders
    * SMALLER than 20% of their part's average quantity — the correlated
    * per-group-average subquery. The textbook form rescans lineitem per
    * part; here the per-part (n, Σqty) aggregates ONCE and joins back,
    * and the 20%-of-average compare runs in exact integers by
    * cross-multiplying (5·qty·n < Σqty ⟺ qty < 0.2·avg — quantities are
    * integral, so no float compare anywhere).
    *
    * Scale: the brand slice of part broadcasts into the lineitem scan
    * (fact pruned to ~1/25 before any exchange); the per-part stats and
    * the join-back share one partkey clustering, and the stats side is
    * |parts-in-brand|-sized (broadcastable at any SF). Single-row output.
    */
  def q17SmallQtyRev(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#11").select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), scaledLong(col("l_quantity"), 1L).as("qty"),
        col("l_extendedprice"))
    val stats = li.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"))
    li.join(broadcast(stats), col("l_partkey") === col("pk"))
      .filter(col("qty") * 5 * col("n") < col("sum_qty"))
      .agg(count(lit(1)).as("n_small"),
        dsum(col("l_extendedprice")).as("small_rev"))
  }

  val q17SmallQtyRevSql: String =
    s"""WITH li AS (
       |  SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty,
       |    l_extendedprice
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  WHERE p_brand = 'Brand#11'),
       |st AS (SELECT l_partkey AS pk, count(*) AS n,
       |    CAST(sum(qty) AS BIGINT) AS sum_qty FROM li GROUP BY 1)
       |SELECT count(*) AS n_small, ${sqlDsum("l_extendedprice")} AS small_rev
       |FROM li JOIN st ON l_partkey = pk
       |WHERE qty * 5 * n < sum_qty""".stripMargin

  /** q18_big_orders (J16) — the TPC-H Q18 shape: orders whose TOTAL
    * quantity clears a threshold, rejoined to their header + customer —
    * the grouped-HAVING-drives-a-semi-join pattern. The per-order Σqty
    * aggregates in exact integers and the qualifying set (rare by
    * construction) joins back to orders and customer for the report
    * columns.
    *
    * Scale: the per-order aggregate clusters on l_orderkey = the
    * join-back key, so one fact exchange serves both; the qualifying
    * orders are a tiny fraction (threshold in the distribution tail) and
    * the customer join moves only them; top-100 by totalprice plans as
    * TakeOrderedAndProject.
    */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val oq = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), scaledLong(col("l_quantity"), 1L).as("qty"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("qty")).as("sum_qty"))
      .filter(col("sum_qty") > 250L)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"))
    oq.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        fmtDate(col("o_orderdate")).as("odate"), col("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18BigOrdersSql: String =
    s"""WITH oq AS (
       |  SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT))
       |    AS BIGINT) AS sum_qty
       |  FROM lineitem GROUP BY 1 HAVING sum_qty > 250)
       |SELECT c_custkey, c_name, o_orderkey,
       |  ${sqlFmtDate("o_orderdate")} AS odate, o_totalprice, sum_qty
       |FROM oq
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** q15_top_supplier (A41) — the TPC-H Q15 shape: the supplier(s) whose
    * quarter revenue EQUALS the global maximum — argmax-row ELECTION
    * against a derived aggregate (Q11/A35 compares against a scalar
    * THRESHOLD; Q15 must re-identify the winning rows, and ties must
    * all surface). The float trap: electing on a double revenue silently
    * drops tied winners whose float images differ — here election
    * compares exact 6dp-micro INTEGERS, and the 1-row max broadcasts
    * back into the per-supplier aggregate (no second scan of the fact).
    *
    * Scale: one quarter-pruned fact scan → per-supplier aggregate
    * (suppkey clustering); the max is a 1-row broadcast; supplier name
    * joins only the winners.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(splitSum(scaledLong(
        col("l_extendedprice") * (lit(1.0) - col("l_discount")), 1000000L))
        .cast("long").as("rev_micros"))
    val top = rev.agg(max(col("rev_micros")).as("max_micros"))
    rev.crossJoin(broadcast(top))
      .filter(col("rev_micros") === col("max_micros"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_micros").cast("double") / 1000000).as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS rev_micros
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name,
      |  CAST(rev_micros AS DOUBLE) / 1000000 AS total_rev
      |FROM rev JOIN supplier ON s_suppkey = l_suppkey
      |WHERE rev_micros = (SELECT max(rev_micros) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** q16_supp_variety (J17) — the TPC-H Q16 shape: how many DISTINCT
    * suppliers can source each (brand, size) slice, EXCLUDING a derived
    * deny-list (Q16's "customer complaints" NOT IN subquery — here,
    * suppliers with a max-quantity 'R' return in early 1995). The
    * exclusion is a left_anti against a distinct-key derived set, then a
    * distinct count over the surviving (part, supplier) pairs — lineitem
    * stands in for the partsupp relation (the schema has no partsupp
    * table).
    *
    * Scale: the deny-list is |suppliers|-bounded (broadcastable at any
    * SF) and derives from a scan-pruned slice (returnflag + quantity +
    * date window reach parquet as PushedFilters); the fact crosses
    * exactly ONE exchange.
    */
  def q16SuppVariety(spark: SparkSession, dir: String): DataFrame = {
    // ONE fact exchange total (r10, replacing the r9 one-scan form that
    // was 0.93-1.06 s / 12x: it paid THREE fact-sized exchanges — pair
    // aggregate, per-suppkey window, distinct-count clustering — to save
    // one scan-pruned re-read). Here both broadcasts (deny-list, filtered
    // part) apply map-side BEFORE the only aggregate, so the sole
    // exchange is the (brand, size, suppkey) distinct-count clustering of
    // the part-filtered fact, partially deduped map-side. The deny-list
    // re-reads lineitem through pushed filters — a 3-column pruned scan
    // is cheaper than re-clustering the full pair frame by suppkey at
    // any scale (A/B'd r9→r10: 0.93 s → measured below).
    val deny = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R" && col("l_quantity") >= 50 &&
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-03-01").cast("timestamp"))
      .select(col("l_suppkey")).distinct()
    val p = Tables.part(spark, dir)
      .filter(col("p_type").isin("SMALL", "MEDIUM"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(deny), Seq("l_suppkey"), "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
      .limit(30)
  }

  val q16SuppVarietySql: String =
    """WITH deny AS (
      |  SELECT DISTINCT l_suppkey FROM lineitem
      |  WHERE l_returnflag = 'R' AND l_quantity >= 50
      |    AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1995-03-01 00:00:00')
      |SELECT p_brand, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_type IN ('SMALL', 'MEDIUM')
      |  AND l_suppkey NOT IN (SELECT l_suppkey FROM deny)
      |GROUP BY 1, 2
      |ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 30""".stripMargin

  /** q4_priority_exists (J18) — the TPC-H Q4 shape: order-priority census
    * over a quarter, counting only orders where EXISTS a late lineitem.
    * The schema has no commit/receipt dates, so "late" is a line shipped
    * more than 60 days after the order date — which makes the EXISTS
    * predicate CORRELATED on a non-key column (o_orderdate), the part of
    * Q4's shape J3's plain semi-join rows don't cover: the quantifier
    * condition references both sides, so it rides the join condition of
    * the left_semi (Catalyst evaluates it inside the join, no
    * post-filter materialization of matches).
    *
    * Scale: the quarter slice prunes orders at the scan (~1/28 of the
    * date domain); lineitem enters the semi-join as a 2-column
    * projection. Both sides exchange on orderkey (AQE picks the
    * broadcast form when the slice fits); the priority census after the
    * semi-join is 5 rows.
    */
  def q4PriorityExists(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-10-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4PriorityExistsSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q6_forecast_revenue (A42) — the TPC-H Q6 shape: the pure
    * scan-pruned GLOBAL aggregate (no grouping at all), the simplest
    * query in the suite and the one that most directly measures whether
    * filters reach the reader. All three predicates (date window,
    * discount band, quantity cap) land in PushedFilters; the revenue
    * forecast `Σ price·discount` accumulates as exact 6dp-micro integers
    * (splitSum) so the 1-row answer is engine-identical.
    *
    * Scale: map-side partial aggregation reduces every partition to one
    * (hi, lo, count) triple — the exchange moves |partitions| rows
    * regardless of input size. This is the floor query: nothing but
    * scan + codegen'd filter + partial agg.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(splitSum(scaledLong(col("l_extendedprice") * col("l_discount"),
          1000000L)).cast("long").as("revenue_micros"),
        count(lit(1)).as("n_lines"))
  }

  val q6ForecastRevenueSql: String =
    """SELECT
      |  CAST(SUM(CAST(round(l_extendedprice * l_discount * 1000000)
      |    AS BIGINT)) AS BIGINT) AS revenue_micros,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** q9_nation_profit (A43) — the TPC-H Q9 shape: product-line PROFIT per
    * (nation, year) with a computed measure spanning two tables
    * (revenue from lineitem minus a cost term priced off the part dim;
    * the schema has no partsupp, so cost = 50% of retail price ×
    * quantity). The name-substring part filter ('%gear%') is the
    * classic non-sargable LIKE — it prunes AFTER the scan but BEFORE the
    * join, so the fact joins only matching parts' lines.
    *
    * Scale: part (filtered) and supplier→nation are dimension legs —
    * the planner broadcasts them while they fit and AQE swaps to shuffle
    * beyond that (no forced hints); the profit expression folds into the
    * scan projection as exact micros; the (nation, year) aggregate is
    * 25×|years| rows.
    */
  def q9NationProfit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_name").like("%gear%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sn = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .select(col("n_name").as("nation"),
        year(col("l_shipdate")).cast("long").as("o_year"),
        (scaledLong(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          1000000L) -
         scaledLong(col("p_retailprice") * col("l_quantity") * lit(0.5),
          1000000L)).as("amount_micros"))
      .groupBy(col("nation"), col("o_year"))
      .agg(splitSum(col("amount_micros")).cast("long").as("profit_micros"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9NationProfitSql: String =
    """SELECT n_name AS nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS o_year,
      |  CAST(SUM(
      |    CAST(round(l_extendedprice * (1 - l_discount) * 1000000)
      |      AS BIGINT) -
      |    CAST(round(p_retailprice * l_quantity * 0.5 * 1000000)
      |      AS BIGINT)) AS BIGINT) AS profit_micros,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE p_name LIKE '%gear%'
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  /** q12_shipmode_priority (A45) — the TPC-H Q12 shape: per-category
    * census of HIGH vs LOW priority lines among late shipments (the
    * two-conditional-sum pivot over a joined predicate). The schema has
    * no shipmode or receiptdate, so the category is l_returnflag and
    * "late" is shipped >90 days after the order date — the shape is the
    * point: a fact⋈fact-key join whose AGGREGATE classifies on a column
    * from the OTHER side (o_orderpriority pivots lineitem rows).
    *
    * Scale: both scans prune (lineitem to the year window + the join
    * keeps only late lines); the join exchanges on orderkey; the
    * conditional sums are map-side partials over 3 groups.
    */
  def q12ShipmodePriority(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(o, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  val q12ShipmodePrioritySql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q20_excess_suppliers (J19) — the TPC-H Q20 shape: suppliers elected
    * by comparing THEIR aggregate against a per-part aggregate threshold
    * (Q20's "availqty > half the year's demand"; no partsupp table, so
    * the election is "shipped >30% of the part's annual volume" — a
    * dominance census). The nesting is the point: agg → per-group
    * threshold → filter → DISTINCT census up the supplier dim.
    *
    * Scale: ONE fact exchange total — repartition(partkey) satisfies
    * the (partkey, suppkey) aggregate (subset clustering), the per-part
    * total is a WINDOW over the same partitioning (no self-join, no
    * second exchange), and the integer cross-multiply q·10 > tq·3
    * avoids division. The supplier join is dimension-sized.
    */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(spark, dir)
      .filter(col("p_name").like("small%")).select(col("p_partkey"))
    val ship = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(scaledLong(col("l_quantity"), 1L)).as("q"))
    val dom = ship
      .withColumn("tq", sum(col("q"))
        .over(Window.partitionBy(col("l_partkey"))))
      .filter(col("q") * 10 > col("tq") * 3)
    dom.groupBy(col("l_suppkey"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .join(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_parts"))
      .orderBy(col("s_suppkey"))
  }

  val q20ExcessSuppliersSql: String =
    """WITH ship AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_name LIKE 'small%'
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY 1, 2),
      |w AS (SELECT l_partkey, l_suppkey, q,
      |    SUM(q) OVER (PARTITION BY l_partkey) AS tq FROM ship)
      |SELECT s_suppkey, s_name, count(DISTINCT l_partkey) AS n_parts
      |FROM w JOIN supplier ON s_suppkey = l_suppkey
      |WHERE q * 10 > tq * 3
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("q4_priority_exists", q4PriorityExists, q4PriorityExistsSql),
    Query("q6_forecast_revenue", q6ForecastRevenue, q6ForecastRevenueSql),
    Query("q9_nation_profit", q9NationProfit, q9NationProfitSql),
    Query("q12_shipmode_priority", q12ShipmodePriority, q12ShipmodePrioritySql),
    Query("q20_excess_suppliers", q20ExcessSuppliers, q20ExcessSuppliersSql),
    Query("q15_top_supplier", q15TopSupplier, q15TopSupplierSql),
    Query("q16_supp_variety", q16SuppVariety, q16SuppVarietySql),
    Query("q7_volume_shipping", q7VolumeShipping, q7VolumeShippingSql),
    Query("q8_market_share", q8MarketShare, q8MarketShareSql),
    Query("q10_returned_top", q10ReturnedTop, q10ReturnedTopSql),
    Query("q14_promo_share", q14PromoShare, q14PromoShareSql),
    Query("q17_small_qty_rev", q17SmallQtyRev, q17SmallQtyRevSql),
    Query("q18_big_orders", q18BigOrders, q18BigOrdersSql),
    Query("q13_order_dist", q13OrderDist, q13OrderDistSql),
    Query("q2_min_cost_supp", q2MinCostSupp, q2MinCostSuppSql),
    Query("q21_sole_returner", q21SoleReturner, q21SoleReturnerSql),
    Query("q22_dormant_value", q22DormantValue, q22DormantValueSql),
    Query("q19_disjunction", q19Disjunction, q19DisjunctionSql),
    Query("q1_pricing", q1Pricing, q1PricingSql),
    Query("filter_pushdown", filterPushdown, filterPushdownSql),
    Query("agg_distinct", aggDistinct, aggDistinctSql),
    Query("date_buckets", dateBuckets, dateBucketsSql),
    Query("q3_join_topk", q3JoinTopk, q3JoinTopkSql))
}
