package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Query
import graft.Tables
import graft.functions.Det._

/** SURVEY.md §3.2 entry point (c) — the SQL-TEXT surface of the engine.
  *
  * Users of an analytics engine type SQL; until round 8 the only public
  * entry was the Scala `SparkEntry.queries` map. This module registers the
  * ten catalog tables as session temp views and runs representative queries
  * through `spark.sql(...)` — the full parser → analyzer → optimizer path,
  * exercising the same Catalyst machinery external SQL clients would hit.
  *
  * Each suite query is ONE SQL string in the engine-common ANSI dialect,
  * executed VERBATIM by both Spark and the DuckDB oracle: the string
  * itself is the correctness contract (no Scala twin to drift from). The
  * determinism conventions (graft.functions.Det) hold in common dialect:
  * `CAST(round(x*100) AS BIGINT)` scales each row half-away-from-zero in
  * both engines, integer sums are order-independent (Spark i64 / DuckDB
  * HUGEINT — equal while the total fits i64, bound ~9e9 money rows), and
  * the final CAST-to-double + divide is the same correctly-rounded op
  * pair. Timestamp OUTPUTS are avoided (formatting functions differ);
  * timestamp LITERALS in predicates are ANSI and engine-identical.
  *
  * Scale: the views are the same cached relations every Scala operator
  * reads (Tables.load / Tables.events), so the SQL path inherits pushdown,
  * pruning, AQE, and the session's partitioning configuration unchanged —
  * `spark.sql` text plans through the identical physical machinery
  * (PlanSpec's suite-wide invariants cover these queries like any other).
  */
object SqlSuite {

  /** Register the ten tables as session temp views, idempotently. Events
    * registers the timestamp-NORMALIZED frame (Tables.events) — the
    * engine's canonical view of that table, layout-independent across
    * driver testdata revisions.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(n => Tables.load(spark, dir, n).createOrReplaceTempView(n))
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  private def run(q: String)(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(q)
  }

  /** sql_q1 — the flagship pricing aggregate THROUGH THE PARSER: the exact
    * oracle string of q1_pricing, now also the Spark-side query text. Rows
    * hash-match q1_pricing's DataFrame formulation by construction.
    */
  val sqlQ1: String = Relational.q1PricingSql

  /** sql_q5 — the six-table star join through the parser (q5_multijoin's
    * oracle string verbatim; Catalyst broadcasts the dims from the SQL
    * text exactly as it does from the DataFrame plan).
    */
  val sqlQ5: String = Joins.q5MultijoinSql

  /** sql_window — ranking window through the parser: top-2 orders per
    * customer by price. Total order (price DESC, key ASC); BIGINT cast on
    * row_number keeps the arrow families aligned.
    */
  val sqlWindow: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |      FROM orders)
      |WHERE rnk <= 2
      |ORDER BY o_custkey, rnk""".stripMargin

  /** sql_subquery_agg — scalar subquery through the parser: order-priority
    * mix of above-average-priced orders; the average is the exact
    * fixed-point mean so both engines compare against the identical
    * threshold.
    */
  val sqlSubqueryAgg: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders
       |FROM orders
       |WHERE o_totalprice > (SELECT ${sqlDsum("o_totalprice")} / COUNT(*)
       |                      FROM orders)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** sql_params — PARAMETERIZED SQL through the parser (the
    * prepared-statement surface every SQL client and BI tool issues):
    * the query text carries named parameter markers (:min_price,
    * :status, :cutoff) and the literals bind at execution via Spark 4's
    * `spark.sql(text, args)` — the markers survive parsing as
    * `Parameter` nodes and bind BEFORE analysis, so the bound plan is
    * byte-identical to the inlined one (constant folding, pushdown, and
    * partition pruning all see real literals — binding never defeats
    * the optimizer). The oracle runs the same query with the literals
    * inlined: the hash-match proves bind ≡ inline.
    */
  val sqlParamsText: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS total_value
       |FROM orders
       |WHERE o_totalprice >= :min_price AND o_orderstatus = :status
       |  AND o_orderdate < CAST(:cutoff AS TIMESTAMP)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  def sqlParams(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(sqlParamsText, Map(
      "min_price" -> 50000.0,
      "status" -> "F",
      "cutoff" -> "1996-06-01 00:00:00"))
  }

  val sqlParamsOracle: String = sqlParamsText
    .replace(":min_price", "50000.0")
    .replace(":status", "'F'")
    .replace(":cutoff", "'1996-06-01 00:00:00'")

  /** sql_recursive — WITH RECURSIVE through the parser (Spark 4's
    * recursive-CTE surface, the last classic ANSI shape the suite lacked):
    * every customer walks its decimal-radix ancestor chain (parent =
    * floor(key/10) — the org-hierarchy / folder-tree rollup idiom on a
    * derived parent relation), and the per-depth census aggregates the
    * chain rows. ONE text, two engines, verbatim: `/` on BIGINT is double
    * division in both dialects, floor + CAST is exact below 2^53, and the
    * census is all-integer. Recursion depth is log10(maxkey) (~5), so the
    * iterative union runs a bounded handful of steps at ANY scale — the
    * shape survives 100 TB because depth grows with log(keyspace), not
    * rows; each step is one narrow self-union over the frontier.
    */
  val sqlRecursive: String =
    """WITH RECURSIVE chain AS (
      |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth
      |  FROM customer
      |  UNION ALL
      |  SELECT node, CAST(floor(cur / 10) AS BIGINT) AS cur,
      |    depth + 1 AS depth
      |  FROM chain WHERE cur > 0)
      |SELECT CAST(depth AS BIGINT) AS depth,
      |  COUNT(*) AS n_chains,
      |  CAST(SUM(cur) AS BIGINT) AS ancestor_key_sum,
      |  CAST(bit_xor(node * 31 + cur) AS BIGINT) AS pair_xor
      |FROM chain GROUP BY depth ORDER BY depth""".stripMargin

  /** sql_pivot — SQL-standard PIVOT through the parser (the
    * spreadsheet-shaped readout BI tools generate), ONE text verbatim in
    * both engines: the aliased IN-list (`'O' AS n_open`) names the output
    * columns identically — the unaliased form would leave each engine to
    * invent its own column names (and Spark backticks vs DuckDB double
    * quotes make quoting non-portable). The DataFrame twin is
    * pivot_segment; this row pins the PARSER surface. Plans exactly like
    * groupBy(priority).pivot(status): one scan, domain-sized output.
    */
  val sqlPivot: String =
    """SELECT o_orderpriority, n_open, n_filled, n_pending
      |FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
      |PIVOT (count(1) FOR o_orderstatus
      |       IN ('O' AS n_open, 'F' AS n_filled, 'P' AS n_pending))
      |ORDER BY o_orderpriority""".stripMargin

  /** sql_lateral — correlated LATERAL subquery through the parser (the
    * ANSI per-row-subplan shape every federated tool generates for
    * "top/agg per outer row"): each nation evaluates a correlated
    * aggregate over its customers. Catalyst decorrelates the lateral into
    * a plain aggregate + join (DomainJoin elimination) — per-outer-row
    * re-execution never happens, which is why the shape survives scale.
    * COALESCE pins the empty-group row (a lateral, unlike a bare
    * correlated scalar, preserves outer rows with no matches via the
    * implicit cross apply — both engines agree). One text, two engines.
    */
  val sqlLateral: String =
    """SELECT n_name, t.n_cust, t.bal_cents
      |FROM nation, LATERAL (
      |  SELECT count(*) AS n_cust,
      |    COALESCE(CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
      |      AS BIGINT), 0) AS bal_cents
      |  FROM customer WHERE c_nationkey = n_nationkey) t
      |ORDER BY n_name""".stripMargin

  /** The SAME strings are the oracle — one text, two engines (sql_params
    * binds at execution; its oracle is the inlined text).
    */
  lazy val registry: Seq[Query] = Seq(
    Query("sql_pivot", run(sqlPivot), sqlPivot),
    Query("sql_lateral", run(sqlLateral), sqlLateral),
    Query("sql_recursive", run(sqlRecursive), sqlRecursive),
    Query("sql_q1", run(sqlQ1), sqlQ1),
    Query("sql_q5", run(sqlQ5), sqlQ5),
    Query("sql_window", run(sqlWindow), sqlWindow),
    Query("sql_subquery_agg", run(sqlSubqueryAgg), sqlSubqueryAgg),
    Query("sql_params", sqlParams, sqlParamsOracle))
}
