package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det._

/** Scalar-function surface sweep (SURVEY.md §2.7): one query per family
  * exercising the string and date/time builtin sets end-to-end, over the
  * `part` and `orders` tables. All chosen functions have name-and-
  * semantics-identical DuckDB twins (the BSON→SQL type-mapping layer of
  * the reference domain is exactly this function surface).
  *
  * Scale note: pure per-row projections — codegen'd, no shuffle except the
  * final presentation ORDER BY; at 100 TB these ride along existing scans.
  */
object Scalar {

  /** string_funcs — regexp extraction/replacement, padding, translate,
    * repeat/reverse, substring/position arithmetic over part names.
    */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    p.select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "#(\\d+)", 1).as("brand_num"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        lpad(col("p_brand"), 12, ".").as("padded"),
        translate(col("p_type"), "AEIOU", "aeiou").as("translated"),
        reverse(col("p_name")).as("reversed"),
        substring(col("p_name"), 3, 5).as("mid"),
        instr(col("p_type"), "ED").cast("long").as("ed_pos"),
        length(concat_ws("|", col("p_brand"), col("p_type")))
          .cast("long").as("cat_len"),
        upper(trim(col("p_name"))).as("upper_name"))
      .orderBy(col("p_partkey"))
  }

  val stringFuncsSql: String =
    """SELECT p_partkey,
      |  regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      |  lpad(p_brand, 12, '.') AS padded,
      |  translate(p_type, 'AEIOU', 'aeiou') AS translated,
      |  reverse(p_name) AS reversed,
      |  substring(p_name, 3, 5) AS mid,
      |  CAST(strpos(p_type, 'ED') AS BIGINT) AS ed_pos,
      |  CAST(length(p_brand || '|' || p_type) AS BIGINT) AS cat_len,
      |  upper(trim(p_name)) AS upper_name
      |FROM part ORDER BY p_partkey""".stripMargin

  /** date_funcs — truncation, component extraction, day arithmetic,
    * epoch round-trips, and date diffs over order dates.
    */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(
        col("o_orderkey"),
        fmtTs(date_trunc("month", col("o_orderdate"))).as("month_start"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        weekofyear(col("o_orderdate")).cast("long").as("woy"),
        fmtDate(date_add(col("o_orderdate").cast("date"), 30)).as("plus30"),
        datediff(lit("1998-12-31").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("days_to_eoy"),
        (unix_timestamp(col("o_orderdate")) % 86400L).as("secs_into_day"))
      .orderBy(col("o_orderkey"))
      .limit(5000)
  }

  val dateFuncsSql: String =
    s"""SELECT o_orderkey,
       |  ${sqlFmtTs("date_trunc('month', o_orderdate)")} AS month_start,
       |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
       |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
       |  CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
       |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
       |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy,
       |  CAST(epoch(o_orderdate) AS BIGINT) % 86400 AS secs_into_day
       |FROM orders ORDER BY o_orderkey LIMIT 5000""".stripMargin

  /** date_business_days (C7) — BUSINESS-DAY arithmetic, the calendar
    * capability every ops/SLA report needs and no engine ships as a
    * builtin: shipping delay between order date and line ship date in
    * weekdays, via the closed form g(d) = 5·(d div 7) + least(d mod 7, 5)
    * where d = days since Monday 1990-01-01 (an anchor before every
    * TPC-H date keeps d non-negative, so div/mod truncation semantics
    * never diverge between engines — the A17 dow lesson). busdays(a→b) =
    * g(b) − g(a): pure integer arithmetic per row, no calendar table, no
    * UDF, identical text in both engines. Per order priority: exact mean
    * delay in calendar and business days (cent-precision via ×100 div)
    * and the max.
    *
    * Scale: map-side projections + one |priorities|-row aggregate over
    * the lineitem⋈orders backbone — the join every pricing query pays.
    */
  def dateBusinessDays(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    def days(c: org.apache.spark.sql.Column) =
      datediff(to_date(c), lit("1990-01-01").cast("date")).cast("long")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        days(col("l_shipdate")).as("ds"),
        days(col("o_orderdate")).as("dd"))
      .select(col("o_orderpriority"),
        (col("ds") - col("dd")).as("cal_d"),
        expr("(5 * (ds div 7) + least(ds % 7, 5))" +
          " - (5 * (dd div 7) + least(dd % 7, 5))").as("bus_d"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        expr("sum(cal_d) * 100 div count(1)").as("mean_cal_centidays"),
        expr("sum(bus_d) * 100 div count(1)").as("mean_bus_centidays"),
        max(col("cal_d")).as("max_cal_d"),
        max(col("bus_d")).as("max_bus_d"))
      .orderBy(col("o_orderpriority"))
  }

  val dateBusinessDaysSql: String = {
    def days(c: String) =
      s"CAST(date_diff('day', DATE '1990-01-01', CAST($c AS DATE)) AS BIGINT)"
    def g(d: String) = s"(5 * (($d) // 7) + least(($d) % 7, 5))"
    s"""WITH j AS (SELECT o_orderpriority,
       |    ${days("l_shipdate")} - ${days("o_orderdate")} AS cal_d,
       |    ${g(days("l_shipdate"))} - ${g(days("o_orderdate"))} AS bus_d
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       |SELECT o_orderpriority, count(*) AS n_lines,
       |  CAST(sum(cal_d) * 100 // count(*) AS BIGINT)
       |    AS mean_cal_centidays,
       |  CAST(sum(bus_d) * 100 // count(*) AS BIGINT)
       |    AS mean_bus_centidays,
       |  CAST(max(cal_d) AS BIGINT) AS max_cal_d,
       |  CAST(max(bus_d) AS BIGINT) AS max_bus_d
       |FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  lazy val registry: Seq[Query] = Seq(
    Query("string_funcs", stringFuncs, stringFuncsSql),
    Query("date_funcs", dateFuncs, dateFuncsSql),
    Query("date_business_days", dateBusinessDays, dateBusinessDaysSql))
}
