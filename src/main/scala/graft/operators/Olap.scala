package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det._

/** OLAP extras: approximate distinct, rollup/grouping sets, collect
  * aggregation, and the batch twins of the streaming window operators
  * (SURVEY.md §2.4 A3-A6, §2.9 ST1-ST3).
  *
  * Scale notes (100 TB): approx_count_distinct carries a constant-size HLL
  * sketch through partial aggregation (the only way distinct-count scales);
  * rollup expands rows before the shuffle but partial agg still collapses
  * per grouping set; tumbling/sliding buckets are pure projections so the
  * shuffle keys on (bucket, type) with full map-side combine.
  */
object Olap {

  /** agg_approx_distinct — HLL approximate distinct next to the exact
    * count; the oracle checks the exact column and that Spark's HLL landed
    * within ±10% (DuckDB's own HLL differs, so the bound — not the sketch
    * value — is the cross-engine contract).
    */
  /** agg_approx_percentile (A46) — approximate QUANTILE sketch with an
    * error CONTRACT, the quantile twin of A3's HLL row: Spark's
    * percentile_approx (Greenwald-Khanna, rank error ≤ n/accuracy) runs
    * against an EXACT integer-domain p90 computed independently, and the
    * compared claim is the accuracy bound (|approx − exact| within 5% of
    * the exact value, floor 1.00) — sketch internals are engine-specific,
    * so the oracle emits the bound as a constant, same contract as
    * agg_approx_distinct/agg_sketch_rollup.
    *
    * The exact side never sorts raw rows: a (type, cents) VALUE-DOMAIN
    * census + cumulative window picks the smallest value whose cumulative
    * count clears 90% by integer cross-multiply (cum·10 ≥ total·9) — the
    * same no-global-sort discipline as A10's histogram quantile, exact
    * here because money lives on an integer domain.
    *
    * Scale: census is |types|×|distinct cents| (bounded by the value
    * domain, not row count); the sketch side is a mergeable map-side
    * partial. This is how a 100-TB latency/amount dashboard serves p90s —
    * the exact twin exists to PROVE the bound.
    */
  def aggApproxPercentile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), scaledLong(col("value"), 100L).as("cents"))
    val census = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("event_type"))
    val exact = census
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("total", sum(col("cnt")).over(tot))
      .groupBy(col("event_type"))
      .agg(min(when(col("cum") * 10 >= col("total") * 9, col("cents")))
          .as("exact_p90_cents"),
        sum(col("cnt")).as("n_events"))
    val approx = e.groupBy(col("event_type"))
      .agg(percentile_approx(col("cents"), lit(0.9), lit(10000))
        .as("approx_p90"))
    exact.join(approx, Seq("event_type"))
      .withColumn("approx_within_5pct",
        abs(col("approx_p90") - col("exact_p90_cents")).cast("double") <=
          greatest(lit(100.0), col("exact_p90_cents") * 0.05))
      .drop("approx_p90")
      .orderBy(col("event_type"))
  }

  val aggApproxPercentileSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, cents,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS total, cnt
      |  FROM c)
      |SELECT event_type,
      |  CAST(min(CASE WHEN cum * 10 >= total * 9 THEN cents END)
      |    AS BIGINT) AS exact_p90_cents,
      |  CAST(SUM(cnt) AS BIGINT) AS n_events,
      |  true AS approx_within_5pct -- oracle CONSTANT by contract (A3
      |  -- idiom): the GK sketch is engine-specific; Spark must still run
      |  -- it and prove |approx - exact| <= max(1.00, 5%) to emit `true`
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** agg_weighted_median (A47) — WEIGHTED percentile: the median unit
    * price per return flag where each price counts with its line's
    * QUANTITY (the "median dollar's price", not the median line's) — the
    * volume-weighted readout SLO/latency and pricing dashboards use when
    * rows carry unequal mass. Same value-domain discipline as A46: a
    * (flag, cents) census aggregates the WEIGHT, a cumulative walks the
    * integer domain, and the pick is the smallest value whose cumulative
    * weight clears half by integer cross-multiply (cumw·2 ≥ totw) —
    * exact, sort-free over raw rows, engine-identical.
    *
    * The cumulative is DOMAIN-SHARDED with carried offsets on ONE fact
    * exchange (r10, replacing the r9 per-flag window whose 3 partitions
    * were a parallelism cliff on 32 cores — 1.81 s committed): raw rows
    * repartition ONCE by (flag, shard) where shard = cents div 2^18
    * (~40 fixed ranges per flag), and every downstream step — the
    * (flag, shard, cents) census, the intra-shard running sum, the
    * per-shard mass totals — requires only clustering on a SUPERSET of
    * those keys, which the subset-key rule satisfies without further
    * exchange. The cross-shard carry comes from the |shards|-sized mass
    * frame (prior-shard offset + per-flag total, windowed on ~120 rows)
    * broadcast back. Interleaved A/B min-of-7 at sf0.1: per-flag window
    * 1.64 s, census-then-reshard 1.93 s (a SECOND census-sized exchange
    * — rejected), this one-exchange form 1.16 s.
    *
    * r12 anomaly closure (r11 verdict task 1): both r11 bench runs read
    * 1.47–1.66 s on this UNCHANGED code where r10's artifact said 0.90 —
    * re-measured r12 in a quiet window (1-min load 0.08 at launch):
    * 0.749 s min-of-7, shuffled order. The r11 readings were ambient-load
    * artifacts (pass_load 3.3–3.8 during those runs), not a plan
    * regression; no code change needed.
    *
    * Scale: census size is bounded by the price domain per flag, not row
    * count; the shard width is static so the shard count grows with the
    * VALUE DOMAIN only; weights sum in i64 (quantities integral).
    */
  def aggWeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        scaledLong(col("l_extendedprice"), 100L).as("cents"),
        scaledLong(col("l_quantity"), 1L).as("w"))
      .withColumn("shard", (col("cents") / lit(262144L)).cast("long"))
      .repartition(col("l_returnflag"), col("shard"))
    val census = li.groupBy(col("l_returnflag"), col("shard"), col("cents"))
      .agg(sum(col("w")).as("wsum"))
    // tiny per-(flag, shard) mass frame: prior-shard offset + flag total
    val shards = census.groupBy(col("l_returnflag"), col("shard"))
      .agg(sum(col("wsum")).as("ssum"))
    val wOff = Window.partitionBy(col("l_returnflag")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = shards
      .withColumn("off", coalesce(sum(col("ssum")).over(wOff), lit(0L)))
      .withColumn("totw",
        sum(col("ssum")).over(Window.partitionBy(col("l_returnflag"))))
      .select(col("l_returnflag"), col("shard"), col("off"), col("totw"))
    val intra = Window.partitionBy(col("l_returnflag"), col("shard"))
      .orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("icum", sum(col("wsum")).over(intra))
      .join(broadcast(off), Seq("l_returnflag", "shard"))
      .groupBy(col("l_returnflag"))
      .agg(min(when((col("icum") + col("off")) * 2 >= col("totw"),
          col("cents"))).as("weighted_median_cents"),
        max(col("totw")).as("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  val aggWeightedMedianSql: String =
    """WITH c AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wsum
      |  FROM lineitem GROUP BY 1, 2),
      |w AS (SELECT l_returnflag, cents,
      |    SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY cents)
      |      AS cumw,
      |    SUM(wsum) OVER (PARTITION BY l_returnflag) AS totw
      |  FROM c)
      |SELECT l_returnflag,
      |  CAST(min(CASE WHEN cumw * 2 >= totw THEN cents END) AS BIGINT)
      |    AS weighted_median_cents,
      |  CAST(max(totw) AS BIGINT) AS total_weight
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("approx_users_raw"),
        count(lit(1)).as("n_events"))
      .withColumn("approx_within_10pct",
        abs(col("approx_users_raw") - col("exact_users")) <=
          col("exact_users") * 0.1)
      .drop("approx_users_raw")
      .orderBy(col("event_type"))
  }

  val aggApproxDistinctSql: String =
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  COUNT(*) AS n_events,
      |  true AS approx_within_10pct -- oracle CONSTANT by contract: the
      |  -- sketch estimate is engine-specific, so the compared claim is
      |  -- the ACCURACY BOUND — Spark must still run its HLL sketch and
      |  -- prove |approx - exact| <= 10% per group to produce `true`
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** agg_sketch_rollup (A8) — MERGEABLE distinct sketches, the idiom that
    * makes approximate distinct re-aggregable over pre-computed partials:
    * one Datasketches HLL sketch per (event_type, day) cube cell, then a
    * per-type `hll_union_agg` over the daily sketches — no second pass
    * over raw events. The estimate from the MERGED sketch must land
    * within 10% of the exact distinct (computed independently); as with
    * agg_approx_distinct, the cross-engine contract is the accuracy bound
    * (the oracle emits the bound as a constant), because sketch bytes are
    * engine-specific.
    *
    * Scale: this is how 100-TB cubes serve "distinct users last N days" —
    * daily sketches are a few KB per cell, union is associative and
    * commutative, so any rollup (week/month/segment) re-aggregates from
    * partials. The exact twin column here exists only to PROVE the bound;
    * a deployment materializes the sketch column alone.
    */
  def aggSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val daily = e.groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("est"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <=
          col("exact_users") * 0.1).as("merged_within_10pct"))
      .orderBy(col("event_type"))
  }

  val aggSketchRollupSql: String =
    """SELECT event_type,
      |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  true AS merged_within_10pct -- oracle CONSTANT by contract (same
      |  -- as agg_approx_distinct): sketch bytes are engine-specific, so
      |  -- the compared claim is the accuracy bound — Spark must build the
      |  -- daily sketches, union them, and prove the merged estimate lands
      |  -- within 10% per group to produce `true`
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** agg_countmin (A14) — Count-Min sketch point-frequency estimation
    * with the estimates themselves oracle-checked: depth 4 × width 256
    * counters, bucket = md5(row ':' key) hex-prefix mod width (the
    * repo-wide deterministic-hash idiom), estimate = MIN over the four
    * rows' counters. Unlike the HLL rows (engine-specific sketch bytes ⇒
    * the oracle checks only an accuracy BOUND), the CM structure is pure
    * integer arithmetic on a shared hash — DuckDB rebuilds the identical
    * sketch and the per-key ESTIMATES hash-match exactly. The probe set
    * reports exact count, CM estimate, and the overcount (always ≥ 0 —
    * CM never undercounts; the exact column exists to PROVE the
    * estimate, a deployment materializes the 1024 counters alone).
    *
    * Scale (100 TB): the sketch IS the aggregate — 4×256 counters with
    * mergeable partials (map-side combine ⇒ the shuffle carries ≤
    * depth·width rows per partition regardless of stream size), the
    * point-lookup join touches |probes|·depth rows. Per-window sketches
    * merge by counter addition — the same stored-partials rollup story
    * as agg_hist_rollup, at fixed size.
    */
  def aggCountmin(spark: SparkSession, dir: String): DataFrame = {
    val W = 256
    val depth = 4
    // ONE md5 per row, its 32 hex chars carved into `depth` independent
    // 8-char row-hashes (the split-one-hash trick) — 4× fewer digest
    // evaluations than hashing (row, key) pairs, measured 1.15 → 0.86 s
    // at sf0.1 (residual = one md5 per event + the explode + job floor)
    def buckets(key: Column): Column = {
      val h = md5(key.cast("string"))
      array((0 until depth).map(j => struct(lit(j).as("j"),
        (conv(substring(h, 1 + 8 * j, 8), 16, 10).cast("long") % W)
          .as("b"))): _*)
    }
    val e = Tables.events(spark, dir).select(col("user_id"))
    val sk = e.select(explode(buckets(col("user_id"))).as("s"))
      .groupBy(col("s.j").as("j"), col("s.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val s = spark
    import s.implicits._
    val probes = (0L to 9L).toDF("probe")
    val est = probes
      .select(col("probe"), explode(buckets(col("probe"))).as("s"))
      .select(col("probe"), col("s.j").as("j"), col("s.b").as("b"))
      .join(sk, Seq("j", "b"), "left")
      .groupBy(col("probe"))
      .agg(min(coalesce(col("c"), lit(0L))).as("cm_est"))
    val exact = e.filter(col("user_id") <= 9)
      .groupBy(col("user_id").as("probe"))
      .agg(count(lit(1)).as("exact_n"))
    est.join(exact, Seq("probe"), "left")
      .select(col("probe"),
        coalesce(col("exact_n"), lit(0L)).as("exact_n"),
        col("cm_est"),
        (col("cm_est") - coalesce(col("exact_n"), lit(0L))).as("overcount"))
      .orderBy(col("probe"))
  }

  val aggCountminSql: String = {
    // hex slice [8j+1, 8j+8] of an md5 hex column `h` as an integer
    def hex8slice(h: String): String =
      (1 to 8).map(k =>
        s"(strpos('0123456789abcdef', substring($h, 8 * j + $k, 1)) - 1)" +
          s" * ${math.pow(16, 8 - k).toLong}")
        .mkString("(", " + ", ")")
    s"""WITH rows_ AS (SELECT unnest([0, 1, 2, 3]) AS j),
       |eh AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |sk AS (
       |  SELECT j, ${hex8slice("h")} % 256 AS b, COUNT(*) AS c
       |  FROM eh CROSS JOIN rows_
       |  GROUP BY 1, 2),
       |probes AS (SELECT unnest([0,1,2,3,4,5,6,7,8,9]) AS probe),
       |ph AS (SELECT probe, md5(CAST(probe AS VARCHAR)) AS h FROM probes),
       |pb AS (SELECT probe, j, ${hex8slice("h")} % 256 AS b
       |  FROM ph CROSS JOIN rows_),
       |est AS (
       |  SELECT probe, MIN(COALESCE(sk.c, 0)) AS cm_est
       |  FROM pb LEFT JOIN sk ON sk.j = pb.j AND sk.b = pb.b
       |  GROUP BY probe),
       |exact AS (
       |  SELECT user_id AS probe, COUNT(*) AS exact_n
       |  FROM events WHERE user_id <= 9 GROUP BY user_id)
       |SELECT CAST(est.probe AS BIGINT) AS probe,
       |  CAST(COALESCE(exact.exact_n, 0) AS BIGINT) AS exact_n,
       |  CAST(est.cm_est AS BIGINT) AS cm_est,
       |  CAST(est.cm_est - COALESCE(exact.exact_n, 0) AS BIGINT) AS overcount
       |FROM est LEFT JOIN exact ON exact.probe = est.probe
       |ORDER BY probe""".stripMargin
  }

  /** agg_bitmap_distinct — EXACT distinct users per event type via packed
    * 64-bit bitmap words: user ids map to (word = id >> 6, bit = id % 64),
    * a first aggregation bit_ORs each word, a second sums popcounts. The
    * oracle computes the same counts with plain COUNT(DISTINCT), so the
    * hash-match proves the bitmap arithmetic IS the distinct count.
    *
    * Scale: this is the bitmap-index distinct idiom (ClickHouse
    * groupBitmap / Doris BITMAP_UNION): the words are mergeable partial
    * states, so what crosses the shuffle is ≤ |id domain|/64 words per
    * group instead of the raw id stream, and re-aggregation over shards /
    * days composes by bit_or without touching raw data again. Dense int
    * keys pack as here; sparse 64-bit domains swap in roaring bitmaps
    * behind the same algebra.
    */
  def aggBitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("event_type"), shiftright(col("user_id"), 6).as("word_idx"))
      .agg(expr("bit_or(shiftleft(1L, cast(user_id % 64 as int)))").as("bits"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(bit_count(col("bits"))).cast("long").as("n_users"))
      .orderBy(col("event_type"))
  }

  val aggBitmapDistinctSql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id >> 6) AS BIGINT) AS n_words,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** events_bitmap_overlap (A13) — SET ALGEBRA on bitmap indexes: exact
    * per-day audience overlap (users who BOTH clicked and purchased)
    * computed by word-wise AND of the two packed bitmaps, extending A7's
    * single-set popcounts to intersections — the analysis (segment
    * overlap, funnel cross-audience, exact Jaccard) where approximate
    * sketches (A3/A8) stop being usable because HLL intersections via
    * inclusion-exclusion lose their error bound.
    *
    * Scale: raw events collapse to ≤ |id-domain|/64 words per day in one
    * partial-combined shuffle; AND/OR/popcount are word arithmetic on the
    * collapsed frame. Jaccard is emitted in exact integer ppm (BIGINT
    * floor div) — no IEEE division in the compared payload. The oracle
    * recounts from raw (user, day) rows — the hash-match proves the
    * bitmap intersection algebra.
    */
  def eventsBitmapOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("d"),
        shiftright(col("user_id"), 6).as("word_idx"))
      .agg(
        expr("bit_or(CASE WHEN event_type = 'click' " +
          "THEN shiftleft(1L, cast(user_id % 64 as int)) ELSE 0L END)")
          .as("cb"),
        expr("bit_or(CASE WHEN event_type = 'purchase' " +
          "THEN shiftleft(1L, cast(user_id % 64 as int)) ELSE 0L END)")
          .as("pb"))
      .groupBy(col("d"))
      .agg(
        sum(bit_count(col("cb"))).cast("long").as("n_click_users"),
        sum(bit_count(col("pb"))).cast("long").as("n_purchase_users"),
        sum(bit_count(col("cb").bitwiseAND(col("pb")))).cast("long")
          .as("n_both"))
      .select(fmtDate(col("d")).as("day"),
        col("n_click_users"), col("n_purchase_users"), col("n_both"),
        expr("n_both * 1000000 div " +
          "(n_click_users + n_purchase_users - n_both)").as("jaccard_ppm"))
      .orderBy(col("day"))
  }

  val eventsBitmapOverlapSql: String =
    s"""WITH du AS (
       |  SELECT CAST(ts AS DATE) AS d, user_id,
       |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |  GROUP BY 1, 2)
       |SELECT ${sqlFmtDate("d")} AS day,
       |  CAST(SUM(c) AS BIGINT) AS n_click_users,
       |  CAST(SUM(p) AS BIGINT) AS n_purchase_users,
       |  CAST(SUM(c * p) AS BIGINT) AS n_both,
       |  CAST(SUM(c * p) * 1000000 // (SUM(c) + SUM(p) - SUM(c * p))
       |    AS BIGINT) AS jaccard_ppm
       |FROM du GROUP BY d ORDER BY day""".stripMargin

  /** events_sliding_distinct (A9) — EXACT distinct users per 3-hour
    * sliding window (step 1h), computed from MERGEABLE hourly bitmap
    * partials instead of re-scanning raw events per window: one pass
    * builds per-(type, hour) packed 64-bit word bitmaps (the A7 idiom), a
    * map-side ×3 explode assigns each hourly word to the windows it
    * belongs to, bit_or merges words per window, popcount sums. Sliding
    * distinct is THE aggregation that resists naive pre-aggregation
    * (counts don't add across overlapping windows; distinct doesn't
    * decompose) — bitmap algebra is the exact answer, HLL union (A8) the
    * approximate one.
    *
    * Scale: raw events collapse to ≤ |id-domain|/64 words per (type,
    * hour) in the first partial-combined shuffle; window expansion
    * multiplies WORDS (×window/step), never events; the merged words
    * never leave their partition — the domain-sized word frame
    * repartitions ONCE by event_type and every downstream aggregation
    * is (event_type, …)-keyed, so HashPartitioning(event_type)
    * satisfies them all and the plan past that exchange is
    * exchange-free (raw rows never hash to |types| partitions — only
    * word partials do). The hours/expansion consumers share the word
    * subtree via ReusedExchange instead of a checkpoint: measured
    * (interleaved same-JVM A/B, min of 7) 1.21 → 0.92 s at sf0.1 vs
    * the pinned-frame shape. The oracle recounts every window from raw
    * rows — the hash-match proves the window algebra.
    */
  def eventsSlidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hourly = e
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        shiftright(col("user_id"), 6).as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(user_id % 64 as int)))")
        .as("bits"))
      .repartition(col("event_type"))
    // real event hours: written against the partials, though column
    // pruning rewrites this branch into its own narrow scan+agg chain
    // (no bits), so the corpus IS read twice — the r9 plan audit
    // confirmed it, and the pinned-frame alternative that would read
    // once still measured WORSE (0.92 vs 1.21 s interleaved: the
    // checkpoint job + lost codegen fusion cost more than the narrow
    // second scan). Declared floor; exchange count pinned in PlanSpec.
    val hours = hourly.select(col("h").as("we")).distinct()
    val expanded = hourly.select(col("event_type"),
        explode(array(col("h"),
          col("h") + expr("INTERVAL 1 HOUR"),
          col("h") + expr("INTERVAL 2 HOURS"))).as("we"),
        col("w"), col("bits"))
      // expansion can mint window ends past the data's last hour — keep
      // only window ends that are real event hours (tiny broadcast set)
      .join(broadcast(hours), Seq("we"), "left_semi")
    expanded.groupBy(col("event_type"), col("we"), col("w"))
      .agg(expr("bit_or(bits)").as("b"))
      .groupBy(col("event_type"), col("we"))
      .agg(sum(bit_count(col("b"))).cast("long").as("n_users"))
      .select(col("event_type"), fmtTs(col("we")).as("window_end"),
        col("n_users"))
      .orderBy(col("event_type"), col("window_end"))
  }

  val eventsSlidingDistinctSql: String =
    s"""WITH hours AS (
       |  SELECT DISTINCT date_trunc('hour', ts) AS h FROM events)
       |SELECT e.event_type, ${sqlFmtTs("hours.h")} AS window_end,
       |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
       |FROM events e JOIN hours
       |  ON date_trunc('hour', e.ts)
       |     BETWEEN hours.h - INTERVAL 2 HOUR AND hours.h
       |GROUP BY e.event_type, hours.h
       |ORDER BY e.event_type, window_end""".stripMargin

  /** agg_rollup — ROLLUP(year, priority) with per-column GROUPING flags;
    * subtotal rows carry NULL keys, so the final sort pins NULLS FIRST on
    * both engines.
    */
  def aggRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderpriority"), col("o_totalprice"))
    o.rollup(col("yr"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("revenue"),
        grouping(col("yr")).cast("long").as("g_yr"),
        grouping(col("o_orderpriority")).cast("long").as("g_prio"))
      .orderBy(col("yr").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val aggRollupSql: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
       |  COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS revenue,
       |  CAST(GROUPING(CAST(year(o_orderdate) AS BIGINT)) AS BIGINT) AS g_yr,
       |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
       |FROM orders
       |GROUP BY ROLLUP(CAST(year(o_orderdate) AS BIGINT), o_orderpriority)
       |ORDER BY yr NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** agg_collect — document re-assembly: per-nation sorted list of supplier
    * names, exposed as its joined-string image plus the list length (the
    * raw ArrayType column is built but NOT emitted: collection columns in
    * the compared output would couple the oracle to engine physical
    * encodings — the driver's checker can't sort/hash array cells).
    */
  def aggCollect(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    s.groupBy(col("s_nationkey"))
      .agg(
        sort_array(collect_list(col("s_name"))).as("suppliers"),
        count(lit(1)).as("n_suppliers"))
      .withColumn("suppliers_csv", array_join(col("suppliers"), ","))
      .select(col("s_nationkey"), col("n_suppliers"), col("suppliers_csv"))
      .orderBy(col("s_nationkey"))
  }

  val aggCollectSql: String =
    """SELECT s_nationkey,
      |  COUNT(*) AS n_suppliers,
      |  string_agg(s_name, ',' ORDER BY s_name) AS suppliers_csv
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** events_tumbling_1h — batch twin of the 1-hour tumbling window
    * aggregation (streaming form: window($"ts","1 hour") + watermark, in
    * graft.streaming). Epoch-aligned hourly buckets == date_trunc('hour').
    */
  def eventsTumbling1h(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .select(
        fmtTs(col("window.start")).as("win_start"), col("event_type"),
        col("n_events"), col("n_users"), col("total_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  val eventsTumbling1hSql: String =
    s"""SELECT ${sqlFmtTs("date_trunc('hour', ts)")} AS win_start, event_type,
       |  COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  ${sqlDsum("value")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** events_sliding — batch twin of the sliding window (1h size, 15min
    * slide): each event lands in 4 windows. The DuckDB twin expands windows
    * with a 4-row offset dim — same multiplicity, same buckets.
    */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(
        fmtTs(col("window.start")).as("win_start"),
        col("n_events"), col("total_value"))
      .orderBy(col("win_start"))
  }

  val eventsSlidingSql: String =
    s"""SELECT ${sqlFmtTs("time_bucket(INTERVAL '15 minutes', ts) - j * INTERVAL '15 minutes'")} AS win_start,
       |  COUNT(*) AS n_events,
       |  ${sqlDsum("value")} AS total_value
       |FROM events, (VALUES (0), (1), (2), (3)) AS offs(j)
       |GROUP BY 1 ORDER BY win_start""".stripMargin

  /** events_sessionize — gap-based sessionization (30 min) via lag + running
    * flag sum: the deterministic batch twin of session_window (streaming form
    * in graft.streaming). One shuffle on user_id; state is per-row, not
    * per-driver.
    */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(ord))
    val flagged = e.withColumn("is_start",
      when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L))
    val sess = flagged.withColumn("session_no",
      sum(col("is_start")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy(col("user_id"), col("session_no"))
      .agg(
        fmtTs(min(col("ts"))).as("session_start"),
        fmtTs(max(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_no"))
  }

  val eventsSessionizeSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |         THEN 1 ELSE 0 END AS is_start
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT *, CAST(SUM(is_start) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM flagged)
       |SELECT user_id, session_no,
       |  ${sqlFmtTs("MIN(ts)")} AS session_start,
       |  ${sqlFmtTs("MAX(ts)")} AS session_end,
       |  COUNT(*) AS n_events,
       |  ${sqlDsum("value")} AS session_value
       |FROM sess GROUP BY user_id, session_no
       |ORDER BY user_id, session_no""".stripMargin

  /** events_retention — day-over-day cohort retention: for every active
    * day, how many of that day's distinct users return the next day. The
    * classic event-analytics shape (activation → retention) a CDC sink
    * feeds: one distinct pass builds the (user, day) activity set, a
    * self-join on (user, day+1) marks returners, one aggregate computes
    * the ratio. At scale both sides shuffle on (user_id, day) — the
    * self-join is a two-column equi-join, never row-quadratic, and the
    * distinct pass has map-side partials.
    */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    daily.as("a")
      .join(daily.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.d") === date_add(col("a.d"), 1), "left")
      .groupBy(col("a.d"))
      .agg(count(lit(1)).as("n_active"),
        count(col("b.user_id")).as("n_retained"),
        (count(col("b.user_id")).cast("double") / count(lit(1)))
          .as("retention"))
      .select(fmtDate(col("a.d")).as("day"), col("n_active"),
        col("n_retained"), col("retention"))
      .orderBy(col("day"))
  }

  val eventsRetentionSql: String =
    s"""WITH daily AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
       |SELECT ${sqlFmtDate("a.d")} AS day,
       |  COUNT(*) AS n_active,
       |  COUNT(b.user_id) AS n_retained,
       |  CAST(COUNT(b.user_id) AS DOUBLE) / COUNT(*) AS retention
       |FROM daily a LEFT JOIN daily b
       |  ON a.user_id = b.user_id AND b.d = a.d + 1
       |GROUP BY a.d ORDER BY day""".stripMargin

  /** events_funnel_steps — STRICT-ORDER conversion funnel (the analytics
    * op event_funnel's unordered counts can't express): per user, first
    * 'view', then the first 'click' AFTER that view, then the first
    * 'purchase' after that click and within 48h of the view. Each stage is
    * a cascaded "first event after the previous stage's timestamp".
    *
    * Engine shape: three groupBy(user_id) aggregates chained by equi-joins
    * on user_id — after the first shuffle, every subsequent join and
    * aggregate reuses the same hash partitioning (no re-shuffle; AQE
    * coalesces the tiny tails). The stage counts are 1-row aggregates
    * cross-joined and unpivoted via `stack`.
    *
    * Scale: everything keys on user_id — state per user is one timestamp
    * per stage, never the event list; the per-stage filter (`ts > t_prev`)
    * runs map-side on the joined rows. This is the shape sequential
    * pattern-matching (MATCH_RECOGNIZE-lite) takes on a shuffle engine.
    */
  def eventsFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t1") + expr("INTERVAL 48 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    s1.agg(count(lit(1)).as("n1"))
      .crossJoin(s2.agg(count(lit(1)).as("n2")))
      .crossJoin(s3.agg(count(lit(1)).as("n3")))
      .select(expr(
        """stack(3,
          |  '1_view', n1, CAST(1.0 AS DOUBLE),
          |  '2_click_after_view', n2, CAST(n2 AS DOUBLE) / n1,
          |  '3_purchase_within_48h', n3, CAST(n3 AS DOUBLE) / n1
          |) AS (step, n_users, rate_vs_first)""".stripMargin))
      .orderBy(col("step"))
  }

  val eventsFunnelStepsSql: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |    AND e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 48 HOUR
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
      |c AS (SELECT (SELECT count(*) FROM s1) AS n1,
      |             (SELECT count(*) FROM s2) AS n2,
      |             (SELECT count(*) FROM s3) AS n3)
      |SELECT step, n_users, rate_vs_first FROM (
      |  SELECT '1_view' AS step, n1 AS n_users,
      |    CAST(1.0 AS DOUBLE) AS rate_vs_first FROM c
      |  UNION ALL SELECT '2_click_after_view', n2,
      |    CAST(n2 AS DOUBLE) / n1 FROM c
      |  UNION ALL SELECT '3_purchase_within_48h', n3,
      |    CAST(n3 AS DOUBLE) / n1 FROM c)
      |ORDER BY step""".stripMargin

  /** agg_mode (A28) — EXACT per-group mode with a deterministic
    * tie-break, the top-1 exact complement of the Misra-Gries heavy-hitter
    * sketch (doc_heavy_hitters): the modal transaction amount and the
    * modal (most active) user per event type. Neither engine's built-in
    * mode() declares a tie-break, so both sides compute the argmax
    * explicitly: count per (group, value) — domain-sized after the first
    * mergeable aggregate — then ONE max(struct(cnt, -value)) per group
    * picks highest count, ties → smallest value. Distinct-value census
    * rides the same frame.
    *
    * Scale: raw rows collapse in the (group, value) partial aggregate
    * (map-side combine); everything downstream is value-domain-sized.
    */
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        scaledLong(col("value"), 100L).as("cents"))
    val vc = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val modeV = vc.groupBy(col("event_type"))
      .agg(max(struct(col("cnt"), (-col("cents")).as("nv"))).as("m"),
        count(lit(1)).as("n_distinct_cents"))
      .select(col("event_type"), (-col("m.nv")).as("mode_cents"),
        col("m.cnt").as("mode_cents_freq"), col("n_distinct_cents"))
    val uc = e.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val modeU = uc.groupBy(col("event_type"))
      .agg(max(struct(col("cnt"), (-col("user_id")).as("nu"))).as("m"))
      .select(col("event_type"), (-col("m.nu")).as("mode_user"),
        col("m.cnt").as("mode_user_freq"))
    modeV.join(modeU, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  val aggModeSql: String =
    """WITH e AS (
      |  SELECT event_type, user_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |vc AS (SELECT event_type, cents, COUNT(*) AS cnt
      |  FROM e GROUP BY 1, 2),
      |mv AS (
      |  SELECT event_type, CAST(cents AS BIGINT) AS mode_cents,
      |    CAST(cnt AS BIGINT) AS mode_cents_freq,
      |    CAST(nd AS BIGINT) AS n_distinct_cents
      |  FROM (SELECT *,
      |          row_number() OVER (PARTITION BY event_type
      |            ORDER BY cnt DESC, cents) AS rn,
      |          COUNT(*) OVER (PARTITION BY event_type) AS nd
      |        FROM vc)
      |  WHERE rn = 1),
      |uc AS (SELECT event_type, user_id, COUNT(*) AS cnt
      |  FROM e GROUP BY 1, 2),
      |mu AS (
      |  SELECT event_type, CAST(user_id AS BIGINT) AS mode_user,
      |    CAST(cnt AS BIGINT) AS mode_user_freq
      |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
      |          ORDER BY cnt DESC, user_id) AS rn FROM uc)
      |  WHERE rn = 1)
      |SELECT mv.event_type, mode_cents, mode_cents_freq, n_distinct_cents,
      |  mode_user, mode_user_freq
      |FROM mv JOIN mu ON mu.event_type = mv.event_type
      |ORDER BY mv.event_type""".stripMargin

  /** events_ab_test (A20) — deterministic A/B experiment analysis: users
    * hash-assigned to variants by md5(user_id) (the sample_split idiom —
    * no RNG, stable under retries/repartitioning/engines, and the
    * assignment an experimentation platform must reproduce at serving
    * time). Assignment is at the USER unit (the interference-correct
    * unit); readouts at two grains — the high-value-purchase rate per
    * exposed event (cents ≥ 10000, ~p90 of the purchase distribution)
    * and mean monetary cents per user — each with its LIFT in exact
    * integer arithmetic (truncating divisions + one subtraction), so
    * both engines emit identical numbers where float rates would
    * hash-drift. Significance testing composes downstream from the
    * per-arm integer sufficient statistics this row carries.
    *
    * Scale: one scan → user-keyed aggregate (map-side combined), then a
    * ONE-ROW conditional rollup — no per-variant shuffle, no join. The
    * user aggregate is the only exchange at any data size.
    */
  def eventsAbTest(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("ev"),
        sum(when(col("event_type") === "purchase" &&
            scaledLong(col("value"), 100L) >= 10000L, 1L).otherwise(0L))
          .as("hv"),
        sum(scaledLong(col("value"), 100L)).as("cents"))
      .withColumn("a",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    def side(flag: Boolean, c: Column): Column =
      sum(when(col("a") === flag, c).otherwise(0L)).cast("long")
    u.agg(
        side(true, lit(1L)).as("n_a"), side(false, lit(1L)).as("n_b"),
        side(true, col("ev")).as("ev_a"), side(false, col("ev")).as("ev_b"),
        side(true, col("hv")).as("hv_a"), side(false, col("hv")).as("hv_b"),
        side(true, col("cents")).as("cents_a"),
        side(false, col("cents")).as("cents_b"))
      .select(col("n_a"), col("n_b"), col("ev_a"), col("ev_b"),
        col("hv_a"), col("hv_b"),
        expr("hv_a * 1000000 div ev_a").as("hv_a_ppm"),
        expr("hv_b * 1000000 div ev_b").as("hv_b_ppm"),
        expr("hv_b * 1000000 div ev_b - hv_a * 1000000 div ev_a")
          .as("hv_lift_ppm"),
        expr("cents_a div n_a").as("mean_cents_a"),
        expr("cents_b div n_b").as("mean_cents_b"),
        expr("cents_b div n_b - cents_a div n_a").as("mean_lift_cents"))
  }

  /** events_adoption (A25) — the cumulative ADOPTION CURVE: per day, how
    * many users crossed into the high-value tier (first purchase with
    * cents >= 10000 — the cohort-matrix qualifying event; first-ANY-
    * activity saturates day one on a dense log) and the running total —
    * the growth-accounting twin of events_cohort_matrix (cohorts slice
    * retention; adoption accumulates acquisition). First-seen day is a
    * user-keyed min; the cumulative is the triangular self-join over the
    * ≤|days| daily frame (domain-sized, ≤|days|² pairs — never a window
    * over users and no partition-less WindowExec, the suite-wide ban);
    * share of the final user base in exact ppm via a 1-row broadcast.
    */
  def eventsAdoption(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" &&
        scaledLong(col("value"), 100L) >= 10000L)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("d"))
    val daily = firstDay.groupBy(col("d"))
      .agg(count(lit(1)).as("n_new"))
    val total = firstDay.agg(count(lit(1)).as("n_total"))
    val cum = daily.as("a")
      .join(daily.as("b"), col("b.d") <= col("a.d"))
      .groupBy(col("a.d").as("d"), col("a.n_new").as("n_new"))
      .agg(sum(col("b.n_new")).as("cum_users"))
    cum
      .crossJoin(broadcast(total))
      .select(fmtDate(col("d")).as("day"), col("n_new"),
        col("cum_users").cast("long").as("cum_users"),
        expr("cum_users * 1000000 div n_total").as("base_share_ppm"))
      .orderBy(col("day"))
  }

  val eventsAdoptionSql: String =
    s"""WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS d
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND CAST(round(value * 100) AS BIGINT) >= 10000
       |  GROUP BY user_id),
       |daily AS (SELECT d, count(*) AS n_new FROM fd GROUP BY d),
       |tot AS (SELECT count(*) AS n_total FROM fd),
       |cum AS (SELECT a.d, a.n_new, sum(b.n_new) AS cum_users
       |  FROM daily a JOIN daily b ON b.d <= a.d GROUP BY a.d, a.n_new)
       |SELECT ${sqlFmtDate("d")} AS day, CAST(n_new AS BIGINT) AS n_new,
       |  CAST(cum_users AS BIGINT) AS cum_users,
       |  CAST(cum_users * 1000000 // n_total AS BIGINT) AS base_share_ppm
       |FROM cum, tot ORDER BY day""".stripMargin

  /** events_pareto (A26) — volume CONCENTRATION across users (the Lorenz
    * /80-20 readout next to events_diversity's per-day type HHI): what
    * share of total monetary cents the heaviest users carry, read at the
    * top-decile and top-percentile marks. The heavy-user thresholds are
    * type-1 quantiles of the per-user cents distribution read off a
    * WHOLE-DOLLAR domain histogram with the triangular cumulative (the
    * aggHistQuantile idiom — threshold cost independent of user count,
    * no global sort of users, no partition-less window), then one
    * conditional rollup computes each tier's user count and exact cents
    * share in ppm.
    */
  def eventsPareto(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(scaledLong(col("value"), 100L)).as("cents"))
      .withColumn("d", expr("cents div 100"))
    val hist = u.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
    val cum = hist.as("a").join(hist.as("b"), col("b.d") <= col("a.d"))
      .groupBy(col("a.d").as("d")).agg(sum(col("b.cnt")).as("cum"))
    val th = cum
      .crossJoin(broadcast(u.agg(count(lit(1)).as("n_users"))))
      .agg(
        min(when(col("cum") >= expr("(n_users * 90 + 99) div 100"),
          col("d"))).as("p90_d"),
        min(when(col("cum") >= expr("(n_users * 99 + 99) div 100"),
          col("d"))).as("p99_d"))
    u.crossJoin(broadcast(th))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("cents")).cast("long").as("total_cents"),
        sum(when(col("d") > col("p90_d"), 1L).otherwise(0L)).cast("long")
          .as("n_top10"),
        sum(when(col("d") > col("p90_d"), col("cents")).otherwise(0L))
          .cast("long").as("cents_top10"),
        sum(when(col("d") > col("p99_d"), 1L).otherwise(0L)).cast("long")
          .as("n_top1"),
        sum(when(col("d") > col("p99_d"), col("cents")).otherwise(0L))
          .cast("long").as("cents_top1"))
      .select(col("n_users"), col("total_cents"),
        col("n_top10"),
        expr("cents_top10 * 1000000 div total_cents").as("top10_share_ppm"),
        col("n_top1"),
        expr("cents_top1 * 1000000 div total_cents").as("top1_share_ppm"))
  }

  val eventsParetoSql: String =
    """WITH u AS (SELECT user_id,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY user_id),
      |u2 AS (SELECT user_id, cents, cents // 100 AS d FROM u),
      |hist AS (SELECT d, count(*) AS cnt FROM u2 GROUP BY d),
      |nt AS (SELECT count(*) AS n_users FROM u2),
      |cum AS (SELECT a.d, sum(b.cnt) AS cum
      |  FROM hist a JOIN hist b ON b.d <= a.d GROUP BY a.d),
      |th AS (SELECT
      |    min(CASE WHEN cum >= (n_users * 90 + 99) // 100 THEN d END)
      |      AS p90_d,
      |    min(CASE WHEN cum >= (n_users * 99 + 99) // 100 THEN d END)
      |      AS p99_d
      |  FROM cum, nt),
      |agg AS (SELECT count(*) AS n_users,
      |    sum(cents) AS total_cents,
      |    sum(CASE WHEN d > p90_d THEN 1 ELSE 0 END) AS n_top10,
      |    sum(CASE WHEN d > p90_d THEN cents ELSE 0 END) AS cents_top10,
      |    sum(CASE WHEN d > p99_d THEN 1 ELSE 0 END) AS n_top1,
      |    sum(CASE WHEN d > p99_d THEN cents ELSE 0 END) AS cents_top1
      |  FROM u2, th)
      |SELECT CAST(n_users AS BIGINT) AS n_users,
      |  CAST(total_cents AS BIGINT) AS total_cents,
      |  CAST(n_top10 AS BIGINT) AS n_top10,
      |  CAST(cents_top10 * 1000000 // total_cents AS BIGINT)
      |    AS top10_share_ppm,
      |  CAST(n_top1 AS BIGINT) AS n_top1,
      |  CAST(cents_top1 * 1000000 // total_cents AS BIGINT)
      |    AS top1_share_ppm
      |FROM agg""".stripMargin

  /** events_cohort_matrix (A23) — the WEEKLY COHORT RETENTION MATRIX,
    * the standard product-analytics artifact one step up from
    * events_retention's day-over-day pairs: users cohort by the week of
    * their FIRST high-value purchase (cents ≥ 10000, ~p90 — the rare
    * qualifying event whose first occurrence genuinely spreads across
    * weeks; cohorting on any-activity saturates to one cohort on a dense
    * log), and cell (cohort, offset) counts how many repeated a
    * qualifying purchase `offset` weeks later, with retention in exact
    * integer ppm of the cohort size. Weeks are epoch-day div 7 anchored
    * to Monday 2024-01-01 (pure date arithmetic, engine-identical — the
    * A17 dow lesson applied to weeks).
    *
    * Scale: one scan → (user, week) distinct activity (user-keyed
    * exchange with partial agg), a per-user min-week aggregate riding
    * the SAME clustering (no second exchange), then a |cohorts|·|weeks|
    * cell aggregate and a broadcast of the |cohorts|-row size table.
    * Nothing user×user, nothing user-sized sorts.
    */
  def eventsCohortMatrix(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" &&
        scaledLong(col("value"), 100L) >= 10000L)
      .select(col("user_id"),
        expr("cast(datediff(to_date(ts), date'2024-01-01') div 7 as bigint)").as("w"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("w")).as("c"))
    val sizes = cohort.groupBy(col("c")).agg(count(lit(1)).as("n_cohort"))
    uw.join(cohort, Seq("user_id"))
      .groupBy(col("c"), (col("w") - col("c")).as("offset_w"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("c"))
      .select(col("c").as("cohort_week"), col("offset_w"),
        col("n_cohort"), col("n_active"),
        expr("n_active * 1000000 div n_cohort").as("retention_ppm"))
      .orderBy(col("cohort_week"), col("offset_w"))
  }

  val eventsCohortMatrixSql: String =
    """WITH uw AS (SELECT DISTINCT user_id,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS w
      |  FROM events
      |  WHERE event_type = 'purchase'
      |    AND CAST(round(value * 100) AS BIGINT) >= 10000),
      |cohort AS (SELECT user_id, min(w) AS c FROM uw GROUP BY user_id),
      |sizes AS (SELECT c, count(*) AS n_cohort FROM cohort GROUP BY c),
      |cells AS (SELECT ch.c, uw.w - ch.c AS offset_w, count(*) AS n_active
      |  FROM uw JOIN cohort ch ON ch.user_id = uw.user_id
      |  GROUP BY 1, 2)
      |SELECT cells.c AS cohort_week, CAST(offset_w AS BIGINT) AS offset_w,
      |  CAST(n_cohort AS BIGINT) AS n_cohort,
      |  CAST(n_active AS BIGINT) AS n_active,
      |  CAST(n_active * 1000000 // n_cohort AS BIGINT) AS retention_ppm
      |FROM cells JOIN sizes ON sizes.c = cells.c
      |ORDER BY cohort_week, offset_w""".stripMargin

  /** events_funnel_time (W12) — TIME-TO-CONVERT distribution for the
    * signup→purchase funnel: events_funnel_steps answers "how many
    * convert", this answers "how fast" — the latency histogram product
    * analytics sizes nudge timing and abandonment windows from. Per
    * user: first signup, first purchase AT OR AFTER that signup, delta
    * in exact microseconds; the report is one row of integer sufficient
    * statistics — funnel counts, conversion ppm, exact min/max latency,
    * and type-1 median/p90 at HOUR granularity.
    *
    * The quantiles are read off a ≤|hour-domain| histogram with the
    * aggHistQuantile triangular-cumulative (no partition-less window —
    * a global rank median would sort every converting user through one
    * task); hour granularity keeps the triangular join ≤ domain² ≈
    * 550k pairs regardless of user count. Exact min/max stay at full µs
    * precision from the same pass.
    *
    * Scale: two user-keyed aggregations (the second inherits the
    * join's clustering), a domain-sized histogram, 1-row broadcasts for
    * the report assembly. Nothing user-sized ever sorts globally.
    */
  def eventsFunnelTime(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val su = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("us"))).as("s_us"))
      .filter(col("s_us").isNotNull)
    val d = ev.filter(col("event_type") === "purchase")
      .join(su, Seq("user_id"))
      .filter(col("us") >= col("s_us"))
      .groupBy(col("user_id"))
      .agg((min(col("us")) - max(col("s_us"))).as("dus"))
    val hist = d.select(expr("dus div 3600000000").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    val n1 = su.agg(count(lit(1)).as("n_signup"))
    val stats = d.agg(count(lit(1)).as("n_conv"),
      min(col("dus")).as("min_delta_us"), max(col("dus")).as("max_delta_us"))
    val cum = hist.as("a")
      .join(hist.as("b"), col("b.h") <= col("a.h"))
      .groupBy(col("a.h").as("h")).agg(sum(col("b.cnt")).as("cum"))
    val q = cum.crossJoin(broadcast(stats.select(col("n_conv"))))
      .agg(
        min(when(col("cum") >= expr("(n_conv + 1) div 2"), col("h")))
          .as("median_delta_h"),
        min(when(col("cum") >= expr("(n_conv * 90 + 99) div 100"), col("h")))
          .as("p90_delta_h"))
    broadcast(n1).crossJoin(broadcast(stats)).crossJoin(broadcast(q))
      .select(col("n_signup"), col("n_conv"),
        expr("n_conv * 1000000 div n_signup").as("conv_ppm"),
        col("min_delta_us"), col("max_delta_us"),
        col("median_delta_h"), col("p90_delta_h"))
  }

  val eventsFunnelTimeSql: String =
    """WITH su AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us
      |  FROM events GROUP BY user_id),
      |su2 AS (SELECT * FROM su WHERE s_us IS NOT NULL),
      |d AS (SELECT e.user_id,
      |    min(epoch_us(e.ts)) - max(s.s_us) AS dus
      |  FROM events e JOIN su2 s ON s.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.s_us
      |  GROUP BY e.user_id),
      |hist AS (SELECT dus // 3600000000 AS h, count(*) AS cnt
      |  FROM d GROUP BY 1),
      |stats AS (SELECT count(*) AS n_conv, min(dus) AS min_delta_us,
      |    max(dus) AS max_delta_us FROM d),
      |n1 AS (SELECT count(*) AS n_signup FROM su2),
      |cum AS (SELECT a.h, sum(b.cnt) AS cum
      |  FROM hist a JOIN hist b ON b.h <= a.h GROUP BY a.h),
      |q AS (SELECT
      |    min(CASE WHEN cum >= (n_conv + 1) // 2 THEN h END)
      |      AS median_delta_h,
      |    min(CASE WHEN cum >= (n_conv * 90 + 99) // 100 THEN h END)
      |      AS p90_delta_h
      |  FROM cum, stats)
      |SELECT CAST(n_signup AS BIGINT) AS n_signup,
      |  CAST(n_conv AS BIGINT) AS n_conv,
      |  CAST(n_conv * 1000000 // n_signup AS BIGINT) AS conv_ppm,
      |  CAST(min_delta_us AS BIGINT) AS min_delta_us,
      |  CAST(max_delta_us AS BIGINT) AS max_delta_us,
      |  CAST(median_delta_h AS BIGINT) AS median_delta_h,
      |  CAST(p90_delta_h AS BIGINT) AS p90_delta_h
      |FROM n1, stats, q""".stripMargin

  /** basket_rules (A21) — association-rule mining over order baskets
    * (Apriori's pair stage, the market-basket staple): for the top-20
    * co-purchased part pairs, support, directional confidence, and lift,
    * all in exact integer ppm (supports are counts; confidence and lift
    * are single truncating divisions of i64 products — no float ratio
    * anywhere, so both engines emit identical numbers).
    *
    * Scale: baskets collapse in ONE order-keyed exchange into sorted
    * item sets (collect_set dedups line multiplicity — support counts
    * ORDERS), and every pair expands MAP-SIDE from the pinned basket
    * array (the zip-against-tail discipline of doc_bpe_pairs, extended
    * to all i<j pairs): fan-out is Σ(basket size²)/2 with TPC-H baskets
    * ≤ 7 lines — bounded per order, linear overall, the reason
    * Apriori's pair stage is tractable at all. Item supports explode
    * from the same pinned baskets and BROADCAST back onto the pair
    * frame twice; the order count rides as a 1-row broadcast. Top-20 =
    * TakeOrderedAndProject, never a global sort. (The relational
    * formulation — distinct + orderkey self-join + pair agg, the oracle
    * SQL's plan — measured 2.2 s vs 1.0 s for this shape at sf0.1:
    * three 600k exchanges where one suffices.)
    */
  def basketRules(spark: SparkSession, dir: String): DataFrame = {
    // no checkpoint: supports and the order count derive from the raw
    // (order, item) distinct — basket arrays have ONE consumer (the pair
    // expansion), so nothing re-runs the collect_set, and dropping the
    // materialization job measured 1.52 → 1.44 s at sf0.1 (interleaved
    // A/B, min of 7) while reaching steady state on run 1 (the
    // checkpointed shape needed extra runs to warm — the bench-protocol
    // lesson)
    // r14: read the BUCKETED lineitem landing (clustered by l_orderkey,
    // the join_bucketed layout). HashPartitioning(l_orderkey) satisfies
    // BOTH the (okey, pkey) distinct's clustering (subset rule) and the
    // basket collect_set, so the two order-keyed exchanges disappear
    // and the only remaining data shuffle is the part-keyed supp re-key
    // (interleaved A/B, min-of-7: 1.31 → 0.61 s at sf0.1). Same rows —
    // bucketing is layout, not semantics; the landing builds once per
    // corpus (disclosed in Bench's warm_state).
    val (lTbl, _) = graft.sources.Bucketed.ensure(spark, dir)
    val li = spark.table(lTbl)
      .select(col("l_orderkey"), col("l_partkey"))
    val po = li.distinct()
    val supp = po.groupBy(col("l_partkey")).agg(count(lit(1)).as("supp_i"))
    val nOrders = po.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val baskets = li
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
    val pairsCol = expr(
      "flatten(transform(items, (x, i) -> " +
        "transform(slice(items, i + 2, size(items)), " +
        "y -> struct(x AS pa, y AS pb))))")
    val pairs = baskets.select(explode(pairsCol).as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("supp_ab"))
    pairs
      .join(broadcast(supp.select(col("l_partkey").as("pa"),
        col("supp_i").as("supp_a"))), Seq("pa"))
      .join(broadcast(supp.select(col("l_partkey").as("pb"),
        col("supp_i").as("supp_b"))), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"),
        col("supp_ab").cast("long").as("supp_ab"),
        col("supp_a").cast("long").as("supp_a"),
        col("supp_b").cast("long").as("supp_b"),
        expr("supp_ab * 1000000 div supp_a").as("conf_ab_ppm"),
        expr("supp_ab * 1000000 div supp_b").as("conf_ba_ppm"),
        expr("supp_ab * n_orders * 1000000 div (supp_a * supp_b)")
          .as("lift_ppm"))
      .orderBy(col("supp_ab").desc, col("lift_ppm").desc,
        col("pa"), col("pb"))
      .limit(20)
  }

  val basketRulesSql: String =
    """WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |supp AS (SELECT l_partkey, count(*) AS supp_i FROM p GROUP BY 1),
      |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM p),
      |pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
      |    count(*) AS supp_ab
      |  FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2)
      |SELECT pa, pb, CAST(supp_ab AS BIGINT) AS supp_ab,
      |  CAST(sa.supp_i AS BIGINT) AS supp_a,
      |  CAST(sb.supp_i AS BIGINT) AS supp_b,
      |  CAST(supp_ab * 1000000 // sa.supp_i AS BIGINT) AS conf_ab_ppm,
      |  CAST(supp_ab * 1000000 // sb.supp_i AS BIGINT) AS conf_ba_ppm,
      |  CAST(supp_ab * n.n_orders * 1000000 // (sa.supp_i * sb.supp_i)
      |    AS BIGINT) AS lift_ppm
      |FROM pairs
      |JOIN supp sa ON sa.l_partkey = pa
      |JOIN supp sb ON sb.l_partkey = pb
      |CROSS JOIN n
      |ORDER BY supp_ab DESC, lift_ppm DESC, pa, pb LIMIT 20""".stripMargin

  val eventsAbTestSql: String =
    """WITH u AS (SELECT user_id, count(*) AS ev,
      |    sum(CASE WHEN event_type = 'purchase'
      |        AND CAST(round(value * 100) AS BIGINT) >= 10000
      |      THEN 1 ELSE 0 END) AS hv,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY user_id),
      |v AS (SELECT *,
      |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS a
      |  FROM u),
      |s AS (SELECT
      |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN a THEN ev ELSE 0 END) AS BIGINT) AS ev_a,
      |    CAST(sum(CASE WHEN NOT a THEN ev ELSE 0 END) AS BIGINT) AS ev_b,
      |    CAST(sum(CASE WHEN a THEN hv ELSE 0 END) AS BIGINT) AS hv_a,
      |    CAST(sum(CASE WHEN NOT a THEN hv ELSE 0 END) AS BIGINT) AS hv_b,
      |    CAST(sum(CASE WHEN a THEN cents ELSE 0 END) AS BIGINT) AS cents_a,
      |    CAST(sum(CASE WHEN NOT a THEN cents ELSE 0 END) AS BIGINT) AS cents_b
      |  FROM v)
      |SELECT n_a, n_b, ev_a, ev_b, hv_a, hv_b,
      |  CAST(hv_a * 1000000 // ev_a AS BIGINT) AS hv_a_ppm,
      |  CAST(hv_b * 1000000 // ev_b AS BIGINT) AS hv_b_ppm,
      |  CAST(hv_b * 1000000 // ev_b - hv_a * 1000000 // ev_a AS BIGINT)
      |    AS hv_lift_ppm,
      |  CAST(cents_a // n_a AS BIGINT) AS mean_cents_a,
      |  CAST(cents_b // n_b AS BIGINT) AS mean_cents_b,
      |  CAST(cents_b // n_b - cents_a // n_a AS BIGINT) AS mean_lift_cents
      |FROM s""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("agg_mode", aggMode, aggModeSql),
    Query("agg_approx_distinct", aggApproxDistinct, aggApproxDistinctSql),
    Query("agg_approx_percentile", aggApproxPercentile, aggApproxPercentileSql),
    Query("agg_weighted_median", aggWeightedMedian, aggWeightedMedianSql),
    Query("agg_sketch_rollup", aggSketchRollup, aggSketchRollupSql),
    Query("agg_countmin", aggCountmin, aggCountminSql),
    Query("events_funnel_steps", eventsFunnelSteps, eventsFunnelStepsSql),
    Query("agg_bitmap_distinct", aggBitmapDistinct, aggBitmapDistinctSql),
    Query("events_bitmap_overlap", eventsBitmapOverlap, eventsBitmapOverlapSql),
    Query("agg_rollup", aggRollup, aggRollupSql),
    Query("agg_collect", aggCollect, aggCollectSql),
    Query("events_tumbling_1h", eventsTumbling1h, eventsTumbling1hSql),
    Query("events_sliding", eventsSliding, eventsSlidingSql),
    Query("events_sliding_distinct", eventsSlidingDistinct,
      eventsSlidingDistinctSql),
    Query("events_sessionize", eventsSessionize, eventsSessionizeSql),
    Query("events_retention", eventsRetention, eventsRetentionSql),
    Query("events_ab_test", eventsAbTest, eventsAbTestSql),
    Query("basket_rules", basketRules, basketRulesSql, warm = true),
    Query("events_funnel_time", eventsFunnelTime, eventsFunnelTimeSql),
    Query("events_cohort_matrix", eventsCohortMatrix, eventsCohortMatrixSql),
    Query("events_adoption", eventsAdoption, eventsAdoptionSql),
    Query("events_pareto", eventsPareto, eventsParetoSql))
}
