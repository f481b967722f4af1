package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det._

/** OLAP analytics beyond the rollup family (SURVEY.md §2.4 extensions):
  * full CUBE, PIVOT (wide conditional aggregation), and exact median via an
  * engine-portable rank formulation.
  *
  * Scale notes (100 TB): cube multiplies shuffle rows by the number of
  * grouping sets (4 here) before partial aggregation collapses them; pivot
  * is a single hash aggregation whose width is the (bounded, declared)
  * pivot domain; the median query is one shuffle + per-key sort — the same
  * cost envelope as any window rank, with no driver-side percentile state.
  */
object Analytics {

  private val HOLT_B = 4294967296L // 2^32 field split
  private val HOLT_HL = 536870912L // 2^29 level offset
  private val HOLT_HB = 2147483648L // 2^31 trend offset
  /** One lambda template, two dialects: `divOp` is "div" (Spark) or
    * "//" (DuckDB); everything else is shared text so the folds cannot
    * drift apart.
    */
  private def holtStep(divOp: String): String = {
    val xl = s"((x $divOp $HOLT_B) - $HOLT_HL)"
    val l = s"((acc $divOp $HOLT_B) - $HOLT_HL)"
    val b = s"((acc % $HOLT_B) - $HOLT_HB)"
    val l2 = s"(((2 * $xl) + 8 * ($l + $b)) $divOp 10)"
    val b2 = s"(((3 * ($l2 - $l)) + 7 * $b) $divOp 10)"
    s"(acc, x) -> (($l2 + $HOLT_HL) * $HOLT_B + ($b2 + $HOLT_HB))"
  }


  /** events_rfm — RFM (recency / frequency / monetary) customer
    * segmentation, the canonical marketing-analytics aggregate: per-user
    * recency in days from a fixed reference date, event count, and exact
    * monetary cents, each scored 1-5 by data-derived quintile thresholds,
    * then rolled up per (r, f, m) segment cell.
    *
    * The engine-interesting part is computing quintile thresholds WITHOUT
    * a global window (a partition-less ntile/percent_rank funnels every
    * user through one task — banned suite-wide by PlanSpec): each
    * dimension is histogrammed on its VALUE DOMAIN (recency days ≤ |date
    * range|, frequency ≤ max events/user, monetary quantized to whole
    * dollars) and the threshold is the type-1 quantile read off the
    * domain-sized cumulative histogram — the aggHistQuantile idiom. The
    * cumsum window partitions by dimension over |domain| rows, so its
    * cost is INDEPENDENT of user count; the 1-row threshold frame then
    * broadcasts back onto the user aggregate. Scoring is pure integer
    * comparison arithmetic (score = 1 + #thresholds strictly below;
    * recency inverted so fresher = higher), exact in both engines.
    *
    * Scale: one user-keyed shuffle for the RFM aggregate, one
    * domain-sized histogram aggregate, one broadcast, one ≤125-cell
    * rollup. No join is user×user; nothing sorts more than the value
    * domain.
    */
  def eventsRfm(spark: SparkSession, dir: String): DataFrame = {
    val REF = "2024-01-31"
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        datediff(lit(REF).cast("date"), max(to_date(col("ts"))))
          .cast("long").as("r"),
        count(lit(1)).as("f"),
        sum(scaledLong(col("value"), 100L)).as("m_cents"))
      .withColumn("m_d", expr("m_cents div 100"))
    val longF = u.select(col("user_id"),
      expr("stack(3, 'r', r, 'f', f, 'm', m_d) as (dim, v)"))
    val hist = longF.groupBy(col("dim"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("dim")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("dim"))))
    def thAt(q: Int) =
      min(when(col("cum") >= expr(s"(n * $q + 99) div 100"), col("v")))
    val th = cum.groupBy(col("dim"))
      .agg(thAt(20).as("t20"), thAt(40).as("t40"),
        thAt(60).as("t60"), thAt(80).as("t80"))
    def dimTh(d: String, t: String) = max(when(col("dim") === d, col(t)))
    val thRow = th.agg(
      dimTh("r", "t20").as("r20"), dimTh("r", "t40").as("r40"),
      dimTh("r", "t60").as("r60"), dimTh("r", "t80").as("r80"),
      dimTh("f", "t20").as("f20"), dimTh("f", "t40").as("f40"),
      dimTh("f", "t60").as("f60"), dimTh("f", "t80").as("f80"),
      dimTh("m", "t20").as("m20"), dimTh("m", "t40").as("m40"),
      dimTh("m", "t60").as("m60"), dimTh("m", "t80").as("m80"))
    def above(v: String, t: String) =
      when(col(v) > col(t), 1L).otherwise(0L)
    val scored = u.crossJoin(broadcast(thRow))
      .select(col("user_id"), col("m_cents"),
        (lit(6L) - (lit(1L) + above("r", "r20") + above("r", "r40") +
          above("r", "r60") + above("r", "r80"))).as("r_score"),
        (lit(1L) + above("f", "f20") + above("f", "f40") +
          above("f", "f60") + above("f", "f80")).as("f_score"),
        (lit(1L) + above("m_d", "m20") + above("m_d", "m40") +
          above("m_d", "m60") + above("m_d", "m80")).as("m_score"))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("m_cents")).cast("long").as("segment_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val eventsRfmSql: String =
    """WITH u AS (SELECT user_id,
      |    date_diff('day', CAST(max(ts) AS DATE), DATE '2024-01-31') AS r,
      |    count(*) AS f,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
      |  FROM events GROUP BY user_id),
      |u2 AS (SELECT user_id, r, f, m_cents, m_cents // 100 AS m_d FROM u),
      |lng AS (SELECT 'r' AS dim, r AS v FROM u2
      |  UNION ALL SELECT 'f', f FROM u2
      |  UNION ALL SELECT 'm', m_d FROM u2),
      |hist AS (SELECT dim, v, count(*) AS cnt FROM lng GROUP BY dim, v),
      |cum AS (SELECT dim, v,
      |    sum(cnt) OVER (PARTITION BY dim ORDER BY v) AS cum,
      |    sum(cnt) OVER (PARTITION BY dim) AS n
      |  FROM hist),
      |th AS (SELECT dim,
      |    min(CASE WHEN cum >= (n * 20 + 99) // 100 THEN v END) AS t20,
      |    min(CASE WHEN cum >= (n * 40 + 99) // 100 THEN v END) AS t40,
      |    min(CASE WHEN cum >= (n * 60 + 99) // 100 THEN v END) AS t60,
      |    min(CASE WHEN cum >= (n * 80 + 99) // 100 THEN v END) AS t80
      |  FROM cum GROUP BY dim),
      |trow AS (SELECT
      |    max(CASE WHEN dim = 'r' THEN t20 END) AS r20,
      |    max(CASE WHEN dim = 'r' THEN t40 END) AS r40,
      |    max(CASE WHEN dim = 'r' THEN t60 END) AS r60,
      |    max(CASE WHEN dim = 'r' THEN t80 END) AS r80,
      |    max(CASE WHEN dim = 'f' THEN t20 END) AS f20,
      |    max(CASE WHEN dim = 'f' THEN t40 END) AS f40,
      |    max(CASE WHEN dim = 'f' THEN t60 END) AS f60,
      |    max(CASE WHEN dim = 'f' THEN t80 END) AS f80,
      |    max(CASE WHEN dim = 'm' THEN t20 END) AS m20,
      |    max(CASE WHEN dim = 'm' THEN t40 END) AS m40,
      |    max(CASE WHEN dim = 'm' THEN t60 END) AS m60,
      |    max(CASE WHEN dim = 'm' THEN t80 END) AS m80
      |  FROM th),
      |scored AS (SELECT user_id, m_cents,
      |    6 - (1 + (CASE WHEN r > r20 THEN 1 ELSE 0 END)
      |           + (CASE WHEN r > r40 THEN 1 ELSE 0 END)
      |           + (CASE WHEN r > r60 THEN 1 ELSE 0 END)
      |           + (CASE WHEN r > r80 THEN 1 ELSE 0 END)) AS r_score,
      |    1 + (CASE WHEN f > f20 THEN 1 ELSE 0 END)
      |      + (CASE WHEN f > f40 THEN 1 ELSE 0 END)
      |      + (CASE WHEN f > f60 THEN 1 ELSE 0 END)
      |      + (CASE WHEN f > f80 THEN 1 ELSE 0 END) AS f_score,
      |    1 + (CASE WHEN m_d > m20 THEN 1 ELSE 0 END)
      |      + (CASE WHEN m_d > m40 THEN 1 ELSE 0 END)
      |      + (CASE WHEN m_d > m60 THEN 1 ELSE 0 END)
      |      + (CASE WHEN m_d > m80 THEN 1 ELSE 0 END) AS m_score
      |  FROM u2, trow)
      |SELECT CAST(r_score AS BIGINT) AS r_score,
      |  CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  count(*) AS n_users, CAST(sum(m_cents) AS BIGINT) AS segment_cents
      |FROM scored GROUP BY r_score, f_score, m_score
      |ORDER BY r_score, f_score, m_score""".stripMargin

  /** events_anomaly_mad (A19) — ROBUST telemetry outlier gate via
    * median/MAD, the breakdown-resistant sibling of events_anomaly's
    * 3σ z-score: mean/stddev are themselves dragged by the outliers they
    * are supposed to flag (one 1e6 spike shifts a 3σ fence), while the
    * median and the median-absolute-deviation have a 50% breakdown
    * point — the standard robust gate (Hampel / x84 rule). Flag rule:
    * |c − med| · 10⁴ > 44478 · MAD, i.e. dev > 3 · 1.4826 · MAD with the
    * Gaussian consistency constant folded into an INTEGER threshold so
    * the comparison is exact in both engines (cents are exact i64; no
    * float appears anywhere in the decision).
    *
    * Both medians are LOWER medians read off VALUE-DOMAIN histograms
    * (the aggHistQuantile/eventsRfm idiom): the cumulative window runs
    * over |distinct cents| ≤ value-domain rows per type, never raw
    * events — so the median cost is INDEPENDENT of row count, where a
    * rank-window median would sort the full stream. The deviation
    * histogram derives FROM the cents histogram (|c − med| re-keys the
    * counted cells — no second raw aggregation); raw events feed only
    * the histogram build and the final flag+XOR pass against the
    * broadcast med/MAD fences. The whole chain past the cell aggregate
    * runs in ONE projection (r16): the per-type histogram collects into
    * a SORTED CELL ARRAY — ≤ |value domain| entries, never raw rows —
    * and med, the deviation histogram, MAD, the flag counts and the
    * anomalous-id XOR all evaluate as array folds over that one array
    * in a single pass. Raw rows NEVER hash to |types| partitions — only
    * ≤49k-cell partials do (the scale-correct ordering; repartitioning
    * raw events by type would funnel 100 TB into |types| reducers). The
    * histogram cells carry a per-cell bit_xor(event_id): n_anom sums
    * anomalous cells' counts and anom_id_xor folds the per-cell xors
    * (xor of cell-xors over anomalous cells IS the xor of all anomalous
    * event_ids). The array folds are interpreted HOF lambdas, but they
    * touch |value domain| elements per type — O(49k) integer ops against
    * the two cumulative WINDOWS + two BROADCAST joins + repartition they
    * replace (each a plan stage + driver round-trip in the r15 shape:
    * med window → med broadcast → dev histogram → mad window → mad
    * broadcast → final rollup). Exchanges: the (type, c) cell aggregate
    * (map-side combined), the |types|-row collect, the 5-row
    * presentation sort — nothing else. Measured r15 (windows shape):
    * 1.36 → 1.01 s; r16 (this shape, interleaved same-JVM A/B, min of
    * 7): 1.20 → 0.68 s at sf0.1, suite minima 1.06 → ~0.5 s. A
    * checkpointed-histogram variant measured WORSE in r15 (1.63) — the
    * materialization job outweighed the reuse; this shape removes the
    * reuse question entirely (the histogram exists once, as an array).
    */
  def eventsAnomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        scaledLong(col("value"), 100L).as("c"))
    val cells = ev.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("cnt"), bit_xor(col("event_id")).as("idx"))
    // lower median via a single fold over the c-sorted cell array:
    // first c whose cumulative count reaches (n+1) div 2 — exactly the
    // min(when(cum >= ...)) the window formulation computed, in exact
    // integer arithmetic (struct sort_array orders by c; c is unique
    // per (type, cell) by construction)
    val perType = cells.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("c"), col("cnt"), col("idx"))))
        .as("cs"))
      .withColumn("n_events", expr(
        "aggregate(cs, 0L, (a, x) -> a + x.cnt)"))
      .withColumn("med", expr(
        """aggregate(cs, named_struct('cum', 0L, 'med', CAST(NULL AS BIGINT)),
          |  (a, x) -> named_struct(
          |    'cum', a.cum + x.cnt,
          |    'med', coalesce(a.med,
          |      IF(a.cum + x.cnt >= (n_events + 1) div 2, x.c,
          |         CAST(NULL AS BIGINT))))).med""".stripMargin))
      // deviation histogram = |c − med| re-keys the counted cells; the
      // d-sorted array merges equal d's implicitly in the cumulative
      // fold (equal-d cells are adjacent after the sort, and the median
      // threshold test only needs the running total, not merged rows)
      .withColumn("ds", expr(
        "sort_array(transform(cs, x -> named_struct(" +
          "'d', abs(x.c - med), 'cnt', x.cnt)))"))
      .withColumn("mad", expr(
        """aggregate(ds, named_struct('cum', 0L, 'mad', CAST(NULL AS BIGINT)),
          |  (a, x) -> named_struct(
          |    'cum', a.cum + x.cnt,
          |    'mad', coalesce(a.mad,
          |      IF(a.cum + x.cnt >= (n_events + 1) div 2, x.d,
          |         CAST(NULL AS BIGINT))))).mad""".stripMargin))
      .withColumn("n_anom", expr(
        "aggregate(cs, 0L, (a, x) -> " +
          "a + IF(abs(x.c - med) * 10000L > mad * 44478L, x.cnt, 0L))"))
      // bit_xor over an empty anomaly set is NULL in both engines — the
      // n_anom = 0 guard reproduces that
      .withColumn("anom_id_xor", expr(
        "IF(n_anom = 0, CAST(NULL AS BIGINT), aggregate(cs, 0L, (a, x) -> " +
          "IF(abs(x.c - med) * 10000L > mad * 44478L, a ^ x.idx, a)))"))
    perType.select(col("event_type"), col("n_events"),
        col("med").as("med_cents"), col("mad").as("mad_cents"),
        col("n_anom"), col("anom_id_xor"))
      .orderBy(col("event_type"))
  }

  val eventsAnomalyMadSql: String =
    """WITH ev AS (SELECT event_type, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |h1 AS (SELECT event_type, c, count(*) AS cnt FROM ev GROUP BY 1, 2),
      |c1 AS (SELECT event_type, c,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM h1),
      |med AS (SELECT event_type,
      |    min(CASE WHEN cum >= (n + 1) // 2 THEN c END) AS med
      |  FROM c1 GROUP BY 1),
      |dev AS (SELECT e.event_type, e.event_id, abs(e.c - m.med) AS d, m.med
      |  FROM ev e JOIN med m USING (event_type)),
      |h2 AS (SELECT event_type, d, count(*) AS cnt FROM dev GROUP BY 1, 2),
      |c2 AS (SELECT event_type, d,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY d) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM h2),
      |mad AS (SELECT event_type,
      |    min(CASE WHEN cum >= (n + 1) // 2 THEN d END) AS mad
      |  FROM c2 GROUP BY 1)
      |SELECT dv.event_type, count(*) AS n_events,
      |  CAST(max(dv.med) AS BIGINT) AS med_cents,
      |  CAST(max(ma.mad) AS BIGINT) AS mad_cents,
      |  CAST(sum(CASE WHEN dv.d * 10000 > ma.mad * 44478 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_anom,
      |  CAST(bit_xor(CASE WHEN dv.d * 10000 > ma.mad * 44478
      |    THEN dv.event_id END) AS BIGINT) AS anom_id_xor
      |FROM dev dv JOIN mad ma USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** events_trend (A16) — per-type LINEAR TREND + next-hour forecast by
    * exact least squares, the regression/forecasting surface next to
    * agg_stats' moments: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) over the
    * (hour-index, hourly-cents) series, and the forecast at x* = max+1
    * evaluated from the SAME closed form — all in integer arithmetic.
    * The power sums accumulate as plain i64 (x ≤ |hours|, y exact
    * cents), and the closed-form numerators/denominators are computed in
    * DECIMAL(38,0) before ONE integral division each (`div`), mirroring
    * DuckDB's HUGEINT promotion op-for-op — so slope_ppm and
    * forecast_cents hash-match where any float least-squares would
    * drift. At 100 TB the same pattern holds with the dprodSum split-sum
    * idiom if per-row products outgrow i64.
    *
    * Scale: one scan → (type, hour) partial-combined aggregate
    * (domain-sized), then a |types|-row closed-form projection. The
    * regression itself never sees raw rows — it runs on the hourly
    * partials, which is why it composes with stored partials
    * (agg_hist_rollup's idiom) for continuous re-forecasting.
    */
  def eventsTrend(spark: SparkSession, dir: String): DataFrame = {
    val EPOCH = "2024-01-01 00:00:00"
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(scaledLong(col("value"), 100L)).as("y"))
      .withColumn("x",
        (unix_timestamp(col("h")) - unix_timestamp(lit(EPOCH))) / 3600L)
      .select(col("event_type"), col("x").cast("long").as("x"), col("y"))
    val s = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), max(col("x")).as("xmax"))
    def dec(c: String) = col(c).cast("decimal(38,0)")
    s.select(col("event_type"), col("n").cast("long").as("n_hours"),
        col("sy").cast("long").as("total_cents"),
        (dec("n") * dec("sxy") - dec("sx") * dec("sy")).as("snum"),
        (dec("n") * dec("sxx") - dec("sx") * dec("sx")).as("den"),
        dec("sy").as("syd"), dec("n").as("nd"),
        (dec("n") * (dec("xmax") + lit(1)) - dec("sx")).as("xs"))
      .select(col("event_type"), col("n_hours"), col("total_cents"),
        expr("snum * 1000000 div den").as("slope_ppm"),
        expr("(syd * den + snum * xs) div (nd * den)").as("forecast_cents"))
      .orderBy(col("event_type"))
  }

  val eventsTrendSql: String =
    """WITH hourly AS (SELECT event_type,
      |    CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
      |                   date_trunc('hour', ts)) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |s AS (SELECT event_type, count(*) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx,
      |    max(x) AS xmax
      |  FROM hourly GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n_hours,
      |  CAST(sy AS BIGINT) AS total_cents,
      |  CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
      |    AS slope_ppm,
      |  CAST((sy * (n * sxx - sx * sx)
      |        + (n * sxy - sx * sy) * (n * (xmax + 1) - sx))
      |       // (n * (n * sxx - sx * sx)) AS BIGINT) AS forecast_cents
      |FROM s ORDER BY event_type""".stripMargin

  /** events_forecast_backtest (A27) — HOLDOUT BACKTEST of the engine's
    * two forecasters: the last 3 hours of each type's series are held
    * out, least-squares (A16's closed form) and Holt (A22's fold) train
    * on the prefix only, and each horizon-h forecast is scored against
    * the actual in exact absolute-percentage-error ppm — the
    * model-eval-as-a-query pattern (embedding_recall_eval's time-series
    * sibling): a scheduled backtest is how a production pipeline decides
    * WHICH forecaster serves. All arithmetic is the integer machinery of
    * the underlying operators (i64 power sums + DECIMAL(38,0) closed
    * form; offset-encoded Holt fold), so both engines emit identical
    * forecasts and identical APE integers; a missing actual-hour slot
    * scores as 0 cents (declared).
    *
    * Scale: the hourly frame is domain-sized; the holdout cut is a
    * 1-row broadcast (global max hour − 3); train aggregates and folds
    * run on the prefix partials; the 3-horizon fan-out is a map-side
    * sequence explode on |types| rows.
    */
  def eventsForecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val EPOCH = "2024-01-01 00:00:00"
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(scaledLong(col("value"), 100L)).as("y"))
      .withColumn("x",
        ((unix_timestamp(col("h")) - unix_timestamp(lit(EPOCH))) / 3600L)
          .cast("long"))
      .select(col("event_type"), col("x"), col("y"))
    val cut = hourly.agg((max(col("x")) - 3L).as("xcut"))
    val prefix = hourly.crossJoin(broadcast(cut))
      .filter(col("x") <= col("xcut"))
    // least-squares on the prefix (A16's closed form), forecasts at
    // xcut + h
    val ls = prefix.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), max(col("x")).as("xm"))
      .select(col("event_type"),
        explode(expr("sequence(1L, 3L)")).as("horizon"),
        col("n").cast("decimal(38,0)").as("nd"),
        (col("n").cast("decimal(38,0)") * col("sxy").cast("decimal(38,0)")
          - col("sx").cast("decimal(38,0)") * col("sy").cast("decimal(38,0)"))
          .as("snum"),
        (col("n").cast("decimal(38,0)") * col("sxx").cast("decimal(38,0)")
          - col("sx").cast("decimal(38,0)") * col("sx").cast("decimal(38,0)"))
          .as("den"),
        col("sy").cast("decimal(38,0)").as("syd"),
        col("sx").cast("decimal(38,0)").as("sxd"),
        col("xm"))
      .select(col("event_type"), col("horizon"),
        expr("(syd * den + snum * (nd * (xm + horizon) - sxd))" +
          " div (nd * den)").cast("long").as("ls_forecast"))
    // Holt on the prefix (A22's encoded fold), forecast l + h·b
    val holt = prefix.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("s"))
      .select(col("event_type"),
        expr(s"transform(s, e -> (e.y + $HOLT_HL) * $HOLT_B + $HOLT_HB)")
          .as("enc"))
      .select(col("event_type"),
        expr("aggregate(slice(enc, 2, size(enc)), element_at(enc, 1), " +
          holtStep("div") + ")").as("acc"))
      .select(col("event_type"),
        expr(s"(acc div $HOLT_B) - $HOLT_HL").as("l"),
        expr(s"(acc % $HOLT_B) - $HOLT_HB").as("b"))
      .select(col("event_type"), explode(expr("sequence(1L, 3L)"))
        .as("horizon"), (col("l") + col("horizon") * col("b"))
        .as("holt_forecast"))
    val actual = hourly.crossJoin(broadcast(cut))
      .filter(col("x") > col("xcut"))
      .select(col("event_type"), (col("x") - col("xcut")).as("horizon"),
        col("y").as("actual_cents"))
    ls.join(holt, Seq("event_type", "horizon"))
      .join(actual, Seq("event_type", "horizon"), "left")
      .select(col("event_type"), col("horizon"),
        coalesce(col("actual_cents"), lit(0L)).as("actual_cents"),
        col("ls_forecast"), col("holt_forecast"))
      .withColumn("ls_ape_ppm", expr(
        "abs(ls_forecast - actual_cents) * 1000000" +
          " div greatest(actual_cents, 1)"))
      .withColumn("holt_ape_ppm", expr(
        "abs(holt_forecast - actual_cents) * 1000000" +
          " div greatest(actual_cents, 1)"))
      .orderBy(col("event_type"), col("horizon"))
  }

  val eventsForecastBacktestSql: String =
    s"""WITH hourly AS (SELECT event_type,
       |    CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
       |                   date_trunc('hour', ts)) AS BIGINT) AS x,
       |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
       |cut AS (SELECT max(x) - 3 AS xcut FROM hourly),
       |prefix AS (SELECT h.* FROM hourly h, cut WHERE h.x <= cut.xcut),
       |ls0 AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
       |    sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx, max(x) AS xm
       |  FROM prefix GROUP BY event_type),
       |ls AS (SELECT event_type, h.horizon,
       |    CAST((sy * (n * sxx - sx * sx)
       |          + (n * sxy - sx * sy) * (n * (xm + h.horizon) - sx))
       |         // (n * (n * sxx - sx * sx)) AS BIGINT) AS ls_forecast
       |  FROM ls0 CROSS JOIN (VALUES (1), (2), (3)) h(horizon)),
       |series AS (SELECT event_type,
       |    list((y + $HOLT_HL) * $HOLT_B + $HOLT_HB ORDER BY x) AS enc
       |  FROM prefix GROUP BY event_type),
       |folded AS (SELECT event_type,
       |    list_reduce(enc, ${holtStep("//")}) AS acc FROM series),
       |holt AS (SELECT event_type, h.horizon,
       |    ((acc // $HOLT_B) - $HOLT_HL)
       |      + h.horizon * ((acc % $HOLT_B) - $HOLT_HB) AS holt_forecast
       |  FROM folded CROSS JOIN (VALUES (1), (2), (3)) h(horizon)),
       |actual AS (SELECT h.event_type, h.x - cut.xcut AS horizon,
       |    h.y AS actual_cents
       |  FROM hourly h, cut WHERE h.x > cut.xcut)
       |SELECT ls.event_type, CAST(ls.horizon AS BIGINT) AS horizon,
       |  CAST(COALESCE(a.actual_cents, 0) AS BIGINT) AS actual_cents,
       |  ls_forecast, CAST(holt_forecast AS BIGINT) AS holt_forecast,
       |  CAST(abs(ls_forecast - COALESCE(a.actual_cents, 0)) * 1000000
       |    // greatest(COALESCE(a.actual_cents, 0), 1) AS BIGINT)
       |    AS ls_ape_ppm,
       |  CAST(abs(holt_forecast - COALESCE(a.actual_cents, 0)) * 1000000
       |    // greatest(COALESCE(a.actual_cents, 0), 1) AS BIGINT)
       |    AS holt_ape_ppm
       |FROM ls
       |JOIN holt ON holt.event_type = ls.event_type
       |  AND holt.horizon = ls.horizon
       |LEFT JOIN actual a ON a.event_type = ls.event_type
       |  AND a.horizon = ls.horizon
       |ORDER BY ls.event_type, ls.horizon""".stripMargin

  /** events_diversity (A24) — concentration/diversity indices per day:
    * the Herfindahl-Hirschman index (Σ share², the Simpson index's
    * complement) over event-type shares and the argmax top type — the
    * mix-shift monitor next to dq_drift (drift compares two periods;
    * HHI tracks concentration continuously, and a day whose HHI jumps is
    * a day one event type swamped the mix). Shares are integer ppm and
    * HHI = Σ share_ppm² div 10⁶ (≤ 10⁶, exact — no float squaring), so
    * the index is bit-identical in both engines; Shannon entropy would
    * need a log and is deliberately NOT the payload (the doc_lm_coverage
    * argument: the integer skeleton ranks the same days).
    *
    * Scale: one scan → (day, type) partial-combined counts (domain-
    * sized), day totals derived FROM the cells (no second scan), a
    * ≤|days|·|types| fold. Mergeable all the way down — stored daily
    * cells roll up to any window.
    */
  def eventsDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val withTotal = cells
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("d"))))
      .withColumn("share_ppm", expr("cnt * 1000000 div n"))
    withTotal.groupBy(col("d"))
      .agg(max(col("n")).cast("long").as("n_events"),
        count(lit(1)).as("n_types"),
        expr("sum(share_ppm * share_ppm) div 1000000").as("hhi_ppm"),
        max(struct(col("cnt"), col("event_type"))).as("mx"))
      .select(fmtDate(col("d")).as("day"), col("n_events"), col("n_types"),
        col("hhi_ppm"),
        col("mx.event_type").as("top_type"),
        expr("mx.cnt * 1000000 div n_events").as("top_share_ppm"))
      .orderBy(col("day"))
  }

  val eventsDiversitySql: String =
    s"""WITH cells AS (SELECT CAST(ts AS DATE) AS d, event_type,
       |    count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |wt AS (SELECT d, event_type, cnt,
       |    sum(cnt) OVER (PARTITION BY d) AS n
       |  FROM cells),
       |wt2 AS (SELECT d, event_type, cnt, n,
       |    cnt * 1000000 // n AS share_ppm FROM wt)
       |SELECT ${sqlFmtDate("d")} AS day,
       |  CAST(max(n) AS BIGINT) AS n_events,
       |  count(*) AS n_types,
       |  CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
       |  max(struct_pack(cnt := cnt, event_type := event_type)).event_type
       |    AS top_type,
       |  CAST(max(struct_pack(cnt := cnt, event_type := event_type)).cnt
       |    * 1000000 // max(n) AS BIGINT) AS top_share_ppm
       |FROM wt2 GROUP BY d ORDER BY day""".stripMargin

  /** events_holt (A22) — Holt's LINEAR (level + trend) exponential
    * smoothing per event type over the hourly cents series, the adaptive
    * sibling of events_trend's global least squares: the recurrence
    * l' = (2x + 8(l+b)) div 10, b' = (3(l'−l) + 7b) div 10 (α=1/5,
    * β=3/10 folded into integer numerators) re-weights recent hours, so
    * the forecast tracks regime changes a whole-series fit averages
    * away. A TWO-STATE sequential recurrence — the shape a commutative
    * hash-aggregate cannot express (the W10 events_ewma argument, one
    * state wider): the series collects per type sorted by hour and folds
    * entirely in i64.
    *
    * State encoding, probed not assumed: DuckDB 1.0's `list_reduce`
    * MIS-CHAINS a struct accumulator past two elements (each individual
    * step computes correctly in isolation; the 3-element chain returns a
    * `b` no step sequence produces — measured against a sequential
    * reference), so both engines fold ONE offset-encoded i64 instead:
    * acc = (l + 2²⁹)·2³² + (b + 2³¹), the W10 scalar-fold path widened
    * to two fields. Bounds: |level| < 2²⁹ cents/hour, |trend| < 2³¹ —
    * comfortable at any bench scale, and the decode is div/% on a
    * non-negative acc, identical in both engines. Both step strings are
    * generated from ONE Scala template (holtStep), differing only in
    * the integer-division token.
    *
    * Scale: the fold runs on the DOMAIN-SIZED hourly aggregate (≤|hours|
    * elements per type), never raw rows — one scan, one keyed exchange
    * of partials, |types| folds. For per-entity state at fleet scale the
    * same recurrence ships as ST13's mapGroupsWithState (struct state is
    * fine THERE — the encoding is only a cross-engine-oracle device);
    * for series too long to collect, segment folds compose as affine
    * maps in date order (the W10 scale note — Holt's step is affine in
    * (l, b)).
    */
  def eventsHolt(spark: SparkSession, dir: String): DataFrame = {
    val EPOCH = "2024-01-01 00:00:00"
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(scaledLong(col("value"), 100L)).as("y"))
      .withColumn("x",
        ((unix_timestamp(col("h")) - unix_timestamp(lit(EPOCH))) / 3600L)
          .cast("long"))
      .select(col("event_type"), col("x"), col("y"))
    hourly.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("s"))
      .select(col("event_type"),
        size(col("s")).cast("long").as("n_hours"),
        expr(
          s"transform(s, e -> (e.y + $HOLT_HL) * $HOLT_B + $HOLT_HB)")
          .as("enc"))
      .select(col("event_type"), col("n_hours"),
        expr("aggregate(slice(enc, 2, size(enc)), element_at(enc, 1), " +
          holtStep("div") + ")").as("acc"))
      .select(col("event_type"), col("n_hours"),
        expr(s"(acc div $HOLT_B) - $HOLT_HL").as("level_cents"),
        expr(s"(acc % $HOLT_B) - $HOLT_HB").as("trend_cents"))
      .select(col("event_type"), col("n_hours"), col("level_cents"),
        col("trend_cents"),
        (col("level_cents") + col("trend_cents")).as("forecast1_cents"),
        (col("level_cents") + lit(3L) * col("trend_cents"))
          .as("forecast3_cents"))
      .orderBy(col("event_type"))
  }

  val eventsHoltSql: String =
    s"""WITH hourly AS (SELECT event_type,
       |    CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
       |                   date_trunc('hour', ts)) AS BIGINT) AS x,
       |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
       |series AS (SELECT event_type,
       |    list((y + $HOLT_HL) * $HOLT_B + $HOLT_HB ORDER BY x) AS enc,
       |    count(*) AS n_hours
       |  FROM hourly GROUP BY event_type),
       |folded AS (SELECT event_type, n_hours,
       |    list_reduce(enc, ${holtStep("//")}) AS acc
       |  FROM series),
       |dec AS (SELECT event_type, n_hours,
       |    (acc // $HOLT_B) - $HOLT_HL AS level_cents,
       |    (acc % $HOLT_B) - $HOLT_HB AS trend_cents
       |  FROM folded)
       |SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
       |  CAST(level_cents AS BIGINT) AS level_cents,
       |  CAST(trend_cents AS BIGINT) AS trend_cents,
       |  CAST(level_cents + trend_cents AS BIGINT) AS forecast1_cents,
       |  CAST(level_cents + 3 * trend_cents AS BIGINT) AS forecast3_cents
       |FROM dec ORDER BY event_type""".stripMargin

  /** events_seasonality (A17) — hour-of-day × day-of-week SEASONALITY
    * profile per event type, the decomposition sibling of events_trend
    * (trend answers "where is it going", seasonality "when does it
    * happen"): peak activity cell, weekend share, and night share, all
    * in exact ppm. Portability trap handled explicitly: Spark's
    * `dayofweek` is 1=Sunday..7 while DuckDB's is 0=Sunday..6, so BOTH
    * engines compute dow as epoch-days-since-Monday-2024-01-01 mod 7
    * (0=Monday) — a pure date-diff both define identically. Peak cell =
    * single-pass max(struct(cnt, dow, hour)) argmax (ties → the latest
    * cell, declared).
    *
    * Scale: one scan → (type, dow, hour) partial-combined counts — at
    * most |types|·168 cells regardless of data size — then a |types|-row
    * rollup. The profile is the mergeable-partials shape: stored daily
    * counts roll up to any window without raw re-scan.
    */
  def eventsSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          % 7).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy(col("event_type"), col("dow"), col("hr"))
      .agg(count(lit(1)).as("cnt"))
    cells.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"),
        max(struct(col("cnt"), col("dow"), col("hr"))).as("pk"),
        sum(when(col("dow") >= 5, col("cnt")).otherwise(0L)).as("wknd"),
        sum(when(col("hr") < 6 || col("hr") >= 22, col("cnt"))
          .otherwise(0L)).as("night"))
      .select(col("event_type"), col("n").cast("long").as("n_events"),
        col("pk.dow").as("peak_dow"), col("pk.hr").as("peak_hour"),
        expr("pk.cnt * 1000000 div n").as("peak_share_ppm"),
        expr("wknd * 1000000 div n").as("weekend_ppm"),
        expr("night * 1000000 div n").as("night_ppm"))
      .orderBy(col("event_type"))
  }

  val eventsSeasonalitySql: String =
    """WITH cells AS (SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
      |      AS BIGINT) AS dow,
      |    CAST(extract(hour FROM ts) AS BIGINT) AS hr,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_events,
      |  max(struct_pack(cnt := cnt, dow := dow, hr := hr)).dow AS peak_dow,
      |  max(struct_pack(cnt := cnt, dow := dow, hr := hr)).hr AS peak_hour,
      |  CAST(max(struct_pack(cnt := cnt, dow := dow, hr := hr)).cnt
      |    * 1000000 // sum(cnt) AS BIGINT) AS peak_share_ppm,
      |  CAST(sum(CASE WHEN dow >= 5 THEN cnt ELSE 0 END) * 1000000
      |    // sum(cnt) AS BIGINT) AS weekend_ppm,
      |  CAST(sum(CASE WHEN hr < 6 OR hr >= 22 THEN cnt ELSE 0 END) * 1000000
      |    // sum(cnt) AS BIGINT) AS night_ppm
      |FROM cells GROUP BY event_type ORDER BY event_type""".stripMargin

  /** events_autocorr (A18) — lag-1/2/3 AUTOCORRELATION of the hourly
    * activity series per event type: the memory/periodicity diagnostic
    * next to events_trend (direction) and events_seasonality (profile) —
    * "does this hour predict the next?" drives forecast-model choice and
    * anomaly-window sizing. Pearson r over (y_t, y_{t-k}) pairs of
    * hourly cents totals, with series gaps handled explicitly: pairs
    * form by DIRECT (x, x−k) slot lookup, so a pair counts exactly when
    * both hour slots exist — never by row offset across a gap.
    *
    * DETERMINISM: r itself needs a sqrt, which neither engine computes
    * identically from differently-associated float sums — so the payload
    * is r² in ppm, entirely in integer arithmetic: power sums in i64,
    * closed-form numerator/denominators in DECIMAL(38,0) (DuckDB:
    * HUGEINT), then r²·1e6 ≈ (num·1e3 div d1)·(num·1e3 div d2) — two
    * integral truncating divisions, identical op-for-op in both engines
    * (the A16 probe), with the correlation's SIGN as its own integer
    * column. Quantization error ≤ ~1e-3 of r² — a measurement report, not
    * a drift: both engines emit the same integer.
    *
    * Scale: one scan → (type, hour) partial-combined aggregate
    * (domain-sized); the ×3 probe explode and the (type, slot) self-join
    * touch only that |types|·|hours| frame, never raw events. Power sums
    * stay in i64 out to ~1e18/|hour-cents|² rows per type — past that,
    * the dprodSum split-sum idiom applies unchanged.
    */
  def eventsAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val EPOCH = "2024-01-01 00:00:00"
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(scaledLong(col("value"), 100L)).as("y"))
      .withColumn("x",
        (unix_timestamp(col("h")) - unix_timestamp(lit(EPOCH))) / 3600L)
      .select(col("event_type"), col("x").cast("long").as("x"), col("y"))
    // pair (x, x−k) by DIRECT slot lookup — a row-offset lag() would
    // silently pair across series gaps (lag-2-rows ≠ lag-2-hours when an
    // hour is empty); the ×3 probe explode + equi-join touches only the
    // domain-sized hourly frame
    val probes = hourly
      .select(col("event_type"), col("x"), col("y").as("a"),
        expr("stack(3, 1L, 2L, 3L) as (lag_h)"))
      .withColumn("xp", col("x") - col("lag_h"))
    val pairs = probes.join(
        hourly.select(col("event_type"), col("x").as("xp"),
          col("y").as("b")),
        Seq("event_type", "xp"))
      .select(col("event_type"), col("lag_h"), col("a"), col("b"))
    val s = pairs.groupBy(col("event_type"), col("lag_h"))
      .agg(count(lit(1)).as("n"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"))
    def dec(c: String) = col(c).cast("decimal(38,0)")
    s.select(col("event_type"), col("lag_h"),
        col("n").cast("long").as("n_pairs"),
        (dec("n") * dec("sab") - dec("sa") * dec("sb")).as("num"),
        (dec("n") * dec("saa") - dec("sa") * dec("sa")).as("d1"),
        (dec("n") * dec("sbb") - dec("sb") * dec("sb")).as("d2"))
      .select(col("event_type"), col("lag_h"), col("n_pairs"),
        when(col("d1") === 0 || col("d2") === 0, lit(null))
          .otherwise(expr(
            "(num * 1000 div d1) * (num * 1000 div d2)"))
          .cast("long").as("r2_ppm"),
        when(col("num") > 0, lit(1L)).when(col("num") < 0, lit(-1L))
          .otherwise(lit(0L)).as("corr_sign"))
      .orderBy(col("event_type"), col("lag_h"))
  }

  val eventsAutocorrSql: String =
    """WITH hourly AS (SELECT event_type,
      |    CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
      |                   date_trunc('hour', ts)) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |pairs AS (
      |  SELECT h1.event_type, k.lag_h, h1.y AS a, h2.y AS b
      |  FROM hourly h1
      |  CROSS JOIN (VALUES (1), (2), (3)) k(lag_h)
      |  JOIN hourly h2 ON h2.event_type = h1.event_type
      |    AND h2.x = h1.x - k.lag_h),
      |s AS (SELECT event_type, lag_h, count(*) AS n,
      |    sum(a) AS sa, sum(b) AS sb, sum(a*b) AS sab,
      |    sum(a*a) AS saa, sum(b*b) AS sbb
      |  FROM pairs GROUP BY event_type, lag_h)
      |SELECT event_type, CAST(lag_h AS BIGINT) AS lag_h,
      |  CAST(n AS BIGINT) AS n_pairs,
      |  CAST(CASE WHEN (n*saa - sa*sa) = 0 OR (n*sbb - sb*sb) = 0 THEN NULL
      |    ELSE ((n*sab - sa*sb) * 1000 // (n*saa - sa*sa))
      |       * ((n*sab - sa*sb) * 1000 // (n*sbb - sb*sb))
      |  END AS BIGINT) AS r2_ppm,
      |  CAST(CASE WHEN (n*sab - sa*sb) > 0 THEN 1
      |    WHEN (n*sab - sa*sb) < 0 THEN -1 ELSE 0 END AS BIGINT)
      |    AS corr_sign
      |FROM s ORDER BY event_type, lag_h""".stripMargin

  def aggCube(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_extendedprice")).as("revenue"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  val aggCubeSql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       |  ${sqlDsum("l_extendedprice")} AS revenue,
       |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
       |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
       |FROM lineitem
       |GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  private val segments = Seq(
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** pivot_segment — orders joined to customers, pivoted to one revenue
    * column per market segment (declared pivot domain → single-pass wide
    * aggregation; no second job to discover values).
    */
  def pivotSegment(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment"), col("o_totalprice"))
      .groupBy(col("nation"))
      .pivot(col("c_mktsegment"), segments)
      .agg(dsum(col("o_totalprice")))
      .na.fill(0.0, segments)
      .orderBy(col("nation"))
  }

  val pivotSegmentSql: String = {
    val cols = segments.map(s =>
      s"""coalesce(${sqlDsum(s"CASE WHEN c_mktsegment = '$s' THEN o_totalprice END")}, 0.0) AS "$s"""")
      .mkString(",\n|  ")
    s"""SELECT CAST(c_nationkey AS BIGINT) AS nation,
       |  $cols
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY nation""".stripMargin
  }

  /** agg_median — exact per-group median, formulated as the mean of the
    * two middle-ranked rows (identical in any engine; avoids
    * percentile/quantile builtins whose interpolation arithmetic differs
    * between engines in the last IEEE bit).
    */
  def aggMedian(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("o_orderpriority"))))
      .filter(expr("rn = (n + 1) div 2 OR rn = (n + 2) div 2"))
      .groupBy(col("o_orderpriority"))
      .agg(
        (dsum(col("o_totalprice")) / count(lit(1))).as("median_price"),
        max(col("n")).cast("long").as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val aggMedianSql: String =
    s"""WITH ranked AS (
       |  SELECT o_orderpriority, o_totalprice,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |                       ORDER BY o_totalprice, o_orderkey) AS rn,
       |    count(*) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM orders)
       |SELECT o_orderpriority,
       |  ${sqlDsum("o_totalprice")} / COUNT(*) AS median_price,
       |  CAST(max(n) AS BIGINT) AS n_orders
       |FROM ranked
       |WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** agg_quantiles — exact per-group p25/p50/p75 via the inverse-ECDF
    * ("type 1") definition: the value at rank ceil(q·n) under a total
    * order. Integer rank arithmetic and no interpolation, so any engine
    * picks the identical row — the same portability trick as agg_median,
    * generalized to the quantile family. One window pass + one
    * conditional aggregate; at scale this is a shuffle on the group key
    * and a per-group sort, never a global one.
    */
  def aggQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    o.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("o_orderpriority"))))
      .groupBy(col("o_orderpriority"))
      .agg(
        max(when(col("rn") === expr("(n * 25 + 99) div 100"),
          col("o_totalprice"))).as("p25"),
        max(when(col("rn") === expr("(n * 50 + 99) div 100"),
          col("o_totalprice"))).as("p50"),
        max(when(col("rn") === expr("(n * 75 + 99) div 100"),
          col("o_totalprice"))).as("p75"),
        max(col("n")).cast("long").as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val aggQuantilesSql: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
      |    count(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority,
      |  MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN o_totalprice END) AS p25,
      |  MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN o_totalprice END) AS p50,
      |  MAX(CASE WHEN rn = (n * 75 + 99) // 100 THEN o_totalprice END) AS p75,
      |  CAST(max(n) AS BIGINT) AS n_orders
      |FROM ranked
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** sql_subquery — the spark.sql entry path (SURVEY.md §3.2) with a
    * correlated scalar subquery: customers above their nation's average
    * balance. Catalyst's RewriteCorrelatedScalarSubquery decorrelates it
    * into an aggregate + join — the identical ANSI text runs on DuckDB as
    * the oracle. The threshold average uses the exact decimal-sum
    * convention so the boundary comparison is engine-identical.
    */
  def sqlSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    spark.sql(sqlSubquerySqlOn("customer_v"))
  }

  private def sqlSubquerySqlOn(table: String): String =
    s"""SELECT c_custkey, c_name, c_acctbal FROM $table c
       |WHERE c_acctbal > (
       |  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
       |         / COUNT(*)
       |  FROM $table c2 WHERE c2.c_nationkey = c.c_nationkey)
       |ORDER BY c_custkey""".stripMargin

  val sqlSubquerySql: String = sqlSubquerySqlOn("customer")

  /** agg_stats — variance / stddev / correlation per group, assembled from
    * exact fixed-point power sums instead of the builtin Welford-style
    * aggregates (whose partition-merge order makes the last IEEE bit both
    * engine- and run-dependent). From exact s1=Σx, s2=Σx², sxy=Σxy the
    * moments are a fixed sequence of correctly-rounded double ops —
    * bit-identical everywhere, and still one map-side-partial hash agg.
    */
  def aggStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // power sums via exact fixed-point products (Det.dprodSum): the 2dp
    // inputs scale to exact i64s, so the products and split sums are exact
    // — summing the DOUBLE product directly would hit order-dependent
    // rounding (measured: last-bit corr/stddev mismatches).
    val n = count(lit(1)).cast("double")
    val sx = dsum(col("l_quantity"))
    val sy = dsum(col("l_extendedprice"))
    val sx2 = dprodSum(col("l_quantity"), col("l_quantity"))
    val sy2 = dprodSum(col("l_extendedprice"), col("l_extendedprice"))
    val sxy = dprodSum(col("l_quantity"), col("l_extendedprice"))
    // Outputs rounded to 6dp: the decimal power sums are exact, but their
    // decimal→double casts double-round differently across engines once
    // the unscaled value exceeds 2^53, wobbling the last IEEE bit of the
    // derived moments (measured at sf0.001). 6dp is 8+ orders above that
    // noise and far below any analytical use of a variance.
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        round((sx2 - sx * sx / n) / n, 6).as("var_pop_qty"),
        round(sqrt((sy2 - sy * sy / n) / n), 6).as("stddev_pop_price"),
        round((n * sxy - sx * sy) /
          (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6)
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  val aggStatsSql: String = {
    val n = "CAST(COUNT(*) AS DOUBLE)"
    val sx = sqlDsum("l_quantity")
    val sy = sqlDsum("l_extendedprice")
    val sx2 = sqlDprodSum("l_quantity", "l_quantity")
    val sy2 = sqlDprodSum("l_extendedprice", "l_extendedprice")
    val sxy = sqlDprodSum("l_quantity", "l_extendedprice")
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
       |  round((($sx2 - $sx * $sx / $n) / $n), 6) AS var_pop_qty,
       |  round(sqrt(($sy2 - $sy * $sy / $n) / $n), 6) AS stddev_pop_price,
       |  round((($n * $sxy - $sx * $sy)
       |    / (sqrt($n * $sx2 - $sx * $sx) * sqrt($n * $sy2 - $sy * $sy))), 6)
       |    AS corr_qty_price
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** unpivot_measures — the inverse of pivot (melt): each order row emits
    * one (measure, value) row per declared measure via the stack
    * generator, then re-aggregates per (priority, measure). Wide→long is
    * how a CDC sink feeds a metrics store.
    */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(col("o_orderpriority"),
        expr("""stack(2,
          'total_price', o_totalprice,
          'cust_key', CAST(o_custkey AS DOUBLE)) AS (measure, val)"""))
      .groupBy(col("o_orderpriority"), col("measure"))
      .agg(count(lit(1)).as("n"), dsum(col("val")).as("sum_val"))
      .orderBy(col("o_orderpriority"), col("measure"))
  }

  val unpivotMeasuresSql: String =
    s"""WITH long AS (
       |  SELECT o_orderpriority, 'total_price' AS measure, o_totalprice AS val
       |  FROM orders
       |  UNION ALL
       |  SELECT o_orderpriority, 'cust_key', CAST(o_custkey AS DOUBLE)
       |  FROM orders)
       |SELECT o_orderpriority, measure, COUNT(*) AS n,
       |  ${sqlDsum("val")} AS sum_val
       |FROM long GROUP BY 1, 2 ORDER BY o_orderpriority, measure""".stripMargin

  /** null_semantics — the null algebra a correct engine must honor:
    * NULLIF-constructed nulls, COUNT(*) vs COUNT(col), SUM/MIN over
    * all-null groups, COALESCE fallback, and null-safe equality (Spark
    * `<=>` ≡ SQL IS NOT DISTINCT FROM).
    */
  def nullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .withColumn("bal_or_null",
        when(col("c_acctbal") < 0, col("c_acctbal")))
      .withColumn("seg_or_null", nullif(col("c_mktsegment"), lit("BUILDING")))
    c.groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("bal_or_null")).as("n_negative"),
        dsum(col("bal_or_null")).as("sum_negative"),
        sum(when(col("seg_or_null").isNull, 1L).otherwise(0L))
          .as("n_building"),
        count(col("seg_or_null")).as("n_other_seg"),
        sum(when(col("seg_or_null") <=> lit(null), 1L).otherwise(0L))
          .as("n_nullsafe_eq"),
        min(coalesce(col("bal_or_null"), lit(0.0))).as("min_neg_or_zero"))
      .orderBy(col("nation"))
  }

  val nullSemanticsSql: String =
    s"""WITH c AS (
       |  SELECT c_nationkey,
       |    CASE WHEN c_acctbal < 0 THEN c_acctbal END AS bal_or_null,
       |    nullif(c_mktsegment, 'BUILDING') AS seg_or_null
       |  FROM customer)
       |SELECT CAST(c_nationkey AS BIGINT) AS nation, COUNT(*) AS n_rows,
       |  COUNT(bal_or_null) AS n_negative,
       |  ${sqlDsum("bal_or_null")} AS sum_negative,
       |  CAST(SUM(CASE WHEN seg_or_null IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_building,
       |  COUNT(seg_or_null) AS n_other_seg,
       |  CAST(SUM(CASE WHEN seg_or_null IS NOT DISTINCT FROM NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
       |  MIN(coalesce(bal_or_null, 0.0)) AS min_neg_or_zero
       |FROM c GROUP BY 1 ORDER BY nation""".stripMargin

  /** having_filter — post-aggregation predicate (HAVING) against a scalar
    * threshold: suppliers whose discounted revenue exceeds the global
    * per-supplier average. `localCheckpoint` pins the per-supplier
    * aggregate (O(|suppliers|) rows), so the lineitem fact is scanned
    * exactly once and BOTH consumers — the 1-row threshold aggregate and
    * the final filter — read the checkpointed rows. (A naive
    * crossJoin(broadcast(agg)) without the checkpoint re-executes the
    * whole aggregate subplan — Spark does not reuse uncached subtrees —
    * doubling the fact scan; measured 11 s vs sub-second at sf0.1. The
    * round-2 shape used an empty-partition window instead: also
    * single-scan, but its one-task WindowExec becomes the straggler once
    * the group key is high-cardinality. This shape has no partition-less
    * window at ANY key cardinality — PlanSpec now asserts that invariant
    * suite-wide.)
    */
  def havingFilter(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val perSupp = li.groupBy(col("l_suppkey"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_items"))
      .localCheckpoint()
    // revenue doubles are exact images of 6dp values (see Det), so the
    // re-scaling in this average is exact (no rounding-boundary risk).
    // The GLOBAL sum gets the same hi/lo i64 split as every Det sum: a
    // single unsplit micro-scaled sum of ALL revenue would wrap i64 long
    // before 100 TB (total·1e6 ≈ 1e22 ≫ 2^63) — safety depends on total
    // magnitude, not on rows-per-supplier.
    val thr = perSupp.agg(
      (splitSum(scaledLong(col("revenue"), 1000000L)).cast("double")
        / 1000000L / count(lit(1))).as("avg_rev"))
    perSupp.crossJoin(broadcast(thr))
      .filter(col("revenue") > col("avg_rev"))
      .select(col("l_suppkey"), col("revenue"), col("n_items"))
      .orderBy(col("l_suppkey"))
  }

  val havingFilterSql: String =
    s"""WITH per_supp AS (
       |  SELECT l_suppkey,
       |    ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS revenue,
       |    COUNT(*) AS n_items
       |  FROM lineitem GROUP BY l_suppkey)
       |SELECT l_suppkey, revenue, n_items FROM per_supp
       |WHERE revenue > (SELECT ${sqlDsum6("revenue")} / COUNT(*) FROM per_supp)
       |ORDER BY l_suppkey""".stripMargin

  /** agg_grouping_sets — ARBITRARY grouping sets: ((yr, prio), (yr),
    * (prio)) is cube-minus-grand-total, expressible as neither ROLLUP nor
    * CUBE — the one §2.4-adjacent surface rollup/cube don't cover.
    * Exercised through the spark.sql entry path with the IDENTICAL ANSI
    * text as the DuckDB oracle; GROUPING markers disambiguate subtotal
    * nulls and (g_yr, g_prio, keys) is a total order.
    */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_gs_v")
    spark.sql(aggGroupingSetsSqlOn("orders_gs_v"))
  }

  private def aggGroupingSetsSqlOn(t: String): String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
       |  COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS revenue,
       |  CAST(GROUPING(CAST(year(o_orderdate) AS BIGINT)) AS BIGINT) AS g_yr,
       |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
       |FROM $t
       |GROUP BY GROUPING SETS (
       |  (CAST(year(o_orderdate) AS BIGINT), o_orderpriority),
       |  (CAST(year(o_orderdate) AS BIGINT)),
       |  (o_orderpriority))
       |ORDER BY g_yr, g_prio, yr NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  val aggGroupingSetsSql: String = aggGroupingSetsSqlOn("orders")

  /** events_anomaly — per-type outlier detection, the data-quality gate an
    * event pipeline runs before training on telemetry: flag events whose
    * value sits more than 3σ from the per-type mean. Two passes, both
    * engine-exact: pass 1 is one map-side-partial hash agg computing exact
    * fixed-point moments (n, Σv, Σv²) per type — 5 rows out no matter the
    * event volume; pass 2 broadcasts those 5 rows back onto the stream and
    * flags |v−μ| > 3σ row-by-row. μ/σ derive from the exact sums through a
    * fixed sequence of correctly-rounded double ops (same contract as
    * agg_stats), so the FLAG ITSELF is bit-identical in both engines — the
    * xor membership checksum proves which events tripped it, not just how
    * many. The moment table is localCheckpoint-pinned so the flag pass
    * cannot re-run the aggregate (two scans total, zero driver state).
    *
    * Scale: the classic two-pass z-score shape — each pass is one linear
    * scan; the broadcast side is |event_type| rows. At 100 TB nothing
    * changes: moments stay 5 rows, and dprodSum's 3-way split keeps Σv²
    * exact out to ~4e12 rows per type.
    */
  /** Per-type exact moments (n, μ, σ) — the "trained" side of the anomaly
    * gate, shared by the batch report (eventsAnomaly) and the streaming
    * filter (Streams.anomalyGate): the standard compute-moments-in-batch /
    * serve-on-the-stream split. Pinned so consumers can't re-run the
    * corpus aggregate.
    */
  private[graft] def eventMoments(spark: SparkSession, dir: String)
      : DataFrame = {
    val nD = col("n_events").cast("double")
    Tables.events(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("s1"),
        dprodSum(col("value"), col("value")).as("s2"))
      .withColumn("mu", col("s1") / nD)
      .withColumn("sigma",
        sqrt((col("s2") - col("s1") * col("s1") / nD) / nD))
      .localCheckpoint()
  }

  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val stats = eventMoments(spark, dir)
    val z = abs(col("value") - col("mu")) / col("sigma")
    val anom = abs(col("value") - col("mu")) > col("sigma") * lit(3.0)
    val flagged = ev
      .join(broadcast(stats.select(col("event_type"), col("mu"),
        col("sigma"))), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(anom, 1L).otherwise(0L)).as("n_anomalies"),
        bit_xor(when(anom, col("event_id"))).as("anom_id_xor"),
        round(max(when(anom, z)), 6).as("max_z"))
    stats
      .select(col("event_type"), col("n_events"),
        round(col("mu"), 6).as("mean_value"),
        round(col("sigma"), 6).as("stddev_value"))
      .join(flagged, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  val eventsAnomalySql: String =
    s"""WITH st AS (SELECT event_type, COUNT(*) AS n_events,
       |    ${sqlDsum("value")} AS s1, ${sqlDprodSum("value", "value")} AS s2
       |  FROM events GROUP BY event_type),
       |m AS (SELECT event_type, n_events,
       |    s1 / CAST(n_events AS DOUBLE) AS mu,
       |    sqrt((s2 - s1 * s1 / CAST(n_events AS DOUBLE))
       |      / CAST(n_events AS DOUBLE)) AS sigma
       |  FROM st),
       |f AS (SELECT e.event_type, e.event_id,
       |    abs(e.value - m.mu) > m.sigma * 3.0 AS an,
       |    abs(e.value - m.mu) / m.sigma AS z
       |  FROM events e JOIN m USING (event_type)),
       |a AS (SELECT event_type,
       |    CAST(SUM(CASE WHEN an THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       |    CAST(bit_xor(CASE WHEN an THEN event_id END) AS BIGINT) AS anom_id_xor,
       |    round(max(CASE WHEN an THEN z END), 6) AS max_z
       |  FROM f GROUP BY event_type)
       |SELECT m.event_type, m.n_events, round(m.mu, 6) AS mean_value,
       |  round(m.sigma, 6) AS stddev_value,
       |  a.n_anomalies, a.anom_id_xor, a.max_z
       |FROM m JOIN a USING (event_type) ORDER BY event_type""".stripMargin

  /** agg_hist_quantile (A10) — MERGEABLE quantile estimation from a
    * fixed-grid equi-width histogram: the sketch every distributed engine
    * reaches for when exact per-key sorts (agg_quantiles) are too
    * expensive. Bin counts are exact integers with map-side partials
    * (commutative merge — the 100-TB path: one narrow aggregation, no
    * global sort), the estimate is the upper edge of the bin where the
    * cumulative count crosses ceil(q·n/100), and error is bounded by one
    * bin width by construction.
    *
    * The cumulative sum runs as a triangular self-join over the ≤1024-row
    * histogram (broadcast-NL, ≤1M cells) rather than a partition-less
    * window — PlanSpec bans empty-partition WindowExec suite-wide, and on
    * a tiny post-aggregate frame the join costs nothing while keeping
    * every stage parallel. All arithmetic is integer (cents, bin ids,
    * ranks); the only double op is the final edge→dollars division,
    * identical in both engines.
    */
  def aggHistQuantile(spark: SparkSession, dir: String): DataFrame = {
    val binW = 10800L // cents: $108 bins, 1024 bins cover [0, $110,592)
    val hist = Tables.lineitem(spark, dir)
      .select(scaledLong(col("l_extendedprice"), 100L).as("cents"))
      .groupBy(expr(s"cents div $binW").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val tot = hist.agg(sum(col("cnt")).as("n"))
    val cum = hist.toDF("bin", "cnt")
      .join(broadcast(hist.toDF("b2", "c2")), col("b2") <= col("bin"))
      .groupBy(col("bin")).agg(sum(col("c2")).as("cum"))
    val s = spark
    import s.implicits._
    val qs = Seq(1L, 25L, 50L, 75L, 90L, 99L).toDF("q_pct")
    broadcast(qs)
      .crossJoin(tot)
      .join(cum, col("cum") >= expr("(n * q_pct + 99) div 100"))
      .groupBy(col("q_pct"))
      .agg(min(col("bin")).as("qbin"), max(col("n")).as("n_rows"))
      .select(col("q_pct"),
        (((col("qbin") + 1) * lit(binW)).cast("double") / 100).as("est"),
        col("n_rows"))
      .orderBy(col("q_pct"))
  }

  val aggHistQuantileSql: String =
    """WITH hist AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 10800 AS bin,
      |    COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT a.bin, CAST(SUM(b.cnt) AS BIGINT) AS cum
      |  FROM hist a JOIN hist b ON b.bin <= a.bin GROUP BY a.bin),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist),
      |qs AS (SELECT CAST(x AS BIGINT) AS q_pct
      |  FROM (VALUES (1), (25), (50), (75), (90), (99)) t(x))
      |SELECT q_pct,
      |  CAST((MIN(bin) + 1) * 10800 AS DOUBLE) / 100 AS est,
      |  CAST(MAX(n) AS BIGINT) AS n_rows
      |FROM qs CROSS JOIN tot
      |JOIN cum ON cum >= (n * q_pct + 99) // 100
      |GROUP BY q_pct ORDER BY q_pct""".stripMargin

  /** agg_hist_rollup (A12) — SKETCH REUSE across time: monthly histogram
    * partials (the table a 100-TB deployment materializes once per
    * ingestion period) answer QUARTERLY quantiles by merging bin counts —
    * the raw fact table is scanned exactly once, and every coarser
    * period/window after that is arithmetic over |months|×|bins| rows.
    * This is A10's sketch + A8's re-aggregation contract applied to
    * quantiles: bin counts are exact integers, so partial merge is exact,
    * and the quarter estimate is identical to sketching the quarter
    * directly. The partial table is PERSISTED as a stamped parquet
    * landing (the `sources.Bucketed`/`Partitioned` idiom: tmpdir
    * location, _SUCCESS-gated, keyed on the source's size+mtime) — the
    * raw scan is paid once per source state, and every later run in any
    * JVM starts from the |months|×|bins| landing, exactly how the
    * 100-TB deployment stores one partial file per ingestion period.
    *
    * The cumulative pass here CAN use a window — partitioned by quarter,
    * so it shards, unlike the global A10 case that used the triangular
    * join to honor the no-empty-partitionSpec invariant.
    */
  private val histBinW = 10800L

  // per-JVM memo of the monthly-partials landing path, keyed on source
  // stamp so a regenerated lineitem lands fresh partials (Formats.land
  // convention)
  private val histPartials =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def lineitemStamp(dir: String): String =
    Tables.srcStamp(new java.io.File(dir, "lineitem.parquet"))

  /** The stored monthly-partials table: built from ONE raw lineitem scan
    * per source state, then served from its parquet landing. coalesce(1)
    * because the partial table is |months|×|bins| rows (a few thousand) —
    * at real scale the landing is instead partitioned by month, one
    * partial file per ingestion period, appended incrementally.
    */
  private def monthlyPartials(spark: SparkSession, dir: String): DataFrame = {
    val path = histPartials.getOrElseUpdate((dir, lineitemStamp(dir)), {
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_hist_$safe/monthly_${lineitemStamp(dir)}")
      Tables.publishOnce(out) { tmp =>
        Tables.lineitem(spark, dir)
          .select(date_trunc("month", col("l_shipdate")).as("m"),
            scaledLong(col("l_extendedprice"), 100L).as("cents"))
          .groupBy(col("m"), expr(s"cents div $histBinW").as("bin"))
          .agg(count(lit(1)).as("cnt"))
          .coalesce(1)
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      }
    })
    // coalesce(1): the merge input is |months|×|bins| rows AT ANY RAW
    // SCALE — that is the sketch's contract (partial-merge cost is
    // independent of fact-table size), so the single-partition merge is
    // the honest 100-TB plan too, and it keeps the whole quarter rollup
    // exchange-free until the presentation sort.
    spark.read.parquet(path).coalesce(1)
  }

  def aggHistRollup(spark: SparkSession, dir: String): DataFrame = {
    val binW = histBinW
    val monthly = monthlyPartials(spark, dir)
    // quarter rollup: pure partial-merge, no raw data touched
    val qhist = monthly
      .groupBy(date_trunc("quarter", col("m")).as("q"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
    val wq = Window.partitionBy(col("q"))
    val cum = qhist
      .withColumn("cum", sum(col("cnt")).over(
        wq.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(wq))
    // quantile probes as an EXPLODED LITERAL, not a broadcast join: 4
    // constant rows don't deserve a BroadcastExchange job — explode is
    // map-side inside the same stage, same rows out (cross + filter)
    cum.withColumn("q_pct",
        explode(array(lit(25L), lit(50L), lit(75L), lit(95L))))
      .filter(col("cum") >= expr("(n * q_pct + 99) div 100"))
      .groupBy(col("q"), col("q_pct"))
      .agg(min(col("bin")).as("qbin"), max(col("n")).as("n_rows"))
      .select(fmtDate(col("q")).as("quarter"), col("q_pct"),
        (((col("qbin") + 1) * lit(binW)).cast("double") / 100).as("est"),
        col("n_rows"))
      .orderBy(col("quarter"), col("q_pct"))
  }

  val aggHistRollupSql: String =
    """WITH hist AS (
      |  SELECT date_trunc('quarter', l_shipdate) AS q,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) // 10800 AS bin,
      |    COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (
      |  SELECT q, bin, cnt,
      |    CAST(SUM(cnt) OVER (PARTITION BY q ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(SUM(cnt) OVER (PARTITION BY q) AS BIGINT) AS n
      |  FROM hist),
      |qs AS (SELECT CAST(x AS BIGINT) AS q_pct
      |  FROM (VALUES (25), (50), (75), (95)) t(x))
      |SELECT strftime(q, '%Y-%m-%d') AS quarter, q_pct,
      |  CAST((MIN(bin) + 1) * 10800 AS DOUBLE) / 100 AS est,
      |  CAST(MAX(n) AS BIGINT) AS n_rows
      |FROM cum JOIN qs ON cum >= (n * q_pct + 99) // 100
      |GROUP BY q, q_pct ORDER BY quarter, q_pct""".stripMargin

  /** orders_cohort_ltv (A29) — customer-lifetime-value CURVES by
    * first-order cohort: customers cohort on their first order month,
    * and each cohort's revenue accumulates over order-age months — the
    * "how fast does a cohort pay back" readout next to A23's retention
    * matrix (retention counts presence; LTV accumulates money). Ages in
    * exact integer months (year·12+month arithmetic — no float
    * months_between), revenue in exact summed cents, the cumulative via
    * a per-cohort ordered window (partitioned — suite discipline), and
    * the payback share as cum·1e6 div cohort-total ppm.
    *
    * Scale: first-order argmin rides the same o_custkey clustering as
    * the enrich join; the (cohort, age) rollup is domain-sized (months²)
    * with map-side combine; windows partition by cohort.
    */
  def ordersCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .as("m"),
      scaledLong(col("o_totalprice"), 100L).as("cents"))
    val first = o.groupBy(col("o_custkey"))
      .agg(min(col("m")).as("m0"))
    val aged = o.join(first, Seq("o_custkey"))
      .select((col("m0") - lit(0)).as("cohort_m"),
        (col("m") - col("m0")).as("age_months"), col("cents"))
      .groupBy(col("cohort_m"), col("age_months"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("rev_cents"))
    val byCohort = Window.partitionBy(col("cohort_m"))
    val wCum = byCohort.orderBy(col("age_months"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    aged
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(wCum))
      .withColumn("cohort_total", sum(col("rev_cents")).over(byCohort))
      .select(
        concat(lpad((col("cohort_m") / 12).cast("int").cast("string"), 4,
          "0"), lit("-"),
          lpad((col("cohort_m") % 12 + 1).cast("string"), 2, "0"))
          .as("cohort_month"),
        col("age_months"), col("n_orders"), col("rev_cents"),
        col("cum_rev_cents"),
        expr("cum_rev_cents * 1000000 div cohort_total").as("cum_ppm"))
      .orderBy(col("cohort_month"), col("age_months"))
  }

  val ordersCohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |f AS (SELECT o_custkey, MIN(m) AS m0 FROM o GROUP BY o_custkey),
      |aged AS (
      |  SELECT m0 AS cohort_m, o.m - m0 AS age_months,
      |    COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS rev_cents
      |  FROM o JOIN f ON f.o_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT *,
      |    CAST(SUM(rev_cents) OVER (PARTITION BY cohort_m
      |      ORDER BY age_months) AS BIGINT) AS cum_rev_cents,
      |    CAST(SUM(rev_cents) OVER (PARTITION BY cohort_m) AS BIGINT)
      |      AS cohort_total
      |  FROM aged)
      |SELECT lpad(CAST(cohort_m // 12 AS VARCHAR), 4, '0') || '-' ||
      |    lpad(CAST(cohort_m % 12 + 1 AS VARCHAR), 2, '0')
      |    AS cohort_month,
      |  CAST(age_months AS BIGINT) AS age_months,
      |  n_orders, rev_cents, cum_rev_cents,
      |  CAST(cum_rev_cents * 1000000 // cohort_total AS BIGINT) AS cum_ppm
      |FROM cum ORDER BY cohort_month, age_months""".stripMargin

  /** events_error_budget (A30) — SLO ERROR-BUDGET BURN, the SRE readout
    * next to W8's CUSUM drift: per day, the day's error rate versus the
    * budget, where the budget is DATA-DERIVED as 1.05× the stream's own
    * long-run error rate (a fixed 1% budget is degenerate on a corpus
    * whose baseline error share differs; 1.05× fires only on genuine
    * high-side burn, and fires at every SF — probed: a trailing-28-day
    * window converges to the global rate on a 30-day log and never
    * alerts). The alert comparison is exact integer cross-multiplication
    * — burn > 1.05·global ⇔ 20·err·1e6 > 21·ev·g — so no ratio float
    * crosses the engine boundary. The cumulative burn-down (share of the
    * SLO window's budget consumed so far) rides the same day frame.
    *
    * Scale: ONE scan → day-keyed mergeable counts (domain-sized
    * immediately); the cumulative is the triangular day-frame self-join
    * (|days|² integer pairs — the suite's no-partition-less-window
    * discipline); the global rate is a 1-row broadcast.
    */
  def eventsErrorBudget(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
    val g = days.agg(
      expr("sum(n_errors) * 1000000 div sum(n_events)").as("g_ppm"))
    val cum = days.as("a")
      .join(days.select(col("d").as("bd"), col("n_events").as("bev"),
        col("n_errors").as("berr")), col("bd") <= col("d"))
      .groupBy(col("d"), col("n_events"), col("n_errors"))
      .agg(sum(col("bev")).as("cum_events"),
        sum(col("berr")).as("cum_errors"))
    cum.crossJoin(broadcast(g))
      .withColumn("burn_ppm",
        expr("n_errors * 1000000 div n_events"))
      .withColumn("cum_burn_ppm",
        expr("cum_errors * 1000000 div cum_events"))
      .withColumn("in_alert",
        (col("n_errors") * 20000000L >
          col("n_events") * col("g_ppm") * 21L).cast("long"))
      .select(fmtDate(col("d")).as("day"), col("n_events"),
        col("n_errors"), col("burn_ppm"), col("cum_burn_ppm"),
        col("g_ppm"), col("in_alert"))
      .orderBy(col("day"))
  }

  val eventsErrorBudgetSql: String =
    s"""WITH dd AS (
       |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events,
       |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_errors
       |  FROM events GROUP BY 1),
       |g AS (SELECT CAST(SUM(n_errors) * 1000000 // SUM(n_events)
       |    AS BIGINT) AS g_ppm FROM dd),
       |cum AS (
       |  SELECT a.d, a.n_events, a.n_errors,
       |    CAST(SUM(b.n_events) AS BIGINT) AS cum_events,
       |    CAST(SUM(b.n_errors) AS BIGINT) AS cum_errors
       |  FROM dd a JOIN dd b ON b.d <= a.d
       |  GROUP BY a.d, a.n_events, a.n_errors)
       |SELECT ${sqlFmtDate("d")} AS day, n_events, n_errors,
       |  CAST(n_errors * 1000000 // n_events AS BIGINT) AS burn_ppm,
       |  CAST(cum_errors * 1000000 // cum_events AS BIGINT)
       |    AS cum_burn_ppm,
       |  g_ppm,
       |  CAST(CASE WHEN n_errors * 20000000 >
       |    n_events * g_ppm * 21 THEN 1 ELSE 0 END AS BIGINT)
       |    AS in_alert
       |FROM cum CROSS JOIN g ORDER BY day""".stripMargin

  /** nation_revenue_yoy (A31) — year-over-year revenue growth per nation,
    * the classic BI trend readout the star-join family (J1) lacked: per
    * (nation, year) exact cents revenue, previous year via lag over the
    * per-nation ordered window (partitioned — suite discipline), growth
    * in SIGNED exact ppm. The signed integral division is the probed
    * cross-engine hazard here: Spark's `div` truncates toward zero while
    * DuckDB's `//` floors, which DISAGREE on negative growth — both
    * sides therefore compute sign·(|Δ|·1e6 div prev) on non-negative
    * operands, where truncation and floor coincide.
    *
    * Scale: the orders⋈customer join shuffles once on custkey (nation
    * broadcast), the (nation, year) rollup is domain-sized with map-side
    * combine, and the YoY window partitions by nation.
    */
  def nationRevenueYoy(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      year(col("o_orderdate")).cast("long").as("yr"),
      scaledLong(col("o_totalprice"), 100L).as("cents"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val rev = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("yr"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("yr"))
    rev.withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .withColumn("yoy_ppm",
        when(col("prev_cents").isNotNull,
          when(col("rev_cents") >= col("prev_cents"), lit(1L))
            .otherwise(lit(-1L)) *
            expr("abs(rev_cents - prev_cents) * 1000000 div prev_cents")))
      .select(col("n_name"), col("yr"), col("n_orders"), col("rev_cents"),
        col("prev_cents"), col("yoy_ppm"))
      .orderBy(col("n_name"), col("yr"))
  }

  val nationRevenueYoySql: String =
    """WITH rev AS (
      |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents
      |  FROM orders
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey
      |  GROUP BY 1, 2),
      |lagd AS (
      |  SELECT *, lag(rev_cents) OVER (PARTITION BY n_name ORDER BY yr)
      |    AS prev_cents
      |  FROM rev)
      |SELECT n_name, yr, n_orders, rev_cents, prev_cents,
      |  CASE WHEN prev_cents IS NOT NULL THEN
      |    (CASE WHEN rev_cents >= prev_cents THEN 1 ELSE -1 END) *
      |    CAST(abs(rev_cents - prev_cents) * 1000000 // prev_cents
      |      AS BIGINT)
      |  END AS yoy_ppm
      |FROM lagd ORDER BY n_name, yr""".stripMargin

  /** agg_corr (A33) — exact Pearson association between quantity and
    * order value per returnflag: the "are bigger orders bigger-ticket?"
    * readout, and the deterministic-correlation idiom next to
    * events_autocorr (A18) — r² in ppm + sign, never a float corr()
    * crossing the engine boundary. Power sums run in i64 on scaled
    * integers (quantity ×100 ≤ 5e3, price in whole dollars ≤ ~1.1e5:
    * sum(d²) ≤ 6.6e15 per 6e5-row group, ~1e3× i64 headroom; past
    * ~1e5× that scale the dprodSum 3-way split applies unchanged); the
    * closed-form numerator/denominators run in DECIMAL(38,0) / HUGEINT,
    * and the two truncating divisions are op-identical (the A16 probe).
    * The exact scaled covariance num div n² ships as its own column.
    *
    * Scale: one scan → 3-group partial-combined aggregate; everything
    * after the shuffle touches 3 rows.
    */
  def aggCorr(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"),
      scaledLong(col("l_quantity"), 100L).as("q"),
      scaledLong(col("l_extendedprice"), 1L).as("d"))
    val s = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sq"), sum(col("d")).as("sd"),
        sum(col("q") * col("q")).as("sqq"),
        sum(col("d") * col("d")).as("sdd"),
        sum(col("q") * col("d")).as("sqd"))
    def dec(c: String) = col(c).cast("decimal(38,0)")
    s.select(col("l_returnflag"), col("n").as("n_rows"),
        (dec("n") * dec("sqd") - dec("sq") * dec("sd")).as("num"),
        (dec("n") * dec("sqq") - dec("sq") * dec("sq")).as("d1"),
        (dec("n") * dec("sdd") - dec("sd") * dec("sd")).as("d2"))
      .select(col("l_returnflag"), col("n_rows"),
        when(col("d1") === 0 || col("d2") === 0, lit(null))
          .otherwise(expr("(num * 1000 div d1) * (num * 1000 div d2)"))
          .cast("long").as("r2_ppm"),
        when(col("num") > 0, lit(1L)).when(col("num") < 0, lit(-1L))
          .otherwise(lit(0L)).as("corr_sign"),
        expr("num div (n_rows * n_rows)").cast("long").as("cov_scaled"))
      .orderBy(col("l_returnflag"))
  }

  val aggCorrSql: String =
    """WITH s AS (SELECT l_returnflag, count(*) AS n,
      |    sum(q) AS sq, sum(d) AS sd, sum(q*q) AS sqq,
      |    sum(d*d) AS sdd, sum(q*d) AS sqd
      |  FROM (SELECT l_returnflag,
      |      CAST(round(l_quantity * 100) AS BIGINT) AS q,
      |      CAST(round(l_extendedprice) AS BIGINT) AS d
      |    FROM lineitem) GROUP BY 1)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN (n*sqq - sq*sq) = 0 OR (n*sdd - sd*sd) = 0
      |    THEN NULL
      |    ELSE ((n*sqd - sq*sd) * 1000 // (n*sqq - sq*sq))
      |       * ((n*sqd - sq*sd) * 1000 // (n*sdd - sd*sd))
      |  END AS BIGINT) AS r2_ppm,
      |  CAST(CASE WHEN (n*sqd - sq*sd) > 0 THEN 1
      |    WHEN (n*sqd - sq*sd) < 0 THEN -1 ELSE 0 END AS BIGINT)
      |    AS corr_sign,
      |  CAST((n*sqd - sq*sd) // (n*n) AS BIGINT) AS cov_scaled
      |FROM s ORDER BY l_returnflag""".stripMargin

  /** events_dau_mau (A34) — per (month, event_type) engagement
    * stickiness: avg-DAU / MAU in ppm, the canonical product-health
    * ratio. The whole month of per-user daily activity packs into ONE
    * i64 day-bitmask per (month, type, user) — day-of-month ≤ 31 → bit
    * d−1 — so a single exchange serves all three readouts: MAU = row
    * count, ΣDAU = Σ popcount(mask), active-day count = popcount of the
    * OR-fold. The naive formulation pays two distincts ((day,user) and
    * (month,user)) over the raw scan; here both derive from one
    * aggregate, the same packed-bitmap discipline as agg_distinct (A2).
    *
    * Scale: one scan → (month, type, user)-keyed exchange (user-sized,
    * the minimum any exact MAU pays) → domain-sized rollup. Masks merge
    * by bit_or, so the partial aggregation is mergeable at any fan-in.
    */
  def eventsDauMau(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      date_format(col("ts"), "yyyy-MM").as("month"),
      col("event_type"), col("user_id"),
      expr("shiftleft(1L, dayofmonth(ts) - 1)").as("day_bit"))
    val perUser = e.groupBy(col("month"), col("event_type"),
        col("user_id"))
      .agg(bit_or(col("day_bit")).as("mask"))
    perUser.groupBy(col("month"), col("event_type"))
      .agg(count(lit(1)).as("mau"),
        sum(bit_count(col("mask")).cast("long")).as("dau_total"),
        bit_count(bit_or(col("mask"))).cast("long").as("n_days"))
      .select(col("month"), col("event_type"), col("mau"),
        col("dau_total"), col("n_days"),
        expr("dau_total * 1000000 div (mau * n_days)")
          .as("stickiness_ppm"))
      .orderBy(col("month"), col("event_type"))
  }

  val eventsDauMauSql: String =
    """WITH pu AS (SELECT strftime(ts, '%Y-%m') AS month, event_type,
      |    user_id,
      |    bit_or(CAST(1 AS BIGINT) << (day(ts) - 1)) AS mask
      |  FROM events GROUP BY 1, 2, 3),
      |m AS (SELECT month, event_type, count(*) AS mau,
      |    CAST(sum(bit_count(mask)) AS BIGINT) AS dau_total,
      |    CAST(bit_count(bit_or(mask)) AS BIGINT) AS n_days
      |  FROM pu GROUP BY 1, 2)
      |SELECT month, event_type, mau, dau_total, n_days,
      |  CAST(dau_total * 1000000 // (mau * n_days) AS BIGINT)
      |    AS stickiness_ppm
      |FROM m ORDER BY month, event_type""".stripMargin

  /** q11_important_share (A35) — the TPC-H Q11 shape: HAVING against a
    * GLOBAL scalar ("parts whose inventory value exceeds 1/2000 of the
    * national total"). The classic trap is the float threshold
    * (sum(group) > total · 0.0005); here the comparison cross-multiplies
    * in exact integers — cents·2000 > total_cents — so membership is
    * engine-identical (the J13/q22 discipline applied to HAVING).
    *
    * Scale: one fact scan → per-part exact cents aggregate; the global
    * total derives from the SAME aggregate (ReusedExchange) instead of a
    * second scan, broadcasts as 1 row, and the filter + top-25 are
    * domain-sized (TakeOrderedAndProject).
    */
  def q11ImportantShare(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(scaledLong(col("l_extendedprice"), 100L)).as("cents"))
    val tot = perPart.agg(sum(col("cents")).as("total_cents"))
    perPart.crossJoin(broadcast(tot))
      .filter(col("cents") * 2000 > col("total_cents"))
      .select(col("l_partkey"), col("cents").as("value_cents"),
        expr("cents * 1000000 div total_cents").as("share_ppm"))
      .orderBy(col("value_cents").desc, col("l_partkey"))
      .limit(25)
  }

  val q11ImportantShareSql: String =
    """WITH per_part AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents
      |  FROM per_part)
      |SELECT l_partkey, cents AS value_cents,
      |  CAST(cents * 1000000 // total_cents AS BIGINT) AS share_ppm
      |FROM per_part CROSS JOIN tot
      |WHERE cents * 2000 > total_cents
      |ORDER BY value_cents DESC, l_partkey LIMIT 25""".stripMargin

  /** events_burstiness (A36) — index of dispersion (Fano factor) of the
    * hourly arrival counts per event type: F = var/mean distinguishes
    * Poisson-like steady streams (F≈1) from bursty ones (F≫1) — the
    * capacity-planning readout next to A18's memory diagnostic. Entirely
    * exact integers over the PRESENT-hour frame (declared semantics —
    * empty hours are gaps, not zeros, the same frame A18 pairs on):
    * F_ppm = (n·Σc² − (Σc)²)·10⁶ div (n·Σc), power sums in i64
    * (c ≤ per-hour row count; Σc² ≤ rows²/hours — i64-safe past 1e9
    * rows/hour/type).
    *
    * Scale: one scan → (type, hour) partial-combined census
    * (domain-sized) → 5-row rollup.
    */
  def eventsBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("scc"))
      .select(col("event_type"), col("n_hours"), col("n_events"),
        expr("(n_hours * scc - n_events * n_events) * 1000000" +
          " div (n_hours * n_events)").as("fano_ppm"))
      .orderBy(col("event_type"))
  }

  val eventsBurstinessSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, count(*) AS n_hours,
      |    CAST(sum(c) AS BIGINT) AS n_events,
      |    CAST(sum(c*c) AS BIGINT) AS scc
      |  FROM hourly GROUP BY 1)
      |SELECT event_type, n_hours, n_events,
      |  CAST((n_hours * scc - n_events * n_events) * 1000000
      |    // (n_hours * n_events) AS BIGINT) AS fano_ppm
      |FROM s ORDER BY event_type""".stripMargin

  /** events_seasonal_anomaly (A48) — SEASONALLY-ADJUSTED outlier gate:
    * L20's 3σ rule scores every event against its OWN seasonal cell's
    * (type, day-of-week, hour-of-day) baseline instead of the global
    * per-type one — the "is this normal FOR a Tuesday 3am" monitor; a
    * value ordinary at the Friday-evening peak is anomalous at Sunday
    * dawn, which a global gate cannot see. Composes A17's cell grid
    * (same portable dow = days-since-Monday-2024-01-01 mod 7) with
    * L20's power-sum discipline.
    *
    * Exactness: per-cell n, Σc, Σc² accumulate as exact i64 WINDOW
    * aggregates over the cell partitioning — ONE scan, ONE exchange,
    * and the per-cell census afterwards reuses that partitioning (no
    * second exchange). The 3σ decision cross-multiplies into integers
    * and compares through identical IEEE doubles both engines
    * ((c·n − Σc)² > 9·(n·Σc² − (Σc)²), overflow-safe in double's exact
    * range for the products involved).
    *
    * Scale: |types|·168 cells regardless of volume; state per row is
    * three window columns; report is cell-sized.
    */
  def eventsSeasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          % 7).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"),
        scaledLong(col("value"), 100L).as("c"))
    val cell = Window.partitionBy(col("event_type"), col("dow"), col("hr"))
    val scored = e
      .withColumn("n", count(lit(1)).over(cell))
      .withColumn("sc", sum(col("c")).over(cell))
      .withColumn("scc", sum(col("c") * col("c")).over(cell))
      .withColumn("anom",
        (col("c") * col("n") - col("sc")).cast("double") *
          (col("c") * col("n") - col("sc")).cast("double") >
        lit(9.0) * (col("n") * col("scc") - col("sc") * col("sc"))
          .cast("double"))
    scored.groupBy(col("event_type"), col("dow"), col("hr"))
      .agg(max(col("n")).as("n_events"),
        expr("max(sc) * 1000000 div max(n)").as("mean_micro_cents"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anomalies"))
      .orderBy(col("event_type"), col("dow"), col("hr"))
  }

  val eventsSeasonalAnomalySql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
      |      AS BIGINT) AS dow,
      |    CAST(hour(ts) AS BIGINT) AS hr,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |s AS (
      |  SELECT event_type, dow, hr, c,
      |    count(*) OVER w AS n, SUM(c) OVER w AS sc,
      |    SUM(c * c) OVER w AS scc
      |  FROM e
      |  WINDOW w AS (PARTITION BY event_type, dow, hr))
      |SELECT event_type, dow, hr,
      |  CAST(max(n) AS BIGINT) AS n_events,
      |  CAST(max(sc) * 1000000 // max(n) AS BIGINT) AS mean_micro_cents,
      |  CAST(SUM(CASE WHEN
      |      CAST(c * n - sc AS DOUBLE) * CAST(c * n - sc AS DOUBLE) >
      |      9.0 * CAST(n * scc - sc * sc AS DOUBLE)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("events_seasonal_anomaly", eventsSeasonalAnomaly,
      eventsSeasonalAnomalySql),
    Query("q11_important_share", q11ImportantShare, q11ImportantShareSql),
    Query("events_burstiness", eventsBurstiness, eventsBurstinessSql),
    Query("agg_corr", aggCorr, aggCorrSql),
    Query("events_dau_mau", eventsDauMau, eventsDauMauSql),
    Query("nation_revenue_yoy", nationRevenueYoy, nationRevenueYoySql),
    Query("events_error_budget", eventsErrorBudget, eventsErrorBudgetSql),
    Query("orders_cohort_ltv", ordersCohortLtv, ordersCohortLtvSql),
    Query("agg_hist_rollup", aggHistRollup, aggHistRollupSql, warm = true),
    Query("agg_hist_quantile", aggHistQuantile, aggHistQuantileSql),
    Query("having_filter", havingFilter, havingFilterSql),
    Query("events_anomaly", eventsAnomaly, eventsAnomalySql),
    Query("events_anomaly_mad", eventsAnomalyMad, eventsAnomalyMadSql),
    Query("events_rfm", eventsRfm, eventsRfmSql),
    Query("events_trend", eventsTrend, eventsTrendSql),
    Query("events_holt", eventsHolt, eventsHoltSql),
    Query("events_diversity", eventsDiversity, eventsDiversitySql),
    Query("events_forecast_backtest", eventsForecastBacktest,
      eventsForecastBacktestSql),
    Query("events_seasonality", eventsSeasonality, eventsSeasonalitySql),
    Query("events_autocorr", eventsAutocorr, eventsAutocorrSql),
    Query("agg_grouping_sets", aggGroupingSets, aggGroupingSetsSql),
    Query("agg_cube", aggCube, aggCubeSql),
    Query("pivot_segment", pivotSegment, pivotSegmentSql),
    Query("agg_median", aggMedian, aggMedianSql),
    Query("agg_quantiles", aggQuantiles, aggQuantilesSql),
    Query("agg_stats", aggStats, aggStatsSql),
    Query("unpivot_measures", unpivotMeasures, unpivotMeasuresSql),
    Query("null_semantics", nullSemantics, nullSemanticsSql),
    Query("sql_subquery", sqlSubquery, sqlSubquerySql))
}
