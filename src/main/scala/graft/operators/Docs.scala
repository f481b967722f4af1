package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables

/** Text-pipeline operators over the `documents` table (SURVEY.md §2.8 rows
  * L1/L4/L6 + the driver-mandated text-analysis set: language-ID, quality
  * scoring, token counting, fingerprinting).
  *
  * Determinism-by-construction conventions (SURVEY.md §5):
  *  - all hashing is md5 (identical lowercase hex in Spark and DuckDB);
  *  - no transcendental functions in compared output — TF-IDF uses a
  *    rational idf (N/df) so every double op (int→double cast, one multiply,
  *    one divide) is a single correctly-rounded IEEE op, identical in both
  *    engines;
  *  - tokenization is `split(lower(text), ' ')` after whitespace collapse,
  *    mirrored as string_split in DuckDB.
  *
  * Scale notes (100 TB): every query is scan → narrow per-row transform
  * (codegen'd string/array exprs) → hash agg or window on a key with
  * data-proportional cardinality (doc_id, term). Token/shingle explodes grow
  * rows ~100× but stay map-side (no shuffle of the exploded rows except the
  * per-key partial-aggregated form). Nothing collects to the driver.
  */
object Docs {

  /** Normalized text: lowercase, collapse runs of whitespace, trim. */
  private[operators] def norm(c: org.apache.spark.sql.Column) =
    lower(trim(regexp_replace(c, "\\s+", " ")))
  private[operators] val sqlNorm =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** doc_dedup (L1) — exact dedup on md5 of normalized text. Per language:
    * rows in, distinct normalized hashes, dup rows removed, and the survivor
    * id sum (keep-first = min doc_id per hash) as an order-free checksum of
    * WHICH rows survive, not just how many.
    *
    * Scale: groupBy(hash) is one shuffle on a high-cardinality key —
    * partial agg makes it ~1 row per distinct hash per partition; the
    * canonical 100-TB exact-dedup plan.
    */
  def docDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val keepers = d
      .select(col("lang"), md5(norm(col("text"))).as("h"), col("doc_id"))
      .groupBy(col("lang"), col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_rows"))
    keepers
      .groupBy(col("lang"))
      .agg(
        sum(col("n_rows")).as("n_docs"),
        count(lit(1)).as("n_uniq"),
        (sum(col("n_rows")) - count(lit(1))).as("n_removed"),
        sum(col("keep_id")).as("keeper_id_sum"))
      .orderBy(col("lang"))
  }

  /** Row-filtering form of docDedup's survivor rule: keep the min-doc_id
    * row per normalized-text hash (same norm + md5 expressions). This is
    * what a pipeline actually APPLIES downstream — docDedup is its audit
    * report. Idempotent by construction (dedup∘dedup = dedup — pinned as a
    * ScalaCheck property in QueriesSpec); the window shuffles on the
    * high-cardinality hash exactly like the groupBy form.
    */
  def dedupRows(docs: DataFrame): DataFrame = {
    // row_number, not min-equality: min(doc_id)==doc_id keeps EVERY row
    // carrying the min id, so duplicate doc_ids sharing a normalized text
    // would all survive. row_number picks exactly one survivor per hash
    // regardless of id collisions (ties broken by partition order among
    // equal doc_ids — deterministically one row either way).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(norm(col("text"))))
      .orderBy(col("doc_id"))
    docs
      .withColumn("rn__", row_number().over(w))
      .filter(col("rn__") === 1)
      .drop("rn__")
  }

  val docDedupSql: String =
    s"""WITH keepers AS (
       |  SELECT lang, md5($sqlNorm) AS h,
       |         min(doc_id) AS keep_id, count(*) AS n_rows
       |  FROM documents GROUP BY 1, 2)
       |SELECT lang, CAST(SUM(n_rows) AS BIGINT) AS n_docs, COUNT(*) AS n_uniq,
       |       CAST(SUM(n_rows) - COUNT(*) AS BIGINT) AS n_removed,
       |       CAST(SUM(keep_id) AS BIGINT) AS keeper_id_sum
       |FROM keepers GROUP BY lang ORDER BY lang""".stripMargin

  /** doc_text_stats (L4) — per (lang, source): doc count, token totals, char
    * totals, and vocabulary size (distinct tokens across the group).
    */
  def docTextStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("toks", split(norm(col("text")), " "))
    val perDoc = d.select(
      col("lang"), col("source"), col("doc_id"),
      size(col("toks")).cast("long").as("n_toks"),
      length(col("text")).cast("long").as("n_chars_m"))
    val vocab = d
      .select(col("lang"), col("source"), explode(col("toks")).as("tok"))
      .groupBy(col("lang"), col("source"))
      .agg(countDistinct(col("tok")).as("vocab"))
    perDoc
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_toks"),
        sum(col("n_chars_m")).as("total_chars"))
      .join(vocab, Seq("lang", "source"))
      .orderBy(col("lang"), col("source"))
  }

  val docTextStatsSql: String =
    s"""WITH toks AS (
       |  SELECT lang, source, doc_id,
       |         string_split($sqlNorm, ' ') AS t, length(text) AS nc
       |  FROM documents),
       |per_doc AS (
       |  SELECT lang, source, count(*) AS n_docs,
       |         CAST(SUM(CAST(len(t) AS BIGINT)) AS BIGINT) AS total_toks,
       |         CAST(SUM(CAST(nc AS BIGINT)) AS BIGINT) AS total_chars
       |  FROM toks GROUP BY 1, 2),
       |vocab AS (
       |  SELECT lang, source, COUNT(DISTINCT tok) AS vocab
       |  FROM (SELECT lang, source, unnest(t) AS tok FROM toks)
       |  GROUP BY 1, 2)
       |SELECT p.lang, p.source, n_docs, total_toks, total_chars, vocab
       |FROM per_doc p JOIN vocab v USING (lang, source)
       |ORDER BY p.lang, p.source""".stripMargin

  /** doc_tokens — token counting two ways per doc: whitespace tokens and a
    * BPE-ish piece count (runs of [a-z0-9] plus single non-space symbols),
    * the standard pre-tokenizer shape.
    */
  def docTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
        col("doc_id"),
        size(split(norm(col("text")), " ")).cast("long").as("ws_tokens"),
        regexp_count(lower(col("text")), lit("[a-z0-9]+|[^a-z0-9\\s]"))
          .cast("long").as("bpe_pieces"),
        length(col("text")).cast("long").as("n_chars_m"))
      .orderBy(col("doc_id"))
  }

  val docTokensSql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split($sqlNorm, ' ')) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_pieces,
       |  CAST(length(text) AS BIGINT) AS n_chars_m
       |FROM documents ORDER BY doc_id""".stripMargin

  /** doc_heavy_hitters (A11) — corpus-wide frequent tokens via the
    * Misra-Gries mergeable sketch (`functions/MisraGriesAgg`) + EXACT
    * verification: pass 1 folds every token into one bounded K-counter
    * state (map-side partials merge like any agg — the 100-TB path where
    * a full groupBy(token) would be the bottleneck and top-k over it a
    * global sort), pass 2 re-counts ONLY the ≤K candidates (broadcast
    * semi-join — the high-cardinality token aggregate shrinks to the
    * candidate set) and filters on exact counts at the n/200 line. The
    * sketch guarantees candidates ⊇ all true >n/512 items, so the exact
    * filter sees every qualifying token regardless of fold order; the
    * DuckDB oracle computes the same answer by brute groupBy-HAVING.
    */
  def docHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val mgUdaf = udaf(graft.functions.MisraGriesAgg.mg)
    val toks = Tables.documents(spark, dir)
      .select(explode(split(norm(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // one pass for total + sketch; the 1-row result pins via checkpoint so
    // the n / candidate branches don't re-tokenize the corpus
    val pass1 = toks.agg(count(lit(1)).as("n"), mgUdaf(col("tok")).as("cands"))
      .localCheckpoint()
    val cand = pass1.select(explode(col("cands")).as("tok"))
    val tot = pass1.select(col("n"))
    toks.join(broadcast(cand), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(tot))
      .filter(col("freq") * 200 > col("n"))
      .select(col("tok"), col("freq"), expr("freq * 1000000 div n").as("share_ppm"))
      .orderBy(col("freq").desc, col("tok"))
  }

  val docHeavyHittersSql: String =
    s"""WITH t AS (
       |  SELECT unnest(string_split($sqlNorm, ' ')) AS tok FROM documents),
       |tt AS (SELECT tok FROM t WHERE tok <> ''),
       |n AS (SELECT COUNT(*) AS n FROM tt),
       |f AS (SELECT tok, COUNT(*) AS freq FROM tt GROUP BY tok)
       |SELECT tok, freq, freq * 1000000 // n AS share_ppm
       |FROM f CROSS JOIN n
       |WHERE freq * 200 > n
       |ORDER BY freq DESC, tok""".stripMargin

  /** doc_keyword_search (L26) — conjunctive keyword retrieval, the
    * inverted-index query primitive expressed relationally: a document
    * matches when it contains ALL query terms, scored here by total term
    * occurrences. The query-term table broadcasts (it is always tiny),
    * the token stream joins it BEFORE any aggregation — so the shuffle
    * carries only (doc, term) hits for query terms, never the full
    * posting universe — and the ALL-terms test is `count(distinct term)
    * = |terms|` per doc. At 100 TB this is exactly the query an inverted
    * index answers; the relational form IS the index build fused with
    * one probe, and materializing `tokens → (term, doc)` sorted by term
    * is the index itself.
    */
  def docKeywordSearch(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    val terms = Seq("join", "hash", "scan").toDF("tok")
    val d = Tables.documents(spark, dir)
    val hits = d
      .select(col("doc_id"), col("lang"),
        explode(split(norm(col("text")), " ")).as("tok"))
      .join(broadcast(terms), Seq("tok"))
    hits.groupBy(col("doc_id"), col("lang"))
      .agg(
        countDistinct(col("tok")).as("n_terms"),
        count(lit(1)).as("n_hits"))
      .filter(col("n_terms") === 3)
      .select(col("doc_id"), col("lang"), col("n_hits"))
      .orderBy(col("n_hits").desc, col("doc_id"))
  }

  val docKeywordSearchSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    unnest(string_split($sqlNorm, ' ')) AS tok
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id, lang, tok FROM t
       |  WHERE tok IN ('join', 'hash', 'scan'))
       |SELECT doc_id, lang, COUNT(*) AS n_hits
       |FROM hits GROUP BY doc_id, lang
       |HAVING COUNT(DISTINCT tok) = 3
       |ORDER BY n_hits DESC, doc_id""".stripMargin

  /** doc_bm25 (L40) — BM25 ranked retrieval in an INTEGER skeleton, the
    * scoring layer above doc_keyword_search's boolean conjunctive match:
    * per (doc, query-term) the Robertson tf saturation
    * f·(k1+1) / (f + k1·(1−b+b·dl/avgdl)) with k1=6/5, b=3/4, cleared of
    * ALL rationals by multiplying through by 10·L (avgdl = L/N stays an
    * exact pair, never a float): tf_ppm = 22·L·f·10⁶ div
    * (10·L·f + 3·L + 9·dl·N). The idf leg is the monotone integer
    * surrogate (N+1)·10⁶ div (df+1) — the log's argument without the
    * log, same ranking within the score's declared semantics (the
    * doc_lm_coverage framing: exact integer skeleton, bit-identical
    * across engines, same tail ordering). Doc score = Σ over matched
    * terms of idf·tf div 10⁶ — everything i64.
    *
    * Scale: the broadcast query-term join prunes the token stream BEFORE
    * aggregation (L26 discipline — the shuffle carries query-term hits
    * only); dl rides map-side from the same split; corpus stats are a
    * 1-row broadcast and df a |terms|-row broadcast. Top-10 =
    * TakeOrderedAndProject. At fleet scale 22·L·f·10⁶ outgrows i64 —
    * promote the clearing to DECIMAL(38,0) (the A16 idiom) unchanged.
    */
  def docBm25(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    val terms = Seq("join", "hash", "scan").toDF("tok")
    val dd = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        split(norm(col("text")), " ").as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
    val hits = dd.join(broadcast(terms), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("f"))
    val dft = hits.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = Tables.documents(spark, dir)
      .select(size(split(norm(col("text")), " ")).cast("long").as("dl0"))
      .agg(count(lit(1)).as("nn"), sum(col("dl0")).as("ll"))
    hits.join(broadcast(dft), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("lang"), col("dl"),
        expr("((nn + 1) * 1000000 div (df + 1))" +
          " * ((22 * ll * f * 1000000) div (10 * ll * f + 3 * ll + 9 * dl * nn))" +
          " div 1000000").as("ts"))
      .groupBy(col("doc_id"), col("lang"), col("dl"))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum(col("ts")).cast("long").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  val docBm25Sql: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |    string_split($sqlNorm, ' ') AS toks FROM documents),
       |dd AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS dl,
       |    unnest(toks) AS tok FROM d),
       |hits AS (SELECT doc_id, lang, dl, tok, count(*) AS f
       |  FROM dd WHERE tok IN ('join', 'hash', 'scan')
       |  GROUP BY 1, 2, 3, 4),
       |dft AS (SELECT tok, count(*) AS df FROM hits GROUP BY tok),
       |stats AS (SELECT count(*) AS nn, CAST(sum(len(toks)) AS BIGINT) AS ll
       |  FROM d),
       |scored AS (SELECT h.doc_id, h.lang, h.dl,
       |    (((nn + 1) * 1000000 // (df + 1))
       |     * ((22 * ll * f * 1000000)
       |        // (10 * ll * f + 3 * ll + 9 * h.dl * nn)))
       |    // 1000000 AS ts
       |  FROM hits h JOIN dft USING (tok) CROSS JOIN stats)
       |SELECT doc_id, lang, dl,
       |  CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(sum(ts) AS BIGINT) AS score
       |FROM scored GROUP BY 1, 2, 3
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** doc_readability (L41) — Flesch reading-ease in an INTEGER skeleton,
    * the classic readability quality signal next to doc_quality's
    * length/stopword ratios: per doc, words (whitespace tokens),
    * sentences (terminal-punctuation runs, floored at 1), a vowel-group
    * syllable proxy (the standard cheap estimator), and
    * score_milli = 206835 − (1015·words) div sentences −
    * (84600·syllables) div words — Flesch's constants ×1000 with the two
    * rational terms as truncating integer divisions, so both engines
    * emit identical scores and band the same documents (easy ≥ 60000 >
    * medium ≥ 30000 > hard). Report per language: doc count, exact sums,
    * mean score, band census.
    *
    * Scale: three codegen'd regexp_count/size projections per row
    * (map-side), ONE |langs|-row aggregate. No explode, no shuffle
    * beyond the partial-combined rollup.
    */
  def docReadability(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(norm(col("text")), " ")).cast("long").as("w"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"),
          lit(1L)).as("s"),
        greatest(regexp_count(lower(col("text")), lit("[aeiouy]+"))
          .cast("long"), lit(1L)).as("y"))
      .withColumn("score_m",
        expr("206835 - (1015 * w) div s - (84600 * y) div w"))
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).cast("long").as("total_words"),
        sum(col("s")).cast("long").as("total_sentences"),
        sum(col("y")).cast("long").as("total_syllables"),
        expr("sum(score_m) div count(1)").as("mean_score_milli"),
        sum(when(col("score_m") >= 60000L, 1L).otherwise(0L)).cast("long")
          .as("n_easy"),
        sum(when(col("score_m") >= 30000L && col("score_m") < 60000L, 1L)
          .otherwise(0L)).cast("long").as("n_medium"),
        sum(when(col("score_m") < 30000L, 1L).otherwise(0L)).cast("long")
          .as("n_hard"))
      .orderBy(col("lang"))
  }

  val docReadabilitySql: String =
    s"""WITH d AS (SELECT lang,
       |    CAST(len(string_split($sqlNorm, ' ')) AS BIGINT) AS w,
       |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
       |      AS BIGINT), 1) AS s,
       |    greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
       |      AS BIGINT), 1) AS y
       |  FROM documents),
       |sc AS (SELECT lang, w, s, y,
       |    206835 - (1015 * w) // s - (84600 * y) // w AS score_m
       |  FROM d)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(w) AS BIGINT) AS total_words,
       |  CAST(sum(s) AS BIGINT) AS total_sentences,
       |  CAST(sum(y) AS BIGINT) AS total_syllables,
       |  CAST(sum(score_m) // count(*) AS BIGINT) AS mean_score_milli,
       |  CAST(sum(CASE WHEN score_m >= 60000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_easy,
       |  CAST(sum(CASE WHEN score_m >= 30000 AND score_m < 60000
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
       |  CAST(sum(CASE WHEN score_m < 30000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hard
       |FROM sc GROUP BY lang ORDER BY lang""".stripMargin

  /** Tiny built-in stopword list shared by quality scoring and language-ID.
    * (lang, marker-token) pairs — public-knowledge function words.
    */
  private val markers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "to",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "zu",
    "fr" -> "le", "fr" -> "la", "fr" -> "et", "fr" -> "de", "fr" -> "un",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "y", "es" -> "un",
    "zh" -> "de", "zh" -> "shi", "zh" -> "le", "zh" -> "he", "zh" -> "zai")
  private val sqlMarkers: String =
    markers.map { case (l, t) => s"('$l','$t')" }.mkString(", ")

  /** doc_quality — per-doc quality features + a composite score: length
    * saturation, stopword ratio, mean word length. All double math is the
    * identical op sequence in both engines (casts of ints, one divide per
    * feature, fixed-weight linear blend), so no rounding is needed.
    */
  def docQuality(spark: SparkSession, dir: String): DataFrame = {
    // `nt` is computed ONCE and every feature derives from it arithmetically
    // — the round-2 shape both re-ran `norm` for the letter count and
    // filtered tokens with an array lambda (HOF lambdas evaluate
    // INTERPRETED per token; the repo-wide discipline note bans them from
    // hot paths). Stopwords are counted by a codegen'd regexp_count over
    // the normalized text: tokens are single-space separated, so the
    // space-delimited alternation `(^| )(w1|...|wN)(?= |$)` counts exactly
    // the tokens the isin-filter counted (the lookahead leaves the
    // trailing separator unconsumed, so consecutive stopwords all match).
    val d = Tables.documents(spark, dir)
      .withColumn("nt", norm(col("text")))
      .withColumn("toks", split(col("nt"), " "))
    val en = markers.filter(_._1 == "en").map(_._2)
    val nTok = size(col("toks")).cast("double")
    val nStop = regexp_count(col("nt"),
      lit(s"(^| )(${en.mkString("|")})(?= |$$)")).cast("double")
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val stopRatio = nStop / nTok
    // nt is trimmed, single-space separated: letters = len(nt) - (nTok-1).
    // Exact integer identity with length(replace(nt, ' ', '')), no rescan.
    val wordLen =
      (length(col("nt")) - (size(col("toks")) - 1)).cast("double") / nTok
    d.select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        lenScore.as("len_score"),
        stopRatio.as("stop_ratio"),
        wordLen.as("avg_word_len"),
        (lit(0.4) * lenScore + lit(0.3) * stopRatio +
          lit(0.3) * least(wordLen / lit(8.0), lit(1.0))).as("quality"))
      .orderBy(col("doc_id"))
  }

  val docQualitySql: String = {
    val en = markers.filter(_._1 == "en").map("'" + _._2 + "'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split($sqlNorm, ' ') AS toks, $sqlNorm AS nt
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS DOUBLE) AS n_tok,
       |    CAST(len(list_filter(toks, x -> x IN ($en))) AS DOUBLE) AS n_stop,
       |    CAST(length(replace(nt, ' ', '')) AS DOUBLE) AS n_letters
       |  FROM t)
       |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       |  least(n_tok / 100.0, 1.0) AS len_score,
       |  n_stop / n_tok AS stop_ratio,
       |  n_letters / n_tok AS avg_word_len,
       |  0.4 * least(n_tok / 100.0, 1.0) + 0.3 * (n_stop / n_tok)
       |    + 0.3 * least((n_letters / n_tok) / 8.0, 1.0) AS quality
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** sample_quota (L28, NEW r7) — per-SOURCE quality quota: keep the
    * top-10 highest-quality documents per source, the crawl-curation step
    * that stops one domain/dump from dominating the training mix (the
    * per-domain cap every web-corpus recipe applies after quality
    * scoring). Scoring is doc_quality's exact formula (ratios of exact
    * ints → correctly-rounded doubles, engine-identical); ranking runs on
    * the native TopK plan (plans/TopK.scala): a map-side heap prunes to
    * ≤10 rows per source per partition BEFORE the source-keyed exchange,
    * so at 100 TB the shuffle carries ~10·|sources| rows, not the corpus
    * — the difference between a quota pass and a full sort. Ties break
    * on doc_id (total order).
    */
  def sampleQuota(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("nt", norm(col("text")))
      .withColumn("toks", split(col("nt"), " "))
    val en = markers.filter(_._1 == "en").map(_._2)
    val nTok = size(col("toks")).cast("double")
    val nStop = regexp_count(col("nt"),
      lit(s"(^| )(${en.mkString("|")})(?= |$$)")).cast("double")
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val wordLen =
      (length(col("nt")) - (size(col("toks")) - 1)).cast("double") / nTok
    val scored = d.select(
      col("source"), col("doc_id"),
      (lit(0.4) * lenScore + lit(0.3) * (nStop / nTok) +
        lit(0.3) * least(wordLen / lit(8.0), lit(1.0))).as("quality"))
    graft.plans.TopK.topKPerGroup(scored,
        Seq("source"), Seq(("quality", true), ("doc_id", false)), 10)
      .select(col("source"), col("rn").as("rank"), col("doc_id"),
        col("quality"))
      .orderBy(col("source"), col("rank"))
  }

  val sampleQuotaSql: String = {
    val en = markers.filter(_._1 == "en").map("'" + _._2 + "'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split($sqlNorm, ' ') AS toks,
       |    $sqlNorm AS nt
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, source,
       |    CAST(len(toks) AS DOUBLE) AS n_tok,
       |    CAST(len(list_filter(toks, x -> x IN ($en))) AS DOUBLE) AS n_stop,
       |    CAST(length(replace(nt, ' ', '')) AS DOUBLE) AS n_letters
       |  FROM t),
       |s AS (
       |  SELECT source, doc_id,
       |    0.4 * least(n_tok / 100.0, 1.0) + 0.3 * (n_stop / n_tok)
       |      + 0.3 * least((n_letters / n_tok) / 8.0, 1.0) AS quality
       |  FROM f),
       |r AS (
       |  SELECT source, doc_id, quality,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id) AS rank
       |  FROM s)
       |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, quality
       |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin
  }

  /** doc_lang_id — n-gram/marker-token language heuristic: score each
    * candidate language by marker hits, pick argmax (ties and zero-hit docs
    * resolve deterministically: score desc, then language asc, then
    * 'unknown'). Output is the (actual, predicted) confusion matrix.
    *
    * Scale: explode tokens → broadcast-join the 25-row marker dim → count
    * per (doc, lang) — the tiny dim side is the textbook broadcast join.
    */
  def docLangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = markers.toDF("cand", "tok")
    val d = Tables.documents(spark, dir)
    val hits = d
      .select(col("doc_id"), col("lang"),
        explode(split(norm(col("text")), " ")).as("tok"))
      .join(broadcast(m), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg(count(lit(1)).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand"))
    val best = hits
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("cand").as("predicted"))
    d.select(col("doc_id"), col("lang"))
      .join(best.drop("lang"), Seq("doc_id"), "left")
      .withColumn("predicted", coalesce(col("predicted"), lit("unknown")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))
  }

  val docLangIdSql: String =
    s"""WITH m(cand, tok) AS (VALUES $sqlMarkers),
       |toks AS (
       |  SELECT doc_id, lang, unnest(string_split($sqlNorm, ' ')) AS tok
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id, lang, cand, count(*) AS score
       |  FROM toks JOIN m USING (tok) GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT doc_id, cand AS predicted,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, cand) AS rn
       |  FROM hits)
       |SELECT d.lang, coalesce(b.predicted, 'unknown') AS predicted,
       |       count(*) AS n_docs
       |FROM documents d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** doc_fingerprint — shingle-hash document fingerprint (winnowing-style:
    * the extrema of the per-shingle hash set identify a document robustly
    * under small edits). Emits min/max md5 of 4-token shingles + shingle
    * count per doc.
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    // Shingles are exploded so md5 runs as a top-level codegen'd
    // expression (md5 inside an array lambda evaluates interpreted), then
    // one map-side-partial groupBy(doc_id) takes the extrema.
    val d = Tables.documents(spark, dir)
      .withColumn("toks", split(norm(col("text")), " "))
      .filter(size(col("toks")) >= 4)
    d.select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - 3)).as("i"))
      .select(col("doc_id"), md5(concat_ws(" ",
        element_at(col("toks"), col("i")),
        element_at(col("toks"), col("i") + 1),
        element_at(col("toks"), col("i") + 2),
        element_at(col("toks"), col("i") + 3))).as("h"))
      .groupBy(col("doc_id"))
      .agg(
        min(col("h")).as("fp_min"),
        max(col("h")).as("fp_max"),
        count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  val docFingerprintSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split($sqlNorm, ' ') AS s FROM documents),
       |ex AS (
       |  SELECT doc_id,
       |    md5(unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' ' || s[i+3]
       |                for i in range(1, len(s) - 2)])) AS h
       |  FROM t WHERE len(s) >= 4)
       |SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max,
       |       count(*) AS n_shingles
       |FROM ex GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** doc_tfidf (L6) — top-3 distinguishing terms per doc. tf = term count in
    * doc; idf = N/df as an exact rational in double (no ln → no libm
    * divergence between engines); score = tf * N / df computed as
    * (tf*N exact int product → double) / (df → double): two correctly-
    * rounded IEEE ops, bit-identical in both engines.
    */
  def docTfidf(spark: SparkSession, dir: String): DataFrame = {
    // wide view: the tokenize+explode first map stage dominates this query
    // and serializes on a single-row-group source (see Tables.loadWide)
    val d = Tables.documentsWide(spark, dir)
    // ONE data exchange of the corpus, hashed on doc_id BEFORE the
    // tokenize: text bytes move, not token rows, and every downstream
    // per-doc step — tf aggregate, TopK heap — plans exchange-free on the
    // inherited partitioning (the round-7 shape paid a (doc_id, term)
    // hash exchange instead, then TopK's own doc_id exchange). The df
    // branch reads the SAME exchange (ReusedExchange), so the corpus
    // scans once; its tokenize re-runs once post-exchange, which measured
    // CHEAPER than pinning tf with localCheckpoint (the checkpoint
    // variant's serial sample/materialize jobs converged to ~0.9 s but
    // took 6+ runs to get there — 20 s cold — where this shape is at
    // steady state by run 2; measured 1.14 → ~0.8 s warm at sf0.1).
    // A repartitionByRange variant (free final order) loses the same way:
    // its sampling pass is a second full pass over the corpus.
    // r9: TopKPartialExec now reports its child's outputPartitioning, so
    // the heap FUSES onto the inherited doc_id partitioning — the
    // partial→final re-exchange EnsureRequirements used to insert is gone
    // (4 → 3 hash exchanges, pinned in PlanSpec). Residual = the 3-job
    // floor (exchange, broadcast build, final) + the tokenize pass that
    // re-runs once post-exchange for the df branch — the DOCUMENTED FLOOR
    // for this query: every cheaper shape was measured and rejected above.
    val tf = d.repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(split(norm(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df DERIVED from tf: tf's groups are exactly the distinct (doc, term)
    // pairs, so counting tf rows per term IS the document frequency — the
    // naive `toks.distinct().groupBy(term)` formulation re-scans and
    // re-explodes every document and shuffles the distinct pairs a second
    // time (measured ~0.35 s of the 1.05 s query at sf0.1). (A COUNT
    // window over the term partition was ALSO tried — it replaces the
    // join build with a full sort of tf by term and measured 0.81-1.0 s
    // vs 0.66-0.79 s for this form; keep the join.)
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = d.select(count(lit(1)).as("n_docs"))
    // df is per-TERM statistics — vocabulary-sized, orders of magnitude
    // below the (doc, term) tf frame at any corpus size — so it BROADCASTS
    // (with n_docs riding along) instead of re-shuffling tf by term.
    // Top-3-per-doc runs on the native TopK plan (plans/TopK.scala)
    // directly on the inherited doc_id partitioning — no exchange,
    // bounded heap.
    graft.plans.TopK.topKPerGroup(
        tf.join(broadcast(df_.crossJoin(n)), Seq("term"))
          .withColumn("score",
            (col("tf") * col("n_docs")).cast("double") /
              col("df").cast("double")),
        Seq("doc_id"), Seq(("score", true), ("term", false)), 3)
      .select(col("doc_id"), col("rn").as("rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val docTfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split($sqlNorm, ' ')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, term,
       |    CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY CAST(tf * n_docs AS DOUBLE)
       |                                / CAST(df AS DOUBLE) DESC,
       |                                term) AS rn
       |  FROM tf JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, score
       |FROM scored WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin

  /** doc_quality_model (L16) — MODEL-BASED quality filtering: a hashed
    * bag-of-words linear classifier, the fastText/CCNet step that sits
    * between heuristic quality scoring (doc_quality) and training. Tokens
    * hash into 4096 buckets (md5-based, engine-portable); each bucket
    * carries a FIXED integer weight in [-500, 500] (multiplicative-hash
    * mixing of the bucket id — a deterministic stand-in for trained
    * weights; a real trained vector is a 4096-row table that swaps in as
    * a broadcast join or, as here, a pure expression). A document's margin
    * is the exact i64 sum of its token weights; the decision is
    * margin/n_tokens >= 0 with exactly one double division per doc.
    *
    * Scale: explode → two narrow codegen'd exprs → groupBy(doc_id) with
    * map-side partial agg — the same linear shape as doc_tokens. No
    * weight-table shuffle at any model size: 4096 (or 2^21, fastText's
    * default) weights broadcast; the margin agg is the only exchange.
    */
  def docQualityModel(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(norm(col("text")), " ")).as("tok"))
    val bucket = pmod(
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"), lit(4096L))
    // multiplicative mixing (Knuth's 2654435761) spreads adjacent buckets
    // across [-500, 500]; operands are nonnegative so pmod ≡ % in DuckDB
    val weight = pmod(bucket * lit(2654435761L), lit(1001L)) - lit(500L)
    toks.select(col("doc_id"), col("lang"), weight.as("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("margin"))
      .withColumn("margin_per_token",
        col("margin").cast("double") / col("n_tokens").cast("double"))
      .withColumn("keep", col("margin_per_token") >= lit(0.0))
      .orderBy(col("doc_id"))
  }

  private def sqlHex8(expr: String): String =
    (1 to 8).map(j =>
      s"(strpos('0123456789abcdef', substring(md5($expr), $j, 1)) - 1) * ${math.pow(16, 8 - j).toLong}")
      .mkString("(", " + ", ")")

  val docQualityModelSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, unnest(string_split($sqlNorm, ' ')) AS tok
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, lang,
       |    ((${sqlHex8("tok")} % 4096) * 2654435761) % 1001 - 500 AS w
       |  FROM t)
       |SELECT doc_id, lang, COUNT(*) AS n_tokens,
       |  CAST(SUM(w) AS BIGINT) AS margin,
       |  CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS margin_per_token,
       |  (CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) >= 0.0 AS keep
       |FROM w GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  /** doc_bpe_pairs (L19) — adjacent-token-pair frequencies, top-20 per
    * language: the statistic a BPE/WordPiece tokenizer trainer computes to
    * pick its next merge (the argmax pair IS the first merge rule), and
    * the corpus report a tokenizer-fit audit reads. Pairs are built
    * map-side by zipping each token list against its own tail — no join,
    * no per-doc state; a 1-token doc contributes zero pairs (zero-length
    * slices zip to an empty array, no guard branch).
    *
    * Scale: explode grows rows ~tokens-per-doc × docs, but partial
    * aggregation collapses them to one row per distinct (lang, pair) per
    * partition before the only shuffle; the top-20 window runs on the
    * aggregated pair table (vocab², not corpus, cardinality), partitioned
    * by lang. The canonical first step of distributed tokenizer training.
    */
  def docBpePairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = split(norm(col("text")), " ")
    val prs = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (a, b) => concat(a, lit(" "), b))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("n_occurrences").desc, col("pair"))
    d.select(col("lang"), toks.as("toks"))
      .select(col("lang"), explode(prs).as("pair"))
      .groupBy(col("lang"), col("pair"))
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .select(col("lang"), col("rank"), col("pair"), col("n_occurrences"))
      .orderBy(col("lang"), col("rank"))
  }

  /** doc_lm_coverage (L32) — corpus-LM bigram coverage as a per-document
    * quality signal: the fraction of a document's word bigrams attested
    * (≥3 occurrences) in the corpus-wide bigram table. The KenLM-style
    * quality filter's integer skeleton: a document whose transitions
    * rarely occur anywhere else is noise, OCR garbage, or degenerate
    * generation. No logs/perplexity — coverage in exact integer ppm
    * ranks the same documents a log-prob sum would flag at the tails,
    * and stays bit-identical across engines where transcendental
    * last-ulp never is.
    *
    * Engine shape: NO corpus-sized intermediate at all. Two map-side
    * gram passes over the wide view (tokenize + zip-against-tail, no
    * pre-exchange): pass one partial-aggregates to the vocab-bounded
    * corpus bigram table (the shuffle carries distinct-pairs-per-
    * partition rows, not grams); pass two joins each gram INSTANCE
    * against that table broadcast and folds straight to per-doc
    * partials (map-side combine ⇒ the final exchange carries docs ×
    * partitions rows). Two rejected shapes, both measured at sf0.1: a
    * pair-partitioned COUNT window full-sorts the (pair, doc) frame
    * (1.59 s), and the doc_tfidf skeleton (pre-agg to (doc, pair), then
    * derive counts) pays a 4.5M-group hash aggregate that the metric
    * never needed (2.0 s) — per-instance attestation only needs the
    * instance stream and the count table. This shape: ~0.8 s warm
    * (residual = two explode passes over ~10M grams, the same
    * tokenize-bound floor as doc_tfidf). At
    * open-vocabulary scale where the bigram table outgrows a broadcast,
    * the join flips to the shuffled/runtime-filter form (the
    * doc_decontaminate_xl idiom); the per-doc fold is unchanged.
    */
  def docLmCoverage(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsWide(spark, dir)
    val toks = split(norm(col("text")), " ")
    val prs = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (a, b) => concat(a, lit(" "), b))
    val grams = d.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(prs).as("pair"))
    val counts = grams.groupBy(col("pair"))
      .agg(count(lit(1)).as("n_corpus"))
    grams.join(broadcast(counts), Seq("pair"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("n_corpus") >= 3, lit(1L)).otherwise(lit(0L)))
          .as("n_attested"))
      .select(col("doc_id"), col("n_bigrams"), col("n_attested"),
        expr("n_attested * 1000000 div n_bigrams").as("covered_ppm"))
      .orderBy(col("doc_id"))
  }

  val docLmCoverageSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split($sqlNorm, ' ') AS t
       |  FROM documents),
       |pr AS (SELECT doc_id,
       |    unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS pair
       |  FROM tk),
       |pd AS (SELECT doc_id, pair, COUNT(*) AS n_pd
       |  FROM pr GROUP BY doc_id, pair),
       |w AS (SELECT *, SUM(n_pd) OVER (PARTITION BY pair) AS n_corpus
       |  FROM pd)
       |SELECT doc_id, CAST(SUM(n_pd) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CASE WHEN n_corpus >= 3 THEN n_pd ELSE 0 END) AS BIGINT)
       |    AS n_attested,
       |  CAST(SUM(CASE WHEN n_corpus >= 3 THEN n_pd ELSE 0 END) * 1000000
       |    // SUM(n_pd) AS BIGINT) AS covered_ppm
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val docBpePairsSql: String =
    s"""WITH tk AS (SELECT lang, string_split($sqlNorm, ' ') AS t
       |  FROM documents),
       |pr AS (SELECT lang,
       |    unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS pair
       |  FROM tk),
       |c AS (SELECT lang, pair, COUNT(*) AS n_occurrences
       |  FROM pr GROUP BY lang, pair),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY n_occurrences DESC, pair) AS rank FROM c)
       |SELECT lang, CAST(rank AS BIGINT) AS rank, pair, n_occurrences
       |FROM r WHERE rank <= 20 ORDER BY lang, rank""".stripMargin

  /** doc_collocations — statistically-associated adjacent word pairs per
    * language (the collocation-extraction step of corpus analysis),
    * scored by LIFT = p(xy)/(p(x)·p(y)) = (n_xy·T)/(n_x·n_y) rather than
    * PMI: lift is the same ordering as PMI (log is monotone) but computes
    * as ONE ratio of exact integer products — no transcendental whose
    * last-ulp could differ between engines. Top-15 per lang, min support
    * 5.
    *
    * Engine shape: shares doc_bpe_pairs' map-side zip-against-tail pair
    * build; unigram marginals and totals come from one token explode; the
    * scoring join keys on (lang, word) against the vocabulary-sized
    * unigram table — everything after the two explodes shuffles
    * vocab-bounded aggregates, never raw token streams.
    */
  def docCollocations(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = split(norm(col("text")), " ")
    val base = d.select(col("lang"), toks.as("toks"))
    val uni = base.select(col("lang"), explode(col("toks")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n_w"))
    val tot = uni.groupBy(col("lang")).agg(sum(col("n_w")).as("t"))
    val prs = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (a, b) => struct(a.as("x"), b.as("y")))
    val pairs = base.select(col("lang"), explode(prs).as("p"))
      .select(col("lang"), col("p.x").as("x"), col("p.y").as("y"))
      .groupBy(col("lang"), col("x"), col("y"))
      .agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("lift").desc, col("x"), col("y"))
    pairs
      .join(uni.select(col("lang"), col("w").as("x"), col("n_w").as("n_x")),
        Seq("lang", "x"))
      .join(uni.select(col("lang"), col("w").as("y"), col("n_w").as("n_y")),
        Seq("lang", "y"))
      .join(tot, Seq("lang"))
      .withColumn("lift", (col("n_xy") * col("t")).cast("double") /
        (col("n_x") * col("n_y")).cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 15)
      .select(col("lang"), col("rank"),
        concat(col("x"), lit(" "), col("y")).as("pair"),
        col("n_xy"), col("lift"))
      .orderBy(col("lang"), col("rank"))
  }

  val docCollocationsSql: String =
    s"""WITH tk AS (SELECT lang, string_split($sqlNorm, ' ') AS t
       |  FROM documents),
       |uni AS (SELECT lang, unnest(t) AS w FROM tk),
       |u AS (SELECT lang, w, COUNT(*) AS n_w FROM uni GROUP BY lang, w),
       |tot AS (SELECT lang, SUM(n_w) AS t FROM u GROUP BY lang),
       |pr AS (SELECT lang,
       |    unnest([t[i] for i in range(1, len(t))]) AS x,
       |    unnest([t[i + 1] for i in range(1, len(t))]) AS y
       |  FROM tk),
       |p AS (SELECT lang, x, y, COUNT(*) AS n_xy FROM pr
       |  GROUP BY lang, x, y HAVING COUNT(*) >= 5),
       |j AS (SELECT p.lang, p.x, p.y, p.n_xy,
       |    CAST(p.n_xy * tot.t AS DOUBLE) /
       |      CAST(ux.n_w * uy.n_w AS DOUBLE) AS lift
       |  FROM p JOIN u ux ON ux.lang = p.lang AND ux.w = p.x
       |    JOIN u uy ON uy.lang = p.lang AND uy.w = p.y
       |    JOIN tot ON tot.lang = p.lang),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY lift DESC, x, y) AS rank FROM j)
       |SELECT lang, CAST(rank AS BIGINT) AS rank, x || ' ' || y AS pair,
       |  n_xy, lift
       |FROM r WHERE rank <= 15 ORDER BY lang, rank""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("doc_dedup", docDedup, docDedupSql),
    Query("doc_heavy_hitters", docHeavyHitters, docHeavyHittersSql),
    Query("doc_keyword_search", docKeywordSearch, docKeywordSearchSql),
    Query("doc_bm25", docBm25, docBm25Sql),
    Query("doc_readability", docReadability, docReadabilitySql),
    Query("doc_collocations", docCollocations, docCollocationsSql),
    Query("doc_bpe_pairs", docBpePairs, docBpePairsSql),
    Query("doc_lm_coverage", docLmCoverage, docLmCoverageSql),
    Query("doc_quality_model", docQualityModel, docQualityModelSql),
    Query("doc_text_stats", docTextStats, docTextStatsSql),
    Query("doc_tokens", docTokens, docTokensSql),
    Query("doc_quality", docQuality, docQualitySql),
    Query("sample_quota", sampleQuota, sampleQuotaSql),
    Query("doc_lang_id", docLangId, docLangIdSql),
    Query("doc_fingerprint", docFingerprint, docFingerprintSql),
    Query("doc_tfidf", docTfidf, docTfidfSql))
}
