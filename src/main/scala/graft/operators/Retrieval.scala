package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables

/** Hybrid retrieval (SURVEY.md §2.8 row L29): the RAG-serving primitive
  * that fuses a lexical (keyword / inverted-index) ranking with a dense
  * (embedding cosine) ranking via Reciprocal Rank Fusion — the standard
  * production shape (sparse BM25-class leg + ANN leg + RRF) because each
  * leg surfaces matches the other is blind to: lexical hits for rare
  * exact terms the embedding smooths over, semantic hits for paraphrases
  * that share no tokens.
  *
  * Determinism: RRF is computed ENTIRELY in integers — each leg
  * contributes floor(1e6 / (60 + rank)) with the classic k=60 damping,
  * ranks come from total orders (score DESC, doc_id ASC), and the fused
  * score is a small-int sum. No transcendental, no float accumulation;
  * the DuckDB twin is arithmetic-identical (`//` integer division).
  *
  * Scale (100 TB): each leg is its own already-scale-shaped operator —
  * the keyword leg broadcasts the tiny (q_id, term) table and joins it
  * BEFORE aggregation (the shuffle carries only query-term hits, the
  * L26 inverted-index idiom), the vector leg broadcasts the query
  * vectors and scans candidates once (the L3 brute-force shape; swap in
  * the IVF/PQ legs for a billion-vector corpus — same fusion). Both
  * legs prune to their top-20 on the native bounded-heap TopK plan
  * (map-side heap, no full sort), so the fusion join sees ≤ 20·|Q| rows
  * per leg — driver-independent and constant in corpus size. The legs'
  * candidate lists full-outer-join on (q_id, doc_id): docs WITHOUT an
  * embedding row (at sf0.1 only 2000 of 5000 docs carry vectors — the
  * common partially-embedded-corpus case) can still surface through the
  * lexical leg, and vector-only matches through the dense leg.
  */
object Retrieval {

  /** (q_id, term) query plan: three hybrid queries; the dense leg of
    * query q uses embedding vec_id = q.
    */
  private val queryTerms: Seq[(Long, String)] = Seq(
    0L -> "join", 0L -> "hash",
    1L -> "scan", 1L -> "filter",
    2L -> "sort", 2L -> "merge")
  private val sqlQueryTerms: String =
    queryTerms.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  private val LEG_K = 20 // per-leg candidate depth
  private val OUT_K = 10 // fused results per query
  private val RRF_K = 60 // classic RRF damping constant

  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    val terms = queryTerms.toDF("q_id", "tok")

    // Lexical leg: tokenize -> broadcast-join query terms -> per-(q, doc)
    // hit counts -> top-20 per query on the bounded heap. The query doc
    // itself (doc_id = q_id) is excluded on both legs.
    val kwHits = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(split(Docs.norm(col("text")), " ")).as("tok"))
      .join(broadcast(terms), Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    val kwTop = graft.plans.TopK.topKPerGroup(kwHits, Seq("q_id"),
        Seq(("n_hits", true), ("doc_id", false)), LEG_K)
      .select(col("q_id"), col("doc_id"), col("rn").as("kw_rank"))

    // Dense leg: broadcast the three query vectors, exact-i64 cosine over
    // the collection, top-20 per query on the same heap.
    val n = Embeddings.withNorm(spark, dir)
    val q = n.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm_s").as("q_norm"))
    val vecScored = n.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        Embeddings.cosine(Embeddings.dotS(col("q_emb"), col("embedding")),
          col("q_norm"), col("norm_s")))
      .select(col("q_id"), col("vec_id"), col("cosine"))
    val vecTop = graft.plans.TopK.topKPerGroup(vecScored, Seq("q_id"),
        Seq(("cosine", true), ("vec_id", false)), LEG_K)
      .select(col("q_id"), col("vec_id").as("doc_id"),
        col("rn").as("vec_rank"))

    // RRF fusion over the union of both candidate lists. A leg that did
    // not surface the doc contributes rank 0 -> score 0 (coalesce), and
    // the reported per-leg ranks use the same 0 = "not in this leg's
    // top-20" convention.
    val fused = kwTop.join(vecTop, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        coalesce(col("kw_rank"), lit(0L)).as("kw_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("rrf_score",
        when(col("kw_rank") > 0,
          expr(s"1000000 div (${RRF_K} + kw_rank)")).otherwise(lit(0L)) +
        when(col("vec_rank") > 0,
          expr(s"1000000 div (${RRF_K} + vec_rank)")).otherwise(lit(0L)))
    graft.plans.TopK.topKPerGroup(fused, Seq("q_id"),
        Seq(("rrf_score", true), ("doc_id", false)), OUT_K)
      .select(col("q_id"), col("rn").as("rank"), col("doc_id"),
        col("rrf_score"), col("kw_rank"), col("vec_rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val hybridSearchSql: String =
    s"""WITH ${Embeddings.sqlWithNorm},
       |qt(q_id, tok) AS (VALUES $sqlQueryTerms),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(${Docs.sqlNorm}, ' ')) AS tok
       |  FROM documents),
       |kw AS (
       |  SELECT t.doc_id, qt.q_id, COUNT(*) AS n_hits
       |  FROM toks t JOIN qt ON t.tok = qt.tok
       |  WHERE t.doc_id != qt.q_id
       |  GROUP BY t.doc_id, qt.q_id),
       |kwr AS (
       |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY n_hits DESC, doc_id) AS kw_rank
       |  FROM kw),
       |kwtop AS (SELECT * FROM kwr WHERE kw_rank <= $LEG_K),
       |vs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
       |    CAST(${Embeddings.sqlDotS("q.embedding", "c.embedding")} AS DOUBLE)
       |      / sqrt(CAST(q.norm_s AS DOUBLE) * CAST(c.norm_s AS DOUBLE))
       |      AS cosine
       |  FROM n q JOIN n c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < 3),
       |vr AS (
       |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, doc_id) AS vec_rank
       |  FROM vs),
       |vtop AS (SELECT * FROM vr WHERE vec_rank <= $LEG_K),
       |fused AS (
       |  SELECT COALESCE(k.q_id, v.q_id) AS q_id,
       |    COALESCE(k.doc_id, v.doc_id) AS doc_id,
       |    COALESCE(k.kw_rank, 0) AS kw_rank,
       |    COALESCE(v.vec_rank, 0) AS vec_rank
       |  FROM kwtop k FULL JOIN vtop v
       |    ON k.q_id = v.q_id AND k.doc_id = v.doc_id),
       |scored AS (
       |  SELECT q_id, doc_id, kw_rank, vec_rank,
       |    (CASE WHEN kw_rank > 0 THEN 1000000 // ($RRF_K + kw_rank)
       |          ELSE 0 END) +
       |    (CASE WHEN vec_rank > 0 THEN 1000000 // ($RRF_K + vec_rank)
       |          ELSE 0 END) AS rrf_score
       |  FROM fused),
       |ranked AS (
       |  SELECT q_id, doc_id, rrf_score, kw_rank, vec_rank,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY rrf_score DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |  CAST(rrf_score AS BIGINT) AS rrf_score,
       |  CAST(kw_rank AS BIGINT) AS kw_rank,
       |  CAST(vec_rank AS BIGINT) AS vec_rank
       |FROM ranked WHERE rank <= $OUT_K ORDER BY q_id, rank""".stripMargin

  /** embedding_mmr (L31) — Maximal Marginal Relevance diversified top-k:
    * the re-ranking step between ANN retrieval and a RAG context window
    * that stops the window filling with near-identical passages. Greedy
    * MMR selects argmax( λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s) ) three
    * times (λ=1/2) from a top-10 relevance pool per query.
    *
    * The greedy recursion is data-dependent — each pick changes the next
    * round's diversity term — so it cannot be one window function; but
    * with fixed small k it UNROLLS into k relational steps, each a
    * candidate-frame join + argmax on the bounded heap. Determinism:
    * rel and sim are the exact-i64 cosine; λ=1/2 makes each score two
    * exact halvings and one subtract (single correctly-rounded IEEE ops,
    * identical in both engines); `greatest` of identical doubles is
    * identical; every argmax tie-breaks on doc_id.
    *
    * Scale (100 TB): the corpus-sized work is ONLY the pool build (the
    * L3 brute-force scan + heap here; the IVF/PQ legs at billion-vector
    * scale). Everything after operates on ≤10 rows/query — the steps
    * are |Q|-bounded frames joined broadcast-style, and k unrolled
    * rounds cost k tiny jobs, not k corpus passes.
    */
  def embeddingMmr(spark: SparkSession, dir: String): DataFrame = {
    val n = Embeddings.withNorm(spark, dir)
    val q = n.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm_s").as("q_norm"))
    val scored = n.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("rel",
        Embeddings.cosine(Embeddings.dotS(col("q_emb"), col("embedding")),
          col("q_norm"), col("norm_s")))
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rel"),
        col("embedding"), col("norm_s"))
    val pool = graft.plans.TopK.topKPerGroup(scored, Seq("q_id"),
        Seq(("rel", true), ("doc_id", false)), 10)
      .drop("rn")

    def sim(aEmb: Column, aNorm: Column, bEmb: Column, bNorm: Column) =
      Embeddings.cosine(Embeddings.dotS(aEmb, bEmb), aNorm, bNorm)
    def pick(cand: DataFrame): DataFrame =
      graft.plans.TopK.topKPerGroup(cand, Seq("q_id"),
        Seq(("score", true), ("doc_id", false)), 1).drop("rn")

    // step 1: pure relevance (empty selected set -> diversity term 0)
    val s1 = pick(pool.withColumn("score", lit(0.5) * col("rel")))
    val s1k = s1.select(col("q_id"), col("doc_id").as("s1_doc"),
      col("embedding").as("s1_emb"), col("norm_s").as("s1_norm"))
    // step 2: penalize similarity to s1
    val c2 = pool.join(s1k, Seq("q_id"))
      .filter(col("doc_id") =!= col("s1_doc"))
      .withColumn("sim1",
        sim(col("embedding"), col("norm_s"), col("s1_emb"), col("s1_norm")))
      .withColumn("score", lit(0.5) * col("rel") - lit(0.5) * col("sim1"))
    val s2 = pick(c2)
    val s2k = s2.select(col("q_id"), col("doc_id").as("s2_doc"),
      col("embedding").as("s2_emb"), col("norm_s").as("s2_norm"))
    // step 3: penalize max similarity to {s1, s2}
    val c3 = pool.join(s1k, Seq("q_id")).join(s2k, Seq("q_id"))
      .filter(col("doc_id") =!= col("s1_doc") &&
        col("doc_id") =!= col("s2_doc"))
      .withColumn("div", greatest(
        sim(col("embedding"), col("norm_s"), col("s1_emb"), col("s1_norm")),
        sim(col("embedding"), col("norm_s"), col("s2_emb"), col("s2_norm"))))
      .withColumn("score", lit(0.5) * col("rel") - lit(0.5) * col("div"))
    val s3 = pick(c3)

    def out(s: DataFrame, step: Int) =
      s.select(col("q_id"), lit(step.toLong).as("step"), col("doc_id"),
        col("score").as("mmr_score"), col("rel"))
    out(s1, 1).unionByName(out(s2, 2)).unionByName(out(s3, 3))
      .orderBy(col("q_id"), col("step"))
  }

  val embeddingMmrSql: String = {
    def sqlSim(a: String, b: String) =
      s"""CAST(${Embeddings.sqlDotS(s"$a.embedding", s"$b.embedding")} AS DOUBLE)
         | / sqrt(CAST($a.norm_s AS DOUBLE) * CAST($b.norm_s AS DOUBLE))""".stripMargin
    s"""WITH ${Embeddings.sqlWithNorm},
       |rels AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
       |    CAST(${Embeddings.sqlDotS("q.embedding", "c.embedding")} AS DOUBLE)
       |      / sqrt(CAST(q.norm_s AS DOUBLE) * CAST(c.norm_s AS DOUBLE))
       |      AS rel,
       |    c.embedding, c.norm_s
       |  FROM n q JOIN n c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < 3),
       |pr AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY rel DESC, doc_id) AS prank
       |  FROM rels),
       |pool AS (SELECT q_id, doc_id, rel, embedding, norm_s
       |         FROM pr WHERE prank <= 10),
       |s1 AS (SELECT q_id, doc_id, 0.5 * rel AS score, rel,
       |         embedding, norm_s
       |       FROM pr WHERE prank = 1),
       |c2 AS (
       |  SELECT p.q_id, p.doc_id,
       |    0.5 * p.rel - 0.5 * (${sqlSim("p", "s")}) AS score, p.rel,
       |    p.embedding, p.norm_s,
       |    row_number() OVER (PARTITION BY p.q_id ORDER BY
       |      0.5 * p.rel - 0.5 * (${sqlSim("p", "s")}) DESC, p.doc_id)
       |      AS rk
       |  FROM pool p JOIN s1 s ON s.q_id = p.q_id
       |  WHERE p.doc_id != s.doc_id),
       |s2 AS (SELECT q_id, doc_id, score, rel, embedding, norm_s
       |       FROM c2 WHERE rk = 1),
       |c3 AS (
       |  SELECT p.q_id, p.doc_id,
       |    0.5 * p.rel - 0.5 * greatest(${sqlSim("p", "a")},
       |      ${sqlSim("p", "b")}) AS score, p.rel,
       |    row_number() OVER (PARTITION BY p.q_id ORDER BY
       |      0.5 * p.rel - 0.5 * greatest(${sqlSim("p", "a")},
       |        ${sqlSim("p", "b")}) DESC, p.doc_id) AS rk
       |  FROM pool p
       |  JOIN s1 a ON a.q_id = p.q_id
       |  JOIN s2 b ON b.q_id = p.q_id
       |  WHERE p.doc_id != a.doc_id AND p.doc_id != b.doc_id),
       |s3 AS (SELECT q_id, doc_id, score, rel FROM c3 WHERE rk = 1),
       |allsel AS (
       |  SELECT q_id, 1 AS step, doc_id, score AS mmr_score, rel FROM s1
       |  UNION ALL
       |  SELECT q_id, 2, doc_id, score, rel FROM s2
       |  UNION ALL
       |  SELECT q_id, 3, doc_id, score, rel FROM s3)
       |SELECT q_id, CAST(step AS BIGINT) AS step, doc_id, mmr_score, rel
       |FROM allsel ORDER BY q_id, step""".stripMargin
  }

  lazy val registry: Seq[Query] = Seq(
    Query("hybrid_search", hybridSearch, hybridSearchSql),
    Query("embedding_mmr", embeddingMmr, embeddingMmrSql))
}
