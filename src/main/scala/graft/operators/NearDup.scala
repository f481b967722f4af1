package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables

/** Near-duplicate detection over `documents` (SURVEY.md §2.8 row L2 plus the
  * driver-mandated dedup family): MinHash+LSH, weighted SimHash with
  * multi-index blocking, and exact n-gram Jaccard over length-band
  * candidates. All three share the same determinism toolkit as Docs.scala —
  * md5 wherever a hash VALUE crosses engines (signatures, fingerprints),
  * codegen'd xxhash64 where the hash is only a bucketing key (candidate
  * envelopes depend on gram equality, not the hash), integer/exact-double
  * arithmetic, total ORDER BY.
  *
  * Scale notes (100 TB): each flavor is the standard linear-candidate
  * pattern — signatures are computed in one narrow scan (map-side, no
  * shuffle), candidate pairs come from an equi-join on a banded key (LSH
  * band, simhash block, length band), and only candidates pay the exact
  * verification cost. Nothing here is all-pairs; the quadratic blowup is
  * bounded by bucket occupancy, which banding keeps near-constant.
  */
object NearDup {

  private def norm(c: Column) = lower(trim(regexp_replace(c, "\\s+", " ")))
  private val sqlNorm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** doc_near_dedup (L2) — MinHash + LSH + exact-Jaccard verify; pairs
    * with J >= 0.5 over distinct 3-token shingles survive.
    *
    * MinHash variant: ONE md5 per shingle, split into 8 disjoint 4-hex
    * chunks = 8 independent 16-bit permutations (fixed-width hex, so
    * lexicographic min ≡ numeric min). The truncation only loosens LSH
    * candidate generation (a few extra candidates); the exact verify join
    * decides membership, so precision is unaffected.
    *
    * Plan shape (the 100-TB-relevant part): shingles are EXPLODED and
    * hashed with a top-level codegen'd md5 — no md5 inside a higher-order
    * lambda (array lambdas evaluate interpreted, ~10× slower) — then the
    * signature is one map-side-partial groupBy(doc). Bands self-join for
    * candidates; the tiny candidate list broadcasts, and the exact verify
    * is a per-pair array_intersect over candidate-narrowed shingle arrays
    * (see the inline verify-join discipline note).
    */
  /** Distinct 3-token shingles of a documents frame: positional explode +
    * element_at (codegen'd; building them inside an array lambda would
    * evaluate interpreted), deduped per doc by a map-side-partial
    * distinct. Shared by doc_near_dedup (full corpus) and
    * cdc_incremental_neardup (delta-only / base-only frames — a doc's
    * shingle set depends only on its own text, which is what makes the
    * index incrementally maintainable). */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(norm(col("text")), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - 2)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("toks"), col("i")),
          element_at(col("toks"), col("i") + 1),
          element_at(col("toks"), col("i") + 2)).as("g"))
      .distinct()

  /** MinHash signature → LSH band rows (doc_id, band_id, bkey): ONE md5
    * per shingle split into 8 disjoint 16-bit permutations, 4 bands of 2
    * rows each. Per-doc pure — see [[shingles]]. */
  private[graft] def minhashBands(ex: DataFrame): DataFrame = {
    val mh = ex
      .withColumn("h", md5(col("g")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        (0 until 8).map(i =>
          min(substring(col("h"), 1 + 4 * i, 4)).as(s"h$i")): _*)
    mh.select(
        col("doc_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_id"),
            concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")).as("bkey"))): _*))
          .as("bd"))
      .select(col("doc_id"), col("bd.band_id"), col("bd.bkey"))
  }

  /** Exact-Jaccard verify of a candidate pair list against a shingle
    * table, J >= 0.5 survivors out.
    *
    * Verify-join discipline (the 100-TB-relevant part): only frames
    * bounded by CANDIDATE count may broadcast — the candidate pair list
    * and the candidate doc-id list. The exploded shingle table `ex` is
    * O(corpus); it is narrowed to candidate docs by a left-semi join
    * against the (tiny, broadcast) candidate ids, collected into one
    * sorted shingle array per candidate doc, and the exact intersection
    * is a codegen'd sorted-merge count per pair (SortedIntersectCount)
    * — no |cand|·|shingles| row explosion, and nothing O(corpus) is ever
    * broadcast. The second attach join shuffles only candidate-bounded
    * rows (hinted shuffle-hash: the arrays make sort-merge pointless).
    */
  private[graft] def verifyPairs(cand: DataFrame, ex: DataFrame): DataFrame = {
    val candIds = cand
      .select(explode(array(col("da"), col("db"))).as("doc_id"))
      .distinct()
    val arr = ex.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("gs"),
        count(lit(1)).as("nsh"))
    broadcast(cand)
      .join(arr.select(col("doc_id").as("da"), col("gs").as("gsa"),
        col("nsh").as("na")), Seq("da"))
      .join(arr.select(col("doc_id").as("db"), col("gs").as("gsb"),
        col("nsh").as("nb")).hint("shuffle_hash"), Seq("db"))
      .withColumn("n_common",
        graft.functions.VectorExprs.sortedIntersectCount(col("gsa"), col("gsb")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("n_common"), col("jaccard"))
  }

  def docNearDedup(spark: SparkSession, dir: String): DataFrame = {
    // ex feeds THREE subtrees (the band build and both verify legs) —
    // pinned once so the documents scan + shingle explode + distinct run
    // once instead of per consumer (r16, the est_error discipline; the
    // distinct exchange alone is NOT shared across the verify legs'
    // differing downstream keys). Interleaved A/B min-of-7: 1.81 → 1.70 s
    // at sf0.1; the pinned frame is the per-doc distinct shingle table —
    // the thing a production dedup pass materializes anyway.
    val ex = shingles(Tables.documentsWide(spark, dir)).localCheckpoint()
    val bands = minhashBands(ex)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    verifyPairs(cand, ex)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** cdc_incremental_neardup (S17, NEW r7) — INCREMENTAL near-dup index
    * maintenance, the CDC × training-pipeline fusion: when a changelog
    * upserts a slice of the corpus (here: doc_id % 20 == 0, a 5% delta),
    * the maintained artifacts — the LSH band index and the verified pair
    * set of the UNCHANGED base — are served from a stamped parquet
    * landing (the agg_hist_rollup stored-partials idiom), and per-batch
    * work is delta-proportional: shingle/minhash ONLY the delta docs,
    * probe their bands against base ∪ delta bands, exact-verify only
    * delta-involved candidates, union with the stored base pairs. A
    * signature depends only on its own document, so base artifacts never
    * need touching — that locality is WHY MinHash-LSH dedup is
    * incrementally maintainable where all-pairs methods are not.
    *
    * The oracle is doc_near_dedup's FULL-recompute SQL over the merged
    * corpus: a hash-match proves incremental maintenance ≡ batch rebuild
    * (delta-involved candidates ∪ base candidates = the full candidate
    * set; base pairs and delta-involved pairs partition the full pair
    * set because every delta pair has a delta member and base pairs have
    * none).
    *
    * Scale: per-batch cost is O(|delta| shingles) + band probes bounded
    * by bucket occupancy + verify bounded by delta-involved candidates —
    * independent of corpus size except the landed-index probe join,
    * which at 100 TB is partitioned by (band_id, bkey) and pruned to the
    * delta's buckets. coalesce(1) on the landing is toy-layout only; a
    * deployment appends per-batch band/pair files instead. At sf0.1 the
    * warm time ≈ the full recompute's — the saved compute (95% of
    * shingling + candidate gen) is smaller than the extra job floor
    * (checkpoint + landed reads) on a 5000-doc corpus; the crossover is
    * where shingling dominates jobs, i.e. any real corpus.
    */
  private val ndIndex =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def docsStamp(dir: String): String =
    Tables.srcStamp(new java.io.File(dir, "documents.parquet"))

  /** Land (once per source state) the base corpus's near-dup index:
    * `bands/` (doc_id, band_id, bkey) and `pairs/` (verified J>=0.5).
    * Published via Tables.publishOnce — build into a unique temp dir, one
    * atomic rename — so concurrent JVMs can never interleave writes into
    * a landing that the `_SUCCESS` gate then serves forever. */
  private[graft] def baseIndex(spark: SparkSession, dir: String): String =
    ndIndex.getOrElseUpdate((dir, docsStamp(dir)), {
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_ndidx_$safe/${docsStamp(dir)}")
      Tables.publishOnce(out) { tmp =>
        val base = Tables.documentsWide(spark, dir)
          .filter(col("doc_id") % 20 =!= 0)
        val ex = shingles(base)
        val bands = minhashBands(ex)
        val cand = bands.as("a")
          .join(bands.as("b"),
            col("a.band_id") === col("b.band_id") &&
              col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .distinct()
        bands.coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(tmp, "bands").getAbsolutePath)
        verifyPairs(cand, ex).coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(tmp, "pairs").getAbsolutePath)
      }
    })

  def cdcIncrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val idx = baseIndex(spark, dir)
    val baseBands = spark.read.parquet(s"$idx/bands")
    val basePairs = spark.read.parquet(s"$idx/pairs")
    val delta = Tables.documentsWide(spark, dir)
      .filter(col("doc_id") % 20 === 0)
    // deltaBands pinned (r16): it feeds BOTH sides of the probe join
    // (a, and the union leg of b) — unpinned, the delta shingle +
    // minhash pass ran twice. Together with the verify-shingle pin
    // below: 1.64 → 1.46 s interleaved min-of-7 at sf0.1.
    val deltaBands = minhashBands(shingles(delta)).localCheckpoint()
    // delta bands probe the merged index; least/greatest canonicalizes
    // (delta, base) collisions seen from either side to one ordered pair
    // localCheckpoint: the candidate list is read THREE times (scan
    // narrowing, verify's id list, the verify probe itself) and is
    // candidate-bounded by construction — pinning it costs one tiny job
    // and stops the delta-band probe join re-running per reference
    val cand = deltaBands.as("a")
      .join(baseBands.unionByName(deltaBands).as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"))
      .distinct()
      .localCheckpoint()
    // narrow the documents SCAN to candidate docs before shingling (the
    // broadcast semi lands directly on the scan, so base members of
    // delta-involved pairs re-shingle from a candidate-pruned read —
    // probed: leaving the narrowing to verifyPairs' internal semi-join
    // pushes it below the distinct but NOT below the explode, which
    // would re-explode the whole corpus map-side)
    val candIds = cand
      .select(explode(array(col("da"), col("db"))).as("doc_id"))
      .distinct()
    val candDocs = Tables.documentsWide(spark, dir)
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
    // candidate-narrowed shingles pinned: both verify legs consume them
    // (the docNearDedup r16 discipline, candidate-bounded here)
    val deltaPairs = verifyPairs(cand, shingles(candDocs).localCheckpoint())
    basePairs.unionByName(deltaPairs)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val docNearDedupSql: String =
    s"""WITH t AS (SELECT doc_id, string_split($sqlNorm, ' ') AS s FROM documents),
       |ex AS (SELECT doc_id, unnest(list_distinct(
       |    [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)]
       |  )) AS g
       |  FROM t WHERE len(s) >= 3),
       |mh AS (SELECT doc_id, count(*) AS n_sh,
       |  ${(0 until 8).map(i =>
             s"min(substring(md5(g), ${1 + 4 * i}, 4)) AS h$i").mkString(",\n|  ")}
       |  FROM ex GROUP BY doc_id),
       |bands AS (SELECT doc_id, band_id,
       |  CASE band_id ${(0 until 4).map(b =>
             s"WHEN $b THEN h${2 * b} || h${2 * b + 1}").mkString(" ")}
       |  END AS bkey
       |  FROM mh CROSS JOIN (VALUES (0),(1),(2),(3)) b(band_id)),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |common AS (SELECT c.da, c.db, count(*) AS n_common
       |  FROM cand c
       |  JOIN ex ea ON ea.doc_id = c.da
       |  JOIN ex eb ON eb.doc_id = c.db AND eb.g = ea.g
       |  GROUP BY 1, 2)
       |SELECT da AS doc_a, db AS doc_b, n_common,
       |  CAST(n_common AS DOUBLE)
       |    / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) AS jaccard
       |FROM common
       |JOIN mh na ON na.doc_id = da JOIN mh nb ON nb.doc_id = db
       |WHERE CAST(n_common AS DOUBLE)
       |    / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** 48-bit token hash from the first 12 hex digits of md5 — identical
    * integer in Spark and DuckDB. Spark computes md5 ONCE per distinct
    * (doc, token) row and converts the 12-hex prefix with a single
    * base-16 `conv` (the round-1 formulation inlined md5 12× — 12 full
    * digest computations per row); DuckDB's twin keeps the positional
    * digit sum, which is the same integer.
    */
  private val h48Duck: String =
    (1 to 12).map(j =>
      s"(strpos('0123456789abcdef', substring(md5(tok), $j, 1)) - 1) * ${math.pow(16, 12 - j).toLong}")
      .mkString(" + ")

  /** Per-doc weighted 48-bit SimHash signature: each distinct token votes
    * +tf/-tf on every bit of its 48-bit hash; signature bit b is 1 iff the
    * vote sum is positive. ONE scan + ONE hash aggregation — fully linear.
    *
    * Vote algebra that makes the single pass possible: summing ±tf over
    * DISTINCT tokens equals summing ±1 over token OCCURRENCES, so the tf
    * intermediate (a second full aggregation in the round-2 shape) is
    * unnecessary. And with per-occurrence weight 1 the signed vote for bit
    * b is `2·c_b − T` where `c_b` counts occurrences whose hash has bit b
    * set and `T` is the doc's total occurrence count — so only UNSIGNED
    * counters are needed, and 3 of them pack into one 64-bit sum column at
    * 21-bit offsets (no carry while every per-doc count < 2^21 ≈ 2M
    * tokens/doc — far beyond any real document; a longer doc would need a
    * 4-way split, not a different algorithm). 16 packed sums + 1 count
    * replace the 48 branchy conditional sums: ~3× less per-row aggregate
    * work, one fewer shuffle.
    */
  private def simhashSig(spark: SparkSession, dir: String): DataFrame =
    simhashSigOf(Tables.documentsWide(spark, dir))

  /** Signature over ANY (doc_id, text) frame — the whole-corpus form above
    * and Pipeline.corpusClean's gated-subset form share this. norm() is
    * idempotent, so feeding already-normalized text yields the identical
    * token stream.
    */
  private[graft] def simhashSigOf(docs: DataFrame): DataFrame =
    simhashSigOfToks(docs.select(col("doc_id"),
      split(norm(col("text")), " ").as("toks")))

  /** Signature over a PRE-TOKENIZED (doc_id, toks) frame — the form
    * corpus_clean feeds from its pinned tokenized corpus (r16) so the
    * gated subset is not re-normalized + re-split; toks must equal
    * split(norm(text), " ") for the token stream (and therefore the
    * signature) to be identical, which norm's idempotence guarantees
    * for both callers.
    */
  private[graft] def simhashSigOfToks(docs: DataFrame): DataFrame = {
    // Bit layout: packed column c_j (j in 0..15) holds counters for bits
    // j, j+16, j+32 at offsets 0, 21, 42. All arithmetic is integer and
    // order-independent; the signature reassembles from literal
    // power-of-two masks in a single codegen'd projection.
    val occ = docs
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h48",
        conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("long"))
    occ.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("t"),
        (0 until 16).map { j =>
          sum(expr(
            s"(h48 div ${1L << j}) % 2" +
              s" + ((h48 div ${1L << (j + 16)}) % 2) * ${1L << 21}" +
              s" + ((h48 div ${1L << (j + 32)}) % 2) * ${1L << 42}"))
            .as(s"c$j")
        }: _*)
      .select(col("doc_id"),
        (0 until 48).map { b =>
          val j = b % 16
          val off = (b / 16) * 21
          // vote_b > 0  ⟺  2·c_b > T  (exact integers; ties = bit 0)
          when(expr(s"((c$j div ${1L << off}) % ${1L << 21}) * 2 > t"),
            lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
      // localCheckpoint pins the (doc_id, simhash) table — 2 longs per doc,
      // tiny relative to the corpus at any scale (it IS the thing a real
      // pipeline would persist). Without it every consumer replays the
      // reduce side of the signature aggregation: the global sort's range-
      // sampling pass alone re-executed it once more (measured ~0.6 s of
      // doc_simhash's 1.4 s), and the pair query's block explode sat on
      // top of the same replay.
      .localCheckpoint()
  }

  private val simhashSigSql: String = simhashSigSqlFrom("documents")

  /** The signature CTE chain over any (doc_id, text) source relation —
    * DuckDB twin of simhashSigOf. Emits CTEs toks/tf/h/bits/sig. */
  private[operators] def simhashSigSqlFrom(src: String): String =
    s"""toks AS (SELECT doc_id, unnest(string_split($sqlNorm, ' ')) AS tok
       |  FROM $src),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |h AS (SELECT doc_id, tf, $h48Duck AS h48 FROM tf),
       |bits AS (SELECT doc_id,
       |  ${(0 until 48).map(b =>
            s"SUM(CASE WHEN (h48 // ${1L << b}) % 2 = 1 THEN tf ELSE -tf END) AS s$b")
            .mkString(",\n|  ")}
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST(${(0 until 48).map(b =>
            s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")}
       |  AS BIGINT) AS simhash FROM bits)""".stripMargin

  /** doc_simhash — the per-doc signature table itself (debuggable surface
    * for the pair query; also the thing a 100-TB pipeline would persist).
    */
  def docSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSig(spark, dir).orderBy(col("doc_id"))

  val docSimhashSql: String =
    s"""WITH $simhashSigSql
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  /** doc_simhash_dup — near-dup pairs at Hamming distance <= 3 via
    * multi-index blocking: 4 blocks of 12 bits; any pair within distance 3
    * must agree on at least one block (pigeonhole), so the equi-join on
    * (block_id, block_value) has perfect recall with ~uniform bucket sizes.
    */
  def docSimhashDup(spark: SparkSession, dir: String): DataFrame =
    simhashDupPairs(spark, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The same pair frame WITHOUT the declared output's global orderBy —
    * for internal consumers (dedup_clusters / dedup_survivorship) that
    * destroy the order in the components loop immediately. The Sort
    * otherwise SURVIVES into connectedComponents' pair pin: the pin's
    * plan is a Project over Sort (order-preserving, so EliminateSorts
    * cannot fire) and pays a range exchange plus its range-boundary
    * sampling pass per query (r16: dedup_clusters 3.10 → 2.29 s
    * interleaved min-of-7 from this alone). */
  private[graft] def simhashDupPairs(spark: SparkSession, dir: String)
      : DataFrame =
    simhashPairsOf(simhashSig(spark, dir))

  /** Hamming<=3 pairs from a (doc_id, simhash) signature frame via the
    * 4×12-bit multi-index pigeonhole blocks — shared by docSimhashDup
    * (whole corpus) and Pipeline.corpusClean (gated subset).
    */
  private[graft] def simhashPairsOf(sig: DataFrame): DataFrame = {
    // The Hamming filter runs BEFORE the dedup-across-blocks distinct: a
    // pair can match in up to 4 blocks, and filtering first shrinks the
    // distinct's input from every block collision to just the true
    // near-pairs. The self-join is HINTED to sort-merge: both sides are
    // the identical signature subplan shuffled on the identical (q, bv)
    // key, so ReusedExchange computes the signature aggregation ONCE;
    // the auto-chosen broadcast join has asymmetric sides and re-executes
    // it twice (measured ~2× the whole signature cost). (Persisting the
    // frame instead was measured and LOST — the cache boundary defeats
    // join planning downstream.)
    val blocks = sig.select(col("doc_id"), col("simhash"),
        explode(array(Seq(0, 12, 24, 36).map(s => lit(1L << s)): _*))
          .as("q"))
      .withColumn("bv", expr("(simhash div q) % 4096"))
    blocks.as("a").hint("merge")
      .join(blocks.as("b"),
        col("a.q") === col("b.q") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.simhash ^ b.simhash) <= 3"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .distinct()
  }

  val docSimhashDupSql: String =
    s"""WITH $simhashSigSql,
       |blocks AS (SELECT doc_id, simhash, q, (simhash // q) % 4096 AS bv
       |  FROM sig CROSS JOIN (SELECT unnest(
       |    [${Seq(0, 12, 24, 36).map(1L << _).mkString(", ")}]) AS q)),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM blocks a JOIN blocks b
       |    ON a.q = b.q AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
       |SELECT DISTINCT doc_a, doc_b, hamming FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** doc_ngram_jaccard — exact character-4-gram Jaccard, with candidates
    * from a length-band LSH (bands of 4 chars; each doc posts to its band
    * and the next, so a pair is a candidate iff their normalized lengths
    * land within one band: |len_a/4 - len_b/4| <= 1).
    *
    * The window is the DECLARED candidate envelope, not incidental: J >=
    * 0.5 only bounds sizes to a 2:1 ratio, so pairs with a length gap
    * beyond the window exist and are not candidates (4 such at sf0.001 —
    * found by NearDupRecallSpec's unrestricted all-pairs sweep; the DuckDB
    * twin encodes the same envelope and misses them identically). Closing
    * them universally needs ratio-2 log-bands whose bucket occupancy makes
    * the exact verify quadratic in the corpus — a scale-killer; a wider
    * linear window is the tunable knob if a deployment's near-dups drift
    * more than 4 chars. Within the envelope the result is exact (precision
    * AND recall 1.0, spec-pinned).
    *
    * Verification is a per-pair SET INTERSECTION, not a row explosion:
    * each doc's distinct grams are collected once into a sorted array,
    * arrays ride the band posts through one shuffle-by-band, and the band
    * self-join computes the exact intersection count pipelined inside the join
    * (sorted_intersect_count — a codegen'd two-pointer merge, see
    * graft.functions.SortedIntersectCount)
    * stage — the arrays never shuffle again. The round-1 formulation
    * expanded every candidate pair by all of doc_a's grams (|cand|·|grams|
    * ≈ 87M rows at sf0.1) and shuffled that for the matching join;
    * measured 13.5 s vs ~1 s for this shape. At 100 TB the shuffle here is
    * O(corpus · bands-per-doc) array payloads, and the quadratic term is
    * bounded by band occupancy — the same bound the candidate join already
    * has. The salted self-join's two sides are NOT identical subplans
    * (si/sj swap), so the banded array table is pinned once and both
    * sides replay the materialized frame (r16 — see the in-code note).
    */
  /** Sorted per-doc arrays of DISTINCT packed 4-char grams over a
    * (doc_id, nt) frame: grams via explode(position) + codegen'd substr,
    * deduped by a map-side-partial distinct. (Measured against the
    * per-doc array_distinct(transform(...)) alternative: the interpreted
    * lambda build is ~2× slower at sf0.1 even though it avoids the
    * distinct shuffle — HOF evaluation off the codegen path loses.)
    * Each 4-char gram is PACKED into one BIGINT (4×16-bit code points) —
    * an exact bijection for BMP text (the corpus is ASCII; any collision
    * would fail the DuckDB hash-compare, which stays on the string
    * formulation). Packed arrays are ~6× smaller than string arrays, so
    * the per-pair row copies in a verify join shrink accordingly, and
    * the sorted-merge compares longs instead of byte strings. Shared by
    * docNgramJaccard and docContainment.
    */
  private[graft] def packedGram4Arrays(base: DataFrame): DataFrame = {
    def packed(g: Column): Column =
      ((ascii(g.substr(1, 1)).cast("long") * 65536L +
        ascii(g.substr(2, 1)).cast("long")) * 65536L +
        ascii(g.substr(3, 1)).cast("long")) * 65536L +
        ascii(g.substr(4, 1)).cast("long")
    base
      .select(col("doc_id"), col("nt"),
        explode(sequence(lit(1), length(col("nt")) - 3)).as("i"))
      .select(col("doc_id"),
        packed(col("nt").substr(col("i"), lit(4))).as("g"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("gs"),
        count(lit(1)).as("ng"))
  }

  def docNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), norm(col("text")).as("nt"))
      .filter(length(col("nt")) >= 4)
    val arr = packedGram4Arrays(base)
    // posts PINNED (r16): since the r9 salting the two self-join sides
    // are no longer identical subplans (si/sj swap), so ReusedExchange
    // cannot fire and the whole gram-array build (scan + explode +
    // distinct + collect) ran TWICE. The pin materializes the banded
    // array table once and both salted sides replay it. Interleaved A/B
    // min-of-7: 2.48 → 2.14 s at sf0.1; the pinned frame is ~2 rows per
    // doc (band posts) of packed-long arrays — the per-doc gram index a
    // production pass would persist.
    val posts = base.select(col("doc_id"),
        (length(col("nt")).cast("long") / lit(4L)).cast("long").as("band"))
      .select(col("doc_id"),
        explode(array(col("band"), col("band") + 1)).as("pband"))
      .join(arr, Seq("doc_id"))
      .localCheckpoint()
    // SALTED self-join: document lengths cluster, so one band can hold a
    // large share of all candidate pairs — joined on pband alone that
    // band's quadratic verify work lands in a single task (measured: one
    // straggler task carries ~4 s while 31 cores idle). Each side is
    // salted into an S×S grid — A fixes si=hash(doc)%S and replicates
    // over sj, B the reverse — so every pair meets in EXACTLY one
    // (pband, si, sj) cell and the per-cell work is ~1/S² of the band.
    // The S-fold array replication is the price; S=8 keeps it ~3× the
    // unsalted shuffle while spreading the compute over 64 cells/band.
    // The verify stage is CPU-bound, not byte-bound: its shuffle input is
    // only tens of MB, so AQE's byte-based coalescing would hand the whole
    // per-pair merge loop to 1-2 tasks (measured: a ~3 s single-core
    // stage). An EXPLICIT repartition on the join keys pins the stage at
    // full parallelism — user-specified partition counts are exempt from
    // AQE coalescing — and both sides share it, so the join adds no
    // further exchange.
    val S = 8
    val nPart = spark.sparkContext.defaultParallelism * 2
    val saltKeys = Seq(col("pband"), col("si"), col("sj"))
    val pa = posts
      .withColumn("si", pmod(hash(col("doc_id")), lit(S)))
      .withColumn("sj", explode(sequence(lit(0), lit(S - 1))))
      .repartition(nPart, saltKeys: _*)
    val pb = posts
      .withColumn("sj", pmod(hash(col("doc_id")), lit(S)))
      .withColumn("si", explode(sequence(lit(0), lit(S - 1))))
      .repartition(nPart, saltKeys: _*)
    pa.as("a")
      .join(pb.as("b"),
        col("a.pband") === col("b.pband") &&
          col("a.si") === col("b.si") && col("a.sj") === col("b.sj") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.VectorExprs.sortedIntersectCount(col("a.gs"), col("b.gs"))
          .as("n_common"),
        col("a.ng").as("nga"), col("b.ng").as("ngb"))
      // a pair within 4 chars shares BOTH its bands → identical rows; the
      // distinct runs on scalars only (arrays are already projected away)
      .distinct()
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("nga") + col("ngb") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val docNgramJaccardSql: String =
    s"""WITH t AS (SELECT doc_id, $sqlNorm AS nt FROM documents
       |           ),
       |base AS (SELECT doc_id, nt FROM t WHERE length(nt) >= 4),
       |ex AS (SELECT doc_id, unnest(list_distinct(
       |    [substring(nt, i, 4) for i in range(1, length(nt)-2)])) AS g
       |  FROM base),
       |sizes AS (SELECT doc_id, count(*) AS ng FROM ex GROUP BY doc_id),
       |posts AS (SELECT doc_id, unnest([length(nt) // 4, length(nt) // 4 + 1]) AS pband
       |  FROM base),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM posts a JOIN posts b
       |    ON a.pband = b.pband AND a.doc_id < b.doc_id),
       |common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
       |  FROM cand c
       |  JOIN ex ea ON ea.doc_id = c.doc_a
       |  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.g = ea.g
       |  GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b, n_common,
       |    CAST(n_common AS DOUBLE)
       |      / CAST(na.ng + nb.ng - n_common AS DOUBLE) AS jaccard
       |  FROM common
       |  JOIN sizes na ON na.doc_id = doc_a
       |  JOIN sizes nb ON nb.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_common, jaccard FROM j
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** doc_containment (L34) — ASYMMETRIC containment dedup: |A∩B| / |A|
    * over distinct 4-char grams, the Broder containment coefficient.
    * Jaccard (doc_ngram_jaccard) MISSES the small-doc-inside-big-doc
    * case by construction — a fully quoted 100-gram doc inside a
    * 1000-gram doc has J ≈ 0.1 — and its length-band candidate envelope
    * excludes unequal-length pairs on purpose. Containment is the
    * signal that catches quotation, mirror-with-boilerplate, and
    * article-inside-aggregator duplication.
    *
    * Candidate envelope (DECLARED, like every banded detector here):
    * pairs sharing at least one 8-token word gram — the doc_dup_spans
    * signal; one gram-keyed shuffle whose per-gram pair expansion is
    * occupancy-bounded. An ≥50%-contained doc that shares no 8-token
    * run is out of envelope by design (prefix filtering — the open-set
    * alternative — was measured on this corpus first: the small shared
    * vocabulary makes even the rarest-gram postings ~680k candidate
    * pairs at sf0.01, a scale trap; the long-gram envelope yields 25).
    * Verify is exact: the shared packed-gram arrays + the codegen'd
    * sorted-merge intersect count; containment in integer ppm.
    */
  def docContainment(spark: SparkSession, dir: String): DataFrame = {
    val G = 8
    val base = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), norm(col("text")).as("nt"))
      .filter(length(col("nt")) >= 4)
    val toked = base
      .select(col("doc_id"), split(col("nt"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
    // candidates: one groupBy(gram) pass, pair expansion from the per-gram
    // doc set (min≠max pre-filter spares the expansion for unique grams)
    val g8 = toked.filter(col("n") >= G)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), col("n") - (G - 1))).as("s"))
      .select(col("doc_id"),
        // xxhash64, not md5: the gram hash is a pure BUCKETING key (never
        // emitted, never mirrored cross-engine — equal grams collide
        // identically under ANY hash, so the candidate envelope is
        // unchanged; DuckDB keeps md5 on its side for the same envelope).
        // A 64-bit cross-gram collision is HARMLESS here: it can only ADD
        // a candidate pair, and the exact packed-gram verify below decides
        // membership — no false positive can survive to the output at any
        // corpus scale. The codegen'd 64-bit hash replaces a 128-bit
        // digest + hex string per position: 2.15 → 1.51 s at sf0.1
        // (interleaved A/B)
        xxhash64(concat_ws(" ", slice(col("toks"), col("s"), lit(G))))
          .as("g"))
    // pinned: cand feeds the candidate-id narrowing AND the verify join —
    // candidate-pair-sized, cheap to hold
    val cand = g8.groupBy(col("g"))
      .agg(collect_set(col("doc_id")).as("docs"))
      .filter(size(col("docs")) >= 2)
      .select(explode(col("docs")).as("x"), col("docs"))
      .select(col("x"), explode(col("docs")).as("y"))
      .filter(col("x") < col("y"))
      .distinct()
      .localCheckpoint()
    // verify-join discipline (the L2 verifyPairs rule): only CANDIDATE
    // docs pay the char-gram explode/distinct/sort — the broadcast
    // left-semi narrows the corpus BEFORE packedGram4Arrays, so the
    // exact-verify cost scales with candidates, not corpus. Wall-clock
    // at sf0.1 moves little (1.28 → 1.22 s warm: the 8-token-gram
    // candidate BUILD dominates and is irreducible — it IS the detector)
    // but the verify stage's work drops from |corpus| to |candidates|
    // gram explodes, which is the term that matters at 100 TB where the
    // corpus-wide array build would dwarf the probe
    val candIds = cand
      .select(explode(array(col("x"), col("y"))).as("doc_id"))
      .distinct()
    val arr = packedGram4Arrays(
      base.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
    val v = cand
      .join(arr.select(col("doc_id").as("x"), col("gs").as("gsx"),
        col("ng").as("ngx")), Seq("x"))
      .join(arr.select(col("doc_id").as("y"), col("gs").as("gsy"),
        col("ng").as("ngy")), Seq("y"))
      .withColumn("n_common",
        graft.functions.VectorExprs.sortedIntersectCount(
          col("gsx"), col("gsy")))
      .select(
        when(col("ngx") <= col("ngy"), col("x")).otherwise(col("y"))
          .as("doc_small"),
        when(col("ngx") <= col("ngy"), col("y")).otherwise(col("x"))
          .as("doc_big"),
        least(col("ngx"), col("ngy")).as("ng_small"),
        greatest(col("ngx"), col("ngy")).as("ng_big"),
        col("n_common"))
    v.filter(col("n_common") * 2 >= col("ng_small"))
      .select(col("doc_small"), col("doc_big"), col("ng_small"),
        col("ng_big"), col("n_common"),
        expr("n_common * 1000000 div ng_small").as("containment_ppm"))
      .orderBy(col("doc_small"), col("doc_big"))
  }

  val docContainmentSql: String =
    s"""WITH b AS (SELECT doc_id, $sqlNorm AS nt FROM documents),
       |base AS (SELECT doc_id, nt FROM b WHERE length(nt) >= 4),
       |tk AS (SELECT doc_id, string_split(nt, ' ') AS t FROM base),
       |g8 AS (SELECT DISTINCT doc_id,
       |    unnest([md5(list_aggregate(t[i:i+7], 'string_agg', ' '))
       |      for i in range(1, len(t)-6)]) AS g
       |  FROM tk WHERE len(t) >= 8),
       |cand AS (SELECT DISTINCT a.doc_id AS x, b2.doc_id AS y
       |  FROM g8 a JOIN g8 b2 ON a.g = b2.g AND a.doc_id < b2.doc_id),
       |ex AS (SELECT DISTINCT doc_id, g FROM (
       |  SELECT doc_id,
       |    unnest([substring(nt, i, 4) for i in range(1, length(nt)-2)]) AS g
       |  FROM base)),
       |arr AS (SELECT doc_id, list_sort(list(g)) AS gs, count(*) AS ng
       |  FROM ex GROUP BY doc_id),
       |v AS (SELECT c.x, c.y, xa.ng AS ngx, ya.ng AS ngy,
       |    len(list_intersect(xa.gs, ya.gs)) AS n_common
       |  FROM cand c JOIN arr xa ON xa.doc_id = c.x
       |              JOIN arr ya ON ya.doc_id = c.y),
       |d AS (SELECT
       |    CASE WHEN ngx <= ngy THEN x ELSE y END AS doc_small,
       |    CASE WHEN ngx <= ngy THEN y ELSE x END AS doc_big,
       |    CAST(least(ngx, ngy) AS BIGINT) AS ng_small,
       |    CAST(greatest(ngx, ngy) AS BIGINT) AS ng_big,
       |    CAST(n_common AS BIGINT) AS n_common
       |  FROM v)
       |SELECT doc_small, doc_big, ng_small, ng_big, n_common,
       |  CAST(n_common * 1000000 // ng_small AS BIGINT) AS containment_ppm
       |FROM d WHERE n_common * 2 >= ng_small
       |ORDER BY doc_small, doc_big""".stripMargin

  /** doc_minhash_est_error (L37) — SKETCH-ACCURACY EVAL for the shipped
    * MinHash index, the doc-side sibling of embedding_recall_eval: for
    * every verified near-dup pair, compare the Jaccard ESTIMATE the
    * 8-permutation signature implies (matching-min fraction — the
    * statistic LSH banding consumes) against the exact Jaccard from the
    * shingle arrays, in integer ppm. This is the schedulable regression
    * job a production dedup deployment runs when the corpus shifts: if
    * est−exact error drifts, the band thresholds (and therefore recall)
    * have silently moved. 8 permutations give a coarse estimator
    * (steps of 125000 ppm) — the point is measuring the SHIPPED
    * configuration, not an idealized one.
    *
    * Scale: candidate generation and verify are the L2 machinery
    * verbatim; the signature probe re-aggregates only PAIR-NARROWED
    * docs (broadcast left-semi — the verifyPairs discipline), and every
    * arithmetic step (match count, ×125000, exact ppm by integral
    * division) is engine-identical integer math.
    */
  def docMinhashEstError(spark: SparkSession, dir: String): DataFrame = {
    // ex feeds FOUR consumers (bands, both verify legs, the signature
    // probe) — pinned once so the documents scan + shingle explode + md5
    // run once instead of four times (measured 2.8 -> ~2.0 s at sf0.1)
    val ex = shingles(Tables.documentsWide(spark, dir)).localCheckpoint()
    val bands = minhashBands(ex)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    // pairs is consumed from THREE subtrees (pairIds inside each mh
    // broadcast leg + the final join): unpinned, the whole band-self-join
    // + exact-verify pipeline re-ran per consumer. Pinning the pair-sized
    // frames (pairs, mh — both tiny) measured 3.09 → 2.07 s at sf0.1
    // (interleaved same-JVM A/B, min of 7).
    val pairs = verifyPairs(cand, ex).localCheckpoint()
    val pairIds = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val mh = ex.join(broadcast(pairIds), Seq("doc_id"), "left_semi")
      .withColumn("h", md5(col("g")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nsh"),
        (0 until 8).map(i =>
          min(substring(col("h"), 1 + 4 * i, 4)).as(s"m$i")): _*)
      .localCheckpoint()
    def sig(side: String) = (Seq(col("doc_id").as(side),
      col("nsh").as(s"nsh_$side")) ++
      (0 until 8).map(i => col(s"m$i").as(s"${side}_m$i"))): Seq[Column]
    val matches = (0 until 8).map(i =>
      when(col(s"doc_a_m$i") === col(s"doc_b_m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(broadcast(mh.select(sig("doc_a"): _*)), Seq("doc_a"))
      .join(broadcast(mh.select(sig("doc_b"): _*)), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("n_common * 1000000 div (nsh_doc_a + nsh_doc_b - n_common)")
          .as("exact_ppm"),
        (matches * lit(125000L)).as("est_ppm"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("exact_ppm")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val docMinhashEstErrorSql: String =
    s"""WITH t AS (SELECT doc_id, string_split($sqlNorm, ' ') AS s FROM documents),
       |ex AS (SELECT doc_id, unnest(list_distinct(
       |    [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s)-1)]
       |  )) AS g
       |  FROM t WHERE len(s) >= 3),
       |mh AS (SELECT doc_id, count(*) AS n_sh,
       |  ${(0 until 8).map(i =>
             s"min(substring(md5(g), ${1 + 4 * i}, 4)) AS h$i").mkString(",\n|  ")}
       |  FROM ex GROUP BY doc_id),
       |bands AS (SELECT doc_id, band_id,
       |  CASE band_id ${(0 until 4).map(b =>
             s"WHEN $b THEN h${2 * b} || h${2 * b + 1}").mkString(" ")}
       |  END AS bkey
       |  FROM mh CROSS JOIN (VALUES (0),(1),(2),(3)) b(band_id)),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |common AS (SELECT c.da, c.db, count(*) AS n_common
       |  FROM cand c
       |  JOIN ex ea ON ea.doc_id = c.da
       |  JOIN ex eb ON eb.doc_id = c.db AND eb.g = ea.g
       |  GROUP BY 1, 2),
       |verified AS (SELECT da, db, n_common, na.n_sh AS nsa, nb.n_sh AS nsb,
       |    ${(0 until 8).map(i =>
              s"CASE WHEN na.h$i = nb.h$i THEN 1 ELSE 0 END AS e$i")
              .mkString(", ")}
       |  FROM common
       |  JOIN mh na ON na.doc_id = da JOIN mh nb ON nb.doc_id = db
       |  WHERE CAST(n_common AS DOUBLE)
       |      / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.5)
       |SELECT da AS doc_a, db AS doc_b,
       |  CAST(n_common * 1000000 // (nsa + nsb - n_common) AS BIGINT)
       |    AS exact_ppm,
       |  CAST((e0+e1+e2+e3+e4+e5+e6+e7) * 125000 AS BIGINT) AS est_ppm,
       |  CAST(abs((e0+e1+e2+e3+e4+e5+e6+e7) * 125000
       |       - n_common * 1000000 // (nsa + nsb - n_common)) AS BIGINT)
       |    AS err_ppm
       |FROM verified ORDER BY doc_a, doc_b""".stripMargin

  /** doc_winnowing (L36) — MOSS-style WINNOWING fingerprints: over the
    * per-position 4-token-gram hash stream, every sliding window of w=8
    * hashes selects its minimum (ties → rightmost), and the distinct
    * selected hashes are the document's fingerprint set. Winnowing's
    * guarantee — at least one selection per w consecutive positions, and
    * selections agree on any shared substring ≥ w+3 tokens regardless of
    * WHERE it sits in either doc — is what makes it the plagiarism/
    * mirror-detection standard: position-robust where doc_fingerprint's
    * global extrema are content-global, and density-bounded (E[density] =
    * 2/(w+1) ≈ 22%) where full-gram indexing is not.
    *
    * Plan shape: ONE hash exchange of the RAW documents by doc_id before
    * the explode (the doc_repetition/doc_tfidf discipline — text bytes
    * shuffle, gram rows never do); the selection window, the distinct,
    * and the per-doc fingerprint count all plan exchange-free on the
    * inherited partitioning (doc_id is a subset of every downstream
    * key). The rightmost-min tiebreak rides ONE window pass as
    * min(struct(h, -i)) — both engines compare structs
    * lexicographically, so selection is engine-identical. Pairing is the
    * house candidate discipline: equi-join on the selected hash,
    * occupancy-bounded, similarity = shared/min(|fp|) in exact ppm,
    * ≥50% survives.
    *
    * Scale: window state is w rows; the only gram-keyed exchange carries
    * the ~22%-density DISTINCT fingerprint set, not the gram stream.
    */
  def docWinnowing(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    val d = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), split(norm(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= W + 3) // at least one full window
      .repartition(col("doc_id"))
    val grams = d
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - 3)).as("i"))
      .select(col("doc_id"), col("i"), md5(concat_ws(" ",
        element_at(col("toks"), col("i")),
        element_at(col("toks"), col("i") + 1),
        element_at(col("toks"), col("i") + 2),
        element_at(col("toks"), col("i") + 3))).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(-(W - 1), org.apache.spark.sql.expressions.Window.currentRow)
    val sel = grams
      .withColumn("sel", min(struct(col("h"), (-col("i")).as("ni"))).over(w))
      .filter(col("i") >= W)
      .select(col("doc_id"), col("sel.h").as("h"))
      .distinct()
    val fp = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val pairs = sel.groupBy(col("h"))
      .agg(collect_set(col("doc_id")).as("docs"))
      .filter(size(col("docs")) >= 2)
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
    pairs
      .join(fp.select(col("doc_id").as("a"), col("n_fp").as("fp_a")), Seq("a"))
      .join(fp.select(col("doc_id").as("b"), col("n_fp").as("fp_b")), Seq("b"))
      .filter(col("n_shared") * 2 >= least(col("fp_a"), col("fp_b")))
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("n_shared"),
        col("fp_a"), col("fp_b"),
        expr("n_shared * 1000000 div least(fp_a, fp_b)").as("winnow_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val docWinnowingSql: String =
    s"""WITH t AS (SELECT doc_id, string_split($sqlNorm, ' ') AS s
       |  FROM documents),
       |g0 AS (SELECT doc_id,
       |    unnest([{'i': i,
       |             'h': md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]
       |                      || ' ' || s[i+3])}
       |            for i in range(1, len(s) - 2)]) AS u
       |  FROM t WHERE len(s) >= 11),
       |g AS (SELECT doc_id, u.i AS i, u.h AS h FROM g0),
       |sel0 AS (SELECT doc_id, i,
       |    min({'h': h, 'ni': -i}) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS sel
       |  FROM g),
       |sel AS (SELECT DISTINCT doc_id, sel.h AS h FROM sel0 WHERE i >= 8),
       |fp AS (SELECT doc_id, count(*) AS n_fp FROM sel GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS n_shared
       |  FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT p.doc_a, p.doc_b, p.n_shared,
       |  fa.n_fp AS fp_a, fb.n_fp AS fp_b,
       |  CAST(p.n_shared * 1000000 // least(fa.n_fp, fb.n_fp) AS BIGINT)
       |    AS winnow_ppm
       |FROM pairs p JOIN fp fa ON fa.doc_id = p.doc_a
       |  JOIN fp fb ON fb.doc_id = p.doc_b
       |WHERE p.n_shared * 2 >= least(fa.n_fp, fb.n_fp)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** doc_fuzzy_match (L25) — EDIT-DISTANCE verified fuzzy matching, the
    * entity-resolution join: candidates block on the normalized 24-char
    * prefix (md5 block key — one equi-join, occupancy-bounded like every
    * banded detector in this file), then the exact `levenshtein` DP
    * verifies on a BOUNDED 80-char raw-text window — bounding the prefix
    * bounds the O(len²) per-pair DP cost, the discipline that keeps an
    * edit-distance join feasible at all (unbounded full-text DP is the
    * classic fuzzy-join scale-killer). Distance is an exact integer with
    * identical insert/delete/substitute=1 semantics in both engines, so
    * the pairs AND their distances hash-match.
    *
    * The block key is a DECLARED candidate envelope (same contract as
    * doc_ngram_jaccard's length bands): pairs that differ within their
    * first 24 normalized chars are out of scope by definition — recall
    * beyond the envelope would need multi-prefix or q-gram blocking, a
    * candidate-volume trade documented rather than hidden.
    */
  def docFuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), col("text"),
        md5(substring(norm(col("text")), 1, 24)).as("blk"))
    val a = d.toDF("a_id", "a_text", "blk")
    val b = d.toDF("b_id", "b_text", "blk")
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("edit_distance",
        levenshtein(substring(col("a_text"), 1, 80),
          substring(col("b_text"), 1, 80)))
      .filter(col("edit_distance") <= 10)
      .select(col("a_id"), col("b_id"),
        col("edit_distance").cast("long").as("edit_distance"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val docFuzzyMatchSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, md5(substring($sqlNorm, 1, 24)) AS blk
       |  FROM documents)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(levenshtein(substring(a.text, 1, 80),
       |    substring(b.text, 1, 80)) AS BIGINT) AS edit_distance
       |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |WHERE levenshtein(substring(a.text, 1, 80),
       |  substring(b.text, 1, 80)) <= 10
       |ORDER BY a_id, b_id""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("doc_fuzzy_match", docFuzzyMatch, docFuzzyMatchSql),
    Query("doc_near_dedup", docNearDedup, docNearDedupSql),
    // the oracle is the FULL batch recompute: hash-match proves
    // incremental maintenance == rebuild
    Query("cdc_incremental_neardup", cdcIncrementalNearDup,
      docNearDedupSql, warm = true),
    Query("doc_simhash", docSimhash, docSimhashSql),
    Query("doc_simhash_dup", docSimhashDup, docSimhashDupSql),
    Query("doc_ngram_jaccard", docNgramJaccard, docNgramJaccardSql),
    Query("doc_containment", docContainment, docContainmentSql),
    Query("doc_winnowing", docWinnowing, docWinnowingSql),
    Query("doc_minhash_est_error", docMinhashEstError, docMinhashEstErrorSql))
}
