package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Query
import graft.Tables

/** Collection-type surface (SURVEY.md §2.7 array/map rows, §1.3 BSON
  * mapping): MapType built from the dynamic-schema JSON payload and
  * round-tripped through map operators, and the higher-order array
  * function family over embedding vectors.
  *
  * Both queries keep maps/arrays strictly INTERNAL and emit scalar rows:
  * collection columns in the output would couple the oracle to engine
  * physical encodings (map entry order is undefined in both engines);
  * exploding back to rows is also what a MySQL-side CDC sink needs anyway.
  */
object Collections {

  /** map_ops — parse `props` into a typed map, enrich it (map_concat),
    * then explode to (key, value) rows and aggregate per event_type/key:
    * the BSON-embedded-document lifecycle (decode → transform → flatten).
    */
  def mapOps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsWide(spark, dir)
    val withMap = e.select(
        col("event_type"), col("user_id"),
        from_json(col("props"), MapType(StringType, LongType)).as("m"))
      .withColumn("m2",
        map_concat(col("m"), map(lit("uid_mod"), col("user_id") % 7)))
    withMap
      .select(col("event_type"), explode(col("m2")).as(Seq("k", "v")))
      .groupBy(col("event_type"), col("k"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy(col("event_type"), col("k"))
  }

  val mapOpsSql: String =
    """WITH kv AS (
      |  SELECT event_type, 'k' AS k, CAST(props->>'$.k' AS BIGINT) AS v
      |  FROM events
      |  UNION ALL
      |  SELECT event_type, 'uid_mod' AS k, user_id % 7 AS v FROM events)
      |SELECT event_type, k, COUNT(*) AS n,
      |  CAST(SUM(v) AS BIGINT) AS sum_v, MIN(v) AS min_v, MAX(v) AS max_v
      |FROM kv GROUP BY 1, 2 ORDER BY event_type, k""".stripMargin

  /** array_hof — the higher-order function family (transform / filter /
    * exists / aggregate / zip_with / slice) over embedding vectors, with
    * every emitted number scaled-integer-exact (Embeddings.scala
    * conventions).
    */
  def arrayHof(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    e.select(
        col("vec_id"),
        // transform + aggregate: sum of |x| at 1e7 scale
        aggregate(
          transform(col("embedding"),
            x => floor(abs(x.cast("double")) * lit(1e7)).cast("long")),
          lit(0L), (acc, v) => acc + v).as("l1_scaled"),
        // filter: how many strictly-positive components
        size(filter(col("embedding"), x => x > 0f)).cast("long").as("n_pos"),
        // exists: any component beyond |0.3|
        exists(col("embedding"),
          x => abs(x.cast("double")) > lit(0.3)).as("has_large"),
        // zip_with against the reversed self: sum of pairwise products =
        // a deterministic scaled convolution-ish scalar
        aggregate(
          zip_with(col("embedding"), reverse(col("embedding")), (x, y) =>
            floor(x.cast("double") * y.cast("double") * lit(1e14))
              .cast("long")),
          lit(0L), (acc, v) => acc + v).as("rev_dot_scaled"),
        // slice head: first element at 1e7 scale
        floor(element_at(col("embedding"), 1).cast("double") * lit(1e7))
          .cast("long").as("head_scaled"))
      .orderBy(col("vec_id"))
  }

  val arrayHofSql: String =
    """SELECT vec_id,
      |  CAST(list_sum([CAST(floor(abs(CAST(x AS DOUBLE)) * 1e7) AS BIGINT)
      |                 for x in embedding]) AS BIGINT) AS l1_scaled,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
      |  len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) > 0.3)) > 0 AS has_large,
      |  CAST(list_sum([CAST(floor(CAST(embedding[i] AS DOUBLE)
      |      * CAST(embedding[65 - i] AS DOUBLE) * 1e14) AS BIGINT)
      |    for i in range(1, 65)]) AS BIGINT) AS rev_dot_scaled,
      |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e7) AS BIGINT) AS head_scaled
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** json_malformed — decode-error handling, the unglamorous half of CDC
    * ingestion: a third of the payloads are deterministically truncated
    * (event_id % 3 == 0), and the pipeline must quarantine-count them and
    * aggregate only clean rows — from_json's PERMISSIVE null instead of a
    * job failure. At 100 TB a poison payload that kills the job is an
    * outage; one that silently disappears is corruption — this surfaces
    * both counts.
    */
  def jsonMalformed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsWide(spark, dir)
    e.withColumn("payload",
        when(col("event_id") % 3 === 0,
          expr("substring(props, 1, length(props) - 2)"))
          .otherwise(col("props")))
      .withColumn("parsed",
        from_json(col("payload"), MapType(StringType, LongType)))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("parsed").isNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("parsed").isNotNull, 1L).otherwise(0L)).as("n_valid"),
        sum(element_at(col("parsed"), "k")).as("sum_k_valid"))
      .orderBy(col("event_type"))
  }

  val jsonMalformedSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_corrupt,
      |  CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_valid,
      |  CAST(SUM(CASE WHEN event_id % 3 <> 0
      |    THEN CAST(props->>'$.k' AS BIGINT) END) AS BIGINT) AS sum_k_valid
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** json_evolution — schema evolution in the event stream, the CDC
    * reality json_malformed doesn't cover: producers upgrade (a NEW key
    * appears), old payloads keep flowing (the key is absent → null), and
    * the occasional out-of-contract key must be QUARANTINED, not silently
    * dropped. Payload drift is simulated deterministically (event_id%5==0
    * gains `ver`, event_id%7==0 gains an undeclared `legacy` key), then:
    *
    *  - the SUPERSET declared schema (k, ver) reads every generation in
    *    one pass — absent keys surface as null (element_at on the typed
    *    map ≡ the superset-struct field), so old/new cohorts are countable
    *    and `ver` aggregates over exactly the upgraded rows;
    *  - undeclared keys are detected via the map decode: any key outside
    *    the declared set marks the row quarantined, with a bit_xor
    *    membership checksum proving WHICH rows (order-free, no overflow).
    *
    * Scale: one scan, ONE JSON parse per row, one hash agg —
    * the same envelope as json_malformed; nothing here grows with schema
    * count except the declared struct itself.
    */
  def jsonEvolution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsWide(spark, dir)
    // textual payload drift: splice new keys before the closing brace (the
    // DuckDB twin does the identical string surgery, so both engines parse
    // the identical payloads)
    val body = expr("substring(props, 1, length(props) - 1)")
    val payload =
      when(col("event_id") % 5 === 0 && col("event_id") % 7 === 0,
        concat(body, lit(", \"ver\": 2, \"legacy\": 1}")))
        .when(col("event_id") % 5 === 0, concat(body, lit(", \"ver\": 2}")))
        .when(col("event_id") % 7 === 0, concat(body, lit(", \"legacy\": 1}")))
        .otherwise(col("props"))
    // ONE JSON parse per row: the map decode serves both the superset-
    // schema read (element_at on a declared key ≡ the struct field, null
    // when absent) and the undeclared-key detection — a separate struct
    // parse would double the per-row parser cost for nothing
    val known = array_contains(map_keys(col("m")), "k").cast("int") +
      array_contains(map_keys(col("m")), "ver").cast("int")
    e.withColumn("payload", payload)
      .withColumn("m", from_json(col("payload"), MapType(StringType, LongType)))
      .withColumn("k", element_at(col("m"), "k"))
      .withColumn("ver", element_at(col("m"), "ver"))
      .withColumn("n_extra", size(col("m")) - known)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("ver").isNull, 1L).otherwise(0L)).as("n_old_schema"),
        sum(when(col("ver").isNotNull, 1L).otherwise(0L)).as("n_new_schema"),
        sum(col("k")).as("sum_k"),
        sum(col("ver")).as("sum_ver"),
        sum(when(col("n_extra") > 0, 1L).otherwise(0L)).as("n_quarantine"),
        bit_xor(when(col("n_extra") > 0, col("event_id"))).as("quarantine_xor"))
      .orderBy(col("event_type"))
  }

  val jsonEvolutionSql: String =
    """WITH drift AS (
      |  SELECT event_type, event_id,
      |    CASE
      |      WHEN event_id % 5 = 0 AND event_id % 7 = 0 THEN
      |        substring(props, 1, length(props) - 1) || ', "ver": 2, "legacy": 1}'
      |      WHEN event_id % 5 = 0 THEN
      |        substring(props, 1, length(props) - 1) || ', "ver": 2}'
      |      WHEN event_id % 7 = 0 THEN
      |        substring(props, 1, length(props) - 1) || ', "legacy": 1}'
      |      ELSE props
      |    END AS payload
      |  FROM events),
      |parsed AS (
      |  SELECT event_type, event_id,
      |    CAST(payload->>'$.k' AS BIGINT) AS k,
      |    CAST(payload->>'$.ver' AS BIGINT) AS ver,
      |    len(list_filter(json_keys(payload),
      |        x -> x NOT IN ('k', 'ver'))) AS n_extra
      |  FROM drift)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN ver IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_old_schema,
      |  CAST(SUM(CASE WHEN ver IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new_schema,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(ver) AS BIGINT) AS sum_ver,
      |  CAST(SUM(CASE WHEN n_extra > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quarantine,
      |  CAST(bit_xor(CASE WHEN n_extra > 0 THEN event_id END) AS BIGINT)
      |    AS quarantine_xor
      |FROM parsed GROUP BY event_type ORDER BY event_type""".stripMargin

  /** json_variant — Spark 4 VARIANT as the semi-structured column type:
    * the payload is wrapped into a NESTED envelope ({"meta": {...},
    * "payload": {...}} — the shape a Debezium/Mongo event actually has),
    * parsed ONCE with `parse_json` into a VariantType column, and every
    * extraction is a typed `variant_get` path navigation ('$.meta.id',
    * '$.payload.k') — no per-path re-parse, no declared struct schema.
    * Variant is the engine answer to BSON's schemaless reality that
    * map/struct decoding (map_ops, json_evolution) approximates: the
    * binary encoding keeps paths navigable WITHOUT committing to a
    * schema at read time, and shredding pushes typed paths columnar.
    * A deep path that does not exist ('$.meta.missing') must yield
    * null, not an error — counted per row to prove it.
    *
    * Scale: one scan, one parse per row into the compact variant binary,
    * one hash agg per (event_type) — the variant column never shuffles
    * (extractions project before the aggregate). The oracle performs the
    * identical envelope surgery and path extraction in DuckDB JSON.
    */
  def jsonVariant(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsWide(spark, dir)
    val envelope = concat(
      lit("{\"meta\": {\"src\": \"s\", \"id\": "), (col("event_id") % 97),
      lit("}, \"payload\": "), col("props"), lit("}"))
    e.withColumn("v", parse_json(envelope))
      .select(col("event_type"),
        variant_get(col("v"), "$.meta.id", "bigint").as("meta_id"),
        variant_get(col("v"), "$.payload.k", "bigint").as("k"),
        variant_get(col("v"), "$.meta.missing", "bigint").as("absent"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("meta_id")).as("sum_meta_id"),
        sum(when(col("absent").isNull, 1L).otherwise(0L))
          .as("n_absent_path"))
      .orderBy(col("event_type"))
  }

  val jsonVariantSql: String =
    """WITH env AS (
      |  SELECT event_type,
      |    '{"meta": {"src": "s", "id": ' || (event_id % 97) ||
      |      '}, "payload": ' || props || '}' AS j
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(j->>'$.payload.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(j->>'$.payload.k' AS BIGINT)) AS min_k,
      |  MAX(CAST(j->>'$.payload.k' AS BIGINT)) AS max_k,
      |  CAST(SUM(CAST(j->>'$.meta.id' AS BIGINT)) AS BIGINT) AS sum_meta_id,
      |  CAST(SUM(CASE WHEN j->>'$.meta.missing' IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_absent_path
      |FROM env GROUP BY event_type ORDER BY event_type""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("map_ops", mapOps, mapOpsSql),
    Query("array_hof", arrayHof, arrayHofSql),
    Query("json_malformed", jsonMalformed, jsonMalformedSql),
    Query("json_variant", jsonVariant, jsonVariantSql),
    Query("json_evolution", jsonEvolution, jsonEvolutionSql))
}
