package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.{AvroEnvelope, AvroEnvelopeDecode}
import org.apache.spark.sql.graftbridge.Bridge

/** cdc_avro_apply (S74, round-14) — the Debezium envelope on its REAL
  * wire: Confluent-framed Avro BINARY (`[0x00][schema id][avro body]`),
  * landed by the engine's own capture agent and consumed through the
  * native [[graft.functions.AvroEnvelopeDecode]] Catalyst expression.
  * The JSON twin (cdc_debezium_envelope) proves the envelope STRUCTURE;
  * this row proves the production ENCODING — schema-registry ids frame
  * every message, epoch 1 bodies carry 2dp-double money, epoch 2 bodies
  * (ts >= 2024-01-16) carry i64 cents under a different registered
  * schema, and the consumer resolves both through the id like a
  * KafkaAvroDeserializer. The apply is the same mergeable LWW argmax on
  * (ts_ms, lsn) with per-epoch/op censuses, so the oracle (the canonical
  * recompute from the raw log) proves encode → binary wire → native
  * decode → apply ≡ the canonical apply.
  *
  * Scale: the landing is one parquet binary column in 4 segment files
  * (a topic's partitions); the timed consumer path is scan → ONE
  * codegen-resident decode per message → user-keyed hash aggregate —
  * map-side work is a single library call per row with per-thread
  * decoder reuse, and nothing touches the driver. Writer and reader
  * share ONE schema definition (AvroEnvelope) by construction.
  */
object AvroWire {

  import graft.functions.Det.scaledLong

  /** Encode the raw event log as wire frames — the capture agent's
    * write. Runs distributed (mapPartitions over the typed projection);
    * per-partition writer state is allocated once per task.
    */
  private def avroDocs(spark: SparkSession, dir: String): DataFrame =
    encodeFrames(spark, Tables.events(spark, dir))

  /** Encode one canonical-envelope event frame as wire frames (the
    * capture agent's write, factored so CdcE2e's time-ordered topic can
    * encode ts-quartile slices through the SAME writer).
    */
  private[graft] def encodeFrames(spark: SparkSession,
      events: DataFrame): DataFrame = {
    import spark.implicits._
    val e = events.select(
      col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("event_id"),
      col("event_type"),
      scaledLong(col("value"), 100L).as("cents"), col("value"),
      (col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")).as("v1"))
    e.as[(Long, Long, Long, String, Long, Double, Boolean)]
      .mapPartitions { it =>
        val factory = org.apache.avro.io.EncoderFactory.get()
        val writers = AvroEnvelope.registry.map { case (id, (s, _)) =>
          id -> new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](s)
        }
        var enc: org.apache.avro.io.BinaryEncoder = null
        it.map { case (uid, tsMs, eid, etype, cents, v, isV1) =>
          val id = if (isV1) 1 else 2
          val (schema, _) = AvroEnvelope.registry(id)
          val imgT = schema.getField("after").schema.getTypes.get(1)
          val img = new org.apache.avro.generic.GenericData.Record(imgT)
          img.put("user_id", uid)
          if (id == 1) img.put("value", v) else img.put("amount_cents", cents)
          val src = new org.apache.avro.generic.GenericData.Record(
            schema.getField("source").schema)
          src.put("db", "app"); src.put("tbl", "events"); src.put("lsn", eid)
          val rec = new org.apache.avro.generic.GenericData.Record(schema)
          val isDel = etype == "error"
          // deletes carry only the BEFORE image, everything else only
          // the AFTER — the Debezium connector contract
          rec.put(if (isDel) "before" else "after", img)
          rec.put("source", src)
          rec.put("op", if (isDel) "d" else if (eid % 3 == 0) "c" else "u")
          rec.put("ts_ms", tsMs)
          val bos = new java.io.ByteArrayOutputStream(64)
          bos.write(0) // magic
          bos.write((id >>> 24) & 0xff); bos.write((id >>> 16) & 0xff)
          bos.write((id >>> 8) & 0xff); bos.write(id & 0xff)
          enc = factory.binaryEncoder(bos, enc)
          writers(id).write(rec, enc)
          enc.flush()
          bos.toByteArray
        }
      }.toDF("value")
  }

  private val prepared =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** Land (once per source state) the binary envelope topic — 4 segment
    * files, the topic-partition shape (same idiom as the JSON landing).
    */
  private[graft] def avroLanding(spark: SparkSession, dir: String): String =
    // (dir, stamp) key (r15 review): a regenerated source must land fresh
    prepared.getOrElseUpdate((dir,
      Tables.srcStamp(new java.io.File(dir, "events.parquet"))), {
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_avro_$safe/envelopes_p4_" +
          Tables.srcStamp(new java.io.File(dir, "events.parquet")))
      Tables.publishOnce(out) { tmp =>
        avroDocs(spark, dir).repartition(4)
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      }
      out.getAbsolutePath
    })

  /** The consumer: scan → native decode → LWW apply + censuses. */
  def cdcAvroApply(spark: SparkSession, dir: String): DataFrame =
    finalize0(partials(decodeFrame(
      spark.read.parquet(avroLanding(spark, dir)))))

  /** Served view off the partials: live keys only, presentation order. */
  private def finalize0(p: DataFrame): DataFrame =
    p.filter(!col("last.is_del"))
      .select(col("user_id"), col("last.ts_ms").as("last_ts_ms"),
        col("last.lsn").as("last_event_id"),
        col("last.value").as("last_value"),
        col("n_v1_events"), col("n_v2_events"),
        col("n_creates"), col("n_deletes"))
      .orderBy(col("user_id"))

  /** Oracle: the canonical LWW recompute from the raw log — identical
    * truth to the JSON envelope's oracle; only the wire differs. The
    * epoch-2 leg re-derives value through the SAME cents round-trip the
    * wire carries (round(v*100)/100.0, exact on 2dp money).
    */
  val cdcAvroApplySql: String =
    """WITH log AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
      |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN value
      |      ELSE CAST(round(value * 100) AS BIGINT) / 100.0 END AS value,
      |    event_type = 'error' AS is_del,
      |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 2 END
      |      AS epoch,
      |    CASE WHEN event_type = 'error' THEN 'd'
      |      WHEN event_id % 3 = 0 THEN 'c' ELSE 'u' END AS op
      |  FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn
      |  FROM log),
      |c AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_v1_events,
      |    CAST(SUM(CASE WHEN epoch = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_v2_events,
      |    CAST(SUM(CASE WHEN op = 'c' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_creates,
      |    CAST(SUM(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_deletes
      |  FROM log GROUP BY user_id)
      |SELECT r.user_id, r.ts_ms AS last_ts_ms, r.event_id AS last_event_id,
      |  r.value AS last_value,
      |  c.n_v1_events, c.n_v2_events, c.n_creates, c.n_deletes
      |FROM r JOIN c ON r.user_id = c.user_id
      |WHERE r.rn = 1 AND NOT r.is_del
      |ORDER BY r.user_id""".stripMargin

  // ---- streaming twin -------------------------------------------------------

  private val streamState =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private val streamLock = new Object

  /** Mergeable per-key partials of the apply (max re-maxes, sums re-sum
    * — folding across micro-batches is exact).
    */
  private def partials(decoded: DataFrame): DataFrame =
    decoded
      .groupBy(col("user_id"))
      .agg(
        max(struct(col("ts_ms"), col("lsn"),
          (col("op") === "d").as("is_del"), col("value"))).as("last"),
        sum(when(col("schema_id") === 1L, 1L).otherwise(0L))
          .as("n_v1_events"),
        sum(when(col("schema_id") === 2L, 1L).otherwise(0L))
          .as("n_v2_events"),
        sum(when(col("op") === "c", 1L).otherwise(0L)).as("n_creates"),
        sum(when(col("op") === "d", 1L).otherwise(0L)).as("n_deletes"))

  private def mergePartials(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("user_id"))
      .agg(max(col("last")).as("last"),
        sum(col("n_v1_events")).as("n_v1_events"),
        sum(col("n_v2_events")).as("n_v2_events"),
        sum(col("n_creates")).as("n_creates"),
        sum(col("n_deletes")).as("n_deletes"))

  private[graft] def decodeFrame(df: DataFrame): DataFrame =
    df.select(Bridge.column(AvroEnvelopeDecode(
        Bridge.expression(col("value")))).as("m"))
      .select(col("m.schema_id").as("schema_id"), col("m.op").as("op"),
        col("m.ts_ms").as("ts_ms"), col("m.lsn").as("lsn"),
        col("m.user_id").as("user_id"), col("m.value").as("value"))

  /** cdc_avro_stream (S74 cont.) — the BINARY topic consumed as a LIVE
    * stream: `readStream.parquet` tails the 4-segment landing like a
    * Kafka topic (maxFilesPerTrigger=1 → a genuinely multi-batch
    * drain), every micro-batch decodes through the SAME native
    * expression as the batch query, and keyed state folds via the
    * mergeable partials — the cdc_debezium_stream contract on the Avro
    * wire, proving the custom Catalyst expression is
    * streaming-transparent (micro-batch plans compile it exactly like
    * batch plans). One drain per JVM (warm_state); the oracle is the
    * batch query's SQL — the hash-match proves the stream boundary
    * loses nothing under any batch split.
    */
  def cdcAvroStream(spark: SparkSession, dir: String): DataFrame = {
    val state = streamLock.synchronized {
      streamState.getOrElseUpdate((dir,
        Tables.srcStamp(new java.io.File(dir, "events.parquet"))), {
        val landing = avroLanding(spark, dir)
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_avros_${ProcessHandle.current.pid}_" +
            dir.replaceAll("[^A-Za-z0-9._-]", "_"))
        // FRESH checkpoint per drain attempt: the fold state lives in a
        // local var, so a retry must be a full re-drain (the
        // cdc_debezium_stream r11 lesson); the memo only caches a drain
        // that completed
        val ckpt = new java.io.File(base, s"ckpt_${System.nanoTime()}")
        val outDir = new java.io.File(base, "state")
        var st: Option[DataFrame] = None
        val q = spark.readStream
          .option("maxFilesPerTrigger", "1")
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.BinaryType))))
          .parquet(landing)
          .writeStream
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) =>
              val partial = partials(decodeFrame(batch))
              st = Some(st.fold(partial)(s => mergePartials(s, partial))
                .localCheckpoint())
              ()
          }
          .start()
        q.awaitTermination()
        graft.Tables.rmTree(ckpt) // drain done — reap the checkpoint
        st.getOrElse(sys.error("cdc_avro_stream: empty landing"))
          .write.mode("overwrite").parquet(outDir.getAbsolutePath)
        outDir.getAbsolutePath
      })
    }
    finalize0(spark.read.parquet(state))
  }

  lazy val registry: Seq[Query] = Seq(
    Query("cdc_avro_apply", cdcAvroApply, cdcAvroApplySql),
    Query("cdc_avro_stream", cdcAvroStream, cdcAvroApplySql, warm = true))
}
