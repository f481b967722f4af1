package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Query
import graft.streaming.Streams.ChangeEvent

/** The CDC change-log source (SURVEY.md §2.1 rows S2/S4), in both forms the
  * engine consumes it:
  *
  *  - `batch` — the bounded snapshot read every DuckDB-oracled batch twin
  *    uses, typed to the Debezium-style `ChangeEvent` envelope.
  *  - `stream` — the unbounded form: a file-based Structured Streaming
  *    source over the same parquet (schema pinned up front, as readStream
  *    requires), which is exactly how a production tail would consume a
  *    CDC landing zone; `Trigger.AvailableNow` over it implements the
  *    standard snapshot-then-tail bootstrap (S4).
  *
  * The upstream parquet's `ts` physical type has CHANGED across driver
  * generations (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)); both forms read the
  * ACTUAL footer schema and normalize via [[graft.Tables.normalizeTs]] —
  * int64-nanos floor-divides to microseconds, µs/ms timestamps pass through
  * under the pinned UTC session — so batch and stream agree to the
  * microsecond with the DuckDB oracle on every layout.
  *
  * Scale note: the file stream source checkpoints consumed files exactly
  * like a resume token — restart-safe, no reprocessing — and partitions
  * work by file/row-group, so a 100-TB landing zone tails with
  * data-proportional parallelism.
  */
object ChangeLog {

  /** Physical read schema of the events landing, derived from the ACTUAL
    * parquet footer (one batch-reader footer read, then cached by
    * Tables.load) — never pinned, because the upstream physical type of
    * `ts` is not ours to assume. readStream still gets its required
    * up-front schema; it is just the observed one.
    */
  def rawSchema(spark: SparkSession, sfDir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.load(spark, sfDir, "events").schema
  }

  def batch(spark: SparkSession, sfDir: String): Dataset[ChangeEvent] = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir).as[ChangeEvent]
  }

  def stream(spark: SparkSession, sfDir: String): DataFrame = {
    // the file-stream source wants a directory; the glob filter narrows it
    // to the events landing files among the other tables
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(rawSchema(spark, sfDir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  // ---- S8: JSON-lines wire format ----------------------------------------
  //
  // A Mongo change stream / Debezium topic ships newline-delimited JSON,
  // not parquet; this is the engine's decode path for that wire format.
  // `eventsJsonl` lands the log once as JSONL (the encode direction — what
  // a capture agent writes to the landing zone), `cdcJsonlApply` reads it
  // back with a PINNED schema (no inference scan — at 100 TB schema
  // inference is a full extra pass) and applies the same LWW collapse as
  // cdc_apply. The oracle is cdc_apply's SQL over the original parquet:
  // a hash-match proves encode → JSONL → decode → apply loses nothing,
  // timestamps included (microsecond round-trip via an explicit format).
  // JSONL splits by line and parallelizes by file — scale-neutral.

  private[graft] val TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Declared JSONL schema: ts travels as a formatted string (JSON has no
    * timestamp type); everything else keeps its logical type. */
  val jsonlSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", StringType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val jsonlPrepared =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def srcStamp(dir: String): String =
    graft.Tables.srcStamp(new java.io.File(dir, "events.parquet"))

  /** Land (once per source state) the JSONL copy of the change log. */
  private[graft] def eventsJsonl(spark: SparkSession, dir: String): String =
    jsonlPrepared.getOrElseUpdate(dir, {
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_jsonl_$safe/events_${srcStamp(dir)}")
      graft.Tables.publishOnce(out) { tmp =>
        graft.Tables.events(spark, dir)
          .select(col("event_id"),
            date_format(col("ts"), TS_FMT).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .write.mode("overwrite").json(tmp.getAbsolutePath)
      }
    })

  /** cdc_jsonl_apply — LWW apply fed from the JSONL wire format. */
  def cdcJsonlApply(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.schema(jsonlSchema).json(eventsJsonl(spark, dir))
    graft.operators.Cdc.applyLww(
      raw.withColumn("ts", to_timestamp(col("ts"), TS_FMT)))
  }

  lazy val registry: Seq[Query] = Seq(
    // the oracle is cdc_apply's SQL over the ORIGINAL parquet: identical
    // output proves the JSONL encode/decode round-trip is lossless
    Query("cdc_jsonl_apply", cdcJsonlApply, graft.operators.Cdc.cdcApplySql))
}
