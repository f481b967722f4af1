package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.Tables
import graft.functions.Det.scaledLong
import graft.operators.AvroWire
import graft.sources.TxLog

/** The replication loop, end to end: Avro wire frames land as topic
  * segments, a `readStream` over the topic decodes each micro-batch
  * (AvroWire.decodeFrame), collapses it to one row per key (last writer
  * wins on (ts_ms, lsn)), commits it with TxLog.applyChanges under the
  * exactly-once txn marker, reads the commit back through
  * TxLog.changeFeed and folds the feed into a per-band view kept here.
  *
  * `repl_tail` is an open loop: a generator thread publishes small
  * hot-key segments on a fixed schedule, whether or not the stream keeps
  * up.
  */
object Repl {

  /** Rows of the replicated table. Each commit rewrites every file its
    * keys touch, and the first commit merges the key-clustered files into
    * a few unclustered ones, so from then on every commit rewrites the
    * whole table: this sets a commit's data cost. A 200k-key table took
    * about 1.3 s per 500-event commit on a 4-core host, too few commits
    * for a 10 s run. Chosen for the sample count; no production table
    * size stands behind it.
    */
  val keys = 50000
  /** Files of the initial table, each one key range. */
  val initFiles = 16
  /** Change events per segment: a small batch, so per-commit fixed costs
    * (about 15 Spark jobs per commit) dominate and the decode is nearly
    * idle. Not taken from a measured change stream.
    */
  val perSeg = 50
  /** Keys are drawn as u^hotExponent * keys, u uniform in [0, 1): about
    * half the events land on the lowest 10% of keys (zipf-like skew).
    * Not taken from a measured change stream.
    */
  val hotExponent = 3.0
  /** One segment every periodS seconds. A warm commit took 1.3-2.5 s on
    * a 4-core host, the same for one segment as for three, so at this
    * rate a trigger takes one to three segments and a segment's lag is
    * one to two commit times.
    */
  val periodS = 1.0
  /** How long after the last publish a segment may still land. */
  private val graceS = 10.0

  private val ddl =
    "user_id BIGINT, last_ts_ms BIGINT, last_event_id BIGINT, last_value DOUBLE"
  private val app = "perfbench"
  private val initTs = 1705363200000L // 2024-01-16: the cents wire epoch
  private val eventTs = initTs + 86400000L
  private val bands = 10
  /** Segments 0 until warmSegs run through the pipeline one by one
    * during set-up, so the timed part starts with compiled code paths.
    */
  val warmSegs = 6

  /** Deterministic uniform in [0, 1) from (seed, salt, row id). */
  private def unif(seed: Long, salt: Int, id: org.apache.spark.sql.Column) =
    xxhash64(lit(seed), lit(salt), id).bitwiseAND(lit(Long.MaxValue))
      .cast("double") / lit(9.223372036854775807e18)

  /** One set-up: the initial table, the generated events (kept for the
    * correctness gate) and their wire frames staged one file per
    * segment, ready to be published into the topic by rename.
    */
  final class Setup(val root: File) {
    val table = new File(root, "table")
    val stage = new File(root, "stage")
    val topic = new File(root, "topic")
    val ckpt = new File(root, "ckpt")
    val events = new File(root, "events")
    val initial = new File(root, "initial")
    def segFile(dir: File, k: Int) = new File(dir, f"seg-$k%06d.parquet")
  }

  def build(spark: SparkSession, root: File, nSegs: Int,
      seed: Long): (Setup, Map[Long, (Long, Long)]) = {
    val s = new Setup(root)
    Seq(s.stage, s.topic).foreach(_.mkdirs())
    val init = spark.range(0, keys.toLong, 1, initFiles)
      .select(col("id").as("user_id"),
        (lit(initTs) + (unif(seed, 1, col("id")) * 1e6).cast("long"))
          .as("last_ts_ms"),
        col("id").as("last_event_id"),
        ((unif(seed, 2, col("id")) * 1e7).cast("long") / lit(100.0))
          .as("last_value"))
    // the table starts clustered by key: range-split rows, one file each
    TxLog.createEmpty(s.table, ddl)
    TxLog.append(init, s.table)
    init.write.parquet(s.initial.getAbsolutePath)
    val view = init.groupBy((col("user_id") % bands).as("band"))
      .agg(count(lit(1)).as("n"),
        sum(scaledLong(col("last_value"), 100L)).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val key = pow(unif(seed, 3, col("id")), hotExponent) * keys
    // spark.range splits evenly, so partition k holds exactly segment k,
    // and every step below maps partitions one to one
    val events = spark.range(0, nSegs.toLong * perSeg, 1, nSegs).select(
      key.cast("long").as("user_id"),
      (lit(eventTs) + col("id")).as("ts_ms"),
      (lit(keys.toLong) + col("id")).as("event_id"),
      ((unif(seed, 4, col("id")) * 1e7).cast("long") / lit(100.0))
        .as("value"),
      when(unif(seed, 5, col("id")) < 0.05, "error").otherwise("update")
        .as("event_type"),
      (col("id") / perSeg).cast("int").as("seg"))
    events.write.parquet(s.events.getAbsolutePath)
    val enc = new File(root, "enc")
    AvroWire.encodeFrames(spark, events.select(col("user_id"),
        timestamp_millis(col("ts_ms")).as("ts"), col("event_id"),
        col("event_type"), col("value")))
      .write.parquet(enc.getAbsolutePath)
    val parts = enc.listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    require(parts.length == nSegs,
      s"expected $nSegs encoded segments, got ${parts.length}")
    parts.zipWithIndex.foreach { case (p, k) =>
      Files.move(p.toPath, s.segFile(s.stage, k).toPath)
    }
    Tables.rmTree(enc)
    (s, view)
  }

  /** Publish staged segment k into the topic: one atomic rename, with
    * an ascending modification time so the file source replays segments
    * in order when several are pending.
    */
  def publish(s: Setup, k: Int): Unit = {
    val src = s.segFile(s.stage, k)
    src.setLastModified(1700000000000L + k * 1000L)
    Files.move(src.toPath, s.segFile(s.topic, k).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Publish timed segment k; with `--corrupt drop` (the gate's own
    * tests) the second timed segment is lost instead.
    */
  private def publishTimed(s: Setup, k: Int, corrupt: Option[String]): Unit =
    if (!(corrupt.contains("drop") && k == warmSegs + 1)) publish(s, k)

  /** Segment id of the replay `--corrupt dup` publishes. */
  private val replayId = 900000

  /** With `--corrupt dup`, deliver the first timed segment a second time
    * after the last one (at-least-once delivery without dedup); returns
    * the ids to wait for.
    */
  private def replayIfAsked(s: Setup, corrupt: Option[String]): Set[Int] =
    if (!corrupt.contains("dup")) Set.empty
    else {
      val again = s.segFile(s.topic, replayId)
      Files.copy(s.segFile(s.topic, warmSegs).toPath, again.toPath)
      again.setLastModified(1700000000000L + replayId * 1000L)
      Set(replayId)
    }

  private def segOf(path: String): Int = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name.stripPrefix("seg-").stripSuffix(".parquet").toInt
  }

  private val entryRe =
    """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  /** The segments of micro-batch `id`, from the file source's own log in
    * the checkpoint (foreachBatch hands over a plan that no longer names
    * its files). Every tenth log file is a compaction of all before it.
    */
  private def segsOf(ckpt: File, id: Long): Seq[Int] = {
    val dir = new File(ckpt, "sources/0")
    val f = Seq(new File(dir, id.toString), new File(dir, s"$id.compact"))
      .find(_.exists()).getOrElse(sys.error(s"no source log for batch $id"))
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collect {
      case entryRe(path, b) if b.toLong == id => segOf(path)
    }.toSeq.sorted
    finally src.close()
  }

  /** Per-key last writer wins over one micro-batch: the applyChanges
    * input contract (at most one row per key, an `_op` column).
    */
  def lww(decoded: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").desc, col("lsn").desc)
    decoded.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts_ms").as("last_ts_ms"),
        col("lsn").as("last_event_id"), col("value").as("last_value"),
        when(col("op") === "d", "delete").otherwise("upsert").as("_op"))
  }

  final case class BatchRec(id: Long, segs: Seq[Int], start: Double,
      end: Double, rows: Long)

  /** Everything one phase of a repl workload measured. */
  final class Phase {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val batches = mutable.ArrayBuffer.empty[BatchRec]
    val due = mutable.Map.empty[Int, Double]        // segment → due time
    val visible = mutable.Map.empty[Int, Double]    // segment → view time
    val progress = mutable.ArrayBuffer.empty[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    /** Table versions the timed commits wrote. */
    val versions = mutable.ArrayBuffer.empty[Long]
    var lateMaxS = 0.0
    var measureS = 0.0
    /** Timed segments published (ids warmSegs until warmSegs + published). */
    var published = 0
    var skipped = 0
    var framesRead = 0L
    var framesPublished = 0L
    var feedRows = 0L
    var layers = Map.empty[String, Double]
    var check = Map.empty[String, Any]

    def reset(): Unit = {
      batches.clear(); visible.clear(); progress.clear(); versions.clear()
      skipped = 0; framesRead = 0; framesPublished = 0; feedRows = 0
    }
  }

  /** The stream over the topic, started on construction, with the
    * pipeline as its batch hook recording into `ph`. In a traced phase
    * the apply input passes through a frame-counting wrapper (how often
    * applyChanges reads its input); every other traced-only figure is
    * taken after the stream stops.
    */
  private final class Runner(spark: SparkSession, s: Setup, ph: Phase,
      spans: Spans, view: mutable.Map[Long, (Long, Long)], traced: Boolean,
      t0: Long) {
    private val frames = spark.sparkContext.longAccumulator("frames")
    private val counted = {
      val acc = frames
      udf((b: Array[Byte]) => { acc.add(1L); b }).asNondeterministic()
    }
    def now: Double = (System.nanoTime() - t0) / 1e9
    @volatile var processed = Set.empty[Int]
    @volatile var failure: Option[Throwable] = None

    private def onBatch(batch: DataFrame, id: Long): Unit = try {
      val start = now
      val segs = segsOf(s.ckpt, id)
      val published = segs.size.toLong * perSeg
      val frames0 = frames.value
      val input =
        if (traced) batch.select(counted(col("value")).as("value")) else batch
      val v = spans("apply")(TxLog.applyChanges(spark, s.table,
        lww(AvroWire.decodeFrame(input)), Seq("user_id"), Some(app), id))
      if (v < 0) ph.skipped += 1
      else {
        val feed = spans("feed")(TxLog.changeFeed(spark, s.table, v - 1, v))
        val deltas = spans("view") {
          feed.select((col("user_id") % bands).as("band"),
              (col("_change_type") === "insert").as("ins"),
              scaledLong(col("last_value"), 100L).as("cents"))
            .groupBy(col("band"))
            .agg(sum(when(col("ins"), 1L).otherwise(-1L)).as("d_n"),
              sum(when(col("ins"), col("cents")).otherwise(-col("cents")))
                .as("d_c"),
              count(lit(1)).as("rows"))
            .collect()
        }
        deltas.foreach { r =>
          val (n, c) = view.getOrElse(r.getLong(0), (0L, 0L))
          view(r.getLong(0)) = (n + r.getLong(1), c + r.getLong(2))
          ph.feedRows += r.getLong(3)
        }
        if (traced) {
          ph.framesRead += frames.value - frames0
          ph.framesPublished += published
        }
        ph.versions += v
      }
      val end = now
      ph.synchronized {
        ph.batches += BatchRec(id, segs, start, end, published)
        segs.foreach(k => ph.visible(k) = end)
      }
      processed = processed ++ segs
    } catch {
      case e: Throwable => failure = Some(e); throw e
    }

    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
          : Unit = ph.synchronized { ph.progress += e.progress; () }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent)
          : Unit = ()
    }

    val query = {
      spark.streams.addListener(listener)
      spans("stream.start") {
        spark.readStream
          .schema("value BINARY")
          .parquet(s.topic.getAbsolutePath)
          .writeStream
          .option("checkpointLocation", s.ckpt.getAbsolutePath)
          .trigger(Trigger.ProcessingTime(0L))
          .foreachBatch((b: Dataset[Row], id: Long) => onBatch(b, id))
          .start()
      }
    }
    spans.alias(query.runId.toString, "stream")

    /** Block until every segment in `segs` is in the view, the stream
      * failed, or `deadline` (phase seconds) passed.
      */
    def awaitSegs(segs: Set[Int], deadline: Double): Boolean = {
      while (!segs.subsetOf(processed) && failure.isEmpty &&
          query.exception.isEmpty && now < deadline) Thread.sleep(2)
      segs.subsetOf(processed)
    }

    def stop(): Unit = {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }

  /** Set up once: build the table and the staged topic, start the
    * stream, and run the warm-up segments through the whole pipeline one
    * by one (they pay first-batch compilation). Timed, as `setup_s`.
    */
  private def setUp(spark: SparkSession, root: File, nSegs: Int, seed: Long,
      ph: Phase, spans: Spans, traced: Boolean, t0: Long)
      : (Setup, Runner, mutable.Map[Long, (Long, Long)]) = {
    val ts = System.nanoTime()
    val (s, view0) = spans("setup")(build(spark, root, nSegs, seed))
    val view = mutable.Map(view0.toSeq: _*)
    val tb = System.nanoTime()
    val r = new Runner(spark, s, ph, spans, view, traced, t0)
    (0 until warmSegs).foreach { k =>
      publish(s, k)
      if (!r.awaitSegs(Set(k), r.now + 120.0)) {
        r.stop()
        throw r.failure.orElse(Option(r.query.exception.orNull))
          .getOrElse(new RuntimeException("warm-up batch did not land"))
      }
    }
    val te = System.nanoTime()
    ph.setupS += (te - ts) / 1e9
    val last = ph.batches.last
    System.err.println(f"[perfbench] set-up: build ${(tb - ts) / 1e9}%.2f s," +
      f" warm-up batches ${(te - tb) / 1e9}%.2f s, last one" +
      f" ${last.end - last.start}%.3f s")
    // the timed part's counters start here
    ph.synchronized { ph.reset() }
    spans.reset()
    (s, r, view)
  }

  /** repl_tail: publish one segment every `periodS` for `seconds`. */
  def runTail(spark: SparkSession, root: File, seed: Long, seconds: Int,
      spans: Spans, traced: Boolean, corrupt: Option[String]): Phase = {
    val ph = new Phase
    val nSegs = warmSegs + math.ceil(seconds / periodS).toInt
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    val (s, r, view) = setUp(spark, root, nSegs, seed, ph, spans, traced, t0)
    try {
      val start = now + 0.05
      val deadline = start + seconds + graceS
      var k = warmSegs
      while (k < nSegs && r.failure.isEmpty) {
        val due = start + (k - warmSegs + 1) * periodS
        var t = now
        while (t < due) {
          Thread.sleep(math.max(0L, ((due - t) * 1000).toLong - 1L))
          while (now < due) Thread.onSpinWait()
          t = now
        }
        publishTimed(s, k, corrupt)
        ph.synchronized {
          ph.due(k) = due
          ph.lateMaxS = math.max(ph.lateMaxS, now - due)
        }
        k += 1
      }
      ph.published = k - warmSegs
      r.awaitSegs((warmSegs until k).toSet ++ replayIfAsked(s, corrupt),
        deadline)
      ph.measureS = now - start
    } finally r.stop()
    finish(spark, s, ph, view, spans, traced)
    ph
  }

  /** Untimed: land the outputs the correctness gate compares and read
    * the log-level counters. A traced phase also takes here, after the
    * stream stopped, the figures that need extra Spark work: a
    * decode-only pass over each batch's segments, the keys each commit
    * changed (from the change feed) and the files each commit wrote.
    */
  private def finish(spark: SparkSession, s: Setup, ph: Phase,
      view: mutable.Map[Long, (Long, Long)], spans: Spans,
      traced: Boolean): Unit = {
    val out = new File(s.root, "final")
    spans("check")(TxLog.snapshot(spark, s.table)
      .write.parquet(out.getAbsolutePath))
    val vs = TxLog.versions(s.table)
    val st = TxLog.liveState(s.table, vs.last)
    val logDir = new File(s.table, "_graft_log")
    val commits = math.max(1, ph.versions.size).toDouble
    val traceOnly = if (!traced) Map.empty[String, Double] else {
      var frames, ns = 0L
      ph.batches.foreach { b =>
        val files = b.segs.map(k => s.segFile(s.topic, k).getAbsolutePath)
        val t = System.nanoTime()
        frames += spans("decode")(AvroWire.decodeFrame(
          spark.read.schema("value BINARY").parquet(files: _*))
          .queryExecution.toRdd.count())
        ns += System.nanoTime() - t
      }
      val changed = if (ph.versions.isEmpty) 0L else spans("instr")(
        TxLog.changeFeed(spark, s.table, ph.versions.min - 1, ph.versions.max)
          .groupBy(col("_version"))
          .agg(count_distinct(col("user_id")).as("k"))
          .agg(coalesce(sum(col("k")), lit(0L))).first().getLong(0))
      val written = ph.versions.map(v => TxLog.readCommit(s.table, v))
      val rows = written.map(_.adds.map(_.rows).sum).sum
      Map(
        "decode.frames" -> frames.toDouble,
        "decode.s" -> ns / 1e9,
        "decode.ns_per_frame" -> (if (frames == 0) 0.0 else ns.toDouble / frames),
        "txlog.apply.files_added" -> written.map(_.adds.size).sum / commits,
        "txlog.apply.files_removed" -> written.map(_.removes.size).sum / commits,
        "txlog.apply.rows_written" -> rows / commits,
        "txlog.apply.rows_changed" -> changed / commits,
        "txlog.apply.rewrite_ratio" ->
          (if (changed == 0) 0.0 else rows.toDouble / changed))
    }
    ph.layers = traceOnly ++ Map(
      "txlog.log.versions" -> vs.size.toDouble,
      "txlog.log.replayed" -> st.replayed.toDouble,
      "txlog.log.bytes" -> Option(logDir.listFiles()).getOrElse(Array.empty)
        .map(_.length).sum.toDouble,
      "txlog.table.files_live" -> st.live.size.toDouble)
    ph.check = Map(
      "initial" -> s.initial.getAbsolutePath,
      "events" -> s.events.getAbsolutePath,
      "final" -> out.getAbsolutePath,
      "segments" -> (0 until warmSegs + ph.published),
      "timed" -> (warmSegs until warmSegs + ph.published),
      "delivered" -> ph.batches.flatMap(_.segs),
      "view" -> view.toSeq.sortBy(_._1).map { case (b, (n, c)) =>
        Seq(b, n, c) })
  }
}
