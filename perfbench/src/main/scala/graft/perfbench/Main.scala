package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The harness JVM: runs one workload and writes its raw figures as JSON
  * for run.py, which checks the outputs and prints the metrics.
  *
  *   Main --workload repl_tail|query_mix --seed N
  *        --seconds S --trace 0|1 --out FILE --sf DIR --queries FILE
  *        [--corrupt drop|dup]
  *
  * `--trace 1` runs the workload twice in this JVM, first untraced and
  * then with the job listener attached, so the tracing overhead is the
  * difference of the two. Every directory it writes is under
  * `java.io.tmpdir`.
  */
object Main {

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val corrupt = opt.get("corrupt")
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val root = new File(sys.props("java.io.tmpdir"))
    val phases = (if (trace) Seq(false, true) else Seq(false)).map { traced =>
      val spans = new Spans(sc, traced)
      val gc0 = gcS
      heapPools.foreach(_.resetPeakUsage())
      val ph: Map[String, Any] = workload match {
        case "repl_tail" =>
          val dir = new File(root, if (traced) "traced" else "untraced")
          val p = Repl.runTail(spark, dir, seed, seconds, spans, traced,
            corrupt)
          spans.close()
          replJson(p, spans)
        case "query_mix" =>
          val p = new QueryMix.Phase
          val sf = opt("sf")
          val out = new File(root, "results")
          val mix = new QueryMix.Mix(opt("queries"))
          if (!traced) QueryMix.setUp(spark, mix, sf, out, spans, p)
          QueryMix.run(spark, mix, sf, seed, seconds, spans, p)
          spans.close()
          mixJson(spark, mix, p, spans, cores, out)
        case w => sys.error(s"unknown workload $w")
      }
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
      ph ++ Map("traced" -> traced, "layers" -> (
        ph("layers").asInstanceOf[Map[String, Double]] ++ Map(
          "jvm.gc_s" -> (gcS - gc0), "jvm.heap_used_peak_mb" -> heapPeak,
          "trace.jobs" -> spans.jobsSeen.get.toDouble,
          "trace.jobs_unattributed" -> spans.unattributed.get.toDouble)))
    }
    spark.stop()
    // peak resident set of this JVM (Linux), set-up and checks included
    val rssMb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.trim.split("\\s+")(1).toDouble / 1024).get
      finally src.close()
    }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
    val host = Map(
      "nproc" -> cores, "master" -> s"local[$cores]",
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version, "rss_peak_mb" -> rssMb)
    java.nio.file.Files.writeString(new File(opt("out")).toPath,
      Json(Map("workload" -> workload, "phases" -> phases, "host" -> host)))
  }

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def replJson(p: Repl.Phase, spans: Spans): Map[String, Any] = {
    val segs = (Repl.warmSegs until Repl.warmSegs + p.published).map { k =>
      Map("seg" -> k, "due" -> p.due.get(k), "visible" -> p.visible.get(k))
    }
    val data = p.progress.filter(_.numInputRows > 0).toSeq
    def dur(k: String) =
      mean(data.map(pr => Option(pr.durationMs.get(k)).fold(0.0)(_.toDouble)))
    val commits = math.max(1, p.versions.size).toDouble
    val apply = spans.get("apply")
    val feed = spans.sum(n => n == "feed" || n == "view")
    val layers = p.layers ++ Map(
      "stream.triggers" -> data.size.toDouble,
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.get_batch_ms" -> dur("getBatch"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.rows_per_trigger" -> mean(p.batches.map(_.rows.toDouble)),
      "stream.backlog_max" ->
        (if (p.batches.isEmpty) 0.0 else p.batches.map(_.segs.size).max.toDouble),
      "txlog.apply.s" -> apply.wallS / commits,
      "txlog.apply.jobs" -> apply.jobs.get / commits,
      "txlog.apply.tasks" -> apply.tasks.get / commits,
      "txlog.apply.task_cpu_s" -> apply.cpuS / commits,
      "txlog.apply.shuffle_bytes" -> apply.shuffleBytes.get / commits,
      "txlog.apply.frames_read_ratio" ->
        (if (p.framesPublished == 0) 0.0
         else p.framesRead.toDouble / p.framesPublished),
      "txlog.apply.skipped" -> p.skipped.toDouble,
      "txlog.feed.s" -> spans.get("feed").wallS / commits,
      "txlog.feed.jobs" -> feed.jobs.get / commits,
      "txlog.feed.rows" -> p.feedRows / commits,
      "view.update.s" -> spans.get("view").wallS / commits)
    Map(
      "setup_s" -> p.setupS,
      "segments" -> segs,
      "batches" -> p.batches.map(b => Map("id" -> b.id, "segs" -> b.segs,
        "start" -> b.start, "end" -> b.end, "rows" -> b.rows)),
      "measure_s" -> p.measureS,
      "late_max_s" -> p.lateMaxS,
      "layers" -> layers,
      "check" -> p.check)
  }

  private def mixJson(spark: SparkSession, mix: QueryMix.Mix,
      p: QueryMix.Phase, spans: Spans, cores: Int, out: File)
      : Map[String, Any] = {
    val pinned = QueryMix.pinnedMb(spark, p)
    val layers = QueryMix.groupNames.flatMap { g =>
      val calls = p.calls.filter(c => mix.groupOf(c.name) == g)
      val n = math.max(1, calls.size).toDouble
      val b = spans.get(s"query.$g.build")
      val e = spans.get(s"query.$g.exec")
      val both = spans.sum(k => k == s"query.$g.build" || k == s"query.$g.exec")
      val wall = calls.map(c => c.buildS + c.execS).sum
      Seq(
        "build_s" -> calls.map(_.buildS).sum / n,
        "exec_s" -> calls.map(_.execS).sum / n,
        "planning_s" -> calls.map(_.planningS).sum / n,
        "build_jobs" -> b.jobs.get / n,
        "exec_jobs" -> e.jobs.get / n,
        "stages" -> both.stages.get / n,
        "tasks" -> both.tasks.get / n,
        "task_cpu_s" -> both.cpuS / n,
        "shuffle_bytes" -> both.shuffleBytes.get / n,
        "spill_bytes" -> both.spillBytes.get / n,
        "pinned_mb_left" -> pinned(g),
        "cpu_util" -> (if (wall == 0) 0.0 else both.cpuS / (wall * cores))
      ).map { case (k, v) => s"query.$g.$k" -> v }
    }.toMap
    Map(
      "setup_s" -> p.setupS,
      "calls" -> p.calls.map(c => Map("name" -> c.name, "pass" -> c.pass,
        "group" -> mix.groupOf(c.name), "build_s" -> c.buildS,
        "exec_s" -> c.execS, "rows" -> c.rows, "ok" -> c.ok)),
      "measure_s" -> p.measureS,
      "layers" -> layers,
      "check" -> Map("results" -> out.getAbsolutePath))
  }
}
