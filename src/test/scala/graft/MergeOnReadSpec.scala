package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.TxLog

/** Merge-on-read CDC apply: the commit shape (DVs + one upsert file + one
  * change-data file, no rewrite), its row-exact change feed under hot
  * keys, skipped unchanged upserts, the log round trips the inline
  * vectors go through, vacuum of change-data files, the Spark-job budget
  * of a commit and its feed, the footer-derived file stats, the files
  * the apply writes from the driver (equal to Spark's writer's), and the
  * bounded txn ledger.
  */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): File = {
    val f = java.nio.file.Files
      .createTempDirectory(s"graft_morspec_$tag").toFile
    f.deleteOnExit(); f
  }

  private def state(t: File): Seq[(Long, String)] =
    TxLog.snapshot(spark, t).select(col("id"), col("v")).as[(Long, String)]
      .collect().toSeq.sorted

  private def feedRows(df: DataFrame): Seq[(Long, String, Long, String)] =
    df.select(col("_version"), col("_change_type"), col("id"), col("v"))
      .as[(Long, String, Long, String)].collect().toSeq.sorted

  /** The row-level delta between two states: an unchanged key emits
    * nothing, a changed one its delete/insert pair.
    */
  private def delta(v: Long, before: Map[Long, String],
      after: Map[Long, String]): Seq[(Long, String, Long, String)] =
    (before.keySet ++ after.keySet).toSeq.flatMap { k =>
      val (a, b) = (before.get(k), after.get(k))
      if (a == b) Nil
      else a.map(x => (v, "delete", k, x)).toSeq ++
        b.map(x => (v, "insert", k, x))
    }.sorted

  /** Spark jobs `f` launches from this thread. Listener events arrive
    * asynchronously: a one-task marker job, posted after `f`, is
    * delivered after every job of `f`, so once it is seen the count is
    * complete.
    */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"morspec_${System.nanoTime()}"
    val jobs, marks = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(g) if g == s"$group.mark" => marks.incrementAndGet(); ()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val r = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group.mark", "marker")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      while (marks.get < 1) Thread.sleep(1)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** Every entry under the table-relative group dir `group`, files and
    * directories, relative to it.
    */
  private def groupFiles(t: File, group: String): Set[String] = {
    val root = new File(t, group).toPath
    val all = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      all.iterator().asScala.filter(_ != root)
        .filter(p => !p.toFile.isDirectory || p.toFile.list().isEmpty)
        .map(p => root.relativize(p).toString).toSet
    } finally all.close()
  }

  test("hot keys: stacked DVs fold to last-writer-wins, the feed is " +
      "row-exact, and the vectors survive checkpoint, clone and compact") {
    val t = freshTable("hot")
    TxLog.createEmpty(t, "id BIGINT, v STRING")                  // v0
    (0 until 4).foreach { f =>                                   // v1-v4
      TxLog.append((f * 10L until f * 10L + 10L)
        .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    }
    var ref = (0L until 40L).map(i => i -> s"v$i").toMap
    val batches = Seq(
      // 1, 2, 3 update rows of the first file; 4 deleted; 100 inserted
      Seq((1L, "a1", "upsert"), (2L, "a2", "upsert"), (3L, "a3", "upsert"),
        (4L, null, "delete"), (100L, "a100", "upsert")),
      // 1's live row is now in the first apply's upsert file; 2 is
      // deleted there (its original row is already DV'd); 3 unchanged
      Seq((1L, "b1", "upsert"), (2L, null, "delete"), (3L, "a3", "upsert"),
        (15L, "b15", "upsert")),
      // 2 comes back, 4 (already gone) deletes again as a no-op, 100 and
      // 1 change once more
      Seq((1L, "c1", "upsert"), (2L, "c2", "upsert"), (4L, null, "delete"),
        (100L, null, "delete"), (15L, "c15", "upsert"))) ++
      // more hot-key commits, across the checkpoint at v10
      (0 until 5).map(i => Seq((1L, s"d$i", "upsert"),
        (20L + i, null, "delete"), (200L + i, s"n$i", "upsert")))
    var expectedFeed = Seq.empty[(Long, String, Long, String)]
    batches.foreach { b =>
      val v = TxLog.applyChanges(spark, t, b.toDF("id", "v", "_op"),
        Seq("id"))
      val before = ref
      b.foreach {
        case (k, x, "upsert") => ref = ref.updated(k, x)
        case (k, _, _) => ref = ref - k
      }
      val c = TxLog.readCommit(t, v)
      assert(c.removes.isEmpty && c.adds.size == 1 && c.dvs.forall(_.inline),
        s"v$v is not one upsert file plus inline DVs: $c")
      // the delete images ride one change-data file, one per DV'd row
      assert(c.cdc.size <= 1 &&
        c.cdc.map(_.rows).sum == c.dvs.map(_.rows).sum,
        s"v$v change-data files do not match its DVs: $c")
      assert(state(t) == ref.toSeq.sorted, s"snapshot at v$v")
      val want = delta(v, before, ref)
      assert(feedRows(TxLog.changeFeed(spark, t, v - 1, v)) == want,
        s"feed of v$v")
      expectedFeed ++= want
    }
    val last = TxLog.versions(t).last
    assert(last == 12L)
    // the whole window nets per version: no delete is counted twice
    assert(feedRows(TxLog.changeFeed(spark, t, 4L, last)) ==
      expectedFeed.sorted)
    // the checkpoint at v10 carries the inline vectors: its state equals
    // a replay of the log without it
    val st = TxLog.liveState(t, 10L)
    assert(st.base == 10L && st.dvs.values.flatten.exists(_.inline))
    val bare = freshTable("hot_replay")
    val bareLog = new File(bare, "_graft_log"); bareLog.mkdirs()
    (0L to 10L).foreach(i => java.nio.file.Files.copy(
      new File(t, f"_graft_log/$i%08d.json").toPath,
      new File(bareLog, f"$i%08d.json").toPath))
    val replayed = TxLog.liveState(bare, 10L)
    assert(replayed.base == -1L && replayed.live == st.live &&
      replayed.dvs == st.dvs)
    // no inline vector is ever a vacuum candidate
    assert(TxLog.vacuumPreview(t, last).forall(p =>
      p.nonEmpty && new File(t, p).exists()))
    // a shallow clone binds the inline vectors through its ../ paths
    val clone = freshTable("hot_clone")
    TxLog.cloneShallow(spark, t, clone)
    assert(state(clone) == ref.toSeq.sorted)
    // compact materializes every vector; its feed is empty
    val vc = TxLog.compact(spark, t, 1)
    assert(TxLog.liveState(t, vc).dvs.isEmpty)
    assert(state(t) == ref.toSeq.sorted)
    assert(TxLog.feedForVersions(spark, t, Seq(vc)).isEmpty)
    val preview = TxLog.vacuumPreview(t, vc)
    assert(preview.nonEmpty && preview.forall(p =>
      p.nonEmpty && new File(t, p).exists()))
  }

  test("a vector over the inline bound goes to a sidecar and still " +
      "applies") {
    val t = freshTable("sidecar")
    TxLog.createEmpty(t, "id BIGINT, v STRING")
    TxLog.append((0L until 600L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), t)
    val (v, jobs) = jobsOf(TxLog.applyChanges(spark, t,
      (0L until 400L).map(i => (i, s"u$i", "upsert")).toDF("id", "v", "_op"),
      Seq("id")))
    // the probe; the sidecar is written from the driver, like the files
    assert(jobs <= 1, s"applyChanges ran $jobs jobs")
    val c = TxLog.readCommit(t, v)
    assert(c.dvs.size == 1 && !c.dvs.head.inline && c.dvs.head.rows == 400)
    assert(groupFiles(t, c.dvs.head.dvPath).size == 1)
    val want = ((0L until 400L).map(i => (i, s"u$i")) ++
      (400L until 600L).map(i => (i, s"v$i"))).sorted
    assert(state(t) == want)
    assert(TxLog.changeFeed(spark, t, v - 1, v).count() == 800)
  }

  test("job budget: a 50-row apply on a 16-file table runs at most two " +
      "Spark jobs, and its one-commit change feed at most two") {
    val t = freshTable("budget")
    TxLog.createEmpty(t, "id BIGINT, v STRING")
    TxLog.append(spark.range(0, 16000, 1, 16)
      .select(col("id"), concat(lit("v"), col("id").cast("string")).as("v")),
      t)
    assert(TxLog.liveState(t, 1L).live.size == 16)
    def batch(round: Int) =
      ((0 until 40).map(i => (i * 397L + round, s"r$round", "upsert")) ++
        (0 until 5).map(i => (500L + i * 3 + round, null, "delete")) ++
        (0 until 5).map(i => (20000L + i + 10 * round, s"n$round", "upsert")))
        .toDF("id", "v", "_op")
    TxLog.applyChanges(spark, t, batch(0), Seq("id")) // warms code paths
    val (v, applyJobs) =
      jobsOf(TxLog.applyChanges(spark, t, batch(1), Seq("id")))
    // the probe scan; the commit's two files are written on the driver
    assert(applyJobs <= 1, s"applyChanges ran $applyJobs jobs")
    // the feed reads the commit's upsert file and change-data file: one
    // scan each, no shuffle, none of the 16 DV'd data files
    val (rows, feedJobs) =
      jobsOf(TxLog.changeFeed(spark, t, v - 1, v).collect())
    assert(feedJobs <= 1, s"changeFeed ran $feedJobs jobs")
    assert(rows.count(_.getAs[String]("_change_type") == "insert") == 45)
    val (_, viewJobs) = jobsOf(TxLog.changeFeed(spark, t, v - 1, v)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)), sum(col("id"))).collect())
    assert(viewJobs <= 2, s"an aggregate over the feed ran $viewJobs jobs")
    val c = TxLog.readCommit(t, v)
    def canonical(p: String) = new File(p).getCanonicalPath
    assert(c.adds.size == 1 && c.cdc.size == 1)
    // the commit's group holds exactly its two files: no committer
    // `_temporary`, `_SUCCESS` marker or checksum
    val group = c.adds.head.path.takeWhile(_ != '/')
    assert(groupFiles(t, group) ==
      (c.adds ++ c.cdc).map(_.path.stripPrefix(s"$group/")).toSet)
    assert(TxLog.changeFeed(spark, t, v - 1, v).inputFiles
      .map(u => canonical(new java.net.URI(u).getPath)).toSet ==
      (c.adds ++ c.cdc).map(f => canonical(new File(t, f.path).getPath)).toSet)
  }

  /** A frame's rows as comparable tuples: doubles by their grouping bits
    * (NaN equals NaN, −0.0 equals 0.0).
    */
  private def norm(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
      case x => x
    })

  /** The sequential multiset delta between two snapshots, as feed rows
    * (version, change type, columns…).
    */
  private def multisetDelta(v: Long, before: Seq[Seq[Any]],
      after: Seq[Seq[Any]]): Seq[String] =
    (before.diff(after).map(r => (Seq(v, "delete") ++ r).mkString(",")) ++
      after.diff(before).map(r => (Seq(v, "insert") ++ r).mkString(",")))
      .sorted

  private def feedOf(t: File, from: Long, to: Long): Seq[String] =
    norm(TxLog.changeFeed(spark, t, from, to)).map(_.mkString(",")).sorted

  test("unchanged upserts are skipped: -0.0 over 0.0, NaN over NaN and a " +
      "duplicated key's matching row stay live, and the feed equals the " +
      "sequential multiset delta") {
    val t = freshTable("skip")
    TxLog.createEmpty(t, "id BIGINT, x DOUBLE")
    TxLog.append(Seq((1L, 0.0), (2L, Double.NaN), (3L, 5.0), (4L, 1.0))
      .toDF("id", "x").coalesce(1), t)
    TxLog.append(Seq((3L, 6.0)).toDF("id", "x"), t) // key 3 twice
    def apply(rows: Seq[(Long, Double, String)]): Long = {
      val before = norm(TxLog.snapshot(spark, t))
      val v = TxLog.applyChanges(spark, t, rows.toDF("id", "x", "_op"),
        Seq("id"))
      assert(feedOf(t, v - 1, v) ==
        multisetDelta(v, before, norm(TxLog.snapshot(spark, t))),
        s"feed of v$v")
      v
    }
    val v = apply(Seq((1L, -0.0, "upsert"), (2L, Double.NaN, "upsert"),
      (3L, 6.0, "upsert"), (4L, 2.0, "upsert")))
    val c = TxLog.readCommit(t, v)
    // only key 4 changed; key 3's other live row is deleted
    assert(c.adds.map(_.rows) == Seq(1L) && c.cdc.map(_.rows) == Seq(2L) &&
      c.dvs.map(_.rows).sum == 2L, s"$c")
    assert(feedOf(t, v - 1, v) == Seq(s"$v,delete,3,${
      java.lang.Double.doubleToLongBits(5.0)}", s"$v,delete,4,${
      java.lang.Double.doubleToLongBits(1.0)}", s"$v,insert,4,${
      java.lang.Double.doubleToLongBits(2.0)}").sorted)
    assert(TxLog.snapshot(spark, t).count() == 4)
    // a batch that changes nothing writes no file, and its feed is empty
    val idle = apply(Seq((1L, 0.0, "upsert"), (9L, 0.0, "delete")))
    val ci = TxLog.readCommit(t, idle)
    assert(ci.adds.isEmpty && ci.cdc.isEmpty && ci.dvs.isEmpty)
    assert(TxLog.changeFeed(spark, t, idle - 1, idle).isEmpty)
  }

  test("a CDC apply tail: vacuum keeps the change-data files of retained " +
      "versions and reclaims older ones; the streamed feed equals the " +
      "batch feed") {
    val t = freshTable("tailvac")
    TxLog.createEmpty(t, "id BIGINT, v STRING")                    // v0
    TxLog.append((0L until 20L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), t)                                              // v1
    val snaps = scala.collection.mutable.Map(1L -> state(t))
    val vs = (0 until 6).map { i =>                                 // v2-v7
      val v = TxLog.applyChanges(spark, t,
        Seq((1L, s"a$i", "upsert"), (2L + i, null, "delete"),
          (100L + i, s"n$i", "upsert")).toDF("id", "v", "_op"), Seq("id"))
      snaps(v) = state(t); v
    }
    def cdcOf(v: Long) = TxLog.readCommit(t, v).cdc.map(_.path)
    assert(vs.forall(v => cdcOf(v).size == 1))
    // the streamed feed over the apply commits equals the batch feed
    val base = freshTable("tailvac_stream")
    TxLog.runChangeFeedStream(spark, t, new File(base, "feed"),
      new File(base, "ckpt"))
    assert(feedRows(spark.read.parquet(new File(base, "feed").getPath)) ==
      feedRows(TxLog.changeFeed(spark, t, -1L, vs.last)))
    // horizon inside the tail: older change-data files go, retained stay
    val horizon = vs(3)
    val (older, kept) = vs.partition(_ < horizon)
    val preview = TxLog.vacuumPreview(t, horizon)
    assert(older.flatMap(cdcOf).forall(preview.contains))
    assert(!kept.flatMap(cdcOf).exists(preview.contains))
    assert(TxLog.vacuum(t, horizon).toSet == preview.toSet)
    assert(older.flatMap(cdcOf).forall(p => !new File(t, p).exists()))
    assert(kept.flatMap(cdcOf).forall(p => new File(t, p).exists()))
    assert(TxLog.vacuumPreview(t, horizon).isEmpty)
    // the feed over the retained window still reads
    val want = kept.flatMap { v =>
      val (b, a) = (snaps(v - 1).toMap, snaps(v).toMap)
      delta(v, b, a)
    }.sorted
    assert(feedRows(TxLog.changeFeed(spark, t, horizon - 1, vs.last)) == want)
    assert(state(t).toMap == snaps(vs.last).toMap)
  }

  test("footer-derived Add rows and min/max equal the aggregate over the " +
      "written files") {
    val t = freshTable("footer")
    /** What the stats pass computed by aggregating each written file. */
    def aggregated(a: TxLog.Add, cols: Seq[String]) = {
      val r = spark.read.parquet(new File(t, a.path).getAbsolutePath)
        .agg(count(lit(1)), cols.flatMap(c =>
          Seq(min(col(c)).cast("long"), max(col(c)).cast("long"))): _*)
        .head()
      val stats = cols.zipWithIndex.flatMap { case (c, i) =>
        if (r.isNullAt(1 + 2 * i)) None
        else Some(c -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
      }.toMap
      (r.getLong(0), stats)
    }
    def check(df: DataFrame,
        partCols: Seq[String] = Seq.empty): Seq[TxLog.Add] = {
      val adds = TxLog.writeFiles(df, t, "spec", partCols)
      adds.foreach(a => assert((a.rows, a.stats) ==
        aggregated(a, Seq("i", "l", "n", "p")),
        s"footer stats differ for ${a.path}"))
      adds
    }
    // three files of 1000 rows (range splits evenly): int and long
    // columns with mixed nulls, `n` all null in the first file
    val id = col("id")
    val mixed = spark.range(0, 3000, 1, 3).select(
      when(id % 7 === 0, null).otherwise(id - 1500).cast("int").as("i"),
      when(id % 5 === 0, null).otherwise(id * 1000003L - 7L).as("l"),
      when(id < 1000, null).otherwise(id).as("n"),
      (id % 3).cast("int").as("p"),
      concat(lit("s"), id.cast("string")).as("s"))
    // small row groups, so the ranges merge across groups
    spark.conf.set("parquet.block.size", "4096")
    val plain = try check(mixed) finally spark.conf.unset("parquet.block.size")
    assert(plain.size == 3 &&
      plain.count(a => a.rows == 1000 && !a.stats.contains("n")) == 1)
    assert(check(mixed.repartition(2), Seq("p")).size >= 3) // partitioned
    assert(check(mixed.limit(0).coalesce(1)).size == 1)    // empty frame
  }

  /** A value as the file comparison sees it: doubles by their raw bits
    * (−0.0 differs from 0.0, NaN is one value), binary by content,
    * through structs, arrays and maps.
    */
  private def exact(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(exact)
    case s: scala.collection.Seq[_] => s.map(exact)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => exact(k) -> exact(v) }
    case other => other
  }

  /** What a reader can tell of one written file: its rows in position
    * order, its footer schema, key-value metadata (Spark's row schema
    * and version) and writer, and per row group its row count and each
    * column chunk's codec, encodings and statistics.
    */
  private def fileImage(f: File) = {
    import scala.jdk.CollectionConverters._
    val rows = spark.read.parquet(f.getAbsolutePath)
      .select(col("*"), col("_metadata.row_index").as("_ri"))
      .orderBy("_ri").drop("_ri").collect().toSeq.map(exact)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(f.toPath))
    val footer = try reader.getFooter finally reader.close()
    val meta = footer.getFileMetaData
    (rows, meta.getSchema.toString, meta.getKeyValueMetaData.asScala.toMap,
      meta.getCreatedBy, footer.getBlocks.asScala.toSeq.map(b =>
        (b.getRowCount, b.getColumns.asScala.toSeq.map(c =>
          (c.getPath.toDotString, c.getCodec, c.getEncodings.asScala.toSet,
            c.getStatistics.toString)))))
  }

  private val driverGroups = new AtomicInteger

  /** Write `rows` once through Spark's writer ([[TxLog.writeFiles]], one
    * task) and once from the driver ([[TxLog.writeRows]]) into `t`, with
    * the layout and bloom specs as of `base`, and assert the two groups
    * are the same files: the same partition directories and file-name
    * shape, the same `Add` rows, stats and bitsets, and the same
    * [[fileImage]]. Returns the driver's files.
    */
  private def sameAsSpark(t: File, rows: Seq[Row], schema: StructType,
      partCols: Seq[String] = Seq.empty, base: Long = -1L): Seq[TxLog.Add] = {
    val bySpark = TxLog.writeFiles(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema).coalesce(1), t, "spark",
      partCols, base)
    val byDriver = TxLog.writeRows(spark, Seq(rows), schema, t,
      s"d_driver_${driverGroups.incrementAndGet()}", partCols,
      TxLog.bloomsAsOf(t, base)).flatten
    def dir(a: TxLog.Add) = a.path.split('/').toSeq.drop(1).dropRight(1)
    def shape(a: TxLog.Add) = new File(a.path).getName.replaceAll(
      "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")
    val pairs = bySpark.sortBy(dir(_).mkString("/"))
      .zip(byDriver.sortBy(dir(_).mkString("/")))
    assert(bySpark.size == byDriver.size && pairs.forall { case (a, b) =>
      dir(a) == dir(b) && shape(a) == shape(b) }, s"$bySpark\n$byDriver")
    pairs.foreach { case (a, b) =>
      assert((a.rows, a.stats, a.blooms) == (b.rows, b.stats, b.blooms),
        s"Add of ${b.path}")
      assert(fileImage(new File(t, a.path)) == fileImage(new File(t, b.path)),
        s"file ${b.path}")
    }
    byDriver
  }

  test("driver-written files equal Spark-written ones for every column " +
      "type, under the defaults and under zstd with TIMESTAMP_MICROS") {
    val schema = StructType.fromDDL("id BIGINT, i INT, d DOUBLE, " +
      "dec DECIMAL(12,3), dt DATE, ts TIMESTAMP, s STRING, b BINARY, " +
      "st STRUCT<x: INT, y: STRING>, arr ARRAY<BIGINT>, " +
      "m MAP<STRING, DOUBLE>")
    val rows = Seq(
      Row(1L, 7, Double.NaN, new java.math.BigDecimal("123456789.125"),
        java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789123"), "a",
        Array[Byte](1, 2), Row(1, "x"), Seq(1L, null), Map("k" -> -0.0)),
      Row(2L, null, -0.0, null, null, null, null, null, null, null, null),
      Row(null, Int.MinValue, 0.0, new java.math.BigDecimal("-0.001"),
        java.sql.Date.valueOf("1500-03-01"),
        java.sql.Timestamp.valueOf("1899-12-31 23:59:59"), "",
        Array.empty[Byte], Row(null, null), Seq.empty, Map.empty)) ++
      (0 until 60).map(n => Row(n * 7919L, n % 4, n / 7.0,
        java.math.BigDecimal.valueOf(n * 1001L, 3),
        java.sql.Date.valueOf(s"2024-01-${1 + n % 28}"),
        new java.sql.Timestamp(1700000000000L + n * 1000L), s"s${n % 5}",
        Array.fill[Byte](n % 3)(n.toByte), Row(n, s"y$n"),
        Seq.fill(n % 3)(n.toLong), Map(s"k${n % 2}" -> n * 0.5)))
    val t = freshTable("sameas")
    sameAsSpark(t, rows, schema)
    val keys = Seq("spark.sql.parquet.compression.codec",
      "spark.sql.parquet.outputTimestampType")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.zip(Seq("zstd", "TIMESTAMP_MICROS")).foreach { case (k, x) =>
      spark.conf.set(k, x) }
    val zstd = try sameAsSpark(t, rows, schema) finally saved.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
    assert(zstd.forall(_.path.endsWith(".zstd.parquet")))
    assert(fileImage(new File(t, zstd.head.path))._2
      .contains("int64 ts (TIMESTAMP(MICROS,true))"))
  }

  test("driver-written files keep the table's layouts: physical names on " +
      "a column-mapped table, Spark's partition directories, and the " +
      "aggregate path's bloom bitsets") {
    // column-mapped: after RENAME v → w an apply's files carry `v`
    val m = freshTable("sameas_mapped")
    TxLog.createEmpty(m, "id BIGINT, v STRING")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), m)
    TxLog.alterRenameColumn(spark, m, "v", "w")
    val v = TxLog.applyChanges(spark, m, Seq((1L, "a1", "upsert"),
      (3L, "c", "upsert")).toDF("id", "w", "_op"), Seq("id"))
    val c = TxLog.readCommit(m, v)
    assert(c.adds.size == 1 && c.cdc.size == 1)
    (c.adds ++ c.cdc).foreach(f => assert(spark.read
      .parquet(new File(m, f.path).getAbsolutePath).columns.toSeq ==
      Seq("id", "v"), s"${f.path} does not carry the physical names"))
    assert(TxLog.snapshot(spark, m).select("id", "w").as[(Long, String)]
      .collect().toSeq.sorted == Seq((1L, "a1"), (2L, "b"), (3L, "c")))
    sameAsSpark(m, Seq(Row(4L, "d"), Row(5L, null)),
      StructType.fromDDL("id BIGINT, v STRING"))
    // partitioned: values that Hive-escape, and a null
    val p = freshTable("sameas_part")
    val ps = StructType.fromDDL("id BIGINT, k STRING, n INT")
    val kinds = Seq("a b", "50%", "x/y", "k=v", null)
    val files = sameAsSpark(p, (0 until 25).map(i =>
      Row(i.toLong, kinds(i % 5), i % 2)), ps, Seq("k", "n"))
    assert(files.size == 10 && files.exists(
      _.path.contains("/_p_k=__HIVE_DEFAULT_PARTITION__/")))
    assert(files.map(f => TxLog.partValsOf(f.path)("k")).toSet ==
      kinds.toSet)
    // bloom-indexed: bitsets on a BIGINT and an INT column
    val b = freshTable("sameas_bloom")
    TxLog.createEmpty(b, "id BIGINT, n INT, s STRING")
    TxLog.alterAddBloomIndex(spark, b, "id", bits = 1024, k = 3)
    val bv = TxLog.alterAddBloomIndex(spark, b, "n", bits = 256, k = 2)
    val bloomed = sameAsSpark(b, (0 until 40).map(i =>
      Row(if (i == 5) null else i * 31L, i % 9, s"s$i")),
      StructType.fromDDL("id BIGINT, n INT, s STRING"), base = bv)
    assert(bloomed.forall(_.blooms.keySet == Set("id", "n")))
  }

  test("the txn ledger stays exact over a long log: a replayed old batch " +
      "is refused, a new one lands") {
    val t = freshTable("txn")
    (0L until 25L).foreach { b =>
      assert(TxLog.exactlyOnceAppend(t, "app", b,
        Seq((b, s"v$b")).toDF("id", "v")))
      if (b == 11L) assert(TxLog.lastTxnBatch(t, "app").contains(11L))
    }
    assert(TxLog.lastTxnBatch(t, "app").contains(24L))
    assert(TxLog.lastTxnBatch(t, "other").isEmpty)
    assert(!TxLog.exactlyOnceAppend(t, "app", 3L,
      Seq((3L, "again")).toDF("id", "v")))
    assert(TxLog.exactlyOnceAppend(t, "app", 25L,
      Seq((25L, "v25")).toDF("id", "v")))
    assert(TxLog.snapshot(spark, t).count() == 26)
  }
}
