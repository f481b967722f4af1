package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det

/** Multi-dimensional data layout (SURVEY.md §2.1 row S20, round-8):
  * Z-ORDER clustering — the Delta/Iceberg `OPTIMIZE ZORDER BY` lever —
  * demonstrated end-to-end on the driver's own lineitem. A date-sorted
  * layout prunes date predicates and NOTHING else; interleaving the bits
  * of (ship-day, part-bucket) into one Morton code and range-partitioning
  * + sorting on it localizes BOTH dimensions at once, so parquet per-file
  * and per-row-group min/max stats are tight on ship-date AND part key —
  * a conjunctive two-column predicate then skips all but the files whose
  * Z-range intersects the query box (~1/√P of the files per dimension at
  * P partitions, vs 1/P on the sorted dim and NO pruning on the other
  * for a single-column sort).
  *
  * The Morton code is pure codegen'd bit arithmetic (shift/mask spread —
  * no UDF): each dimension maps to an EQUAL-DEPTH 12-bit rank derived
  * from the table's own min/max stats (see zValue for why equal depth is
  * load-bearing) and the classic 16-bit spread interleaves them. The z-value exists only in the write plan
  * (repartitionByRange + sortWithinPartitions on the expression); the
  * landed schema is lineitem's, unchanged.
  *
  * Scale (100 TB): the relayout is the one-pass O(n) maintenance job a
  * lakehouse runs per partition/compaction window; every query after it
  * pays O(matching files). The landing uses the shared stamped
  * publish-once protocol. LayoutSpec pins the clustering claim
  * numerically: per-file spans of BOTH dims are a small fraction of the
  * global span, and the scan's PushedFilters carry both predicates.
  */
object Layout {

  /** Spread the low 16 bits of `c` to even bit positions (Morton).
    * private[sources]: TxLog's OPTIMIZE ZORDER reuses the same spread.
    */
  private[sources] def spread(c: Column): Column = {
    val m1 = lit(0x00FF00FFL)
    val m2 = lit(0x0F0F0F0FL)
    val m3 = lit(0x33333333L)
    val m4 = lit(0x55555555L)
    val s1 = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(m1)
    val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(m2)
    val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(m3)
    (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(m4)
  }

  /** Morton code over EQUAL-DEPTH 12-bit ranks of both dimensions. The
    * rank scaling is the part naive z-ordering gets wrong: interleaving
    * raw values lets the wider dimension's high bits dominate the code
    * (measured here — day spans 12 bits, small-sf partkey 5, and the
    * range partitioner then split on date alone: per-file partkey span
    * was 99% of global). Mapping each dim to 0..4095 from its OWN
    * min/max makes the interleave alternate meaningfully — exactly why
    * lakehouse OPTIMIZE implementations rank via table stats first.
    */
  private def zValue(dayMin: Long, daySpan: Long,
      pkMin: Long, pkSpan: Long): Column = {
    // floor of the double division is exact here: numerator and span both
    // fit 53 bits, and an integer true quotient divides exactly in IEEE
    def rank(c: Column, lo: Long, span: Long): Column =
      floor((c - lit(lo)) * lit(4096L) / lit(span)).cast("long")
    val day = datediff(col("l_shipdate"), lit("1995-01-01")).cast("long")
    spread(rank(day, dayMin, daySpan))
      .bitwiseOR(shiftleft(spread(rank(col("l_partkey"), pkMin, pkSpan)), 1))
  }

  private val laid = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Land (once) the Z-ordered lineitem copy for sfDir; returns its path. */
  private[graft] def zorderedLineitem(spark: SparkSession, dir: String): String =
    laid.getOrElseUpdate(dir, {
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val stamp = Tables.srcStamp(new java.io.File(dir, "lineitem.parquet"))
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_layout_$safe/lineitem_z_$stamp")
      Tables.publishOnce(out) { tmp =>
        val li = Tables.lineitem(spark, dir)
        // one 4-value stats row drives the rank scaling — the same
        // index-sized driver collect every stats-based optimizer does
        val s = li.agg(
          min(datediff(col("l_shipdate"), lit("1995-01-01"))).cast("long"),
          max(datediff(col("l_shipdate"), lit("1995-01-01"))).cast("long"),
          min(col("l_partkey")), max(col("l_partkey"))).collect()(0)
        val z = zValue(s.getLong(0), s.getLong(1) - s.getLong(0) + 1,
          s.getLong(2), s.getLong(3) - s.getLong(2) + 1)
        li.repartitionByRange(32, z)
          .sortWithinPartitions(z)
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      }
    })

  /** layout_zorder (S20) — a conjunctive (date-range AND key-range) scan
    * over the Z-ordered landing. Content is layout-independent (the
    * oracle reads the raw table); what the layout buys is the skipping,
    * pinned in LayoutSpec, not the answer.
    */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame = {
    val z = spark.read.parquet(zorderedLineitem(spark, dir))
    z.filter(col("l_shipdate") >= lit("1997-03-01") &&
        col("l_shipdate") < lit("1997-07-01") &&
        col("l_partkey").between(40, 160))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  val layoutZorderSql: String =
    s"""SELECT l_returnflag,
      |  COUNT(*) AS n_rows,
      |  ${Det.sqlDsum("l_quantity")} AS sum_qty,
      |  ${Det.sqlDsum("l_extendedprice")} AS sum_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      |  AND l_shipdate < TIMESTAMP '1997-07-01'
      |  AND l_partkey BETWEEN 40 AND 160
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Parquet bytes under a landing (data files only). */
  private[graft] def parquetBytes(dir: java.io.File): Long = {
    val fs = dir.listFiles()
    if (fs == null) 0L
    else fs.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length).sum
  }

  private[graft] val COMPACT_TARGET_BYTES = 4L << 20

  /** Land (once) a deliberately FRAGMENTED events copy — 128 hash shards,
    * the small-file landing a per-trigger streaming ingest or an
    * over-parallel backfill leaves behind. Exists to give the compactor a
    * realistic "before". */
  private[graft] def fragmentedEvents(spark: SparkSession, dir: String): String =
    fragLaid.getOrElseUpdate(dir, {
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val stamp = Tables.srcStamp(new java.io.File(dir, "events.parquet"))
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_layout_$safe/events_frag_$stamp")
      Tables.publishOnce(out) { tmp =>
        Tables.events(spark, dir)
          .repartition(128, col("event_id"))
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      }
    })
  private val fragLaid = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Land (once) the COMPACTED copy: bin the fragmented landing into
    * ceil(bytes / 4 MiB) time-sorted files. File count derives from the
    * landing's OWN byte size (the stats probe every OPTIMIZE
    * implementation runs), not a row-count guess — so the same code
    * right-sizes any scale factor. */
  private[graft] def compactedEvents(spark: SparkSession, dir: String): String =
    compLaid.getOrElseUpdate(dir, {
      val frag = fragmentedEvents(spark, dir)
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val stamp = Tables.srcStamp(new java.io.File(dir, "events.parquet"))
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_layout_$safe/events_compact_$stamp")
      Tables.publishOnce(out) { tmp =>
        val bytes = parquetBytes(new java.io.File(frag))
        val nFiles = math.max(1L,
          (bytes + COMPACT_TARGET_BYTES - 1) / COMPACT_TARGET_BYTES).toInt
        spark.read.parquet(frag)
          .repartitionByRange(nFiles, col("ts"), col("event_id"))
          .sortWithinPartitions(col("ts"), col("event_id"))
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      }
    })
  private val compLaid = scala.collection.concurrent.TrieMap.empty[String, String]

  /** layout_compaction (S23) — SMALL-FILE COMPACTION, the other half of
    * lakehouse OPTIMIZE next to S20's ZORDER clustering: a streaming CDC
    * ingest lands a file per trigger per partition, and a 100-TB table
    * quietly becomes millions of KB-files whose open/footer/seek overhead
    * dominates every scan (and whose per-file metadata bloats the
    * catalog). The compactor bin-packs the fragmented landing into
    * ceil(bytes/4 MiB) time-range-sorted files — range partitioning keeps
    * time locality so min/max footer stats stay tight for pruning, and
    * the landing publishes via the shared stamped publish-once protocol
    * (rewrite-then-swap, never in place — readers racing the compactor
    * see old or new, not a mix).
    *
    * Content is layout-independent: the oracle reads the RAW events. What
    * compaction buys is the file inventory, pinned numerically in
    * LayoutSpec (128 → ceil(bytes/target) files, fewer total bytes than
    * the fragmented landing, row counts identical).
    */
  def layoutCompaction(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(compactedEvents(spark, dir))
    c.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Det.dsum(col("value")).as("sum_value"),
        bit_xor(col("event_id")).as("event_id_xor"),
        Det.fmtTs(min(col("ts"))).as("min_ts"),
        Det.fmtTs(max(col("ts"))).as("max_ts"))
      .orderBy(col("event_type"))
  }

  val layoutCompactionSql: String =
    s"""SELECT event_type, COUNT(*) AS n_events,
       |  ${Det.sqlDsum("value")} AS sum_value,
       |  CAST(bit_xor(event_id) AS BIGINT) AS event_id_xor,
       |  ${Det.sqlFmtTs("min(ts)")} AS min_ts,
       |  ${Det.sqlFmtTs("max(ts)")} AS max_ts
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** layout_deletion_vectors (S27) — POSITIONAL deletes, the Delta/
    * Iceberg deletion-vector mechanism: instead of rewriting data files
    * to drop rows (the copy-on-write tax a CDC delete stream would make
    * perpetual), a sidecar identifies deleted rows BY POSITION —
    * (file, row_index) — and the read path subtracts them. Both halves
    * run on Spark's parquet `_metadata` columns: the vector builds as
    * (file_path, row_index) pairs under the delete predicate, and the
    * merge-on-read is a LEFT ANTI join on that positional identity. The
    * oracle reads the same table with the logical predicate — the
    * hash-match proves positional delete ≡ predicate delete, i.e. the
    * vector captured exactly the right rows and the anti-join dropped
    * exactly those.
    *
    * Scale: a production DV is a roaring bitmap per file applied inside
    * the scan; the relational equivalent here is the anti-join keyed on
    * (file, position) — mergeable, shuffle bounded by |deletes| after
    * the runtime filter, and at bitmap-per-file granularity the join
    * degrades to a broadcast of file-level bitmaps. Row positions are
    * stable because parquet files are immutable — the same property the
    * real DV format relies on.
    */
  def layoutDeletionVectors(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
      .select(col("_metadata.file_path").as("f"),
        col("_metadata.row_index").as("ri"),
        col("event_id"), col("event_type"), col("value"))
    val dv = raw.filter(col("event_type") === "error")
      .select(col("f"), col("ri"))
    val purged = raw.join(dv, Seq("f", "ri"), "left_anti")
    purged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        Det.dsum(col("value")).as("sum_value"),
        bit_xor(col("event_id")).as("event_id_xor"))
      .orderBy(col("event_type"))
  }

  val layoutDeletionVectorsSql: String =
    s"""SELECT event_type, COUNT(*) AS n_rows,
       |  ${Det.sqlDsum("value")} AS sum_value,
       |  CAST(bit_xor(event_id) AS BIGINT) AS event_id_xor
       |FROM events WHERE event_type <> 'error'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val hiveLaid =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Land (once) orders HIVE-PARTITIONED by year — `partitionBy` directory
    * layout, the other physical-pruning lever next to S20's z-order:
    * z-order tightens FILE STATS inside one directory tree, partitioning
    * makes the pruned dimension a DIRECTORY so matching is listing-level
    * (PartitionFilters — zero footers of non-matching partitions are even
    * opened). One file per partition via repartition on the key.
    */
  private[graft] def partitionedOrders(spark: SparkSession, dir: String)
      : String =
    hiveLaid.getOrElseUpdate(dir, {
      val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val stamp = Tables.srcStamp(new java.io.File(dir, "orders.parquet"))
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_layout_$safe/orders_byyear_$stamp")
      Tables.publishOnce(out) { tmp =>
        Tables.orders(spark, dir)
          .withColumn("o_year", year(col("o_orderdate")).cast("int"))
          .repartition(col("o_year"))
          .write.mode("overwrite").partitionBy("o_year")
          .parquet(tmp.getAbsolutePath)
      }
    })

  /** layout_hive_partition (S44) — partition-PRUNED scan over the
    * hive-partitioned landing: the year predicate resolves at DIRECTORY
    * listing time (the plan's PartitionFilters — pinned in LayoutSpec),
    * so the scan never opens a non-1997 footer. At 100 TB this is the
    * first-line pruning lever (partition on the coarse always-filtered
    * dimension, z-order within partitions for the rest); content is
    * layout-independent — the oracle reads the raw table.
    */
  def layoutHivePartition(spark: SparkSession, dir: String): DataFrame = {
    val p = spark.read.parquet(partitionedOrders(spark, dir))
    p.filter(col("o_year") === 1997)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(Det.scaledLong(col("o_totalprice"), 100L)).as("total_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val layoutHivePartitionSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders WHERE year(o_orderdate) = 1997
      |GROUP BY 1 ORDER BY 1""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("layout_zorder", layoutZorder, layoutZorderSql, warm = true),
    Query("layout_hive_partition", layoutHivePartition, layoutHivePartitionSql),
    Query("layout_compaction", layoutCompaction,
      layoutCompactionSql, warm = true),
    Query("layout_deletion_vectors", layoutDeletionVectors,
      layoutDeletionVectorsSql))
}
