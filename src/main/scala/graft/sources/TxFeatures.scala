package graft.sources

import graft.Query
import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-12 table-format features on the TxLog commit log (r11 verdict
  * tasks 2–5), each as an oracle-checked registered query:
  *
  *   - S51 `txlog_column_mapping` — DROP/RENAME COLUMN schema evolution
  *     via Delta-style column mapping: renames and drops are
  *     metadata-only commits; pre-alter files keep serving under their
  *     unchanged PHYSICAL names; a re-added name binds a fresh physical
  *     id so dropped data never resurrects.
  *   - S52 `sql_timestamp_travel` — `TIMESTAMP AS OF` through Spark's
  *     parser, bound to the greatest commit whose deterministic stamped
  *     ts <= t (the Delta timestamp-travel contract).
  *   - S53 `sql_table_changes` — `table_changes('t', v1, v2)`, Delta's
  *     CDF table-valued function, routed to TxLog.changeFeed.
  *   - S54 `txlog_data_skipping` — log-carried per-file column stats
  *     prune the snapshot's file set against a range predicate with
  *     ZERO reads (data or footer) of pruned files.
  *   - S55 `txlog_dv_delete` / S56 `txlog_restore` — deletion-vector
  *     merge-on-read DELETE and RESTORE TO VERSION AS OF.
  *   - S57 `txlog_clone` — zero-copy SHALLOW CLONE fork.
  *   - S58 `txlog_partitioned` — PARTITIONED BY layout, partition
  *     pruning from the log alone, dynamic partition overwrite.
  *   - S59 `txlog_constraints` — CHECK constraints gating every
  *     incoming write path.
  *
  * Scale: all are metadata-plane features — binding, pruning, forking,
  * and evolution cost bytes-per-commit driver reads; the data plane
  * stays ordinary pruned parquet scans of immutable files. Data
  * skipping and partition pruning are the explicit 100-TB levers: at
  * 1000 executors the planner-side file cut happens before a single
  * task launches; constraint gates cost one aggregate over the incoming
  * batch, never the table.
  */
object TxFeatures {
  import org.apache.spark.sql.functions._
  import graft.functions.Det.scaledLong

  /** Orders census frame shared by every demo: key, priority, year,
    * integer cents.
    */
  private def ordersCensus(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderpriority"),
      year(col("o_orderdate")).cast("long").as("yr"),
      scaledLong(col("o_totalprice"), 100L).as("cents"))

  private[graft] def demoDir(dir: String, tag: String): File =
    new File(new File(sys.props("java.io.tmpdir")),
      s"graft_tx${tag}_${ProcessHandle.current.pid}_${new File(dir).getName}")

  // ---- S51: column-mapping evolution --------------------------------------

  private val mapDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Column-mapping demo, built once per (JVM, corpus): v0 appends the
    * (key, priority, yr, cents) census for yr<=1996; v1 RENAMEs cents →
    * amount_cents (metadata-only — the physical column stays `cents` in
    * every existing file); v2 DROPs yr; v3 re-ADDs yr (fresh physical
    * id); v4 appends the yr>1996 slice under the evolved schema. All
    * four ALTERs go through the statement surface. Per-step version
    * guards make a crash-interrupted build resume at the missing commit.
    */
  private[graft] def mapDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      mapDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "map")
        val o = ordersCensus(spark, dir)
        if (TxLog.versions(t).size < 1)
          TxLog.append(o.filter(col("yr") <= 1996), t)              // v0
        TxSql.register("morders", t)
        if (TxLog.versions(t).size < 2)
          TxSql.sql(spark,
            "ALTER TABLE morders RENAME COLUMN cents TO amount_cents") // v1
        if (TxLog.versions(t).size < 3)
          TxSql.sql(spark, "ALTER TABLE morders DROP COLUMN yr")       // v2
        if (TxLog.versions(t).size < 4)
          TxSql.sql(spark,
            "ALTER TABLE morders ADD COLUMNS (yr BIGINT)")             // v3
        if (TxLog.versions(t).size < 5)
          TxLog.append(o.filter(col("yr") > 1996)
            .withColumnRenamed("cents", "amount_cents")
            .select(col("o_orderkey"), col("o_orderpriority"),
              col("amount_cents"), col("yr")), t)                      // v4
        t
      })
    }

  /** txlog_column_mapping (S51) — the evolved table's census, proving
    * the whole mapping contract in one hash: `amount_cents` sums over
    * EVERY row (pre-rename files serve through their unchanged physical
    * name — rename lost nothing), and `yr` is non-null ONLY for rows
    * appended after the re-ADD (old files still physically CONTAIN a yr
    * column, but the dropped logical column's data must NOT resurrect
    * under the re-added name — the fresh-physical-id discipline).
    */
  def txlogColumnMapping(spark: SparkSession, dir: String): DataFrame = {
    val t = mapDemo(spark, dir)
    TxLog.snapshot(spark, t)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        count(col("yr")).as("n_with_yr"),
        sum(coalesce(col("yr"), lit(0L))).as("total_yr"),
        sum(col("amount_cents")).as("total_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val txlogColumnMappingSql: String =
    """WITH t AS (SELECT o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CASE WHEN year(o_orderdate) > 1996
      |      THEN CAST(year(o_orderdate) AS BIGINT) END AS yr
      |  FROM orders)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  COUNT(yr) AS n_with_yr,
      |  CAST(SUM(COALESCE(yr, 0)) AS BIGINT) AS total_yr,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM t GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- S52: TIMESTAMP AS OF -----------------------------------------------

  private val tsDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Timestamp-travel demo: three appends carving orders by year, each
    * stamped with a deterministic commit timestamp (parsed by the SAME
    * function that binds travel literals, so the binding is
    * timezone-independent and rerun-deterministic).
    */
  private[graft] def tsDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      tsDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "ts")
        val o = ordersCensus(spark, dir)
        def stamp(s: String) = Some(TxSql.parseTsMillis(s))
        if (TxLog.versions(t).size < 1)
          TxLog.append(o.filter(col("yr") <= 1994), t,
            stamp("1995-01-01"))                                    // v0
        if (TxLog.versions(t).size < 2)
          TxLog.append(o.filter(col("yr").between(1995, 1996)), t,
            stamp("1997-01-01"))                                    // v1
        if (TxLog.versions(t).size < 3)
          TxLog.append(o.filter(col("yr") > 1996), t,
            stamp("1999-01-01"))                                    // v2
        TxSql.register("tsorders", t)
        t
      })
    }

  /** sql_timestamp_travel (S52) — `TIMESTAMP AS OF` end to end: one
    * statement travels to a BETWEEN-commits time ('1996-06-15', after
    * v0's 1995-01-01 stamp but before v1's 1997-01-01 → binds v0, the
    * "as of yesterday" semantics) and to an exact-stamp time
    * ('1999-01-01' → binds v2, the full table). The oracle recomputes
    * both states from raw orders — the hash-match proves the
    * greatest-stamp-<=-t binding reads exactly the right committed sets.
    */
  def sqlTimestampTravel(spark: SparkSession, dir: String): DataFrame = {
    val t = tsDemo(spark, dir)
    TxSql.demoLock.synchronized {
      TxSql.register("tsorders", t)
      TxSql.sql(spark,
        """SELECT 'as_of_1996' AS at, o_orderpriority,
          |  COUNT(*) AS n_orders, SUM(cents) AS total_cents
          |FROM tsorders TIMESTAMP AS OF '1996-06-15 12:00:00'
          |GROUP BY o_orderpriority
          |UNION ALL
          |SELECT 'as_of_1999', o_orderpriority, COUNT(*), SUM(cents)
          |FROM tsorders TIMESTAMP AS OF '1999-01-01'
          |GROUP BY o_orderpriority
          |ORDER BY at, o_orderpriority""".stripMargin)
    }
  }

  val sqlTimestampTravelSql: String =
    """WITH t AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |a AS (
      |  SELECT 'as_of_1996' AS at, o_orderpriority,
      |    COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
      |  FROM t WHERE yr <= 1994 GROUP BY o_orderpriority),
      |b AS (
      |  SELECT 'as_of_1999' AS at, o_orderpriority,
      |    COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
      |  FROM t GROUP BY o_orderpriority)
      |SELECT * FROM a UNION ALL SELECT * FROM b
      |ORDER BY at, o_orderpriority""".stripMargin

  // ---- S53: table_changes() -----------------------------------------------

  /** sql_table_changes (S53) — the CDF as the SQL statement downstream
    * users type: `table_changes('ord_log', 0, <latest>)` over the S40
    * demo table (3 appends + copy-on-write delete + compaction), same
    * census as txlog_changefeed — the hash-match against the SAME oracle
    * proves the statement surface is row-for-row the code API.
    */
  def sqlTableChanges(spark: SparkSession, dir: String): DataFrame = {
    val t = TxLog.demoTable(spark, dir)
    TxSql.demoLock.synchronized {
      TxSql.register("ord_log", t)
      val last = TxLog.versions(t).last
      TxSql.sql(spark,
        s"""SELECT _version, _change_type, o_orderpriority,
           |  COUNT(*) AS n_rows, SUM(cents) AS total_cents
           |FROM table_changes('ord_log', 0, $last)
           |GROUP BY _version, _change_type, o_orderpriority
           |ORDER BY _version, _change_type, o_orderpriority""".stripMargin)
    }
  }

  // ---- S54: data skipping -------------------------------------------------

  private val skipDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Data-skipping demo: ONE single-file append per order year (the
    * per-commit stats then pin each file's yr range exactly), so the
    * expected files-read count under a year predicate is data-derived —
    * the oracle recomputes it as COUNT(DISTINCT yr) in range.
    */
  private[graft] def skipDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      skipDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "skip")
        val o = ordersCensus(spark, dir)
        // ≤|years| driver rows — the partition census, not data
        val yrs = o.select(col("yr")).distinct()
          .collect().map(_.getLong(0)).sorted
        yrs.zipWithIndex.foreach { case (y, i) =>
          if (TxLog.versions(t).size < i + 1)
            TxLog.append(o.filter(col("yr") === y).coalesce(1), t)
        }
        t
      })
    }

  /** txlog_data_skipping (S54) — the stats-pruned read end to end: a
    * yr-range predicate resolves its file set from LOG stats alone
    * (snapshotPruned), reads only the in-range files, and reports how
    * many files the scan touched vs the table total. The oracle derives
    * both counts from the data (one file per distinct year by
    * construction), so the hash-match proves the prune read EXACTLY the
    * matching files — fewer would lose rows, more would break the
    * files-read column.
    */
  def txlogDataSkipping(spark: SparkSession, dir: String): DataFrame = {
    val t = skipDemo(spark, dir)
    val (snap, nRead, nTotal) =
      TxLog.snapshotPruned(spark, t, "yr", 1996L, 1997L)
    snap.filter(col("yr").between(1996, 1997)) // stats prune FILES, not rows
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
      .withColumn("n_files_read", lit(nRead.toLong))
      .withColumn("n_files_total", lit(nTotal.toLong))
      .orderBy(col("yr"))
  }

  val txlogDataSkippingSql: String =
    """WITH t AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT yr, COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  (SELECT COUNT(DISTINCT yr) FROM t WHERE yr BETWEEN 1996 AND 1997)
      |    AS n_files_read,
      |  (SELECT COUNT(DISTINCT yr) FROM t) AS n_files_total
      |FROM t WHERE yr BETWEEN 1996 AND 1997
      |GROUP BY yr ORDER BY yr""".stripMargin

  // ---- S55: merge-on-read DELETE via deletion vectors ----------------------

  private val dvDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Deletion-vector demo: one range-partitioned append (4 files), then
    * TWO successive DV deletes — zero data files ever rewritten; the
    * tombstones accumulate across commits. Built once per (JVM, corpus).
    */
  private[graft] def dvDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      dvDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "dv")
        val o = ordersCensus(spark, dir)
        if (TxLog.versions(t).size < 1)
          TxLog.append(
            o.repartitionByRange(4, col("yr"), col("o_orderkey")), t) // v0
        if (TxLog.versions(t).size < 2)
          TxLog.deleteWhereDV(spark, t,                                // v1
            col("yr") === 1997 && col("o_orderpriority") === "3-MEDIUM")
        if (TxLog.versions(t).size < 3)
          TxLog.deleteWhereDV(spark, t,                                // v2
            col("yr") === 1996 && col("o_orderpriority") === "5-LOW")
        t
      })
    }

  /** txlog_dv_delete (S55) — merge-on-read DELETE end to end: censuses
    * at v0 (pre-delete), v1 (first tombstone set applied), and latest
    * (both applied), all served from the SAME four immutable data files
    * — the hash-match proves the tombstones subtract exactly the
    * declared slices at each version and time travel composes with the
    * DV state AS OF each version (TxLogSpec additionally pins that no
    * commit after v0 adds or removes a single data file).
    */
  def txlogDvDelete(spark: SparkSession, dir: String): DataFrame = {
    val t = dvDemo(spark, dir)
    def census(v: Option[Long], tag: String): DataFrame =
      TxLog.snapshot(spark, t, v)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
        .select(lit(tag).as("state"), col("o_orderpriority"),
          col("n_orders"), col("total_cents"))
    census(Some(0L), "v0_all")
      .unionByName(census(Some(1L), "v1_one_dv"))
      .unionByName(census(None, "v2_two_dvs"))
      .orderBy(col("state"), col("o_orderpriority"))
  }

  val txlogDvDeleteSql: String =
    """WITH t AS (
      |  SELECT o_orderpriority, year(o_orderdate) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |v0 AS (
      |  SELECT 'v0_all' AS state, o_orderpriority,
      |    COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
      |  FROM t GROUP BY o_orderpriority),
      |v1 AS (
      |  SELECT 'v1_one_dv', o_orderpriority,
      |    COUNT(*), CAST(SUM(cents) AS BIGINT)
      |  FROM t WHERE NOT (yr = 1997 AND o_orderpriority = '3-MEDIUM')
      |  GROUP BY o_orderpriority),
      |v2 AS (
      |  SELECT 'v2_two_dvs', o_orderpriority,
      |    COUNT(*), CAST(SUM(cents) AS BIGINT)
      |  FROM t WHERE NOT (yr = 1997 AND o_orderpriority = '3-MEDIUM')
      |    AND NOT (yr = 1996 AND o_orderpriority = '5-LOW')
      |  GROUP BY o_orderpriority)
      |SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
      |ORDER BY state, o_orderpriority""".stripMargin

  // ---- S56: RESTORE TABLE ---------------------------------------------------

  private val restoreDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Restore demo: two appends carve the census by year, a copy-on-write
    * delete drops a slice, then `RESTORE TABLE … TO VERSION AS OF 1`
    * through the statement surface brings the pre-delete state back as a
    * NEW commit (history keeps the full timeline).
    */
  private[graft] def restoreDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      restoreDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "restore")
        val o = ordersCensus(spark, dir)
        if (TxLog.versions(t).size < 1)
          TxLog.append(o.filter(col("yr") <= 1995), t)                // v0
        if (TxLog.versions(t).size < 2)
          TxLog.append(o.filter(col("yr") > 1995), t)                 // v1
        if (TxLog.versions(t).size < 3)
          TxLog.deleteWhere(spark, t,                                 // v2
            col("yr") === 1997 && col("o_orderpriority") === "3-MEDIUM")
        TxSql.register("rsorders", t)
        if (TxLog.versions(t).size < 4)
          TxSql.sql(spark, "RESTORE TABLE rsorders TO VERSION AS OF 1") // v3
        t
      })
    }

  /** txlog_restore (S56) — RESTORE end to end as the DESCRIBE-HISTORY
    * timeline: per version, op and metadata row count. v3's count must
    * EQUAL v1's (the restore re-referenced the pre-delete files exactly,
    * resurrecting the deleted slice) while v2 keeps its deleted count —
    * the oracle recomputes every version's expected count from raw
    * orders, so the hash-match proves the restore's file re-referencing
    * to the row, from log metadata alone.
    */
  def txlogRestore(spark: SparkSession, dir: String): DataFrame =
    TxLog.history(spark, restoreDemo(spark, dir))

  val txlogRestoreSql: String =
    """WITH t AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority AS p FROM orders),
      |c AS (SELECT
      |  (SELECT count(*) FROM t WHERE yr <= 1995) AS v0,
      |  (SELECT count(*) FROM t) AS v1,
      |  (SELECT count(*) FROM t) -
      |    (SELECT count(*) FROM t WHERE yr = 1997 AND p = '3-MEDIUM') AS v2)
      |SELECT CAST(version AS BIGINT) AS version, op,
      |  CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(rows_delta AS BIGINT) AS rows_delta
      |FROM (
      |  SELECT 0 AS version, 'append' AS op, v0 AS n_rows, v0 AS rows_delta
      |    FROM c
      |  UNION ALL SELECT 1, 'append', v1, v1 - v0 FROM c
      |  UNION ALL SELECT 2, 'delete', v2, v2 - v1 FROM c
      |  UNION ALL SELECT 3, 'restore', v1, v1 - v2 FROM c)
      |ORDER BY version""".stripMargin

  // ---- S57: shallow clone ---------------------------------------------------

  private val cloneDone =
    scala.collection.concurrent.TrieMap.empty[String, (File, File)]

  /** Clone demo: a source table (yr<=1996 census), a zero-copy shallow
    * clone, then the two DIVERGE — the clone appends the yr>1996 slice
    * and compacts (localizing the external references); the source gets
    * a copy-on-write delete of its 1995 low-priority slice. Neither
    * table's history can leak into the other's reads.
    */
  private[graft] def cloneDemo(spark: SparkSession, dir: String)
      : (File, File) =
    TxSql.demoLock.synchronized {
      cloneDone.getOrElseUpdate(dir, {
        val src = demoDir(dir, "clsrc")
        val tgt = demoDir(dir, "cltgt")
        val o = ordersCensus(spark, dir)
        if (TxLog.versions(src).size < 1)
          TxLog.append(o.filter(col("yr") <= 1996), src)        // src v0
        if (TxLog.versions(tgt).size < 1)
          TxLog.cloneShallow(spark, src, tgt)                   // tgt v0
        if (TxLog.versions(tgt).size < 2)
          TxLog.append(o.filter(col("yr") > 1996), tgt)         // tgt v1
        if (TxLog.versions(tgt).size < 3)
          TxLog.compact(spark, tgt, targetFiles = 4)            // tgt v2
        if (TxLog.versions(src).size < 2)
          TxLog.deleteWhere(spark, src,                         // src v1
            col("yr") === 1995 && col("o_orderpriority") === "5-LOW")
        (src, tgt)
      })
    }

  /** txlog_clone (S57) — shallow clone end to end: after the fork, the
    * clone's census covers ALL years (inherited files + its own append,
    * localized by compaction) while the source's census reflects ONLY
    * its own later delete — the hash-match proves the zero-copy fork is
    * complete (nothing lost at clone time) and fully isolated (neither
    * side's divergence leaks into the other).
    */
  def txlogClone(spark: SparkSession, dir: String): DataFrame = {
    val (src, tgt) = cloneDemo(spark, dir)
    def census(t: File, tag: String): DataFrame =
      TxLog.snapshot(spark, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
        .select(lit(tag).as("side"), col("o_orderpriority"),
          col("n_orders"), col("total_cents"))
    census(tgt, "clone_full")
      .unionByName(census(src, "source_after_delete"))
      .orderBy(col("side"), col("o_orderpriority"))
  }

  val txlogCloneSql: String =
    """WITH t AS (
      |  SELECT o_orderpriority, year(o_orderdate) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |cl AS (
      |  SELECT 'clone_full' AS side, o_orderpriority,
      |    COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
      |  FROM t GROUP BY o_orderpriority),
      |sr AS (
      |  SELECT 'source_after_delete', o_orderpriority,
      |    COUNT(*), CAST(SUM(cents) AS BIGINT)
      |  FROM t WHERE yr <= 1996
      |    AND NOT (yr = 1995 AND o_orderpriority = '5-LOW')
      |  GROUP BY o_orderpriority)
      |SELECT * FROM cl UNION ALL SELECT * FROM sr
      |ORDER BY side, o_orderpriority""".stripMargin

  // ---- S58: partitioned table + dynamic partition overwrite ---------------

  private val partDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Partitioned demo: orders census CREATEd PARTITIONED BY yr (v0, one
    * file per year via the single writer task), the 1996 partition
    * atomically re-stated with doubled cents (v1, dynamic partition
    * overwrite — only that partition's file drops), and a DV delete of
    * the 1995 low-priority slice (v2 — proving position tombstones bind
    * under partition-directory layouts).
    */
  private[graft] def partitionedDemo(spark: SparkSession, dir: String)
      : File =
    TxSql.demoLock.synchronized {
      partDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "part")
        val o = ordersCensus(spark, dir)
        if (TxLog.versions(t).isEmpty)
          TxLog.createPartitioned(o.repartition(1), t, Seq("yr"))
        if (TxLog.versions(t).size < 2)
          TxLog.overwritePartitions(spark, t,
            o.filter(col("yr") === 1996)
              .withColumn("cents", col("cents") * 2).repartition(1))
        if (TxLog.versions(t).size < 3)
          TxLog.deleteWhereDV(spark, t,
            col("yr") === 1995 && col("o_orderpriority") === "5-LOW")
        t
      })
    }

  /** txlog_partitioned (S58) — the partitioned lifecycle end to end: a
    * partition-PRUNED census of the 1995+1996 slice after the overwrite
    * and the DV delete. `files_read`/`files_pruned` ride the payload:
    * the oracle derives both from DISTINCT yr (one file per partition by
    * construction), so a prune that reads too much or too little
    * hash-mismatches — the skip is verified, not asserted.
    */
  def txlogPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val t = partitionedDemo(spark, dir)
    val (snap, kept, pruned) = TxLog.snapshotPartitionPruned(spark, t,
      pv => pv.get("yr").exists(Set("1995", "1996")))
    snap.groupBy(col("yr"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
      .withColumn("files_read", lit(kept.toLong))
      .withColumn("files_pruned", lit(pruned.toLong))
      .orderBy(col("yr"), col("o_orderpriority"))
  }

  /** txlog_show_partitions (S75, round-14) — the BI-discovery statement
    * end to end on the partitioned lifecycle demo: `SHOW PARTITIONS`
    * resolves the live partition specs from LOG metadata alone (the
    * partition-directory components of live add paths — zero data reads,
    * zero filesystem listing, the only viable answer at 100 TB). The
    * oracle recomputes the spec set from raw data: every order year is
    * still live (the 1996 overwrite re-stated its partition, the 1995 DV
    * delete tombstones rows, not files), so the listing must equal the
    * distinct years — one spurious or missing spec hash-mismatches.
    */
  def txlogShowPartitions(spark: SparkSession, dir: String): DataFrame = {
    val t = partitionedDemo(spark, dir)
    TxSql.demoLock.synchronized {
      TxSql.register("part_census", t)
      TxSql.sql(spark, "SHOW PARTITIONS part_census")
    }
  }

  val txlogShowPartitionsSql: String =
    """SELECT DISTINCT 'yr=' || CAST(year(o_orderdate) AS VARCHAR)
      |  AS partition
      |FROM orders ORDER BY partition""".stripMargin

  val txlogPartitionedSql: String =
    """WITH t AS (
      |  SELECT o_orderpriority, year(o_orderdate) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) *
      |      (CASE WHEN year(o_orderdate) = 1996 THEN 2 ELSE 1 END) AS cents
      |  FROM orders),
      |f AS (
      |  SELECT
      |    CAST(COUNT(DISTINCT CASE WHEN yr IN (1995, 1996) THEN yr END)
      |      AS BIGINT) AS files_read,
      |    CAST(COUNT(DISTINCT CASE WHEN yr NOT IN (1995, 1996) THEN yr END)
      |      AS BIGINT) AS files_pruned
      |  FROM t)
      |SELECT yr, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  f.files_read, f.files_pruned
      |FROM t, f
      |WHERE yr IN (1995, 1996)
      |  AND NOT (yr = 1995 AND o_orderpriority = '5-LOW')
      |GROUP BY yr, o_orderpriority, f.files_read, f.files_pruned
      |ORDER BY yr, o_orderpriority""".stripMargin

  // ---- S59: CHECK constraints ----------------------------------------------

  private val consDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Constraints demo: census table seeded with yr<=1995 (v0), two CHECK
    * constraints added through the statement surface (v1, v2), a valid
    * append of the 1996–1997 slice (v3), then a VIOLATING append (the
    * 1998 slice with negated cents) that must REJECT leaving no commit —
    * the table ends at exactly 4 versions holding exactly yr<=1997.
    */
  private[graft] def constraintsDemo(spark: SparkSession, dir: String)
      : File =
    TxSql.demoLock.synchronized {
      consDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "cons")
        val o = ordersCensus(spark, dir)
        if (TxLog.versions(t).isEmpty)
          TxLog.append(o.filter(col("yr") <= 1995), t)
        TxSql.register("cons_demo", t)
        if (TxLog.versions(t).size < 2)
          TxSql.sql(spark, "ALTER TABLE cons_demo ADD CONSTRAINT " +
            "cents_positive CHECK (cents > 0)")
        if (TxLog.versions(t).size < 3)
          TxSql.sql(spark, "ALTER TABLE cons_demo ADD CONSTRAINT " +
            "priority_set CHECK (o_orderpriority IS NOT NULL)")
        if (TxLog.versions(t).size < 4)
          TxLog.append(o.filter(col("yr").between(1996, 1997)), t)
        // the gate must hold: a violating batch rejects atomically
        val rejected = scala.util.Try(
          TxLog.append(o.filter(col("yr") > 1997)
            .withColumn("cents", -col("cents")), t)).isFailure
        require(rejected && TxLog.versions(t).size == 4,
          "constraint gate failed to reject the violating append")
        t
      })
    }

  /** txlog_constraints (S59) — the constraint lifecycle end to end: the
    * post-rejection census (exactly yr<=1997 — the violating 1998 batch
    * left NO commit) with the version and active-constraint counts
    * riding the payload.
    */
  def txlogConstraints(spark: SparkSession, dir: String): DataFrame = {
    val t = constraintsDemo(spark, dir)
    val nv = TxLog.versions(t).size.toLong
    val nc = TxLog.constraintsAsOf(t, TxLog.versions(t).last).size.toLong
    TxLog.snapshot(spark, t)
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
      .withColumn("n_versions", lit(nv))
      .withColumn("n_constraints", lit(nc))
      .orderBy(col("yr"))
  }

  val txlogConstraintsSql: String =
    """SELECT year(o_orderdate) AS yr, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents,
      |  CAST(4 AS BIGINT) AS n_versions,
      |  CAST(2 AS BIGINT) AS n_constraints
      |FROM orders
      |WHERE year(o_orderdate) <= 1997
      |GROUP BY yr
      |ORDER BY yr""".stripMargin

  // ---- S63: DEFAULT values on ADD COLUMNS -----------------------------------

  private val dfltDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Column-default demo: v0 appends the pre-alter slice (yr<=1996, no
    * flag column); v1 `ALTER TABLE … ADD COLUMNS (flag BIGINT DEFAULT
    * 7)` through the statement surface; v2 appends the 1997 slice
    * WITHOUT the column (the writer materializes the default); v3
    * appends the post-1997 slice with EXPLICIT flag values. Three
    * epochs, three different ways a row gets its flag.
    */
  private[graft] def dfltDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      dfltDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "dflt")
        val o = ordersCensus(spark, dir)
        if (TxLog.versions(t).size < 1)
          TxLog.append(o.filter(col("yr") <= 1996), t)            // v0
        TxSql.register("dflt_orders", t)
        if (TxLog.versions(t).size < 2)
          TxSql.sql(spark,
            "ALTER TABLE dflt_orders ADD COLUMNS (flag BIGINT DEFAULT 7)")
        if (TxLog.versions(t).size < 3)
          TxLog.append(o.filter(col("yr") === 1997), t)           // v2
        if (TxLog.versions(t).size < 4)
          TxLog.append(o.filter(col("yr") > 1997)
            .withColumn("flag", col("o_orderkey") % 5), t)        // v3
        t
      })
    }

  /** txlog_add_column_default (S63) — DEFAULT on ADD COLUMNS end to end,
    * epoch-split: pre-alter files READ-TIME fill to 7 (the column is
    * physically absent there), the omitting post-alter append
    * MATERIALIZED 7 at write time, and the explicit append keeps its own
    * values — one hash pins all three paths plus that no epoch leaks
    * into another.
    */
  def txlogAddColumnDefault(spark: SparkSession, dir: String): DataFrame = {
    val t = dfltDemo(spark, dir)
    TxLog.snapshot(spark, t)
      .withColumn("epoch",
        when(col("yr") <= 1996, "a_fill")
          .when(col("yr") === 1997, "b_materialized")
          .otherwise("c_explicit"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_orders"),
        count(col("flag")).as("n_with_flag"),
        sum(col("flag")).as("total_flag"),
        sum(col("cents")).as("total_cents"))
      .orderBy(col("epoch"))
  }

  val txlogAddColumnDefaultSql: String =
    """WITH t AS (SELECT year(o_orderdate) AS yr, o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CASE WHEN year(o_orderdate) <= 1997 THEN 7
      |      ELSE o_orderkey % 5 END AS flag
      |  FROM orders)
      |SELECT CASE WHEN yr <= 1996 THEN 'a_fill'
      |    WHEN yr = 1997 THEN 'b_materialized'
      |    ELSE 'c_explicit' END AS epoch,
      |  COUNT(*) AS n_orders, COUNT(flag) AS n_with_flag,
      |  CAST(SUM(flag) AS BIGINT) AS total_flag,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- S65: GENERATED columns on ADD COLUMNS --------------------------------

  private val genDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Generated-column demo: v0 appends the pre-alter slice; v1 `ALTER
    * TABLE … ADD COLUMNS (band BIGINT GENERATED ALWAYS AS (cents % 10))`
    * through the statement surface; v2 appends the 1997 slice WITHOUT
    * the column (the writer computes it); v3 appends the post-1997 slice
    * WITH explicit (correct) values — the auto gen-constraint validates
    * them. A wrong-valued append is rejected in TxLogSpec.
    */
  private[graft] def genDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      genDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "gen")
        val o = ordersCensus(spark, dir)
        if (TxLog.versions(t).size < 1)
          TxLog.append(o.filter(col("yr") <= 1996), t)            // v0
        TxSql.register("gen_orders", t)
        if (TxLog.versions(t).size < 2)
          TxSql.sql(spark, "ALTER TABLE gen_orders ADD COLUMNS " +
            "(band BIGINT GENERATED ALWAYS AS (cents % 10))")
        if (TxLog.versions(t).size < 3)
          TxLog.append(o.filter(col("yr") === 1997), t)           // v2
        if (TxLog.versions(t).size < 4)
          TxLog.append(o.filter(col("yr") > 1997)
            .withColumn("band", col("cents") % 10), t)            // v3
        t
      })
    }

  /** txlog_generated_column (S65) — GENERATED ALWAYS AS end to end,
    * epoch-split: pre-alter files COMPUTE the band at read (the fill is
    * the generation expression over the file's own columns), the
    * omitting append materialized it at write, the explicit append
    * passed the auto-validation — the oracle recomputes `cents % 10`
    * for every row, so one hash pins all three paths.
    */
  def txlogGeneratedColumn(spark: SparkSession, dir: String): DataFrame = {
    val t = genDemo(spark, dir)
    TxLog.snapshot(spark, t)
      .withColumn("epoch",
        when(col("yr") <= 1996, "a_read_computed")
          .when(col("yr") === 1997, "b_materialized")
          .otherwise("c_validated"))
      .groupBy(col("epoch"), col("band"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
      .orderBy(col("epoch"), col("band"))
  }

  val txlogGeneratedColumnSql: String =
    """WITH t AS (SELECT year(o_orderdate) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT CASE WHEN yr <= 1996 THEN 'a_read_computed'
      |    WHEN yr = 1997 THEN 'b_materialized'
      |    ELSE 'c_validated' END AS epoch,
      |  cents % 10 AS band,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM t GROUP BY 1, 2 ORDER BY epoch, band""".stripMargin

  // ---- S60: CDC apply into the table format --------------------------------

  private val cdcaDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** CDC-apply demo: the events changelog splits at its exact median
    * timestamp; the first half's LWW state SEEDS a TxLog table (v0, the
    * initial snapshot load), the second half collapses to a per-user
    * changes batch (`_op` = delete when the user's final event is an
    * error) and lands through ONE atomic [[TxLog.applyChanges]] commit
    * (v1). Because the split is strict on time, every second-half event
    * supersedes the seeded state — so incremental apply ≡ the full LWW
    * recompute, and the oracle is literally `cdc_apply`'s SQL.
    */
  private[graft] def cdcApplyDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      cdcaDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "cdca")
        val e = graft.Tables.events(spark, dir)
        val pivot = e.agg(
          expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0)
        def lwwOf(half: DataFrame): DataFrame = {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)
          half.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("user_id"),
              graft.functions.Det.fmtTs(col("ts")).as("last_ts"),
              col("event_id").as("last_event_id"),
              col("value").as("last_value"),
              when(col("event_type") === "error", "delete")
                .otherwise("upsert").as("_op"))
        }
        if (TxLog.versions(t).isEmpty)
          TxLog.append(
            lwwOf(e.filter(expr(s"unix_micros(ts) <= $pivot")))
              .filter(col("_op") === "upsert").drop("_op"), t)
        if (TxLog.versions(t).size < 2)
          TxLog.applyChanges(spark, t,
            lwwOf(e.filter(expr(s"unix_micros(ts) > $pivot"))),
            Seq("user_id"))
        t
      })
    }

  /** txlog_cdc_apply (S60) — incremental transactional CDC apply ≡ full
    * recompute: the post-apply snapshot hash-matches `cdc_apply`'s own
    * oracle (the whole-changelog LWW collapse), proving the seeded
    * state + one atomic upsert/delete batch commit lose nothing.
    */
  def txlogCdcApply(spark: SparkSession, dir: String): DataFrame =
    TxLog.snapshot(spark, cdcApplyDemo(spark, dir))
      .select(col("user_id"), col("last_ts"), col("last_event_id"),
        col("last_value"))
      .orderBy(col("user_id"))

  // ---- S66: bloom-filter index + point-lookup file skipping ---------------

  private val bloomDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Bloom-index demo: URGENT orders land one file per `o_orderkey % 8`
    * bucket, so every file's o_custkey [min, max] spans nearly the whole
    * customer domain — the S54 range prune is structurally useless here,
    * which is exactly the workload the bloom index exists for. Bucket 0
    * is appended BEFORE the index declaration (the pre-index epoch: no
    * bitset, conservatively kept), buckets 1–7 after (each add action
    * carries a corpus-scaled / 3-hash bitset over o_custkey — ≥131072
    * bits, growing 64 bits per expected per-file distinct key so the
    * false-positive rate stays ~1e-4 at ANY scale factor). Built once
    * per (JVM, corpus); the declaration runs through the statement form.
    */
  private[graft] def bloomDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      bloomDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "bloom")
        val o = graft.Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select((col("o_orderkey") % 8).as("bucket"), col("o_custkey"),
            scaledLong(col("o_totalprice"), 100L).as("cents"))
        TxSql.register("bloom_orders", t)
        if (TxLog.versions(t).isEmpty)                              // v0
          TxLog.append(o.filter(col("bucket") === 0).coalesce(1), t)
        if (TxLog.versions(t).size < 2) {                           // v1
          // bits SCALE with the corpus (r13 advisor): a fixed 131072
          // at SF1 (~3.7e4 distinct keys/file) runs k·n/m ≈ 0.86 →
          // ~19% false-positive per file-probe, and the contains-only
          // oracle below would mismatch even though the engine is
          // correct. Sized on the MEASURED worst-file occupancy (r14
          // advisor): distinct/7 undercounted ~2× because a customer's
          // orders scatter across o_orderkey % 8 buckets, so the same
          // custkey lands in several files — the real per-file distinct
          // is max-per-bucket, not total/7. 64 index bits per measured
          // per-file key (k = 3 → FP ≈ 1e-4 per file-probe) keeps the
          // prune exact at every shipped SF; the one occupancy job runs
          // once per (JVM, corpus) at demo-build time.
          // coalesce: an empty bloomed-bucket set (degenerate corpus)
          // yields a NULL max — fall back to the 131072-bit floor
          // instead of an NPE at demo-build time (r15 review)
          val perFile = o.filter(col("bucket") =!= 0)
            .groupBy(col("bucket"))
            .agg(count_distinct(col("o_custkey")).as("d"))
            .agg(coalesce(max(col("d")), lit(0L))).head().getLong(0)
          val bits = math.max(131072L, math.max(1L, perFile) * 64L)
          TxSql.sql(spark, "CREATE BLOOMFILTER INDEX ON bloom_orders " +
            s"FOR COLUMNS (o_custkey OPTIONS (bits = $bits, k = 3))")
        }
        (1 to 7).foreach { b =>                                // v2..v8
          if (TxLog.versions(t).size < b + 2)
            TxLog.append(o.filter(col("bucket") === b).coalesce(1), t)
        }
        t
      })
    }

  /** txlog_bloom_skipping (S66) — the bloom-pruned point lookup end to
    * end: five customer-key probes (the domain min and the three keys
    * above it — present or in-range-absent, the prune rule covers both
    * — plus one key past the domain max, all derived from LOG stats
    * with zero data jobs) each resolve their file set from LOG bitsets
    * alone and read only the surviving files.
    * The oracle recomputes the exact combined prune rule from raw data —
    * a bloomed file survives iff it CONTAINS the key (zero false
    * positives at these occupancies, verified at every shipped SF), the
    * pre-index bucket-0 file survives iff the probe passes its min/max
    * RANGE check (stats compose with blooms; for the absent key even the
    * epoch file is range-pruned and the scan reads ZERO files) — so the
    * hash-match proves the prune read exactly the right files: fewer
    * would lose rows, more would break the files-read column.
    */
  def txlogBloomSkipping(spark: SparkSession, dir: String): DataFrame = {
    val t = bloomDemo(spark, dir)
    // probe selection from LOG stats alone — zero data jobs: the four
    // keys at/just-above the domain min (present or in-range-absent,
    // the prune rule covers both identically) and one key past the max
    val (lo, hi) = TxLog.statsRange(t, "o_custkey").getOrElse(
      sys.error("bloom demo: no o_custkey stats in the log"))
    val probes = (0L to 3L).map(lo + _) :+ (hi + 1L)
    // all five probes prune in one metadata pass (ONE position job) and
    // the per-probe aggregates union into ONE Spark job — the probe
    // batch costs O(jobs)=2, not O(jobs)=2×|probes|
    val rows = TxLog.snapshotPrunedEqMulti(spark, t, "o_custkey",
      probes).map { case (k, frame, nRead, nTotal) =>
      frame.filter(col("o_custkey") === k) // blooms prune FILES, not rows
        .agg(count(lit(1)).as("n_orders"),
          coalesce(sum(col("cents")), lit(0L)).as("total_cents"))
        .select(lit(k).as("probe_custkey"), col("n_orders"),
          col("total_cents"), lit(nRead.toLong).as("n_files_read"),
          lit(nTotal.toLong).as("n_files_total"))
    }
    rows.reduce(_ unionByName _).orderBy(col("probe_custkey"))
  }

  val txlogBloomSkippingSql: String =
    """WITH t AS (SELECT o_orderkey % 8 AS bucket, o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |probes AS (
      |  SELECT (SELECT MIN(o_custkey) FROM t) + d AS k
      |  FROM (VALUES (0), (1), (2), (3)) v(d)
      |  UNION ALL SELECT MAX(o_custkey) + 1 FROM t),
      |b0 AS (SELECT MIN(o_custkey) AS lo, MAX(o_custkey) AS hi
      |       FROM t WHERE bucket = 0)
      |SELECT p.k AS probe_custkey,
      |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_orders,
      |  CAST(COALESCE(a.c, 0) AS BIGINT) AS total_cents,
      |  CAST((SELECT COUNT(DISTINCT bucket) FROM t, b0
      |        WHERE o_custkey = p.k
      |           OR (bucket = 0 AND p.k BETWEEN b0.lo AND b0.hi))
      |    AS BIGINT) AS n_files_read,
      |  CAST((SELECT COUNT(DISTINCT bucket) FROM t) AS BIGINT)
      |    AS n_files_total
      |FROM probes p
      |LEFT JOIN (SELECT o_custkey, COUNT(*) AS n, SUM(cents) AS c
      |           FROM t GROUP BY 1) a ON a.o_custkey = p.k
      |ORDER BY probe_custkey""".stripMargin

  // ---- S67: COPY INTO — idempotent bulk load ------------------------------

  private val copyDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** COPY INTO demo: a landing directory accumulates flat parquet files
    * (a, b at first; c arrives later). Run 1 loads a+b as one commit
    * whose `copy` ledger actions name both source files; run 2 finds
    * only c fresh and loads just it; run 3 finds nothing fresh and
    * commits NOTHING — the log ends at exactly two versions, which the
    * query exposes as a column. Built once per (JVM, corpus); all three
    * runs go through the statement form.
    */
  private[graft] def copyDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      copyDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "copyinto")
        val stage = demoDir(dir, "copystage")
        stage.mkdirs()
        val o = ordersCensus(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
        def stageFile(nm: String, f: org.apache.spark.sql.DataFrame)
            : Unit = {
          val target = new File(stage, nm)
          if (!target.exists()) {
            val tmp = new File(stage, s"_build_$nm")
            f.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
            val part = tmp.listFiles()
              .find(_.getName.endsWith(".parquet")).get
            java.nio.file.Files.move(part.toPath, target.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            def rm(x: File): Unit = {
              Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
              x.delete(); ()
            }
            rm(tmp)
          }
        }
        TxSql.register("copy_orders", t)
        val stmt = s"COPY INTO copy_orders FROM '${stage.getPath}' " +
          "FILEFORMAT = PARQUET"
        stageFile("a.parquet", o.filter(col("yr") <= 1994))
        stageFile("b.parquet", o.filter(col("yr").between(1995, 1996)))
        if (TxLog.versions(t).isEmpty) TxSql.sql(spark, stmt)   // v0: a+b
        stageFile("c.parquet", o.filter(col("yr") >= 1997))
        if (TxLog.versions(t).size < 2) TxSql.sql(spark, stmt)  // v1: c
        TxSql.sql(spark, stmt) // fully loaded: must commit nothing
        t
      })
    }

  /** txlog_copy_into (S67) — idempotent bulk load end to end: censuses
    * AS OF the initial load (files a+b) and at latest (after c landed),
    * plus the total commit count — which proves the third, fully-loaded
    * run committed nothing (two loads → exactly two versions). The
    * oracle recomputes both censuses from the raw slices and pins the
    * commit count as the by-construction constant.
    */
  def txlogCopyInto(spark: SparkSession, dir: String): DataFrame = {
    val t = copyDemo(spark, dir)
    val nCommits = TxLog.versions(t).size.toLong
    def census(v: Option[Long], tag: String): org.apache.spark.sql.DataFrame =
      TxLog.snapshot(spark, t, v)
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("total_cents"))
        .select(lit(tag).as("state"), col("yr"), col("n_orders"),
          col("total_cents"))
    census(Some(0L), "v0_initial_load")
      .unionByName(census(None, "v1_incremental"))
      .withColumn("n_commits", lit(nCommits))
      .orderBy(col("state"), col("yr"))
  }

  val txlogCopyIntoSql: String =
    """WITH t AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT * FROM (
      |  SELECT 'v0_initial_load' AS state, yr, COUNT(*) AS n_orders,
      |    CAST(SUM(cents) AS BIGINT) AS total_cents,
      |    CAST(2 AS BIGINT) AS n_commits
      |  FROM t WHERE yr <= 1996 GROUP BY yr
      |  UNION ALL
      |  SELECT 'v1_incremental', yr, COUNT(*),
      |    CAST(SUM(cents) AS BIGINT), CAST(2 AS BIGINT)
      |  FROM t GROUP BY yr
      |) ORDER BY state, yr""".stripMargin

  // ---- S68: row provenance (_commit_version) ------------------------------

  private val provDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Row-provenance demo: URGENT orders append one file per year in
    * ascending year order (version = year rank), then one UPDATE bumps
    * 1995's cents by +7 — rewriting ONLY that year's file, so its rows'
    * provenance moves to the update commit while every untouched year
    * keeps its original load version. Built once per (JVM, corpus).
    */
  private[graft] def provDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      provDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "prov")
        val o = ordersCensus(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
        val yrs = o.select(col("yr")).distinct()
          .collect().map(_.getLong(0)).sorted // ≤|years| driver rows
        yrs.zipWithIndex.foreach { case (y, i) =>
          if (TxLog.versions(t).size < i + 1)
            TxLog.append(o.filter(col("yr") === y).coalesce(1), t)
        }
        TxSql.register("prov_orders", t)
        if (TxLog.versions(t).size < yrs.length + 1)
          TxSql.sql(spark,
            "UPDATE prov_orders SET cents = cents + 7 WHERE yr = 1995")
        t
      })
    }

  /** txlog_row_provenance (S68) — the zero-cost provenance column end to
    * end: a census per (commit version, year) proves every year's rows
    * carry their loading commit EXCEPT the updated year, whose rows
    * carry the UPDATE's version (and its +7 cents) — the rewrite bumped
    * provenance for exactly the touched file. The oracle derives the
    * version map from year rank and the by-construction update version.
    */
  def txlogRowProvenance(spark: SparkSession, dir: String): DataFrame = {
    val t = provDemo(spark, dir)
    TxLog.snapshotWithProvenance(spark, t)
      .groupBy(col("_commit_version").as("commit_version"), col("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("total_cents"))
      .orderBy(col("commit_version"), col("yr"))
  }

  val txlogRowProvenanceSql: String =
    """WITH t0 AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |t AS (SELECT yr,
      |    CASE WHEN yr = 1995 THEN cents + 7 ELSE cents END AS cents
      |  FROM t0),
      |yrs AS (SELECT yr,
      |    CAST(dense_rank() OVER (ORDER BY yr) - 1 AS BIGINT) AS ver
      |  FROM (SELECT DISTINCT yr FROM t0)),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM yrs)
      |SELECT CASE WHEN t.yr = 1995 THEN n.cnt ELSE y.ver END
      |    AS commit_version,
      |  t.yr, COUNT(*) AS n_orders,
      |  CAST(SUM(t.cents) AS BIGINT) AS total_cents
      |FROM t JOIN yrs y ON y.yr = t.yr CROSS JOIN n
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- S69: MERGE WITH SCHEMA EVOLUTION -----------------------------------

  private val evoDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Schema-evolving MERGE demo: the URGENT orders census loads once,
    * then an enrichment batch carrying a column the table never declared
    * (`discount_ppm`, a deterministic function of the order key, 1995
    * only) lands through `MERGE WITH SCHEMA EVOLUTION` — ONE commit
    * whose metaData action evolves the schema and whose files carry the
    * merged data. Built once per (JVM, corpus).
    */
  private[graft] def evoDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      evoDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "mrgevo")
        val o = ordersCensus(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
        if (TxLog.versions(t).isEmpty) TxLog.append(o, t) // v0
        TxSql.register("evo_orders", t)
        if (TxLog.versions(t).size < 2) {
          o.filter(col("yr") === 1995)
            .select(col("o_orderkey"),
              (col("o_orderkey") % 1000).as("discount_ppm"))
            .createOrReplaceTempView("evo_src")
          TxSql.sql(spark,
            "MERGE WITH SCHEMA EVOLUTION INTO evo_orders AS t " +
              "USING evo_src AS s ON t.o_orderkey = s.o_orderkey " +
              "WHEN MATCHED THEN UPDATE SET discount_ppm = s.discount_ppm")
          spark.catalog.dropTempView("evo_src")
          ()
        }
        t
      })
    }

  /** txlog_merge_evolution (S69) — schema-evolving MERGE end to end: the
    * per-year census over the evolved table proves the new column landed
    * on exactly the matched year (count + sum of the deterministic
    * enrichment) and reads NULL everywhere else, with the whole
    * evolution riding the merge's own commit (the demo's log has exactly
    * two versions — spec-pinned).
    */
  def txlogMergeEvolution(spark: SparkSession, dir: String): DataFrame = {
    val t = evoDemo(spark, dir)
    TxLog.snapshot(spark, t)
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("total_cents"),
        count(col("discount_ppm")).as("n_scored"),
        coalesce(sum(col("discount_ppm")), lit(0L)).as("discount_sum"))
      .orderBy(col("yr"))
  }

  val txlogMergeEvolutionSql: String =
    """WITH t AS (SELECT o_orderkey,
      |    CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |e AS (SELECT yr, cents,
      |    CASE WHEN yr = 1995 THEN o_orderkey % 1000 END AS discount_ppm
      |  FROM t)
      |SELECT yr, COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(COUNT(discount_ppm) AS BIGINT) AS n_scored,
      |  CAST(COALESCE(SUM(discount_ppm), 0) AS BIGINT) AS discount_sum
      |FROM e GROUP BY yr ORDER BY yr""".stripMargin

  // ---- S70: type widening ---------------------------------------------------

  private val widenDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** Type-widening demo: the pre-1995 URGENT census lands with INT
    * cents (v0, narrow physical files), `ALTER COLUMN cents TYPE
    * BIGINT` re-declares the schema in one metadata commit (v1, zero
    * files rewritten), and the 1995+ slice appends with cents offset by
    * +3,000,000,000 — a value NO int32 file could hold (v2). Built once
    * per (JVM, corpus); the widen runs through the statement form.
    */
  private[graft] def widenDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      widenDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "widen")
        val o = ordersCensus(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("yr").cast("int").as("yr"), col("cents"))
        TxSql.register("widen_orders", t)
        if (TxLog.versions(t).isEmpty)                            // v0
          TxLog.append(o.filter(col("yr") <= 1994)
            .withColumn("cents", col("cents").cast("int")), t)
        if (TxLog.versions(t).size < 2)                           // v1
          TxSql.sql(spark,
            "ALTER TABLE widen_orders ALTER COLUMN cents TYPE BIGINT")
        if (TxLog.versions(t).size < 3)                           // v2
          TxLog.append(o.filter(col("yr") >= 1995)
            .withColumn("cents", col("cents") + 3000000000L), t)
        t
      })
    }

  /** txlog_type_widening (S70) — the metadata-only widen end to end: a
    * single census over narrow (int32) and wide (int64) files, where
    * every post-widen value EXCEEDS the int32 range — the hash-match
    * proves pre-widen files upcast losslessly under the evolved schema
    * and the wide values arrive intact, with zero files rewritten at
    * widen time (spec-pinned).
    */
  def txlogTypeWidening(spark: SparkSession, dir: String): DataFrame = {
    val t = widenDemo(spark, dir)
    TxLog.snapshot(spark, t)
      .groupBy(col("yr").cast("long").as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("total_cents"))
      .orderBy(col("yr"))
  }

  val txlogTypeWideningSql: String =
    """WITH t AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |e AS (SELECT yr,
      |    CASE WHEN yr >= 1995 THEN cents + 3000000000 ELSE cents END AS v
      |  FROM t)
      |SELECT yr, COUNT(*) AS n_orders, CAST(SUM(v) AS BIGINT)
      |    AS total_cents
      |FROM e GROUP BY yr ORDER BY yr""".stripMargin

  // ---- S71: CREATE TABLE / INSERT INTO statements ---------------------------

  private val insDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** CREATE/INSERT statement demo: an empty declared table is created
    * through the statement form, loaded by two positional
    * `INSERT INTO … SELECT` batches (pre-/post-1995 URGENT census
    * slices) and one `INSERT INTO … VALUES` sentinel row whose int
    * literals must land in the BIGINT columns positionally. Four
    * commits by construction. Built once per (JVM, corpus).
    */
  private[graft] def insDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      insDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "sqlins")
        val o = ordersCensus(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("yr"), col("cents"))
        if (TxLog.versions(t).isEmpty)                            // v0
          TxSql.sql(spark, s"CREATE TABLE ins_orders (yr BIGINT, " +
            s"cents BIGINT) USING graft LOCATION '${t.getPath}'")
        else TxSql.register("ins_orders", t)
        if (TxLog.versions(t).size < 2) {                         // v1
          o.filter(col("yr") <= 1994).createOrReplaceTempView("ins_src")
          TxSql.sql(spark,
            "INSERT INTO ins_orders SELECT yr, cents FROM ins_src")
          ()
        }
        if (TxLog.versions(t).size < 3) {                         // v2
          o.filter(col("yr") >= 1995).createOrReplaceTempView("ins_src")
          TxSql.sql(spark,
            "INSERT INTO ins_orders SELECT yr, cents FROM ins_src")
          ()
        }
        if (TxLog.versions(t).size < 4)                           // v3
          TxSql.sql(spark, "INSERT INTO ins_orders VALUES (9999, 123)")
        t
      })
    }

  /** sql_txlog_insert (S71) — the CREATE + INSERT statement lifecycle
    * end to end: the census over the statement-built table must equal
    * the raw recompute plus the VALUES sentinel, and the commit count
    * pins the four-statement history (create + 2 selects + values).
    */
  def sqlTxlogInsert(spark: SparkSession, dir: String): DataFrame = {
    val t = insDemo(spark, dir)
    val nCommits = TxLog.versions(t).size.toLong
    TxLog.snapshot(spark, t)
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("total_cents"))
      .withColumn("n_commits", lit(nCommits))
      .orderBy(col("yr"))
  }

  val sqlTxlogInsertSql: String =
    """WITH t AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL SELECT 9999, 123)
      |SELECT yr, COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(4 AS BIGINT) AS n_commits
      |FROM t GROUP BY yr ORDER BY yr""".stripMargin

  // ---- S72: IDENTITY columns ------------------------------------------------

  private val identDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** IDENTITY demo: a table created with `rid BIGINT GENERATED ALWAYS
    * AS IDENTITY` receives the URGENT census in two INSERT batches
    * (pre-/post-1995). The engine assigns rid = 1..N gap-free across
    * the two batches (per-partition offset allocation, the advanced
    * mark riding each data commit). Built once per (JVM, corpus).
    */
  private[graft] def identDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      identDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "ident")
        val o = ordersCensus(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("yr"), col("cents"))
        if (TxLog.versions(t).isEmpty)                            // v0
          TxSql.sql(spark, "CREATE TABLE ident_orders (rid BIGINT " +
            "GENERATED ALWAYS AS IDENTITY, yr BIGINT, cents BIGINT) " +
            s"USING graft LOCATION '${t.getPath}'")
        else TxSql.register("ident_orders", t)
        if (TxLog.versions(t).size < 2) {                         // v1
          o.filter(col("yr") <= 1994)
            .createOrReplaceTempView("ident_src")
          TxSql.sql(spark,
            "INSERT INTO ident_orders SELECT yr, cents FROM ident_src")
          ()
        }
        if (TxLog.versions(t).size < 3) {                         // v2
          o.filter(col("yr") >= 1995)
            .createOrReplaceTempView("ident_src")
          TxSql.sql(spark,
            "INSERT INTO ident_orders SELECT yr, cents FROM ident_src")
          ()
        }
        t
      })
    }

  /** txlog_identity (S72) — engine-assigned surrogate keys end to end:
    * the census carries PERMUTATION-INVARIANT identity invariants — the
    * assigned rid set must be EXACTLY {1..N} (count distinct, min, max,
    * and the arithmetic-series sum all pin it; which row got which id
    * is deliberately unasserted, the Delta contract) — plus the
    * ordinary per-year census proving the data landed intact.
    */
  def txlogIdentity(spark: SparkSession, dir: String): DataFrame = {
    val t = identDemo(spark, dir)
    val snap = TxLog.snapshot(spark, t)
    val inv = snap.agg(
      countDistinct(col("rid")).as("n_ids"),
      min(col("rid")).as("min_id"),
      max(col("rid")).as("max_id"),
      sum(col("rid")).as("sum_ids"))
    snap.groupBy(col("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("total_cents"))
      .crossJoin(broadcast(inv))
      .orderBy(col("yr"))
  }

  val txlogIdentitySql: String =
    """WITH t AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM t)
      |SELECT yr, COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  n.cnt AS n_ids, CAST(1 AS BIGINT) AS min_id, n.cnt AS max_id,
      |  CAST(n.cnt * (n.cnt + 1) // 2 AS BIGINT) AS sum_ids
      |FROM t CROSS JOIN n
      |GROUP BY yr, n.cnt ORDER BY yr""".stripMargin

  // ---- S75 cont.: SHOW CREATE TABLE as an oracle row ------------------------

  /** sql_show_create (S75 completion, r15) — the reconstructed
    * declaration parsed into (part, content) facts and hash-checked:
    * the column list, the format, and every TBLPROPERTIES declaration.
    * The data-derived piece that makes this a real oracle row (not a
    * constant echo): the bloom demo sizes its index bits from the
    * measured worst-file key occupancy, so the DuckDB twin RECOMPUTES
    * `bits = greatest(131072, 64 * max per-bucket distinct)` from raw
    * orders and the hash-match proves the statement surface reflects
    * the live, corpus-scaled spec — not a cached literal. LOCATION is
    * excluded (pid-scoped tmp path, meaningless to re-derive).
    */
  def sqlShowCreate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = bloomDemo(spark, dir)
    val stmt = TxSql.demoLock.synchronized {
      TxSql.register("bloom_orders", t)
      TxSql.sql(spark, "SHOW CREATE TABLE bloom_orders").head().getString(0)
    }
    val cols = stmt.substring(stmt.indexOf("(") + 1,
        stmt.indexOf(")\nUSING"))
      .split(",").map(_.trim).mkString(",")
    val using = "USING (\\S+)".r.findFirstMatchIn(stmt)
      .map(_.group(1)).getOrElse(sys.error("no USING clause"))
    val props = """'([^']+)' = '([^']+)'""".r.findAllMatchIn(stmt)
      .map(m => (m.group(1), m.group(2))).toSeq
    (Seq(("columns", cols), ("using", using)) ++ props)
      .toDF("part", "content").orderBy(col("part"), col("content"))
  }

  val sqlShowCreateSql: String =
    """WITH occ AS (SELECT CAST(GREATEST(131072, 64 * MAX(d)) AS BIGINT)
      |    AS bits
      |  FROM (SELECT o_orderkey % 8 AS bucket,
      |      COUNT(DISTINCT o_custkey) AS d
      |    FROM orders
      |    WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 8 <> 0
      |    GROUP BY 1))
      |SELECT part, content FROM (
      |  SELECT 'columns' AS part,
      |    'bucket BIGINT,o_custkey BIGINT,cents BIGINT' AS content
      |  UNION ALL SELECT 'using', 'graft'
      |  UNION ALL SELECT 'bloomindex.o_custkey',
      |    'bits=' || bits || ',k=3' FROM occ)
      |ORDER BY part, content""".stripMargin

  // ---- S75 cont.: VACUUM DRY RUN as an oracle row ---------------------------

  private val vacDone =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** sql_vacuum_dry_run (S75 completion, r15) — the reclaim PREVIEW as
    * a data-checked census: HIGH-priority orders land one file per
    * order year, one OPTIMIZE collapses them, and `VACUUM … RETAIN
    * VERSION <compact> DRY RUN` must preview EXACTLY the per-year
    * fragments (every pre-compact file is unreferenced at the retained
    * horizon) while touching nothing — the snapshot row count after the
    * preview proves non-destructiveness. The oracle recomputes both
    * numbers from raw orders: |distinct years| reclaimable fragments,
    * the full row count preserved. Built once per (JVM, corpus).
    */
  private[graft] def vacDemo(spark: SparkSession, dir: String): File =
    TxSql.demoLock.synchronized {
      vacDone.getOrElseUpdate(dir, {
        val t = demoDir(dir, "vacdry")
        val o = ordersCensus(spark, dir)
          .filter(col("o_orderpriority") === "2-HIGH")
        val yrs = o.select(col("yr")).distinct()
          .collect().map(_.getLong(0)).sorted // ≤|years| driver rows
        yrs.zipWithIndex.foreach { case (y, i) =>
          if (TxLog.versions(t).size < i + 1)
            TxLog.append(o.filter(col("yr") === y).coalesce(1), t)
        }
        if (TxLog.versions(t).size < yrs.length + 1)
          TxLog.compact(spark, t, targetFiles = 1)
        TxSql.register("vacdry_orders", t)
        t
      })
    }

  def sqlVacuumDryRun(spark: SparkSession, dir: String): DataFrame = {
    val t = vacDemo(spark, dir)
    val retain = TxLog.versions(t).last
    val preview = TxSql.demoLock.synchronized {
      // re-register per call: one JVM probing two corpora would
      // otherwise leave the name pointed at whichever built last
      // while the census reads the right table (r15 review)
      TxSql.register("vacdry_orders", t)
      TxSql.sql(spark,
        s"VACUUM vacdry_orders RETAIN VERSION $retain DRY RUN")
    }
    val nCandidates = preview.count()
    TxLog.snapshot(spark, t)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .select(lit(nCandidates).as("n_reclaimable_files"),
        col("n_rows"), col("total_cents"))
  }

  val sqlVacuumDryRunSql: String =
    """WITH t AS (SELECT year(o_orderdate) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority = '2-HIGH')
      |SELECT CAST(COUNT(DISTINCT yr) AS BIGINT) AS n_reclaimable_files,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM t""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("sql_show_create", sqlShowCreate, sqlShowCreateSql),
    Query("sql_vacuum_dry_run", sqlVacuumDryRun, sqlVacuumDryRunSql),
    Query("txlog_column_mapping", txlogColumnMapping, txlogColumnMappingSql),
    Query("sql_timestamp_travel", sqlTimestampTravel, sqlTimestampTravelSql),
    // the statement surface must equal the batch feed row-for-row
    Query("sql_table_changes", sqlTableChanges, TxLog.txlogChangefeedSql),
    Query("txlog_data_skipping", txlogDataSkipping, txlogDataSkippingSql),
    Query("txlog_dv_delete", txlogDvDelete, txlogDvDeleteSql),
    Query("txlog_restore", txlogRestore, txlogRestoreSql),
    Query("txlog_clone", txlogClone, txlogCloneSql),
    Query("txlog_partitioned", txlogPartitioned, txlogPartitionedSql),
    Query("txlog_show_partitions", txlogShowPartitions, txlogShowPartitionsSql),
    Query("txlog_constraints", txlogConstraints, txlogConstraintsSql),
    Query("txlog_add_column_default", txlogAddColumnDefault,
      txlogAddColumnDefaultSql),
    Query("txlog_generated_column", txlogGeneratedColumn,
      txlogGeneratedColumnSql),
    Query("txlog_bloom_skipping", txlogBloomSkipping, txlogBloomSkippingSql),
    Query("txlog_copy_into", txlogCopyInto, txlogCopyIntoSql),
    Query("txlog_row_provenance", txlogRowProvenance, txlogRowProvenanceSql),
    Query("txlog_merge_evolution", txlogMergeEvolution, txlogMergeEvolutionSql),
    Query("txlog_type_widening", txlogTypeWidening, txlogTypeWideningSql),
    Query("sql_txlog_insert", sqlTxlogInsert, sqlTxlogInsertSql),
    Query("txlog_identity", txlogIdentity, txlogIdentitySql),
    Query("txlog_cdc_apply", txlogCdcApply, graft.operators.Cdc.cdcApplySql))
}
