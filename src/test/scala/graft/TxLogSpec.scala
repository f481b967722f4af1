package graft

import org.apache.spark.sql.functions._
import graft.sources.TxLog

/** Transactional commit-log table format (S40): atomicity, optimistic
  * concurrency, snapshot isolation / time travel, file-pruned
  * copy-on-write delete, and ACID compaction — the properties the log
  * protocol claims, each driven directly.
  */
class TxLogSpec extends SparkSpec {

  private def freshTable(tag: String): java.io.File = {
    val f = java.nio.file.Files
      .createTempDirectory(s"graft_txspec_$tag").toFile
    f.deleteOnExit(); f
  }

  private def rows(n: Long, from: Long = 0L) = {
    import spark.implicits._
    (from until from + n).map(i => (i, s"v$i")).toDF("id", "payload")
  }

  /** Data (`d_*`) and DV sidecar (`dv_*`) groups under `t` that no commit
    * or checkpoint names — what a writer that lost its slot must not
    * leave behind. Group names are unique, so a text match on the log
    * decides.
    */
  private def unreferencedGroups(t: java.io.File): Seq[String] = {
    val log = Option(new java.io.File(t, "_graft_log").listFiles())
      .getOrElse(Array.empty).filter(_.isFile)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath)))
      .mkString("\n")
    Option(t.listFiles()).getOrElse(Array.empty).map(_.getName)
      .filter(n => n.startsWith("d_") || n.startsWith("dv_"))
      .filterNot(n => log.contains(s"\"$n/") || log.contains(s"\"$n\""))
      .toSeq.sorted
  }

  test("appends commit sequential versions and the snapshot unions them") {
    val t = freshTable("append")
    assert(TxLog.append(rows(10), t) == 0L)
    assert(TxLog.append(rows(5, 100), t) == 1L)
    assert(TxLog.versions(t) == Seq(0L, 1L))
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 15)
    assert(snap.agg(sum(col("id"))).head().getLong(0) ==
      (0L until 10L).sum + (100L until 105L).sum)
  }

  test("concurrent committers race losslessly (optimistic retry)") {
    val t = freshTable("race")
    TxLog.append(rows(1), t) // v0 so both racers contend for v1
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(4)
    val gate = new CountDownLatch(1)
    val fs = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          gate.await()
          // data files written OUTSIDE the commit race; only the log
          // rename contends — the protocol's intended critical section
          TxLog.append(rows(3, 1000L * i), t)
        }
      })
    }
    gate.countDown()
    val versions = fs.map(_.get()).sorted
    pool.shutdown()
    // all four landed, on four DISTINCT sequential versions
    assert(versions == Seq(1L, 2L, 3L, 4L), s"got $versions")
    assert(TxLog.snapshot(spark, t).count() == 1 + 4 * 3)
    assert(unreferencedGroups(t).isEmpty, unreferencedGroups(t))
  }

  test("commit primitive is create-if-absent under TIGHT contention: " +
      "no committed version is ever clobbered") {
    // r9 advice: rename(2) REPLACES an existing target, so an ATOMIC_MOVE
    // publish silently clobbers the race winner. This drives the raw
    // commit loop (no Spark writes to stagger threads) — 8 threads x 5
    // commits all racing the probe-publish window — and asserts every
    // commit survives with its body intact.
    val t = freshTable("tightrace")
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(8)
    val gate = new CountDownLatch(1)
    val fs = (0 until 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
        override def call(): Seq[Long] = {
          gate.await()
          (0 until 5).map(j => TxLog.commit(t,
            Seq((s"f_${i}_$j.parquet", 1L)), Seq.empty, s"op_${i}_$j"))
        }
      })
    }
    gate.countDown()
    val versions = fs.flatMap(_.get())
    pool.shutdown()
    assert(versions.sorted == (0L until 40L), s"lost commits: $versions")
    // every body survived: the op tags are all distinct and all present
    val ops = (0L until 40L).map(v => TxLog.readCommit(t, v).op)
    assert(ops.toSet.size == 40, s"clobbered commit bodies: $ops")
  }

  test("checkpoints bound snapshot resolution: a 25-commit log resolves " +
      "from <=1 checkpoint + <=10 action files") {
    val t = freshTable("ckpt")
    (0 until 25).foreach(i => TxLog.append(rows(2, 10L * i), t))
    // checkpoints landed every 10 commits
    assert(TxLog.checkpoints(t) == Seq(10L, 20L),
      s"checkpoints: ${TxLog.checkpoints(t)}")
    val TxLog.LiveState(live, _, base, replayed) = TxLog.liveState(t, 24L)
    assert(base == 20L && replayed <= 10,
      s"resolution read base=$base + $replayed commits")
    // checkpoint-based resolution is EXACT: same live set, same data
    assert(live.map(_.rows).sum == 50)
    assert(TxLog.snapshot(spark, t).count() == 50)
    // time travel BELOW the first checkpoint still replays correctly
    assert(TxLog.snapshot(spark, t, Some(4L)).count() == 10)
    // and a version between checkpoints uses the right base
    val TxLog.LiveState(_, _, base14, replayed14) = TxLog.liveState(t, 14L)
    assert(base14 == 10L && replayed14 <= 4)
  }

  test("multi-table commit is ATOMIC: every version sees both tables' " +
      "halves or neither, even under a 4-writer race") {
    val db = freshTable("txdb")
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(4)
    val gate = new CountDownLatch(1)
    val fs = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          gate.await()
          TxLog.dbAppend(db, Seq(
            "ta" -> rows(3, 100L * i),
            "tb" -> rows(2, 100L * i)))
        }
      })
    }
    gate.countDown()
    val versions = fs.map(_.get()).sorted
    pool.shutdown()
    assert(versions == Seq(0L, 1L, 2L, 3L), s"got $versions")
    // every commit object spans BOTH tables
    for (v <- versions) {
      val c = TxLog.readCommit(db, v)
      assert(c.adds.exists(_.path.startsWith("ta/")) &&
        c.adds.exists(_.path.startsWith("tb/")),
        s"commit $v is not cross-table: ${c.adds.map(_.path)}")
    }
    // a reader at ANY version sees consistent halves: 3 ta rows and 2 tb
    // rows per committed transaction, never a fraction
    for (v <- versions) {
      val ta = TxLog.dbSnapshot(spark, db, "ta", Some(v)).count()
      val tb = TxLog.dbSnapshot(spark, db, "tb", Some(v)).count()
      assert(ta == 3 * (v + 1) && tb == 2 * (v + 1),
        s"version $v tore a transaction: ta=$ta tb=$tb")
    }
  }

  test("snapshot isolation: a resolved reader never sees a later commit") {
    val t = freshTable("iso")
    TxLog.append(rows(10), t)
    val v0 = TxLog.snapshot(spark, t, Some(0L))
    TxLog.append(rows(10, 50), t)
    // the v0 frame re-collects identically after the new commit: it reads
    // the immutable files commit 0 referenced, not "the table"
    assert(v0.count() == 10)
    assert(TxLog.snapshot(spark, t).count() == 20)
  }

  test("copy-on-write delete rewrites ONLY the files holding matches") {
    val t = freshTable("delete")
    TxLog.append(rows(10).coalesce(1), t)        // file A: ids 0-9
    TxLog.append(rows(10, 100).coalesce(1), t)   // file B: ids 100-109
    val before = TxLog.snapshot(spark, t)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSet
    val v = TxLog.deleteWhere(spark, t, col("id") >= 100 && col("id") < 103)
    assert(v == 2L)
    val after = TxLog.snapshot(spark, t)
    assert(after.count() == 17)
    assert(after.filter(col("id") >= 100 && col("id") < 103).isEmpty)
    val afterFiles = after.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSet
    // file A (no matches) must survive BY REFERENCE — same physical file
    val fileA = before.find(_.contains("d_append"))
    assert(before.intersect(afterFiles).nonEmpty,
      s"untouched file was rewritten: before=$before after=$afterFiles $fileA")
    // deleting nothing commits nothing (idempotent re-run)
    assert(TxLog.deleteWhere(spark, t, col("id") === -1) == -1L)
    assert(TxLog.versions(t).last == 2L)
  }

  test("compaction preserves content, shrinks files, keeps history") {
    val t = freshTable("compact")
    (0 until 4).foreach(i => TxLog.append(rows(5, 10L * i).repartition(3), t))
    val preFiles = TxLog.snapshot(spark, t)
      .select(input_file_name()).distinct().count()
    val preSum = TxLog.snapshot(spark, t)
      .agg(sum(col("id"))).head().getLong(0)
    val v = TxLog.compact(spark, t, targetFiles = 2)
    val post = TxLog.snapshot(spark, t)
    val postFiles = post.select(input_file_name()).distinct().count()
    assert(postFiles <= 2 && postFiles < preFiles,
      s"compaction did not shrink: $preFiles -> $postFiles")
    assert(post.agg(sum(col("id"))).head().getLong(0) == preSum,
      "compaction changed the data")
    assert(post.count() == 20)
    // pre-compaction versions still time-travel from the original files
    assert(TxLog.snapshot(spark, t, Some(v - 1)).count() == 20)
    assert(TxLog.snapshot(spark, t, Some(0L)).count() == 5)
  }

  test("exactly-once streaming sink: replayed batches commit nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val t = freshTable("stream")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_txspec_ckpt").toFile.getAbsolutePath
    val input = MemoryStream[Long](spark)
    val q = TxLog.streamAppendQuery(
      input.toDF().select(col("value").as("id"),
        concat(lit("v"), col("value")).as("payload")),
      t, app = "spec", checkpointDir = ckpt)
    try {
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      input.addData(4L, 5L); q.processAllAvailable()
    } finally q.stop()
    assert(TxLog.snapshot(spark, t).count() == 5)
    val vBefore = TxLog.versions(t).last
    // the at-least-once boundary: the source rewinds past a committed
    // sink write and REPLAYS batch 0 — the txn ledger must refuse it
    val replayed = TxLog.exactlyOnceAppend(t, "spec", 0L,
      Seq((1L, "v1"), (2L, "v2"), (3L, "v3")).toDF("id", "payload"))
    assert(!replayed, "replayed batch was committed again")
    assert(TxLog.versions(t).last == vBefore, "replay minted a version")
    assert(TxLog.snapshot(spark, t).count() == 5, "replay duplicated rows")
    // a NEW batch id still lands, and a different app id is independent
    assert(TxLog.exactlyOnceAppend(t, "spec", 2L,
      Seq((6L, "v6")).toDF("id", "payload")))
    assert(TxLog.exactlyOnceAppend(t, "other", 0L,
      Seq((7L, "v7")).toDF("id", "payload")))
    assert(TxLog.snapshot(spark, t).count() == 7)
  }

  test("CDC apply: one atomic upsert/delete commit, file-pruned, " +
      "unmatched deletes no-op, exactly-once under streaming replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val t = freshTable("cdcapply")
    TxLog.append(rows(5).coalesce(1), t)        // ids 0-4
    TxLog.append(rows(5, 100).coalesce(1), t)   // ids 100-104
    val batch = Seq(
      (1L, "UPDATED", "upsert"),   // replace in file A
      (2L, null, "delete"),        // drop from file A
      (999L, "NEW", "upsert"),     // unmatched upsert = insert
      (888L, null, "delete"))      // unmatched delete = no-op
      .toDF("id", "payload", "_op")
    val v = TxLog.applyChanges(spark, t, batch, Seq("id"))
    assert(v == 2L)
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 10) // 10 - 1 delete + 1 insert
    assert(snap.filter(col("id") === 1).head().getString(1) == "UPDATED")
    assert(snap.filter(col("id") === 2).isEmpty)
    assert(snap.filter(col("id") === 999).count() == 1)
    // file-pruned: file B (ids 100-104, no batch keys) survived by
    // reference — its path is live in BOTH versions
    val liveBefore = TxLog.liveState(t, 1L).live.map(_.path).toSet
    val liveAfter = TxLog.liveState(t, 2L).live.map(_.path).toSet
    assert(liveBefore.intersect(liveAfter).nonEmpty,
      "untouched file was rewritten")
    // one ATOMIC merge-on-read commit: one add (the upserts), DVs on the
    // matched file A, and no data file removed
    val c = TxLog.readCommit(t, 2L)
    val fileA = TxLog.readCommit(t, 0L).adds.map(_.path)
    assert(c.op == "cdc-apply" && c.adds.size == 1 && c.removes.isEmpty &&
      c.dvs.map(_.path).distinct == fileA)
    // streaming form: exactly-once via the txn marker
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_txspec_cdcackpt").toFile.getAbsolutePath
    val input = MemoryStream[(Long, String, String)](spark)
    val q = TxLog.cdcApplyStreamQuery(
      input.toDF().toDF("id", "payload", "_op"), t, Seq("id"),
      app = "cdcspec", checkpointDir = ckpt)
    try {
      input.addData((3L, "S1", "upsert"), (100L, null, "delete"))
      q.processAllAvailable()
    } finally q.stop()
    assert(TxLog.snapshot(spark, t).count() == 9)
    assert(TxLog.snapshot(spark, t).filter(col("id") === 3)
      .head().getString(1) == "S1")
    val vBefore = TxLog.versions(t).last
    // a replayed batch id refuses atomically (returns -1, no version)
    assert(TxLog.applyChanges(spark, t,
      Seq((3L, "S1", "upsert")).toDF("id", "payload", "_op"), Seq("id"),
      Some("cdcspec"), 0L) == -1L)
    assert(TxLog.versions(t).last == vBefore, "replay minted a version")
    // malformed batches reject BEFORE any file writes: an unknown _op
    // would silently act as a delete, a duplicate key would land twice
    assert(intercept[Exception] {
      TxLog.applyChanges(spark, t,
        Seq((7L, "x", "UPSERT")).toDF("id", "payload", "_op"), Seq("id"))
    }.getMessage.contains("_op other than"))
    assert(intercept[Exception] {
      TxLog.applyChanges(spark, t,
        Seq((7L, "a", "upsert"), (7L, "b", "upsert"))
          .toDF("id", "payload", "_op"), Seq("id"))
    }.getMessage.contains("duplicate key"))
    // the change feed derives the apply's EXACT row-level delta (the
    // bag difference nets out rewritten-but-unchanged survivors): the
    // update surfaces as its delete+insert pair, the delete and the
    // insert as themselves
    val feed = TxLog.changeFeed(spark, t, 1L, 2L)
    assert(feed.filter(col("_change_type") === "insert").count() == 2)
    assert(feed.filter(col("_change_type") === "delete").count() == 2)
  }

  test("demo-table history replays to the registered query's state") {
    // the registered queries' table: 3 appends + file-pruned delete +
    // compact; the delete commit must have left the pre-1997 append
    // files untouched (pruning actually pruned)
    val t = TxLog.demoTable(spark, sfTiny)
    val vs = TxLog.versions(t)
    assert(vs.size == 5, s"expected 5 commits, got $vs")
    val latest = TxLog.snapshot(spark, t)
    assert(latest.filter(
      col("o_orderpriority") === "3-MEDIUM" && col("yr") === 1997).isEmpty)
    val preDelete = TxLog.snapshot(spark, t, Some(2L))
    assert(preDelete.count() > latest.count(),
      "delete removed nothing from the snapshot")
    // the deleted slice is exactly the difference
    val deleted = preDelete.filter(
      col("o_orderpriority") === "3-MEDIUM" && col("yr") === 1997).count()
    assert(preDelete.count() - latest.count() == deleted)
  }

  test("merge upserts in one commit and rewrites ONLY files holding " +
      "matched keys") {
    import spark.implicits._
    val t = freshTable("merge")
    TxLog.append(rows(10).coalesce(1), t)         // ids 0-9, ONE file A
    TxLog.append(rows(10, 100).coalesce(1), t)    // ids 100-109, ONE file B
    val preFiles = TxLog.snapshot(spark, t).inputFiles.toSet
    val groupB = TxLog.snapshot(spark, t).filter(col("id") >= 100)
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect().map(_.getString(0)).toSet
    // source touches only group A: update id=3, insert id=500
    val src = Seq((3L, "UPDATED"), (500L, "NEW")).toDF("id", "payload")
    val v = TxLog.merge(spark, t, src, Seq("id"))
    assert(v == 2L)
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 21)
    assert(snap.filter(col("id") === 3).select(col("payload"))
      .head().getString(0) == "UPDATED")
    assert(snap.filter(col("id") === 500).count() == 1)
    assert(snap.filter(col("id") === 4).select(col("payload"))
      .head().getString(0) == "v4", "unmatched target row disturbed")
    // file pruning: group B's files survive BY REFERENCE, group A's gone
    val postFiles = snap.inputFiles.toSet
    assert(groupB.subsetOf(postFiles),
      "merge rewrote files with no matched keys")
    assert((preFiles -- groupB).intersect(postFiles).isEmpty,
      "a file holding a matched key survived the copy-on-write rewrite")
    // no-match merge still inserts (affected file set empty)
    val v2 = TxLog.merge(spark, t,
      Seq((600L, "NEW2")).toDF("id", "payload"), Seq("id"))
    assert(v2 == 3L && TxLog.snapshot(spark, t).count() == 22)
  }

  test("changeFeed derives row-exact per-commit deltas; an update is a " +
      "delete+insert pair; compaction contributes nothing") {
    import spark.implicits._
    val t = freshTable("cdf")
    TxLog.append(rows(5), t)                        // v0: 5 inserts
    TxLog.deleteWhere(spark, t, col("id") < 2)      // v1: 2 deletes
    TxLog.merge(spark, t,                           // v2: 1 update, 1 insert
      Seq((4L, "POST"), (50L, "NEW")).toDF("id", "payload"), Seq("id"))
    TxLog.compact(spark, t, 1)                      // v3: data-preserving
    val cf = TxLog.changeFeed(spark, t, -1L, 3L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getString(3))).toSet
    val inserts0 = (0L until 5L).map(i => (0L, "insert", i, s"v$i")).toSet
    val deletes1 = Set((1L, "delete", 0L, "v0"), (1L, "delete", 1L, "v1"))
    val merge2 = Set((2L, "delete", 4L, "v4"), (2L, "insert", 4L, "POST"),
      (2L, "insert", 50L, "NEW"))
    assert(cf == inserts0 ++ deletes1 ++ merge2)
    // feed window covering only the compaction has no data changes
    intercept[IllegalArgumentException] {
      TxLog.changeFeed(spark, t, 2L, 3L)
    }
    // consistency: replaying the feed reproduces the final snapshot
    val replayed = cf.toSeq
      .groupBy(r => (r._3, r._4))
      .collect { case (row, evs)
        if evs.count(_._2 == "insert") > evs.count(_._2 == "delete") => row }
      .toSet
    val snap = TxLog.snapshot(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(replayed == snap)
  }

  test("history's metadata row counts equal time-travel snapshot counts " +
      "at every version") {
    // the invariant that makes DESCRIBE HISTORY trustworthy: the log's
    // add-action row bookkeeping must agree with the DATA at each version
    val t = TxLog.demoTable(spark, sfTiny)
    val hist = TxLog.txlogHistory(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    for (v <- TxLog.versions(t))
      assert(hist(v) == TxLog.snapshot(spark, t, Some(v)).count(),
        s"version $v: metadata count ${hist(v)} != data count")
    // deltas telescope back to the final count
    val rows = TxLog.txlogHistory(spark, sfTiny).collect()
    assert(rows.map(_.getLong(3)).sum == rows.last.getLong(2))
  }

  test("vacuum deletes unreferenced files past the horizon: latest still " +
      "reads, pre-horizon time travel stops") {
    val t = freshTable("vacuum")
    TxLog.append(rows(8), t)                        // v0
    TxLog.deleteWhere(spark, t, col("id") < 4)      // v1 rewrites
    TxLog.compact(spark, t, 1)                      // v2 rewrites again
    val doomed = TxLog.vacuum(t, retainFromVersion = 2L)
    assert(doomed.nonEmpty, "vacuum found nothing to delete")
    assert(TxLog.snapshot(spark, t).count() == 4)
    intercept[Exception] {
      TxLog.snapshot(spark, t, Some(0L)).count()
    }
    // idempotent: a second vacuum finds nothing
    assert(TxLog.vacuum(t, 2L).isEmpty)
  }

  test("TxSql: VERSION AS OF statements read exact versions, DESCRIBE " +
      "HISTORY serves metadata, unsupported shapes are rejected") {
    import graft.sources.TxSql
    val t = freshTable("txsql")
    TxLog.append(rows(10), t)          // v0
    TxLog.append(rows(5, 100), t)      // v1
    TxLog.deleteWhere(spark, t, col("id") >= 100)  // v2
    TxSql.register("ts_demo", t)
    // one statement, two travel specs
    val got = TxSql.sql(spark,
      """SELECT 'v1' AS v, COUNT(*) AS n FROM ts_demo VERSION AS OF 1
        |UNION ALL
        |SELECT 'v2', COUNT(*) FROM ts_demo VERSION AS OF 2
        |ORDER BY v""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("v1", 15L), ("v2", 10L)))
    // DESCRIBE HISTORY: version/op/rows/delta from metadata alone
    val hist = TxSql.sql(spark, "DESCRIBE HISTORY ts_demo")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(hist == Seq((0L, "append", 10L, 10L), (1L, "append", 15L, 5L),
      (2L, "delete", 10L, -5L)))
    // rejections carry the reason
    val e1 = intercept[Exception] {
      TxSql.sql(spark, "SELECT * FROM ts_demo TIMESTAMP AS OF '2024-01-01'")
    }
    assert(e1.getMessage.contains("TIMESTAMP AS OF"))
    val e2 = intercept[Exception] {
      TxSql.sql(spark, "SELECT * FROM nope VERSION AS OF 1")
    }
    assert(e2.getMessage.contains("not a registered"))
    val e3 = intercept[Exception] {
      TxSql.sql(spark, "SELECT 1")
    }
    assert(e3.getMessage.contains("no VERSION AS OF"))
  }

  test("OPTIMIZE ZORDER clusters files (a year predicate touches a strict " +
      "subset), preserves data, and the change feed skips it unread") {
    import graft.sources.TxSql
    val t = TxSql.zorderDemo(spark, sfTiny)   // key-ranged v0, zorder v1
    def filesTouched(v: Long): Long =
      TxLog.snapshot(spark, t, Some(v)).filter(col("yr") === 1997)
        .select(input_file_name()).distinct().count()
    val before = filesTouched(0L)
    val after = filesTouched(1L)
    assert(before == 8, s"key-ranged layout should scatter 1997 over all " +
      s"8 files, touched $before")
    assert(after < before,
      s"zorder should shrink the 1997 file set ($after >= $before)")
    // data-preserving: both versions serve identical censuses
    def census(v: Long) = TxLog.snapshot(spark, t, Some(v))
      .groupBy(col("yr")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(census(0L) == census(1L))
    // the feed never reads a data-preserving commit: only v0 contributes
    val feedVs = TxLog.changeFeed(spark, t, -1L, 1L)
      .select(col("_version")).distinct().collect().map(_.getLong(0)).toSet
    assert(feedVs == Set(0L), s"zorder commit leaked into the feed: $feedVs")
  }

  test("ALTER ADD COLUMNS on the log format: pre-alter files null-fill, " +
      "time travel serves the OLD schema, duplicates rejected") {
    import graft.sources.TxSql
    val t = TxSql.evoDemo(spark, sfTiny)   // v0 append, v1 alter, v2 append
    val latest = TxLog.snapshot(spark, t)
    assert(latest.schema.fieldNames.contains("flag"))
    // epoch split: every pre-alter row reads NULL, every post-alter row
    // carries a value
    assert(latest.filter(col("flag").isNull).count() ==
      TxLog.snapshot(spark, t, Some(0L)).count())
    assert(latest.filter(col("flag").isNotNull && col("flag") >= 7).isEmpty)
    // time travel BELOW the alter serves the pre-evolution schema
    val v0 = TxLog.snapshot(spark, t, Some(0L))
    assert(!v0.schema.fieldNames.contains("flag"),
      "v0 should not expose the evolved column")
    // the alter commit is metadata-only: history shows rows_delta 0
    val hist = TxSql.sql(spark, "DESCRIBE HISTORY evorders").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(hist.exists { case (v, op, d) => op == "alter" && d == 0L })
    // duplicate column rejected
    val e = intercept[Exception] {
      TxLog.alterAddColumns(spark, t, "flag BIGINT")
    }
    assert(e.getMessage.contains("already exist"))
    // schema ENFORCEMENT on a fresh table (never the shared demo — its
    // census backs an oracle row): a write carrying a column the
    // declared schema does not know is rejected with the remedy named
    // (a misspelled column would otherwise silently null-fill forever)
    val t2 = freshTable("enforce")
    TxLog.append(rows(5), t2)
    TxLog.alterAddColumns(spark, t2, "extra BIGINT")
    val e2 = incept(t2)
    assert(e2.getMessage.contains("extraa") &&
      e2.getMessage.contains("ALTER TABLE"))
    // missing declared columns stay legal (readers null-fill)
    TxLog.append(rows(2, 50), t2)
    assert(TxLog.snapshot(spark, t2).count() == 7)
  }

  private def incept(t2: java.io.File) =
    intercept[Exception] {
      TxLog.append(rows(1, 99).withColumn("extraa", col("id")), t2)
    }

  test("ALTER racing concurrent appends re-derives on a lost slot and " +
      "never duplicates the column") {
    val t = freshTable("alterrace")
    TxLog.append(rows(10), t)
    // 1 ALTER + 1 bloom-index declaration + 3 appends race: each
    // metadata commit must re-validate against whatever version actually
    // precedes its slot
    val threads = (0 until 5).map { i =>
      new Thread(() =>
        if (i == 0) { TxLog.alterAddColumns(spark, t, "extra BIGINT"); () }
        else if (i == 4) {
          TxLog.alterAddBloomIndex(spark, t, "id", bits = 1024); ()
        }
        else { TxLog.append(rows(5, 100L * (i + 1)), t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(TxLog.versions(t) == (0L to 5L),
      "race should land 6 sequential versions")
    // the declaration landed on its own version, and every append
    // derived from a base at or after it carries bitsets
    val ops = TxLog.versions(t).map(v => v -> TxLog.readCommit(t, v))
    val vb = ops.collect { case (v, c) if c.op == "bloom_index" => v }
    assert(vb.size == 1, s"ops: ${ops.map(_._2.op)}")
    ops.collect { case (v, c) if c.op == "append" && v > vb.head =>
      assert(c.adds.nonEmpty && c.adds.forall(_.blooms.contains("id")),
        s"append v$v after the bloom declaration lacks bitsets")
    }
    val snap = TxLog.snapshot(spark, t)
    assert(snap.schema.fieldNames.count(_ == "extra") == 1)
    assert(snap.count() == 25) // 10 + 3x5, every append survived
    assert(snap.filter(col("extra").isNull).count() == 25,
      "all pre-evolution files null-fill")
  }

  test("column mapping: RENAME/DROP are metadata-only, pre-alter versions " +
      "serve the OLD schema, re-ADD binds a fresh physical id and never " +
      "resurrects dropped data") {
    import graft.sources.TxFeatures
    val t = TxFeatures.mapDemo(spark, sfTiny)
    // v0/v1/v2/v3 alters were metadata-only commits (zero data actions)
    for (v <- Seq(1L, 2L, 3L)) {
      val c = TxLog.readCommit(t, v)
      assert(c.op == "alter" && c.adds.isEmpty && c.removes.isEmpty,
        s"alter commit $v touched data files")
    }
    // time travel below the rename serves the OLD schema with old data
    val v0 = TxLog.snapshot(spark, t, Some(0L))
    assert(v0.schema.fieldNames.toSeq == Seq(
      "o_orderkey", "o_orderpriority", "yr", "cents"))
    assert(v0.filter(col("yr").isNull).isEmpty, "v0 lost its yr data")
    // post-rename (v1): amount_cents serves the SAME data from the SAME
    // physical files — rename rewrote nothing
    val v1 = TxLog.snapshot(spark, t, Some(1L))
    assert(v1.schema.fieldNames.contains("amount_cents") &&
      !v1.schema.fieldNames.contains("cents"))
    assert(v1.agg(sum(col("amount_cents"))).head().getLong(0) ==
      v0.agg(sum(col("cents"))).head().getLong(0))
    assert(v1.inputFiles.toSet == v0.inputFiles.toSet,
      "a metadata-only rename changed the file set")
    // post-drop (v2): yr gone
    assert(!TxLog.snapshot(spark, t, Some(2L))
      .schema.fieldNames.contains("yr"))
    // post-re-add + append (v4): old rows' yr must be NULL even though
    // the pre-drop files still physically CONTAIN a yr column
    val latest = TxLog.snapshot(spark, t)
    val oldRows = v0.count()
    assert(latest.filter(col("yr").isNull).count() == oldRows,
      "dropped column data resurrected under the re-added name")
    assert(latest.filter(col("yr").isNotNull).count() ==
      latest.count() - oldRows)
    // the post-alter append wrote PHYSICAL names: raw footer of the v4
    // file shows `cents` (rename kept the physical id) and the fresh
    // `yr_c3` id — never the logical `amount_cents`/`yr`
    val v4adds = TxLog.readCommit(t, 4L).adds
    assert(v4adds.nonEmpty, "v4 should be the evolved-schema append")
    val rawNew = spark.read.parquet(
      new java.io.File(t, v4adds.head.path).getAbsolutePath)
    assert(rawNew.schema.fieldNames.contains("cents") &&
      rawNew.schema.fieldNames.contains("yr_c3") &&
      !rawNew.schema.fieldNames.contains("amount_cents"),
      s"physical write names wrong: ${rawNew.schema.fieldNames.toSeq}")
    // rejections: unknown column, duplicate target, last-column drop
    assert(intercept[Exception] {
      TxLog.alterRenameColumn(spark, t, "nope", "x")
    }.getMessage.contains("no such column"))
    assert(intercept[Exception] {
      TxLog.alterRenameColumn(spark, t, "yr", "amount_cents")
    }.getMessage.contains("already exists"))
    assert(intercept[Exception] {
      TxLog.alterDropColumn(spark, t, "nope")
    }.getMessage.contains("no such column"))
  }

  test("column mapping survives REWRITES: compact and merge on a mapped " +
      "table land physical names and keep serving logical reads") {
    import spark.implicits._
    val t = freshTable("maprewrite")
    TxLog.append(rows(10).coalesce(1), t)                  // id, payload
    TxLog.alterRenameColumn(spark, t, "payload", "body")   // v1: cm mode
    TxLog.append(Seq((100L, "n100")).toDF("id", "body"), t) // v2 physical
    TxLog.compact(spark, t, targetFiles = 1)               // v3 rewrite
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 11 &&
      snap.schema.fieldNames.toSeq == Seq("id", "body"))
    assert(snap.filter(col("id") === 3).head().getString(1) == "v3")
    // the compacted file carries the PHYSICAL name
    val rawC = spark.read.parquet(snap.inputFiles.head)
    assert(rawC.schema.fieldNames.contains("payload"),
      s"compaction lost the physical mapping: ${rawC.schema.fieldNames.toSeq}")
    // merge updates through the logical name
    TxLog.merge(spark, t, Seq((3L, "POST")).toDF("id", "body"), Seq("id"))
    val after = TxLog.snapshot(spark, t)
    assert(after.filter(col("id") === 3).head().getString(1) == "POST")
    assert(after.count() == 11)
    // copy-on-write delete through the logical predicate
    TxLog.deleteWhere(spark, t, col("body") === "n100")
    assert(TxLog.snapshot(spark, t).count() == 10)
  }

  test("TIMESTAMP AS OF binds greatest-stamp-<=-t: exact hit, " +
      "between-commits, before-first rejects, unstamped rejects") {
    import graft.sources.{TxSql => TS}
    val t = freshTable("tstravel")
    def ts(s: String) = Some(TS.parseTsMillis(s))
    TxLog.append(rows(5), t, ts("2024-01-01"))          // v0
    TxLog.append(rows(5, 100), t, ts("2024-02-01"))     // v1
    TxLog.append(rows(5, 200), t, ts("2024-03-01"))     // v2
    // exact stamp → that version; between stamps → the EARLIER one
    assert(TxLog.versionAt(t, TS.parseTsMillis("2024-02-01")) == 1L)
    assert(TxLog.versionAt(t, TS.parseTsMillis("2024-02-15")) == 1L)
    assert(TxLog.versionAt(t, TS.parseTsMillis("2030-01-01")) == 2L)
    assert(intercept[Exception] {
      TxLog.versionAt(t, TS.parseTsMillis("2023-12-31"))
    }.getMessage.contains("predates"))
    // the statement surface end to end
    TS.register("tst", t)
    val got = TS.sql(spark,
      "SELECT COUNT(*) AS n FROM tst TIMESTAMP AS OF '2024-02-15'")
      .head().getLong(0)
    assert(got == 10L)
    // a literal that IS a travel spec inside a string must pass through
    val lit = TS.sql(spark,
      """SELECT 'tst TIMESTAMP AS OF ''2024-02-15''' AS s, COUNT(*) AS n
        |FROM tst VERSION AS OF 0""".stripMargin).head()
    assert(lit.getString(0) == "tst TIMESTAMP AS OF '2024-02-15'" &&
      lit.getLong(1) == 5L)
    // unstamped tables reject with the remedy named
    val t2 = freshTable("nostamp")
    TxLog.append(rows(3), t2)
    TS.register("tst2", t2)
    assert(intercept[Exception] {
      TS.sql(spark, "SELECT * FROM tst2 TIMESTAMP AS OF '2024-01-01'")
    }.getMessage.contains("VERSION AS OF"))
  }

  test("data skipping prunes from LOG stats alone: strict file subset, " +
      "pruned files never enter the scan, no-stats columns keep all") {
    import graft.sources.TxFeatures
    val t = TxFeatures.skipDemo(spark, sfTiny)
    val all = TxLog.snapshot(spark, t)
    val total = all.inputFiles.length
    val (pruned, nRead, nTotal) =
      TxLog.snapshotPruned(spark, t, "yr", 1996L, 1997L)
    assert(nTotal == total && nRead < nTotal,
      s"prune did not shrink: $nRead of $nTotal")
    // the scan's actual file set IS the kept set — pruned files never
    // appear (zero reads of any kind for them)
    assert(pruned.inputFiles.length == nRead)
    assert(pruned.inputFiles.toSet.subsetOf(all.inputFiles.toSet))
    // row-exactness: pruned scan + row filter == full scan + row filter
    val want = all.filter(col("yr").between(1996, 1997)).count()
    assert(pruned.filter(col("yr").between(1996, 1997)).count() == want)
    assert(pruned.count() >= want) // files may hold out-of-range rows
    // a column with no recorded stats keeps every file (conservative)
    val (_, keptStr, _) =
      TxLog.snapshotPruned(spark, t, "o_orderpriority", 0L, 1L)
    assert(keptStr == total)
    // an impossible range keeps nothing and serves an EMPTY typed frame
    val (empty, zero, _) = TxLog.snapshotPruned(spark, t, "yr", 3000L, 3001L)
    assert(zero == 0 && empty.isEmpty &&
      empty.schema.fieldNames.contains("yr"))
  }

  test("per-file stats survive a checkpoint round-trip: pruning still " +
      "works when resolution reads the .ckpt, not the commits") {
    val t = freshTable("ckptstats")
    (0 until 12).foreach(i => TxLog.append(rows(3, 10L * i).coalesce(1), t))
    assert(TxLog.checkpoints(t).nonEmpty, "no checkpoint landed")
    val base = TxLog.liveState(t, 11L).base
    assert(base == 10L, "resolution should use the checkpoint")
    // prune on id: only the files whose [min,max] overlap [50,59]
    val (df, nRead, nTotal) = TxLog.snapshotPruned(spark, t, "id", 50L, 59L)
    assert(nTotal == 12 && nRead == 1, s"expected 1 of 12, got $nRead")
    assert(df.count() == 3)
  }

  test("table_changes statement rejects unknown tables, empty ranges, " +
      "and beyond-latest versions") {
    import graft.sources.TxSql
    val t = freshTable("tcrej")
    TxLog.append(rows(3), t)
    TxSql.register("tct", t)
    assert(intercept[Exception] {
      TxSql.sql(spark, "SELECT * FROM table_changes('ghost', 0, 1)")
    }.getMessage.contains("not a registered"))
    assert(intercept[Exception] {
      TxSql.sql(spark, "SELECT * FROM table_changes('tct', 2, 1)")
    }.getMessage.contains("range is empty"))
    assert(intercept[Exception] {
      TxSql.sql(spark, "SELECT * FROM table_changes('tct', 0, 99)")
    }.getMessage.contains("beyond the latest"))
    // the happy path through the statement
    val n = TxSql.sql(spark,
      "SELECT COUNT(*) AS n FROM table_changes('tct', 0, 0)")
      .head().getLong(0)
    assert(n == 3L)
  }

  test("deletion vectors: DV deletes rewrite ZERO data files, accumulate " +
      "across commits, time-travel correctly, and no-op on re-run") {
    val t = freshTable("dv")
    TxLog.append(rows(10).coalesce(1), t)                      // v0, file A
    TxLog.append(rows(10, 100).coalesce(1), t)                 // v1, file B
    val preFiles = TxLog.snapshot(spark, t).inputFiles.toSet
    val v2 = TxLog.deleteWhereDV(spark, t, col("id") < 3)      // 3 tombstones
    assert(v2 == 2L)
    // metadata-only at the data plane: the commit has NO add/remove
    val c2 = TxLog.readCommit(t, 2L)
    assert(c2.adds.isEmpty && c2.removes.isEmpty && c2.dvs.nonEmpty)
    assert(c2.dvs.map(_.rows).sum == 3)
    // the snapshot reads the SAME physical files, minus tombstoned rows
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 17)
    assert(snap.filter(col("id") < 3).isEmpty)
    // inputFiles also lists the sidecar scan (the anti-join's broadcast
    // side); the DATA files must be untouched
    assert(snap.inputFiles.filterNot(_.contains("/dv_")).toSet == preFiles,
      "a DV delete touched data files")
    // time travel BELOW the DV still serves the rows
    assert(TxLog.snapshot(spark, t, Some(1L)).count() == 20)
    // accumulation: a second DV on the OTHER file composes
    assert(TxLog.deleteWhereDV(spark, t, col("id") === 105) == 3L)
    assert(TxLog.snapshot(spark, t).count() == 16)
    assert(TxLog.snapshot(spark, t, Some(2L)).count() == 17)
    // re-deleting already-tombstoned rows is a no-op (no double-count)
    assert(TxLog.deleteWhereDV(spark, t, col("id") < 3) == -1L)
    assert(TxLog.versions(t).last == 3L)
    // history row counts subtract tombstones at every version
    assert(TxLog.liveState(t, 3L).rowCount == 16)
    assert(TxLog.liveState(t, 1L).rowCount == 20)
  }

  test("deletion vectors MATERIALIZE on rewrite: CoW delete and compaction " +
      "on DV-attached files never resurrect tombstoned rows") {
    import spark.implicits._
    val t = freshTable("dvmat")
    TxLog.append(rows(10).coalesce(1), t)                      // v0
    TxLog.deleteWhereDV(spark, t, col("id") < 2)               // v1: DV {0,1}
    // CoW delete on the SAME file: must apply the DV when rewriting
    TxLog.deleteWhere(spark, t, col("id") === 5)               // v2 rewrite
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 7, s"resurrected tombstones: ${snap.count()}")
    assert(snap.filter(col("id") < 2).isEmpty)
    // the rewrite dropped the DV attachment (file replaced)
    assert(TxLog.liveState(t, 2L).dvs.isEmpty)
    // merge on a DV-attached file likewise
    val t2 = freshTable("dvmerge")
    TxLog.append(rows(10).coalesce(1), t2)
    TxLog.deleteWhereDV(spark, t2, col("id") === 0)
    TxLog.merge(spark, t2, Seq((3L, "POST")).toDF("id", "payload"),
      Seq("id"))
    val snap2 = TxLog.snapshot(spark, t2)
    assert(snap2.count() == 9 && snap2.filter(col("id") === 0).isEmpty)
    assert(snap2.filter(col("id") === 3).head().getString(1) == "POST")
    // compaction materializes: post-compact RAW file rows == logical rows
    val t3 = freshTable("dvcompact")
    TxLog.append(rows(10).coalesce(1), t3)
    TxLog.deleteWhereDV(spark, t3, col("id") < 4)
    TxLog.compact(spark, t3, targetFiles = 1)
    val post = TxLog.snapshot(spark, t3)
    assert(post.count() == 6)
    assert(spark.read.parquet(post.inputFiles: _*).count() == 6,
      "compaction kept tombstoned rows in the physical rewrite")
    assert(TxLog.liveState(t3, TxLog.versions(t3).last).dvs.isEmpty)
  }

  test("change feed with deletion vectors: DV commits surface exact " +
      "tombstoned rows as deletes; a later CoW rewrite never double-deletes") {
    val t = freshTable("dvfeed")
    TxLog.append(rows(6).coalesce(1), t)                       // v0
    TxLog.deleteWhereDV(spark, t, col("id") < 2)               // v1: DV {0,1}
    TxLog.deleteWhere(spark, t, col("id") === 4)               // v2: CoW rewrite
    TxLog.compact(spark, t, 1)                                 // v3: preserving
    val cf = TxLog.changeFeed(spark, t, -1L, 3L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getString(3))).toSet
    val inserts0 = (0L until 6L).map(i => (0L, "insert", i, s"v$i")).toSet
    val dvDeletes1 = Set((1L, "delete", 0L, "v0"), (1L, "delete", 1L, "v1"))
    val cowDeletes2 = Set((2L, "delete", 4L, "v4")) // NOT ids 0/1 again
    assert(cf == inserts0 ++ dvDeletes1 ++ cowDeletes2,
      s"feed mismatch: $cf")
    // replaying the feed reproduces the final snapshot
    val replayed = cf.toSeq.groupBy(r => (r._3, r._4))
      .collect { case (row, evs)
        if evs.count(_._2 == "insert") > evs.count(_._2 == "delete") => row }
      .toSet
    val snap = TxLog.snapshot(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(replayed == snap)
    // the STREAMED feed converts through the same path: drain and compare
    val base = java.nio.file.Files.createTempDirectory("graft_dvcf").toFile
    TxLog.runChangeFeedStream(spark, t,
      new java.io.File(base, "feed"), new java.io.File(base, "ckpt"))
    val streamed = spark.read
      .parquet(new java.io.File(base, "feed").getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getString(3))).toSet
    assert(streamed == cf, "streamed feed diverged from batch feed")
  }

  test("RESTORE re-references a historical version exactly, is rejected " +
      "across a DV divergence and past the vacuum horizon") {
    import graft.sources.TxSql
    val t = freshTable("restore")
    TxLog.append(rows(10).coalesce(1), t)            // v0
    TxLog.append(rows(5, 100).coalesce(1), t)        // v1
    TxLog.deleteWhere(spark, t, col("id") >= 100)    // v2 drops the append
    val v3 = TxLog.restore(spark, t, 1L)
    assert(v3 == 3L)
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 15, "restore did not resurrect the deleted rows")
    // file re-referencing, not copying: v3's files are exactly v1's
    assert(snap.inputFiles.toSet ==
      TxLog.snapshot(spark, t, Some(1L)).inputFiles.toSet)
    // restore-to-latest is a no-op (no new commit)
    assert(TxLog.restore(spark, t, 3L) == 3L)
    assert(TxLog.versions(t).last == 3L)
    // the restore's feed delta is exactly the resurrected slice
    val cf = TxLog.changeFeed(spark, t, 2L, 3L)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    assert(cf == (100L until 105L).map(i => ("insert", i)).toSet)
    // DV divergence on a co-live file rejects with the remedy named
    TxLog.deleteWhereDV(spark, t, col("id") === 0)   // v4
    val e = intercept[Exception] { TxLog.restore(spark, t, 3L) }
    assert(e.getMessage.contains("compact first"))
    // vacuumed target rejects
    val t2 = freshTable("restorevac")
    TxLog.append(rows(4).coalesce(1), t2)            // v0
    TxLog.compact(spark, t2, 1)                      // v1 replaces v0's file
    TxLog.vacuum(t2, retainFromVersion = 1L)
    val e2 = intercept[Exception] { TxLog.restore(spark, t2, 0L) }
    assert(e2.getMessage.contains("vacuum horizon"))
    // statement surface
    TxSql.register("rst", t2)
    val row = TxSql.sql(spark, "RESTORE TABLE rst TO VERSION AS OF 1")
      .head()
    assert(row.getString(1) == "restore to 1")
  }

  test("vacuum reclaims DV sidecars past the horizon") {
    val t = freshTable("dvvac")
    TxLog.append(rows(8).coalesce(1), t)             // v0
    TxLog.deleteWhereDV(spark, t, col("id") < 3)     // v1: sidecar
    TxLog.compact(spark, t, 1)                       // v2 materializes
    val dvDirs = TxLog.readCommit(t, 1L).dvs.map(_.dvPath).distinct
    assert(dvDirs.forall(dp => new java.io.File(t, dp).exists()))
    val deleted = TxLog.vacuum(t, retainFromVersion = 2L)
    assert(dvDirs.forall(deleted.contains),
      s"sidecars not reclaimed: $deleted")
    assert(dvDirs.forall(dp => !new java.io.File(t, dp).exists()))
    assert(TxLog.snapshot(spark, t).count() == 5)
    // idempotent
    assert(TxLog.vacuum(t, 2L).isEmpty)
  }

  /** Files under `t` outside the log that a vacuum at `horizon` should
    * have left nothing of: every file that is not retained — live at a
    * version ≥ `horizon`, a change-data file of one, or inside a
    * retained DV sidecar group — nor the checksum or `_SUCCESS` marker
    * (and its checksum) of a directory that holds a retained file.
    */
  private def strays(t: java.io.File, horizon: Long): Seq[String] = {
    val vs = TxLog.versions(t).filter(_ >= horizon)
    val states = vs.map(TxLog.liveState(t, _))
    val retained = (states.flatMap(_.live.map(_.path)) ++
      vs.flatMap(TxLog.readCommit(t, _).cdc.map(_.path))).toSet
    val sidecars = states.flatMap(
      _.dvs.values.flatten.filterNot(_.inline).map(_.dvPath)).toSet
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f))
    walk(t).map(f => t.toPath.relativize(f.toPath).toString)
      .filterNot(_.startsWith("_graft_log/"))
      .filterNot { rel =>
        val dir = Option(new java.io.File(rel).getParent).getOrElse("")
        val name = new java.io.File(rel).getName
        val of = if (name.startsWith(".") && name.endsWith(".crc"))
          name.drop(1).dropRight(4) else name
        retained(if (dir.isEmpty) of else s"$dir/$of") ||
          sidecars.exists(g => rel.startsWith(s"$g/")) ||
          (of == "_SUCCESS" && retained.exists(_.startsWith(s"$dir/")))
      }.sorted
  }

  test("vacuum leaves only retained files, their checksums and their " +
      "groups' markers: no orphaned .crc, _SUCCESS or empty group") {
    import spark.implicits._
    // two appends, then compact: both append groups empty out
    val t = freshTable("vacstray")
    TxLog.append(rows(5), t)
    TxLog.append(rows(5, 5), t)
    val appended = TxLog.liveState(t, 1L).live.map(_.path)
    val vc = TxLog.compact(spark, t, 1)
    assert(TxLog.vacuum(t, vc).sorted == appended.sorted)
    assert(strays(t, vc).isEmpty, strays(t, vc))
    assert(appended.map(_.takeWhile(_ != '/')).distinct
      .forall(g => !new java.io.File(t, g).exists()))
    assert(TxLog.snapshot(spark, t).count() == 10)
    // partitioned: the partition dirs inside a group empty out too
    val p = freshTable("vacstray_part")
    TxLog.createPartitioned(rows(6).withColumn("k", col("id") % 2), p,
      Seq("k"))
    TxLog.append(rows(4, 10).withColumn("k", col("id") % 2), p)
    val vp = TxLog.compact(spark, p, 1)
    assert(TxLog.vacuum(p, vp).nonEmpty)
    assert(strays(p, vp).isEmpty, strays(p, vp))
    assert(TxLog.snapshot(spark, p).count() == 10)
    // a CDC apply tail: a driver-written sidecar and change-data files
    // below the horizon go, the retained tail commit stays
    val c = freshTable("vacstray_cdc")
    TxLog.createEmpty(c, "id BIGINT, payload STRING")
    TxLog.append(rows(600).coalesce(1), c)
    val side = TxLog.applyChanges(spark, c, (0L until 300L)
      .map(i => (i, s"u$i", "upsert")).toDF("id", "payload", "_op"), Seq("id"))
    assert(TxLog.readCommit(c, side).dvs.exists(!_.inline))
    TxLog.deleteWhereDV(spark, c, col("id") >= 590)
    val h = TxLog.compact(spark, c, 1)
    TxLog.applyChanges(spark, c, Seq((1L, "w1", "upsert"),
      (2L, null, "delete")).toDF("id", "payload", "_op"), Seq("id"))
    assert(TxLog.vacuum(c, h).nonEmpty)
    assert(strays(c, h).isEmpty, strays(c, h))
    assert(TxLog.snapshot(spark, c).count() == 589)
  }

  test("DV attachments survive a checkpoint round-trip") {
    val t = freshTable("dvckpt")
    TxLog.append(rows(100).coalesce(1), t)           // v0
    TxLog.deleteWhereDV(spark, t, col("id") < 10)    // v1
    (0 until 10).foreach(i => TxLog.append(rows(2, 1000L * (i + 1)), t))
    // a checkpoint landed at v10; resolution uses it
    val st = TxLog.liveState(t, TxLog.versions(t).last)
    assert(st.base >= 10L, s"no checkpoint base: ${st.base}")
    assert(st.dvs.nonEmpty, "DV attachment lost through the checkpoint")
    assert(TxLog.snapshot(spark, t).count() == 90 + 20)
    assert(st.rowCount == 110)
  }

  test("shallow clone: zero-copy fork, isolated divergence, DML rejected " +
      "until compact localizes, vacuum never crosses into the source") {
    import spark.implicits._
    val src = freshTable("clonesrc")
    val tgt = freshTable("clonetgt")
    TxLog.append(rows(10).coalesce(1), src)
    TxLog.deleteWhereDV(spark, src, col("id") === 9) // DV travels with clone
    val v = TxLog.cloneShallow(spark, src, tgt)
    assert(v == 0L)
    // zero-copy: the clone commit wrote NO data files of its own
    val ownDirs = Option(tgt.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != "_graft_log")
    assert(ownDirs.isEmpty, s"clone copied data: ${ownDirs.toSeq}")
    // the clone serves the source's state INCLUDING the DV
    assert(TxLog.snapshot(spark, tgt).count() == 9)
    // divergence is isolated both ways
    TxLog.append(rows(5, 100).coalesce(1), tgt)
    TxLog.append(rows(3, 500).coalesce(1), src)
    assert(TxLog.snapshot(spark, tgt).count() == 14)
    assert(TxLog.snapshot(spark, src).count() == 12)
    // file-identity DML rejects with the remedy while refs are external
    val e = intercept[Exception] {
      TxLog.deleteWhere(spark, tgt, col("id") === 1)
    }
    assert(e.getMessage.contains("compact to localize"))
    assert(intercept[Exception] {
      TxLog.deleteWhereDV(spark, tgt, col("id") === 1)
    }.getMessage.contains("compact to localize"))
    assert(intercept[Exception] {
      TxLog.merge(spark, tgt, Seq((1L, "X")).toDF("id", "payload"),
        Seq("id"))
    }.getMessage.contains("compact to localize"))
    // compact LOCALIZES: all live files now clone-owned, DML unblocked
    TxLog.compact(spark, tgt, targetFiles = 1)
    assert(TxLog.liveState(tgt, TxLog.versions(tgt).last)
      .live.forall(!_.path.startsWith("..")))
    assert(TxLog.deleteWhere(spark, tgt, col("id") === 1) > 0)
    assert(TxLog.snapshot(spark, tgt).count() == 13)
    // the clone's vacuum reclaims only its OWN dead files — the source's
    // files (externally referenced by pre-compact clone versions) survive
    val deleted = TxLog.vacuum(tgt, TxLog.versions(tgt).last)
    assert(deleted.forall(!_.startsWith("..")),
      s"clone vacuum crossed into the source: $deleted")
    assert(TxLog.snapshot(spark, src).count() == 12, "source corrupted")
    // cloning onto an existing log rejects
    assert(intercept[Exception] {
      TxLog.cloneShallow(spark, src, tgt)
    }.getMessage.contains("already has a log"))
  }

  test("partitioned table: layout-carried paths, driver-side pruning, " +
      "dynamic partition overwrite, layout-preserving rewrites, DV " +
      "binding, and the immutability rejections") {
    import spark.implicits._
    val t = freshTable("part")
    val df = (0L until 40L).map(i => (i, i % 4, s"p${i % 2}"))
      .toDF("id", "yr", "pri")
    TxLog.createPartitioned(df.repartition(1), t, Seq("yr"))
    // every committed path carries the Hive-style _p_ segment, and the
    // partition column is ALSO in the data (self-contained reads)
    val live0 = TxLog.liveState(t, 0L).live
    assert(live0.size == 4)
    assert(live0.forall(_.path.contains("_p_yr=")))
    // per-file bookkeeping binds to the RIGHT file despite every
    // partition dir holding the same part filename: each year has
    // exactly 10 rows, and id stats must span that year's ids only
    assert(live0.forall(_.rows == 10), live0.map(a => a.path -> a.rows))
    live0.foreach { a =>
      val yr = a.path.split('/').collectFirst {
        case s if s.startsWith("_p_yr=") => s.stripPrefix("_p_yr=").toLong
      }.get
      val (lo, hi) = a.stats("id")
      assert(lo == yr && hi == 36 + yr, s"${a.path}: stats ($lo,$hi)")
    }
    assert(TxLog.snapshot(spark, t).columns.toSeq ==
      Seq("id", "yr", "pri"))
    assert(TxLog.snapshot(spark, t).count() == 40)
    // plain append preserves the declared layout automatically
    TxLog.append(Seq((100L, 1L, "p0"), (101L, 2L, "p1"))
      .toDF("id", "yr", "pri").repartition(1), t)
    assert(TxLog.liveState(t, 1L).live.size == 6)
    // driver-side pruning: exact file accounting, zero reads for pruned
    val (pruned, kept, dropped) = TxLog.snapshotPartitionPruned(spark, t,
      pv => pv.get("yr").contains("1"))
    assert((kept, dropped) == (2, 4))
    assert(pruned.count() == 11) // 10 original yr=1 rows + 1 appended
    // dynamic partition overwrite: ONLY yr=1 files drop, the rest
    // survive by file identity
    val before = TxLog.liveState(t, 1L).live.map(_.path).toSet
    TxLog.overwritePartitions(spark, t,
      Seq((500L, 1L, "pX")).toDF("id", "yr", "pri"))
    val after = TxLog.liveState(t, 2L).live.map(_.path).toSet
    assert((before -- after).forall(_.contains("_p_yr=1")))
    assert((before -- after).size == 2)
    assert(TxLog.snapshot(spark, t).filter(col("yr") === 1).count() == 1)
    assert(TxLog.snapshot(spark, t).count() == 32)
    // the change feed derives the overwrite like any commit
    val feed = TxLog.changeFeed(spark, t, 1L, 2L)
    assert(feed.filter(col("_change_type") === "delete").count() == 11)
    assert(feed.filter(col("_change_type") === "insert").count() == 1)
    // DV tombstones bind under partition layouts (the same-basename-
    // across-partition-dirs hazard the suffix key exists for)
    TxLog.deleteWhereDV(spark, t, col("yr") === 0 && col("pri") === "p0")
    assert(TxLog.snapshot(spark, t).count() == 22)
    assert(TxLog.snapshot(spark, t).filter(col("yr") === 2).count() == 11,
      "DV leaked into sibling partitions")
    // compact preserves the layout and the pruning keeps working
    TxLog.compact(spark, t, targetFiles = 2)
    val liveC = TxLog.liveState(t, TxLog.versions(t).last).live
    assert(liveC.forall(_.path.contains("_p_yr=")))
    val (pc, keptC, _) = TxLog.snapshotPartitionPruned(spark, t,
      pv => pv.get("yr").contains("2"))
    assert(pc.count() == 11 && keptC < liveC.size)
    assert(TxLog.snapshot(spark, t).count() == 22)
    // a shallow clone inherits the partition declaration
    val c = freshTable("partclone")
    TxLog.cloneShallow(spark, t, c)
    assert(TxLog.partitionColsOf(c) == Seq("yr"))
    // immutability: partition columns cannot be renamed or dropped, a
    // second declaration on an existing log rejects, overwrite on an
    // unpartitioned table rejects
    assert(intercept[Exception] {
      TxLog.alterRenameColumn(spark, t, "yr", "year")
    }.getMessage.contains("partition column"))
    assert(intercept[Exception] {
      TxLog.alterDropColumn(spark, t, "yr")
    }.getMessage.contains("partition column"))
    assert(intercept[Exception] {
      TxLog.createPartitioned(df, t, Seq("pri"))
    }.getMessage.contains("already has a log"))
    val u = freshTable("unpart")
    TxLog.append(rows(3), u)
    assert(intercept[Exception] {
      TxLog.overwritePartitions(spark, u, rows(1))
    }.getMessage.contains("not partitioned"))
  }

  test("VACUUM statement deletes past the horizon and re-runs as a no-op") {
    import graft.sources.TxSql
    val t = freshTable("vacsql")
    TxLog.append(rows(10), t)                       // v0
    TxLog.append(rows(5, 100), t)                   // v1
    TxLog.compact(spark, t, targetFiles = 1)        // v2 (replaces v0/v1 files)
    TxSql.register("vac_demo", t)
    val first = TxSql.sql(spark, "VACUUM vac_demo RETAIN VERSION 2")
      .collect()(0).getLong(2)
    assert(first > 0, "vacuum should delete the pre-compact fragments")
    assert(TxLog.snapshot(spark, t).count() == 15)  // latest still serves
    intercept[Exception] { TxLog.snapshot(spark, t, Some(0L)).count() }
    val again = TxSql.sql(spark, "VACUUM vac_demo RETAIN VERSION 2")
      .collect()(0).getLong(2)
    assert(again == 0, "a vacuum re-run must find nothing")
  }

  test("snapshot-rewrite writers are compare-and-commit: two racing " +
      "deletes on the SAME file never duplicate its survivors") {
    val t = freshTable("delrace")
    TxLog.append(rows(10).coalesce(1), t)       // one file: ids 0-9
    TxLog.append(rows(10, 100).coalesce(1), t)  // second file: 100-109
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val fs = Seq(0L, 1L).map { id =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          gate.await()
          // both target the SAME file — the loser must re-derive from
          // the winner's commit, not blind-publish its stale rewrite
          // (which would re-add the winner's deleted row AND double the
          // shared survivors)
          TxLog.deleteWhere(spark, t, col("id") === id)
        }
      })
    }
    gate.countDown()
    val versions = fs.map(_.get()).sorted
    pool.shutdown()
    assert(versions == Seq(2L, 3L), s"got $versions")
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 18, "a stale rewrite duplicated survivors")
    assert(snap.select(col("id")).distinct().count() == 18)
    assert(snap.filter(col("id") < 2).isEmpty)
    assert(unreferencedGroups(t).isEmpty, unreferencedGroups(t))
  }

  test("MERGE racing MERGE on disjoint keys: both land, the loser " +
      "re-derives off the winner's commit, no row lost or doubled") {
    import spark.implicits._
    val t = freshTable("mergerace")
    TxLog.append(rows(10).coalesce(1), t)       // file A: ids 0-9
    TxLog.append(rows(10, 100).coalesce(1), t)  // file B: ids 100-109
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    // disjoint keys in DIFFERENT files: thread 0 updates id 1 + inserts
    // 50; thread 1 updates id 101 + inserts 60. A stale blind publish
    // would clobber the other merge's rewrite of its file.
    val fs = Seq((1L, 50L), (101L, 60L)).map { case (upd, ins) =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          gate.await()
          TxLog.merge(spark, t,
            Seq((upd, s"upd_$upd"), (ins, s"ins_$ins"))
              .toDF("id", "payload"), Seq("id"))
        }
      })
    }
    gate.countDown()
    val versions = fs.map(_.get()).sorted
    pool.shutdown()
    assert(versions == Seq(2L, 3L), s"got $versions")
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 22, "a stale merge rewrite lost/doubled rows")
    assert(snap.select(col("id")).distinct().count() == 22)
    // BOTH merges' effects present — neither clobbered the other
    assert(snap.filter(col("id") === 1L).head.getString(1) == "upd_1")
    assert(snap.filter(col("id") === 101L).head.getString(1) == "upd_101")
    assert(snap.filter(col("id").isin(50L, 60L)).count() == 2)
    assert(unreferencedGroups(t).isEmpty, unreferencedGroups(t))
  }

  test("MERGE racing OPTIMIZE: the file-identity conflict forces the " +
      "loser to re-derive; content is exact after both commit") {
    import spark.implicits._
    val t = freshTable("mergeopt")
    TxLog.append(rows(10).coalesce(1), t)       // v0: ids 0-9
    TxLog.append(rows(10, 100).coalesce(1), t)  // v1: ids 100-109
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    // OPTIMIZE rewrites EVERY live file; the merge rewrites the file
    // holding id 1 — whichever publishes second sees its base gone and
    // must re-derive (a blind publish would resurrect pre-merge rows or
    // drop the compaction)
    val fMerge = pool.submit(new java.util.concurrent.Callable[Long] {
      override def call(): Long = {
        gate.await()
        TxLog.merge(spark, t,
          Seq((1L, "merged"), (200L, "fresh")).toDF("id", "payload"),
          Seq("id"))
      }
    })
    val fOpt = pool.submit(new java.util.concurrent.Callable[Long] {
      override def call(): Long = {
        gate.await()
        TxLog.compact(spark, t, targetFiles = 1)
      }
    })
    gate.countDown()
    val versions = Seq(fMerge.get(), fOpt.get()).sorted
    pool.shutdown()
    assert(versions == Seq(2L, 3L), s"got $versions")
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 21, "merge-vs-optimize race lost/doubled rows")
    assert(snap.select(col("id")).distinct().count() == 21)
    assert(snap.filter(col("id") === 1L).head.getString(1) == "merged")
    assert(snap.filter(col("id") === 200L).count() == 1)
    assert(unreferencedGroups(t).isEmpty, unreferencedGroups(t))
  }

  test("compaction racing a marked CDC apply tail on hot keys: both " +
      "commit, the state is the sequential fold, the feed is row-exact") {
    import spark.implicits._
    val t = freshTable("compacttail")
    TxLog.append(rows(200).repartition(4), t)                  // v0
    // 8 batches over 25 hot keys (upserts and deletes, a key deleted in
    // one batch and upserted in a later one) plus one fresh key each
    val batches = (0 until 8).map { b =>
      (0 until 10).map(k => ((k * 7 + b * 3) % 25).toLong).distinct
        .map(id => (id, s"b${b}_$id",
          if ((id + b) % 4 == 0) "delete" else "upsert")) :+
        ((200L + b % 3, s"b${b}_new", "upsert"))
    }
    import java.util.concurrent.{Callable, CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val fApply = pool.submit(new Callable[Seq[Long]] {
      override def call(): Seq[Long] = {
        gate.await()
        batches.zipWithIndex.map { case (rs, b) =>
          TxLog.applyChanges(spark, t, rs.toDF("id", "payload", "_op"),
            Seq("id"), Some("tail"), b.toLong)
        }
      }
    })
    val fCompact = pool.submit(new Callable[Long] {
      override def call(): Long = {
        gate.await()
        TxLog.compact(spark, t, targetFiles = 2)
      }
    })
    gate.countDown()
    val applied = fApply.get()
    val compacted = fCompact.get()
    pool.shutdown()
    assert((applied :+ compacted).sorted == (1L to 9L),
      s"applies $applied, compact $compacted")
    assert(TxLog.readCommit(t, compacted).op == "compact")
    // the sequential LWW fold of the batches over the base rows
    val states = batches.scanLeft((0L until 200L).map(i => i -> s"v$i")
        .toMap) { (st, rs) =>
      rs.foldLeft(st) { case (m, (id, p, op)) =>
        if (op == "upsert") m + (id -> p) else m - id }
    }
    val got = TxLog.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got == states.last.toSeq.sorted)
    // every apply's feed: the replaced image deleted, the new one
    // inserted; the compaction contributes nothing
    val expected = batches.indices.flatMap { b =>
      batches(b).flatMap { case (id, _, _) =>
        val (o, n) = (states(b).get(id), states(b + 1).get(id))
        o.map(p => (applied(b), "delete", id, p)).toSeq ++
          n.map(p => (applied(b), "insert", id, p))
      }
    }.sorted
    val feed = TxLog.changeFeed(spark, t, 0L, 9L)
      .select("_version", "_change_type", "id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSeq.sorted
    assert(feed == expected)
    assert(unreferencedGroups(t).isEmpty, unreferencedGroups(t))
  }

  test("CHECK constraints: declaration validates existing data, every " +
      "incoming write path is gated, NULL satisfies, drop re-opens, " +
      "clones inherit") {
    import spark.implicits._
    val t = freshTable("cons")
    TxLog.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, null, 5L))
      .toDF("id", "tag", "amt"), t)
    // a constraint the CURRENT data violates must not land
    assert(intercept[Exception] {
      TxLog.alterAddConstraint(spark, t, "amt_big", "amt >= 10")
    }.getMessage.contains("violate"))
    assert(TxLog.versions(t).size == 1, "failed declaration committed")
    // NULL predicate results SATISFY (SQL CHECK semantics): tag null row
    // passes a constraint on tag's content
    TxLog.alterAddConstraint(spark, t, "tag_short", "length(tag) <= 3")
    TxLog.alterAddConstraint(spark, t, "amt_pos", "amt > 0")
    // append gate: reject names the constraint and commits nothing
    val e = intercept[Exception] {
      TxLog.append(Seq((4L, "c", -1L)).toDF("id", "tag", "amt"), t)
    }
    assert(e.getMessage.contains("amt_pos"))
    assert(TxLog.versions(t).size == 3)
    // merge gate: violating source rejects, valid source lands
    assert(intercept[Exception] {
      TxLog.merge(spark, t, Seq((1L, "a", 0L)).toDF("id", "tag", "amt"),
        Seq("id"))
    }.getMessage.contains("amt_pos"))
    TxLog.merge(spark, t, Seq((1L, "a", 99L)).toDF("id", "tag", "amt"),
      Seq("id"))
    assert(TxLog.snapshot(spark, t).filter(col("id") === 1)
      .head().getLong(2) == 99L)
    // streaming sink gate: the violating batch rejects BEFORE the txn
    // marker, so a later valid retry of the same batch id still lands
    assert(intercept[Exception] {
      TxLog.exactlyOnceAppend(t, "app", 0L,
        Seq((9L, "z", -5L)).toDF("id", "tag", "amt"))
    }.getMessage.contains("amt_pos"))
    assert(TxLog.exactlyOnceAppend(t, "app", 0L,
      Seq((9L, "z", 5L)).toDF("id", "tag", "amt")))
    // drop re-opens the gate
    TxLog.alterDropConstraint(t, "amt_pos")
    TxLog.append(Seq((10L, "y", -7L)).toDF("id", "tag", "amt"), t)
    // ...but the other constraint still holds
    assert(intercept[Exception] {
      TxLog.append(Seq((11L, "toolong", 1L)).toDF("id", "tag", "amt"), t)
    }.getMessage.contains("tag_short"))
    // a shallow clone inherits the ACTIVE set (amt_pos dropped)
    val c = freshTable("consclone")
    TxLog.cloneShallow(spark, t, c)
    assert(TxLog.constraintsAsOf(c, 0L).keySet == Set("tag_short"))
    assert(intercept[Exception] {
      TxLog.append(Seq((12L, "nope", 1L)).toDF("id", "tag", "amt"), c)
    }.getMessage.contains("tag_short"))
    // duplicate declaration and unknown drop reject
    assert(intercept[Exception] {
      TxLog.alterAddConstraint(spark, t, "tag_short", "1=1")
    }.getMessage.contains("already exists"))
    assert(intercept[Exception] {
      TxLog.alterDropConstraint(t, "ghost")
    }.getMessage.contains("no such constraint"))
    // renaming or dropping a constraint-referenced column rejects — it
    // would leave every later write throwing unresolved-column
    assert(intercept[Exception] {
      TxLog.alterRenameColumn(spark, t, "tag", "label")
    }.getMessage.contains("tag_short"))
    assert(intercept[Exception] {
      TxLog.alterDropColumn(spark, t, "tag")
    }.getMessage.contains("tag_short"))
    // a multi-line CHECK expression round-trips the log's escaping
    TxLog.alterAddConstraint(spark, t, "multi", "amt > -100\nAND id >= 0")
    assert(intercept[Exception] {
      TxLog.append(Seq((13L, "ok", -200L)).toDF("id", "tag", "amt"), t)
    }.getMessage.contains("multi"))
  }

  test("partition values with URI-special characters keep per-file " +
      "bookkeeping and DV tombstones binding") {
    import spark.implicits._
    val t = freshTable("partesc")
    // a space (URI %20) and a colon (Hive-escaped on disk as %3A,
    // re-encoded by the scan as %253A) in the same value
    val df = Seq((1L, "a b:c", "x"), (2L, "a b:c", "y"), (3L, "plain", "z"))
      .toDF("id", "seg", "payload")
    TxLog.createPartitioned(df.repartition(1), t, Seq("seg"))
    val live = TxLog.liveState(t, 0L).live
    assert(live.size == 2)
    // per-file bookkeeping bound to the right files despite encoding
    assert(live.map(_.rows).sorted == Seq(1L, 2L), live)
    assert(TxLog.snapshot(spark, t).count() == 3)
    // the DV join key survives the encode/decode round trip
    TxLog.deleteWhereDV(spark, t, col("id") === 1)
    assert(TxLog.snapshot(spark, t).count() == 2)
    assert(TxLog.snapshot(spark, t).filter(col("id") === 2).count() == 1,
      "tombstone leaked onto a sibling row")
    // partition pruning parses the escaped value back to the original
    val (pr, kept, _) = TxLog.snapshotPartitionPruned(spark, t,
      pv => pv.get("seg").contains("a b:c"))
    assert(kept == 1 && pr.count() == 1)
    // copy-on-write delete (file-identity probe) works too
    assert(TxLog.deleteWhere(spark, t, col("id") === 2) > 0)
    assert(TxLog.snapshot(spark, t).count() == 1)
  }

  test("INSERT OVERWRITE statement: dynamic partition semantics on a " +
      "partitioned target, full replace on an unpartitioned one") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("iow")
    val df = (0L until 20L).map(i => (i, i % 2, s"v$i"))
      .toDF("id", "bucket", "payload")
    TxLog.createPartitioned(df.repartition(1), t, Seq("bucket"))
    val src = freshTable("iowsrc")
    TxLog.append(Seq((500L, 1L, "NEW")).toDF("id", "bucket", "payload"),
      src)
    TxSql.register("iow_t", t)
    TxSql.register("iow_src", src)
    // dynamic: only bucket=1 (present in the SELECT result) is replaced
    TxSql.sql(spark, "INSERT OVERWRITE iow_t SELECT * FROM iow_src")
    val snap = TxLog.snapshot(spark, t)
    assert(snap.filter(col("bucket") === 1).count() == 1)
    assert(snap.filter(col("bucket") === 0).count() == 10,
      "untouched partition was replaced")
    // unpartitioned target: full replace
    val u = freshTable("iowfull")
    TxLog.append(rows(10), u)
    TxSql.register("iow_u", u)
    TxSql.sql(spark,
      "INSERT OVERWRITE iow_u SELECT id, payload FROM iow_u WHERE id < 3")
    assert(TxLog.snapshot(spark, u).count() == 3)
    // old versions still time-travel
    assert(TxLog.snapshot(spark, u, Some(0L)).count() == 10)
  }

  test("CREATE TABLE … SHALLOW CLONE statement forks zero-copy and " +
      "registers the clone for further statements") {
    import graft.sources.TxSql
    val t = freshTable("clsql")
    TxLog.append(rows(12).coalesce(1), t)
    TxSql.register("clsql_src", t)
    TxSql.sql(spark, "CREATE TABLE clsql_fork SHALLOW CLONE clsql_src")
    // the registered clone serves the source's state through statements
    assert(TxSql.sql(spark, "DESCRIBE HISTORY clsql_fork").count() == 1)
    val snap = TxSql.sql(spark, "SELECT count(*) AS n FROM clsql_fork " +
      "VERSION AS OF 0")
    assert(snap.collect()(0).getLong(0) == 12)
    // zero-copy: no data directories of its own yet
    val fork = new java.io.File(t.getParentFile, s"${t.getName}_clone_clsql_fork")
    assert(Option(fork.listFiles()).getOrElse(Array.empty)
      .forall(f => !f.isDirectory || f.getName == "_graft_log"))
  }

  test("exactlyOnceAppend on a column-mapped table stores PHYSICAL " +
      "names: the renamed column reads back values, not nulls") {
    // r12 advice (high): the streaming sink skipped the toPhysical
    // translation — on a RENAMEd table streamed files landed under
    // LOGICAL names while readAs binds PHYSICAL ones, so every streamed
    // row's renamed column silently read back NULL
    import spark.implicits._
    val t = freshTable("eoamap")
    TxLog.append(rows(5), t)                                        // v0
    TxLog.alterRenameColumn(spark, t, "payload", "body")            // v1
    val batch = Seq((100L, "streamed")).toDF("id", "body")
    assert(TxLog.exactlyOnceAppend(t, "app", 0L, batch))
    val got = TxLog.snapshot(spark, t).filter(col("id") === 100L)
      .select(col("body")).collect()
    assert(got.length == 1 && got(0).getString(0) == "streamed",
      s"streamed row's renamed column lost its value: ${got.toSeq}")
    // schema enforcement holds on the stream path too: a column unknown
    // to the declared schema rejects instead of null-filling forever
    val bad = Seq((101L, "x", 1L)).toDF("id", "body", "ghost")
    val rejected = scala.util.Try(
      TxLog.exactlyOnceAppend(t, "app", 1L, bad)).isFailure
    assert(rejected, "unknown column passed the stream-append gate")
    // replay detection still intact after the restructure
    assert(!TxLog.exactlyOnceAppend(t, "app", 0L, batch))
  }

  test("CDC apply: an all-delete batch that empties every affected file " +
      "of a PARTITIONED table commits removes-only") {
    // r12 advice: the rewritten frame is empty → the partitioned
    // writeFiles wrote zero part files and the stats pass threw
    // 'Unable to infer schema' instead of committing
    import spark.implicits._
    val t = freshTable("cdcempty")
    val df = (0L until 6L).map(i => (i, i % 2, s"v$i"))
      .toDF("id", "bucket", "payload")
    TxLog.createPartitioned(df.repartition(1), t, Seq("bucket"))
    // delete every row of bucket 1 (one whole file), nothing else
    val changes = (0L until 6L).filter(_ % 2 == 1)
      .map(i => (i, 1L, s"v$i", "delete"))
      .toDF("id", "bucket", "payload", "_op")
    val v = TxLog.applyChanges(spark, t, changes, Seq("id"))
    assert(v == 1L)
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 3 && snap.filter(col("bucket") === 1).isEmpty)
    // removes-only: the commit added no files
    assert(TxLog.readCommit(t, v).adds.isEmpty)
  }

  test("changeFeed on a column-mapped table emits the declared LOGICAL " +
      "schema, mixed pre-/post-ALTER files aligned") {
    // r12 advice: the feed read data files raw, surfacing PHYSICAL names
    // on mapped tables and misaligning mixed-epoch footers
    import spark.implicits._
    val t = freshTable("cfmap")
    TxLog.append(rows(4), t)                                        // v0
    TxLog.alterRenameColumn(spark, t, "payload", "body")            // v1
    TxLog.alterAddColumns(spark, t, "flag BIGINT")                  // v2
    TxLog.append(Seq((50L, "new", 7L)).toDF("id", "body", "flag"), t) // v3
    val cf = TxLog.changeFeed(spark, t, -1L, 3L)
    assert(cf.columns.sorted.toSeq ==
      Seq("_change_type", "_version", "body", "flag", "id"),
      s"feed schema is not the declared logical one: ${cf.columns.toSeq}")
    // pre-alter rows surface with their data under the new name,
    // null-filled flag; the post-alter row carries its flag
    val v0 = cf.filter(col("_version") === 0L)
    assert(v0.count() == 4 && v0.filter(col("body").isNull).isEmpty)
    val v3 = cf.filter(col("_version") === 3L).collect()
    assert(v3.length == 1 && v3(0).getAs[Long]("flag") == 7L)
  }

  test("updateWhere is file-pruned copy-on-write: untouched files " +
      "survive by reference, NULL predicates keep old values, history " +
      "time-travels") {
    import spark.implicits._
    val t = freshTable("upd")
    // two files with disjoint id ranges: the update hits only file 2
    TxLog.append((0L until 10L).map(i => (i, i * 10))
      .toDF("id", "v").coalesce(1), t)                              // v0
    TxLog.append((100L until 110L).map(i => (i, i * 10))
      .toDF("id", "v").coalesce(1), t)                              // v1
    val before = TxLog.readCommit(t, 0L).adds.map(_.path).toSet
    val v = TxLog.updateWhere(spark, t, col("id") >= 100L,
      Seq("v" -> (col("v") + 1L)))
    assert(v == 2L)
    val c = TxLog.readCommit(t, 2L)
    // only file 2's group rewrote; file 1 survives by reference
    assert(c.removes.toSet.intersect(before).isEmpty,
      "the update rewrote a file with no matching rows")
    val snap = TxLog.snapshot(spark, t)
    assert(snap.filter(col("id") === 105L).head().getLong(1) == 1051L)
    assert(snap.filter(col("id") === 5L).head().getLong(1) == 50L)
    // time travel: pre-update state intact
    assert(TxLog.snapshot(spark, t, Some(1L))
      .filter(col("id") === 105L).head().getLong(1) == 1050L)
    // no-match predicate: -1, no commit
    assert(TxLog.updateWhere(spark, t, col("id") > 99999L,
      Seq("v" -> lit(0L))) == -1L)
    // partition-column assignment rejected
    val p = freshTable("updpart")
    TxLog.createPartitioned(
      Seq((1L, 1L, "a")).toDF("id", "bucket", "s"), p, Seq("bucket"))
    assert(scala.util.Try(TxLog.updateWhere(spark, p, lit(true),
      Seq("bucket" -> lit(2L)))).isFailure)
  }

  test("mergeInto: clause order is precedence, guards bind to the right " +
      "side, BY-SOURCE clauses reach unmatched rows, inserts filter") {
    import spark.implicits._
    import TxLog.MergeSpec
    val t = freshTable("mrgcond")
    // target: ids 0..9, value = id*10; ids 0..4 flagged 'old'
    TxLog.append((0L until 10L).map(i =>
      (i, i * 10, if (i < 5) "old" else "new")).toDF("id", "v", "tag"), t)
    // source: ids 3,4,5,6 (matched), 100,101 (not matched)
    val src = Seq((3L, 1000L), (4L, 2000L), (5L, 3000L), (6L, 4000L),
      (100L, 5000L), (101L, 6000L)).toDF("id", "sv")
    val v = TxLog.mergeInto(spark, t, src, MergeSpec(
      cond = "t.id = s.id", tAlias = "t", sAlias = "s",
      matched = Seq(
        (Some("t.tag = 'old'"), None),                 // old matched → DELETE
        (None, Some(Map("v" -> "s.sv")))),             // rest → UPDATE
      notMatched = Seq(
        (Some("s.id % 2 = 0"), Map(                    // only even ids insert
          "id" -> "s.id", "v" -> "s.sv", "tag" -> "'ins'"))),
      notMatchedBySource = Seq(
        (Some("t.id >= 8"), Some(Map("v" -> "0"))))))  // 8,9 floored
    assert(v == 1L)
    val got = TxLog.snapshot(spark, t).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq(
      (0L, 0L, "old"), (1L, 10L, "old"), (2L, 20L, "old"),
      // 3,4 matched + tag=old → deleted
      (5L, 3000L, "new"), (6L, 4000L, "new"),          // matched update
      (7L, 70L, "new"),                                // untouched
      (8L, 0L, "new"), (9L, 0L, "new"),                // by-source update
      (100L, 5000L, "ins")),                           // 101 is odd → dropped
      s"merge state wrong: ${got.toSeq}")
    // change feed: the merge surfaces exact delete/insert pre/post images
    val cf = TxLog.changeFeed(spark, t, 0L, 1L)
    assert(cf.filter(col("_change_type") === "delete" &&
      col("id") === 3L).count() == 1)
    assert(cf.filter(col("_change_type") === "insert" &&
      col("id") === 100L).count() == 1)
  }

  test("mergeInto enforces the SQL cardinality rule: a target row " +
      "matching two source rows rejects, nothing committed") {
    import spark.implicits._
    import TxLog.MergeSpec
    val t = freshTable("mrgcard")
    TxLog.append(Seq((1L, 10L)).toDF("id", "v"), t)
    val dupSrc = Seq((1L, 100L), (1L, 200L)).toDF("id", "sv")
    val r = scala.util.Try(TxLog.mergeInto(spark, t, dupSrc, MergeSpec(
      "t.id = s.id", "t", "s",
      matched = Seq((None, Some(Map("v" -> "s.sv")))),
      notMatched = Seq.empty, notMatchedBySource = Seq.empty)))
    assert(r.isFailure &&
      r.failed.get.getMessage.contains("cardinality"))
    assert(TxLog.versions(t) == Seq(0L), "a failed merge left a commit")
    // but duplicates are FINE when only inserts exist (no ambiguity)
    val v = TxLog.mergeInto(spark, t, dupSrc, MergeSpec(
      "t.id = s.id", "t", "s",
      matched = Seq.empty,
      notMatched = Seq((None, Map("id" -> "s.id", "v" -> "s.sv"))),
      notMatchedBySource = Seq.empty))
    assert(v == -1L, "matched-only duplicate source must be a no-op " +
      "when every source row matches")
  }

  test("SQL DML statements route through TxSql on registered tables " +
      "and compose with VERSION AS OF") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("dmlsql")
    TxLog.append((0L until 10L).map(i => (i, i)).toDF("id", "v"), t)
    TxSql.register("dmlsql_t", t)
    TxSql.sql(spark, "UPDATE dmlsql_t SET v = 99 WHERE id < 3")
    TxSql.sql(spark, "DELETE FROM dmlsql_t WHERE id >= 8")
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 8)
    assert(snap.filter(col("v") === 99L).count() == 3)
    // pre-DML state still serves through the statement surface
    val v0 = TxSql.sql(spark,
      "SELECT count(*) AS n FROM dmlsql_t VERSION AS OF 0")
    assert(v0.head().getLong(0) == 10)
  }

  test("column DEFAULT: pre-alter files fill at read, omitting writers " +
      "materialize, explicit NULL stays NULL, drop+re-add forgets") {
    import spark.implicits._
    val t = freshTable("dflt")
    TxLog.append(rows(3), t)                                        // v0
    TxLog.alterAddColumns(spark, t, "flag BIGINT",
      Map("flag" -> "7"))                                           // v1
    // pre-alter rows read the default, not null
    assert(TxLog.snapshot(spark, t).agg(sum(col("flag"))).head()
      .getLong(0) == 21L)
    // an omitting append materializes 7; an explicit NULL stays NULL
    TxLog.append(Seq((100L, "w")).toDF("id", "payload"), t)         // v2
    TxLog.append(Seq((200L, "x", null.asInstanceOf[java.lang.Long]))
      .toDF("id", "payload", "flag"), t)                            // v3
    val snap = TxLog.snapshot(spark, t)
    assert(snap.filter(col("id") === 100L).head()
      .getAs[Long]("flag") == 7L)
    assert(snap.filter(col("id") === 200L).head().isNullAt(2),
      "explicit NULL was overwritten by the default")
    // the materialized file carries the value PHYSICALLY: raw read of
    // v2's file shows 7 without any fill machinery
    val v2file = TxLog.readCommit(t, 2L).adds.head.path
    assert(spark.read.parquet(new java.io.File(t, v2file).getAbsolutePath)
      .head().getAs[Long]("flag") == 7L)
    // time travel to v0 serves the pre-alter schema (no flag at all)
    assert(!TxLog.snapshot(spark, t, Some(0L)).columns.contains("flag"))
    // compaction materializes the fill for pre-alter rows
    TxLog.compact(spark, t, targetFiles = 1)                        // v4
    val compacted = TxLog.readCommit(t, 4L).adds.head.path
    val rawc = spark.read.parquet(
      new java.io.File(t, compacted).getAbsolutePath)
    assert(rawc.filter(col("id") < 3L && col("flag") === 7L).count() == 3)
    // DROP then re-ADD: the stale default must not resurrect
    TxLog.alterDropColumn(spark, t, "flag")                         // v5
    TxLog.alterAddColumns(spark, t, "flag BIGINT")                  // v6
    val re = TxLog.snapshot(spark, t)
    assert(re.filter(col("flag").isNotNull).count() == 0,
      "a dropped column's default leaked onto the re-added name")
  }

  test("the change feed reads DEFAULT fills: DV, copy-on-write and CDC " +
      "apply deletes carry the row the snapshot served") {
    import spark.implicits._
    val t = freshTable("cfdflt")
    TxLog.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e"))
      .toDF("id", "v").coalesce(1), t)                               // v0
    TxLog.alterAddColumns(spark, t, "w INT", Map("w" -> "7"))        // v1
    def feed(v: Long): Seq[String] =
      TxLog.changeFeed(spark, t, v - 1, v).collect().toSeq
        .map(_.toSeq.mkString(",")).sorted
    assert(TxLog.snapshot(spark, t).filter(col("id") === 1L).head()
      .getAs[Int]("w") == 7)
    val dv = TxLog.deleteWhereDV(spark, t, col("id") === 1L)         // v2
    assert(feed(dv) == Seq(s"$dv,delete,1,a,7"))
    // the rewrite's survivors net out: no delete/insert pair for 3 or 5
    val cow = TxLog.deleteWhere(spark, t, col("id") === 2L)          // v3
    assert(feed(cow) == Seq(s"$cow,delete,2,b,7"))
    // an explicit NULL written after the declaration stays NULL in the
    // change-data file's delete image
    TxLog.append(Seq((4L, "d", null.asInstanceOf[Integer]))
      .toDF("id", "v", "w"), t)                                      // v4
    val ap = TxLog.applyChanges(spark, t,
      Seq((3L, "c2", 8, "upsert"), (4L, "d2", 9, "upsert"))
        .toDF("id", "v", "w", "_op"), Seq("id"))                     // v5
    assert(TxLog.readCommit(t, ap).cdc.size == 1)
    assert(feed(ap) == Seq(s"$ap,delete,3,c,7", s"$ap,delete,4,d,null",
      s"$ap,insert,3,c2,8", s"$ap,insert,4,d2,9").sorted)
  }

  test("ALTER ADD COLUMNS statement parses DEFAULT literals, including " +
      "a quoted string containing a comma") {
    import graft.sources.TxSql
    val t = freshTable("dfltsql")
    TxLog.append(rows(2), t)
    TxSql.register("dfltsql_t", t)
    TxSql.sql(spark, "ALTER TABLE dfltsql_t ADD COLUMNS " +
      "(n BIGINT DEFAULT 5, note STRING DEFAULT 'a, b', bare STRING)")
    val snap = TxLog.snapshot(spark, t)
    val r = snap.filter(col("id") === 0L).head()
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[String]("note") == "a, b")
    assert(r.isNullAt(snap.columns.indexOf("bare")))
  }

  test("GENERATED column: pre-alter files compute at read, omitting " +
      "writers materialize, wrong explicit values REJECT atomically") {
    import spark.implicits._
    val t = freshTable("gen")
    TxLog.append((1L to 5L).map(i => (i, i * 100)).toDF("id", "v"), t) // v0
    TxLog.alterAddColumns(spark, t, "dbl BIGINT",
      generated = Map("dbl" -> "v * 2"))                               // v1
    // pre-alter rows compute the expression at read
    assert(TxLog.snapshot(spark, t).agg(sum(col("dbl"))).head()
      .getLong(0) == (1L to 5L).map(_ * 200).sum)
    // an omitting append materializes; raw file carries the value
    TxLog.append(Seq((10L, 1000L)).toDF("id", "v"), t)                 // v2
    val v2file = TxLog.readCommit(t, 2L).adds.head.path
    assert(spark.read.parquet(new java.io.File(t, v2file).getAbsolutePath)
      .head().getAs[Long]("dbl") == 2000L)
    // correct explicit values pass the auto gen-constraint
    TxLog.append(Seq((11L, 7L, 14L)).toDF("id", "v", "dbl"), t)        // v3
    // WRONG explicit values reject, nothing committed
    val before = TxLog.versions(t).size
    val rejected = scala.util.Try(
      TxLog.append(Seq((12L, 7L, 999L)).toDF("id", "v", "dbl"), t))
      .isFailure
    assert(rejected && TxLog.versions(t).size == before,
      "a wrong generated value passed the gate or left a commit")
    // a column the gen expression references cannot be renamed away
    assert(scala.util.Try(
      TxLog.alterRenameColumn(spark, t, "v", "w")).isFailure)
    // statement surface parses GENERATED ALWAYS AS with inner commas
    import graft.sources.TxSql
    TxSql.register("gen_probe", t)
    TxSql.sql(spark, "ALTER TABLE gen_probe ADD COLUMNS " +
      "(vr DOUBLE GENERATED ALWAYS AS (round(v / 7.0, 2)))")
    val got = TxLog.snapshot(spark, t).filter(col("id") === 11L)
      .select(col("vr")).head().getDouble(0)
    assert(got == 1.0, s"generated round(7/7.0, 2) read $got")
  }

  test("MERGE INSERT clauses honor DEFAULT and GENERATED columns they " +
      "do not set, computed over the inserted values") {
    import graft.sources.{TxDml, TxSql}
    import spark.implicits._
    val t = freshTable("mrgdflt")
    TxLog.append(Seq((1L, 10L)).toDF("id", "v"), t)                 // v0
    TxLog.alterAddColumns(spark, t, "tag BIGINT", Map("tag" -> "42")) // v1
    TxLog.alterAddColumns(spark, t, "dbl BIGINT",
      generated = Map("dbl" -> "v * 2"))                            // v2
    TxSql.register("mrgdflt_t", t)
    // source column names deliberately differ from table names: the
    // generation expression must bind to the INSERTED v, not the source
    Seq((5L, 50L), (6L, 60L)).toDF("k", "nv")
      .createOrReplaceTempView("mrgdflt_src")
    TxDml.exec(spark,
      """MERGE INTO mrgdflt_t AS t
        |USING mrgdflt_src AS s ON t.id = s.k
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.k, s.nv)
        |""".stripMargin)
    val got = TxLog.snapshot(spark, t).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("tag"), r.getAs[Long]("dbl"))).toSeq
    assert(got == Seq((1L, 10L, 42L, 20L), (5L, 50L, 42L, 100L),
      (6L, 60L, 42L, 120L)),
      s"insert defaults/generated wrong: $got")
    spark.catalog.dropTempView("mrgdflt_src")
  }

  test("BY-SOURCE-only merge never duplicates a pass-through row on " +
      "duplicate source keys (semi/anti shape, no fan-out)") {
    // r13 review: the LEFT JOIN shape silently duplicated matched
    // pass-through rows when no MATCHED clause existed to trigger the
    // cardinality check
    import spark.implicits._
    import TxLog.MergeSpec
    val t = freshTable("nmbsdup")
    TxLog.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t)
    val dupSrc = Seq((1L, 0L), (1L, 0L)).toDF("id", "x") // id=1 twice
    val v = TxLog.mergeInto(spark, t, dupSrc, MergeSpec(
      "t.id = s.id", "t", "s",
      matched = Seq.empty,
      notMatched = Seq.empty,
      notMatchedBySource = Seq((None, Some(Map("v" -> "0"))))))
    assert(v == 1L)
    val got = TxLog.snapshot(spark, t).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 0L)),
      s"pass-through duplicated or by-source missed: $got")
  }

  test("UPDATE casts assignments to the declared type and recomputes " +
      "GENERATED columns; renamed columns keep their DEFAULT") {
    import graft.sources.{TxDml, TxSql}
    import spark.implicits._
    val t = freshTable("updcast")
    TxLog.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t)      // v0
    TxLog.alterAddColumns(spark, t, "dbl BIGINT",
      generated = Map("dbl" -> "v * 2"))                            // v1
    TxSql.register("updcast_t", t)
    // r13 review: an uncast 1.5 committed a DOUBLE file the declared
    // BIGINT schema could never read back; and without the generated
    // recompute the gen-constraint rejected every UPDATE touching v
    TxDml.exec(spark, "UPDATE updcast_t SET v = 1.5 WHERE id = 1")
    val got = TxLog.snapshot(spark, t).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("dbl"))).toSeq
    assert(got == Seq((1L, 1L, 2L), (2L, 20L, 40L)),
      s"cast/recompute wrong: $got")
    // rename migrates a literal default with its original epoch
    val d = freshTable("rendflt")
    TxLog.append(Seq((1L, "a")).toDF("id", "s"), d)                 // v0
    TxLog.alterAddColumns(spark, d, "flag BIGINT", Map("flag" -> "7")) // v1
    TxLog.alterRenameColumn(spark, d, "flag", "mark")               // v2
    assert(TxLog.snapshot(spark, d).head().getAs[Long]("mark") == 7L,
      "the default detached on rename")
    // and a re-ADD of the OLD name inherits nothing
    TxLog.alterAddColumns(spark, d, "flag BIGINT")                  // v3
    assert(TxLog.snapshot(spark, d).head().isNullAt(
      TxLog.snapshot(spark, d).columns.indexOf("flag")),
      "a stale default leaked onto the re-added old name")
  }

  test("statement binding never mangles same-named column aliases and " +
      "restores a shadowed temp view even on failure") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("bindalias")
    TxLog.append(rows(3), t)
    TxSql.register("bindalias_t", t)
    val tgt = freshTable("bindaliastgt")
    TxLog.append(Seq((0L, 0L)).toDF("k", "bindalias_t"), tgt)
    TxSql.register("bindalias_tgt", tgt)
    // r13 review: the text-rewrite binding renamed the OUTPUT ALIAS
    // `bindalias_t` too, silently changing the result schema
    TxSql.sql(spark, "INSERT OVERWRITE bindalias_tgt " +
      "SELECT id AS k, count(*) OVER () AS bindalias_t FROM bindalias_t")
    assert(TxLog.snapshot(spark, tgt).columns.toSeq ==
      Seq("k", "bindalias_t"), "the column alias was mangled")
    assert(TxLog.snapshot(spark, tgt).count() == 3)
    // a failing statement restores the pre-existing shadowed view
    Seq((42L, "mine")).toDF("id", "tag")
      .createOrReplaceTempView("bindalias_t")
    val failed = scala.util.Try(TxSql.sql(spark,
      "INSERT OVERWRITE bindalias_tgt SELECT no_such_col FROM bindalias_t"))
    assert(failed.isFailure)
    assert(spark.table("bindalias_t").columns.toSeq == Seq("id", "tag"),
      "the session view was not restored after a failed statement")
    spark.catalog.dropTempView("bindalias_t")
  }

  test("DESCRIBE DETAIL reports live files/rows/bytes, layout, and " +
      "constraint/default counts from log metadata alone") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("detail")
    TxLog.createPartitioned(
      (0L until 10L).map(i => (i, i % 2, s"v$i"))
        .toDF("id", "bucket", "s").repartition(1), t, Seq("bucket"))
    TxLog.alterAddConstraint(spark, t, "pos", "id >= 0")
    TxLog.alterAddColumns(spark, t, "flag BIGINT", Map("flag" -> "1"))
    TxLog.deleteWhere(spark, t, col("id") === 9L)
    TxSql.register("detail_t", t)
    val r = TxSql.sql(spark, "DESCRIBE DETAIL detail_t").head()
    assert(r.getAs[String]("format") == "graft-txlog")
    assert(r.getAs[Long]("num_rows") == 9L)
    assert(r.getAs[String]("partition_columns") == "bucket")
    assert(r.getAs[Long]("n_constraints") == 1L)
    assert(r.getAs[Long]("n_defaults") == 1L)
    assert(r.getAs[Long]("latest_version") == 3L)
    assert(r.getAs[Long]("size_bytes") > 0L)
    assert(r.getAs[Long]("num_files") ==
      TxLog.liveState(t, 3L).live.size.toLong)
  }

  test("MERGE accepts an inline subquery source: USING (SELECT ...) AS s") {
    import graft.sources.{TxDml, TxSql}
    import spark.implicits._
    val t = freshTable("mrgsub")
    TxLog.append((0L until 6L).map(i => (i, i)).toDF("id", "v"), t)
    TxSql.register("mrgsub_t", t)
    (0L until 10L).map(i => (i, i * 100)).toDF("id", "nv")
      .createOrReplaceTempView("mrgsub_raw")
    TxDml.exec(spark,
      """MERGE INTO mrgsub_t AS t
        |USING (SELECT id, nv FROM mrgsub_raw WHERE id % 2 = 0) AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
        |""".stripMargin)
    val got = TxLog.snapshot(spark, t).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 0L), (1L, 1L), (2L, 200L), (3L, 3L),
      (4L, 400L), (5L, 5L), (6L, 600L), (8L, 800L)),
      s"subquery-source merge state wrong: $got")
    spark.catalog.dropTempView("mrgsub_raw")
  }

  test("bindRegistered leaves no session temp views behind and never " +
      "shadows a same-named existing view") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("bindleak")
    TxLog.append(rows(3), t)
    TxSql.register("bind_probe", t)
    // a session view that HAPPENS to share the registered name: the
    // statement must bind the TxLog snapshot without clobbering it
    Seq((999L, "session")).toDF("id", "payload")
      .createOrReplaceTempView("bind_probe")
    val tgt = freshTable("bindtgt")
    TxLog.append(rows(1, 500L), tgt)
    TxSql.register("bind_tgt", tgt)
    TxSql.sql(spark,
      "INSERT OVERWRITE bind_tgt SELECT * FROM bind_probe WHERE id < 2")
    // the INSERT read the TxLog table (2 rows), not the session view
    assert(TxLog.snapshot(spark, tgt).count() == 2)
    // the session view survives, un-shadowed, and no _bind_ views leaked
    val views = spark.catalog.listTables().collect().map(_.name)
    assert(!views.exists(_.contains("_bind_")),
      s"bind views leaked: ${views.toSeq}")
    assert(spark.table("bind_probe").collect()(0).getString(1) == "session")
    spark.catalog.dropTempView("bind_probe")
  }

  // ---- S66: bloom-filter index + point-lookup skipping ---------------------

  test("bloom index: post-declaration add actions carry bitsets, the " +
      "point probe prunes to exactly the files containing the key") {
    import spark.implicits._
    val t = freshTable("bloom")
    // three files with near-identical [min, max] id ranges — the range
    // prune is structurally useless; only the bloom can separate them
    def slab(ks: Seq[Long]) =
      ks.map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1)
    TxLog.alterAddBloomIndex(spark, t, "id", bits = 4096, k = 3) // v0
    TxLog.append(slab(Seq(1L, 500L, 1000L)), t)                  // v1
    TxLog.append(slab(Seq(2L, 501L, 999L)), t)                   // v2
    TxLog.append(slab(Seq(3L, 502L, 998L)), t)                   // v3
    // wire: every data-carrying commit's adds hold a bitset for id
    (1L to 3L).foreach { v =>
      val adds = TxLog.readCommit(t, v).adds
      assert(adds.nonEmpty && adds.forall(_.blooms.contains("id")),
        s"v$v add actions lack an id bloom")
      assert(adds.head.blooms("id").length == 4096 / 4) // hex chars
    }
    // present key: exactly ONE file survives despite all ranges matching
    val (f1, r1, tot1) = TxLog.snapshotPrunedEq(spark, t, "id", 501L)
    assert((r1, tot1) == (1, 3), s"read $r1 of $tot1")
    assert(f1.filter(col("id") === 501L).count() == 1)
    // absent in-range key: bloom prunes ALL files (range alone keeps all)
    val (_, r0, _) = TxLog.snapshotPrunedEq(spark, t, "id", 700L)
    assert(r0 == 0, s"absent key read $r0 files")
  }

  test("bloom index epochs: pre-declaration files are conservatively " +
      "kept; DROP stops bitset maintenance on new files") {
    import spark.implicits._
    val t = freshTable("bloomepoch")
    def slab(ks: Seq[Long]) =
      ks.map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1)
    TxLog.append(slab(Seq(1L, 1000L)), t)                        // v0: pre
    TxLog.alterAddBloomIndex(spark, t, "id", bits = 4096, k = 3) // v1
    TxLog.append(slab(Seq(2L, 999L)), t)                         // v2: post
    assert(TxLog.readCommit(t, 0L).adds.forall(_.blooms.isEmpty))
    assert(TxLog.readCommit(t, 2L).adds.forall(_.blooms.contains("id")))
    // key 700 is in NEITHER file; both ranges cover it. The bloomed file
    // is pruned; the pre-index file has no bitset and must be kept.
    val (_, r, tot) = TxLog.snapshotPrunedEq(spark, t, "id", 700L)
    assert((r, tot) == (1, 2), s"epoch prune read $r of $tot")
    TxLog.alterDropBloomIndex(t, "id")                           // v3
    TxLog.append(slab(Seq(3L, 998L)), t)                         // v4
    assert(TxLog.readCommit(t, 4L).adds.forall(_.blooms.isEmpty),
      "post-DROP files still carry bitsets")
  }

  test("bloom re-declaration epoch: DROP + re-CREATE with equal bits " +
      "but different k never false-negative-prunes an old file") {
    import spark.implicits._
    val t = freshTable("bloomrek")
    def slab(ks: Seq[Long]) =
      ks.map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1)
    TxLog.alterAddBloomIndex(spark, t, "id", bits = 4096, k = 2) // v0
    TxLog.append(slab(Seq(1L, 500L, 1000L)), t)                  // v1: k=2
    TxLog.alterDropBloomIndex(t, "id")                           // v2
    TxLog.alterAddBloomIndex(spark, t, "id", bits = 4096, k = 5) // v3
    TxLog.append(slab(Seq(2L, 501L, 999L)), t)                   // v4: k=5
    // the v1 file's bitset has k=2 positions set; probing it at the
    // current k=5 positions would false-negative key 500 (present!).
    // The epoch guard keeps any file whose bitset predates the current
    // declaration, so BOTH files survive for 500 and the rows are whole.
    val (f, r, tot) = TxLog.snapshotPrunedEq(spark, t, "id", 500L)
    assert(tot == 2)
    assert(r >= 1 && f.filter(col("id") === 500L).count() == 1,
      s"re-keyed probe lost a present row (read $r of $tot)")
    // new-epoch bitsets still prune: 501 lives only in the v4 file and
    // the v1 file predates the current spec → conservatively kept, so
    // the probe reads ≤2 but finds the row
    val (f2, _, _) = TxLog.snapshotPrunedEq(spark, t, "id", 501L)
    assert(f2.filter(col("id") === 501L).count() == 1)
    // absent key: the old-epoch file is kept (its bitset is inert), the
    // new-epoch file prunes — never MORE than the conservative set
    val (_, r0, _) = TxLog.snapshotPrunedEq(spark, t, "id", 700L)
    assert(r0 == 1, s"absent key read $r0 files (want just the " +
      "old-epoch conservative keep)")
  }

  test("bloom epoch survives RESTORE: a re-added old-spec file is " +
      "conservatively kept, never probed at new-k positions") {
    import spark.implicits._
    val t = freshTable("bloomrestore")
    // r14 advisor: RESTORE re-adds a historical Add entry VERBATIM —
    // original k=5 bloom hex included — in a NEW commit. A gate on the
    // file's LATEST add version sees addedAt = restore ≥ declEpoch and
    // probes the old-k bitset at new-k positions: a silent
    // false-negative prune of a file that CONTAINS the key. The gate
    // must key on the FIRST add (the write epoch).
    val keys = (1L to 12L).map(_ * 77L)
    def slab(ks: Seq[Long]) =
      ks.map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1)
    TxLog.alterAddBloomIndex(spark, t, "id", bits = 4096, k = 5) // v0
    TxLog.append(slab(keys), t)                                  // v1: k=5
    TxLog.deleteWhere(spark, t, col("id") === keys.head)         // v2
    TxLog.alterDropBloomIndex(t, "id")                           // v3
    TxLog.alterAddBloomIndex(spark, t, "id", bits = 4096, k = 3) // v4
    TxLog.restore(spark, t, 1L)                                  // v5
    // post-restore the ONLY live file is v1's, bitset written at k=5;
    // the current spec is k=3 — every present key must still be found
    val probes = TxLog.snapshotPrunedEqMulti(spark, t, "id", keys)
    probes.foreach { case (value, frame, nRead, nTotal) =>
      assert(nTotal == 1 && nRead == 1,
        s"restored old-spec file pruned for present key $value " +
          s"(read $nRead of $nTotal)")
      assert(frame.filter(col("id") === value).count() == 1,
        s"restored probe lost present key $value")
    }
  }

  test("r15 review batch: default fills reach every writer, dependency " +
      "guards on DROP/RENAME, clone and identity rejections") {
    import spark.implicits._
    // 1. overwriteAll materializes defaults like append: rows land with
    // the fill PHYSICALLY, never as post-epoch NULL holes
    val t1 = freshTable("rvw_ow")
    TxLog.append(rows(2).coalesce(1), t1)                          // v0
    TxLog.alterAddColumns(spark, t1, "flag BIGINT", Map("flag" -> "7"))
    TxLog.overwriteAll(spark, t1,
      Seq((50L, "o")).toDF("id", "payload"))
    assert(TxLog.snapshot(spark, t1).agg(sum(col("flag"))).head()
      .getLong(0) == 7L, "overwrite dropped the default fill")
    // 2. applyChanges: unknown columns reject loudly (were silently
    // dropped by the snap-columns projection), defaults materialize
    val e1 = intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, t1,
        Seq((50L, "x", 1L, "upsert")).toDF("id", "payload", "wrong", "_op"),
        Seq("id"))
    }
    assert(e1.getMessage.contains("wrong"))
    TxLog.applyChanges(spark, t1,
      Seq((60L, "n", "upsert")).toDF("id", "payload", "_op"), Seq("id"))
    assert(TxLog.snapshot(spark, t1).filter(col("id") === 60L)
      .head().getAs[Long]("flag") == 7L,
      "CDC APPLY landed a post-epoch file missing the default")
    // 3. DROP/RENAME of a column another column's default references
    // must reject (it would brick every later write and fill)
    val t2 = freshTable("rvw_dep")
    TxLog.append(rows(2).coalesce(1), t2)
    TxLog.alterAddColumns(spark, t2, "d BIGINT", Map("d" -> "id + 1"))
    val e2 = intercept[IllegalArgumentException] {
      TxLog.alterDropColumn(spark, t2, "id")
    }
    assert(e2.getMessage.contains("DEFAULT"))
    val e3 = intercept[IllegalArgumentException] {
      TxLog.alterRenameColumn(spark, t2, "id", "ident")
    }
    assert(e3.getMessage.contains("DEFAULT"))
    // 4. shallow clone of a defaulted table rejects (per-file fill
    // epochs cannot transfer to a zero-copy log)
    val t2c = freshTable("rvw_clone"); assert(t2c.delete())
    val e4 = intercept[IllegalArgumentException] {
      TxLog.cloneShallow(spark, t2, t2c)
    }
    assert(e4.getMessage.contains("DEFAULT"))
    // 5. clone carries IDENTITY high-water marks: the clone's first
    // append continues allocation instead of duplicating ids
    val t3 = freshTable("rvw_ident"); assert(t3.delete())
    TxLog.createEmpty(t3, "id BIGINT, payload STRING",
      identityCols = Seq("id"))
    TxLog.append(Seq(("a"), ("b")).toDF("payload"), t3)
    val t3c = freshTable("rvw_identc"); assert(t3c.delete())
    TxLog.cloneShallow(spark, t3, t3c)
    TxLog.append(Seq(("c")).toDF("payload"), t3c)
    val ids = TxLog.snapshot(spark, t3c).select(col("id"))
      .collect().map(_.getLong(0)).sorted
    assert(ids.length == 3 && ids.distinct.length == 3,
      s"clone restarted identity allocation: ${ids.mkString(",")}")
    // 6. non-append writers reject identity tables loudly (they cannot
    // assign ids or advance the mark)
    val e5 = intercept[IllegalArgumentException] {
      TxLog.overwriteAll(spark, t3,
        Seq((99L, "z")).toDF("id", "payload"))
    }
    assert(e5.getMessage.contains("IDENTITY"))
  }

  test("column DEFAULT survives RESTORE: a re-added pre-declaration " +
      "file still fills at read (write epoch, not re-add version)") {
    import spark.implicits._
    val t = freshTable("dfltrestore")
    // same first-add discipline, default-fill sibling: v0's file lacks
    // `flag` physically; after RESTORE re-adds it post-declaration, a
    // latest-add gate would claim it postdates the default and skip the
    // fill — reading NULLs where the declared default belongs.
    TxLog.append(rows(3).coalesce(1), t)                            // v0
    TxLog.alterAddColumns(spark, t, "flag BIGINT",
      Map("flag" -> "7"))                                           // v1
    // CoW delete rewrites v0's file (the rewrite materializes flag=7
    // physically); restoring to v1 then re-adds the ORIGINAL v0 file —
    // which physically lacks `flag` — in a post-declaration commit
    TxLog.deleteWhere(spark, t, col("id") === 0L)                   // v2
    TxLog.restore(spark, t, 1L)                                     // v3
    val snap = TxLog.snapshot(spark, t)
    assert(snap.count() == 3, "restore did not resurrect the v0 file")
    assert(snap.agg(sum(col("flag"))).head().getLong(0) == 21L,
      "restored pre-declaration file lost its default fill")
  }

  test("bloom bitsets survive checkpoint round-trips and compose with " +
      "RENAME (probe via the new logical name)") {
    import spark.implicits._
    val t = freshTable("bloomckpt")
    def slab(ks: Seq[Long]) =
      ks.map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1)
    TxLog.alterAddBloomIndex(spark, t, "id", bits = 4096, k = 3) // v0
    TxLog.append(slab(Seq(1L, 500L, 1000L)), t)                  // v1
    TxLog.append(slab(Seq(2L, 501L, 999L)), t)                   // v2
    // push past the checkpoint cadence so resolution reads a .ckpt base
    (3 to 11).foreach(i => TxLog.append(slab(Seq(i * 100L)), t))
    assert(TxLog.checkpoints(t).nonEmpty, "no checkpoint materialized")
    val (_, r1, tot1) = TxLog.snapshotPrunedEq(spark, t, "id", 501L)
    assert((r1, tot1) == (1, 11), s"post-ckpt prune read $r1 of $tot1")
    // RENAME the indexed column: the bitset lives under the physical
    // name, the probe translates — no re-index, no rewrite
    TxLog.alterRenameColumn(spark, t, "id", "ident")
    val (f2, r2, _) = TxLog.snapshotPrunedEq(spark, t, "ident", 501L)
    assert(r2 == 1, s"post-rename prune read $r2")
    assert(f2.filter(col("ident") === 501L).count() == 1)
  }

  test("bloom statement forms: CREATE/DROP BLOOMFILTER INDEX route " +
      "through TxSql; non-integral and misspelled columns reject") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("bloomsql")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
      .coalesce(1), t)
    TxSql.register("bloom_sql_probe", t)
    val res = TxSql.sql(spark, "CREATE BLOOMFILTER INDEX ON " +
      "bloom_sql_probe FOR COLUMNS (id OPTIONS (bits = 4096, k = 3))")
    assert(res.collect().head.getLong(2) == 1L) // committed v1
    TxLog.append(Seq((3L, "c")).toDF("id", "payload").coalesce(1), t)
    assert(TxLog.readCommit(t, 2L).adds.forall(_.blooms.contains("id")))
    intercept[RuntimeException] {
      TxSql.sql(spark, "CREATE BLOOMFILTER INDEX ON bloom_sql_probe " +
        "FOR COLUMNS (payload)") // string column: not integral
    }
    intercept[RuntimeException] {
      TxSql.sql(spark, "CREATE BLOOMFILTER INDEX ON bloom_sql_probe " +
        "FOR COLUMNS (nope)")
    }
    assert(TxSql.sql(spark, "DROP BLOOMFILTER INDEX ON bloom_sql_probe " +
      "FOR COLUMNS (id)").collect().head.getLong(2) == 3L)
    TxLog.append(Seq((4L, "d")).toDF("id", "payload").coalesce(1), t)
    assert(TxLog.readCommit(t, 4L).adds.forall(_.blooms.isEmpty))
  }

  // ---- S67: COPY INTO — idempotent bulk load --------------------------------

  private def stageParquet(stage: java.io.File, nm: String,
      df: org.apache.spark.sql.DataFrame): java.io.File = {
    val tmp = new java.io.File(stage, s"_build_$nm")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val target = new java.io.File(stage, nm)
    java.nio.file.Files.move(part.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
      x.delete(); ()
    }
    rm(tmp)
    target
  }

  test("COPY INTO loads each staged file exactly once: fresh files " +
      "commit, a fully-loaded re-run commits nothing, the ledger " +
      "travels in the data commit") {
    val t = freshTable("copyinto")
    val stage = freshTable("copystage")
    val a = stageParquet(stage, "a.parquet", rows(5))
    stageParquet(stage, "b.parquet", rows(3, 100))
    assert(TxLog.copyInto(spark, t, stage) == 0L)
    assert(TxLog.snapshot(spark, t).count() == 8)
    // the commit carries one ledger action per consumed source file
    val c0 = TxLog.readCommit(t, 0L)
    assert(c0.copies.toSet ==
      Set(a.getCanonicalPath,
        new java.io.File(stage, "b.parquet").getCanonicalPath),
      s"ledger wrong: ${c0.copies}")
    // re-run with nothing new: no commit, same log
    assert(TxLog.copyInto(spark, t, stage) == -1L)
    assert(TxLog.versions(t) == Seq(0L))
    // a late-arriving file loads ALONE
    stageParquet(stage, "c.parquet", rows(2, 200))
    assert(TxLog.copyInto(spark, t, stage) == 1L)
    assert(TxLog.readCommit(t, 1L).copies.map(new java.io.File(_).getName)
      == Seq("c.parquet"))
    assert(TxLog.snapshot(spark, t).count() == 10)
    assert(TxLog.copyInto(spark, t, stage) == -1L)
  }

  test("COPY INTO is an append in every other respect: declared-schema " +
      "enforcement rejects unknown columns, constraint gates apply, " +
      "and the statement form routes through TxSql") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("copygate")
    val stage = freshTable("copygatestage")
    stageParquet(stage, "a.parquet", rows(4))
    TxSql.register("copy_gate_probe", t)
    val res = TxSql.sql(spark, s"COPY INTO copy_gate_probe FROM " +
      s"'${stage.getPath}' FILEFORMAT = PARQUET")
    assert(res.collect().head.getLong(2) == 0L)
    // pin a declared schema + a CHECK constraint, then stage violators
    TxLog.alterAddColumns(spark, t, "extra BIGINT")
    TxLog.alterAddConstraint(spark, t, "pos_id", "id >= 0")
    stageParquet(stage, "bad_schema.parquet",
      Seq((99L, "x", 1L)).toDF("id", "payload", "undeclared"))
    intercept[RuntimeException] { TxLog.copyInto(spark, t, stage) }
    assert(new java.io.File(stage, "bad_schema.parquet").delete())
    stageParquet(stage, "bad_rows.parquet",
      Seq((-5L, "neg")).toDF("id", "payload"))
    intercept[RuntimeException] { TxLog.copyInto(spark, t, stage) }
    // neither rejected run committed or consumed anything
    assert(TxLog.versions(t).size == 3) // copy + alter + constraint
    assert(new java.io.File(stage, "bad_rows.parquet").delete())
    // statement re-run on the intact ledger: idempotent no-op (-1)
    assert(TxSql.sql(spark, s"COPY INTO copy_gate_probe FROM " +
      s"'${stage.getPath}' FILEFORMAT = PARQUET")
      .collect().head.getLong(2) == -1L)
  }

  // ---- S69: MERGE WITH SCHEMA EVOLUTION -------------------------------------

  test("MERGE WITH SCHEMA EVOLUTION: new source columns join the " +
      "declared schema atomically with the merge's data; existing rows " +
      "read NULL; plain MERGE ignores extra source columns") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("mergevo")
    TxLog.append(rows(3).coalesce(1), t) // v0: (id, payload) ids 0..2
    TxSql.register("mergevo_t", t)
    Seq((1L, "v1b", 77L), (9L, "v9", 99L))
      .toDF("id", "payload", "score").createOrReplaceTempView("mergevo_s")
    // without the clause, star expands to the DECLARED schema only: the
    // extra source column is ignored and the schema must NOT change
    val plain = freshTable("mergevoplain")
    TxLog.append(rows(3).coalesce(1), plain)
    TxSql.register("mergevo_plain", plain)
    TxSql.sql(spark, "MERGE INTO mergevo_plain AS t USING mergevo_s AS s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(TxLog.snapshot(spark, plain).columns.toSeq ==
      Seq("id", "payload"), "plain MERGE must not evolve the schema")
    val res = TxSql.sql(spark,
      "MERGE WITH SCHEMA EVOLUTION INTO mergevo_t AS t " +
        "USING mergevo_s AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    assert(res.collect().head.getLong(2) == 1L) // one commit: v1
    val got = TxLog.snapshot(spark, t).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((0L, "v0", -1L), (1L, "v1b", 77L), (2L, "v2", -1L),
      (9L, "v9", 99L)), s"evolved state: $got")
    // the evolution rode the MERGE commit itself — no separate ALTER —
    // and time travel to v0 still serves the pre-evolution schema
    assert(TxLog.versions(t) == Seq(0L, 1L))
    assert(!TxLog.snapshot(spark, t, Some(0L)).columns.contains("score"))
    spark.catalog.dropTempView("mergevo_s")
  }

  // ---- S71: CREATE TABLE / INSERT INTO statements ----------------------------

  test("CREATE TABLE USING graft declares an empty readable table; " +
      "INSERT INTO appends positionally with declared-type casts; " +
      "arity mismatch and duplicate create reject") {
    import graft.sources.TxSql
    val loc = freshTable("createstmt")
    assert(loc.delete()) // CREATE wants a nonexistent/empty dir
    val res = TxSql.sql(spark, "CREATE TABLE create_probe (id BIGINT, " +
      s"payload STRING) USING graft LOCATION '${loc.getPath}'")
    assert(res.collect().head.getLong(2) == 0L)
    // empty declared table reads as an empty frame with the schema
    val empty = TxLog.snapshot(spark, loc)
    assert(empty.columns.toSeq == Seq("id", "payload") && empty.count() == 0)
    // VALUES: int literal lands in the BIGINT column positionally
    TxSql.sql(spark, "INSERT INTO create_probe VALUES (7, 'a')")
    TxSql.sql(spark,
      "INSERT INTO create_probe SELECT 8, 'b' UNION ALL SELECT 9, 'c'")
    val got = TxLog.snapshot(spark, loc).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((7L, "a"), (8L, "b"), (9L, "c")), s"state: $got")
    intercept[Exception] { // 1 value for 2 declared columns
      TxSql.sql(spark, "INSERT INTO create_probe VALUES (10)")
    }
    intercept[Exception] { // the dir already has a log
      TxSql.sql(spark, "CREATE TABLE create_probe2 (x INT) USING graft " +
        s"LOCATION '${loc.getPath}'")
    }
  }

  test("CTAS creates declaration and first load in one commit, and a " +
      "PARTITIONED create prunes partitions on read") {
    import graft.sources.TxSql
    import spark.implicits._
    Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "x", 30L))
      .toDF("id", "grp", "n").createOrReplaceTempView("ctas_src")
    val loc = freshTable("ctasstmt"); assert(loc.delete())
    val res = TxSql.sql(spark, "CREATE TABLE ctas_probe USING graft " +
      s"PARTITIONED BY (grp) LOCATION '${loc.getPath}' " +
      "AS SELECT * FROM ctas_src")
    assert(res.collect().head.getLong(2) == 0L) // ONE commit: v0
    assert(TxLog.versions(loc) == Seq(0L))
    assert(TxLog.snapshot(spark, loc).count() == 3)
    // partition pruning works off the create-carried partCols
    val (pf, nKept, nPruned) = TxLog.snapshotPartitionPruned(
      spark, loc, m => m.get("grp").contains("x"))
    assert(nKept >= 1 && nPruned >= 1,
      s"partition prune kept $nKept pruned $nPruned")
    assert(pf.agg(sum(col("n"))).head.getLong(0) == 40L) // both x rows
    spark.catalog.dropTempView("ctas_src")
  }

  // ---- S75: BI-discovery statements (r14) ------------------------------------

  test("SHOW PARTITIONS lists live partition specs from the log; " +
      "dropped partitions disappear; non-partitioned tables reject") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("showparts")
    def slab(g: String, ks: Seq[Long]) =
      ks.map(i => (i, g)).toDF("n", "grp").coalesce(1)
    TxLog.createPartitioned(slab("a", Seq(1L, 2L)), t, Seq("grp")) // v0
    TxLog.append(slab("b", Seq(10L)), t)                           // v1
    TxLog.append(slab("c", Seq(20L)), t)                           // v2
    TxSql.register("showp_probe", t)
    val got = TxSql.sql(spark, "SHOW PARTITIONS showp_probe")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("grp=a", "grp=b", "grp=c"))
    // delete partition c's rows → its file leaves the live set → the
    // partition leaves the listing (log-only, no filesystem listing)
    TxLog.deleteWhere(spark, t, col("grp") === "c")
    val after = TxSql.sql(spark, "SHOW PARTITIONS showp_probe")
      .collect().map(_.getString(0)).toSeq
    assert(after == Seq("grp=a", "grp=b"))
    val flat = freshTable("showflat")
    TxLog.append(Seq((1L, "x")).toDF("n", "s").coalesce(1), flat)
    TxSql.register("showflat_probe", flat)
    intercept[Exception] {
      TxSql.sql(spark, "SHOW PARTITIONS showflat_probe")
    }
  }

  test("SHOW TBLPROPERTIES reports declarations: layout, constraints, " +
      "defaults, bloom specs, mapping — from log metadata alone") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("showprops")
    TxLog.append(Seq((1L, "x", 5L)).toDF("id", "grp", "n").coalesce(1), t)
    TxLog.alterRenameColumn(spark, t, "n", "qty")
    TxLog.alterAddConstraint(spark, t, "qty_pos", "qty > 0")
    TxLog.alterAddBloomIndex(spark, t, "id", bits = 4096, k = 3)
    TxSql.register("showtp_probe", t)
    val props = TxSql.sql(spark, "SHOW TBLPROPERTIES showtp_probe")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.format") == "graft-txlog")
    assert(props("constraint.qty_pos") == "qty > 0")
    assert(props("bloomindex.id") == "bits=4096,k=3")
    assert(props("columnMapping.qty") == "n") // logical → physical
    assert(props("graft.latestVersion") == "3")
    // keys are sorted (BI tools diff these listings)
    val keys = TxSql.sql(spark, "SHOW TBLPROPERTIES showtp_probe")
      .collect().map(_.getString(0)).toSeq
    assert(keys == keys.sorted)
  }

  test("SHOW CREATE TABLE reconstructs the declaration: schema, " +
      "IDENTITY markers, partitioning, location, and property clauses") {
    import graft.sources.TxSql
    val t = freshTable("showcreate"); assert(t.delete())
    TxLog.createEmpty(t,
      "id BIGINT, grp STRING, qty BIGINT",
      partCols = Seq("grp"), identityCols = Seq("id"))
    TxLog.alterAddConstraint(spark, t, "qty_pos", "qty > 0")
    TxSql.register("showct_probe", t)
    val stmt = TxSql.sql(spark, "SHOW CREATE TABLE showct_probe")
      .head().getString(0)
    assert(stmt.contains("CREATE TABLE showct_probe"))
    assert(stmt.contains("id BIGINT GENERATED ALWAYS AS IDENTITY"))
    assert(stmt.contains("PARTITIONED BY (grp)"))
    assert(stmt.contains(s"LOCATION '${t.getCanonicalPath}'"))
    assert(stmt.contains("'constraint.qty_pos' = 'qty > 0'"))
  }

  test("VACUUM DRY RUN lists exactly what the real VACUUM then deletes, " +
      "and touches nothing itself") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("vacdry")
    def slab(ks: Seq[Long]) =
      ks.map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1)
    TxLog.append(slab(Seq(1L)), t)                          // v0
    TxLog.append(slab(Seq(2L)), t)                          // v1
    TxLog.deleteWhere(spark, t, col("id") === 1L)           // v2: rewrite
    TxSql.register("vacdry_probe", t)
    val preview = TxSql.sql(spark,
      "VACUUM vacdry_probe RETAIN VERSION 2 DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(preview.nonEmpty, "the v0 pre-delete file should be reclaimable")
    // dry run touched nothing: every candidate still exists, the table
    // still time-travels to v0
    preview.foreach(p => assert(new java.io.File(t, p).exists(), p))
    assert(TxLog.snapshot(spark, t, Some(0L)).count() == 1)
    // the destructive form then deletes EXACTLY the previewed set
    val deleted = TxSql.sql(spark, "VACUUM vacdry_probe RETAIN VERSION 2")
      .head().getLong(2)
    assert(deleted == preview.size.toLong,
      s"vacuum deleted $deleted files, dry run previewed ${preview.size}")
    preview.foreach(p => assert(!new java.io.File(t, p).exists(), p))
    // and a second dry run now previews nothing
    assert(TxSql.sql(spark,
      "VACUUM vacdry_probe RETAIN VERSION 2 DRY RUN").count() == 0)
  }

  test("EXPLAIN renders plans through the statement surface, binding " +
      "registered names and travel clauses; no data is read") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("explain")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t)
    TxLog.append(Seq((3L, "c")).toDF("id", "s").coalesce(1), t)
    TxSql.register("expl_probe", t)
    val plain = TxSql.sql(spark,
      "EXPLAIN SELECT s, count(*) FROM expl_probe GROUP BY s")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plain.contains("Physical Plan"), s"no plan rendered:\n$plain")
    assert(plain.toLowerCase.contains("aggregate"))
    val traveled = TxSql.sql(spark,
      "EXPLAIN FORMATTED SELECT count(*) AS n FROM expl_probe " +
        "VERSION AS OF 0").collect().map(_.getString(0)).mkString("\n")
    assert(traveled.contains("Physical Plan"),
      s"travel EXPLAIN failed:\n$traveled")
    // the travel clause bound to the v0 snapshot view, not latest
    assert(traveled.contains("expl_probe_asof_0") ||
      traveled.toLowerCase.contains("scan"), traveled)
  }

  // ---- partition-scoped OPTIMIZE ---------------------------------------------

  test("OPTIMIZE WHERE compacts only the selected partition: other " +
      "partitions survive by file identity; content is preserved") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("optwhere")
    def slab(g: String, ks: Seq[Long]) =
      ks.map(i => (i, g)).toDF("n", "grp").coalesce(1)
    TxLog.createPartitioned(slab("a", Seq(1L)), t, Seq("grp")) // v0
    TxLog.append(slab("a", Seq(2L)), t)                        // v1
    TxLog.append(slab("a", Seq(3L)), t)                        // v2
    TxLog.append(slab("b", Seq(10L)), t)                       // v3
    TxSql.register("optw_probe", t)
    val before = TxLog.liveState(t, 3L).live.map(_.path)
    val bFiles = before.filter(_.contains("_p_grp=b"))
    assert(before.count(_.contains("_p_grp=a")) == 3 && bFiles.size == 1)
    val res = TxSql.sql(spark, "OPTIMIZE optw_probe WHERE grp = 'a'")
    assert(res.collect().head.getLong(2) == 4L)
    val after = TxLog.liveState(t, 4L).live.map(_.path)
    // grp=a's three fragments compacted; grp=b's file untouched BY PATH
    assert(after.count(_.contains("_p_grp=a")) < 3, s"a files: $after")
    assert(after.filter(_.contains("_p_grp=b")) == bFiles,
      "the unselected partition must survive by reference")
    val got = TxLog.snapshot(spark, t).orderBy(col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b")))
    // nothing matches: no commit
    assert(TxLog.compactWhere(spark, t,
      m => m.get("grp").contains("zzz"), 4) == -1L)
    assert(TxLog.versions(t).size == 5)
  }

  // ---- S72: IDENTITY columns -------------------------------------------------

  test("IDENTITY: gap-free atomic allocation across batches, explicit " +
      "values reject, a lost race never burns or duplicates ids") {
    import graft.sources.TxSql
    import spark.implicits._
    val loc = freshTable("identstmt"); assert(loc.delete())
    TxSql.sql(spark, "CREATE TABLE ident_probe (rid BIGINT GENERATED " +
      "ALWAYS AS IDENTITY, v STRING) USING graft " +
      s"LOCATION '${loc.getPath}'")
    TxSql.sql(spark, "INSERT INTO ident_probe VALUES ('a')")
    TxSql.sql(spark,
      "INSERT INTO ident_probe SELECT 'b' UNION ALL SELECT 'c'")
    val ids = TxLog.snapshot(spark, loc).select(col("rid"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"ids: $ids")
    // ALWAYS identity: a writer-supplied value rejects
    intercept[Exception] {
      TxLog.append(Seq((99L, "x")).toDF("rid", "v"), loc)
    }
    // the rejected append burned nothing: the next insert continues at 4
    TxSql.sql(spark, "INSERT INTO ident_probe VALUES ('d')")
    val ids2 = TxLog.snapshot(spark, loc).select(col("rid"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids2 == Seq(1L, 2L, 3L, 4L), s"ids after reject: $ids2")
    // concurrent inserters race losslessly: 3 × 2 rows land as 5..10
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(3)
    val fs = (1 to 3).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long =
          TxLog.append(Seq(s"p${i}a", s"p${i}b").toDF("v"), loc)
      })
    }
    fs.foreach(_.get()); pool.shutdown()
    val ids3 = TxLog.snapshot(spark, loc).select(col("rid"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids3 == (1L to 10L), s"ids after race: $ids3")
  }

  // ---- S70: type widening ----------------------------------------------------

  test("ALTER COLUMN TYPE widens metadata-only: zero files rewritten, " +
      "narrow files upcast at read, wide values land, narrowing rejects") {
    import graft.sources.TxSql
    import spark.implicits._
    val t = freshTable("widen")
    TxLog.append(Seq((1, 10), (2, 20)).toDF("id", "n").coalesce(1), t) // v0
    TxSql.register("widen_probe", t)
    val res = TxSql.sql(spark,
      "ALTER TABLE widen_probe ALTER COLUMN n TYPE BIGINT")          // v1
    assert(res.collect().head.getLong(2) == 1L)
    val c1 = TxLog.readCommit(t, 1L)
    assert(c1.adds.isEmpty && c1.removes.isEmpty,
      "widen must be metadata-only")
    // narrow file reads back under the widened declared type
    val snap = TxLog.snapshot(spark, t)
    assert(snap.schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    // a post-widen append carries a value no int32 could hold
    TxLog.append(Seq((3L, 5000000000L)).toDF("id", "n")
      .select(col("id").cast("int").as("id"), col("n")).coalesce(1), t)
    assert(TxLog.snapshot(spark, t).agg(sum(col("n"))).head.getLong(0)
      == 10L + 20L + 5000000000L)
    // time travel to v0 serves the original narrow schema
    assert(TxLog.snapshot(spark, t, Some(0L)).schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // narrowing (and sideways moves) reject
    intercept[IllegalArgumentException] {
      TxLog.alterWidenColumn(spark, t, "n", "INT")
    }
  }

  // ---- S68: row provenance --------------------------------------------------

  test("row provenance: _commit_version is the materializing commit, " +
      "bumps on rewrite, and composes with time travel") {
    val t = freshTable("prov")
    // single-file appends: the rewrite-bump assertion below relies on
    // id 0/1/2 sharing ONE file (a multi-file append would leave id 0
    // and 2 in untouched files, correctly keeping their load version)
    TxLog.append(rows(3).coalesce(1), t)       // v0: ids 0..2
    TxLog.append(rows(3, 100).coalesce(1), t)  // v1: ids 100..102
    def provOf(v: Option[Long]): Map[Long, Long] =
      TxLog.snapshotWithProvenance(spark, t, v)
        .select(col("id"), col("_commit_version"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p0 = provOf(None)
    assert((0L to 2L).forall(p0(_) == 0L) &&
      (100L to 102L).forall(p0(_) == 1L), s"initial provenance: $p0")
    // CoW delete rewrites ONLY the first file: its survivors move to the
    // deleting commit; the untouched file keeps its load version
    TxLog.deleteWhere(spark, t, col("id") === 1L) // v2
    val p1 = provOf(None)
    assert(p1(0L) == 2L && p1(2L) == 2L && !p1.contains(1L) &&
      (100L to 102L).forall(p1(_) == 1L), s"post-rewrite provenance: $p1")
    // provenance AS OF v1: the pre-rewrite view, original versions
    assert(provOf(Some(1L)) == p0)
  }

  test("OPTIMIZE backfills bloom bitsets for files written before the " +
      "index declaration") {
    import spark.implicits._
    val t = freshTable("bloomfill")
    def slab(ks: Seq[Long]) =
      ks.map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1)
    TxLog.append(slab(Seq(1L, 500L, 1000L)), t)                  // v0: pre
    TxLog.append(slab(Seq(2L, 501L, 999L)), t)                   // v1: pre
    TxLog.alterAddBloomIndex(spark, t, "id", bits = 4096, k = 3) // v2
    // pre-index files have no bitsets: an absent-in-range probe keeps both
    val (_, r0, _) = TxLog.snapshotPrunedEq(spark, t, "id", 700L)
    assert(r0 == 2, s"pre-compact prune read $r0")
    TxLog.compact(spark, t, targetFiles = 1)                     // v3
    assert(TxLog.readCommit(t, 3L).adds.forall(_.blooms.contains("id")),
      "compaction did not backfill bitsets")
    val (_, r1, tot1) = TxLog.snapshotPrunedEq(spark, t, "id", 700L)
    assert((r1, tot1) == (0, 1), s"post-compact prune read $r1 of $tot1")
    val (f2, r2, _) = TxLog.snapshotPrunedEq(spark, t, "id", 501L)
    assert(r2 == 1 && f2.filter(col("id") === 501L).count() == 1)
  }
}
