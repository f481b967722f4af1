package graft.sources

import graft.Query
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetOutputFormat,
  ParquetWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  Expression, Literal, Pmod, XxHash64}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions,
  ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Transactional commit-log table format (SURVEY.md §2.1 row S40,
  * round-9) — the ACID half that r8's layout operators simulated on raw
  * landings (r8 verdict gap #4): a versioned log of add/remove-file
  * actions over immutable parquet data files, giving
  *
  *   - ATOMIC commits: a commit is ONE file published by atomic rename
  *     into the next log slot — readers see all of a commit or none of
  *     it, never a half-written state (the same rename primitive as
  *     Tables.publishOnce, here per-version instead of per-landing);
  *   - OPTIMISTIC CONCURRENCY: two writers race to `rename(v)`; the
  *     loser's rename fails (the slot exists), it re-reads the log and
  *     retries at v+1 — serializable append without locks (the
  *     Delta/Iceberg protocol on a POSIX dir; an object store swaps the
  *     rename for a conditional put / commit service, same contract);
  *   - SNAPSHOT ISOLATION + TIME TRAVEL: a reader resolves the live file
  *     set from commits 0..v and reads those immutable files — a
  *     concurrent commit cannot change what it sees; any historical v
  *     reconstructs that table version exactly (the table-format twin of
  *     the S10 event-log PITR);
  *   - file-pruned COPY-ON-WRITE DELETE: only data files that CONTAIN
  *     matching rows (found via input_file_name over the snapshot, a
  *     file-count-bounded driver read) are rewritten; untouched files
  *     survive by reference — |affected files| cost, not |table|;
  *   - MERGE-ON-READ CDC APPLY: a changelog batch commits deletion
  *     vectors for the live rows it replaces plus one file of upserts,
  *     rewriting no data file — |batch| cost per commit, whatever the
  *     table size; small vectors ride inline in the log action. The
  *     replaced rows land as a change-data file beside the upserts, so
  *     the commit's change feed is read from its two files, not
  *     derived. The Spark work is the probe scan; its files are written
  *     on the driver, since the batch is already there;
  *   - ACID COMPACTION: S23's small-file OPTIMIZE as one commit that
  *     adds the binned rewrite and removes the fragments — readers
  *     switch atomically, and time travel still serves the pre-compact
  *     versions from the original files.
  *
  * Log layout: `<table>/_graft_log/%08d.json`, one JSON action per line
  * (`add` with path+rows, `cdc` with path+rows for a change-data file —
  * never live, read only by the change feed — `remove`, `dv`, `commit`
  * with the operation tag, plus the metadata actions [[Commit]] lists);
  * data files live in per-commit subdirectories and are referenced by
  * table-relative path. Nothing is ever overwritten in place — the log
  * and the data files are both append-only, which is what makes every
  * property above compose.
  *
  * Transactions: every writer that derives its commit from a snapshot
  * (its files, removes, DVs, metadata or checks depend on the base
  * version) commits through ONE loop, [[transact]], as one [[Commit]]
  * value. The loop reads the base version, lets the writer stage the
  * commit against it, and publishes into slot `base + 1` only; a lost
  * slot deletes what the attempt wrote and re-derives from the new
  * base, because a later-slot publish of stale work would resurrect
  * concurrently deleted rows, double concurrently appended ones, or
  * land files under metadata a racing ALTER already changed. Table
  * creation rejects a base other than -1, so a creator that loses slot
  * 0 fails instead of stacking onto someone else's table. The winner
  * writes a checkpoint when its version is due.
  *
  * Scale (100 TB): the log is metadata (bytes per commit, not per row);
  * snapshot resolution is a driver-side line scan of the log (a real
  * deployment checkpoints the action set every N commits — same
  * replay-vs-checkpoint trade as the S26 offset table); data-file reads
  * are ordinary pruned parquet scans, and every writer path over a
  * distributed frame (append, delete rewrite, compaction) is a
  * distributed write of only the files it touches.
  */
object TxLog {
  import org.apache.spark.sql.functions._

  private def logDir(table: File) = new File(table, "_graft_log")

  private def versionFile(table: File, v: Long) =
    new File(logDir(table), f"$v%08d.json")

  /** Committed versions, ascending. `\d{8,}` (not `{8}`): versionFile's
    * `%08d` format GROWS past 8 digits at version 100000000, and a fixed-
    * width match would make those commits invisible — the version probe
    * would restart low and corrupt the ordering (r9 advice).
    */
  def versions(table: File): Seq[Long] = {
    val fs = logDir(table).listFiles()
    if (fs == null) Seq.empty
    else fs.toSeq.map(_.getName).filter(_.matches("\\d{8,}\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted
  }

  /** Minimal JSON escaping for the relative paths we generate. */
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** One live data file: path, row count, and (round-12) optional
    * per-column min/max stats recorded at write time — the log-carried
    * data-skipping input (Delta's `stats` / Iceberg's manifest metrics):
    * a reader prunes files against simple predicates from the LOG alone,
    * zero footer reads for pruned files.
    */
  private[graft] case class Add(path: String, rows: Long,
    stats: Map[String, (Long, Long)] = Map.empty,
    blooms: Map[String, String] = Map.empty)

  /** One DELETION-VECTOR attachment (round-12, merge-on-read DELETE):
    * `path` is the live data file the vector applies to and `rows` how
    * many of THIS file's rows it tombstones — the count history/stats
    * subtract without reading data (the Delta DV model). The tombstoned
    * row positions live either in the sidecar parquet group `dvPath`
    * (rows (f, i), see [[dvSchema]]) or, for a small vector, INLINE in
    * the log action itself: `dvPath` is then empty and `positions`
    * holds them (Delta's inline DV storage — no file to write, read or
    * vacuum).
    */
  private[graft] case class Dv(path: String, dvPath: String, rows: Long,
      positions: Seq[Long] = Seq.empty) {
    def inline: Boolean = dvPath.isEmpty
  }

  /** Schema of a DV sidecar file: file key (see [[fileKeyExpr]]) and raw
    * row index. Fixed, so sidecar reads never infer it (a schema-less
    * parquet read launches a footer-sampling job).
    */
  private val dvSchema = StructType(Seq(StructField("f", StringType),
    StructField("i", LongType)))

  /** Most positions one file's DV may carry inline in a log action; a
    * larger vector goes to a sidecar file. Inline positions ride every
    * commit and checkpoint line and every reader's tombstone filter, so
    * the bound keeps those lines small; a CDC micro-batch touches far
    * fewer rows of any one file.
    */
  private val inlineDvMax = 256

  /** One CHECK-constraint delta: `expr = Some(text)` declares constraint
    * `name`, `expr = None` drops it (S59 — the Delta table-constraints
    * model: constraints live in the LOG and gate every incoming write).
    */
  private[graft] case class Constraint(name: String, expr: Option[String])

  /** One column-DEFAULT delta (round-13, S63): `expr = Some(text)`
    * declares a default for `col` (carried by the same commit as the
    * ADD COLUMNS metaData action), `expr = None` drops it (emitted by
    * DROP COLUMN so a later re-ADD of the name cannot inherit a stale
    * default). The declaring VERSION is the commit the action rides in —
    * readers fill the column only for files added BEFORE it — except
    * when `since` pins an EARLIER declaring version: a RENAME migrates
    * the default under the new name without moving its epoch (files
    * written between the original declaration and the rename physically
    * carry values and must never be re-filled).
    */
  private[graft] case class ColDefault(col: String, expr: Option[String],
    since: Option[Long] = None)

  /** One BLOOM-INDEX delta (round-13, S66 — Delta's bloom filter index):
    * `spec = Some((bits, k))` declares a per-file bloom filter on PHYSICAL
    * column `col` (every subsequent write carries a bloom bitset for the
    * column in its add actions), `spec = None` drops the index (new files
    * stop carrying blooms; existing bitsets stay harmlessly in the log).
    * The column is recorded under its physical name so RENAME composes
    * for free — physical names never change.
    */
  private[graft] case class BloomIdx(col: String, spec: Option[(Int, Int)])

  /** One commit's actions: what a writer stages, what [[commitBody]]
    * renders and what [[readCommit]] parses back. `metaMapping` (round-12)
    * is the column-mapping half of a metaData action: the FULL
    * logical→physical name map, present once the table has ever been
    * RENAMEd/DROPped (Delta column-mapping mode); absent = identity
    * (legacy logs parse unchanged). `ts` is the commit's deterministic
    * wall-time surrogate for TIMESTAMP AS OF binding, when the writer
    * stamped one. `cdc` lists change-data files: files the commit wrote
    * that are never live and hold the row images it deleted (see
    * [[applyChanges]]).
    */
  private[graft] case class Commit(op: String, adds: Seq[Add] = Seq.empty,
    removes: Seq[String] = Seq.empty, metaDdl: Option[String] = None,
    metaMapping: Option[String] = None, ts: Option[Long] = None,
    dvs: Seq[Dv] = Seq.empty, partCols: Option[String] = None,
    constraints: Seq[Constraint] = Seq.empty,
    colDefaults: Seq[ColDefault] = Seq.empty,
    bloomIdx: Seq[BloomIdx] = Seq.empty,
    copies: Seq[String] = Seq.empty,
    identities: Seq[(String, Long)] = Seq.empty,
    txns: Seq[(String, Long)] = Seq.empty,
    cdc: Seq[Add] = Seq.empty)

  private val addRe =
    ("""\{"add":\s*\{"path":\s*"((?:[^"\\]|\\.)+)",\s*"rows":\s*(\d+)""" +
      """(?:,\s*"stats":\s*\{([^}]*)\})?""" +
      """(?:,\s*"blooms":\s*\{([^}]*)\})?\}\}""").r
  private val bloomEntryRe = """"((?:[^"\\]|\\.)+)":\s*"([0-9a-f]*)"""".r
  private val statRe = """"((?:[^"\\]|\\.)+)":\s*\[(-?\d+),\s*(-?\d+)\]""".r
  private val dvRe =
    ("""\{"dv":\s*\{"path":\s*"((?:[^"\\]|\\.)+)",\s*"dvPath":\s*"((?:[^"\\]|\\.)+)",""" +
      """\s*"rows":\s*(\d+)\}\}""").r
  private val dvInlineRe =
    ("""\{"dv":\s*\{"path":\s*"((?:[^"\\]|\\.)+)",\s*"pos":\s*\[([0-9,\s]*)\],""" +
      """\s*"rows":\s*(\d+)\}\}""").r
  private val cdcRe =
    """\{"cdc":\s*\{"path":\s*"((?:[^"\\]|\\.)+)",\s*"rows":\s*(\d+)\}\}""".r
  private val removeRe =
    """\{"remove":\s*\{"path":\s*"((?:[^"\\]|\\.)+)"\}\}""".r
  private val opRe = """\{"commit":\s*\{"op":\s*"([^"]+)"[^}]*\}\}""".r
  private val tsRe =
    """\{"commit":\s*\{"op":\s*"[^"]+",\s*"ts":\s*(\d+)\}\}""".r
  private val metaRe =
    ("""\{"metaData":\s*\{"schemaDdl":\s*"((?:[^"\\]|\\.)+)"""" +
      """(?:,\s*"mapping":\s*"((?:[^"\\]|\\.)*)")?\}\}""").r
  private val partRe =
    """\{"partition":\s*\{"cols":\s*"((?:[^"\\]|\\.)+)"\}\}""".r
  private val constraintAddRe =
    ("""\{"constraint":\s*\{"name":\s*"([^"]+)",\s*""" +
      """"expr":\s*"((?:[^"\\]|\\.)+)"\}\}""").r
  private val constraintDropRe =
    """\{"constraint":\s*\{"name":\s*"([^"]+)",\s*"drop":\s*true\}\}""".r
  private val defaultAddRe =
    ("""\{"default":\s*\{"col":\s*"([^"]+)",\s*""" +
      """"expr":\s*"((?:[^"\\]|\\.)+)"(?:,\s*"since":\s*(\d+))?\}\}""").r
  private val defaultDropRe =
    """\{"default":\s*\{"col":\s*"([^"]+)",\s*"drop":\s*true\}\}""".r
  private val bloomIdxAddRe =
    ("""\{"bloomidx":\s*\{"col":\s*"([^"]+)",\s*"bits":\s*(\d+),""" +
      """\s*"k":\s*(\d+)\}\}""").r
  private val bloomIdxDropRe =
    """\{"bloomidx":\s*\{"col":\s*"([^"]+)",\s*"drop":\s*true\}\}""".r
  private val copyRe =
    """\{"copy":\s*\{"src":\s*"((?:[^"\\]|\\.)+)"\}\}""".r
  private val identityRe =
    """\{"identity":\s*\{"col":\s*"([^"]+)",\s*"next":\s*(\d+)\}\}""".r
  private val txnRe =
    """\{"txn":\s*\{"app":\s*"((?:[^"\\]|\\.)+)",\s*"batch":\s*(\d+)\}\}""".r

  /** A `dv` action line, sidecar or inline form. */
  private object DvAction {
    def unapply(line: String): Option[Dv] = line match {
      case dvRe(p, dp, r) => Some(Dv(unq(p), unq(dp), r.toLong))
      case dvInlineRe(p, ps, r) =>
        Some(Dv(unq(p), "", r.toLong,
          ps.split(",").iterator.map(_.trim).filter(_.nonEmpty)
            .map(_.toLong).toVector))
      case _ => None
    }
  }

  private def parseStats(s: String): Map[String, (Long, Long)] =
    if (s == null || s.isEmpty) Map.empty
    else statRe.findAllMatchIn(s).map(m =>
      unq(m.group(1)) -> (m.group(2).toLong, m.group(3).toLong)).toMap

  private def parseBlooms(s: String): Map[String, String] =
    if (s == null || s.isEmpty) Map.empty
    else bloomEntryRe.findAllMatchIn(s).map(m =>
      unq(m.group(1)) -> m.group(2)).toMap

  private[graft] def readCommit(table: File, v: Long): Commit = {
    val lines = Files.readAllLines(versionFile(table, v).toPath)
    import scala.jdk.CollectionConverters._
    var adds = Vector.empty[Add]
    var cdc = Vector.empty[Add]
    var removes = Vector.empty[String]
    var dvs = Vector.empty[Dv]
    var op = "unknown"
    var ts = Option.empty[Long]
    var meta = Option.empty[String]
    var mapping = Option.empty[String]
    var partCols = Option.empty[String]
    var constraints = Vector.empty[Constraint]
    var colDefaults = Vector.empty[ColDefault]
    var bloomIdx = Vector.empty[BloomIdx]
    var copies = Vector.empty[String]
    var identities = Vector.empty[(String, Long)]
    var txns = Vector.empty[(String, Long)]
    lines.asScala.foreach { line =>
      line match {
        // every captured string field UNESCAPES (r15 review: q()
        // escapes quote/backslash/control on the write side, so a
        // symmetric parse is what keeps an exotic path or DDL from
        // silently vanishing as an unmatched line)
        case addRe(p, r, s, b) =>
          adds :+= Add(unq(p), r.toLong, parseStats(s), parseBlooms(b))
        case cdcRe(p, r) => cdc :+= Add(unq(p), r.toLong)
        case removeRe(p) => removes :+= unq(p)
        case DvAction(d) => dvs :+= d
        case opRe(o) => op = o
        case metaRe(d, m) =>
          meta = Some(unq(d)); mapping = Option(m).map(unq)
        case partRe(c) => partCols = Some(unq(c))
        case constraintAddRe(n, e) =>
          constraints :+= Constraint(n, Some(unq(e)))
        case constraintDropRe(n) => constraints :+= Constraint(n, None)
        case defaultAddRe(c, e, s) =>
          colDefaults :+= ColDefault(c, Some(unq(e)),
            Option(s).map(_.toLong))
        case defaultDropRe(c) => colDefaults :+= ColDefault(c, None)
        case bloomIdxAddRe(c, b, k) =>
          bloomIdx :+= BloomIdx(c, Some((b.toInt, k.toInt)))
        case bloomIdxDropRe(c) => bloomIdx :+= BloomIdx(c, None)
        case copyRe(s) => copies :+= unq(s)
        case identityRe(c, n) => identities :+= (c -> n.toLong)
        case txnRe(a, b) => txns :+= (unq(a) -> b.toLong)
        case _ => ()
      }
      line match {
        case tsRe(t) => ts = Some(t.toLong)
        case _ => ()
      }
    }
    Commit(op, adds, removes, meta, mapping, ts, dvs, partCols, constraints,
      colDefaults, bloomIdx, copies, identities, txns, cdc)
  }

  /** Inverse of [[q]]'s escaping for constraint expression round-trips:
    * one left-to-right pass handling BOTH escape forms q emits —
    * `\uXXXX` control characters (a newline in a multi-line CHECK
    * expression) and `\"`/`\\` (sequential replaces would mis-handle a
    * literal backslash followed by a quote, and a bare backslash-dot
    * rule would decode an escaped newline to the literal text "u000a").
    */
  private def unq(s: String): String =
    """\\u([0-9a-fA-F]{4})|\\(.)""".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (m.group(1) != null) Integer.parseInt(m.group(1), 16).toChar.toString
        else m.group(2)))

  /** A per-version fold over a table's commit files: `zero` before the
    * first commit, `step(acc, commit v, v, table)` for each commit in
    * order. Memoized per (canonical table path, version) with the
    * recurrence fold(v) = step(fold(v−1), commit v), filled ITERATIVELY
    * up from the highest memoized version below `v` — a call reads only
    * the commits newer than its memo (amortized O(1) per new version),
    * and a recursive fill would recurse one frame per commit and blow the
    * stack on the long logs the checkpoint machinery exists for. Without
    * the memo every snapshot() would rescan the whole log (r11 code-review
    * finding). The walk reads `base+1 .. v`, which is sound because slots
    * are contiguous from 0 (publishes go to `base+1` or `last+1`) and
    * nothing deletes a commit file; committed files are immutable, so a
    * memoized answer never goes stale. `v` must be committed (or < 0).
    */
  private[graft] final class LogFold[A](zero: A)(
      step: (A, Commit, Long, File) => A) {
    private val memo =
      scala.collection.concurrent.TrieMap.empty[(String, Long), A]

    /** The memoized answer at `v`, without reading the log. */
    def memoized(table: File, v: Long): Option[A] =
      memo.get((table.getCanonicalPath, v))

    def apply(table: File, v: Long): A =
      if (v < 0) zero
      else {
        val key = table.getCanonicalPath
        memo.get((key, v)) match {
          case Some(a) => a
          case None =>
            var base = v - 1
            while (base >= 0 && !memo.contains((key, base))) base -= 1
            var acc = if (base < 0) zero else memo((key, base))
            var i = base + 1
            while (i <= v) {
              acc = step(acc, readCommit(table, i), i, table)
              memo.put((key, i), acc)
              i += 1
            }
            acc
        }
      }
  }

  private val metaFold = new LogFold[Option[(String, Option[String])]](None)(
    (acc, c, _, _) => c.metaDdl.map(d => (d, c.metaMapping)).orElse(acc))

  /** The table's declared (logical DDL, column mapping) AS OF `v`: the
    * newest metaData action at or below `v`, or None when the table has
    * never been ALTERed (readers then use the footers, the pre-evolution
    * behavior). The mapping half is the FULL logical→physical map once
    * the table entered column-mapping mode (any RENAME/DROP), None
    * before — both halves always travel in one metaData action, so they
    * fold together. Time travel may name a version past the latest, so
    * a memo miss clamps `v` to the newest committed version first.
    */
  private[graft] def metaAsOf(table: File, v: Long)
      : Option[(String, Option[String])] =
    metaFold.memoized(table, v).getOrElse(
      metaFold(table, versions(table).filter(_ <= v).lastOption.getOrElse(-1L)))

  private[graft] def schemaDdlAsOf(table: File, v: Long): Option[String] =
    metaAsOf(table, v).map(_._1)

  /** logical→physical column map as of `v` (identity when the table has
    * never been RENAMEd/DROPped). Wire form: `log1=phys1;log2=phys2`.
    */
  private[graft] def mappingAsOf(table: File, v: Long)
      : Map[String, String] =
    metaAsOf(table, v).flatMap(_._2).map(parseMapping).getOrElse(Map.empty)

  private def parseMapping(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split(";").iterator.map { e =>
      val Array(l, p) = e.split("=", 2); (l, p)
    }.toMap

  private def encodeMapping(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (l, p) => s"$l=$p" }.mkString(";")

  /** True once any metaData action carried a mapping — the table is in
    * column-mapping mode and newly ADDed columns need FRESH physical ids
    * (re-adding a dropped name must not resurrect old data).
    */
  private def mappingMode(table: File, v: Long): Boolean =
    metaAsOf(table, v).exists(_._2.isDefined)

  // ---- checkpoints (round-10, r9 verdict task 3) ---------------------------
  // Every `checkpointEvery` commits the committer materializes the FULL
  // live file set as `%08d.ckpt` (add-lines only, same wire grammar), so
  // snapshot resolution reads newest-checkpoint + tail instead of replaying
  // the whole log — O(checkpointEvery) driver reads at any log length, the
  // Delta `_last_checkpoint` discipline. Checkpoint content for a version
  // is deterministic, so a racing duplicate write is byte-identical and
  // REPLACE semantics are safe (unlike commit slots, which must never
  // replace).

  private val checkpointEvery = 10

  private def checkpointFile(table: File, v: Long) =
    new File(logDir(table), f"$v%08d.ckpt")

  /** Checkpointed versions, ascending. */
  private[graft] def checkpoints(table: File): Seq[Long] = {
    val fs = logDir(table).listFiles()
    if (fs == null) Seq.empty
    else fs.toSeq.map(_.getName).filter(_.matches("\\d{8,}\\.ckpt"))
      .map(_.stripSuffix(".ckpt").toLong).sorted
  }

  private def readCheckpoint(table: File, v: Long): (Seq[Add], Seq[Dv]) = {
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(checkpointFile(table, v).toPath)
      .asScala.toSeq
    (lines.collect { case addRe(p, r, s, b) =>
      Add(unq(p), r.toLong, parseStats(s), parseBlooms(b)) },
      lines.flatMap(DvAction.unapply))
  }

  private def maybeCheckpoint(table: File, v: Long): Unit =
    if (v > 0 && v % checkpointEvery == 0) {
      // A checkpoint is a read-path OPTIMIZATION, never part of the commit
      // contract: the callers run this AFTER the commit slot is published,
      // and a thrown IO error here would surface as a failed commit to a
      // caller whose data is already durable — a retry would then write and
      // commit the batch a second time (r10 advice). Swallow non-fatal
      // failures; the next eligible commit simply re-attempts.
      try {
        val st = liveState(table, v)
        val body = (st.live.map(renderAdd) ++
          st.dvs.values.flatten.map(renderDv))
          .mkString("", "\n", "\n")
        val tmp = new File(logDir(table),
          s".ckpt-${ProcessHandle.current.pid}-${System.nanoTime()}-" +
            s"${Thread.currentThread().getId}")
        Files.writeString(tmp.toPath, body)
        Files.move(tmp.toPath, checkpointFile(table, v).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        ()
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Live table state as of a version: the live file set, the deletion-
    * vector attachments per live file (a remove OR re-add of a data file
    * drops its DVs — a rewritten file's rows have new positions), and
    * the resolution cost pair (base checkpoint or -1, commits replayed).
    */
  private[graft] case class LiveState(live: Seq[Add],
      dvs: Map[String, Seq[Dv]], base: Long, replayed: Int) {
    /** Logical row count: add bookkeeping minus live DV tombstones. */
    def rowCount: Long =
      live.map(_.rows).sum - dvs.values.flatten.map(_.rows).sum
  }

  private[graft] def liveState(table: File, v: Long): LiveState = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Add]
    val dv = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Dv]]
    val base = checkpoints(table).filter(_ <= v).lastOption
    base.foreach { cv =>
      val (adds, dvs) = readCheckpoint(table, cv)
      adds.foreach(a => live(a.path) = a)
      dvs.foreach(d => dv(d.path) = dv.getOrElse(d.path, Vector.empty) :+ d)
    }
    val tail = versions(table).filter(ver =>
      ver <= v && base.forall(ver > _))
    tail.foreach { ver =>
      val c = readCommit(table, ver)
      c.removes.foreach { p => live.remove(p); dv.remove(p) }
      c.adds.foreach { a => live(a.path) = a; dv.remove(a.path) }
      c.dvs.foreach(d => dv(d.path) = dv.getOrElse(d.path, Vector.empty) :+ d)
    }
    LiveState(live.values.toSeq,
      dv.view.filterKeys(live.contains).mapValues(_.toSeq).toMap,
      base.getOrElse(-1L), tail.size)
  }

  /** Atomically occupy commit slot `target` with `body`, iff free.
    * The publish primitive is hard-link CREATE-IF-ABSENT, not rename:
    * POSIX rename(2) — what Files.move(ATOMIC_MOVE) compiles to —
    * silently REPLACES an existing target, so a rename-based publish
    * cannot detect a lost race and concurrent committers would clobber
    * each other's committed versions (r9 advice, verified on-host).
    * Files.createLink fails atomically with FileAlreadyExistsException
    * when the slot is taken — the semantics optimistic concurrency needs.
    */
  private def publishSlot(target: File, body: String): Boolean = {
    // pid in the staged name: thread ids are small per-JVM counters, so
    // nanoTime+threadId alone can collide across concurrent PROCESSES and
    // one writer's writeString would truncate another's staged temp before
    // it links (r10 advice)
    val tmp = new File(target.getParentFile,
      s".tmp-${ProcessHandle.current.pid}-${System.nanoTime()}-" +
        s"${Thread.currentThread().getId}")
    Files.writeString(tmp.toPath, body)
    try {
      Files.createLink(target.toPath, tmp.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      Files.deleteIfExists(tmp.toPath)
      ()
    }
  }

  /** One add-action wire line; stats ride the line when present (and so
    * survive checkpoint round-trips — the checkpoint body uses this too).
    */
  private def renderAdd(a: Add): String = {
    val stats =
      if (a.stats.isEmpty) ""
      else a.stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s"${q(c)}: [$lo, $hi]"
      }.mkString(""", "stats": {""", ", ", "}")
    val blooms =
      if (a.blooms.isEmpty) ""
      else a.blooms.toSeq.sortBy(_._1).map { case (c, hex) =>
        s"${q(c)}: ${q(hex)}"
      }.mkString(""", "blooms": {""", ", ", "}")
    s"""{"add": {"path": ${q(a.path)}, "rows": ${a.rows}$stats$blooms}}"""
  }

  private def renderDv(d: Dv): String =
    if (d.inline)
      s"""{"dv": {"path": ${q(d.path)}, "pos": """ +
        d.positions.mkString("[", ", ", "]") + s""", "rows": ${d.rows}}}"""
    else
      s"""{"dv": {"path": ${q(d.path)}, "dvPath": ${q(d.dvPath)}, """ +
        s""""rows": ${d.rows}}}"""

  private def renderConstraint(c: Constraint): String = c.expr match {
    case Some(e) =>
      s"""{"constraint": {"name": ${q(c.name)}, "expr": ${q(e)}}}"""
    case None =>
      s"""{"constraint": {"name": ${q(c.name)}, "drop": true}}"""
  }

  private def renderBloomIdx(b: BloomIdx): String = b.spec match {
    case Some((bits, k)) =>
      s"""{"bloomidx": {"col": ${q(b.col)}, "bits": $bits, "k": $k}}"""
    case None =>
      s"""{"bloomidx": {"col": ${q(b.col)}, "drop": true}}"""
  }

  private def renderDefault(d: ColDefault): String = d.expr match {
    case Some(e) =>
      s"""{"default": {"col": ${q(d.col)}, "expr": ${q(e)}""" +
        d.since.map(v => s""", "since": $v""").getOrElse("") + "}}"
    case None =>
      s"""{"default": {"col": ${q(d.col)}, "drop": true}}"""
  }

  /** The wire form of `c`: one JSON action per line, in a fixed order
    * (adds, change-data files, removes, DVs, partition, constraints,
    * defaults, bloom specs, copies, identities, txns, metaData, then the
    * commit line), so the same actions always render byte-identically.
    */
  private def commitBody(c: Commit): String =
    (c.adds.map(renderAdd) ++
      c.cdc.map(f =>
        s"""{"cdc": {"path": ${q(f.path)}, "rows": ${f.rows}}}""") ++
      c.removes.map(p => s"""{"remove": {"path": ${q(p)}}}""") ++
      c.dvs.map(renderDv) ++
      c.partCols.map(p => s"""{"partition": {"cols": ${q(p)}}}""") ++
      c.constraints.map(renderConstraint) ++
      c.colDefaults.map(renderDefault) ++
      c.bloomIdx.map(renderBloomIdx) ++
      c.copies.map(s => s"""{"copy": {"src": ${q(s)}}}""") ++
      c.identities.map { case (ic, n) =>
        s"""{"identity": {"col": ${q(ic)}, "next": $n}}""" } ++
      c.txns.map { case (a, b) =>
        s"""{"txn": {"app": ${q(a)}, "batch": $b}}""" } ++
      c.metaDdl.map(d => s"""{"metaData": {"schemaDdl": ${q(d)}""" +
        c.metaMapping.map(m => s""", "mapping": ${q(m)}""").getOrElse("") +
        "}}") :+
      (s"""{"commit": {"op": ${q(c.op)}""" +
        c.ts.map(t => s""", "ts": $t""").getOrElse("") + "}}"))
      .mkString("", "\n", "\n")

  /** One attempt of [[transact]]: the base version `v` its commit derives
    * from, the live state at `v` (resolved on first use, so writers that
    * never read it never pay for it), and the groups it wrote — deleted
    * unless its commit is the one published.
    */
  private[graft] final class Attempt private[TxLog] (val table: File,
      val v: Long) {
    lazy val st: LiveState = liveState(table, v)
    private var groups = Vector.empty[String]

    /** A fresh group name (see [[newGroup]]), deleted by [[discard]]. */
    private def track(prefix: String): String = {
      val sub = newGroup(prefix)
      groups :+= sub
      sub
    }

    /** Reject a base other than -1 with `msg`: table creation never
      * stacks onto an existing log, whether it was there up front or won
      * slot 0 during the attempt.
      */
    def requireEmpty(msg: => String): Unit = require(v < 0, msg)

    /** `v`, rejecting a table with no commits for writer `op`. */
    def base(op: String): Long = {
      require(v >= 0, s"TxLog $op: no commits in $table")
      v
    }

    /** Write `df` as a fresh data group (see [[writeFiles]]) whose
      * bitsets follow the bloom specs as of `v`.
      */
    def write(df: DataFrame, tag: String,
        partCols: Seq[String] = partitionColsOf(table)): Seq[Add] =
      writeFiles(df, table, tag, partCols, v, track)

    /** Write driver-held `parts` (physical column names) as a fresh data
      * group from the driver, one file per non-empty part, laid out and
      * bloom-indexed as of `v` (see [[writeRows]]); the [[Add]]s of each
      * part.
      */
    def writeRows(spark: SparkSession, parts: Seq[Seq[Row]],
        schema: StructType, tag: String): Seq[Seq[Add]] =
      TxLog.writeRows(spark, parts, schema, table, track(s"d_$tag"),
        partitionColsOf(table), bloomsAsOf(table, v))

    /** Write (file key, position) tombstones, schema [[dvSchema]], as one
      * DV sidecar group; returns its table-relative name.
      */
    def sidecar(tombs: DataFrame): String = {
      val sub = track("dv")
      tombs.coalesce(1).write.parquet(new File(table, sub).getAbsolutePath)
      sub
    }

    /** [[sidecar]] for driver-held tombstones, written from the driver. */
    def sidecar(spark: SparkSession, tombs: Seq[Row]): String = {
      val sub = track("dv")
      TxLog.writeRows(spark, Seq(tombs), dvSchema, table, sub)
      sub
    }

    private[TxLog] def discard(): Unit =
      groups.foreach(g => graft.Tables.rmTree(new File(table, g)))
  }

  /** The one commit loop for snapshot-derived writers. Each attempt reads
    * the base version (one `versions` listing; -1 for an empty table),
    * lets `stage` derive the commit against it, and publishes into slot
    * `base + 1` ONLY. Contract:
    *
    *   - `stage` returning None is a no-op: nothing commits, -1 returns;
    *   - a lost slot means another commit landed after the base, so the
    *     staged work is stale: what the attempt wrote ([[Attempt.write]],
    *     [[Attempt.sidecar]]) is deleted and `stage` re-runs on the new
    *     base. Retrying stale work into a later slot would resurrect
    *     concurrently deleted rows and double concurrently appended ones
    *     (r11 code-review finding). A thrown `stage` deletes them too;
    *   - a creator's `stage` rejects any base but -1, so losing slot 0
    *     re-derives into that rejection rather than stacking a second
    *     declaration onto someone else's table;
    *   - the winner writes the checkpoint when its version is due.
    *
    * Returns the committed version. A commit that does not depend on the
    * base (a blind append) is a `stage` that ignores it.
    */
  private[graft] def transact(table: File)(
      stage: Attempt => Option[Commit]): Long = {
    var committed = -1L
    while (committed < 0) {
      val a = new Attempt(table, versions(table).lastOption.getOrElse(-1L))
      try stage(a) match {
        case None => return -1L
        case Some(c) =>
          logDir(table).mkdirs()
          if (publishSlot(versionFile(table, a.v + 1), commitBody(c)))
            committed = a.v + 1
      } finally if (committed < 0) a.discard()
    }
    maybeCheckpoint(table, committed)
    committed
  }

  /** Tuple-signature public commit (no stats/mapping/ts) — the original
    * S40 surface.
    */
  def commit(table: File, adds: Seq[(String, Long)], removes: Seq[String],
      op: String, metaDdl: Option[String] = None): Long = {
    val c = Commit(op, adds.map { case (p, r) => Add(p, r) }, removes, metaDdl)
    transact(table)(_ => Some(c))
  }

  private val groupSeq = new java.util.concurrent.atomic.AtomicLong

  /** A fresh group directory name. Nanos alone can COLLIDE across threads
    * racing the same commit slot (observed once in the 4-writer race
    * spec: both landed in one group dir and the shared `_temporary` broke
    * the second task commit) — the per-JVM sequence makes the name unique
    * unconditionally.
    */
  private def newGroup(prefix: String): String =
    s"${prefix}_${System.nanoTime()}_${groupSeq.incrementAndGet()}"

  /** Write `df` as a fresh immutable file group under the table dir —
    * the writer for DISTRIBUTED frames (append, rewrites, compaction):
    * one Spark write job through Spark's output committer. Returns one
    * [[Add]] (relative path, row count, per-column min/max stats for
    * integral columns) per data file. Counts AND stats come from the
    * Parquet footers the write just produced, read on the driver
    * (Iceberg's file-metrics collection): no Spark job, and the stats
    * are the data-skipping input [[snapshotPruned]] prunes against with
    * zero footer reads at query time. Integral columns only: min/max
    * compare exactly in i64, no float-rounding or collation hazards in
    * the prune. Files carry bloom bitsets for the indexes declared as of
    * `base` (-1: none). The group is named by `group` from the prefix
    * `d_<tag>`; writers inside [[transact]] go through [[Attempt.write]],
    * whose `group` also tracks it for cleanup. Rows already on the
    * driver go through [[writeRows]] instead.
    */
  private[graft] def writeFiles(df: DataFrame, table: File, tag: String,
      partCols: Seq[String] = Seq.empty, base: Long = -1L,
      group: String => String = newGroup): Seq[Add] = {
    val sub = group(s"d_$tag")
    val dir = new File(table, sub)
    if (partCols.isEmpty) df.write.parquet(dir.getAbsolutePath)
    else {
      // Hive-style partition dirs carry a `_p_` DUPLICATE of each
      // partition column (cast to string — the directory value domain),
      // so the data files keep the column itself: reads stay
      // self-contained single scans with no basePath/dir-inference
      // reconstruction — which a clone's external `../` references and
      // mixed-layout live sets (pre-partitioning files, compacted
      // groups) would break. The duplicate costs bytes-per-value on
      // disk, not a second column in the LOGICAL schema.
      val dup = partCols.foldLeft(df)((d, c) =>
        d.withColumn(s"_p_$c", col(c).cast("string")))
      dup.write.partitionBy(partCols.map(c => s"_p_$c"): _*)
        .parquet(dir.getAbsolutePath)
    }
    val spark = df.sparkSession
    val statCols = integralCols(df.schema)
    // declared bloom indexes whose (physical) column this frame carries:
    // their bitsets need the values, so an indexed table pays one
    // aggregate over the fresh group (k collect_sets per column, bytes
    // bits/8 per file per column in the log); an unindexed one pays
    // nothing
    val bloomCols = bloomsAsOf(table, base).toSeq.sortBy(_._1)
      .filter { case (c, _) => statCols.contains(c) }
    val bloomsByUri =
      if (bloomCols.isEmpty) Map.empty[String, Map[String, String]]
      else {
        val aggs = bloomCols.zipWithIndex.flatMap { case ((c, (bits, k)), ci) =>
          (0 until k).map(i => collect_set(Bridge.column(
            bloomBit(Bridge.expression(col(c)), i, bits))).as(s"_bl_${ci}_$i"))
        }
        spark.read.schema(df.schema).parquet(dir.getAbsolutePath)
          .groupBy(input_file_name().as("f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            r.getString(0) -> bloomCols.zipWithIndex.map {
              case ((c, (bits, k)), ci) => c -> bloomHex((0 until k).flatMap(
                i => r.getAs[scala.collection.Seq[Long]](s"_bl_${ci}_$i")), bits)
            }.toMap
          }.toMap
      }
    def walk(d: File): Seq[File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case f if f.isDirectory => walk(f)
        case f if f.getName.endsWith(".parquet") => Seq(f)
        case _ => Seq.empty
      }
    // input_file_name() yields URI strings (space → %20, a Hive-escaped
    // value's % → %25) — decode to raw filesystem paths before matching
    // against the walked names
    val bloomsRaw = bloomsByUri.map { case (u, v) =>
      (try new java.net.URI(u).getPath catch {
        case _: java.net.URISyntaxException => u
      }) -> v
    }
    walk(dir).sortBy(_.getName).map { f =>
      // match on the GROUP-relative path, never the basename alone: a
      // partitioned write puts the SAME part filename into every
      // partition directory of a task, and a basename match would hand
      // every such Add one arbitrary sibling's bitsets
      val rel = dir.toPath.relativize(f.toPath).toString
      val reader = ParquetFileReader.open(new LocalInputFile(f.toPath))
      val (n, stats) = try footerStats(reader.getFooter, statCols)
        finally reader.close()
      val blooms = bloomsRaw.collectFirst {
        case (u, v) if u.endsWith(s"/$rel") => v
      }.getOrElse(Map.empty[String, String])
      Add(s"$sub/$rel", n, stats, blooms)
    }
  }

  /** Write rows ALREADY ON THE DRIVER as the file group `sub` (table-
    * relative), from the driver: one Parquet file per non-empty part of
    * `parts`, whose rows follow `schema` (physical column names); returns
    * each part's [[Add]]s, an empty part none. A CDC micro-batch is a
    * few hundred rows, so the write job [[writeFiles]] would run — its
    * scheduling, the output committer's `_temporary` renames, and Hadoop's
    * local filesystem, which forks `chmod` for every permission it sets
    * and writes `.crc` and `_SUCCESS` files — costs far more than the
    * bytes. The files are the ones that job writes:
    *
    *   - the Hadoop conf is prepared by the call a Spark write task makes
    *     (`ParquetUtils.prepareWrite`: the session's codec, timestamp
    *     type, legacy format, rebase and field-ID settings) and Spark's
    *     own `ParquetWriteSupport` encodes the rows;
    *   - files are named `part-<part>-<uuid>-c000.<codec>.parquet`, or
    *     `….c000.…` inside the `_p_` Hive directories of a `partCols`
    *     layout (the value as [[writeFiles]] casts it, the directory
    *     name as Spark's writer escapes it);
    *   - a row's position (`_metadata.row_index`) is its index among its
    *     part's rows in that file;
    *   - bitsets follow `blooms` (physical column → (bits, k)) through
    *     the same expression as [[writeFiles]]' aggregate ([[bloomBit]]),
    *     and counts and stats come from the footer the writer just built.
    *
    * Written through parquet's `LocalOutputFile`: the local filesystem
    * only, like the rest of the log.
    */
  private[graft] def writeRows(spark: SparkSession, parts: Seq[Seq[Row]],
      schema: StructType, table: File, sub: String,
      partCols: Seq[String] = Seq.empty,
      blooms: Map[String, (Int, Int)] = Map.empty): Seq[Seq[Add]] = {
    if (parts.forall(_.isEmpty)) return parts.map(_ => Seq.empty[Add])
    val sqlConf = spark.sessionState.conf
    val conf = {
      val job = org.apache.hadoop.mapreduce.Job.getInstance(
        spark.sessionState.newHadoopConf())
      ParquetUtils.prepareWrite(sqlConf, job, schema,
        new ParquetOptions(Map.empty[String, String], sqlConf))
      job.getConfiguration
    }
    val codec = ParquetOutputFormat.getCompression(conf)
    def bound(c: String) = {
      val at = schema.fieldIndex(c)
      BoundReference(at, schema(at).dataType, nullable = true)
    }
    val statCols = integralCols(schema)
    val bloomExprs = blooms.toSeq.collect {
      case (c, (bits, k)) if statCols.contains(c) =>
        (c, bits, (0 until k).map(i => bloomBit(bound(c), i, bits)))
    }
    val partValues = partCols.map(c => c ->
      Cast(bound(c), StringType, Some(sqlConf.sessionLocalTimeZone)))
    def partDir(r: InternalRow): String = partValues.map { case (c, e) =>
      ExternalCatalogUtils.getPartitionPathString(s"_p_$c",
        Option(e.eval(r)).map(_.toString).orNull)
    }.mkString("/")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val uuid = java.util.UUID.randomUUID()
    // Spark's partitioned writer counts files as `.c000`, its plain one
    // as `-c000`
    val counter = if (partCols.isEmpty) "-c000" else ".c000"
    parts.zipWithIndex.map { case (rows, part) =>
      val internal = rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])
      internal.groupBy(partDir).toSeq.sortBy(_._1).map { case (d, rs) =>
        val name =
          f"part-$part%05d-$uuid$counter${codec.getExtension}.parquet"
        val rel = if (d.isEmpty) name else s"$d/$name"
        val f = new File(new File(table, sub), rel)
        f.getParentFile.mkdirs()
        // the writer properties a Spark write task's ParquetOutputFormat
        // reads from the same conf
        import ParquetOutputFormat._
        val w = new RowWriterBuilder(new LocalOutputFile(f.toPath))
          .withConf(conf)
          .withCompressionCodec(codec)
          .withRowGroupSize(getLongBlockSize(conf))
          .withPageSize(getPageSize(conf))
          .withDictionaryPageSize(getDictionaryPageSize(conf))
          .withDictionaryEncoding(getEnableDictionary(conf))
          .withWriterVersion(getWriterVersion(conf))
          .withValidation(getValidation(conf))
          .withPageWriteChecksumEnabled(getPageWriteChecksumEnabled(conf))
          .build()
        try rs.foreach(w.write) finally w.close()
        val (n, stats) = footerStats(w.getFooter, statCols)
        Add(s"$sub/$rel", n, stats, bloomExprs.map { case (c, bits, es) =>
          c -> bloomHex(rs.flatMap(r => es.map(_.eval(r).asInstanceOf[Long])),
            bits)
        }.toMap)
      }
    }
  }

  /** A parquet writer of Spark's `InternalRow`s, through Spark's own
    * `ParquetWriteSupport`, into a parquet `OutputFile`.
    */
  private final class RowWriterBuilder(out: org.apache.parquet.io.OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](out) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(
        conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport
    override protected def getWriteSupport(
        conf: org.apache.parquet.conf.ParquetConfiguration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** The top-level integral columns of `schema`: the ones files carry
    * min/max stats (and may carry bloom bitsets) for.
    */
  private def integralCols(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType => f.name
    }.toSeq

  /** Hash `i` of a `bits`-wide bloom bitset on `value`:
    * `pmod(xxhash64(i, CAST(value AS BIGINT)), bits)`. The one definition
    * of a bit position: [[writeFiles]]' aggregate, [[writeRows]] and the
    * [[snapshotPrunedEqMulti]] probe all evaluate it.
    */
  private def bloomBit(value: Expression, i: Int, bits: Int): Expression =
    Pmod(new XxHash64(Seq(Literal(i), Cast(value, LongType))),
      Literal(bits.toLong))

  /** A bitset's log form: the big-endian hex of its `bits / 64` words,
    * bit `p` set for every position `p`.
    */
  private def bloomHex(positions: Iterable[Long], bits: Int): String = {
    val words = new Array[Long](bits / 64)
    positions.foreach(p => words(p.toInt >> 6) |= 1L << (p & 63))
    words.map(w => f"$w%016x").mkString
  }

  /** Row count and per-column [min, max] of one Parquet file, from its
    * footer's row-group statistics. A column gets no range when it holds
    * no non-null value, or when a row group carries no statistics for it
    * (a file without a range is never pruned).
    */
  private def footerStats(footer: ParquetMetadata, statCols: Seq[String])
      : (Long, Map[String, (Long, Long)]) = {
    import scala.jdk.CollectionConverters._
    val blocks = footer.getBlocks.asScala.toSeq
    val stats = statCols.flatMap { c =>
      val chunks = blocks.flatMap(_.getColumns.asScala
        .find(_.getPath.toArray.toSeq == Seq(c)).map(_.getStatistics))
      if (chunks.size != blocks.size || chunks.exists(_.isEmpty)) None
      else {
        val ranges = chunks.filter(_.hasNonNullValue).map(st =>
          (st.genericGetMin.asInstanceOf[Number].longValue,
            st.genericGetMax.asInstanceOf[Number].longValue))
        if (ranges.isEmpty) None
        else Some(c -> (ranges.map(_._1).min, ranges.map(_._2).max))
      }
    }.toMap
    (blocks.map(_.getRowCount).sum, stats)
  }

  /** logical→physical column rename before a write on a mapped table
    * (identity — returns `df` untouched — for the unmapped/legacy case).
    */
  private def toPhysical(df: DataFrame,
      mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(c).as(mapping.getOrElse(c, c))): _*)

  /** Read `paths` under the table's declared AS-OF schema: the reader
    * binds the PHYSICAL names (mapping-aware — pre-rename files keep
    * serving because the physical name never changed; files predating an
    * added column null-fill), then projects back to LOGICAL names in
    * declared order. Unmapped, never-ALTERed tables read raw (footers
    * own the schema — the pre-evolution behavior).
    */
  private[graft] def readAs(spark: SparkSession, table: File, v: Long,
      paths: Seq[String]): DataFrame =
    readBound(spark, table, v, paths)

  /** [[readAs]] with the DEFAULT fills as of `v` applied, plus `extra`
    * columns evaluated on each raw scan (per-file metadata such as
    * `_metadata.row_index` or `input_file_name()`, which must sit
    * directly over the scan). Absolute or canonical file paths, since
    * the fills key on the file's canonical path.
    */
  private def readBound(spark: SparkSession, table: File, v: Long,
      paths: Seq[String],
      extra: Seq[org.apache.spark.sql.Column] = Seq.empty): DataFrame = {
    def one(ps: Seq[String]): DataFrame = {
      val (raw, proj) = rawDeclared(spark, table, v, ps)
      raw.select(proj ++ extra: _*)
    }
    fillGroups(table, v, paths) match {
      case None => one(paths)
      case Some(groups) =>
        // per-epoch scans: each group reads once with its own fill set
        // (usually two groups — pre- and post-declaration files)
        groups.map { case (fills, ps) => applyFills(one(ps), fills) }
          .reduce(_ unionByName _)
    }
  }

  /** The raw physical-schema read of `paths` AS OF `v`, paired with the
    * physical→logical projection columns — callers that need per-file
    * metadata (input_file_name, row positions) append their own meta
    * columns to the projection before selecting. Never-ALTERed tables
    * read footer-owned with an identity projection.
    */
  private def rawDeclared(spark: SparkSession, table: File, v: Long,
      paths: Seq[String])
      : (DataFrame, Seq[org.apache.spark.sql.Column]) =
    metaAsOf(table, v) match {
      case Some((ddl, mapStr)) =>
        val logical = StructType.fromDDL(ddl)
        val m = mapStr.map(parseMapping).getOrElse(Map.empty)
        val phys = StructType(logical.fields.map(f =>
          f.copy(name = m.getOrElse(f.name, f.name))))
        val raw = spark.read.schema(phys).parquet(paths: _*)
        (raw, logical.fields.toSeq.map(f =>
          col(m.getOrElse(f.name, f.name)).as(f.name)))
      case None =>
        val raw = spark.read.parquet(paths: _*)
        (raw, raw.columns.toSeq.map(col))
    }

  /** Materialize active column DEFAULTS for declared columns the
    * incoming batch OMITS (S63's write-time half): post-declaration
    * files then physically carry the value, so the read-time fill never
    * needs to touch them — and an EXPLICITLY written null stays null.
    */
  private def withWriteDefaults(df: DataFrame, table: File,
      v: Long): DataFrame = {
    val act = defaultsAsOf(table, v)
    if (act.isEmpty) df
    else schemaDdlAsOf(table, v) match {
      case None => df
      case Some(ddl) =>
        val declared = StructType.fromDDL(ddl)
        act.foldLeft(df) { case (d, (c, (e, _))) =>
          if (d.columns.contains(c) || !declared.fieldNames.contains(c)) d
          else d.withColumn(c, expr(e).cast(declared(c).dataType))
        }
    }
  }

  /** Append `df` as one atomic commit; returns the version. On an
    * ALTERed table the write is schema-enforced ([[requireDeclared]]).
    */
  def append(df: DataFrame, table: File, ts: Option[Long] = None): Long =
    // the written files depend on the base version's metadata: a racing
    // RENAME would leave the group under stale physical names, and a
    // racing ADD CONSTRAINT would land violating rows after the
    // constraint commit (log and gate disagreeing about what the table
    // guarantees)
    transact(table) { a =>
      requireDeclared(table, a.v, df.schema, "append")
      // defaults/generated columns materialize BEFORE the gate: the
      // constraint must judge the rows as they will LAND (an omitted
      // generated column is filled here and passes its own
      // gen-constraint by construction)
      val defaulted = withWriteDefaults(df, table, a.v)
      // IDENTITY assignment (S72) precedes the gate so constraints
      // judge rows as they land; the advanced high-water mark rides
      // the SAME commit as the data — atomic allocation
      val (landing, advanced, idPin) = withIdentity(defaulted,
        identitiesAsOf(table, a.v))
      val files =
        try {
          enforceConstraints(table, a.v, landing, "append")
          // mapped tables store PHYSICAL names; the caller writes logical
          a.write(toPhysical(landing, mappingAsOf(table, a.v)), "append")
        } finally idPin.foreach(_.unpersist(false))
      Some(Commit("append", files, ts = ts, identities = advanced))
    }

  /** Reject columns the table's declared schema as of `v` lacks — writes
    * to an ALTERed table are schema-ENFORCED (the other half of S50's
    * evolution contract, the Delta discipline): a silently accepted
    * misspelled column would otherwise null-fill forever on read.
    * Missing declared columns stay legal (readers null-fill).
    */
  private def requireDeclared(table: File, v: Long, schema: StructType,
      op: String): Unit =
    schemaDdlAsOf(table, v).foreach { ddl =>
      val declared = StructType.fromDDL(ddl).fieldNames.toSet
      val unknown = schema.fieldNames.filterNot(declared)
      require(unknown.isEmpty,
        s"TxLog $op: column(s) not in the table's declared schema: " +
          s"${unknown.mkString(", ")} — ALTER TABLE ADD COLUMNS first")
    }

  /** Source files already loaded by COPY INTO as of `v` (canonical
    * absolute paths) — the load ledger is log metadata, bytes per commit.
    */
  private[graft] val copiedAsOf = new LogFold(Set.empty[String])(
    (acc, c, _, _) => acc ++ c.copies)

  /** COPY INTO (S67, round-13 — Delta's idempotent bulk load): load the
    * parquet files under `srcDir` that this table has NOT already
    * loaded, as ONE atomic commit that carries both the new data files
    * and a `copy` ledger action per consumed SOURCE file. Idempotence is
    * file-level and transactional: a re-run (or a retry after a crash
    * between write and commit) re-derives the fresh set from the log and
    * loads nothing twice, because the ledger travels in the same commit
    * as the data it admitted — the landing-zone exactly-once contract,
    * without any state outside the table. Returns the version, or -1
    * when every staged file is already loaded (no commit).
    *
    * The load itself is an append in every other respect: declared-
    * schema enforcement, default/generated materialization, constraint
    * gate, column-mapping translation, partition layout, bloom/stats
    * maintenance — all via the same code paths.
    *
    * Scale: the fresh-set diff is |staged files| driver-side names
    * against a log-resolved set; the data plane reads ONLY the fresh
    * files. A racing COPY INTO of the same directory loses the commit
    * slot, re-derives, and finds nothing fresh — exactly-once per file
    * under concurrency.
    */
  /** Identity assignment lives in the append path ([[withIdentity]]):
    * every other writer REJECTS on an identity table (r15 review) — a
    * staged/merged/applied batch missing the column passes schema
    * enforcement (missing declared columns are legal) and would land
    * NULL where GENERATED ALWAYS promises engine-assigned ids, while a
    * batch CARRYING the column would land arbitrary values without
    * advancing the high-water mark, so a later append re-assigns
    * duplicates. Loud rejection with the remedy named beats either
    * silent corruption.
    */
  private def requireNoIdentity(table: File, v: Long, op: String): Unit = {
    val ids = identitiesAsOf(table, v)
    require(ids.isEmpty,
      s"TxLog $op: table declares IDENTITY column(s) " +
        s"${ids.keys.toSeq.sorted.mkString(", ")} — identity assignment " +
        "is an append-path feature; route the rows through append")
  }

  def copyInto(spark: SparkSession, table: File, srcDir: File): Long =
    transact(table) { a =>
      requireNoIdentity(table, a.v, "COPY INTO")
      val already = copiedAsOf(table, a.v)
      val staged = Option(srcDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getCanonicalFile).sortBy(_.getName).toSeq
      require(staged.nonEmpty,
        s"TxLog COPY INTO: no .parquet files under $srcDir")
      val fresh = staged.filterNot(f => already.contains(f.getPath))
      Option.when(fresh.nonEmpty) { // empty: fully loaded, idempotent no-op
        val raw = spark.read.parquet(fresh.map(_.getPath): _*)
        requireDeclared(table, a.v, raw.schema, "COPY INTO")
        val landing = withWriteDefaults(raw, table, a.v)
        enforceConstraints(table, a.v, landing, "copy-into")
        val files = a.write(toPhysical(landing, mappingAsOf(table, a.v)),
          "copy")
        Commit("copy-into", files, copies = fresh.map(_.getPath))
      }
    }

  /** IDENTITY high-water marks as of `v`: column → next id to assign.
    * The latest `identity` action per column wins (each assigning
    * commit re-emits the advanced mark, so the fold is the allocation
    * ledger).
    */
  private[graft] val identitiesAsOf = new LogFold(Map.empty[String, Long])(
    (acc, c, _, _) => acc ++ c.identities)

  /** Assign IDENTITY values to a landing batch (S72 — Delta's
    * `GENERATED ALWAYS AS IDENTITY`, START 1 INCREMENT 1): each
    * identity column the batch does NOT carry gets `highWater + k` for
    * k = 1..n via per-partition offset ranges (zipWithIndex — ONE
    * count job for the offsets, no global sort, no shuffle: the Delta
    * allocation pattern). Gap-free per batch by construction; the
    * caller commits the advanced mark IN THE SAME COMMIT as the data,
    * so allocation is atomic and a lost race re-derives. A batch that
    * carries an ALWAYS-identity column explicitly is rejected — the
    * Delta rule (writers cannot supply ALWAYS values).
    */
  private def withIdentity(df: DataFrame, idents: Map[String, Long])
      : (DataFrame, Seq[(String, Long)], Option[DataFrame]) = {
    if (idents.isEmpty) return (df, Seq.empty, None)
    val supplied = idents.keys.filter(df.columns.contains)
    require(supplied.isEmpty,
      s"TxLog: column(s) ${supplied.mkString(", ")} are GENERATED " +
        "ALWAYS AS IDENTITY — writers cannot supply values")
    val spark = df.sparkSession
    // ONE materialization feeds the offset job, the mark count, AND the
    // downstream write (r13 advisor): unpersisted, zipWithIndex's
    // internal offset job, the count, and the write each re-evaluate
    // df — a non-deterministic source (sample/limit/rand) could commit
    // a high-water mark that doesn't match the ids actually assigned.
    // The caller unpersists after the files land.
    val pinned = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = pinned.count()
    val zipped = pinned.rdd.zipWithIndex()
    val cols = idents.toSeq.sortBy(_._1)
    val schema = StructType(df.schema.fields ++ cols.map { case (c, _) =>
      org.apache.spark.sql.types.StructField(c, LongType, nullable = false)
    })
    val out = spark.createDataFrame(
      zipped.map { case (row, idx) =>
        org.apache.spark.sql.Row.fromSeq(
          row.toSeq ++ cols.map { case (_, hw) => hw + idx })
      }, schema)
    (out, cols.map { case (c, hw) => c -> (hw + n) }, Some(pinned))
  }

  /** CREATE TABLE (S71, round-13): declare an EMPTY table — one commit
    * carrying the declared schema (and partitioning, when given), no
    * data files. Slot-0 only: losing the create race rejects rather
    * than stacking a second declaration onto someone else's table.
    */
  def createEmpty(table: File, schemaDdl: String,
      partCols: Seq[String] = Seq.empty,
      identityCols: Seq[String] = Seq.empty): Long = {
    val schema = StructType.fromDDL(schemaDdl)
    val missing = partCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, "TxLog CREATE TABLE: PARTITIONED BY " +
      s"column(s) not in the schema: ${missing.mkString(", ")}")
    identityCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(sys.error(
        s"TxLog CREATE TABLE: IDENTITY column `$c` not in the schema"))
      require(f.dataType == LongType,
        s"TxLog CREATE TABLE: IDENTITY column `$c` must be BIGINT, " +
          s"got ${f.dataType.sql}")
    }
    transact(table) { a =>
      a.requireEmpty(s"TxLog CREATE TABLE: $table already has a log")
      Some(Commit("create", metaDdl = Some(schema.toDDL),
        partCols = Option.when(partCols.nonEmpty)(partCols.mkString(",")),
        identities = identityCols.map(_ -> 1L)))
    }
  }

  /** CREATE TABLE AS SELECT (S71): declaration AND first data load in
    * ONE slot-0 commit — schema from the frame, files from one write.
    */
  def createAs(spark: SparkSession, table: File, df: DataFrame,
      partCols: Seq[String] = Seq.empty): Long = {
    val missing = partCols.filterNot(df.columns.contains)
    require(missing.isEmpty, "TxLog CREATE TABLE: PARTITIONED BY " +
      s"column(s) not in the data: ${missing.mkString(", ")}")
    transact(table) { a =>
      a.requireEmpty(s"TxLog CREATE TABLE: $table already has a log")
      Some(Commit("create", a.write(df, "create", partCols),
        metaDdl = Some(df.schema.toDDL),
        partCols = Option.when(partCols.nonEmpty)(partCols.mkString(","))))
    }
  }

  /** The table's declared schema (falling back to the snapshot's footer
    * schema for never-ALTERed tables) — what INSERT INTO binds
    * positionally against.
    */
  def declaredSchema(spark: SparkSession, table: File): StructType =
    schemaAt(spark, table, versions(table).lastOption.getOrElse(
      sys.error(s"TxLog: no commits in $table")))

  /** The declared schema as of `v`, else the snapshot's footer schema. */
  private def schemaAt(spark: SparkSession, table: File,
      v: Long): StructType =
    schemaDdlAsOf(table, v).map(StructType.fromDDL)
      .getOrElse(snapshot(spark, table, Some(v)).schema)

  // ---- partitioned tables (S58) -------------------------------------------

  private val partColsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  /** The table's declared partition columns (empty = unpartitioned).
    * Declared once, by the table-creating commit ([[createPartitioned]]),
    * and immutable for the table's lifetime — so the first declaration
    * found walking the log is THE answer and memoizes forever (Delta's
    * partitionColumns contract: repartitioning an existing table is a
    * rewrite into a new table, not a metadata flip — flipping would
    * orphan every already-committed file's layout).
    */
  private[graft] def partitionColsOf(table: File): Seq[String] = {
    val key = table.getCanonicalPath
    partColsMemo.get(key) match {
      case Some(c) => c
      case None =>
        // the layout is declared ONLY by the creating commit (v0 —
        // createPartitioned and clone are the two emit sites), so once
        // v0 exists ONE commit read decides and the answer memoizes
        // either way. The old form re-scanned the WHOLE log on every
        // call for unpartitioned tables — an O(log length) driver read
        // per write, forever (r15 review). An empty table stays
        // unmemoized: "unpartitioned" must not pin before v0 lands.
        if (versions(table).isEmpty) Seq.empty
        else {
          val found = readCommit(table, 0L).partCols
            .map(_.split(",").toSeq).getOrElse(Seq.empty)
          partColsMemo.put(key, found)
          found
        }
    }
  }

  /** Create `table` PARTITIONED BY `partCols` with `df` as its first
    * commit. Every later write path (append / delete / merge / compact /
    * overwrite) preserves the layout automatically; the partition VALUES
    * travel in the file paths (Hive-style `_p_<col>=<value>` segments),
    * so partition pruning needs the log alone — zero data or footer
    * reads for pruned files, same as S54's stats skipping but exact on
    * ANY value domain (strings included) and declared rather than
    * observed.
    */
  def createPartitioned(df: DataFrame, table: File,
      partCols: Seq[String], ts: Option[Long] = None): Long = {
    require(partCols.nonEmpty, "TxLog PARTITIONED BY: no columns given")
    val missing = partCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"TxLog PARTITIONED BY: column(s) not in the data: " +
        missing.mkString(", "))
    transact(table) { a =>
      a.requireEmpty(s"TxLog PARTITIONED BY: $table already has a log — " +
        "partitioning is declared at creation and immutable (rewrite " +
        "into a new table)")
      Some(Commit("create-partitioned", a.write(df, "append", partCols),
        ts = ts, partCols = Some(partCols.mkString(","))))
    }
  }

  /** Hive-style partition values carried by a file path: every
    * `_p_<col>=<value>` segment. Clone-inherited `../` prefixes pass
    * through unharmed — the parse keys on segment SHAPE, not position.
    * Unescaping is Hive's `%XX` convention ONLY (what Spark's writer
    * emits) — URLDecoder would additionally turn a literal `+` into a
    * space and corrupt the value. A null value writes as Hive's default
    * partition name and reads back as null.
    */
  private[graft] def partValsOf(path: String): Map[String, String] =
    path.split('/').toSeq.collect {
      case seg if seg.startsWith("_p_") && seg.contains('=') =>
        val Array(k, v) = seg.split("=", 2)
        k.stripPrefix("_p_") ->
          (if (v == "__HIVE_DEFAULT_PARTITION__") null else unpct(v))
    }.toMap

  private def unpct(s: String): String =
    """%([0-9A-Fa-f]{2})""".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        Integer.parseInt(m.group(1), 16).toChar.toString))

  /** DYNAMIC PARTITION OVERWRITE (Delta `replaceWhere` / Spark's
    * INSERT OVERWRITE … PARTITION semantics): atomically replace exactly
    * the partitions present in `df` — live files of those partitions
    * drop, `df` lands partitioned, every other partition's files survive
    * by reference, one commit. The CDC full-partition-reload primitive:
    * re-snapshotting one day of a 100-TB table costs that day, not the
    * table. A racing append into the same partition must not survive
    * the overwrite, which is why the remove set re-derives on a lost
    * slot.
    */
  def overwritePartitions(spark: SparkSession, table: File,
      df: DataFrame): Long = {
    val partCols = partitionColsOf(table)
    require(partCols.nonEmpty,
      s"TxLog OVERWRITE PARTITIONS: $table is not partitioned")
    // partition-count-bounded driver read: the distinct combos in df.
    // A null partition value matches partValsOf's null (the Hive default
    // partition) — a null-keyed reload must still drop the old files.
    val combos = df.select(partCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partCols.indices.map(i => partCols(i) -> r.getString(i))
        .toMap).toSet
    transact(table) { a =>
      val v = a.base("OVERWRITE PARTITIONS")
      requireLocalized(a.st, "OVERWRITE PARTITIONS")
      requireNoIdentity(table, v, "OVERWRITE PARTITIONS")
      // defaults materialize like append's (r15 review): an overwrite
      // omitting a defaulted column otherwise lands files that postdate
      // the declaration yet physically lack it — the read-time fill
      // (keyed on the write epoch) would never patch them and the rows
      // read NULL where append's would read the default
      val dfd = withWriteDefaults(df, table, v)
      // gate INSIDE the transaction (r12 advice), like append/overwriteAll:
      // a racing ADD CONSTRAINT between an up-front gate and the winning
      // slot would let violating rows commit after the constraint
      enforceConstraints(table, v, dfd, "OVERWRITE PARTITIONS")
      val removed = a.st.live.filter { f =>
        val pv = partValsOf(f.path)
        combos.exists(c => c.forall { case (k, vv) =>
          pv.get(k).exists(got => got == vv) })
      }.map(_.path)
      val files = a.write(toPhysical(dfd, mappingAsOf(table, v)),
        "overwrite")
      Some(Commit("overwrite", files, removed))
    }
  }

  /** Full-table INSERT OVERWRITE (the unpartitioned half of the
    * overwrite statement; [[overwritePartitions]] is the dynamic
    * partition-scoped half): atomically replace every live file with
    * `df`. One commit; old versions still time-travel.
    */
  def overwriteAll(spark: SparkSession, table: File,
      df: DataFrame): Long =
    transact(table) { a =>
      val v = a.base("OVERWRITE")
      requireLocalized(a.st, "OVERWRITE")
      requireNoIdentity(table, v, "OVERWRITE")
      // same write-side default materialization as append (r15 review)
      val dfd = withWriteDefaults(df, table, v)
      enforceConstraints(table, v, dfd, "OVERWRITE")
      val files = a.write(toPhysical(dfd, mappingAsOf(table, v)),
        "overwrite")
      Some(Commit("overwrite", files, a.st.live.map(_.path)))
    }

  /** Partition-pruned snapshot (S58): keep only live files whose
    * path-carried partition values satisfy `keep` — decided DRIVER-SIDE
    * from the log alone, before a single task launches; pruned files are
    * never opened (no data, no footer). Returns the pruned frame plus
    * (filesRead, filesPruned) so callers can assert the skip.
    */
  def snapshotPartitionPruned(spark: SparkSession, table: File,
      keep: Map[String, String] => Boolean)
      : (DataFrame, Int, Int) = {
    val v = versions(table).last
    val partCols = partitionColsOf(table)
    require(partCols.nonEmpty,
      s"TxLog PARTITION PRUNE: $table is not partitioned — on an " +
        "undeclared layout every file would conservatively match nothing")
    val st = liveState(table, v)
    // conservative on any file that does not carry the full layout
    // (none should exist — every write path preserves it — but a prune
    // must never silently DROP rows, same discipline as stats skipping
    // on stat-less columns): such a file is always kept
    val kept = st.live.filter { a =>
      val pv = partValsOf(a.path)
      partCols.exists(c => !pv.contains(c)) || keep(pv)
    }
    val frame =
      if (kept.isEmpty) {
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          snapshot(spark, table, Some(v)).schema)
        empty
      } else assemble(spark, table, v, kept, st.dvs)
    (frame, kept.size, st.live.size - kept.size)
  }

  // ---- CHECK constraints (S59) --------------------------------------------

  /** Active CHECK constraints AS OF `v` (name → expression text): the
    * log's constraint add/drop deltas folded in commit order.
    */
  private[graft] val constraintsAsOf =
    new LogFold(Map.empty[String, String])((acc, c, _, _) =>
      c.constraints.foldLeft(acc) {
        case (m, Constraint(n, Some(e))) => m + (n -> e)
        case (m, Constraint(n, None)) => m - n
      })

  /** Active column DEFAULTS as of `v`: col → (expr text, declaring
    * version), folded from the add/drop deltas like [[constraintsAsOf]].
    */
  private[graft] val defaultsAsOf =
    new LogFold(Map.empty[String, (String, Long)])((acc, c, v, _) =>
      c.colDefaults.foldLeft(acc) {
        case (m, ColDefault(col, Some(e), since)) =>
          m + (col -> (e, since.getOrElse(v)))
        case (m, ColDefault(col, None, _)) => m - col
      })

  /** TYPE WIDENING (S70, round-13 — Delta 4.0's metadata-only widen):
    * re-declare `column` at a WIDER type in one metadata commit — zero
    * data rewritten. Pre-widen files keep their narrow physical encoding
    * and upcast at read because every declared-schema read binds the
    * files under the declared types (Spark's parquet reader upcasts
    * int32→int64, float→double natively — probed on this image);
    * post-widen writers land the wide type physically. Only lossless
    * widenings are legal — narrowing would silently corrupt pre-widen
    * reads. Bloom bitsets survive: the hash input casts to BIGINT on
    * both the write and probe side, so a value's positions are identical
    * at either width. Time travel to a pre-widen version serves the
    * original narrow schema.
    */
  private val widenOk: Map[String, Set[String]] = Map(
    "TINYINT" -> Set("SMALLINT", "INT", "BIGINT"),
    "SMALLINT" -> Set("INT", "BIGINT"),
    "INT" -> Set("BIGINT"),
    "FLOAT" -> Set("DOUBLE"))

  def alterWidenColumn(spark: SparkSession, table: File, column: String,
      newType: String): Long =
    transact(table) { a =>
      val v = a.base("ALTER")
      val cur = schemaAt(spark, table, v)
      val f = cur.fields.find(_.name == column).getOrElse(sys.error(
        s"TxLog ALTER COLUMN: `$column` not in table schema " +
          cur.fieldNames.mkString("(", ", ", ")")))
      val from = f.dataType.sql.toUpperCase
      val to = org.apache.spark.sql.types.DataType
        .fromDDL(newType).sql.toUpperCase
      require(widenOk.get(from).exists(_.contains(to)),
        s"TxLog ALTER COLUMN: $from -> $to is not a lossless widening " +
          s"(legal: ${widenOk.map { case (k, vs) =>
            s"$k->{${vs.mkString(",")}}" }.mkString("; ")})")
      val evolved = StructType(cur.fields.map(x =>
        if (x.name == column)
          x.copy(dataType = org.apache.spark.sql.types.DataType
            .fromDDL(newType))
        else x))
      // the mapping (if any) is untouched: widening changes a TYPE, the
      // physical NAME stays — but the metaData action always carries
      // both halves together, so re-emit the current mapping verbatim
      Some(Commit("alter-widen", metaDdl = Some(evolved.toDDL),
        metaMapping = metaAsOf(table, v).flatMap(_._2)))
    }

  /** Active BLOOM indexes as of `v`: physical column → (bits, k), an
    * add/drop fold like [[constraintsAsOf]] — bytes-per-commit driver
    * resolution, never a data read.
    */
  private[graft] val bloomsAsOf =
    new LogFold(Map.empty[String, (Int, Int)])((acc, c, _, _) =>
      c.bloomIdx.foldLeft(acc) {
        case (m, BloomIdx(col, Some(spec))) => m + (col -> spec)
        case (m, BloomIdx(col, None)) => m - col
      })

  /** The commit that DECLARED each currently-active bloom spec, as of
    * `v` (physical column → declaring version) — the epoch the probe
    * gates per-file bitsets on. A memoized fold like [[bloomsAsOf]], so
    * a probe never re-reads every commit ≤ v (r14 advisor: unmemoized
    * driver work growing linearly with log length per probe batch).
    */
  private val bloomEpochsAsOf =
    new LogFold(Map.empty[String, Long])((acc, c, v, _) =>
      c.bloomIdx.foldLeft(acc) {
        case (m, BloomIdx(col, Some(_))) => m + (col -> v)
        case (m, BloomIdx(col, None)) => m - col
      })

  /** Declare a per-file BLOOM FILTER INDEX on `column` (S66, round-13 —
    * Delta's `CREATE BLOOMFILTER INDEX`): every write from this commit
    * on carries, per data file, a `bits`-wide / `k`-hash bloom bitset
    * over the column in its add action, and [[snapshotPrunedEq]] prunes
    * point-equality scans against the bitsets from the LOG alone — the
    * skipping lever min/max stats (S54) cannot provide on a
    * high-cardinality column whose values scatter across every file
    * (each file's [min, max] then spans the whole domain and the range
    * prune keeps everything). Files written BEFORE the declaration carry
    * no bitset and are conservatively kept, same epoch discipline as
    * S63's defaults — no table rewrite at declare time (OPTIMIZE
    * re-writes files and thereby backfills their blooms).
    *
    * The index rides the log under the column's PHYSICAL name (RENAME
    * composes for free; probes translate logical→physical, same as the
    * stats prune). Integral columns only — the bitset is built from
    * `xxhash64(i, CAST(col AS BIGINT))`, exact in i64 on both the write
    * and probe side. `bits` must be a multiple of 64 (whole words on the
    * wire); size it ≈16× the per-file distinct count for a ~1e-6
    * false-positive rate at k=3.
    */
  def alterAddBloomIndex(spark: SparkSession, table: File, column: String,
      bits: Int = 131072, k: Int = 3): Long = {
    require(bits >= 64 && bits % 64 == 0,
      s"TxLog: bloom bits must be a positive multiple of 64, got $bits")
    require(k >= 1 && k <= 8, s"TxLog: bloom k must be in [1, 8], got $k")
    transact(table) { a =>
      if (a.v >= 0) {
        val schema = schemaAt(spark, table, a.v)
        val f = schema.fields.find(_.name == column).getOrElse(sys.error(
          s"TxLog: bloom index column `$column` not in table schema " +
            schema.fieldNames.mkString("(", ", ", ")")))
        require(f.dataType == LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType,
          s"TxLog: bloom index needs an integral column; `$column` is " +
            f.dataType.simpleString)
      }
      val phys = mappingAsOf(table, a.v).getOrElse(column, column)
      Some(Commit("bloom_index",
        bloomIdx = Seq(BloomIdx(phys, Some((bits, k))))))
    }
  }

  /** Drop the bloom index on `column`: new files stop carrying bitsets;
    * bitsets already in the log stay (harmless — nothing consults them
    * once the spec is gone).
    */
  def alterDropBloomIndex(table: File, column: String): Long =
    transact(table) { a =>
      val phys = mappingAsOf(table, a.v).getOrElse(column, column)
      Some(Commit("bloom_index_drop", bloomIdx = Seq(BloomIdx(phys, None))))
    }

  /** Active GENERATED columns as of `v`: the defaults whose auto
    * constraint `gen_<col>` is active — the marker that distinguishes a
    * generation expression from a literal default. col → expr, sorted.
    */
  private def generatedOf(table: File, v: Long): Seq[(String, String)] = {
    val cons = constraintsAsOf(table, v)
    defaultsAsOf(table, v).toSeq.collect {
      case (c, (e, _)) if cons.contains(s"gen_$c") => (c, e)
    }.sortBy(_._1)
  }

  /** The version each live-ish data file was FIRST added at (canonical
    * absolute path → version), from log metadata alone — the per-file
    * WRITE EPOCH the default fill and the bloom probe key on. FIRST
    * occurrence, not latest (r14 advisor): RESTORE re-adds a historical
    * version's Add entries VERBATIM in a new commit — bloom hex and
    * physical bytes included — so latest-add semantics would claim a
    * file written under an OLD bloom (bits, k) spec postdates the
    * current declaration (probing new-k positions against old-k bits =
    * silent false-negative prune) and that a pre-default file carries
    * the column physically (missed fill). Data files are immutable and
    * their paths unique per write, so the first add IS the commit that
    * materialized the bytes. An incremental fold (r15 review: rebuilding
    * the whole map per new version cost O(log²) cumulative driver reads
    * over a table's life): first(v) = first(v−1) plus v's unseen adds.
    * Change-data files count too: the feed reads them with the fills,
    * and an unknown file would fill an explicit NULL in a pre-image.
    */
  private val addedAtVersions =
    new LogFold(Map.empty[String, Long])((acc, c, v, table) =>
      (c.adds ++ c.cdc).foldLeft(acc) { (m, add) =>
        val p = new File(table, add.path).getCanonicalPath
        if (m.contains(p)) m else m + (p -> v) // FIRST add wins
      })

  /** Partition `paths` by the DEFAULT fills each file needs as of `v`
    * (S63): a column's default fills only files added BEFORE its
    * declaring commit — post-declaration files carry the column
    * physically (writers materialize omitted defaults), so an explicit
    * NULL written after the ALTER stays NULL, the Delta/Iceberg
    * initial-default discipline. None when no declared-schema column has
    * an active default (the common case — zero overhead). Files the log
    * does not know (clone-inherited before their first local commit
    * cannot occur — the clone's v0 adds them) conservatively fill.
    */
  private def fillGroups(table: File, v: Long, paths: Seq[String])
      : Option[Seq[(Seq[(String, String)], Seq[String])]] = {
    val active = defaultsAsOf(table, v)
    if (active.isEmpty) return None
    val declared = schemaDdlAsOf(table, v)
      .map(d => StructType.fromDDL(d).fieldNames.toSet)
      .getOrElse(Set.empty[String])
    val act = active.filter { case (c, _) => declared(c) }
    if (act.isEmpty) return None
    val addedAt = addedAtVersions(table, v)
    val groups = paths.groupBy { p =>
      val av = addedAt.getOrElse(new File(p).getCanonicalPath, -1L)
      act.toSeq.sortBy(_._1).collect {
        case (c, (e, dv)) if av < dv => (c, e)
      }
    }
    Some(groups.toSeq.map { case (f, ps) => (f, ps) })
  }

  /** Apply one fill group's defaults: absent-in-file columns read back
    * as the declared default (they scan as null — the whole group
    * predates the column, so no explicit null can be masked).
    */
  private def applyFills(df: DataFrame,
      fills: Seq[(String, String)]): DataFrame =
    fills.foldLeft(df) { case (d, (c, e)) =>
      d.withColumn(c, coalesce(col(c), expr(e).cast(d.schema(c).dataType)))
    }

  /** ALTER TABLE … ADD CONSTRAINT name CHECK (exprText): one metadata
    * commit, AFTER one validation pass proving every EXISTING row
    * satisfies the predicate (the Delta discipline — a constraint the
    * current data violates must not land, or reads and writes would
    * disagree about what the table guarantees). SQL CHECK semantics:
    * a NULL predicate result satisfies the constraint; only FALSE
    * violates. NOT NULL enforcement is the one-liner special case
    * (`col IS NOT NULL`).
    *
    * Scale: validation is one aggregate over the snapshot (a write-time
    * cost paid once per declaration); every later write pays one
    * batch-proportional filter-count over the INCOMING rows only.
    */
  def alterAddConstraint(spark: SparkSession, table: File,
      name: String, exprText: String): Long =
    transact(table) { a =>
      val v = a.base("ADD CONSTRAINT")
      require(!constraintsAsOf(table, v).contains(name),
        s"TxLog ADD CONSTRAINT: $name already exists — DROP it first")
      val violations = snapshot(spark, table, Some(v))
        .filter(!coalesce(expr(exprText), lit(true))).count()
      require(violations == 0,
        s"TxLog ADD CONSTRAINT $name: $violations existing row(s) " +
          s"violate CHECK ($exprText) — fix the data first")
      Some(Commit("add-constraint",
        constraints = Seq(Constraint(name, Some(exprText)))))
    }

  /** ALTER TABLE … DROP CONSTRAINT name: metadata-only commit. */
  def alterDropConstraint(table: File, name: String): Long =
    transact(table) { a =>
      require(constraintsAsOf(table, a.base("DROP CONSTRAINT"))
        .contains(name), s"TxLog DROP CONSTRAINT: no such constraint: $name")
      Some(Commit("drop-constraint",
        constraints = Seq(Constraint(name, None))))
    }

  /** Gate an INCOMING write batch on the constraints active at the
    * commit's base version `v` (a constraint landing after it wins the
    * slot, so the writer re-derives and is gated again): one
    * filter-count job over `df` (all constraints folded into a single
    * conjunction — one pass however many are declared); the first
    * violated constraint rejects with its count. Rewrite paths
    * (delete/compact/zorder survivors) skip this — their rows already
    * passed it on the way in.
    */
  private def enforceConstraints(table: File, v: Long, df: DataFrame,
      op: String): Unit = {
    val cs = constraintsAsOf(table, v)
    if (cs.isEmpty) return
    val counts = df.agg(
      count(lit(1)).as("_n"),
      cs.toSeq.sortBy(_._1).map { case (n, e) =>
        coalesce(sum(when(!coalesce(expr(e), lit(true)), 1L)
          .otherwise(0L)), lit(0L)).as(s"_c_$n")
      }: _*).head()
    cs.toSeq.sortBy(_._1).foreach { case (n, e) =>
      val bad = counts.getAs[Long](s"_c_$n")
      require(bad == 0,
        s"TxLog $op: $bad row(s) violate CONSTRAINT $n CHECK ($e) — " +
          "nothing committed")
    }
  }

  /** The file-identity key off the scan's `_metadata.file_path`: the
    * path SUFFIX starting at the per-commit `d_*` group segment, e.g.
    * `d_append_<nanos>/_p_yr=1995/part-<uuid>….parquet`. That suffix is
    * globally unique (nanos-stamped group + partition dirs + part name)
    * and INVARIANT under every prefix a file can acquire: for a
    * localized table it IS the table-relative `Add.path`; after a
    * SHALLOW CLONE the same physical file serves under `../<src>/` and
    * the suffix is unchanged — so DV tombstones written by the source
    * keep binding through the clone. A plain basename would NOT do:
    * `partitionBy` writes the SAME part filename into every partition
    * directory of one task (measured — the anti-join then tombstoned
    * every partition), and a table-dir-prefix strip mis-keys clones.
    * The only segments ever starting with `d_` are our group dirs
    * (partition segments start `_p_`, part files `part-`), so the last
    * `/d_` occurrence is unambiguous. Sidecar `f` values are `_gf_rel`
    * captured at DV-creation time, i.e. already this key; writers
    * translate key → `Add.path` through the live set ([[byBase]]).
    */
  private val fileKeyExpr =
    expr("concat('d_', substring_index(_metadata.file_path, '/d_', -1))")

  /** The [[fileKeyExpr]] key of a table-relative `Add.path` — identity
    * for localized paths, the group-rooted suffix for clone-inherited
    * (`../`) and db-log (table-name-prefixed) paths.
    */
  private def fileKeyOf(path: String): String = {
    val i = path.lastIndexOf("/d_")
    if (i < 0) path else path.substring(i + 1)
  }

  /** The SCAN-side key of a table-relative file path: [[fileKeyOf]]
    * over the file's URI-ENCODED path, because `_metadata.file_path` is
    * a URI string — a partition value with a space (or a Hive-escaped
    * char, whose `%` re-encodes as `%25`) differs between the raw
    * filesystem name the log records and the encoded form the scan
    * reports. For plain paths the two coincide, which is also why
    * historical DV sidecar `f` values keep binding.
    */
  private def scanKey(table: File, path: String): String =
    fileKeyOf(new File(table, path).toURI.getRawPath)

  /** scan key → table-relative `Add.path` over a live set — the writer-
    * side inverse of [[fileKeyExpr]]. Total and injective on any live
    * set.
    */
  private def byBase(table: File, live: Seq[Add]): Map[String, String] =
    live.map(a => scanKey(table, a.path) -> a.path).toMap

  /** [[readAs]] plus POSITION columns: `_gf_rel` (the file-identity key,
    * see [[fileKeyExpr]]) and `_gi` (row index within the file) off the
    * parquet scan's `_metadata` struct — the deletion-vector join key.
    * Positions are RAW-file row indexes, so they are stable under other
    * DVs and under the declared-schema projection.
    */
  private def readAsPos(spark: SparkSession, table: File, v: Long,
      paths: Seq[String]): DataFrame =
    readBound(spark, table, v, paths, Seq(fileKeyExpr.as("_gf_rel"),
      col("_metadata.row_index").as("_gi")))

  /** Read a live-file subset under the AS-OF schema with the files' live
    * DELETION VECTORS applied (merge-on-read): tombstoned (file, row)
    * positions drop out of the scan. `keepPos` retains the
    * `_gf_rel`/`_gi` position columns for writers that need them.
    *
    * Scale: the tombstone side is delete-count-bounded. Inline DVs apply
    * as one literal-set filter (no job, no join); sidecar DVs broadcast
    * into an anti-join — a DV delete costs the READER a filter or one
    * broadcast instead of costing the WRITER a file rewrite, the
    * merge-on-read trade. `compact` sheds accumulated DVs.
    */
  private[graft] def assemble(spark: SparkSession, table: File, v: Long,
      files: Seq[Add], dvs: Map[String, Seq[Dv]],
      keepPos: Boolean = false): DataFrame = {
    val paths = files.map(a => new File(table, a.path).getAbsolutePath)
    val attached = files.flatMap(a => dvs.getOrElse(a.path, Seq.empty))
    if (attached.isEmpty && !keepPos) readAs(spark, table, v, paths)
    else {
      val data = readAsPos(spark, table, v, paths)
      val (inl, side) = attached.partition(_.inline)
      val kept =
        if (inl.isEmpty) data else data.filter(!inlineTombstoned(table, inl))
      val out =
        if (side.isEmpty) kept
        else kept.join(broadcast(sidecarTombstones(spark, table, side)),
          kept("_gf_rel") === col("_tf") && kept("_gi") === col("_ti"),
          "left_anti")
      if (keepPos) out else out.drop("_gf_rel", "_gi")
    }
  }

  /** TRUE on the rows (carrying `_gf_rel`/`_gi`) that the INLINE vectors
    * `dvs` tombstone: one literal set of `key#position` strings, which
    * the optimizer turns into a hash-set lookup.
    */
  private def inlineTombstoned(table: File,
      dvs: Seq[Dv]): org.apache.spark.sql.Column =
    concat(col("_gf_rel"), lit("#"), col("_gi").cast("string"))
      .isin(dvs.flatMap { d =>
        val k = scanKey(table, d.path)
        d.positions.map(p => s"$k#$p")
      }: _*)

  /** The (file key, position) tombstones of SIDECAR vectors `dvs`, as
    * `_tf`/`_ti`, read under the fixed [[dvSchema]].
    */
  private def sidecarTombstones(spark: SparkSession, table: File,
      dvs: Seq[Dv]): DataFrame =
    spark.read.schema(dvSchema).parquet(dvs.map(_.dvPath).distinct
        .map(dp => new File(table, dp).getAbsolutePath): _*)
      .select(col("f").as("_tf"), col("i").as("_ti"))

  /** Snapshot read at `version` (default: latest). Immutable-file reads:
    * a concurrent commit cannot change the resolved set.
    */
  def snapshot(spark: SparkSession, table: File,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(versions(table).lastOption).getOrElse(
      sys.error(s"TxLog: no commits in $table"))
    val st = liveState(table, v)
    if (st.live.isEmpty) {
      // a created-but-empty (or fully-deleted) table with a DECLARED
      // schema reads as an empty frame — the Delta behavior; a table
      // with neither files nor schema has nothing to describe
      schemaDdlAsOf(table, v) match {
        case Some(ddl) =>
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType.fromDDL(ddl))
        case None =>
          sys.error(s"TxLog: version $v has no live files and no " +
            "declared schema")
      }
    }
    // an ALTERed table reads under its declared AS-OF schema: files
    // written before the evolution lack the added columns and the
    // parquet reader null-fills them (S13's mergeSchema semantics with
    // the LOG, not the footers, owning the superset); pre-alter versions
    // still time-travel to their own schema; RENAMEd/DROPped tables
    // additionally bind physical names and project to logical (readAs);
    // live deletion vectors apply as a broadcast anti-join (assemble)
    assemble(spark, table, v, st.live, st.dvs)
  }

  /** ALTER TABLE … ADD COLUMNS on the log format (S50): ONE metadata-only
    * commit carrying the evolved schema DDL — zero data files touched,
    * the lakehouse schema-evolution contract. Duplicate column names are
    * rejected; the change feed sees no add/remove actions so the commit
    * contributes nothing to it, and DESCRIBE HISTORY shows op=alter with
    * rows_delta 0.
    */
  def alterAddColumns(spark: SparkSession, table: File,
      addDdl: String, defaults: Map[String, String] = Map.empty,
      generated: Map[String, String] = Map.empty): Long = {
    val addedNames = StructType.fromDDL(addDdl).fieldNames.toSet
    val orphan = (defaults.keys ++ generated.keys).filterNot(addedNames)
    require(orphan.isEmpty, "TxLog ALTER: DEFAULT/GENERATED for " +
      s"column(s) not in this ADD COLUMNS list: ${orphan.mkString(", ")}")
    val both = defaults.keySet.intersect(generated.keySet)
    require(both.isEmpty, "TxLog ALTER: column(s) cannot be both DEFAULT " +
      s"and GENERATED: ${both.mkString(", ")}")
    // two concurrent identical ALTERs must not both pass the dup check:
    // the check re-runs against whatever version precedes the slot
    transact(table) { a =>
      val v = a.base("ALTER")
      val cur = schemaAt(spark, table, v)
      val added = org.apache.spark.sql.types.StructType.fromDDL(addDdl)
      val dup = added.fieldNames.filter(cur.fieldNames.contains)
      require(dup.isEmpty,
        s"TxLog ALTER: column(s) already exist: ${dup.mkString(", ")}")
      // a DEFAULT/GENERATED expression must not reference a column that
      // itself has (or is getting) a default/generation entry — the
      // fill/materialize folds would become ORDER-DEPENDENT across
      // columns (r13 review); Delta restricts generation expressions
      // the same way. Word-boundary text match, conservative.
      val dAll = defaultsAsOf(table, v).keySet ++ defaults.keySet ++
        generated.keySet
      (defaults ++ generated).foreach { case (c, e) =>
        val refs = dAll.filter(d =>
          ("\\b" + java.util.regex.Pattern.quote(d) + "\\b").r
            .findFirstIn(e).isDefined)
        require(refs.isEmpty, s"TxLog ALTER: the DEFAULT/GENERATED " +
          s"expression of $c references defaulted/generated column(s) " +
          s"${refs.toSeq.sorted.mkString(", ")} — expressions may only " +
          "reference plain columns")
      }
      val evolved = org.apache.spark.sql.types.StructType(
        cur.fields ++ added.fields)
      // column-mapping mode (any prior RENAME/DROP): a NEW column gets a
      // FRESH physical id `<name>_c<version>` so re-adding a dropped name
      // cannot resurrect the old physical column still sitting in
      // pre-drop files (the Delta field-id discipline). Unmapped tables
      // keep identity names — the legacy wire stays byte-stable.
      val mapping =
        if (!mappingMode(table, v)) None
        else {
          val m = mappingAsOf(table, v) ++
            added.fieldNames.map(n => n -> s"${n}_c${v + 1}")
          Some(encodeMapping(
            evolved.fieldNames.map(n => n -> m.getOrElse(n, n)).toMap))
        }
      // a GENERATED column (round-13, S65) is a default whose expression
      // references other columns — the SAME fill/materialize machinery
      // serves it — plus an auto CHECK constraint `c <=> (expr)` that
      // VALIDATES writer-provided values (the Delta generated-column
      // contract). No existing-data validation pass is needed: pre-alter
      // files read the fill, which IS the expression, so the constraint
      // holds by construction. `<=>` is null-safe — never a NULL verdict.
      val genConstraints = generated.toSeq.sortBy(_._1).map { case (c, e) =>
        Constraint(s"gen_$c", Some(s"$c <=> ($e)"))
      }
      Some(Commit("alter", metaDdl = Some(evolved.toDDL),
        metaMapping = mapping,
        colDefaults = (defaults ++ generated).toSeq.sortBy(_._1)
          .map { case (c, e) => ColDefault(c, Some(e)) },
        constraints = genConstraints))
    }
  }

  /** ALTER TABLE … RENAME COLUMN on the log format (round-12, r11
    * verdict task 2): ONE metadata-only commit carrying the renamed
    * logical schema plus the column mapping that keeps the PHYSICAL name
    * unchanged — every pre-rename data file keeps serving with zero
    * rewrites (Delta column-mapping `name` mode). Time travel below the
    * commit serves the old name; writes after it are schema-enforced
    * under the new one.
    */
  /** Active constraints whose expression references `colName` as a
    * word — the dependency guard for RENAME/DROP. A word-boundary text
    * match is conservative (a column name inside a string literal
    * false-positives), which errs on the safe side: the alternative is
    * a table whose every write throws unresolved-column forever.
    */
  private def constraintsReferencing(table: File, v: Long,
      colName: String): Seq[String] =
    constraintsAsOf(table, v)
      .collect { case (n, e)
        if ("""\b""" + java.util.regex.Pattern.quote(colName) +
          """\b""").r.findFirstIn(e).isDefined => n }.toSeq.sorted

  /** OTHER columns whose DEFAULT/generation expression references
    * `colName` (r15 review): dropping or renaming such a column would
    * make every later write throw unresolved-column in
    * withWriteDefaults AND every read of pre-declaration files throw in
    * the fill — the same brick the constraint guard prevents, through
    * the default channel.
    */
  private def defaultsReferencing(table: File, v: Long,
      colName: String): Seq[String] =
    defaultsAsOf(table, v)
      .collect { case (c, (e, _))
        if c != colName &&
          ("""\b""" + java.util.regex.Pattern.quote(colName) +
            """\b""").r.findFirstIn(e).isDefined => c }.toSeq.sorted

  def alterRenameColumn(spark: SparkSession, table: File,
      from: String, to: String): Long = {
    // partition columns are un-renameable: their NAME is baked into
    // every committed file path's `_p_<col>=` segment (the prune key)
    require(!partitionColsOf(table).contains(from),
      s"TxLog RENAME: $from is a partition column — the layout is " +
        "declared at creation and immutable (rewrite into a new table)")
    transact(table) { a =>
      val v = a.base("ALTER")
      // a CHECK constraint referencing the old name would make every
      // later write throw unresolved-column — the Delta restriction
      val refs = constraintsReferencing(table, v, from)
      require(refs.isEmpty,
        s"TxLog RENAME: $from is referenced by CONSTRAINT " +
          s"${refs.mkString(", ")} — DROP the constraint first")
      val drefs = defaultsReferencing(table, v, from)
      require(drefs.isEmpty,
        s"TxLog RENAME: $from is referenced by the DEFAULT/generation " +
          s"expression of column(s) ${drefs.mkString(", ")} — drop " +
          "those defaults first")
      val cur = schemaAt(spark, table, v)
      require(cur.fieldNames.contains(from),
        s"TxLog RENAME: no such column: $from")
      require(!cur.fieldNames.contains(to),
        s"TxLog RENAME: column already exists: $to")
      val old = mappingAsOf(table, v)
      val evolved = org.apache.spark.sql.types.StructType(cur.fields.map(
        f => if (f.name == from) f.copy(name = to) else f))
      // full map: the renamed column keeps `from`'s physical id; every
      // other column keeps its current physical id (identity if unmapped)
      val m = evolved.fieldNames.map { n =>
        if (n == to) n -> old.getOrElse(from, from)
        else n -> old.getOrElse(n, n)
      }.toMap
      // a DEFAULT on the renamed column MIGRATES under the new name with
      // its ORIGINAL declaring version pinned via `since` — otherwise the
      // default silently detaches (pre-alter rows stop filling) and a
      // later re-ADD of the old name inherits the stale entry (r13
      // review). Generated columns never reach here: their auto
      // constraint references the column and the dependency guard above
      // already rejected the rename.
      val migrate = defaultsAsOf(table, v).get(from).toSeq.flatMap {
        case (e, declV) => Seq(ColDefault(from, None),
          ColDefault(to, Some(e), Some(declV)))
      }
      Some(Commit("alter", metaDdl = Some(evolved.toDDL),
        metaMapping = Some(encodeMapping(m)), colDefaults = migrate))
    }
  }

  /** ALTER TABLE … DROP COLUMN on the log format (round-12): ONE
    * metadata-only commit removing the column from the declared schema
    * and its entry from the mapping — data files are untouched (the
    * physical column stays in old files but is never projected again),
    * and a later ADD of the same name binds a fresh physical id, so the
    * dropped data cannot resurrect. Pre-drop versions still serve it.
    */
  def alterDropColumn(spark: SparkSession, table: File,
      name: String): Long = {
    require(!partitionColsOf(table).contains(name),
      s"TxLog DROP: $name is a partition column — the layout is " +
        "declared at creation and immutable (rewrite into a new table)")
    transact(table) { a =>
      val v = a.base("ALTER")
      val refs = constraintsReferencing(table, v, name)
      require(refs.isEmpty,
        s"TxLog DROP: $name is referenced by CONSTRAINT " +
          s"${refs.mkString(", ")} — DROP the constraint first")
      val drefs = defaultsReferencing(table, v, name)
      require(drefs.isEmpty,
        s"TxLog DROP: $name is referenced by the DEFAULT/generation " +
          s"expression of column(s) ${drefs.mkString(", ")} — drop " +
          "those defaults first")
      val cur = schemaAt(spark, table, v)
      require(cur.fieldNames.contains(name),
        s"TxLog DROP: no such column: $name")
      require(cur.fields.length > 1,
        s"TxLog DROP: cannot drop the only column of the table")
      val old = mappingAsOf(table, v)
      val evolved = org.apache.spark.sql.types.StructType(
        cur.fields.filterNot(_.name == name))
      val m = evolved.fieldNames.map(n => n -> old.getOrElse(n, n)).toMap
      // a default on the dropped column drops with it: a later re-ADD
      // of the name must not inherit a stale fill
      val dropDefault =
        if (defaultsAsOf(table, v).contains(name))
          Seq(ColDefault(name, None))
        else Seq.empty
      Some(Commit("alter", metaDdl = Some(evolved.toDDL),
        metaMapping = Some(encodeMapping(m)), colDefaults = dropDefault))
    }
  }

  /** TIMESTAMP AS OF binding (round-12, r11 verdict task 3): the
    * greatest committed version whose stamped commit timestamp is <=
    * `tsMillis` — Delta's timestamp-travel contract (a time between two
    * commits binds to the EARLIER one; a time before the first stamped
    * commit is rejected). Timestamps are writer-provided deterministic
    * surrogates carried in the commit action (`{"commit": {"op": …,
    * "ts": …}}`), not filesystem mtimes — mtimes change on copy/restore
    * and would break rerun-determinism; unstamped commits don't
    * participate (a table with none rejects with the remedy named).
    * Cost: the same bytes-per-commit driver log scan as any resolution.
    */
  def versionAt(table: File, tsMillis: Long): Long = {
    val stamped = versions(table).flatMap(v =>
      readCommit(table, v).ts.map(t => (v, t)))
    require(stamped.nonEmpty,
      "TxLog: TIMESTAMP AS OF binding failed — this table's commits " +
        "carry no timestamps; use VERSION AS OF")
    val at = stamped.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"TxLog: TIMESTAMP AS OF $tsMillis predates the first stamped " +
        s"commit (${stamped.head._2})")
    at.last._1
  }

  /** Snapshot with log-carried DATA SKIPPING (round-12, r11 verdict task
    * 4): live files whose recorded [min, max] for `column` cannot
    * intersect [lo, hi] are pruned from the scan set BEFORE the read —
    * the prune input is the log's add-action stats alone, so pruned
    * files cost ZERO reads (no data, no footer — Delta/Iceberg's
    * planner-side skip, the first-line lever for non-partition
    * predicates at 100 TB). Files lacking stats for the column are
    * conservatively kept. Returns (frame, files read, files total); the
    * caller still applies the row-level filter — stats prune FILES, not
    * rows. On a mapped table the stats live under the physical name; the
    * logical `column` is translated before the lookup.
    */
  def snapshotPruned(spark: SparkSession, table: File, column: String,
      lo: Long, hi: Long, version: Option[Long] = None)
      : (DataFrame, Int, Int) = {
    val v = version.orElse(versions(table).lastOption).getOrElse(
      sys.error(s"TxLog: no commits in $table"))
    // ONE log resolve serves the live set, the DV attachments and the
    // prune — not one per consumer
    val st = liveState(table, v)
    val files = st.live
    val phys = mappingAsOf(table, v).getOrElse(column, column)
    val kept = files.filter(a => a.stats.get(phys) match {
      case Some((mn, mx)) => mx >= lo && mn <= hi
      case None => true
    })
    val frame =
      if (kept.isEmpty) {
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schemaAt(spark, table, v))
      } else assemble(spark, table, v, kept, st.dvs)
    (frame, kept.size, files.size)
  }

  /** Snapshot with BLOOM-INDEX file skipping (S66, round-13): live files
    * whose bloom bitset for `column` definitively excludes `value` are
    * pruned from the scan set BEFORE the read — the point-equality twin
    * of [[snapshotPruned]]'s range prune, and the only log-side lever
    * when the column's per-file [min, max] spans the whole domain (a
    * high-cardinality key scattered across every file). Pruned files
    * cost ZERO reads. Files lacking a bitset (written before the index
    * declaration, or the index was never declared) are conservatively
    * kept, as are files whose bloom says "maybe" — the caller still
    * applies the row filter, so a false positive costs one extra file
    * scan, never a wrong row. Min/max stats compose: a file must survive
    * BOTH the range check ([value, value]) and the bloom to be read.
    *
    * The probe's k bit positions come from a 1-row Spark evaluation of
    * the SAME `xxhash64(i, CAST(value AS BIGINT))` expression the writer
    * aggregated per file — write and probe share one hash definition by
    * construction, no reimplementation to drift.
    */
  def snapshotPrunedEq(spark: SparkSession, table: File, column: String,
      value: Long, version: Option[Long] = None)
      : (DataFrame, Int, Int) = {
    val Seq((_, frame, nRead, nTotal)) =
      snapshotPrunedEqMulti(spark, table, column, Seq(value), version)
    (frame, nRead, nTotal)
  }

  /** The table-wide [min, max] of `column` from LOG stats alone (None
    * when no live file carries stats for it) — the zero-job way to
    * derive probe domains, freshness bounds, or range partitions from
    * metadata. Driver cost: one log resolve.
    */
  def statsRange(table: File, column: String,
      version: Option[Long] = None): Option[(Long, Long)] = {
    val v = version.orElse(versions(table).lastOption).getOrElse(
      sys.error(s"TxLog: no commits in $table"))
    val phys = mappingAsOf(table, v).getOrElse(column, column)
    val rs = liveState(table, v).live.flatMap(_.stats.get(phys))
    if (rs.isEmpty) None
    else Some((rs.map(_._1).min, rs.map(_._2).max))
  }

  /** The multi-probe form of [[snapshotPrunedEq]]: ALL probe values'
    * bit positions evaluate in ONE 1-row job (the per-probe cost is a
    * driver-side bitset test), and each returned frame stays LAZY — a
    * caller unioning the per-probe aggregates pays a single Spark job
    * for the whole probe batch instead of 2×|values|.
    */
  def snapshotPrunedEqMulti(spark: SparkSession, table: File,
      column: String, values: Seq[Long], version: Option[Long] = None)
      : Seq[(Long, DataFrame, Int, Int)] = {
    val v = version.orElse(versions(table).lastOption).getOrElse(
      sys.error(s"TxLog: no commits in $table"))
    val st = liveState(table, v)
    val files = st.live
    val phys = mappingAsOf(table, v).getOrElse(column, column)
    // probe positions for every value under the declared (bits, k) spec
    // — evaluated on the driver, no data read and no job
    val positions: Map[Long, Seq[Int]] =
      bloomsAsOf(table, v).get(phys) match {
        case None => Map.empty
        case Some((bits, k)) =>
          values.map(value => value -> (0 until k).map(i =>
            bloomBit(Literal(value), i, bits).eval().asInstanceOf[Long].toInt))
            .toMap
      }
    val spec = bloomsAsOf(table, v).get(phys)
    // Epoch guard (r13 advisor): a bitset only encodes the (bits, k)
    // spec ACTIVE WHEN ITS FILE WAS WRITTEN. After DROP + re-CREATE
    // with equal bits but different k, an old file's hex passes the
    // length check yet its set bits sit at old-k positions — probing
    // all new-k positions would false-negative a genuinely present key
    // and silently prune its file. So only files WRITTEN at/after the
    // commit that declared the current spec are probed; older bitsets
    // are inert and their files conservatively kept (the same epoch
    // discipline S63's default fill keys on addedAtVersions). "Written"
    // = FIRST add version (r14 advisor): RESTORE re-adds old Add
    // entries verbatim — old-spec hex included — in a new commit, so a
    // latest-add gate would probe a restored pre-spec bitset at new-k
    // positions and reproduce the exact false negative this guard
    // exists to prevent. The declaring version itself comes from the
    // memoized epoch fold, not a per-probe log re-read.
    val declEpoch: Long =
      if (spec.isEmpty) Long.MaxValue
      else bloomEpochsAsOf(table, v).getOrElse(phys, Long.MaxValue)
    val addedAt = addedAtVersions(table, v)
    def bloomMaybe(hex: String, value: Long): Boolean = spec match {
      case None => true // index dropped: bitsets are inert
      case Some((bits, k)) => positions.get(value) match {
        case None => true
        case Some(_) if hex.length != bits / 4 => true // malformed: keep
        case Some(ps) => ps.forall { p =>
          // hex is the big-endian word list writeFiles rendered: word
          // w = hex[16w, 16w+16); bit b of word w = 1L << (b & 63)
          val word = java.lang.Long.parseUnsignedLong(
            hex.substring((p >> 6) * 16, (p >> 6) * 16 + 16), 16)
          (word & (1L << (p & 63))) != 0L
        }
      }
    }
    lazy val emptySchema = schemaAt(spark, table, v)
    values.map { value =>
      val kept = files.filter { a =>
        val rangeOk = a.stats.get(phys) match {
          case Some((mn, mx)) => mx >= value && mn <= value
          case None => true
        }
        val bloomOk = a.blooms.get(phys) match {
          case Some(hex)
              if addedAt.getOrElse(
                new File(table, a.path).getCanonicalPath,
                -1L) >= declEpoch =>
            bloomMaybe(hex, value)
          case Some(_) => true // bitset predates current spec: keep
          case None => true // pre-declaration file: conservatively kept
        }
        rangeOk && bloomOk
      }
      val frame =
        if (kept.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            emptySchema)
        else assemble(spark, table, v, kept, st.dvs)
      (value, frame, kept.size, files.size)
    }
  }

  /** Snapshot plus a per-row `_commit_version` column: the commit that
    * MATERIALIZED the row's file (S68, round-13 — Delta's
    * `_metadata.row_commit_version` / Iceberg's snapshot lineage). The
    * column costs ZERO stored bytes: it derives entirely from log
    * metadata (file → adding commit) joined onto the scan by the
    * file-identity key, as a file-count-bounded broadcast. Rewrites bump
    * it — a CoW UPDATE/DELETE/OPTIMIZE re-materializes rows into files
    * added by the rewriting commit, which is exactly the "last modified"
    * semantics the audit/provenance use case wants (rows never touched
    * keep their original load version forever). Composes with time
    * travel (provenance AS OF v) and deletion vectors (tombstoned rows
    * are gone before the join).
    */
  def snapshotWithProvenance(spark: SparkSession, table: File,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(versions(table).lastOption).getOrElse(
      sys.error(s"TxLog: no commits in $table"))
    val st = liveState(table, v)
    if (st.live.isEmpty)
      return snapshot(spark, table, Some(v))
        .withColumn("_commit_version", lit(-1L))
    val addedAt = addedAtVersions(table, v)
    val entries = st.live.map { a =>
      (scanKey(table, a.path),
        addedAt.getOrElse(new File(table, a.path).getCanonicalPath, -1L))
    }
    import spark.implicits._
    val verFrame = entries.toDF("_pv_key", "_pv_ver")
    val frame = assemble(spark, table, v, st.live, st.dvs, keepPos = true)
    frame.join(broadcast(verFrame), frame("_gf_rel") === col("_pv_key"),
      "left")
      .withColumn("_commit_version", coalesce(col("_pv_ver"), lit(-1L)))
      .drop("_gf_rel", "_gi", "_pv_key", "_pv_ver")
  }

  /** Table-relative paths of the live files containing rows matching
    * `pred` at version `v` — the copy-on-write probe shared by delete
    * and merge. DV-applied (a row already tombstoned cannot make its
    * file "affected") and mapping-safe: the file identity comes from the
    * scan's own `_gf_rel` metadata column, never `input_file_name`
    * (which cannot bind once the DV anti-join makes the plan
    * multi-source). File-count-bounded driver read.
    */
  private def affectedFiles(spark: SparkSession, table: File, v: Long,
      st: LiveState, pred: org.apache.spark.sql.Column,
      alias: Option[String] = None): Seq[String] = {
    val toPath = byBase(table, st.live)
    val frame = assemble(spark, table, v, st.live, st.dvs, keepPos = true)
    alias.map(frame.as(_)).getOrElse(frame)
      .filter(pred)
      .select(col("_gf_rel")).distinct()
      .collect().map(r => toPath(r.getString(0))).toSeq.sorted
  }

  /** Copy-on-write DELETE: rewrite only the live files that contain rows
    * matching `pred`; untouched files survive by reference. One atomic
    * commit of (new files, removed files). Returns the version, or -1
    * if nothing matched (no commit — idempotent re-run). On a file with
    * live deletion vectors the rewrite MATERIALIZES them (the survivors
    * re-read is DV-applied, and removing the file drops its DVs).
    */
  def deleteWhere(spark: SparkSession, table: File,
      pred: org.apache.spark.sql.Column,
      alias: Option[String] = None): Long =
    // a racing delete's rewrite must not be undone: re-adding survivor
    // copies of rows it also rewrote would duplicate them
    transact(table) { a =>
      val v = a.base("DELETE")
      requireLocalized(a.st, "DELETE")
      val affectedRel = affectedFiles(spark, table, v, a.st, pred, alias)
      Option.when(affectedRel.nonEmpty) {
        // the affected files re-read under the declared schema with their
        // DVs applied (assemble): `pred` is in LOGICAL names, and a raw
        // footer read would resurrect tombstoned rows into the rewrite
        val affected = a.st.live.filter(f => affectedRel.contains(f.path))
        val frame = assemble(spark, table, v, affected, a.st.dvs)
        // SQL three-valued logic: DELETE removes rows where pred is TRUE;
        // a NULL-valued pred keeps the row — plain !pred is NULL for those
        // and would silently drop them (the Dml module's survivor rule)
        val survivors = alias.map(frame.as(_)).getOrElse(frame)
          .filter(!coalesce(pred, lit(false)))
        val files =
          if (survivors.isEmpty) Seq.empty[Add]
          else a.write(toPhysical(survivors, mappingAsOf(table, v)),
            "delete")
        Commit("delete", files, affectedRel)
      }
    }

  /** Copy-on-write UPDATE (round-13, the statement surface's row-level
    * third leg next to [[deleteWhere]]/[[merge]]): rewrite only the live
    * files that CONTAIN rows matching `pred`, applying each assignment as
    * `CASE WHEN pred THEN value ELSE old END` — rows of an affected file
    * that don't match pass through unchanged, untouched files survive by
    * reference, one atomic add+remove commit. `when(...).otherwise(old)`
    * gives the SQL three-valued semantics for free: a NULL-valued pred
    * keeps the old value. Assignments to partition columns are rejected
    * (the Hive/Delta rule — rewritten rows would cross the declared
    * layout). Returns the version, or -1 when nothing matched.
    *
    * Scale: cost is |affected files| + one probe scan, never |table| —
    * the same asymptotics as deleteWhere; at 100 TB a point UPDATE
    * rewrites the handful of files its predicate's stats/partition
    * pruning cannot clear.
    */
  def updateWhere(spark: SparkSession, table: File,
      pred: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)],
      alias: Option[String] = None): Long = {
    val badSets = partitionColsOf(table).filter(sets.map(_._1).contains)
    require(badSets.isEmpty,
      s"TxLog UPDATE: assignment to partition column(s) " +
        s"${badSets.mkString(", ")} is not supported; use DELETE + " +
        "append to move rows across partitions")
    transact(table) { a =>
      val v = a.base("UPDATE")
      val st = a.st
      requireLocalized(st, "UPDATE")
      val declared = schemaDdlAsOf(table, v)
        .map(d => StructType.fromDDL(d).fieldNames.toSeq)
        .getOrElse(assemble(spark, table, v, st.live.take(1), st.dvs)
          .columns.toSeq)
      val unknown = sets.map(_._1).filterNot(declared.contains)
      require(unknown.isEmpty,
        s"TxLog UPDATE: no such column(s): ${unknown.mkString(", ")}")
      val affectedRel = affectedFiles(spark, table, v, st, pred, alias)
      Option.when(affectedRel.nonEmpty) {
        val affected = st.live.filter(f => affectedRel.contains(f.path))
        val frame = assemble(spark, table, v, affected, st.dvs)
        val aliased = alias.map(frame.as(_)).getOrElse(frame)
        val setMap = sets.toMap
        // every assignment CASTs to the declared column type (the Delta
        // assignment-cast rule): an uncast widening value (SET bigint_col
        // = 1.5) would otherwise commit a DOUBLE-typed file the declared
        // schema can never read back (r13 review)
        val assigned = aliased.select(declared.map { c =>
          setMap.get(c).map(vv => when(pred, vv).otherwise(col(c))
            .cast(frame.schema(c).dataType).as(c))
            .getOrElse(col(c))
        }: _*)
        // GENERATED columns the statement does not assign RECOMPUTE from
        // the post-assignment row (the Delta rule) — without this, any
        // UPDATE touching a referenced column would be rejected wholesale
        // by the auto gen-constraint (r13 review). Unconditional over the
        // affected rows: generation expressions are deterministic, so
        // recomputing an untouched row reproduces its stored value.
        val rewritten = generatedOf(table, v).foldLeft(assigned) {
          case (d, (c, e)) if !setMap.contains(c) =>
            d.withColumn(c, expr(e).cast(d.schema(c).dataType))
          case (d, _) => d
        }
        // the gate sees the post-update rows: an assignment driving a row
        // into violation must reject, the Delta CHECK-on-write contract
        enforceConstraints(table, v, rewritten, "UPDATE")
        val files = a.write(toPhysical(rewritten, mappingAsOf(table, v)),
          "update")
        Commit("update", files, affectedRel)
      }
    }
  }

  /** MERGE-ON-READ DELETE via deletion vectors (round-12): instead of
    * rewriting every file that contains a match (copy-on-write,
    * [[deleteWhere]]), tombstone the matching (file, row-position) pairs
    * in a delete-count-bounded parquet SIDECAR and attach it to the
    * affected files with metadata-only `dv` log actions — ZERO data
    * files rewritten, the Delta deletion-vector / Iceberg v2
    * positional-delete model. Readers apply live DVs as a broadcast
    * anti-join (assemble); history/stats subtract the tombstone counts
    * without reading data; a later rewrite of the file (CoW delete,
    * merge, compaction) MATERIALIZES the DV and drops it.
    *
    * The trade vs CoW: writer cost falls from |affected files| rewritten
    * to |deleted rows| sidecar bytes (the right shape for small deletes
    * on huge files — GDPR row erasure on 1 GB files); reader cost gains
    * the anti-join. Compact to restore read-optimal layout.
    *
    * Tombstones are computed over the CURRENT state (existing DVs
    * applied), so re-deleting an already-tombstoned row is a no-op and
    * the per-file counts never double-subtract. Returns the version, or
    * -1 when nothing matched.
    */
  def deleteWhereDV(spark: SparkSession, table: File,
      pred: org.apache.spark.sql.Column): Long =
    transact(table) { a =>
      val v = a.base("DV DELETE")
      requireLocalized(a.st, "DV DELETE")
      val matches =
        assemble(spark, table, v, a.st.live, a.st.dvs, keepPos = true)
          .filter(pred)
          .select(col("_gf_rel").as("f"), col("_gi").as("i"))
      // file-count-bounded driver read: one row per affected file
      val perFile = matches.groupBy(col("f")).count()
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      Option.when(perFile.nonEmpty) {
        val sub = a.sidecar(matches)
        // sidecar `f` stays the basename join key; the ATTACHMENT names
        // the table-relative Add.path so log bookkeeping stays
        // path-addressed
        val toPath = byBase(table, a.st.live)
        Commit("dv-delete",
          dvs = perFile.map { case (f, n) => Dv(toPath(f), sub, n) }.toSeq)
      }
    }

  /** SHALLOW CLONE (round-12): create a NEW table whose first commit
    * references the source's live data files (and DV sidecars) by
    * RELATIVE `../` paths — zero bytes copied, the Delta `CREATE TABLE …
    * SHALLOW CLONE` model. The clone gets the source's declared schema/
    * mapping and evolves independently from there: appends land in the
    * clone's own directory; COMPACT localizes (rewrites every row into
    * clone-owned files and drops the external references). Until
    * localized, the file-identity-dependent writers (CoW delete, merge,
    * DV delete) REJECT with the remedy named — their affected-file probe
    * keys on table-relative scan paths, which external files don't have
    * (the same sharp edge Delta documents for DML on shallow clones).
    * The clone's VACUUM never deletes an external (`../`) reference —
    * the source owns those files. The REVERSE hazard is inherent to the
    * zero-copy design and declared rather than hidden: the SOURCE's
    * vacuum walks only its own log and can reclaim files a pre-localize
    * clone still references (exactly Delta's documented "vacuum on the
    * source may break shallow clones"); compact the clone to localize
    * before vacuuming the source past their shared history.
    */
  def cloneShallow(spark: SparkSession, source: File, target: File): Long = {
    val v = versions(source).lastOption.getOrElse(
      sys.error(s"TxLog CLONE: source $source has no commits"))
    // Column DEFAULTS (and generated columns, which ride the default
    // channel) do NOT survive a shallow clone (r15 review): the fill is
    // keyed on each file's write epoch IN THE SOURCE LOG, and the
    // clone's log assigns every inherited file epoch v0 — there is no
    // per-file position that distinguishes the source's pre-declaration
    // files (which must fill) from its post-declaration ones (which
    // must not). Cloning anyway would silently read NULL where the
    // source reads the default. Rejected with the remedy named, the
    // same honesty discipline as requireLocalized.
    val dflts = defaultsAsOf(source, v)
    require(dflts.isEmpty,
      "TxLog CLONE: source declares column DEFAULT/generation " +
        s"expressions (${dflts.keys.toSeq.sorted.mkString(", ")}) whose " +
        "per-file fill epochs cannot transfer to a zero-copy clone — " +
        "compact the source first (materializes the fills), then clone")
    val st = liveState(source, v)
    target.mkdirs()
    val tp = target.getCanonicalFile.toPath
    def rel(p: String): String =
      tp.relativize(new File(source, p).getCanonicalFile.toPath).toString
    val adds = st.live.map(a => a.copy(path = rel(a.path)))
    val dvs = st.dvs.values.flatten.toSeq.map(d =>
      d.copy(path = rel(d.path),
        dvPath = if (d.inline) d.dvPath else rel(d.dvPath)))
    val meta = metaAsOf(source, v)
    // the clone inherits the source's partition declaration, active
    // CHECK constraints, and IDENTITY high-water marks (r15 review:
    // dropping the marks would restart allocation and duplicate ids) —
    // its own later writes stay gated the same. Bloom SPECS deliberately
    // do NOT carry: the inherited bitsets were written under the
    // source's epoch history, which the clone's log cannot replay, so
    // the conservative state is spec-less (every probe keeps every
    // file); re-declare the index on the clone and OPTIMIZE to rebuild.
    val pc = partitionColsOf(source) match {
      case Seq() => None; case cs => Some(cs.mkString(","))
    }
    val cons = constraintsAsOf(source, v).toSeq.sortBy(_._1)
      .map { case (n, e) => Constraint(n, Some(e)) }
    val idents = identitiesAsOf(source, v).toSeq.sortBy(_._1)
    // slot-0-ONLY commit (r15 review): losing the create race to a
    // concurrent writer must REJECT, not stack the clone's metadata
    // onto someone else's table
    transact(target) { a =>
      a.requireEmpty(s"TxLog CLONE: target $target already has a log")
      Some(Commit("clone", adds, metaDdl = meta.map(_._1),
        metaMapping = meta.flatMap(_._2), dvs = dvs, constraints = cons,
        partCols = pc, identities = idents))
    }
  }

  /** Reject file-identity DML while any live file is an external
    * (clone-inherited `../`) reference. Takes the caller's already-
    * resolved [[LiveState]] — a (table, v) form would pay a second full
    * log resolve per writer call and per retry iteration.
    */
  private def requireLocalized(st: LiveState, op: String): Unit =
    require(!st.live.exists(_.path.startsWith("..")),
      s"TxLog $op: the table still references cloned (external) files — " +
        "run compact to localize the shallow clone first")

  /** RESTORE TABLE … TO VERSION AS OF v (round-12): one commit that
    * makes the historical version's file set live again — adds for files
    * the target version had that the latest lost, removes for files the
    * latest gained, DV re-attachments for restored files; data files are
    * immutable so nothing is copied (Delta RESTORE). The restore itself
    * is a new commit, so history keeps the full timeline and the change
    * feed derives the restore's row-level delta from its add/remove sets
    * like any other commit. Rejected when the target's files are already
    * vacuumed (the retention contract) or when a file live in BOTH
    * versions carries a DIFFERENT deletion-vector state (feed semantics
    * would silently miss the tombstone delta — compact first to
    * materialize DVs, then restore).
    */
  def restore(spark: SparkSession, table: File, toVersion: Long): Long = {
    var noop = -1L
    val v = transact(table) { a =>
      val latest = a.base("RESTORE")
      require(toVersion >= 0 && toVersion <= latest,
        s"TxLog RESTORE: version $toVersion outside [0, $latest]")
      if (toVersion == latest) { noop = latest; None }
      else {
        val want = liveState(table, toVersion)
        val have = a.st
        val missing = want.live.filterNot(f =>
          new File(table, f.path).exists())
        require(missing.isEmpty,
          s"TxLog RESTORE: version $toVersion's data files are past the " +
            s"vacuum horizon: ${missing.map(_.path).mkString(", ")}")
        val havePaths = have.live.map(_.path).toSet
        val wantPaths = want.live.map(_.path).toSet
        val coLive = havePaths.intersect(wantPaths)
        val dvDiff = coLive.filter(p => want.dvs.getOrElse(p, Seq.empty) !=
          have.dvs.getOrElse(p, Seq.empty))
        require(dvDiff.isEmpty,
          "TxLog RESTORE: deletion-vector state differs for live file(s) " +
            s"${dvDiff.mkString(", ")} — compact first to materialize " +
            "DVs, then restore")
        val adds = want.live.filterNot(f => havePaths(f.path))
        val removes = have.live.map(_.path).filterNot(wantPaths)
        val dvs = adds.flatMap(f => want.dvs.getOrElse(f.path, Seq.empty))
        // the restored version's declared schema must come back too; a
        // footer-owned target (no metaData yet) under a later-declared
        // latest re-declares what the target's footers say
        val meta = metaAsOf(table, toVersion)
        val needMeta = meta != metaAsOf(table, latest)
        val ddlOut =
          if (!needMeta) None
          else meta.map(_._1).orElse(Some(
            assemble(spark, table, toVersion, want.live, want.dvs)
              .schema.toDDL))
        Some(Commit("restore", adds, removes, ddlOut,
          if (needMeta) meta.flatMap(_._2) else None, dvs = dvs))
      }
    }
    if (v < 0) noop else v
  }

  /** Transactional MERGE (upsert) — the Delta `WHEN MATCHED THEN UPDATE
    * SET * / WHEN NOT MATCHED THEN INSERT *` form on the commit log:
    * source rows REPLACE target rows sharing their `keys` (both sides
    * must share the table schema), unmatched source rows insert, and
    * everything lands as ONE atomic add+remove commit.
    *
    * File-pruned copy-on-write like deleteWhere: only live files that
    * CONTAIN a matched key are rewritten (found via a semi-join
    * of the distinct source keys against the snapshot — broadcast-sized
    * sources broadcast by planner choice, larger ones shuffle + input_file_name —
    * a file-count-bounded driver read); matched keys can only live in
    * those files, so the rewrite joins the AFFECTED rows, never the whole
    * table. Cost is |affected files| + |source|, not |table|.
    */
  def merge(spark: SparkSession, table: File, source: DataFrame,
      keys: Seq[String]): Long =
    transact(table) { a =>
      val v = a.base("MERGE")
      val st = a.st
      requireLocalized(st, "MERGE")
      requireNoIdentity(table, v, "MERGE")
      // only the INCOMING side needs the gate: kept target rows passed
      // it on their own way in
      enforceConstraints(table, v, source, "MERGE")
      val snap = assemble(spark, table, v, st.live, st.dvs)
      val srcKeys = source.select(keys.map(col): _*).distinct()
      // the affected probe rides the scan's _gf_rel metadata column (the
      // DV-safe twin of the old input_file_name stamp): a semi-join of
      // the source keys narrows it, file-count-bounded driver read
      val toPath = byBase(table, st.live)
      val affectedRel =
        assemble(spark, table, v, st.live, st.dvs, keepPos = true)
          .join(srcKeys, keys, "left_semi")
          .select(col("_gf_rel")).distinct()
          .collect().map(r => toPath(r.getString(0))).toSeq.sorted
      val affected =
        if (affectedRel.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[
            org.apache.spark.sql.Row], snap.schema)
        else assemble(spark, table, v,
          st.live.filter(f => affectedRel.contains(f.path)), st.dvs)
      // matched keys live ONLY in affected files, so the match census
      // needs no second snapshot scan
      val keptTarget = affected.join(srcKeys, keys, "left_anti")
      val affectedKeys = affected.select(keys.map(col): _*).distinct()
      val updates = source.join(affectedKeys, keys, "left_semi")
      val inserts = source.join(affectedKeys, keys, "left_anti")
      val rewritten = keptTarget
        .unionByName(updates.select(snap.columns.toIndexedSeq.map(col): _*))
        .unionByName(inserts.select(snap.columns.toIndexedSeq.map(col): _*))
      val files = a.write(toPhysical(rewritten, mappingAsOf(table, v)),
        "merge")
      Some(Commit("merge", files, affectedRel))
    }

  /** Multi-clause conditional MERGE spec (round-13) — the full Delta
    * statement surface. Clause payloads are SQL expression TEXT in terms
    * of `tAlias`/`sAlias` (the statement's native currency, and what the
    * parser hands back): `matched`/`notMatchedBySource` entries are
    * (guard, Some(col→value) UPDATE | None DELETE); `notMatched` entries
    * are (guard, col→value INSERT). Clause order is precedence — the
    * FIRST clause whose guard holds acts, the SQL-standard rule.
    */
  case class MergeSpec(
      cond: String, tAlias: String, sAlias: String,
      matched: Seq[(Option[String], Option[Map[String, String]])],
      notMatched: Seq[(Option[String], Map[String, String])],
      notMatchedBySource: Seq[(Option[String], Option[Map[String, String]])])

  private val mergeSeq = new java.util.concurrent.atomic.AtomicLong

  /** Conditional MERGE executor (round-13): `WHEN MATCHED [AND g] THEN
    * UPDATE/DELETE`, `WHEN NOT MATCHED [AND g] THEN INSERT`, and `WHEN
    * NOT MATCHED BY SOURCE [AND g] THEN UPDATE/DELETE`, on an ARBITRARY
    * join condition — the Delta MERGE surface [[merge]]'s
    * replace-by-key form cannot express. One atomic file-pruned
    * copy-on-write commit:
    *
    *   - affected files = live files CONTAINING a row that matches some
    *     source row on `cond` (a left-semi probe over the position-keyed
    *     scan, file-count-bounded driver read) — except when a
    *     NOT-MATCHED-BY-SOURCE clause exists, which by definition can
    *     touch every row, so every live file rewrites (the same
    *     full-table cost Delta pays for that clause);
    *   - existing rows of affected files route through ONE left join +
    *     inlined first-match CASE: matched rows take the first matched
    *     clause whose guard holds (UPDATE values or DELETE drop),
    *     never-matched rows take the first BY-SOURCE clause, everything
    *     else passes through byte-identical;
    *   - inserts are the source anti-join, filtered/valued by the first
    *     NOT-MATCHED clause whose guard holds;
    *   - the SQL-standard cardinality rule is ENFORCED when any matched
    *     clause exists: a target row matching >1 source row rejects (a
    *     nondeterministic double-update is the caller's bug, and every
    *     engine throws here);
    *   - every output column CASTs to the declared column type (the
    *     Delta assignment-cast rule), so clause expressions may be
    *     narrower literals.
    *
    * The constraint gate sees the full post-merge affected rows. Returns the
    * version, or -1 when the statement is a no-op (nothing matched, no
    * inserts).
    *
    * Scale: |affected files| + |source| (plus |table| only under a
    * BY-SOURCE clause — inherent to its semantics); the probe and the
    * rewrite are single keyed joins that broadcast the small side by
    * planner choice.
    */
  def mergeInto(spark: SparkSession, table: File, source: DataFrame,
      spec: MergeSpec, evolve: Boolean = false): Long = {
    require(spec.matched.nonEmpty || spec.notMatched.nonEmpty ||
      spec.notMatchedBySource.nonEmpty, "TxLog MERGE: no clauses")
    transact(table) { a =>
      val v = a.base("MERGE")
      val st = a.st
      requireLocalized(st, "MERGE")
      val baseSchema = snapshot(spark, table, Some(v)).schema
      // WITH SCHEMA EVOLUTION (S69, round-13 — the Delta autoMerge
      // surface): source columns the target lacks join the declared
      // schema IN THIS COMMIT — the merge's metaData action carries the
      // evolved DDL, so evolution and data land atomically (a failed
      // merge evolves nothing). Existing rows read the new columns as
      // NULL (the standard added-column fill); mapped tables hand new
      // columns fresh physical ids exactly like ALTER ADD COLUMNS.
      // Column ADDITION only — a same-name type conflict is the
      // caller's bug and surfaces as the usual cast/analysis error.
      val newFields =
        if (!evolve) Seq.empty[StructField]
        else source.schema.fields.filterNot(f =>
          baseSchema.fieldNames.contains(f.name)).toSeq
      val schema = StructType(baseSchema.fields ++ newFields)
      val declared = schema.fieldNames.toSeq
      val typeOf = schema.fields.map(f => f.name -> f.dataType.sql).toMap
      val baseMapping = mappingAsOf(table, v)
      val newMapping =
        if (newFields.isEmpty || !mappingMode(table, v))
          Map.empty[String, String]
        else newFields.map(f => f.name -> s"${f.name}_c${v + 1}").toMap
      val writeMapping = baseMapping ++ newMapping
      val (evoDdl, evoMapping) =
        if (newFields.isEmpty) (None, None)
        else (Some(schema.toDDL),
          if (!mappingMode(table, v)) None
          else Some(encodeMapping(
            declared.map(n => n -> writeMapping.getOrElse(n, n)).toMap)))
      def withNewNulls(d: DataFrame): DataFrame =
        newFields.foldLeft(d)((acc, f) =>
          acc.withColumn(f.name, lit(null).cast(f.dataType)))
      val n = mergeSeq.incrementAndGet()
      val sv = s"graft_mrg_s_$n"
      val tv = s"graft_mrg_t_$n"
      source.createOrReplaceTempView(sv)
      try {
        // ---- affected-file probe ------------------------------------
        // an INSERT-only merge (no matched / by-source clause) rewrites
        // NOTHING: matched target rows pass through untouched in their
        // own files, so the affected set is empty by construction
        val affectedRel =
          if (spec.matched.isEmpty && spec.notMatchedBySource.isEmpty)
            Seq.empty[String]
          else if (spec.notMatchedBySource.nonEmpty) st.live.map(_.path)
          else {
            val pv = s"graft_mrg_probe_$n"
            assemble(spark, table, v, st.live, st.dvs, keepPos = true)
              .createOrReplaceTempView(pv)
            val toPath = byBase(table, st.live)
            val rel = spark.sql(
              s"""SELECT DISTINCT ${spec.tAlias}._gf_rel AS k
                 |FROM $pv AS ${spec.tAlias}
                 |LEFT SEMI JOIN $sv AS ${spec.sAlias}
                 |ON ${spec.cond}""".stripMargin)
              .collect().map(r => toPath(r.getString(0))).toSeq.sorted
            spark.catalog.dropTempView(pv)
            rel
          }
        if (affectedRel.isEmpty && spec.notMatched.isEmpty) None
        else {
          val affected = st.live.filter(f => affectedRel.contains(f.path))
          val tFrame =
            if (affected.isEmpty)
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                StructType(schema.fields ++ Seq(
                  org.apache.spark.sql.types.StructField("_gf_rel",
                    org.apache.spark.sql.types.StringType),
                  org.apache.spark.sql.types.StructField("_gi", LongType))))
            else withNewNulls(
              assemble(spark, table, v, affected, st.dvs, keepPos = true))
          tFrame.createOrReplaceTempView(tv)
          // ---- cardinality rule ---------------------------------------
          if (spec.matched.nonEmpty && affected.nonEmpty) {
            val dup = spark.sql(
              s"""SELECT 1 FROM $tv AS ${spec.tAlias}
                 |JOIN $sv AS ${spec.sAlias} ON ${spec.cond}
                 |GROUP BY ${spec.tAlias}._gf_rel, ${spec.tAlias}._gi
                 |HAVING count(*) > 1 LIMIT 1""".stripMargin).count()
            require(dup == 0, "TxLog MERGE: a target row matches more " +
              "than one source row — the SQL cardinality rule rejects the " +
              "nondeterministic update; de-duplicate the source on the " +
              "join keys first")
          }
          // ---- existing rows: first-match clause CASE, inlined --------
          def guards(cs: Seq[Option[String]], base: Int): String =
            cs.zipWithIndex.map { case (g, i) =>
              s"WHEN ${g.map(x => s"($x)").getOrElse("true")} " +
                s"THEN ${base + i}"
            }.mkString(" ")
          val mCase =
            if (spec.matched.isEmpty) "-1"
            else s"CASE ${guards(spec.matched.map(_._1), 0)} ELSE -1 END"
          val nCase =
            if (spec.notMatchedBySource.isEmpty) "-1"
            else "CASE " +
              s"${guards(spec.notMatchedBySource.map(_._1), 100)} ELSE -1 END"
          val act = s"(CASE WHEN coalesce(${spec.sAlias}.__m, false) " +
            s"THEN $mCase ELSE $nCase END)"
          val deleteActs =
            spec.matched.zipWithIndex.collect {
              case ((_, None), i) => i } ++
            spec.notMatchedBySource.zipWithIndex.collect {
              case ((_, None), j) => 100 + j }
          val colExprs = declared.map { c =>
            val whens =
              spec.matched.zipWithIndex.flatMap { case ((_, sets), i) =>
                sets.flatMap(_.get(c)).map(e => s"WHEN $i THEN ($e)") } ++
              spec.notMatchedBySource.zipWithIndex.flatMap {
                case ((_, sets), j) =>
                  sets.flatMap(_.get(c)).map(e => s"WHEN ${100 + j} THEN ($e)")
              }
            if (whens.isEmpty) s"${spec.tAlias}.$c AS $c"
            else s"CAST(CASE $act ${whens.mkString(" ")} " +
              s"ELSE ${spec.tAlias}.$c END AS ${typeOf(c)}) AS $c"
          }
          val keep =
            if (deleteActs.isEmpty) "true"
            else s"$act NOT IN (${deleteActs.mkString(", ")})"
          // with NO matched clause the cardinality rule does not apply —
          // but the LEFT JOIN would still FAN OUT a target row matching
          // several source rows, silently duplicating pass-throughs (r13
          // review). Matched rows then need nothing from the source, so
          // they route through a SEMI join (fan-out-proof) and the
          // BY-SOURCE clauses through the complementary ANTI join.
          val survivors =
            if (spec.matched.isEmpty && spec.notMatchedBySource.nonEmpty) {
              val passed = spark.sql(
                s"""SELECT ${declared.map(c =>
                     s"${spec.tAlias}.$c AS $c").mkString(", ")}
                   |FROM $tv AS ${spec.tAlias}
                   |LEFT SEMI JOIN $sv AS ${spec.sAlias}
                   |ON ${spec.cond}""".stripMargin)
              val antiCols = declared.map { c =>
                val whens = spec.notMatchedBySource.zipWithIndex.flatMap {
                  case ((_, sets), j) =>
                    sets.flatMap(_.get(c))
                      .map(e => s"WHEN ${100 + j} THEN ($e)")
                }
                if (whens.isEmpty) s"${spec.tAlias}.$c AS $c"
                else s"CAST(CASE ($nCase) ${whens.mkString(" ")} " +
                  s"ELSE ${spec.tAlias}.$c END AS ${typeOf(c)}) AS $c"
              }
              val antiKeep =
                if (deleteActs.isEmpty) "true"
                else s"($nCase) NOT IN (${deleteActs.mkString(", ")})"
              passed.unionByName(spark.sql(
                s"""SELECT ${antiCols.mkString(", ")}
                   |FROM $tv AS ${spec.tAlias}
                   |LEFT ANTI JOIN $sv AS ${spec.sAlias} ON ${spec.cond}
                   |WHERE $antiKeep""".stripMargin))
            } else spark.sql(
              s"""SELECT ${colExprs.mkString(", ")}
                 |FROM $tv AS ${spec.tAlias}
                 |LEFT JOIN (SELECT *, true AS __m FROM $sv)
                 |  AS ${spec.sAlias} ON ${spec.cond}
                 |WHERE $keep""".stripMargin)
          // ---- inserts: anti-join + first-match clause CASE -----------
          // the anti-join target: with matched/by-source clauses the
          // affected files contain every source-matched row by the probe's
          // construction, so `tv` suffices; an INSERT-ONLY merge skipped
          // the probe (nothing rewrites) and must anti-join the FULL
          // snapshot — an empty `tv` would wrongly insert matched rows
          val av = s"graft_mrg_a_$n"
          val antiView =
            if (spec.matched.isEmpty && spec.notMatchedBySource.isEmpty) {
              withNewNulls(assemble(spark, table, v, st.live, st.dvs))
                .createOrReplaceTempView(av)
              av
            } else tv
          val inserts =
            if (spec.notMatched.isEmpty) None
            else {
              val iAct =
                s"(CASE ${guards(spec.notMatched.map(_._1), 0)} ELSE -1 END)"
              val iCols = declared.map { c =>
                val whens = spec.notMatched.zipWithIndex.flatMap {
                  case ((_, sets), i) =>
                    sets.get(c).map(e => s"WHEN $i THEN ($e)")
                }
                if (whens.isEmpty) s"CAST(NULL AS ${typeOf(c)}) AS $c"
                else s"CAST(CASE $iAct ${whens.mkString(" ")} " +
                  s"ELSE NULL END AS ${typeOf(c)}) AS $c"
              }
              val raw = spark.sql(
                s"""SELECT ${iCols.mkString(", ")},
                   |  CAST($iAct AS INT) AS _iact
                   |FROM $sv AS ${spec.sAlias}
                   |LEFT ANTI JOIN $antiView AS ${spec.tAlias}
                   |ON ${spec.cond}
                   |WHERE $iAct >= 0""".stripMargin)
              // a column a clause does NOT set takes its declared DEFAULT /
              // GENERATED expression instead of NULL (the Delta
              // insert-default rule) — applied in a SECOND projection where
              // every table column already carries its INSERTED value, so a
              // generation expression binds to the row being inserted,
              // never to raw source columns; clause-set values (including
              // explicit NULLs) pass through untouched via the act id
              val dflt = defaultsAsOf(table, v)
                .filter { case (c, _) => declared.contains(c) }
              val filled = dflt.toSeq.sortBy(_._1).foldLeft(raw) {
                case (d, (c, (e, _))) =>
                  val unsetIds = spec.notMatched.zipWithIndex.collect {
                    case ((_, sets), i) if !sets.contains(c) => i
                  }
                  if (unsetIds.isEmpty) d
                  else d.withColumn(c,
                    when(col("_iact").isin(unsetIds.map(Int.box): _*),
                      expr(e).cast(d.schema(c).dataType))
                      .otherwise(col(c)))
              }.drop("_iact")
              Some(filled)
            }
          val merged = inserts.map(survivors.unionByName(_))
            .getOrElse(survivors)
          // GENERATED columns recompute uniformly over the final frame
          // (deterministic expressions: untouched rows reproduce their
          // stored value; updated/inserted rows get the post-change value).
          // In DML the expression is AUTHORITATIVE — a clause assigning a
          // generated column is overridden by the recompute, the Delta
          // UPDATE-recompute rule — while plain appends VALIDATE
          // writer-provided values via the gen-constraint (r13 review).
          val rewritten = generatedOf(table, v).foldLeft(merged) {
            case (d, (c, e)) =>
              d.withColumn(c, expr(e).cast(d.schema(c).dataType))
          }
          // the gate sees the full post-merge state of the affected rows
          enforceConstraints(table, v, rewritten, "MERGE")
          // matched deletes can empty every affected file, and an
          // insert-only merge whose guards drop everything produces no
          // rows at all — commit removes-only / no-op instead of handing
          // writeFiles an empty frame (the probe runs only in those cases)
          val files =
            if ((deleteActs.nonEmpty || affectedRel.isEmpty) &&
                rewritten.isEmpty) Seq.empty[Add]
            else a.write(toPhysical(rewritten, writeMapping), "merge")
          Option.when(files.nonEmpty || affectedRel.nonEmpty)(Commit(
            "merge", files, affectedRel, evoDdl, evoMapping))
        }
      } finally {
        spark.catalog.dropTempView(sv)
        spark.catalog.dropTempView(tv)
        spark.catalog.dropTempView(s"graft_mrg_a_$n")
        ()
      }
    }
  }

  /** CDC APPLY (S60): land one collapsed changelog batch — ≤1 row per
    * key, an `_op` column of `upsert` | `delete`, the table's columns
    * otherwise — as ONE atomic MERGE-ON-READ commit. Upserts REPLACE the
    * target rows sharing their keys (or insert when unmatched), deletes
    * drop them (a delete for an absent key no-ops). No data file is
    * rewritten: the commit carries deletion vectors (DVs) tombstoning
    * the live rows the batch replaces, plus one new file of upserts —
    * the shape a MongoDB-oplog → warehouse replicator ships, at a cost
    * of |batch| written plus one probe of the live files whose key stats
    * admit a batch key, never |table|.
    *
    * The commit also carries its own CHANGE DATA (Delta's `cdc` action):
    * the probe returns the matched live rows whole, so the rows the DVs
    * tombstone — the commit's delete images — are on the driver already
    * and land as a change-data file next to the upsert file. The feed
    * then reads this commit as its upsert file (inserts) plus its
    * change-data file (deletes), with no rescan of the DV'd files and
    * no netting ([[feedForVersions]]). That needs
    * the two files to never hold the same row image, so an UNCHANGED
    * upsert — one equal to a live row of its key, compared the way the
    * feed's grouping compares rows ([[grouped]]) — is skipped: that live
    * row stays, the upsert is not written, and only the key's other live
    * rows (duplicates) are deleted. The snapshot is the same either way.
    *
    * `changes` is ONE micro-batch, so its size is bounded by the
    * trigger: it is collected to the driver once and audited there, and
    * a retry after a lost commit slot reuses those rows — the source is
    * never evaluated twice. The Spark work per commit is the probe scan;
    * its files — the upsert file, the change-data file and the sidecar
    * of a vector that outgrows [[inlineDvMax]] — are written on the
    * driver ([[Attempt.writeRows]]), with no job. Positions are taken
    * over the current state, so DVs stacked on one file hold only new
    * positions; they accumulate commit after commit until `compact`
    * materializes them.
    *
    * `txnApp`/`txnBatch` stamp the commit with the exactly-once txn
    * marker: a batch id at or below the app's highest marker as of the
    * base ([[txnsAsOf]]) is a replay and is skipped (returns -1) — the
    * streaming foreachBatch contract.
    */
  def applyChanges(spark: SparkSession, table: File, changes: DataFrame,
      keys: Seq[String], txnApp: Option[String] = None,
      txnBatch: Long = -1L): Long = {
    require(changes.columns.contains("_op"),
      "TxLog CDC APPLY: changes must carry an _op column (upsert|delete)")
    val batch = changes.collect().toSeq
    val opAt = changes.schema.fieldIndex("_op")
    val keyAt = keys.map(changes.schema.fieldIndex)
    // validate the batch before the commit loop: an unknown _op would
    // silently act as a delete (its key is probed but the row never
    // lands), and a duplicate key would land twice. A NULL _op is not
    // flagged — SQL three-valued `NOT IN` — and acts as a delete.
    val badOps = batch.count(r => !r.isNullAt(opAt) &&
      !Set("upsert", "delete").contains(r.getString(opAt)))
    require(badOps == 0,
      s"TxLog CDC APPLY: $badOps row(s) carry an _op other than " +
        "upsert|delete — an unknown op would silently act as a delete")
    val batchKeys = batch.map(r => keyAt.map(r.get))
    val dupes = batchKeys.size - batchKeys.distinct.size
    require(dupes == 0,
      s"TxLog CDC APPLY: $dupes duplicate key(s) in the batch — " +
        "collapse the changelog to its per-key final state first " +
        "(LWW on the source ordering)")
    // a key with a NULL component never matches a live row
    val probeKeys = batchKeys.filterNot(_.contains(null))
    val upsertSchema = StructType(changes.schema.filterNot(_.name == "_op"))
    val upsertRows = batch.filter(r => "upsert" == r.getString(opAt))
      .map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.patch(opAt, Nil, 1)))
    def keyOf(r: org.apache.spark.sql.Row): Any =
      grouped(keys.map(k => r.getAs[Any](k)))
    transact(table) { a =>
      // a replayed batch id is already in the log: skip it
      if (txnApp.exists(app =>
          txnsAsOf(table, a.v).get(app).exists(_ >= txnBatch))) None
      else {
        val v = a.base("CDC APPLY")
        val st = a.st
        requireLocalized(st, "CDC APPLY")
        requireNoIdentity(table, v, "CDC APPLY")
        // schema-ENFORCED like append (r15 review): a misspelled extra
        // column would otherwise be silently dropped by the table-columns
        // projection below, and an omitted defaulted column would land
        // physically missing with a post-declaration write epoch the
        // read-time fill never patches
        requireDeclared(table, v, upsertSchema, "CDC APPLY")
        val declared = schemaDdlAsOf(table, v).map(StructType.fromDDL)
        val mapping = mappingAsOf(table, v)
        val landing = Option.when(upsertRows.nonEmpty) {
          val upserts = withWriteDefaults(spark.createDataFrame(
            java.util.Arrays.asList(upsertRows: _*), upsertSchema),
            table, v)
          // the upserts land in the table's column order and types (a
          // footer-owned table reads its schema off one live file)
          val target = declared.orElse(st.live.headOption.map(f =>
            readAs(spark, table, v, Seq(new File(table, f.path)
              .getAbsolutePath)).schema)).getOrElse(upserts.schema)
          val out = upserts.select(target.fields.toSeq.map(f =>
            if (upserts.schema(f.name).dataType == f.dataType) col(f.name)
            else col(f.name).cast(f.dataType).as(f.name)): _*)
          // the constraint gate sees only the rows that will LAND
          enforceConstraints(table, v, out, "CDC APPLY")
          out
        }
        // the post-images as they land; a projection of a local
        // relation collects on the driver, without a job
        val post = landing.toSeq.flatMap(_.collect().toSeq)
        val names = landing.map(_.columns.toSeq).getOrElse(Seq.empty)
        def image(r: org.apache.spark.sql.Row): Any =
          grouped(names.map(n => r.getAs[Any](n)))
        val postByKey = post.map(r => keyOf(r) -> image(r)).toMap
        val (images, hits) = probeKeyRows(spark, table, v, st, keys,
          probeKeys, keys.map(k => mapping.getOrElse(k, k)))
        // per unchanged upsert, the one live row of its key it equals
        val kept = hits.groupBy(keyOf).toSeq.flatMap { case (k, hs) =>
          postByKey.get(k).flatMap(p => hs.find(h => image(h) == p))
        }
        val unchanged = kept.map(keyOf).toSet
        def at(h: org.apache.spark.sql.Row): (String, Long) =
          (h.getAs[String]("_gf_rel"), h.getAs[Long]("_gi"))
        val keptAt = kept.map(at).toSet
        val deleted = hits.filterNot(h => keptAt(at(h)))
        val toPath = byBase(table, st.live)
        val perFile = deleted.map(at).groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (k, ps) => (k, ps.map(_._2).sorted) }
        val (small, large) = perFile.partition(_._2.size <= inlineDvMax)
        val sidecar = Option.when(large.nonEmpty)(a.sidecar(spark,
          large.flatMap { case (k, ps) => ps.map(Row(k, _)) }))
        val dvs =
          small.map { case (k, ps) => Dv(toPath(k), "", ps.size, ps) } ++
            large.map { case (k, ps) => Dv(toPath(k), sidecar.get, ps.size) }
        // the upserts that land and the delete images, written from the
        // driver as the commit's data file and change-data file. The rows
        // take the table read's schema, whose columns are nullable, in
        // the upserts' column order, under the physical names.
        val read = StructType(images.filterNot(f =>
          f.name == "_gf_rel" || f.name == "_gi"))
        val schema = landing.fold(read)(l =>
          if (deleted.isEmpty) l.schema else StructType(l.columns.map(read(_))))
        val Seq(adds, cdc) = a.writeRows(spark, Seq(
            post.filterNot(r => unchanged(keyOf(r))),
            deleted.map(h =>
              Row.fromSeq(schema.fieldNames.toSeq.map(h.getAs[Any])))),
          StructType(schema.map(f =>
            f.copy(name = mapping.getOrElse(f.name, f.name)))),
          "cdc")
        Some(Commit("cdc-apply", adds, dvs = dvs,
          txns = txnApp.map(_ -> txnBatch).toSeq,
          cdc = cdc.map(f => Add(f.path, f.rows))))
      }
    }
  }

  /** A row value as the change feed's grouping compares it: NaN equals
    * NaN, −0.0 equals 0.0 and binary values compare by content, through
    * structs, arrays and maps. Two values are the same row image to the
    * feed iff their `grouped` forms are `==`.
    */
  private def grouped(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
    case f: Float => java.lang.Float.floatToIntBits(f + 0.0f)
    case b: Array[Byte] => b.toSeq
    case r: org.apache.spark.sql.Row => r.toSeq.map(grouped)
    case s: scala.collection.Seq[_] => s.map(grouped)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => grouped(k) -> grouped(v) }
    case other => other
  }

  /** The live rows at `v` whose `keys` equal a tuple of `probeKeys` —
    * the apply's one probe scan: every table column plus the row's file
    * key and position (`_gf_rel`, `_gi`), and the frame's schema. Reads
    * the files whose log stats admit a batch key (`physKeys` name the
    * stats), with their current DVs and DEFAULT fills applied, filtered
    * by the keys as a literal set: a broadcast of the driver-held keys
    * would cost a job of its own. Only matched rows reach the driver.
    */
  private def probeKeyRows(spark: SparkSession, table: File, v: Long,
      st: LiveState, keys: Seq[String], probeKeys: Seq[Seq[Any]],
      physKeys: Seq[String]): (StructType, Seq[org.apache.spark.sql.Row]) = {
    // stats are integral ranges: only an integral key value can miss one
    def admits(a: Add): Boolean = probeKeys.exists(_.zip(physKeys).forall {
      case (x @ (_: java.lang.Long | _: Integer | _: java.lang.Short |
          _: java.lang.Byte), pk) if a.stats.contains(pk) =>
        val n = x.asInstanceOf[Number].longValue
        val (lo, hi) = a.stats(pk)
        lo <= n && n <= hi
      case _ => true
    })
    val candidates =
      if (probeKeys.isEmpty) Seq.empty else st.live.filter(admits)
    if (candidates.isEmpty) (StructType(Nil), Seq.empty)
    else {
      val frame = assemble(spark, table, v, candidates, st.dvs, keepPos = true)
      val hit =
        if (keys.size == 1) col(keys.head).isin(probeKeys.map(_.head): _*)
        else struct(keys.map(col): _*).isin(probeKeys.map(t =>
          struct(t.zip(keys).map { case (x, k) =>
            lit(x).cast(frame.schema(k).dataType).as(k) }: _*)): _*)
      (frame.schema, frame.filter(hit).collect().toSeq)
    }
  }

  /** Streaming CDC APPLY: every micro-batch of the events changelog
    * collapses to its per-key final state and lands through
    * [[applyChanges]] with the exactly-once txn marker — the end-to-end
    * MongoDB-change-stream → transactional-warehouse sink. In-order-
    * per-key transport (the CDC resume-token contract) makes any prefix
    * split converge to the batch apply.
    */
  def cdcApplyStreamQuery(changes: DataFrame, table: File,
      keys: Seq[String], app: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          applyChanges(batch.sparkSession, table, batch.toDF(), keys,
            Some(app), id)
          ()
      }
      .start()

  /** Row-level CHANGE DATA FEED between two versions (the Delta CDF
    * shape), derived from the log's add/remove file sets, except for
    * commits that carry their change data: for each commit in
    * (fromVersion, toVersion], rows present in its added files but not
    * its removed files are `insert`s, rows present in removed but not
    * added are `delete`s, and an updated row surfaces as its
    * delete+insert pre/post-image pair. Data-preserving commits
    * (op=compact) contribute nothing by definition and are skipped
    * without reading a byte. A CDC apply commit wrote its delete images
    * as change-data files ([[applyChanges]]), so its feed is read, not
    * derived: adds are inserts, change-data files deletes.
    *
    * Scale: cost is bounded by the files TOUCHED by the commits in
    * range — the CDF property that makes downstream incremental view
    * maintenance delta-proportional instead of snapshot-diff-sized
    * (S7 diffs two full snapshots; this reads only the changed files).
    * The derived part resolves the whole window in ONE distributed pass:
    * every touched file is read once (a file both added and removed
    * within the window is still one read — the (version, sign) lookup
    * multiplies its rows), a literal path → (version, sign) map maps each
    * row to its commit and side, and the per-commit bag-difference is the
    * SIGNED NET COUNT per row value (adds − removes per (version, row):
    * +n → n inserts, −n → n deletes — exact under duplicate rows, the same
    * multiset algebra exceptAll computes, without a per-commit job
    * train: the r9 bench measured the per-commit exceptAll form at
    * 1.37 s against ~0.4 s for this one-aggregate shape on the same
    * 5-commit window). The read part is one scan with no shuffle.
    * Requires the touched files to still exist — a feed window
    * inside the vacuum retention horizon, Delta's contract.
    */
  def changeFeed(spark: SparkSession, table: File, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val vs = versions(table).filter(v => v > fromVersion && v <= toVersion)
    feedForVersions(spark, table, vs).getOrElse(
      throw new IllegalArgumentException(
        s"TxLog: no data-changing commits in ($fromVersion, $toVersion]"))
  }

  /** The row-level change feed of an explicit version set — the shared
    * core of the batch [[changeFeed]] and the streaming consumer (the
    * stream discovers VERSIONS exactly-once; the conversion reads the
    * log, so streamed ≡ batch by construction). None when no commit in
    * the set changes data. Every file reads under the latest declared
    * schema with the DEFAULT fills as of the latest version, so a row
    * image equals the row the snapshot served ([[readBound]]).
    *
    * Commits that carry their change data ([[carriesChangeData]]) are
    * read directly: adds → `insert`, change-data files → `delete`; their
    * DVs are never read. The others' three signal classes fold into ONE
    * netting aggregate (see [[feedOfEntries]]):
    *
    *   - file-level (path, version, +1/−1) from add/remove actions;
    *   - DV tombstones (round-12): a dv action's (file, row) positions
    *     read back as row values with sign −1 — a merge-on-read delete's
    *     rows surface as `delete` rows without the file ever rewriting;
    *   - DV removal CORRECTIONS: when a commit REMOVES a file that had
    *     live DVs (CoW delete / merge materializing them), the removed
    *     file's raw rows include already-tombstoned ones — the remove's
    *     −1 would double-delete them, so the prior tombstones re-enter
    *     at +1 and net to zero (they were deleted at the DV's version,
    *     not now).
    *
    * A window that mixes both kinds unions the two parts.
    */
  private[graft] def feedForVersions(spark: SparkSession, table: File,
      vs: Seq[Long]): Option[DataFrame] = {
    val commits = vs.sorted.map(v => (v, readCommit(table, v)))
      .filterNot { case (_, c) => dataPreservingOps(c.op) }
    val (read, derived) = commits.partition(vc => carriesChangeData(vc._2))
    val entries = derived.flatMap { case (v, c) =>
      c.adds.map(a => (a.path, v, 1)) ++ c.removes.map(p => (p, v, -1))
    }
    val rowLevel = derived.flatMap { case (v, c) =>
      val dvDeletes =
        if (c.dvs.isEmpty) Seq.empty else Seq((v, c.dvs, -1))
      val corrections = {
        val prior =
          if (c.removes.isEmpty) Map.empty[String, Seq[Dv]]
          else liveState(table, v - 1).dvs
        val affected = c.removes.flatMap(p => prior.getOrElse(p, Seq.empty))
        if (affected.isEmpty) Seq.empty else Seq((v, affected, 1))
      }
      dvDeletes ++ corrections
    }
    // ALL file reads bind the latest DECLARED schema (r12 advice): on a
    // column-mapped table raw footer reads would emit PHYSICAL names, and
    // mixed pre-/post-ADD-COLUMNS footers would misalign the unions —
    // the feed's rows surface under the latest logical names, the Delta
    // CDF read-schema convention.
    lazy val declaredV = versions(table).last
    val parts =
      readFeed(spark, table, declaredV, read.flatMap { case (v, c) =>
        c.adds.map(a => (a.path, v, "insert")) ++
          c.cdc.map(f => (f.path, v, "delete"))
      }).toSeq ++
        Option.when(entries.nonEmpty || rowLevel.nonEmpty)(
          feedOfEntries(spark, table, declaredV, entries, rowLevel))
    if (parts.nonEmpty) Some(parts.reduce(_ unionByName _))
    else Option.when(read.nonEmpty) {
      // CDC applies that changed no row: an empty feed, not "no commits"
      val s = schemaAt(spark, table, declaredV)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(StructField("_version", LongType, nullable = false) +:
          StructField("_change_type", StringType, nullable = false) +:
          s.fields.toSeq))
    }
  }

  /** True when `c`'s files hold its whole row-level change, so the feed
    * reads it instead of deriving it: a commit with change-data files
    * (its deletes; its adds are its inserts), or a CDC apply that
    * deleted nothing — no DV, no remove — whose adds are all inserts.
    */
  private def carriesChangeData(c: Commit): Boolean =
    c.cdc.nonEmpty ||
      (c.op == "cdc-apply" && c.dvs.isEmpty && c.removes.isEmpty)

  /** A file as the feed identifies it: the bare absolute path of its
    * canonical URI, which is what [[scannedPath]] reports for it.
    */
  private def feedPath(table: File, p: String): String =
    new File(table, p).getCanonicalFile.toURI.toString
      .replaceFirst("^file:/+", "/")

  /** The scanned row's file as [[feedPath]] names it: input_file_name
    * yields file:///abs, a File URI file:/abs — both normalize to a bare
    * absolute path.
    */
  private def scannedPath: org.apache.spark.sql.Column =
    regexp_replace(input_file_name(), "^file:/+", "/")

  /** Every row of `files` (table-relative path, writing version, change
    * type) as a feed row, in one scan with no shuffle: a literal path →
    * (version, change type) map tags each row by its file. None for no
    * files.
    */
  private def readFeed(spark: SparkSession, table: File, declaredV: Long,
      files: Seq[(String, Long, String)]): Option[DataFrame] =
    Option.when(files.nonEmpty) {
      val tag = map(files.flatMap { case (p, v, kind) =>
        Seq(lit(feedPath(table, p)),
          struct(lit(v).as("_version"), lit(kind).as("_change_type")))
      }: _*).getItem(scannedPath)
      val rows = readBound(spark, table, declaredV,
        files.map(f => new File(table, f._1).getCanonicalPath),
        Seq(tag.as("_tag")))
      rows.select(col("_tag._version").as("_version") +:
        col("_tag._change_type").as("_change_type") +:
        rows.columns.filterNot(_ == "_tag").toSeq.map(col): _*)
    }

  /** Bag-difference core: rows×(version, sign) from file entries, plus
    * row-level DV adjustment frames, all through ONE netting aggregate —
    * (version, row) net > 0 → inserts, < 0 → deletes, 0 → cancelled.
    */
  private def feedOfEntries(spark: SparkSession, table: File,
      declaredV: Long, entries: Seq[(String, Long, Int)],
      rowLevel: Seq[(Long, Seq[Dv], Int)]): DataFrame = {
    val fileFrame: Option[DataFrame] = if (entries.isEmpty) None else {
      // path → its (version, sign) entries as ONE literal map: a file
      // both added and removed inside the window explodes to both rows,
      // and no job ships a driver-held set to the executors
      val lookup = map(entries.groupBy(e => feedPath(table, e._1)).toSeq
        .flatMap { case (p, es) =>
          Seq(lit(p), array(es.map { case (_, v, sg) =>
            struct(lit(v).as("_version"), lit(sg).as("_sign")) }: _*))
        }: _*)
      val paths = entries.map(e => new File(table, e._1).getCanonicalPath)
        .distinct
      Some(readBound(spark, table, declaredV, paths,
          Seq(scannedPath.as("_path")))
        .withColumn("_vs", explode(lookup.getItem(col("_path"))))
        .withColumn("_version", col("_vs._version"))
        .withColumn("_sign", col("_vs._sign"))
        .drop("_path", "_vs"))
    }
    // each DV adjustment: read the tombstoned files with positions and
    // keep the tombstoned rows — an inline vector's positions as a
    // literal filter, a sidecar's (f, i) pairs as a broadcast semi-join
    val dvFrames = rowLevel.flatMap { case (v, dvs, sign) =>
      val (inl, side) = dvs.partition(_.inline)
      Seq(inl, side).filter(_.nonEmpty).map { part =>
        val dataPaths = part.map(_.path).distinct
          .map(p => new File(table, p).getAbsolutePath)
        val data = readAsPos(spark, table, declaredV, dataPaths)
        val hit =
          if (part.head.inline) data.filter(inlineTombstoned(table, part))
          else data.join(broadcast(sidecarTombstones(spark, table, part)),
            data("_gf_rel") === col("_tf") && data("_gi") === col("_ti"),
            "left_semi")
        hit.drop("_gf_rel", "_gi")
          .withColumn("_version", lit(v))
          .withColumn("_sign", lit(sign))
      }
    }
    val all = (fileFrame.toSeq ++ dvFrames).reduce(_ unionByName _)
    val cols = all.columns.filterNot(Set("_version", "_sign")).toSeq
    val net = all
      .groupBy(col("_version") +: cols.map(col): _*)
      .agg(sum(col("_sign")).as("_net"))
      .filter(col("_net") =!= 0)
    // |net| copies per row value restore exact row-level multiset deltas
    net.select(
        col("_version"),
        when(col("_net") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change_type"),
        explode(expr("sequence(1, abs(_net))")).as("_i"),
        struct(cols.map(col): _*).as("_row"))
      .select(col("_version") +: col("_change_type") +:
        cols.map(c => col(s"_row.$c").as(c)): _*)
  }

  /** VACUUM: physically delete data files no longer referenced by any
    * version >= `retainFromVersion`. Time travel and changeFeed windows
    * reaching below the horizon stop working — the Delta/Iceberg
    * retention contract. Metadata (the log) is never deleted, so history
    * STRUCTURE stays auditable. A deleted file's checksum goes with it,
    * and so does a group (or partition) directory left with no data
    * file, marker and all. Returns the deleted relative paths (data,
    * sidecar and change-data), as [[vacuumPreview]] lists them.
    */
  def vacuum(table: File, retainFromVersion: Long): Seq[String] = {
    // report only files ACTUALLY deleted this call — a re-run is a no-op
    val deleted = vacuumPreview(table, retainFromVersion).filter { p =>
      val f = new File(table, p)
      if (f.isDirectory) { // DV sidecar group dir
        graft.Tables.rmTree(f)
        true
      } else {
        // the checksum Hadoop's local filesystem wrote beside the file
        Files.deleteIfExists(new File(f.getParentFile, s".${f.getName}.crc")
          .toPath)
        Files.deleteIfExists(f.toPath)
      }
    }
    // a group dir, or a partition dir inside one, with no data file left
    // goes too: its `_SUCCESS` marker and checksums belong to no file
    val root = table.getCanonicalFile.toPath
    def holdsData(d: File): Boolean =
      Option(d.listFiles()).getOrElse(Array.empty).exists(f =>
        if (f.isDirectory) holdsData(f) else f.getName.endsWith(".parquet"))
    deleted.map(p => new File(table, p).getCanonicalFile.getParentFile)
      .distinct.foreach { d =>
        var dir = d
        while (dir.toPath.startsWith(root) && dir.toPath != root &&
            !holdsData(dir)) {
          graft.Tables.rmTree(dir)
          dir = dir.getParentFile
        }
      }
    deleted
  }

  /** The files a VACUUM at this horizon WOULD reclaim, without touching
    * anything (S75 cont., round-14 — Delta's `VACUUM … DRY RUN`): the
    * operator's pre-flight before an irreversible delete. Same candidate
    * derivation [[vacuum]] deletes from — data files no retained version
    * references, plus DV sidecar groups past the horizon, plus the
    * change-data files of commits below it (a feed window inside the
    * horizon never reads them; the ones at or above it stay); external
    * (`../`, clone-inherited) references belong to the SOURCE table and
    * are never candidates. Log-metadata work plus one existence check
    * per candidate; zero data reads.
    */
  def vacuumPreview(table: File, retainFromVersion: Long): Seq[String] = {
    val vs = versions(table)
    val retainedStates = vs.filter(_ >= retainFromVersion)
      .map(v => liveState(table, v))
    val retained = retainedStates.flatMap(_.live.map(_.path)).toSet
    val retainedDv = retainedStates
      .flatMap(_.dvs.values.flatten.filterNot(_.inline).map(_.dvPath)).toSet
    // every file ever added, in log order
    val everAdded = vs.flatMap(v => readCommit(table, v).adds.map(_.path))
    val data = everAdded.filterNot(retained)
      .filterNot(_.startsWith(".."))
      .distinct
      .filter(p => new File(table, p).exists())
    // DV sidecars past the horizon reclaim too (whole parquet groups);
    // inline vectors live in the log and have no file
    val everDv = vs.flatMap(v =>
        readCommit(table, v).dvs.filterNot(_.inline).map(_.dvPath))
      .distinct
    val dv = everDv.filterNot(retainedDv)
      .filterNot(_.startsWith(".."))
      .filter(dp => new File(table, dp).exists())
    val cdc = vs.filter(_ < retainFromVersion)
      .flatMap(v => readCommit(table, v).cdc.map(_.path))
      .filter(p => new File(table, p).exists())
    data ++ dv ++ cdc
  }

  /** Partition-scoped OPTIMIZE (round-13, the Delta `OPTIMIZE … WHERE`
    * surface): compact ONLY the live files of the partitions `keep`
    * selects — cost is |selected partitions' files|, never |table|; the
    * rest of the table survives by reference in the same commit. Live
    * deletion vectors on selected files MATERIALIZE in the rewrite (the
    * re-read is DV-applied and the removes drop their sidecars' targets).
    * The everyday shape at 100 TB: yesterday's hot partition compacts
    * nightly while years of cold partitions stay untouched.
    */
  def compactWhere(spark: SparkSession, table: File,
      keep: Map[String, String] => Boolean, targetFiles: Int): Long =
    transact(table) { a =>
      val v = a.base("OPTIMIZE WHERE")
      val partCols = partitionColsOf(table)
      require(partCols.nonEmpty,
        s"TxLog OPTIMIZE WHERE: $table is not partitioned — use plain " +
          "OPTIMIZE (partition predicates need a declared layout)")
      val selected = a.st.live.filter { f =>
        val pv = partValsOf(f.path)
        partCols.forall(pv.contains) && keep(pv)
      }
      Option.when(selected.nonEmpty) { // nothing matches: no commit
        val frame = assemble(spark, table, v, selected, a.st.dvs)
        val files = a.write(
          toPhysical(frame.repartition(targetFiles, partCols.map(col): _*),
            mappingAsOf(table, v)), "compact")
        Commit("compact-where", files, selected.map(_.path))
      }
    }

  /** ACID compaction (S23, with the commit this time): bin ALL live
    * files into `targetFiles` rewritten ones in one add+remove commit.
    * Pre-compaction versions still time-travel from the original files.
    * This is how a table sheds what merge-on-read writers accumulate:
    * the rewrite materializes every deletion vector (the re-read is
    * DV-applied) and merges the small per-commit upsert files. Nothing
    * compacts automatically: beside a live CDC tail a compaction loses
    * its slot to every tail commit that lands during its rewrite and
    * re-derives it whole, so it needs a conflict rule that lets it
    * commit over those commits first.
    */
  def compact(spark: SparkSession, table: File, targetFiles: Int): Long =
    // a delete/merge landing mid-compaction would otherwise be silently
    // undone by the compacted re-add of its rows
    transact(table) { a =>
      val v = a.base("OPTIMIZE")
      val partCols = partitionColsOf(table)
      // a partitioned table compacts WITHIN its layout: one shuffle keyed
      // on the partition columns bins each partition's files, and the
      // rewrite lands back under `_p_` dirs so pruning keeps working
      val all =
        if (partCols.isEmpty) snapshot(spark, table, Some(v))
          .coalesce(targetFiles)
        else snapshot(spark, table, Some(v))
          .repartition(targetFiles, partCols.map(col): _*)
      val files = a.write(toPhysical(all, mappingAsOf(table, v)), "compact")
      Some(Commit("compact", files, a.st.live.map(_.path)))
    }

  /** Commits whose add/remove sets carry identical row bags — skipped
    * unread by the change feed (batch and streaming alike).
    */
  private[sources] val dataPreservingOps =
    Set("compact", "compact-where", "zorder")

  /** OPTIMIZE … ZORDER BY (S49 cont.): rewrite the latest snapshot
    * CLUSTERED by the Morton interleave of two numeric columns, as one
    * data-preserving commit (Delta's OPTIMIZE ZORDER shape on this log).
    * Each dimension is ranked 0..4095 from its OWN min/max before the
    * interleave — the equal-depth scaling S20's layout module measured as
    * load-bearing (raw-value interleaves let the wider dimension's high
    * bits dominate and the range partitioner splits on it alone). Old
    * versions still time-travel to the pre-optimize layout; the change
    * feed skips the commit unread.
    *
    * Scale: one distributed sort-by-z of the snapshot (the same cost
    * class as the compaction it subsumes); the payoff is conjunctive
    * predicate file-skipping on BOTH dimensions, pinned in TxLogSpec.
    */
  def optimizeZorder(spark: SparkSession, table: File, zCols: Seq[String],
      targetFiles: Int): Long = {
    require(zCols.size == 2,
      s"TxLog OPTIMIZE ZORDER: exactly two columns supported, got $zCols")
    transact(table) { a =>
      val v = a.base("OPTIMIZE ZORDER")
      val snap = snapshot(spark, table, Some(v))
      val Seq(c1, c2) = zCols
      val st = snap.agg(
        min(col(c1).cast("long")), max(col(c1).cast("long")),
        min(col(c2).cast("long")), max(col(c2).cast("long"))).head()
      require(!st.anyNull, s"TxLog OPTIMIZE ZORDER: $c1/$c2 must be " +
        "non-null numeric columns (an all-null dimension has no min/max " +
        "rank domain)")
      def rank(c: String, lo: Long, hi: Long) = {
        val span = math.max(hi - lo + 1, 1L)
        // floor + cast: Column `/` is double division; the rank must be
        // an integral bit pattern for the spread
        floor((col(c).cast("long") - lit(lo)) * lit(4096L) / lit(span))
          .cast("long")
      }
      val z = Layout.spread(rank(c1, st.getLong(0), st.getLong(1)))
        .bitwiseOR(shiftleft(
          Layout.spread(rank(c2, st.getLong(2), st.getLong(3))), 1))
      val sorted = snap.repartitionByRange(targetFiles, z)
      val files = a.write(toPhysical(sorted, mappingAsOf(table, v)),
        "zorder")
      Some(Commit("zorder", files, a.st.live.map(_.path)))
    }
  }

  // ---- multi-table atomic commit (S45, round-10; r9 verdict task 4) ------
  // The S15 cross-table transaction semantics on the S40 table format: a
  // DATABASE-level log (`<db>/_graft_log`) whose add actions reference
  // files by db-relative path `<table>/<group>/<file>.parquet`, so ONE
  // commit object can span several tables and a reader resolving any
  // version sees every table's half of a transaction or none of it —
  // multi-table atomicity by construction, not by coordination (the
  // single-log-per-database design; Delta needs a separate coordinator
  // for this because its log is per-table). All single-table machinery
  // (optimistic commit loop, checkpoints, time travel) applies unchanged
  // because the db directory IS the "table" the log machinery sees.

  /** Atomically append one DataFrame per table as ONE commit spanning
    * all of them. Data files land under `<db>/<table>/`; the shared log
    * records every table's adds in a single commit object. Returns the
    * committed version.
    */
  def dbAppend(db: File, batches: Seq[(String, DataFrame)]): Long = {
    val adds = batches.flatMap { case (t, df) =>
      writeFiles(df, new File(db, t), "append")
        .map(a => a.copy(path = s"$t/${a.path}"))
    }
    transact(db)(_ => Some(Commit("txn-append", adds)))
  }

  /** Snapshot of ONE table of the database at `version` (default latest):
    * the db-level live set filtered to the table's path prefix. Immutable-
    * file reads, same isolation contract as `snapshot`.
    */
  def dbSnapshot(spark: SparkSession, db: File, table: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(versions(db).lastOption).getOrElse(
      sys.error(s"TxLog: no commits in $db"))
    val files = liveState(db, v).live.filter(_.path.startsWith(table + "/"))
    require(files.nonEmpty, s"TxLog: version $v has no live files for $table")
    spark.read.parquet(
      files.map(a => new File(db, a.path).getAbsolutePath): _*)
  }

  /** Highest batch id committed for `app`, from the txn markers in the
    * log — the idempotence ledger of the exactly-once streaming sink.
    * Public so a restarted sink can read where to resume; the writers
    * themselves check [[txnsAsOf]] at their attempt's base.
    */
  def lastTxnBatch(table: File, app: String): Option[Long] =
    versions(table).lastOption.flatMap(txnsAsOf(table, _).get(app))

  /** app → highest committed batch id as of `v`. The fold reads only the
    * commits newer than its memo, so a streaming sink's per-batch check
    * stays O(new commits), not O(log length) — checkpoints carry no txn
    * markers to bound it.
    */
  private val txnsAsOf = new LogFold(Map.empty[String, Long])(
    (acc, c, _, _) => c.txns.foldLeft(acc) { case (m, (app, b)) =>
      m.updated(app, math.max(b, m.getOrElse(app, b)))
    })

  /** EXACTLY-ONCE streaming append (the Delta `txn` idempotence pattern):
    * a foreachBatch sink calls this per micro-batch; the (app, batchId)
    * marker rides the commit, and a batch REPLAYED after a crash-restart
    * (source offsets rewound past a committed sink write — the classic
    * at-least-once boundary) is detected in the log and skipped, so the
    * table never holds a batch twice. Single writer per app (a streaming
    * query's contract); different apps interleave freely through the
    * optimistic commit loop.
    */
  def exactlyOnceAppend(table: File, app: String, batchId: Long,
      df: DataFrame): Boolean = {
    // the written files depend on the base version's metadata, like
    // append's (r12 advice): a batch racing a RENAME would otherwise be
    // stored under stale LOGICAL names (readAs binds PHYSICAL names → the
    // renamed column silently reads NULL forever), and one racing an ADD
    // CONSTRAINT would land violating rows after the guarantee
    transact(table) { a =>
      Option.unless(txnsAsOf(table, a.v).get(app).exists(_ >= batchId)) {
        requireNoIdentity(table, a.v, "stream-append")
        requireDeclared(table, a.v, df.schema, "stream-append")
        val landing = withWriteDefaults(df, table, a.v)
        enforceConstraints(table, a.v, landing, "stream-append")
        // the streaming sink preserves a declared partition layout too — a
        // layoutless batch would dodge partition pruning and, worse, dodge
        // a later overwritePartitions of its partition
        val files = a.write(toPhysical(landing, mappingAsOf(table, a.v)),
          s"txn$batchId")
        Commit("stream-append", files, txns = Seq(app -> batchId))
      }
    } >= 0
  }

  /** Streaming writer: every micro-batch lands as one exactly-once
    * TxLog commit. The TxLog twin of Streams.cdcUpsertJdbcQuery.
    */
  def streamAppendQuery(events: DataFrame, table: File, app: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          exactlyOnceAppend(table, app, id, batch.toDF())
          ()
      }
      .start()

  // ---- registered queries ------------------------------------------------

  /** Demo table, built once per (JVM, corpus): three appends carve
    * orders into date thirds (3 commits), a file-pruned delete drops the
    * 1997 medium-priority rows (commit 4 rewrites only the files holding
    * them), and a compaction bins the survivors (commit 5). Memo is the
    * log itself — a table dir whose last commit is "compact" is complete;
    * the dir is process-unique so concurrent JVMs never share a log.
    */
  private[graft] def demoTable(spark: SparkSession, dir: String): File =
    txnDemoLock.synchronized {
    // serialized like txnDemoDb (r15 review — the identical first-build
    // race the r10 advice fixed there): two threads both seeing "not
    // built yet" would double-run the appends and duplicate every row
    val db = new File(dir).getName
    val table = new File(
      new File(sys.props("java.io.tmpdir")),
      s"graft_txlog_${ProcessHandle.current.pid}_$db")
    val done = versions(table).lastOption
      .exists(v => readCommit(table, v).op == "compact")
    if (!done) {
      val o = graft.Tables.orders(spark, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("yr"),
        graft.functions.Det.scaledLong(col("o_totalprice"), 100L)
          .as("cents"))
      append(o.filter(col("yr") < 1995), table)
      append(o.filter(col("yr").between(1995, 1996)), table)
      append(o.filter(col("yr") > 1996), table)
      deleteWhere(spark, table,
        col("o_orderpriority") === "3-MEDIUM" && col("yr") === 1997)
      compact(spark, table, targetFiles = 4)
    }
    table
  }

  /** txlog_snapshot (S40a) — latest-version read through the commit log:
    * per-(year, priority) census of the surviving rows after the
    * append/delete/compact history. The oracle recomputes the same state
    * from raw orders — the hash-match proves the log replay, the
    * copy-on-write delete, and the compaction preserved exactly the
    * declared rows.
    */
  def txlogSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTable(spark, dir)
    snapshot(spark, t)
      .groupBy(col("yr"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
      .orderBy(col("yr"), col("o_orderpriority"))
  }

  val txlogSnapshotSql: String =
    """WITH t AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT CAST(yr AS BIGINT) AS yr, o_orderpriority,
      |  COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM t
      |WHERE NOT (o_orderpriority = '3-MEDIUM' AND yr = 1997)
      |GROUP BY yr, o_orderpriority
      |ORDER BY yr, o_orderpriority""".stripMargin

  /** txlog_time_travel (S40b) — the same table read at TWO versions:
    * version 2 (all three appends, pre-delete) and the latest. Version 2
    * must still serve the deleted rows — the immutable pre-delete files
    * back it — so the per-priority deltas between the two reads are
    * exactly the deleted slice. The table-format twin of S10's event-log
    * point-in-time reconstruction.
    */
  def txlogTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTable(spark, dir)
    def census(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("total_cents"))
        .select(lit(tag).as("version"), col("o_orderpriority"),
          col("n_orders"), col("total_cents"))
    census(snapshot(spark, t, Some(2L)), "v2_pre_delete")
      .unionByName(census(snapshot(spark, t), "latest"))
      .orderBy(col("version"), col("o_orderpriority"))
  }

  val txlogTimeTravelSql: String =
    """WITH t AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |v2 AS (
      |  SELECT 'v2_pre_delete' AS version, o_orderpriority,
      |    COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
      |  FROM t GROUP BY o_orderpriority),
      |lat AS (
      |  SELECT 'latest' AS version, o_orderpriority,
      |    COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
      |  FROM t WHERE NOT (o_orderpriority = '3-MEDIUM' AND yr = 1997)
      |  GROUP BY o_orderpriority)
      |SELECT * FROM v2 UNION ALL SELECT * FROM lat
      |ORDER BY version, o_orderpriority""".stripMargin

  /** txlog_changefeed (S41) — the change DATA FEED of the demo table's
    * whole history, derived from the log (Delta CDF shape): the three
    * appends surface as per-version `insert` batches, the copy-on-write
    * delete surfaces as exactly the deleted slice (`delete` rows — the
    * rewritten survivors cancel in the bag-difference), and the
    * compaction contributes NOTHING (data-preserving, skipped unread).
    * The oracle recomputes each version's delta from raw orders — the
    * hash-match proves the feed is row-exact, not just file bookkeeping.
    * Version numbers are data-derived (the delete commit only exists
    * where its slice is non-empty), so Spark and oracle stay aligned at
    * every SF.
    */
  def txlogChangefeed(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTable(spark, dir)
    changeFeed(spark, t, -1L, versions(t).last)
      .groupBy(col("_version"), col("_change_type"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .orderBy(col("_version"), col("_change_type"), col("o_orderpriority"))
  }

  val txlogChangefeedSql: String =
    """WITH t AS (
      |  SELECT o_orderpriority, year(o_orderdate) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |cf AS (
      |  SELECT CAST(0 AS BIGINT) AS _version, 'insert' AS _change_type,
      |    o_orderpriority, cents FROM t WHERE yr < 1995
      |  UNION ALL
      |  SELECT 1, 'insert', o_orderpriority, cents FROM t
      |  WHERE yr BETWEEN 1995 AND 1996
      |  UNION ALL
      |  SELECT 2, 'insert', o_orderpriority, cents FROM t WHERE yr > 1996
      |  UNION ALL
      |  SELECT 3, 'delete', o_orderpriority, cents FROM t
      |  WHERE yr = 1997 AND o_orderpriority = '3-MEDIUM')
      |SELECT _version, _change_type, o_orderpriority,
      |  COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM cf GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---- S47: STREAMING change data feed (Delta CDF streaming source) ------
  //
  // The commit log consumed as a LIVE STREAM: a file stream tails
  // `_graft_log` exactly like a changelog topic — each committed action
  // file is discovered once (the file source's checkpoint is the resume
  // token, restart-safe), parsed into typed action rows, and a
  // foreachBatch consumer converts each microbatch's new commits into
  // row-level deltas with the SAME bag-difference core as the batch feed.
  // This is the shape Delta's CDF streaming source + the canonical
  // foreachBatch CDC consumer compose to; the r10 verdict named it the
  // natural next consumer surface (What's-missing #5).
  //
  // Scale: the streamed rows are log ACTIONS (metadata-rate — bytes per
  // commit); the per-microbatch collect is the same file-count-bounded
  // driver read every log resolution here performs (the Delta pattern);
  // the row-level conversion reads only the files the new commits
  // touched — delta-proportional end to end.

  /** Schema of one parsed log action row in the stream. */
  private val actionT = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType), StructField("rows", LongType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType)))),
    StructField("commit", StructType(Seq(
      StructField("op", StringType))))))

  /** The commit log as an unbounded stream of typed action rows:
    * (_version from the slot file name, add.path/rows, remove.path,
    * commit.op — exactly one of the three populated per row).
    */
  def actionStream(spark: SparkSession, table: File): DataFrame =
    spark.readStream
      .option("pathGlobFilter", "*.json") // never the .ckpt checkpoints
      .text(logDir(table).getAbsolutePath)
      .select(
        regexp_extract(col("_metadata.file_path"), "(\\d+)\\.json$", 1)
          .cast("long").as("_version"),
        from_json(col("value"), actionT).as("a"))
      .select(col("_version"),
        col("a.add.path").as("add_path"), col("a.add.rows").as("add_rows"),
        col("a.remove.path").as("remove_path"), col("a.commit.op").as("op"))

  /** Drain the commit-log stream (Trigger.AvailableNow) and land each new
    * commit's row-level deltas under `out` — the streaming twin of
    * [[changeFeed]]. `checkpoint` carries the file-source resume state,
    * and each micro-batch lands in its OWN batch-id-keyed directory with
    * overwrite semantics: foreachBatch alone is at-least-once (a crash
    * between the data write and the offset commit replays the batch), so
    * the replay must overwrite its previous partial landing rather than
    * append a duplicate (r11 code-review finding) — batch-id-keyed
    * overwrite IS the canonical idempotent-foreachBatch discipline. A
    * restart with the same checkpoint therefore re-lands nothing new and
    * re-lands a torn batch identically: exactly-once at the landing.
    */
  def runChangeFeedStream(spark: SparkSession, table: File,
      out: File, checkpoint: File): Unit = {
    import org.apache.spark.sql.Row
    val q = actionStream(spark, table).writeStream
      .option("checkpointLocation", checkpoint.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row],
          batchId: Long) =>
        // metadata-rate collect: the batch's NEW commit versions (one
        // row per log action; commit files appear atomically via the
        // hard-link publish, so a discovered version is always complete).
        // Conversion routes through feedForVersions — the SAME code path
        // as the batch feed, so streamed ≡ batch for every action class
        // (adds/removes, DV tombstones, DV removal corrections) by
        // construction rather than by a parallel reimplementation.
        val vsNew = batch.select(col("_version")).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
        feedForVersions(spark, table, vsNew).foreach(
          _.write.mode("overwrite")
            .parquet(new File(out, s"batch=$batchId").getAbsolutePath))
        ()
      }
      .start()
    q.awaitTermination()
  }

  private val cfStreamed =
    scala.collection.concurrent.TrieMap.empty[String, File]

  /** txlog_changefeed_stream (S47) — the demo table's whole history
    * consumed THROUGH the streaming feed (one AvailableNow drain per
    * JVM, landed as parquet), then the same per-(version, change, prio)
    * census as txlog_changefeed. Same oracle: the hash-match proves the
    * streamed feed is row-for-row the batch feed — the append/delete
    * history survives the stream boundary and the compaction still
    * contributes nothing.
    */
  /** The demo table's streamed feed, drained + landed once per JVM. */
  private def streamedFeed(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTable(spark, dir)
    val landing = cfStreamed.getOrElseUpdate(dir, {
      val base = new File(sys.props("java.io.tmpdir"),
        s"graft_txcf_${ProcessHandle.current.pid}_${new File(dir).getName}")
      val out = new File(base, "feed")
      val ckpt = new File(base, "ckpt")
      runChangeFeedStream(spark, t, out, ckpt)
      out
    })
    spark.read.parquet(landing.getAbsolutePath)
  }

  def txlogChangefeedStream(spark: SparkSession, dir: String): DataFrame =
    streamedFeed(spark, dir)
      .groupBy(col("_version"), col("_change_type"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .orderBy(col("_version"), col("_change_type"), col("o_orderpriority"))

  /** txlog_view_from_feed (S47 cont.) — incremental VIEW MAINTENANCE off
    * the streamed feed: a per-priority aggregate view materialized by
    * FOLDING the row-level deltas (insert: +1/+cents, delete: −1/−cents)
    * instead of rescanning the table — S9's IVM discipline with the S47
    * commit-log feed as the delta source. The oracle recomputes the view
    * from raw orders under the same history, so the hash-match proves
    * fold(feed) ≡ snapshot: the streamed deltas are EXACTLY sufficient
    * to maintain the view (nothing missing, nothing double-counted, the
    * compaction correctly absent).
    *
    * Scale: the fold is delta-proportional (only feed rows, never the
    * table) and mergeable — each new commit's deltas fold into the
    * served view with a keyspace-sized aggregate, the property that
    * makes a 100-TB materialized view maintainable at changelog rate.
    */
  def txlogViewFromFeed(spark: SparkSession, dir: String): DataFrame = {
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    streamedFeed(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(sum(sign).as("n_orders"),
        sum(sign * col("cents")).as("total_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val txlogViewFromFeedSql: String =
    """WITH t AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM t
      |WHERE NOT (o_orderpriority = '3-MEDIUM' AND yr = 1997)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Merge demo table, built once per (JVM, corpus): one range-
    * partitioned append of the orders census, then ONE transactional
    * MERGE whose source mixes updates (1998 urgent orders get +777
    * cents) with inserts (the 1997 medium slice re-keyed above the
    * orderkey domain). Range partitioning by (yr, key) concentrates the
    * matched keys so the copy-on-write rewrite prunes files (pinned in
    * TxLogSpec).
    */
  private[graft] def mergeDemoTable(spark: SparkSession, dir: String)
      : File = txnDemoLock.synchronized {
    // serialized like demoTable/txnDemoDb (r15 review)
    val db = new File(dir).getName
    val table = new File(
      new File(sys.props("java.io.tmpdir")),
      s"graft_txlogm_${ProcessHandle.current.pid}_$db")
    val done = versions(table).lastOption
      .exists(v => readCommit(table, v).op == "merge")
    if (!done) {
      val o = graft.Tables.orders(spark, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("yr"),
        graft.functions.Det.scaledLong(col("o_totalprice"), 100L)
          .as("cents"))
      append(o.repartitionByRange(4, col("yr"), col("o_orderkey")), table)
      val updates = o
        .filter(col("yr") === 1998 && col("o_orderpriority") === "1-URGENT")
        .withColumn("cents", col("cents") + 777L)
      val inserts = o
        .filter(col("yr") === 1997 && col("o_orderpriority") === "3-MEDIUM")
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
      merge(spark, table, updates.unionByName(inserts), Seq("o_orderkey"))
    }
    table
  }

  /** txlog_merge (S42) — post-MERGE state read through the log: the
    * oracle recomputes the upsert from raw orders (CASE uplift for the
    * matched slice, UNION ALL for the re-keyed inserts), so the
    * hash-match proves the one-commit upsert applied exactly the
    * declared row algebra — replaced matches, preserved non-matches,
    * appended non-matched source rows.
    */
  def txlogMerge(spark: SparkSession, dir: String): DataFrame = {
    val t = mergeDemoTable(spark, dir)
    snapshot(spark, t)
      .groupBy(col("yr"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
      .orderBy(col("yr"), col("o_orderpriority"))
  }

  val txlogMergeSql: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_orderpriority, year(o_orderdate) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |merged AS (
      |  SELECT o_orderpriority, yr,
      |    CASE WHEN yr = 1998 AND o_orderpriority = '1-URGENT'
      |      THEN cents + 777 ELSE cents END AS cents
      |  FROM t
      |  UNION ALL
      |  SELECT o_orderpriority, yr, cents FROM t
      |  WHERE yr = 1997 AND o_orderpriority = '3-MEDIUM')
      |SELECT CAST(yr AS BIGINT) AS yr, o_orderpriority,
      |  COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM merged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** txlog_history (S43) — the table format's DESCRIBE HISTORY surface:
    * per committed version, the operation tag, the table's row count AT
    * that version, and the row delta the commit contributed — computed
    * ENTIRELY from log metadata (the add actions carry row counts; the
    * live set per version is a log replay), zero data-file reads. This is
    * the audit query every lakehouse exposes (Delta `DESCRIBE HISTORY`,
    * Iceberg `snapshots`): "what changed, when, by how much".
    *
    * The oracle recomputes each version's expected count from raw orders
    * (the demo history is data-derived), so the hash-match proves the
    * log's row bookkeeping agrees with the data to the row — the invariant
    * that makes metadata-only row counts trustworthy downstream (S30-style
    * stats without a scan).
    *
    * Scale: |versions| log reads of bytes-sized files on the driver — the
    * same metadata-not-data cost class as snapshot resolution; a real
    * deployment serves it from the checkpointed action set.
    */
  def txlogHistory(spark: SparkSession, dir: String): DataFrame =
    history(spark, demoTable(spark, dir))

  /** DESCRIBE HISTORY of `table`: per committed version, the operation,
    * the logical row count after the commit (add bookkeeping minus live
    * DV tombstones) and the delta against the previous version — from log
    * metadata alone.
    */
  def history(spark: SparkSession, table: File): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    val counts = vs.map(v => liveState(table, v).rowCount)
    vs.zipWithIndex.map { case (v, i) =>
      val prev = if (i == 0) 0L else counts(i - 1)
      (v, readCommit(table, v).op, counts(i), counts(i) - prev)
    }.toDF("version", "op", "n_rows", "rows_delta")
      .orderBy(col("version"))
  }

  val txlogHistorySql: String =
    """WITH t AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority AS p FROM orders),
      |c AS (SELECT
      |  (SELECT count(*) FROM t WHERE yr < 1995) AS v0,
      |  (SELECT count(*) FROM t WHERE yr <= 1996) AS v1,
      |  (SELECT count(*) FROM t) AS v2,
      |  (SELECT count(*) FROM t) -
      |    (SELECT count(*) FROM t WHERE yr = 1997 AND p = '3-MEDIUM') AS v3)
      |SELECT CAST(version AS BIGINT) AS version, op,
      |  CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(rows_delta AS BIGINT) AS rows_delta
      |FROM (
      |  SELECT 0 AS version, 'append' AS op, v0 AS n_rows, v0 AS rows_delta
      |    FROM c
      |  UNION ALL SELECT 1, 'append', v1, v1 - v0 FROM c
      |  UNION ALL SELECT 2, 'append', v2, v2 - v1 FROM c
      |  UNION ALL SELECT 3, 'delete', v3, v3 - v2 FROM c
      |  UNION ALL SELECT 4, 'compact', v3, 0 FROM c)
      |ORDER BY version""".stripMargin

  /** Txn demo database, built once per (JVM, corpus): TWO tables —
    * `ord` (order header census) and `lin` (per-order line rollup) —
    * populated by TWO cross-table atomic commits that carve the corpus
    * by order year (<=1995, then the rest). Each commit carries BOTH
    * tables' halves of one "source transaction"; a torn commit would
    * leave a version where the halves disagree.
    */
  private[graft] def txnDemoDb(spark: SparkSession, dir: String): File =
    // synchronized: two threads racing the first build in one JVM would
    // both see 0 commits and double-append (r10 advice); the lock
    // serializes builders, and the per-commit guards below make a
    // crash-interrupted build (leftover db with exactly 1 commit) resume
    // by appending ONLY the missing commit instead of re-running both.
    txnDemoLock.synchronized {
      val dbName = new File(dir).getName
      val db = new File(
        new File(sys.props("java.io.tmpdir")),
        s"graft_txdb_${ProcessHandle.current.pid}_$dbName")
      val have = versions(db).size
      if (have < 2) {
        val o = graft.Tables.orders(spark, dir).select(
          col("o_orderkey"), year(col("o_orderdate")).cast("long").as("yr"),
          graft.functions.Det.scaledLong(col("o_totalprice"), 100L)
            .as("cents"))
        val ln = graft.Tables.lineitem(spark, dir)
          .groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(count(lit(1)).as("n_lines"))
          .join(o.select(col("o_orderkey"), col("yr")), Seq("o_orderkey"))
        if (have < 1) dbAppend(db, Seq(
          "ord" -> o.filter(col("yr") <= 1995),
          "lin" -> ln.filter(col("yr") <= 1995).drop("yr")))
        dbAppend(db, Seq(
          "ord" -> o.filter(col("yr") > 1995),
          "lin" -> ln.filter(col("yr") > 1995).drop("yr")))
      }
      db
    }

  private val txnDemoLock = new Object

  /** txlog_txn_commit (S45) — cross-table ATOMIC commit audit: both demo
    * tables read at version 0 (first transaction) and at latest, full-
    * outer-joined on the order key. Atomicity is the invariant under
    * test: at EVERY version each order header arrives with its line
    * rollup (n_orphan_lines = 0, n_matched = n_orders), because one
    * commit object published both tables' halves. The oracle recomputes
    * each version's totals from raw orders+lineitem with the same year
    * carve — the hash-match fails if either version ever exposes a half-
    * transaction.
    */
  def txlogTxnCommit(spark: SparkSession, dir: String): DataFrame = {
    val db = txnDemoDb(spark, dir)
    def census(v: Option[Long], tag: String): DataFrame =
      dbSnapshot(spark, db, "ord", v)
        .join(dbSnapshot(spark, db, "lin", v), Seq("o_orderkey"),
          "full_outer")
        .agg(
          count(col("cents")).as("n_orders"),
          count(when(col("cents").isNotNull && col("n_lines").isNotNull,
            1)).as("n_matched"),
          count(when(col("cents").isNull, 1)).as("n_orphan_lines"),
          sum(col("cents")).as("total_cents"),
          sum(col("n_lines")).as("total_lines"))
        .select(lit(tag).as("version"), col("n_orders"), col("n_matched"),
          col("n_orphan_lines"), col("total_cents"), col("total_lines"))
    census(Some(0L), "v0_le1995").unionByName(census(None, "v1_full"))
      .orderBy(col("version"))
  }

  val txlogTxnCommitSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, year(o_orderdate) AS yr,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |ln AS (
      |  SELECT l_orderkey, COUNT(*) AS n_lines
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o.yr, o.cents, ln.n_lines
      |  FROM o LEFT JOIN ln ON o.o_orderkey = ln.l_orderkey)
      |SELECT * FROM (
      |  SELECT 'v0_le1995' AS version, COUNT(*) AS n_orders,
      |    CAST(SUM(CASE WHEN n_lines IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_matched,
      |    CAST(0 AS BIGINT) AS n_orphan_lines,
      |    CAST(SUM(cents) AS BIGINT) AS total_cents,
      |    CAST(SUM(n_lines) AS BIGINT) AS total_lines
      |  FROM j WHERE yr <= 1995
      |  UNION ALL
      |  SELECT 'v1_full', COUNT(*),
      |    CAST(SUM(CASE WHEN n_lines IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(0 AS BIGINT),
      |    CAST(SUM(cents) AS BIGINT), CAST(SUM(n_lines) AS BIGINT)
      |  FROM j)
      |ORDER BY version""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("txlog_txn_commit", txlogTxnCommit, txlogTxnCommitSql, warm = true),
    Query("txlog_snapshot", txlogSnapshot, txlogSnapshotSql),
    Query("txlog_history", txlogHistory, txlogHistorySql),
    Query("txlog_time_travel", txlogTimeTravel, txlogTimeTravelSql),
    Query("txlog_changefeed", txlogChangefeed, txlogChangefeedSql),
    // the streamed feed must equal the batch feed row-for-row — same oracle
    Query("txlog_changefeed_stream", txlogChangefeedStream,
      txlogChangefeedSql, warm = true),
    Query("txlog_view_from_feed", txlogViewFromFeed,
      txlogViewFromFeedSql, warm = true),
    Query("txlog_merge", txlogMerge, txlogMergeSql))
}
