package graft.sources

import graft.Query
import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction,
  DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan,
  MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction,
  UpdateTable}

/** Row-level SQL DML against TxLog TABLES (SURVEY.md §2.1 row S61,
  * round-13 — the r12 verdict's top gap): `UPDATE`, `DELETE FROM`, and
  * multi-clause conditional `MERGE INTO` statements executed on the
  * transactional commit-log format. The Dml module (S39) gave these
  * statements to catalog parquet tables; a MySQL-migration user writes
  * them daily against the TRANSACTIONAL tables — this module closes the
  * loop: same parser (Catalyst's own `UpdateTable` / `DeleteFromTable` /
  * `MergeIntoTable` nodes, never a homegrown grammar), executed on the
  * TxLog primitives, so every statement is ONE atomic file-pruned
  * copy-on-write commit with time travel, the change feed, CHECK
  * constraints, and column mapping composing for free.
  *
  * Statement → execution contract:
  *
  *   UPDATE t SET c = e WHERE p   →  [[TxLog.updateWhere]]: only live
  *     files CONTAINING a matching row rewrite, assignments apply as
  *     `CASE WHEN p THEN e ELSE old END` (three-valued-logic-safe).
  *   DELETE FROM t WHERE p        →  [[TxLog.deleteWhere]]: same file
  *     pruning; NULL-valued predicates keep their rows (the SQL rule).
  *   MERGE INTO t USING s ON cond
  *     WHEN MATCHED [AND g] THEN UPDATE SET … | DELETE
  *     WHEN NOT MATCHED [AND g] THEN INSERT …
  *     WHEN NOT MATCHED BY SOURCE [AND g] THEN UPDATE … | DELETE
  *                                →  [[TxLog.mergeInto]]: clause order =
  *     precedence, SQL cardinality rule enforced, `UPDATE/INSERT *`
  *     expansion, assignment casts to declared types.
  *
  * The statement's target must be a [[TxSql.register]]ed TxLog name; the
  * MERGE source may be a registered TxLog name (bound to its latest
  * snapshot) or any session-resolvable relation (temp view, catalog
  * table).
  *
  * Scale: UPDATE/DELETE/MERGE cost |affected files| + |source|, never
  * |table| (the Delta asymptotics) — except MERGE with a NOT-MATCHED-
  * BY-SOURCE clause, whose semantics inherently touch every row.
  */
object TxDml {
  import org.apache.spark.sql.functions._

  /** Execute one row-level DML statement against registered TxLog
    * tables; returns the committed version (-1 = no-op).
    */
  def exec(spark: SparkSession, sql: String): Long =
    route(spark, spark.sessionState.sqlParser.parsePlan(sql)).getOrElse(
      sys.error(s"TxDml.exec: not a row-level DML statement: $sql"))

  /** Route an already-parsed plan: Some(version) when it is a DML node
    * (executed), None otherwise — [[TxSql.sql]]'s dispatch hook.
    */
  private[sources] def route(spark: SparkSession, plan: LogicalPlan)
      : Option[Long] = plan match {
    case u: UpdateTable =>
      val (name, alias) = relName(u.table)
      val sets = u.assignments.map(a => keyName(a.key) -> a.value.sql)
      Some(TxLog.updateWhere(spark, TxSql.tableOf(name),
        expr(u.condition.map(_.sql).getOrElse("true")),
        sets.map { case (k, v) => k -> expr(v) }, Some(alias)))
    case d: DeleteFromTable =>
      val (name, alias) = relName(d.table)
      Some(TxLog.deleteWhere(spark, TxSql.tableOf(name),
        expr(d.condition.sql), Some(alias)))
    case m: MergeIntoTable =>
      val (tName, tAlias) = relName(m.targetTable)
      val table = TxSql.tableOf(tName)
      // source: a registered TxLog name binds to its latest snapshot, a
      // session-resolvable name (temp view, catalog table) resolves by
      // name, and `USING (SELECT …) AS s` analyzes the parsed subquery
      // through the session (the Bridge.ofRows extension path)
      val (source, sAlias) = m.sourceTable match {
        case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) =>
          (namedSource(spark, parts.mkString(".")), id.name)
        case UnresolvedRelation(parts, _, _) =>
          (namedSource(spark, parts.mkString(".")), parts.last)
        case SubqueryAlias(id, sub) =>
          (org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, sub),
            id.name)
        case other => sys.error("TxDml MERGE: source must be a named " +
          s"relation or an aliased subquery, got: $other")
      }
      // MERGE WITH SCHEMA EVOLUTION (S69): Spark's own parser carries
      // the flag; star expansion must cover the EVOLVED schema so
      // `UPDATE SET * / INSERT *` assign the new source columns too
      val evolve = m.withSchemaEvolution
      val base = TxLog.snapshot(spark, table).schema.fieldNames.toSeq
      val declared =
        if (!evolve) base
        else base ++ source.columns.filterNot(base.contains)
      def starSets = declared.map(c => c -> s"$sAlias.$c").toMap
      val matched = m.matchedActions.map {
        case UpdateAction(g, as, _) =>
          (g.map(_.sql), Some(as.map(a => keyName(a.key) -> a.value.sql).toMap))
        case UpdateStarAction(g) => (g.map(_.sql), Some(starSets))
        case DeleteAction(g) => (g.map(_.sql), None)
        case other => sys.error(s"TxDml MERGE: unsupported matched " +
          s"action: $other")
      }
      val notMatched = m.notMatchedActions.map {
        case InsertAction(g, as) =>
          (g.map(_.sql), as.map(a => keyName(a.key) -> a.value.sql).toMap)
        case InsertStarAction(g) => (g.map(_.sql), starSets)
        case other => sys.error(s"TxDml MERGE: unsupported not-matched " +
          s"action: $other")
      }
      val bySource = m.notMatchedBySourceActions.map {
        case UpdateAction(g, as, _) =>
          (g.map(_.sql), Some(as.map(a => keyName(a.key) -> a.value.sql).toMap))
        case DeleteAction(g) => (g.map(_.sql), None)
        case other => sys.error(s"TxDml MERGE: unsupported " +
          s"not-matched-by-source action: $other")
      }
      Some(TxLog.mergeInto(spark, table, source, TxLog.MergeSpec(
        m.mergeCondition.sql, tAlias, sAlias,
        matched, notMatched, bySource), evolve))
    case _ => None
  }

  /** Resolve a MERGE source by name: registered TxLog snapshot first,
    * session catalog otherwise.
    */
  private def namedSource(spark: SparkSession, name: String): DataFrame =
    TxSql.lookup(name).map(TxLog.snapshot(spark, _))
      .getOrElse(spark.table(name))

  /** Name (+ alias, defaulting to the bare name) of a parsed relation. */
  private def relName(p: LogicalPlan): (String, String) = p match {
    case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) =>
      (parts.mkString("."), id.name)
    case UnresolvedRelation(parts, _, _) =>
      (parts.mkString("."), parts.last)
    case other => sys.error(s"TxDml: unsupported relation (name a " +
      s"registered table or view): $other")
  }

  /** Bare column name from an assignment key: `cents` or alias-qualified
    * `t.cents`. Resolved from the attribute's NAME PARTS, never by
    * splitting rendered SQL on dots — a backticked name containing a dot
    * would silently collapse to its last segment and hit the wrong
    * column (r13 review). Nested-field assignment (3+ parts) rejects.
    */
  private def keyName(e: Expression): String = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      a.nameParts match {
        case Seq(c) => c
        case Seq(_, c) => c
        case parts => sys.error("TxDml: nested-field assignment is not " +
          s"supported: ${parts.mkString(".")}")
      }
    case other => sys.error(s"TxDml: unsupported assignment key: $other")
  }

  // ---- registered queries ---------------------------------------------

  /** One fresh customer-ledger TxLog table per (JVM, corpus, tag):
    * (c_custkey, cents, seg) in 4 key-ranged files, so the DML's file
    * pruning has real file boundaries to respect.
    */
  private val built =
    scala.collection.concurrent.TrieMap.empty[(String, String), File]

  private def ledger(spark: SparkSession, dir: String, tag: String): File =
    TxSql.demoLock.synchronized {
      built.getOrElseUpdate((dir, tag), {
        val t = new File(new File(sys.props("java.io.tmpdir")),
          s"graft_txdml_${tag}_${ProcessHandle.current.pid}_" +
            new File(dir).getName)
        if (TxLog.versions(t).isEmpty) {
          val c = graft.Tables.customer(spark, dir).select(
            col("c_custkey"),
            graft.functions.Det.scaledLong(col("c_acctbal"), 100L)
              .as("cents"),
            col("c_mktsegment").as("seg"))
          TxLog.append(c.repartitionByRange(4, col("c_custkey")), t)
        }
        TxSql.register(s"txdml_$tag", t)
        t
      })
    }

  /** sql_txlog_update (S61a) — `UPDATE` through the parser on the
    * commit-log format: write off negative balances, report the
    * per-segment ledger. The oracle recomputes the post-UPDATE state
    * from raw customer; idempotent (the assignment falsifies its own
    * predicate), and history keeps the pre-UPDATE version.
    */
  def sqlTxlogUpdate(spark: SparkSession, dir: String): DataFrame = {
    val t = ledger(spark, dir, "upd")
    TxSql.demoLock.synchronized {
      TxSql.register("txdml_upd", t)
      if (TxLog.versions(t).size < 2)
        exec(spark,
          "UPDATE txdml_upd AS t SET cents = 0 WHERE t.cents < 0")
    }
    TxLog.snapshot(spark, t)
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"),
        sum(when(col("cents") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("cents")).as("min_cents"))
      .orderBy(col("seg"))
  }

  val sqlTxlogUpdateSql: String =
    """WITH t AS (
      |  SELECT c_mktsegment AS seg,
      |    greatest(CAST(round(c_acctbal * 100) AS BIGINT), 0) AS cents
      |  FROM customer)
      |SELECT seg, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(SUM(CASE WHEN cents = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_zero,
      |  CAST(MIN(cents) AS BIGINT) AS min_cents
      |FROM t GROUP BY seg ORDER BY seg""".stripMargin

  /** sql_txlog_delete (S61b) — `DELETE FROM` through the parser on the
    * commit-log format: drop negative-balance rows; only the files
    * holding them rewrite. Idempotent (-1 no-op on re-run); the deleted
    * version still time-travels.
    */
  def sqlTxlogDelete(spark: SparkSession, dir: String): DataFrame = {
    val t = ledger(spark, dir, "del")
    TxSql.demoLock.synchronized {
      TxSql.register("txdml_del", t)
      if (TxLog.versions(t).size < 2)
        exec(spark, "DELETE FROM txdml_del WHERE cents < 0")
    }
    TxLog.snapshot(spark, t)
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"),
        min(col("cents")).as("min_cents"))
      .orderBy(col("seg"))
  }

  val sqlTxlogDeleteSql: String =
    """WITH t AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer)
      |SELECT seg, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(MIN(cents) AS BIGINT) AS min_cents
      |FROM t WHERE NOT (cents < 0) GROUP BY seg ORDER BY seg""".stripMargin

  /** sql_txlog_merge (S61c) — two-clause `MERGE INTO` through the parser
    * on the commit-log format: a deterministic change feed (every 10th
    * customer reasserted to 99999 cents, plus synthetic new accounts)
    * upserts the ledger in one atomic commit — the Debezium-apply
    * statement against the transactional format.
    */
  def sqlTxlogMerge(spark: SparkSession, dir: String): DataFrame = {
    val t = ledger(spark, dir, "mrg")
    TxSql.demoLock.synchronized {
      TxSql.register("txdml_mrg", t)
      if (TxLog.versions(t).size < 2) {
        graft.Tables.customer(spark, dir)
          .filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), lit(99999L).as("cents"),
            col("c_mktsegment").as("seg"))
          .unionByName(graft.Tables.customer(spark, dir)
            .filter(col("c_custkey") % 1000 === 0)
            .select((col("c_custkey") + 10000000L).as("c_custkey"),
              lit(123456L).as("cents"), lit("NEWSEG").as("seg")))
          .createOrReplaceTempView("txdml_mrg_chg")
        exec(spark,
          """MERGE INTO txdml_mrg AS t
            |USING txdml_mrg_chg AS s
            |ON t.c_custkey = s.c_custkey
            |WHEN MATCHED THEN UPDATE SET cents = s.cents
            |WHEN NOT MATCHED THEN
            |  INSERT (c_custkey, cents, seg)
            |  VALUES (s.c_custkey, s.cents, s.seg)""".stripMargin)
      }
    }
    TxLog.snapshot(spark, t)
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"),
        sum(when(col("cents") === 99999L, 1L).otherwise(0L)).as("n_reset"))
      .orderBy(col("seg"))
  }

  val sqlTxlogMergeSql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment AS seg,
      |    CASE WHEN c_custkey % 10 = 0 THEN 99999
      |      ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS cents
      |  FROM customer),
      |fresh AS (
      |  SELECT c_custkey + 10000000 AS c_custkey, 'NEWSEG' AS seg,
      |    CAST(123456 AS BIGINT) AS cents
      |  FROM customer WHERE c_custkey % 1000 = 0),
      |t AS (SELECT * FROM base UNION ALL SELECT * FROM fresh)
      |SELECT seg, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(SUM(CASE WHEN cents = 99999 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_reset
      |FROM t GROUP BY seg ORDER BY seg""".stripMargin

  /** txlog_merge_conditional (S62) — the FULL Delta clause surface in
    * one statement: guarded matched-DELETE before the catch-all
    * matched-UPDATE (clause order is precedence), a guarded INSERT that
    * drops half its candidates, and a NOT-MATCHED-BY-SOURCE UPDATE that
    * floors every untouched negative balance. The oracle recomputes the
    * whole post-merge state from raw customer — one hash pins clause
    * precedence, guard evaluation, all three match classes, and the
    * insert filter at once.
    */
  def txlogMergeConditional(spark: SparkSession, dir: String): DataFrame = {
    val t = ledger(spark, dir, "cond")
    TxSql.demoLock.synchronized {
      TxSql.register("txdml_cond", t)
      if (TxLog.versions(t).size < 2) {
        graft.Tables.customer(spark, dir)
          .filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), lit(99999L).as("cents"),
            col("c_mktsegment").as("seg"))
          .unionByName(graft.Tables.customer(spark, dir)
            .filter(col("c_custkey") % 500 === 0)
            .select((col("c_custkey") + 10000000L).as("c_custkey"),
              lit(123456L).as("cents"), lit("NEWSEG").as("seg")))
          .createOrReplaceTempView("txdml_cond_chg")
        exec(spark,
          """MERGE INTO txdml_cond AS t
            |USING txdml_cond_chg AS s
            |ON t.c_custkey = s.c_custkey
            |WHEN MATCHED AND t.cents < 0 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET cents = s.cents
            |WHEN NOT MATCHED AND s.c_custkey % 1000 = 0 THEN
            |  INSERT (c_custkey, cents, seg)
            |  VALUES (s.c_custkey, s.cents, s.seg)
            |WHEN NOT MATCHED BY SOURCE AND t.cents < 0 THEN
            |  UPDATE SET cents = 0""".stripMargin)
      }
    }
    TxLog.snapshot(spark, t)
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"),
        sum(when(col("cents") === 99999L, 1L).otherwise(0L)).as("n_reset"),
        min(col("cents")).as("min_cents"))
      .orderBy(col("seg"))
  }

  val txlogMergeConditionalSql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer),
      |kept AS (
      |  SELECT seg,
      |    CASE WHEN c_custkey % 10 = 0 THEN 99999
      |         WHEN cents < 0 THEN 0 ELSE cents END AS cents
      |  FROM base
      |  WHERE NOT (c_custkey % 10 = 0 AND cents < 0)),
      |fresh AS (
      |  SELECT 'NEWSEG' AS seg, CAST(123456 AS BIGINT) AS cents
      |  FROM customer
      |  WHERE c_custkey % 500 = 0 AND (c_custkey + 10000000) % 1000 = 0),
      |t AS (SELECT * FROM kept UNION ALL SELECT * FROM fresh)
      |SELECT seg, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(SUM(CASE WHEN cents = 99999 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_reset,
      |  CAST(MIN(cents) AS BIGINT) AS min_cents
      |FROM t GROUP BY seg ORDER BY seg""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("sql_txlog_update", sqlTxlogUpdate, sqlTxlogUpdateSql),
    Query("sql_txlog_delete", sqlTxlogDelete, sqlTxlogDeleteSql),
    Query("sql_txlog_merge", sqlTxlogMerge, sqlTxlogMergeSql),
    Query("txlog_merge_conditional", txlogMergeConditional,
      txlogMergeConditionalSql))
}
