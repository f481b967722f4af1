package graft.sources

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable,
  InsertAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction,
  UpdateTable}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation

/** SQL row-level DML (SURVEY.md §2.1 row S39, round-9): `UPDATE`,
  * `DELETE FROM`, and `MERGE INTO` statements against catalog parquet
  * tables — the three statements a MySQL-migration user writes that were
  * missing from the SQL surface (r8 verdict gap #2).
  *
  * The statements go through SPARK'S OWN PARSER — Catalyst parses all
  * three into first-class logical nodes (`UpdateTable`, `DeleteFromTable`,
  * `MergeIntoTable`) — and this module is the EXECUTION layer Spark's v1
  * parquet path lacks (vanilla Spark answers "UPDATE/DELETE/MERGE is only
  * supported with v2 tables"): a partition-scoped COPY-ON-WRITE rewrite,
  * the exact mechanism Delta/Iceberg/Hive-ACID implement under their
  * commit logs. Execution contract per statement:
  *
  *   UPDATE t SET c = e WHERE p   →  affected partitions = DISTINCT
  *     partition values of rows matching p (a partition-count-bounded
  *     driver read, the layout-stats discipline); those partitions are
  *     rewritten with `CASE WHEN p THEN e ELSE c END`; untouched
  *     partitions are never read or written.
  *   DELETE FROM t WHERE p        →  same scoping; surviving rows
  *     (NOT p) rewrite the affected partitions; a partition whose rows
  *     all die is cleared with an explicit empty static overwrite
  *     (dynamic overwrite alone would silently leave it).
  *   MERGE INTO t USING s ON k
  *     WHEN [NOT] MATCHED …       →  full copy-on-write: target LEFT
  *     JOIN marked source applies the matched UPDATE per column, source
  *     ANTI JOIN target appends the NOT-MATCHED INSERT rows. Source keys
  *     must be unique on k (the SQL-standard MERGE cardinality rule;
  *     ambiguous matches are the caller's error, as in every engine).
  *
  * The rewritten rows are pinned (localCheckpoint) before the INSERT
  * OVERWRITE because v1 refuses to overwrite a path it is reading — at
  * real scale this pin becomes the staging-directory + atomic-swap the
  * Layout module's publish-once landings already implement; the
  * row-level SEMANTICS (this module) and the transactional swap (S23's
  * landing protocol) compose. Statements re-execute on every call and
  * are IDEMPOTENT by construction here (UPDATE's predicate is falsified
  * by its own assignment, DELETE finds nothing twice, MERGE re-asserts
  * absolute values), pinned in CatalogSpec; the correctness oracle
  * recomputes the post-DML state from the raw table.
  *
  * Scale (100 TB): the rewrite cost is |affected partitions|, not
  * |table| (UPDATE/DELETE), and the merge join is a plain keyed join
  * that shuffles only the source side when the target is large — the
  * same asymptotics as a Delta MERGE without the log.
  */
object Dml {
  import org.apache.spark.sql.functions._

  /** One base table per DML query, so re-ordered / concurrent queries
    * never observe each other's mutations. Memoized per (catalog, dir);
    * location is process-unique (two JVMs never interleave writes).
    */
  private val built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String, String)]()

  private def ensureBase(spark: SparkSession, dir: String,
      tbl: String): String = {
    val db = Catalog.register(spark, dir)
    val key = (System.identityHashCode(spark.sharedState),
      new java.io.File(dir).getCanonicalPath, tbl)
    if (!built.contains(key)) {
      val loc = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_dml_${ProcessHandle.current.pid}_${db}_$tbl")
      def rmr(f: java.io.File): Unit = {
        val fs = f.listFiles(); if (fs != null) fs.foreach(rmr)
        f.delete(); ()
      }
      rmr(loc)
      spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
      // exact integer cents at write time (Det half-away in SQL text,
      // negative branch included — acctbal goes below zero)
      spark.sql(
        s"""CREATE TABLE $db.$tbl USING parquet
           |PARTITIONED BY (seg) LOCATION '${loc.getCanonicalPath}' AS
           |SELECT c_custkey,
           |  CASE WHEN c_acctbal >= 0
           |    THEN CAST(c_acctbal * 100 + 0.5 AS BIGINT)
           |    ELSE -CAST(-c_acctbal * 100 + 0.5 AS BIGINT) END AS cents,
           |  c_mktsegment AS seg
           |FROM $db.customer""".stripMargin)
      built.add(key)
    }
    db
  }

  /** Execute one row-level DML statement through the parser. Returns
    * after the table state reflects the statement.
    */
  def exec(spark: SparkSession, sql: String): Unit =
    spark.sessionState.sqlParser.parsePlan(sql) match {
      case u: UpdateTable =>
        runUpdate(spark, tableName(u.table), u.assignments, u.condition)
      case d: DeleteFromTable =>
        runDelete(spark, tableName(d.table), d.condition)
      case m: MergeIntoTable => runMerge(spark, m)
      case other => sys.error(
        s"Dml.exec: not a row-level DML statement: ${other.getClass}")
    }

  /** Qualified name (+ optional alias) out of the parsed relation. */
  private def tableName(p: LogicalPlan): (String, String) = p match {
    case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) =>
      (parts.mkString("."), id.name)
    case UnresolvedRelation(parts, _, _) =>
      (parts.mkString("."), parts.last)
    case other => sys.error(s"Dml: unsupported target relation: $other")
  }

  /** Bare column name from an assignment key: `cents` or alias-qualified
    * `t.cents` — from the attribute's NAME PARTS, never by splitting
    * rendered SQL on dots (a backticked dotted name would collapse to
    * its last segment, r13 review); nested-field assignment rejects.
    */
  private def keyName(e: Expression): String = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      a.nameParts match {
        case Seq(c) => c
        case Seq(_, c) => c
        case parts => sys.error("Dml: nested-field assignment is not " +
          s"supported: ${parts.mkString(".")}")
      }
    case other => sys.error(s"Dml: unsupported assignment key: $other")
  }

  /** Data columns then partition columns — the table's schema order,
    * which positional insertInto requires.
    */
  private def colsOf(spark: SparkSession, tbl: String): Seq[String] =
    spark.table(tbl).schema.fieldNames.toSeq

  /** Partition columns resolved from the catalog (r9 advice: nothing in
    * the execution path may assume a particular partition column name).
    * Empty for unpartitioned tables.
    */
  private def partColsOf(spark: SparkSession, tbl: String): Seq[String] = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(tbl)
    spark.sessionState.catalog.getTableMetadata(id).partitionColumnNames
  }

  private def sqlLit(v: String) = s"'${v.replace("'", "''")}'"

  /** OR-of-conjunctions scoping predicate over the affected partition
    * tuples (collapses to a single-column IN list when possible).
    */
  private def scopePredicate(pcols: Seq[String],
      parts: Seq[Seq[String]]): String =
    if (pcols.size == 1)
      s"${pcols.head} IN (${parts.map(t => sqlLit(t.head)).mkString(", ")})"
    else parts.map(t =>
      pcols.zip(t).map { case (c, v) => s"$c = ${sqlLit(v)}" }
        .mkString("(", " AND ", ")")).mkString(" OR ")

  private def runUpdate(spark: SparkSession, target: (String, String),
      assignments: Seq[Assignment], condition: Option[Expression]): Unit = {
    val (tbl, _) = target
    val cond = condition.map(_.sql).getOrElse("true")
    val sets = assignments.map(a => keyName(a.key) -> a.value.sql).toMap
    val pcols = partColsOf(spark, tbl)
    // assignments to partition columns are rejected (the Hive/Delta-v1
    // rule): rewritten rows would land in NEW partitions via dynamic
    // overwrite, and dynamic overwrite REPLACES each destination
    // partition wholesale — pre-existing rows of a destination partition
    // outside the affected set would be silently deleted (r9 advice)
    val badSets = pcols.filter(sets.contains)
    require(badSets.isEmpty,
      s"Dml UPDATE: assignment to partition column(s) " +
        s"${badSets.mkString(", ")} of $tbl is not supported; " +
        "use DELETE + INSERT to move rows across partitions")
    val proj = colsOf(spark, tbl).map { c =>
      sets.get(c)
        .map(v => s"CASE WHEN $cond THEN ($v) ELSE $c END AS $c")
        .getOrElse(c)
    }
    if (pcols.isEmpty) {
      // unpartitioned: full copy-on-write rewrite, static overwrite
      val rewritten = spark.sql(
        s"SELECT ${proj.mkString(", ")} FROM $tbl").localCheckpoint()
      rewritten.write.mode("overwrite").insertInto(tbl)
    } else {
      val parts = affectedPartitions(spark, tbl, pcols, cond)
      if (parts.nonEmpty) {
        val rewritten = spark.sql(
          s"SELECT ${proj.mkString(", ")} FROM $tbl " +
            s"WHERE ${scopePredicate(pcols, parts)}")
          .localCheckpoint()
        overwritePartitions(spark, tbl, pcols, rewritten, parts)
      }
    }
  }

  private def runDelete(spark: SparkSession, target: (String, String),
      condition: Expression): Unit = {
    val (tbl, _) = target
    val cond = condition.sql
    val pcols = partColsOf(spark, tbl)
    // SQL DELETE removes only rows where the condition is TRUE; a
    // NULL-valued condition (e.g. `v > 5` with NULL v) must keep the row.
    // Plain `NOT (cond)` is NULL for those rows and would silently delete
    // them — coalesce to the three-valued-logic-safe survivor predicate.
    val survives = s"NOT coalesce(($cond), false)"
    if (pcols.isEmpty) {
      val surviving = spark.sql(
        s"SELECT ${colsOf(spark, tbl).mkString(", ")} FROM $tbl " +
          s"WHERE $survives").localCheckpoint()
      surviving.write.mode("overwrite").insertInto(tbl)
    } else {
      val parts = affectedPartitions(spark, tbl, pcols, cond)
      if (parts.nonEmpty) {
        val surviving = spark.sql(
          s"SELECT ${colsOf(spark, tbl).mkString(", ")} FROM $tbl " +
            s"WHERE (${scopePredicate(pcols, parts)}) AND $survives")
          .localCheckpoint()
        overwritePartitions(spark, tbl, pcols, surviving, parts)
      }
    }
  }

  private def runMerge(spark: SparkSession, m: MergeIntoTable): Unit = {
    val (tbl, tAlias) = tableName(m.targetTable)
    val (src, sAlias) = tableName(m.sourceTable)
    require(m.notMatchedBySourceActions.isEmpty,
      "Dml MERGE: WHEN NOT MATCHED BY SOURCE is not supported")
    val cond = m.mergeCondition.sql
    val cols = colsOf(spark, tbl)
    val updSets: Map[String, String] = m.matchedActions match {
      case Seq(UpdateAction(None, as, _)) =>
        as.map(a => keyName(a.key) -> a.value.sql).toMap
      case Seq() => Map.empty
      case other => sys.error(
        s"Dml MERGE: only one unconditional WHEN MATCHED UPDATE supported, got $other")
    }
    val insSets: Map[String, String] = m.notMatchedActions match {
      case Seq(InsertAction(None, as)) =>
        as.map(a => keyName(a.key) -> a.value.sql).toMap
      case Seq() => Map.empty
      case other => sys.error(
        s"Dml MERGE: only one unconditional WHEN NOT MATCHED INSERT supported, got $other")
    }
    // existing rows: matched ones take the UPDATE values (the __m marker
    // decides matched-ness — join-key null tricks would misfire on null
    // keys), the rest pass through
    val existingProj = cols.map { c =>
      updSets.get(c)
        .map(v => s"CASE WHEN $sAlias.__m THEN ($v) ELSE $tAlias.$c END AS $c")
        .getOrElse(s"$tAlias.$c AS $c")
    }
    val existing = spark.sql(
      s"""SELECT ${existingProj.mkString(", ")}
         |FROM $tbl AS $tAlias
         |LEFT JOIN (SELECT *, true AS __m FROM $src) AS $sAlias
         |ON $cond""".stripMargin)
    // fresh rows: source anti target, projected in table column order
    val insProj = cols.map(c => insSets.get(c)
      .map(v => s"($v) AS $c")
      .getOrElse(sys.error(s"Dml MERGE: INSERT misses column $c")))
    val fresh =
      if (insSets.isEmpty) None
      else Some(spark.sql(
        s"""SELECT ${insProj.mkString(", ")}
           |FROM $src AS $sAlias
           |LEFT ANTI JOIN $tbl AS $tAlias ON $cond""".stripMargin))
    val next = fresh.map(existing.unionByName(_)).getOrElse(existing)
      .localCheckpoint()
    // full copy-on-write (a merge can touch and create any partition)
    withDynamicOverwrite(spark) {
      next.write.mode("overwrite").insertInto(tbl)
    }
  }

  /** DISTINCT partition-value tuples (in `pcols` order, string-rendered)
    * of rows matching `cond` — bounded by the table's partition count
    * (driver-safe, the layout-stats discipline).
    */
  private def affectedPartitions(spark: SparkSession, tbl: String,
      pcols: Seq[String], cond: String): Seq[Seq[String]] =
    spark.sql(
      s"SELECT DISTINCT ${pcols.map(c => s"CAST($c AS STRING) AS $c")
        .mkString(", ")} FROM $tbl WHERE $cond")
      .collect().map { r =>
        pcols.indices.map { i =>
          require(!r.isNullAt(i),
            s"Dml: null partition value in $tbl is not supported")
          r.getString(i)
        }: Seq[String]
      }.toSeq.sortBy(_.mkString("\u0000"))

  /** Dynamic-overwrite the partitions present in `rows`; any affected
    * partition with NO surviving rows is cleared explicitly (a fully
    * emptied partition never appears in a dynamic overwrite).
    */
  private def overwritePartitions(spark: SparkSession, tbl: String,
      pcols: Seq[String], rows: DataFrame, affected: Seq[Seq[String]]): Unit = {
    val present = rows
      .select(pcols.map(c => col(c).cast("string")): _*)
      .distinct()
      .collect().map(r => pcols.indices.map(r.getString): Seq[String]).toSet
    withDynamicOverwrite(spark) {
      rows.write.mode("overwrite").insertInto(tbl)
    }
    affected.filterNot(present).foreach { t =>
      // typed-NULL empty relation, NOT a self-read: v1 refuses to
      // overwrite a path it is also reading from
      val dataCols = spark.table(tbl).schema
        .filterNot(f => pcols.contains(f.name))
        .map(f => s"CAST(NULL AS ${f.dataType.sql}) AS ${f.name}")
      val spec = pcols.zip(t)
        .map { case (c, v) => s"$c = ${sqlLit(v)}" }.mkString(", ")
      spark.sql(
        s"INSERT OVERWRITE TABLE $tbl PARTITION ($spec) " +
          s"SELECT ${dataCols.mkString(", ")} WHERE false")
      ()
    }
  }

  private def withDynamicOverwrite[A](spark: SparkSession)(body: => A): A = {
    val k = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(k, "STATIC")
    spark.conf.set(k, "DYNAMIC")
    try body finally spark.conf.set(k, prev)
  }

  // ---- registered queries ------------------------------------------------

  /** sql_update (S39a) — `UPDATE` through the parser: write off negative
    * balances, then report the per-segment ledger. Idempotent: the
    * assignment falsifies its own predicate.
    */
  def sqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val db = ensureBase(spark, dir, "t_dml_upd")
    exec(spark, s"UPDATE $db.t_dml_upd SET cents = 0 WHERE cents < 0")
    spark.sql(
      s"""SELECT seg, COUNT(*) AS n_rows,
         |  SUM(cents) AS total_cents,
         |  SUM(CASE WHEN cents = 0 THEN 1 ELSE 0 END) AS n_zero,
         |  MIN(cents) AS min_cents
         |FROM $db.t_dml_upd GROUP BY seg ORDER BY seg""".stripMargin)
  }

  val sqlUpdateSql: String =
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

  /** sql_delete (S39b) — `DELETE FROM` through the parser: drop the
    * negative-balance rows, report the surviving ledger. Idempotent: the
    * second run deletes nothing.
    */
  def sqlDelete(spark: SparkSession, dir: String): DataFrame = {
    val db = ensureBase(spark, dir, "t_dml_del")
    exec(spark, s"DELETE FROM $db.t_dml_del WHERE cents < 0")
    spark.sql(
      s"""SELECT seg, COUNT(*) AS n_rows,
         |  SUM(cents) AS total_cents, MIN(cents) AS min_cents
         |FROM $db.t_dml_del GROUP BY seg ORDER BY seg""".stripMargin)
  }

  val sqlDeleteSql: String =
    """WITH t AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer)
      |SELECT seg, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(MIN(cents) AS BIGINT) AS min_cents
      |FROM t WHERE NOT (cents < 0) GROUP BY seg ORDER BY seg""".stripMargin

  /** sql_merge (S39c) — `MERGE INTO` through the parser: a deterministic
    * change feed (every 10th customer's balance reasserted to 99999,
    * plus synthetic new accounts in a fresh segment) upserts into the
    * ledger — the Debezium-apply statement a MySQL migration writes.
    * Idempotent: updates re-assert absolute values, inserts re-match.
    */
  def sqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val db = ensureBase(spark, dir, "t_dml_merge")
    spark.sql(
      s"""CREATE OR REPLACE TEMP VIEW dml_changes AS
         |SELECT c_custkey, CAST(99999 AS BIGINT) AS cents,
         |  c_mktsegment AS seg
         |FROM $db.customer WHERE c_custkey % 10 = 0
         |UNION ALL
         |SELECT c_custkey + 10000000 AS c_custkey,
         |  CAST(123456 AS BIGINT) AS cents, 'NEWSEG' AS seg
         |FROM $db.customer WHERE c_custkey % 1000 = 0""".stripMargin)
    exec(spark,
      s"""MERGE INTO $db.t_dml_merge AS t
         |USING dml_changes AS s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN UPDATE SET cents = s.cents
         |WHEN NOT MATCHED THEN
         |  INSERT (c_custkey, cents, seg) VALUES (s.c_custkey, s.cents, s.seg)
         |""".stripMargin)
    spark.sql(
      s"""SELECT seg, COUNT(*) AS n_rows,
         |  SUM(cents) AS total_cents,
         |  SUM(CASE WHEN cents = 99999 THEN 1 ELSE 0 END) AS n_reset
         |FROM $db.t_dml_merge GROUP BY seg ORDER BY seg""".stripMargin)
  }

  val sqlMergeSql: String =
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

  lazy val registry: Seq[Query] = Seq(
    Query("sql_update", sqlUpdate, sqlUpdateSql),
    Query("sql_delete", sqlDelete, sqlDeleteSql),
    Query("sql_merge", sqlMerge, sqlMergeSql))
}
