package graft.sources

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog-backed table surface (SURVEY.md §2.1 row S19, round-8): the
  * engine's tables as CATALOG OBJECTS — named databases, external parquet
  * tables, and a persistent (catalog-level, not temp) view — instead of
  * code-level readers only. This is what lets external tooling (a SQL
  * client, a BI layer, another Spark job on the same metastore) discover
  * and query the engine's data by NAME: `SELECT ... FROM
  * graft_<sf>.v_customer_orders` with zero knowledge of file paths.
  *
  * Mechanics: one `CREATE DATABASE` per source directory (the db name
  * embeds a path hash, so sf0.001/sf0.01/sf0.1 coexist in one catalog),
  * `CREATE TABLE ... USING parquet LOCATION` per table — EXTERNAL tables:
  * the catalog stores only metadata, the driver's read-only parquet stays
  * where it is — and `CREATE OR REPLACE VIEW` for the enrichment view.
  * All DDL is idempotent (IF NOT EXISTS / OR REPLACE) and re-issued per
  * call: against an already-populated catalog each statement is a
  * metadata no-op, so concurrent callers and repeated bench passes are
  * safe. Catalog entries live in the SparkContext-wide SharedState, so a
  * `spark.newSession()` — a different session, same cluster — sees the
  * same databases, tables, and view (pinned in CatalogSpec): the
  * in-memory-catalog equivalent of metastore persistence, and the exact
  * code path (`ExternalCatalog`) a Hive-metastore deployment persists
  * durably.
  *
  * The `events` table is deliberately NOT registered raw: its timestamp
  * layout varies by driver generation (TsLayoutSpec) and `Tables.events`
  * normalizes on read — a raw catalog table would bypass that. Catalog
  * consumers get the normalized form via the temp views SqlSuite
  * registers.
  *
  * Scale (100 TB): external-table DDL is O(1) metadata per table — no
  * data movement; the view is a stored query. The query below reads
  * THROUGH the catalog: dims broadcast, the fact aggregates with exact
  * fixed-point money sums (Det conventions, here in SQL text: cents
  * scale, hi/lo split against i64 overflow at fleet row counts).
  */
object Catalog {

  private[graft] val tables = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "documents", "embeddings")

  /** Stable short db name for a source dir ("graft_" + path md5 prefix). */
  private[graft] def dbName(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getCanonicalPath.getBytes("UTF-8"))
    "graft_" + md.take(4).map("%02x".format(_)).mkString
  }

  /** (sharedState identity, dir) pairs already registered: catalog
    * objects live in the SparkContext-wide SharedState, so one DDL round
    * per (catalog, dir) suffices — repeat calls (every bench pass, every
    * serving query) skip straight to the name lookup. Each spark.sql DDL
    * is a full parse+analyze round trip; re-issuing 11 of them per query
    * measured ~0.5 s of pure metadata overhead.
    */
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()

  /** External-table LOCATION for table `t` of corpus `abs`. The
    * in-memory catalog accepts a single parquet FILE; a HIVE metastore
    * (the durable deployment, round-13 S64) validates the location as a
    * DIRECTORY — expose file-backed tables through a stable symlink
    * directory so the same register() call works against both catalog
    * implementations with zero data movement.
    */
  private def tableLocation(spark: SparkSession, db: String, abs: String,
      t: String): String = {
    val f = new java.io.File(s"$abs/$t.parquet")
    if (spark.conf.get("spark.sql.catalogImplementation", "in-memory")
        != "hive" || f.isDirectory) f.getCanonicalPath
    else {
      val d = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")), s"graft_cat_${db}_$t")
      d.mkdirs()
      val link = new java.io.File(d, s"$t.parquet").toPath
      // a DANGLING leftover (corpus moved, /tmp persisted) repairs
      // rather than silently serving a dead location; the create races
      // benignly across concurrent JVMs — losing means the winner
      // already made the identical link (r13 review)
      if (java.nio.file.Files.exists(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
          !java.nio.file.Files.exists(link))
        java.nio.file.Files.delete(link)
      if (!java.nio.file.Files.exists(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        try java.nio.file.Files.createSymbolicLink(link, f.toPath)
        catch {
          case _: java.nio.file.FileAlreadyExistsException => ()
        }
      d.getCanonicalPath
    }
  }

  /** Idempotently register the database, external tables, and view for
    * `dir`; returns the database name. First call per (catalog, dir)
    * issues the DDL; later calls are a set lookup.
    */
  def register(spark: SparkSession, dir: String): String = {
    val db = dbName(dir)
    val key = (System.identityHashCode(spark.sharedState),
      new java.io.File(dir).getCanonicalPath)
    if (registered.contains(key)) return db
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val abs = new java.io.File(dir).getCanonicalPath
    tables.foreach { t =>
      spark.sql(
        s"CREATE TABLE IF NOT EXISTS $db.$t USING parquet " +
          s"LOCATION '${tableLocation(spark, db, abs, t)}'")
    }
    // Customer order enrichment view: the canonical "wide fact" a BI tool
    // queries. Money goes through the exact cents scale at view level
    // (one correctly-rounded double multiply + truncating cast with the
    // +0.5 half-away trick — Det.scaledLong in SQL text) so consumers
    // aggregate integers, never raw doubles.
    spark.sql(
      s"""CREATE OR REPLACE VIEW $db.v_customer_orders AS
         |SELECT c.c_custkey, c.c_mktsegment, n.n_name AS nation,
         |  r.r_name AS region, o.o_orderkey,
         |  CAST(o.o_totalprice * 100 + 0.5 AS BIGINT) AS order_cents
         |FROM $db.customer c
         |JOIN $db.nation n ON n.n_nationkey = c.c_nationkey
         |JOIN $db.region r ON r.r_regionkey = n.n_regionkey
         |LEFT JOIN $db.orders o ON o.o_custkey = c.c_custkey""".stripMargin)
    registered.add(key)
    db
  }

  /** catalog_view (S19) — market-segment value report served entirely
    * through catalog names: the view joins, this query aggregates. The
    * exact money sum is the Det hi/lo split spelled in SQL (sum of
    * shifted halves recombined in DECIMAL(38,0) — order-independent and
    * overflow-safe far past any real group size).
    */
  def catalogView(spark: SparkSession, dir: String): DataFrame = {
    val db = register(spark, dir)
    spark.sql(
      s"""SELECT region, c_mktsegment,
         |  COUNT(DISTINCT c_custkey) AS n_customers,
         |  COUNT(o_orderkey) AS n_orders,
         |  CAST(CAST(SUM(SHIFTRIGHT(order_cents, 20)) AS DECIMAL(38,0))
         |      * 1048576
         |      + CAST(SUM(order_cents & 1048575) AS DECIMAL(38,0))
         |    AS DOUBLE) / 100 AS total_value
         |FROM $db.v_customer_orders
         |GROUP BY region, c_mktsegment
         |ORDER BY region, c_mktsegment""".stripMargin)
  }

  val catalogViewSql: String =
    """WITH v AS (
      |  SELECT c.c_custkey, c.c_mktsegment, r.r_name AS region,
      |    o.o_orderkey,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS order_cents
      |  FROM customer c
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey)
      |SELECT region, c_mktsegment,
      |  COUNT(DISTINCT c_custkey) AS n_customers,
      |  COUNT(o_orderkey) AS n_orders,
      |  CAST(SUM(order_cents) AS DOUBLE) / 100 AS total_value
      |FROM v
      |GROUP BY region, c_mktsegment
      |ORDER BY region, c_mktsegment""".stripMargin

  /** sql_ctas (S24) — the WRITE half of the SQL surface: `CREATE TABLE …
    * AS SELECT` materializes a derived table in the catalog, and a
    * partition-scoped `INSERT OVERWRITE … PARTITION (half='h2')` backfills
    * into it — the two DML statements every lakehouse ETL job is built
    * from (CTAS for the initial build, partition overwrite for the
    * idempotent daily re-run: re-executing the INSERT replaces exactly
    * its own partition, never appends duplicates and never touches h1).
    * The read query then aggregates THROUGH the catalog table.
    *
    * The managed content is exact integer cents (Det's half-away scale
    * applied at write time), so downstream consumers aggregate integers;
    * the read-side sum is the hi/lo split in SQL text (catalogView's
    * idiom). The table is external to a PROCESS-UNIQUE tmp location —
    * two JVMs (test suite vs Verify) each build their own copy, so
    * concurrent runs can never interleave writes into one landing (the
    * publishOnce hazard does not arise); DDL runs once per (catalog,
    * dir) and is dropped+rebuilt per JVM.
    *
    * Scale: CTAS/INSERT are distributed writes (one pass over orders,
    * partitioned layout); the oracle recomputes the same content from
    * raw orders — the hash-match proves CTAS + partition overwrite
    * assembled exactly the declared table.
    */
  def sqlCtas(spark: SparkSession, dir: String): DataFrame = {
    val db = register(spark, dir)
    val key = (System.identityHashCode(spark.sharedState),
      new java.io.File(dir).getCanonicalPath)
    // lock around the check-then-build: two threads racing a cold JVM
    // would interleave DROP/CTAS/INSERT on the shared catalog (r11
    // code-review finding — the demo-builder race class)
    buildLock.synchronized {
    if (!ctasDone.contains(key)) {
      val loc = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_ctas_${ProcessHandle.current.pid}_$db")
      def rmr(f: java.io.File): Unit = {
        val fs = f.listFiles(); if (fs != null) fs.foreach(rmr)
        f.delete(); ()
      }
      rmr(loc)
      spark.sql(s"DROP TABLE IF EXISTS $db.t_order_half")
      spark.sql(
        s"""CREATE TABLE $db.t_order_half USING parquet
           |PARTITIONED BY (half) LOCATION '${loc.getCanonicalPath}' AS
           |SELECT o_orderkey, o_orderpriority,
           |  CAST(o_totalprice * 100 + 0.5 AS BIGINT) AS cents,
           |  'h1' AS half
           |FROM $db.orders
           |WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'""".stripMargin)
      spark.sql(
        s"""INSERT OVERWRITE TABLE $db.t_order_half PARTITION (half = 'h2')
           |SELECT o_orderkey, o_orderpriority,
           |  CAST(o_totalprice * 100 + 0.5 AS BIGINT) AS cents
           |FROM $db.orders
           |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'""".stripMargin)
      ctasDone.add(key)
    }
    }
    spark.sql(
      s"""SELECT half, o_orderpriority, COUNT(*) AS n_orders,
         |  CAST(CAST(SUM(SHIFTRIGHT(cents, 20)) AS DECIMAL(38,0)) * 1048576
         |    + CAST(SUM(cents & 1048575) AS DECIMAL(38,0)) AS BIGINT)
         |    AS total_cents
         |FROM $db.t_order_half
         |GROUP BY half, o_orderpriority
         |ORDER BY half, o_orderpriority""".stripMargin)
  }

  private val ctasDone =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()

  val sqlCtasSql: String =
    """WITH t AS (SELECT
      |    CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |      THEN 'h1' ELSE 'h2' END AS half,
      |    o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT half, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM t GROUP BY half, o_orderpriority
      |ORDER BY half, o_orderpriority""".stripMargin

  /** catalog_stats (S30) — COST-BASED-OPTIMIZER statistics as a
    * first-class surface: `ANALYZE TABLE … COMPUTE STATISTICS FOR
    * COLUMNS` writes table row counts and per-column min/max/null/NDV
    * into the catalog (the numbers Catalyst's CBO join-reorder and
    * broadcast decisions read), and this query reports them BACK OUT of
    * `CatalogColumnStat` — proving the stats pipeline end to end rather
    * than trusting it. Row count, null counts, and min/max are EXACT by
    * ANALYZE's contract and hash-match the oracle; the NDV is Spark's
    * HLL±5% sketch (engine-specific bytes), so — as with every sketch
    * row in this suite — the compared claim is the accuracy bound,
    * proven against an exact countDistinct computed alongside.
    *
    * Scale: ANALYZE is one scan with constant-size per-column sketch
    * state (the same mergeable-partials shape as agg_approx_distinct);
    * the stats READ is catalog-metadata-rate, O(columns), no data
    * touched. Stats persist in the SharedState catalog (ExternalCatalog
    * — the path a Hive metastore stores durably). The CATALOG ITSELF is
    * the memo (ADVICE r8: the old process-wide identityHashCode-keyed
    * set could collide and silently made rep 1 the only rep that paid
    * ANALYZE): ANALYZE runs iff the table metadata lacks the requested
    * column stats, so a warm catalog serves the stats-read path — the
    * regime this query DECLARES (listed in Bench's `warm_state`), the
    * exact split a metastore-backed deployment has between the nightly
    * ANALYZE job and every query that reads its numbers.
    */
  private def tableIdent(db: String) =
    org.apache.spark.sql.catalyst.TableIdentifier("customer", Some(db))

  def catalogStats(spark: SparkSession, dir: String): DataFrame = {
    val db = register(spark, dir)
    val statCols = Seq("c_custkey", "c_nationkey", "c_acctbal")
    val have = spark.sessionState.catalog.getTableMetadata(tableIdent(db))
      .stats.exists(s => s.rowCount.isDefined &&
        statCols.forall(s.colStats.contains))
    if (!have) {
      spark.sql(s"ANALYZE TABLE $db.customer COMPUTE STATISTICS " +
        "FOR COLUMNS c_custkey, c_nationkey, c_acctbal")
    }
    val meta = spark.sessionState.catalog.getTableMetadata(tableIdent(db))
    val stats = meta.stats.getOrElse(
      sys.error("catalog_stats: ANALYZE left no table statistics"))
    val nRows = stats.rowCount.getOrElse(
      sys.error("catalog_stats: no rowCount")).toLong
    // exact NDV twin, computed alongside to PROVE the sketch bound (one
    // 1-row aggregate over the analyzed table — broadcast-sized)
    val ex = spark.table(s"$db.customer").agg(
      org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("c_custkey")),
      org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("c_nationkey")),
      org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("c_acctbal"))).head()
    val exact = Map("c_custkey" -> ex.getLong(0),
      "c_nationkey" -> ex.getLong(1), "c_acctbal" -> ex.getLong(2))
    // acctbal min/max surface in exact cents; key columns raw — the
    // per-column scale both engines apply identically. Half-AWAY-from-
    // zero, the suite-wide scaledLong rounding rule (ADVICE r8: the old
    // math.rint here was half-to-even — harmless for 2dp data but
    // divergent from the declared discipline on exact half-cents).
    def cents(s: String): Long = {
      val x = s.toDouble * 100
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    }
    val rows = Seq("c_custkey", "c_nationkey", "c_acctbal").map { c =>
      val cs = stats.colStats.getOrElse(c,
        sys.error(s"catalog_stats: no column stats for $c"))
      val scale: String => Long =
        if (c == "c_acctbal") cents else (_.toDouble.toLong)
      val ndv = cs.distinctCount.getOrElse(
        sys.error(s"catalog_stats: no NDV for $c")).toLong
      (c, nRows, cs.nullCount.map(_.toLong).getOrElse(0L),
        scale(cs.min.getOrElse(sys.error(s"no min for $c"))),
        scale(cs.max.getOrElse(sys.error(s"no max for $c"))),
        math.abs(ndv - exact(c)) <= exact(c) / 10)
    }
    import spark.implicits._
    rows.toDF("col_name", "n_rows", "n_nulls", "min_stat", "max_stat",
        "ndv_within_10pct")
      .orderBy(org.apache.spark.sql.functions.col("col_name"))
  }

  val catalogStatsSql: String =
    """SELECT * FROM (
      |  SELECT 'c_acctbal' AS col_name, count(*) AS n_rows,
      |    CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_nulls,
      |    CAST(round(min(c_acctbal) * 100) AS BIGINT) AS min_stat,
      |    CAST(round(max(c_acctbal) * 100) AS BIGINT) AS max_stat,
      |    true AS ndv_within_10pct -- oracle CONSTANT by contract: NDV
      |    -- sketch bytes are engine-specific; Spark must prove its
      |    -- catalog NDV lands within 10% of exact to produce `true`
      |  FROM customer
      |  UNION ALL
      |  SELECT 'c_custkey', count(*),
      |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(min(c_custkey) AS BIGINT), CAST(max(c_custkey) AS BIGINT),
      |    true
      |  FROM customer
      |  UNION ALL
      |  SELECT 'c_nationkey', count(*),
      |    CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(min(c_nationkey) AS BIGINT), CAST(max(c_nationkey) AS BIGINT),
      |    true
      |  FROM customer)
      |ORDER BY col_name""".stripMargin

  /** sql_alter_table (S48) — SQL schema EVOLUTION through the catalog:
    * `ALTER TABLE … ADD COLUMNS` on a populated parquet table, then an
    * INSERT that carries the new column. The pre-ALTER data files do NOT
    * have the column; the read path serves them as NULL under the
    * catalog's evolved schema — the managed-table form of S13's
    * mergeSchema-on-read (there the reader reconciles footers; here the
    * CATALOG owns the superset schema and the parquet reader
    * null-fills). The census splits the new column's aggregates by
    * epoch, so the hash-match proves old files read NULL (never garbage,
    * never a scan error) and new files carry real values.
    *
    * DDL runs once per (catalog, dir) and is guarded (re-running the
    * query never re-ALTERs — CatalogSpec pins idempotence and a
    * single-occurrence schema).
    *
    * Scale: ALTER ADD COLUMNS is a metadata-only catalog write (zero
    * data-file rewrites — the lakehouse schema-evolution contract);
    * reads stay ordinary pruned scans.
    */
  def sqlAlterTable(spark: SparkSession, dir: String): DataFrame = {
    val db = register(spark, dir)
    val key = (System.identityHashCode(spark.sharedState),
      new java.io.File(dir).getCanonicalPath)
    // same lock discipline as sqlCtas: the build is non-idempotent DDL
    // (a doubled ALTER throws, a doubled INSERT corrupts the census)
    buildLock.synchronized {
    if (!alterDone.contains(key)) {
      val loc = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_alter_${ProcessHandle.current.pid}_$db")
      def rmr(f: java.io.File): Unit = {
        val fs = f.listFiles(); if (fs != null) fs.foreach(rmr)
        f.delete(); ()
      }
      rmr(loc)
      spark.sql(s"DROP TABLE IF EXISTS $db.t_alter_orders")
      // v1 schema: the pre-evolution writer
      spark.sql(
        s"""CREATE TABLE $db.t_alter_orders USING parquet
           |LOCATION '${loc.getCanonicalPath}' AS
           |SELECT o_orderkey, o_orderpriority,
           |  CAST(o_totalprice * 100 + 0.5 AS BIGINT) AS cents
           |FROM $db.orders
           |WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'""".stripMargin)
      // the DDL: metadata-only, no data files touched
      spark.sql(s"ALTER TABLE $db.t_alter_orders " +
        "ADD COLUMNS (ship_latency_days BIGINT)")
      // v2 writer fills the evolved schema
      spark.sql(
        s"""INSERT INTO $db.t_alter_orders
           |SELECT o_orderkey, o_orderpriority,
           |  CAST(o_totalprice * 100 + 0.5 AS BIGINT),
           |  o_orderkey % 30
           |FROM $db.orders
           |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'"""
          .stripMargin)
      alterDone.add(key)
    }
    }
    spark.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  COUNT(ship_latency_days) AS n_with_latency,
         |  CAST(SUM(COALESCE(ship_latency_days, 0)) AS BIGINT)
         |    AS total_latency_days,
         |  CAST(CAST(SUM(SHIFTRIGHT(cents, 20)) AS DECIMAL(38,0)) * 1048576
         |    + CAST(SUM(cents & 1048575) AS DECIMAL(38,0)) AS BIGINT)
         |    AS total_cents
         |FROM $db.t_alter_orders
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin)
  }

  private val alterDone =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()

  private val buildLock = new Object

  val sqlAlterTableSql: String =
    """WITH t AS (SELECT o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |      THEN o_orderkey % 30 END AS lat
      |  FROM orders)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  COUNT(lat) AS n_with_latency,
      |  CAST(SUM(COALESCE(lat, 0)) AS BIGINT) AS total_latency_days,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM t GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("catalog_view", catalogView, catalogViewSql),
    Query("catalog_stats", catalogStats, catalogStatsSql, warm = true),
    Query("sql_ctas", sqlCtas, sqlCtasSql),
    Query("sql_alter_table", sqlAlterTable, sqlAlterTableSql))
}
