package graft

import org.apache.spark.sql.SparkSession

/** The one factory for the engine's local sessions: Bench, Verify, the
  * builder tools and the test suite all start from `builder`, so the plan
  * one of them prints is the plan the others time and check. Callers add
  * only what is theirs (a test warehouse, a Hive metastore).
  */
object Session {
  /** Core count from `SPARK_GRAFT_CPUS`, else the caller's default
    * (Bench's contract is local[32]; Verify runs at local[4]). */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** `local[n]` with `n` shuffle partitions. */
  def builder(n: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // sorted bucketed scans: the Bucketed landing writes one genuinely
      // sorted file per bucket (the layout this conf's 3.0 legacy-gating
      // was worried about violating), so the co-located SMJ reads without
      // per-query sorts (PlanSpec pins the sort-free shape)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      // In theory AQE's re-planning jobs are pure overhead at a pinned
      // local layout. Measured (quiet host): AQE on/off made no
      // difference to the per-query floor, and off-runs under load showed
      // no improvement either. No evidence of a win, and AQE's skew-join
      // safety matters at real scale, so it stays on.
      .config("spark.sql.adaptive.enabled", "true")
      // Single-machine shuffles move through page cache, so lz4 on every
      // exchange is CPU with no I/O to save. Interleaved A/B at sf0.1
      // (2-pass best-sums): off 47.2/51.2 vs on 57.6/52.1 under ambient
      // load 2-3, within noise but never worse, and strictly less work
      // per exchange. A real cluster (network + disk spill) keeps
      // compression on; no operator depends on this setting.
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      // The codegen class cache defaults to 100 entries: a ~280-query
      // suite evicts constantly, so every pass re-compiles every query's
      // generated code (~50-150 ms per codegen unit) and the cross-pass
      // minimum never reaches the warm state isolated runs converge to by
      // pass 3. 2000 entries holds the whole suite; this removes
      // redundant compilation between passes, not work inside any plan.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
}
