package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one row per name across all modules, each with
  * oracle SQL, and the warm set Bench discloses as `warm_state`.
  */
class RegistrySpec extends AnyFunSuite {
  private val noop: Query = Query("noop", (s, _) => s.range(1).select(lit(1)), "SELECT 1")

  test("query names are unique across modules") {
    val dups = SparkEntry.registry.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  test("the registry rejects a duplicate name instead of overwriting it") {
    val e = intercept[IllegalArgumentException](
      Query.checked(Seq(noop, noop.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("noop"))
  }

  test("every query has non-blank oracle SQL, and blank SQL is rejected") {
    val blank = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries without oracle SQL: $blank")
    intercept[IllegalArgumentException](
      Query.checked(Seq(noop.copy(oracleSql = " \n"))))
  }

  test("the warm set is the 30 queries bench_detail.json discloses") {
    val expected = Set("cdc_incremental_join", "cdc_incremental_neardup",
      "cdc_incremental_ivf", "agg_hist_rollup", "embedding_ivf_knn",
      "embedding_pq_knn", "embedding_semantic_dedup", "layout_zorder",
      "layout_compaction", "catalog_stats", "embedding_outlier_gate",
      "cdc_debezium_envelope", "txlog_txn_commit",
      "txlog_changefeed_stream", "txlog_view_from_feed",
      "txlog_optimize_zorder", "cdc_debezium_stream", "cdc_avro_stream",
      "cdc_e2e_pipeline", "cdc_e2e_stream", "events_tws_profile",
      "events_timer_sessions", "txlog_schema_evolution", "join_bucketed",
      "basket_rules", "graph_kcore", "orders_backlog",
      "graph_shortest_paths", "graph_triangles", "graph_pagerank")
    assert(SparkEntry.registry.filter(_.warm).map(_.name).toSet == expected)
  }
}
