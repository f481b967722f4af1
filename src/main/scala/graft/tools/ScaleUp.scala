package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-side scale-ladder generator (r11 verdict task 9): blow the
  * sf0.1 corpus up `factor`× into a scratch dir so the shape-critical
  * queries can be measured one decade PAST the provided data — the
  * 100-TB claims are design-argued; this turns them into a measured
  * scaling curve (SCALING.md).
  *
  * Replication discipline — `factor` replicas with RESHUFFLED keys, not
  * naive copies, so per-replica join/group structure is preserved and
  * cross-replica artifacts don't fabricate superlinear work:
  *
  *   - FK keys (orderkey/custkey/suppkey/partkey/user_id/doc_id/vec_id)
  *     offset by replica × (max key + 1): every replica joins ONLY
  *     within itself — join selectivity and group cardinality scale
  *     linearly, the honest 10× of a sharded corpus.
  *   - `nation`/`region` stay fixed (the TPC-H dims are constants at
  *     every SF; customer.c_nationkey survives replication unchanged).
  *   - document TEXT gets a per-WORD replica suffix (`w` → `w·r<i>`),
  *     driving cross-replica shingle Jaccard to ~0 so the near-dup RATE
  *     stays constant as the corpus grows — the profile of a real 10×
  *     corpus. The first attempt (word ROTATION) was measured and
  *     rejected: rotation preserves every shingle except the wrap
  *     boundary, so all `factor` replicas stayed genuine near-dups of
  *     each other and LSH candidate pairs grew quadratically BY
  *     CONSTRUCTION — doc_near_dedup read 12.0× at 10× data purely from
  *     the fabricated dup structure (the engine's cost is candidate-
  *     bounded, and the candidates were genuinely quadratic).
  *   - embedding vectors get a deterministic per-replica micro-jitter
  *     (±3e-3 by (replica, dim)) — preserves the cluster structure the
  *     IVF index trains on while keeping replicas from being bit-equal
  *     duplicate neighbors.
  *   - event timestamps keep their values (the stream's temporal profile
  *     is the thing the windowed queries scale against); event/user ids
  *     offset like every other key.
  *
  * Usage: ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.builder(graft.Session.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    /** Cross with replicas 0..factor-1 and offset each key column by
      * replica × (max+1) — one pass, map-side explode.
      */
    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val maxes = keyCols.map(c => c ->
        (df.agg(max(col(c))).head().getLong(0) + 1L)).toMap
      val r = df.withColumn("_r",
        explode(sequence(lit(0L), lit(factor - 1L))))
      keyCols.foldLeft(r) { case (d, c) =>
        d.withColumn(c, col(c) + col("_r") * lit(maxes(c)))
      }.drop("_r")
    }

    // fixed dims: constants at every SF
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(replicate(read("customer"), Seq("c_custkey")), "customer")
    write(replicate(read("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(read("part"), Seq("p_partkey")), "part")
    write(replicate(read("orders"), Seq("o_orderkey", "o_custkey")),
      "orders")
    write(replicate(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(read("events"), Seq("event_id", "user_id")), "events")

    // documents: keys offset + per-WORD replica suffix (see scaladoc) —
    // replica 0 keeps the original text so the base corpus is a subset
    val maxDoc = read("documents").agg(max(col("doc_id"))).head().getLong(0) + 1
    val suffixed = read("documents")
      .withColumn("_r", explode(sequence(lit(0L), lit(factor - 1L))))
      .withColumn("doc_id", col("doc_id") + col("_r") * lit(maxDoc))
      .withColumn("text", when(col("_r") === 0, col("text")).otherwise(
        concat_ws(" ", transform(split(col("text"), " "),
          w => concat(w, lit("·r"), col("_r"))))))
      .drop("_r")
    write(suffixed, "documents")

    // embeddings: keys offset + deterministic micro-jitter per (replica, dim)
    val maxVec = read("embeddings").agg(max(col("vec_id"))).head().getLong(0) + 1
    val e = read("embeddings")
      .withColumn("_r", explode(sequence(lit(0L), lit(factor - 1L))))
      .withColumn("vec_id", col("vec_id") + col("_r") * lit(maxVec))
      .withColumn("embedding", expr(
        "transform(embedding, (x, j) -> x + " +
          "cast((_r * 31 + j) % 7 - 3 as float) * cast(0.001 as float))"))
      .drop("_r")
    write(e, "embeddings")

    println(s"[scaleup] wrote $out at ${factor}x of $src")
    spark.stop()
  }
}
