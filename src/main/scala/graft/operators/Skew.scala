package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Tables
import graft.functions.Det._

/** Skew-mitigation helpers (SURVEY.md §4 "skew handling"). AQE's runtime
  * skew-join split covers most cases for free; this is the explicit salting
  * form for the case AQE can't fix — a hot key on the BUILD side of a
  * shuffle join whose matching probe rows exceed one task's capacity.
  *
  * Deterministic by construction: the salt is a hash of a caller-chosen
  * discriminator column (e.g. a unique id) modulo the fan-out, never
  * rand() — the engine's determinism contract (SURVEY.md §5) extends to
  * physical-distribution tricks.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, salting the skewed big side into
    * `fanout` sub-keys and replicating the small side once per salt. The
    * result is row-identical to `big.join(small, key)` (SkewSpec pins
    * this); the physical effect is that one hot key's rows spread over
    * `fanout` shuffle partitions instead of one straggler task.
    *
    * 100-TB note: replication multiplies the small side `fanout`× — use
    * for genuinely small-but-unbroadcastable sides, or feed it the subset
    * of keys AQE's skew stats flag hot and union the rest un-salted.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      discriminator: Column, fanout: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(discriminator), lit(fanout)).cast("int"))
    // int literals → sequence of ints → the generator output is already
    // int (a cast wrapped AROUND explode would be a nested-generator error)
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(fanout - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** join_skew — the salted join as an oracle-gated QUERY, not just a
    * spec: lineitem (big, salted 8 ways on a near-unique discriminator)
    * ⋈ urgent orders (small side, replicated once per salt), revenue per
    * order status. Row-identical to the plain join — the oracle SQL IS the
    * plain join — while the physical plan spreads any hot orderkey over 8
    * shuffle partitions. SkewSpec pins the row-identity generally; this
    * entry makes the driver's hash-compare gate it per round.
    */
  def joinSkew(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_extendedprice"),
        col("l_discount"), col("l_partkey"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
    saltedJoin(li, urgent, "okey", col("l_partkey"), 8)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  val joinSkewSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_lines,
       |  ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("join_skew", joinSkew, joinSkewSql))
}
