package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Downstream readers: one client calls registered queries back to back
  * (a closed loop). Each call is the query's full cost as a library
  * caller pays it: building the DataFrame (which may launch jobs of its
  * own) and executing its whole plan.
  */
object QueryMix {

  val groupNames: Seq[String] = Seq("light", "txlog_read", "pipeline")

  /** The call list: `<group> <query>` lines of query_mix.txt. */
  final class Mix(path: String) {
    val groups: Seq[(String, Seq[String])] = {
      val src = scala.io.Source.fromFile(path)
      val pairs = try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+") match { case Array(g, q) => (g, q) }).toSeq
      finally src.close()
      require(pairs.map(_._1).toSet.subsetOf(groupNames.toSet),
        s"query_mix groups must be among ${groupNames.mkString(", ")}")
      groupNames.map(g => g -> pairs.filter(_._1 == g).map(_._2))
    }
    val names: Seq[String] = groups.flatMap(_._2)
    val groupOf: Map[String, String] =
      groups.flatMap { case (g, qs) => qs.map(_ -> g) }.toMap
  }

  final case class Call(name: String, pass: Int, buildS: Double,
      execS: Double, planningS: Double, rows: Long, ok: Boolean)

  final class Phase {
    var setupS = Seq.empty[Double]
    val calls = mutable.ArrayBuffer.empty[Call]
    var measureS = 0.0
    /** RDDs a call left persisted, by group. */
    val leftPinned = mutable.Map.empty[String, mutable.Set[Int]]
  }

  private def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Set-up: each query's first call, which writes its result (the
    * output the oracle gate compares) and pays its landings' first
    * touch, then one more untimed call each: a second call still runs
    * 20-40% slower than later ones while the JIT catches up.
    */
  def setUp(spark: SparkSession, mix: Mix, sf: String, out: File,
      spans: Spans, ph: Phase): Unit = {
    import mix._
    val t0 = System.nanoTime()
    val fns = SparkEntry.queries
    out.mkdirs()
    names.foreach { n =>
      val t = System.nanoTime()
      try spans("setup")(fns(n)(spark, sf).coalesce(1).write
        .mode("overwrite").parquet(new File(out, n).getAbsolutePath))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n failed in set-up: $e")
      }
      System.err.println(
        f"[perfbench] first call $n ${(System.nanoTime() - t) / 1e9}%.2f s")
    }
    names.foreach { n =>
      try spans("setup")(fns(n)(spark, sf).queryExecution.toRdd.count())
      catch { case _: Throwable => () } // the timed calls report it
    }
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath,
      Json(names.filter(oracle.contains).map(n => n -> oracle(n)).toMap))
    ph.setupS = Seq((System.nanoTime() - t0) / 1e9)
  }

  /** Calls in shuffled passes over the list until `seconds` have passed
    * and at least one pass is whole. The last pass may stop part-way;
    * run.py times whole passes only, so every run times the same mix.
    */
  def run(spark: SparkSession, mix: Mix, sf: String, seed: Long,
      seconds: Int, spans: Spans, ph: Phase): Unit = {
    import mix._
    val fns = SparkEntry.queries
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    while (elapsed < seconds || pass == 0) {
      new scala.util.Random(seed * 1000003L + pass).shuffle(names)
        .iterator.takeWhile(_ => elapsed < seconds || pass == 0).foreach { n =>
          val g = groupOf(n)
          val before = persisted(spark)
          val call =
            try {
              val (df, b) = spans.timed(s"query.$g.build")(fns(n)(spark, sf))
              val (rows, e) = spans.timed(s"query.$g.exec")(
                df.queryExecution.toRdd.count())
              val plan = df.queryExecution.tracker.phases
                .filter { case (k, _) =>
                  Set("analysis", "optimization", "planning")(k) }
                .values.map(_.durationMs).sum / 1e3
              Call(n, pass, b, e, plan, rows, ok = true)
            } catch {
              case e: Throwable =>
                System.err.println(s"[perfbench] $n failed: $e")
                Call(n, pass, 0.0, 0.0, 0.0, 0L, ok = false)
            }
          ph.calls += call
          ph.leftPinned.getOrElseUpdate(g, mutable.Set.empty) ++=
            (persisted(spark) -- before)
      }
      pass += 1
    }
    ph.measureS = elapsed
  }

  /** MB still held by the RDDs each group's calls left persisted. */
  def pinnedMb(spark: SparkSession, ph: Phase): Map[String, Double] = {
    val live = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    groupNames.map { g =>
      g -> ph.leftPinned.getOrElse(g, mutable.Set.empty[Int]).toSeq
        .map(live.getOrElse(_, 0L)).sum / 1e6
    }.toMap
  }
}
