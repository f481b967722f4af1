package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Session, SparkEntry}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Builder-side plan dump under the same session profile as Bench (set
  * `SPARK_GRAFT_CPUS` for the core count; default local[32]). For each
  * query it prints the pre-AQE physical plan (`sparkPlan`, the tree
  * PlanSpec's exchange/window/sort pins collect over), then executes the
  * query and prints the final adaptive plan. PLANS.md is its output for
  * `all` at sf0.01, local[4]; PlanSpec asserts the invariants, this is the
  * human-readable evidence.
  *
  * Usage: Explain <query[,query...]|all> [sfDir] [outFile]
  * (sfDir defaults to /root/testdata/sf0.01; without outFile the markdown
  * goes to stdout)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val known = SparkEntry.queries.keys.toSeq.sorted
    val names = args.headOption match {
      case Some("all") => known
      case Some(list) => list.split(',').map(_.trim).toSeq
      case None => Nil
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println("usage: Explain <query[,query...]|all> [sfDir] [outFile]")
      if (unknown.nonEmpty)
        System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      System.err.println("known queries: " + known.mkString(", "))
      sys.exit(2)
    }
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val cpus = Session.cpus(32)
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append(s"# Physical plans (graft.tools.Explain, $sfDir, local[$cpus])\n\n")
    sb.append("Reviewed invariants (asserted by PlanSpec): no " +
      "CartesianProduct anywhere; dim joins broadcast; top-k plans as " +
      "TakeOrderedAndProject; parquet scans show PushedFilters and pruned " +
      "ReadSchema; bucketed co-located joins read without Sort.\n")
    for (name <- names) {
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      val pre = qe.sparkPlan.toString
      qe.toRdd.count() // execute, so the adaptive plan below is final
      val last = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      sb.append(s"\n## $name\n\npre-AQE:\n\n```\n$pre```\n\n")
        .append(s"final:\n\n```\n$last```\n")
    }
    args.lift(2) match {
      case Some(out) =>
        Files.writeString(Paths.get(out), sb.toString)
        println(s"wrote $out")
      case None => print(sb)
    }
    spark.stop()
  }
}
