package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import graft.{Session, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Builder-side A/B harness (not part of the library surface): times
  * registered queries INTERLEAVED in a single JVM and session, taking each
  * query's minimum across rounds. Ambient host-load bursts hit every arm
  * alike, which separate Bench runs cannot guarantee (the same
  * implementation varies ±60% across JVM runs under external load, while
  * interleaved minima rank variants consistently). To compare a candidate
  * implementation, register it under a new name and pass both names.
  *
  * Each call also prints the Spark jobs it launched, counted by a
  * listener: in local mode every job is a driver round trip, so the count
  * is a cost floor that does not move with host load.
  *
  * Usage: tools/ab.sh <query[,query...]> [rounds]
  * (reads SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
  */
object AB {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.toSeq.flatMap(_.split(',').map(_.trim))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println("usage: AB <query[,query...]> [rounds]")
      if (unknown.nonEmpty)
        System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val rounds = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder(Session.cpus(32)).getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")

    // Listener events arrive asynchronously. A one-task marker job, tagged
    // by a local property, is delivered after every job posted before it,
    // so once the listener has seen the marker the count is complete.
    val markKey = "graft.ab.marker"
    val jobs = new AtomicInteger
    val marks = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(markKey) != null))
          marks.incrementAndGet()
        else jobs.incrementAndGet()
    })
    def drainJobs(): Int = {
      val target = marks.get + 1
      sc.setLocalProperty(markKey, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(markKey, null)
      while (marks.get < target) Thread.sleep(1)
      jobs.getAndSet(0)
    }
    def force(name: String): Long =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()

    force("q1_pricing") // warms the JIT and codegen before the first timing
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (r <- 1 to rounds; n <- names) {
      drainJobs()
      val t0 = System.nanoTime()
      force(n)
      val t = (System.nanoTime() - t0) / 1e9
      val j = drainJobs()
      best(n) = math.min(best.getOrElse(n, Double.MaxValue), t)
      println(f"round $r $n%-24s $t%8.3f s  jobs=$j%-4d (best ${best(n)}%8.3f)")
    }
    println(names.map(n => f"$n=${best(n)}%.3f").mkString("BEST: ", "  ", ""))
    spark.stop()
  }
}
