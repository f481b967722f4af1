package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans opened around the calls into each layer, and (in a traced run)
  * the Spark work each span launched.
  *
  * A span is a name. While it is open on a thread, every Spark job that
  * thread starts carries the name as its job group, and a listener
  * charges the job, its stages and its tasks to the span. Spans stay in
  * memory; the harness reads them when the phase ends.
  */
final class Spans(sc: SparkContext, traced: Boolean) {
  import Spans._

  private val stats = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  /** Job groups Spark sets itself (a stream's run id) → the span name. */
  private val aliases = new ConcurrentHashMap[String, String]()
  val unattributed = new AtomicLong()
  val jobsSeen = new AtomicLong()

  private def acc(name: String): Acc = stats.computeIfAbsent(name, _ => new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsSeen.incrementAndGet()
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      val span = group.map(g => aliases.getOrDefault(g, g)).getOrElse {
        unattributed.incrementAndGet(); "unattributed"
      }
      acc(span).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, span))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(
        acc(_).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val a = acc(span)
        a.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs.addAndGet(m.executorCpuTime)
          a.gcMs.addAndGet(m.jvmGCTime)
          a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  if (traced) sc.addSparkListener(listener)

  /** Charge jobs of Spark-owned group `group` (a stream's run id) to `span`. */
  def alias(group: String, span: String): Unit = { aliases.put(group, span); () }

  /** Run `f` inside span `name`; returns its result and wall seconds. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val prevId = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      val a = acc(name)
      a.calls.incrementAndGet(); a.wallNs.addAndGet(System.nanoTime() - t0)
      (r, s)
    } finally {
      sc.setLocalProperty("spark.jobGroup.id", prevId)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
  }

  def apply[T](name: String)(f: => T): T = timed(name)(f)._1

  /** Wait for every queued listener event, then detach the listener. */
  def close(): Unit = if (traced) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Forget the counters so far (set-up), keeping job attribution. */
  def reset(): Unit = stats.clear()

  def get(name: String): Acc = stats.getOrDefault(name, new Acc)

  /** Sum of the counters of every span whose name satisfies `p`. */
  def sum(p: String => Boolean): Acc = {
    val out = new Acc
    stats.forEach((k, a) => if (p(k)) out.add(a))
    out
  }
}

object Spans {
  final class Acc {
    val calls, wallNs, jobs, stages, tasks, cpuNs, gcMs, shuffleBytes,
      spillBytes = new AtomicLong()
    def add(o: Acc): Unit = {
      calls.addAndGet(o.calls.get); wallNs.addAndGet(o.wallNs.get)
      jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
      tasks.addAndGet(o.tasks.get); cpuNs.addAndGet(o.cpuNs.get)
      gcMs.addAndGet(o.gcMs.get); shuffleBytes.addAndGet(o.shuffleBytes.get)
      spillBytes.addAndGet(o.spillBytes.get); ()
    }
    def wallS: Double = wallNs.get / 1e9
    def cpuS: Double = cpuNs.get / 1e9
  }
}
