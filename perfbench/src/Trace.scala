package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A span: one call into a layer, timed from the benchmark's side.
  * Times are epoch nanoseconds so they line up with Spark's job events
  * (epoch milliseconds). `compiles0` and `compiles1` hold the codegen
  * compile counter at open and close.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      start: Long, var end: Long,
                      compiles0: Long, var compiles1: Long)

/** Spans, plus what Spark reports while they are open. Nothing here
  * reaches into graft: the spans wrap public calls, warehouse stages
  * arrive through `Apps.runWarehouseDay`'s `onStage` callback, and the
  * Spark side comes from a SparkListener, a QueryExecutionListener and
  * the `CodegenMetrics` counters, all attributed afterwards by time.
  */
final class Tracer(spark: SparkSession, runId: String) {

  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + epochOffset
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var on = false
  def recording: Boolean = on

  // ---- what Spark reports (filled by the listeners) --------------------
  final case class Job(id: Int, start: Long, var end: Long,
                       var tasks: Long = 0, var shuffle: Long = 0,
                       var spill: Long = 0, var written: Long = 0,
                       var gcMs: Long = 0)
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  /** (analysis start in epoch ns, analysis + optimization + planning ms) */
  val plans = mutable.ArrayBuffer[(Long, Double)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time * 1000000L, e.time * 1000000L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.shuffle += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.written += m.outputMetrics.bytesWritten
          j.gcMs += m.jvmGCTime
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Tracer.this.synchronized {
        plans += ((ph.values.map(_.startTimeMs).min * 1000000L,
          ph.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Attach the listeners; spans are recorded only while attached. */
  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Detach the listeners once every queued event has been delivered. */
  def stop(): Unit = if (recording) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        runId, now(), 0L, compiles(), 0L)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.end = now(); s.compiles1 = compiles()
        stack = stack.tail
      }
    }

  /** A child span reported after the fact (an `onStage` callback): it
    * ended now and lasted `seconds`.
    */
  def closed(name: String, seconds: Double): Unit = if (recording) {
    val e = now()
    spans += Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      runId, e - (seconds * 1e9).toLong, e, compiles(), compiles())
  }

  // ---- derived per-span figures -----------------------------------------

  private def inside(s: Span, t: Long) = t >= s.start && t <= s.end

  def jobsOf(s: Span): Seq[Job] = jobs.values.filter(j => inside(s, j.start)).toSeq

  /** Length of the union of `intervals`, each clipped to `[lo, hi]`. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val iv = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def wallS(s: Span): Double = (s.end - s.start) / 1e9
  def gapS(s: Span): Double =
    (s.end - s.start - covered(jobsOf(s).map(j => (j.start, j.end)), s.start, s.end)) / 1e9
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    (s.end - s.start - covered(kids, s.start, s.end)) / 1e9
  }
  def shuffleMb(s: Span): Double = jobsOf(s).map(_.shuffle).sum / 1048576.0
  def planMs(s: Span): Double = plans.filter(p => inside(s, p._1)).map(_._2).sum

  /** Mean over the occurrences of span `name` of `f` (0 when absent). */
  def mean(name: String)(f: Span => Double): Double = {
    val xs = spans.filter(_.name == name)
    if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
  }

  /** Workload-level Spark figures per root span (`pass`). */
  def perPass(f: (Span, Seq[Job]) => Double): Double =
    mean("pass")(s => f(s, jobsOf(s)))

  /** Every span as a JSON array, for the trace file. */
  def json: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${jobsOf(s).size},""" +
      s""""compiles":${s.compiles1 - s.compiles0}}"""
  }.mkString("[\n", ",\n", "\n]")
}
