package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed region of the benchmark: a query, a cycle, or a phase inside
  * one. Times are epoch milliseconds with sub-millisecond precision.
  */
final case class Span(id: Int, name: String, parent: Int, key: String,
    start: Double, var end: Double) {
  def length: Double = end - start
}

/** A Spark job as the listener saw it, attributed to the module of its
  * call site. Task metrics are summed over the job's stages.
  */
final class JobRec(val id: Int, val start: Double, val cls: String, val layer: String) {
  var end: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var recordsWritten = 0L
}

/** Catalyst phase times of one query execution. */
final case class PlanRec(time: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double)

/** Spans kept in memory plus, when enabled, a SparkListener and a
  * QueryExecutionListener. Spark events arrive on the listener bus
  * asynchronously; [[drain]] waits for the bus before results are read.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Time `body` as a child of the innermost open span. Returns the
    * result and the span's length in seconds; spans are only kept when
    * tracing is on.
    */
  def span[T](name: String, key: String)(body: => T): (T, Double) = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), key, now(), Double.NaN)
    if (enabled) { spans += s; open = s.id :: open }
    try {
      val out = body
      (out, (now() - s.start) / 1000.0)
    } finally {
      s.end = now()
      if (enabled) open = open.tail
    }
  }

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val execDetails = mutable.Map.empty[Long, String]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  private val listener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart => execDetails(e.executionId) = e.details
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val own = e.stageInfos.map(_.details).find(d => Tracer.userFrame(d).nonEmpty)
      val viaExec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execDetails.get(id.toLong))
      val cls = own.orElse(viaExec).flatMap(Tracer.userFrame).getOrElse("")
      val j = new JobRec(e.jobId, e.time.toDouble, cls, Tracer.layerOf(cls))
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
          j.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      plans.synchronized {
        plans += PlanRec(start.toDouble, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private var attached = false

  def attach(): Unit = if (enabled && !attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    attached = false
  }

  def drain(): Unit = if (attached) org.apache.spark.ListenerDrain(spark.sparkContext)

  /** Traced over untraced wall time of `op`, run untraced, traced, traced,
    * untraced so that warming during the probe favours neither side.
    * Leaves the listeners attached.
    */
  def overhead(op: => Unit): Double = {
    def time(traced: Boolean): Double = {
      if (traced) attach() else detach()
      val t0 = System.nanoTime()
      op
      (System.nanoTime() - t0) / 1e9
    }
    val (u1, t1, t2, u2) = (time(false), time(true), time(true), time(false))
    attach()
    (t1 + t2) / (u1 + u2)
  }

  def jobIntervals(pred: JobRec => Boolean = _ => true): Seq[(Double, Double)] =
    jobs.values.filter(j => !j.end.isNaN && pred(j)).map(j => (j.start, j.end)).toSeq

  /** Self time of a span: its length minus what its child spans and the
    * jobs that started inside it cover.
    */
  def selfTime(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    val inside = jobIntervals(j => j.start >= s.start && j.start < s.end)
    s.length - Stats.unionLength(Stats.clip(kids ++ inside, s.start, s.end))
  }
}

object Tracer {

  /** The innermost stack frame of the program or of the benchmark in a
    * Spark call-site string, as its class name.
    */
  def userFrame(details: String): Option[String] =
    Option(details).toSeq.flatMap(_.split('\n')).map(_.trim).map { f =>
      val paren = f.indexOf('(')
      val method = if (paren < 0) f else f.substring(0, paren)
      val dot = method.lastIndexOf('.')
      if (dot < 0) method else method.substring(0, dot)
    }.find(c => c.startsWith("graft.") || c.startsWith("perfbench."))

  /** Module → layer. The benchmark's own call sites are the terminal
    * noop write of a query (`sink`) or its output checks (`bench`).
    */
  def layerOf(cls: String): String = {
    def in(prefixes: String*) = prefixes.exists(cls.startsWith)
    if (in("graft.queries.", "graft.Tables")) "queries"
    else if (in("graft.operators.Upsert")) "upsert"
    else if (in("graft.operators.")) "operators"
    else if (in("graft.functions.")) "functions"
    else if (in("graft.plans.")) "plans"
    else if (in("graft.sources.PagedSource")) "fetch"
    else if (in("graft.sources.Storage", "graft.pipelines.CallioIngest")) "storage"
    else if (in("graft.incremental.")) "audit"
    else if (in("graft.pipelines.")) "runner"
    else if (in("graft.")) "graft"
    else if (in("perfbench.QueryWorkload")) "sink"
    else if (in("perfbench.")) "bench"
    else "unattributed"
  }
}
