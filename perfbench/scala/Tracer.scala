package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Work the engine did for one span: counts and task metrics. */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var maxTaskMs = 0L
  /** (start, end) epoch ms of each finished job */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer[(Long, Long)]()
  /** wall ms covered by at least one job */
  def jobCoveredMs: Long = {
    var covered = 0L
    var reach = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }
  /** jobs per graft function found anywhere on the submitting stack */
  val jobsByFn: mutable.Map[String, Int] = mutable.HashMap[String, Int]().withDefaultValue(0)
  /** jobs per innermost graft function on the submitting stack */
  val jobsByInnermost: mutable.Map[String, Int] = mutable.HashMap[String, Int]().withDefaultValue(0)
}

/** Attributes jobs, stages and task metrics to the benchmark span that
  * was active when each job started, and inside a span to the graft
  * functions on the job's call site — observed from outside the program.
  *
  * Span of a job, in order: a streaming query's tick (the
  * `sql.streaming.queryId` / `streaming.sql.batchId` job properties,
  * labelled through [[labelStream]]); else the `perfbench.span` local
  * property the client thread set ([[Tracer.enter]]); else [[Tracer.Outside]].
  * Graft functions of a job, in order: the `perfbench.site` property a
  * [[SiteProbe]] set when the job's query was planned (a job submitted
  * without planning inherits the thread's last planned site); else its
  * result stage's call site (`details`); else the call site of the SQL
  * execution the job belongs to (jobs from broadcast or subquery
  * threads). Streaming queries pin every job's call site to the place
  * the query was started, which is why the probe exists. */
final class Tracer extends SparkListener {
  import Tracer._

  private val work = mutable.LinkedHashMap[String, Work]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private val execFns = mutable.HashMap[Long, Seq[String]]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()
  private val streamLabel = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private var sentinelsSeen = Set.empty[String]

  def labelStream(queryId: String, label: String): Unit = { streamLabel.put(queryId, label); () }

  private def workOf(span: String): Work = work.getOrElseUpdate(span, new Work)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execFns(s.executionId) = graftFns(s.details)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val stream = for {
      q <- prop("sql.streaming.queryId")
      b <- prop("streaming.sql.batchId")
    } yield s"${Option(streamLabel.get(q)).getOrElse("stream")}/$b"
    val span = stream.orElse(prop(SpanKey)).getOrElse(Outside)
    prop(SpanKey).filter(_.startsWith(SentinelPrefix)).foreach(s => sentinelsSeen += s)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val fns = prop(SiteKey).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse {
      graftFns(site) match {
        case Seq() =>
          prop("spark.sql.execution.id").orElse(prop("spark.sql.execution.root.id"))
            .flatMap(id => execFns.get(id.toLong)).getOrElse(Nil)
        case fs => fs
      }
    }
    val w = workOf(span)
    w.jobs += 1
    fns.distinct.foreach(f => w.jobsByFn(f) += 1)
    w.jobsByInnermost(fns.headOption.getOrElse(Unattributed)) += 1
    e.stageIds.foreach(id => if (!stageSpan.contains(id)) stageSpan(id) = span)
    jobStart(e.jobId) = (span, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      workOf(span).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    workOf(stageSpan.getOrElse(e.stageInfo.stageId, Outside)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = workOf(stageSpan.getOrElse(e.stageId, Outside))
    w.tasks += 1
    w.maxTaskMs = math.max(w.maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** True once the listener has received the start of the sentinel job
    * tagged `tag` — the listener bus is FIFO, so every earlier event
    * has been delivered too. */
  def sawSentinel(tag: String): Boolean = synchronized(sentinelsSeen(tag))

  /** Work per span, keyed by span name (a snapshot). */
  def snapshot(): Map[String, Work] = synchronized(work.toMap)

  def jobsBySpanSum: Int = synchronized(work.valuesIterator.map(_.jobs).sum)
}

/** Counts every job the listener bus delivers — the independent total
  * the per-span counts must sum to. */
final class JobCounter extends SparkListener {
  @volatile var jobs = 0
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
}

/** A planner strategy that plans nothing: while `on`, it records the graft
  * functions on the planning thread's stack in the `perfbench.site` local
  * property, so the jobs the planned query submits carry them. `nanos` is
  * the time it has spent doing so, all of it on the planning thread. */
final class SiteProbe(sc: org.apache.spark.SparkContext)
    extends org.apache.spark.sql.execution.SparkStrategy {
  @volatile var on = false
  val nanos = new java.util.concurrent.atomic.AtomicLong()
  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    if (on) {
      val t0 = System.nanoTime()
      sc.setLocalProperty(Tracer.SiteKey,
        Tracer.graftFns(Thread.currentThread.getStackTrace).mkString(","))
      nanos.addAndGet(System.nanoTime() - t0)
    }
    Nil
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val SiteKey = "perfbench.site"
  val Outside = "(outside)"
  val Unattributed = "(unattributed)"
  val SentinelPrefix = "sentinel:"

  /** Graft functions on a call-site stack, innermost first, as
    * `<module>.<function>`: `graft.streaming.Ingest$.$anonfun$mergeStatus$2`
    * becomes `streaming.Ingest.mergeStatus`. */
  def graftFns(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.flatMap(l => fnOf(l.trim))

  def fnOf(frame: String): Option[String] =
    if (!frame.startsWith("graft.")) None
    else {
      val qual = frame.takeWhile(_ != '(')
      val dot = qual.lastIndexOf('.')
      val module = qual.substring(0, dot).stripPrefix("graft.").takeWhile(_ != '$')
      val method = qual.substring(dot + 1).stripPrefix("$anonfun$").takeWhile(_ != '$')
      if (method.isEmpty || method == "<init>" || method == "apply") None
      else Some(s"$module.$method")
    }

  /** Graft functions of a live thread's stack, innermost first. */
  def graftFns(stack: Array[StackTraceElement]): Seq[String] =
    stack.toSeq.flatMap(f => fnOf(s"${f.getClassName}.${f.getMethodName}("))

  /** Traced wall time over that wall time minus the time tracing hooks
    * held the measured threads (the listener itself runs asynchronously
    * on Spark's listener bus and is not counted). */
  def overhead(tracedMs: Double, hookMs: Double): Double =
    if (tracedMs <= hookMs) 0.0 else tracedMs / (tracedMs - hookMs)

  /** Install a [[SiteProbe]] in `spark` (before any streaming query
    * starts: streams plan in a clone of the session). */
  def probe(spark: org.apache.spark.sql.SparkSession): SiteProbe = {
    val p = new SiteProbe(spark.sparkContext)
    spark.experimental.extraStrategies = p +: spark.experimental.extraStrategies
    p
  }

  /** Run `body` under span `name`: jobs it submits from this thread are
    * attributed to the span. Returns the body's result and its wall ms. */
  def enter[A](sc: org.apache.spark.SparkContext, name: String)(body: => A): (A, Double) = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } finally sc.setLocalProperty(SpanKey, prev)
  }

  /** Every span's work, for the trace file run.py writes. */
  def spansJson(tracer: Tracer): Json.Obj = Json.obj(tracer.snapshot().toSeq.sortBy(_._1).map {
    case (span, w) => span -> Json.obj("jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
      "job_covered_ms" -> w.jobCoveredMs, "shuffle_bytes" -> w.shuffleBytes,
      "spill_bytes" -> w.spillBytes, "peak_exec_mem" -> w.peakExecMem, "max_task_ms" -> w.maxTaskMs,
      "jobs_by_innermost_fn" -> w.jobsByInnermost.toMap, "jobs_by_fn" -> w.jobsByFn.toMap)
  }: _*)

  /** Block until `tracer` has seen every event posted before now: runs a
    * one-task sentinel job and waits for its start to be delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession, tracer: Tracer): Unit = {
    val tag = SentinelPrefix + System.nanoTime()
    enter(spark.sparkContext, tag)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30e9.toLong
    while (!tracer.sawSentinel(tag) && System.nanoTime() < deadline) Thread.sleep(5)
  }
}
