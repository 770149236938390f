package perfbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A named, timed region of one workload job. Times are epoch
  * milliseconds; `job` is the index of the workload job it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, job: Int,
    start: Double, var end: Double = Double.NaN) {
  def seconds: Double = (end - start) / 1e3
}

/** Spark job as seen by the listener; `span` is the id of the span that
  * was innermost when the job was submitted (-1 if none).
  */
final class JobRec(val id: Int, val span: Int, val start: Long) {
  var end: Long = start
}

/** Per-stage task figures. */
final class StageRec(val id: Int, val job: Int) {
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var retries = 0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
}

/** Records every Spark job, stage and task while attached. Jobs name
  * their span through a local property that [[Tracer.open]] sets.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId,
      new StageRec(e.stageId, stageJob.getOrElse(e.stageId, -1)))
    st.taskMs += e.taskInfo.duration
    if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful)
      st.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.diskBytesSpilled
      st.recordsWritten += m.outputMetrics.recordsWritten
      st.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageJob.clear()
  }
}

/** Reads SQL metrics off each executed plan. `Linkage.selfPairs` emits
  * the pairs that pass its in-bucket distance check through one generator
  * whose output column is `p`, once per bucket the pair shares; that
  * node's row count is the emitted-pair count. The comparisons made
  * inside the fold are not exposed by the library.
  */
final class PlanListener extends QueryExecutionListener {
  @volatile var emittedPairs = 0L

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    nodes(qe.executedPlan).foreach {
      case g: GenerateExec if g.generatorOutput.map(_.name) == Seq("p") =>
        emittedPairs += g.metrics("numOutputRows").value
      case _ =>
    }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Spans plus the listeners behind the per-layer figures. Tracing is
  * switched on per job: [[start]] attaches the listeners, [[finish]]
  * waits for their events and detaches them, so untraced jobs in the same
  * JVM run with no listener at all.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Spark jobs of every traced job so far. */
  val sparkJobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobs = new JobListener
  val plans = new PlanListener
  private var stack = List.empty[Span]
  private var job = -1
  private var on = false
  def enabled: Boolean = on

  def start(jobIndex: Int): Unit = {
    job = jobIndex
    jobs.clear()
    plans.emittedPairs = 0L
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    on = true
  }

  /** Detach after a traced job; returns that job's per-layer figures. */
  def finish(pinnedMb: Double): Map[String, Double] = {
    on = false
    BenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    sparkJobs ++= jobs.jobs.values
    Layers.of(spans.filter(_.job == job).toSeq, jobs, plans.emittedPairs,
      pinnedMb)
  }

  def open(name: String): Span = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), job,
      nowMs)
    spans += s
    stack = s :: stack
    label(Some(s))
    s
  }

  /** Ends `s` and any span still open inside it (a job that threw). */
  def close(s: Span): Unit = {
    require(stack.contains(s), s"span ${s.name} is not open")
    val t = nowMs
    while (stack.head ne s) { stack.head.end = t; stack = stack.tail }
    s.end = t
    stack = stack.tail
    label(stack.headOption)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  private def label(s: Option[Span]): Unit = {
    sc.setLocalProperty(Tracer.SpanKey, s.map(_.id.toString).orNull)
    sc.setJobDescription(s.map(_.name).orNull)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Turns one traced job's spans and Spark events into the per-layer
  * metrics. Layers a workload does not run report 0.
  */
object Layers {
  /** Milliseconds of [from, to] covered by the union of `intervals`. */
  def covered(intervals: Iterable[(Long, Long)], from: Double,
      to: Double): Double = {
    var sum = 0.0
    var reach = from
    intervals.map(i => (math.max(i._1.toDouble, from),
      math.min(i._2.toDouble, to))).toSeq.sortBy(_._1).foreach {
      case (a, b) =>
        if (b > math.max(a, reach)) sum += b - math.max(a, reach)
        reach = math.max(reach, b)
    }
    sum
  }

  def of(spans: Seq[Span], l: JobListener, emittedPairs: Long,
      pinnedMb: Double): Map[String, Double] = l.synchronized {
    val root = spans.find(_.parent == -1).getOrElse(
      throw new IllegalStateException("traced job has no root span"))
    val byId = spans.map(s => s.id -> s).toMap
    def under(s: Span, name: String): Boolean =
      s.name == name || (s.parent >= 0 && under(byId(s.parent), name))
    val jobs = l.jobs.values.filter(j => byId.contains(j.span)).toSeq
    val stagesOf = l.stages.values.groupBy(_.job)
    def stages(js: Seq[JobRec]): Seq[StageRec] =
      js.flatMap(j => stagesOf.getOrElse(j.id, Nil))
    def jobsUnder(name: String): Seq[JobRec] =
      jobs.filter(j => under(byId(j.span), name))
    def secs(name: String): Double =
      spans.filter(_.name == name).map(_.seconds).sum
    def count(name: String): Double = spans.count(_.name == name).toDouble

    val st = stages(jobs)
    val tasks = st.flatMap(_.taskMs)
    val wall = root.seconds
    val driverS = math.max(0.0, wall -
      covered(jobs.map(j => (j.start, j.end)), root.start, root.end) / 1e3)
    val skew = st.filter(_.taskMs.size >= 2).map { s =>
      val sorted = s.taskMs.sorted
      val med = sorted(sorted.size / 2).toDouble
      sorted.last / math.max(med, 1.0)
    }.foldLeft(1.0)(math.max)
    val stageSt = stages(jobsUnder("io.stage"))
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.single_task_jobs" -> jobs.count(j =>
        stagesOf.getOrElse(j.id, Nil).map(_.taskMs.size).sum == 1).toDouble,
      "spark.driver_s" -> driverS,
      "spark.driver_share" -> driverS / wall,
      "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1e6,
      "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1e6,
      "spark.spill_mb" -> st.map(_.spill).sum / 1e6,
      "spark.skew" -> skew,
      "spark.max_task_s" -> (if (tasks.isEmpty) 0.0 else tasks.max / 1e3),
      "spark.task_retries" -> st.map(_.retries).sum.toDouble,
      "spark.pinned_mb_after_job" -> pinnedMb,
      "blueprint.plan_s" -> secs("blueprint.plan"),
      "blueprint.plan_jobs" -> jobsUnder("blueprint.plan").size.toDouble,
      "io.read_calls" -> count("io.read"),
      "io.read_s" -> secs("io.read"),
      "io.stage_s" -> secs("io.stage"),
      "io.stage_jobs" -> jobsUnder("io.stage").size.toDouble,
      "io.rows_written" -> stageSt.map(_.recordsWritten).sum.toDouble,
      "io.mb_written" -> stageSt.map(_.bytesWritten).sum / 1e6,
      "io.commit_s" -> secs("io.commit"),
      "dedup.near_pairs_s" -> secs("dedup.near_pairs"),
      "dedup.cc_s" -> secs("dedup.cc"),
      "dedup.cc_jobs" -> jobsUnder("dedup.cc").size.toDouble,
      "dedup.semdedup_s" -> secs("dedup.semdedup"),
      "dedup.semdedup_jobs" -> jobsUnder("dedup.semdedup").size.toDouble,
      "linkage.self_pairs_s" -> secs("linkage.self_pairs"),
      "linkage.emitted_pairs" -> emittedPairs.toDouble,
      "unattributed_jobs" -> l.jobs.values.count(_.span < 0).toDouble,
    )
  }
}
