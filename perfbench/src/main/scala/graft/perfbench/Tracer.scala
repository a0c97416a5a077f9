package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Opens spans around the harness's calls into graft. The untraced
  * run uses [[NoSpans]], which adds nothing around the call. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object NoSpans extends Spans {
  def apply[T](name: String)(body: => T): T = body
}

/** Spans and Spark counters of a traced run.
  *
  * Each span is named in the Spark local property [[Tracer.Key]] while
  * its body runs, so every Spark job the body starts carries the id of
  * the innermost open span and becomes its child. The listener keeps
  * jobs, stage membership and task counters in memory; [[report]] and
  * [[spanLines]] read them after the bus has drained. A job whose tag
  * is missing, or names a span that was not open when the job started
  * (a pooled thread that inherited a stale tag), is counted as
  * unattributed, never dropped. */
final class Tracer(sc: SparkContext, workload: String) extends SparkListener with Spans {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var pass = -1

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val submittedStages = mutable.HashSet.empty[Int]

  def startPass(p: Int): Unit = {
    pass = p
    sc.setLocalProperty(WorkloadKey, workload)
    sc.setLocalProperty(PassKey, p.toString)
    sc.addSparkListener(this)
  }

  /** Waits for the listener bus to deliver the pass's events, then
    * stops listening until the next traced pass. */
  def endPass(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(this)
    Seq(WorkloadKey, PassKey).foreach(sc.setLocalProperty(_, null))
  }

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id), pass,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    val outer = (sc.getLocalProperty(Key), sc.getLocalProperty(OpKey))
    sc.setLocalProperty(Key, s.id.toString)
    sc.setLocalProperty(OpKey, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Key, outer._1)
      sc.setLocalProperty(OpKey, outer._2)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    jobs(e.jobId) = Job(e.jobId, tag.map(_.toInt), e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    submittedStages += id
    stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      j.schedDelayMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmitMs.getOrElse(e.stageId, e.taskInfo.launchTime))
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.gcMs += m.jvmGCTime
      }
    }
  }

  /** Jobs whose tag names a span that was open when they started. */
  private def attributed: Map[Int, Seq[Job]] = synchronized {
    jobs.values.toSeq.flatMap { j =>
      j.span.filter(_ < spans.size).map(spans(_)).collect {
        case s if j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1 => s.id -> j
      }
    }.groupMap(_._1)(_._2)
  }

  /** Per-op and per-layer figures of the traced passes. `ops` names the
    * spans reported as operators; `passes` is the traced pass count. */
  def report(ops: Seq[String], passes: Int): Map[String, Double] = synchronized {
    val byspan = attributed
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(Some(s.id), Nil).toSeq.flatMap(subtree)
    def jobsUnder(s: Span): Seq[Job] = subtree(s).flatMap(x => byspan.getOrElse(x.id, Nil))

    val perOp = ops.flatMap { op =>
      val calls = spans.filter(_.name == op).toSeq
      val rows = calls.map { s =>
        val js = jobsUnder(s)
        val busy = unionMs(js.map(j => (math.max(j.startMs, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
        (s.wallS, math.max(0.0, s.wallS - busy / 1e3), js.size.toDouble,
          js.map(_.cpuNs).sum / 1e9, js.map(_.shuffleBytes).sum / MB)
      }
      def med(f: ((Double, Double, Double, Double, Double)) => Double) =
        if (rows.isEmpty) 0.0 else Stats.median(rows.map(f))
      Seq(s"operators.$op.wall_s" -> med(_._1),
        s"operators.$op.driver_only_s" -> med(_._2),
        s"operators.$op.jobs" -> med(_._3),
        s"operators.$op.exec_cpu_s" -> med(_._4),
        s"operators.$op.shuffle_mb" -> med(_._5))
    }

    val all = jobs.values.toSeq
    val tagged = byspan.values.flatten.map(_.id).toSet
    val referenced = all.flatMap(_.stageIds).distinct
    val skipped = referenced.count(s => !submittedStages.contains(s))
    val passWall = spans.filter(_.name == PassSpan).map(_.wallS).sum
    val n = math.max(passes, 1).toDouble
    perOp.toMap ++ Map(
      "operators.stages" -> submittedStages.size / n,
      "operators.tasks" -> all.map(_.tasks).sum / n,
      "operators.sched_delay_s" -> all.map(_.schedDelayMs).sum / 1e3 / n,
      "operators.spill_mb" -> all.map(_.spillBytes).sum / MB / n,
      "operators.gc_s" -> all.map(_.gcMs).sum / 1e3 / n,
      "operators.failed_tasks" -> all.map(_.failedTasks).sum / n,
      "operators.stage_skip_ratio" ->
        (if (referenced.isEmpty) 0.0 else skipped.toDouble / referenced.size),
      "operators.unattributed_jobs" -> all.count(j => !tagged(j.id)) / n,
      "operators.uncovered_share" ->
        (if (passWall <= 0) 0.0
         else math.max(0.0, 1.0 - spans.filter(s => s.parent.exists(p =>
           spans(p).name == PassSpan)).map(_.wallS).sum / passWall)),
    )
  }

  /** Median wall of the named spans, 0 when none ran. */
  def medianWall(name: String): Double = {
    val w = spans.filter(_.name == name).map(_.wallS).toSeq
    if (w.isEmpty) 0.0 else Stats.median(w)
  }

  /** One record per span and per job, jobs parented to the span that
    * tagged them (or to none). */
  def spanRecords: Seq[Map[String, Any]] = synchronized {
    val owner = attributed.toSeq.flatMap { case (s, js) => js.map(_.id -> s) }.toMap
    spans.toSeq.map { s =>
      Map("kind" -> "span", "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent.getOrElse(-1), "workload" -> workload,
        "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    } ++ jobs.values.toSeq.map { j =>
      Map("kind" -> "job", "id" -> j.id,
        "name" -> s"job-${j.id}", "parent" -> owner.getOrElse(j.id, -1),
        "workload" -> workload, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "tasks" -> j.tasks, "exec_cpu_s" -> j.cpuNs / 1e9)
    }
  }

  def droppedEvents: Long = org.apache.spark.perfbench.Bus.droppedEvents(sc)
}

object Tracer {
  /** Local property holding the id of the innermost open span; the
    * others name its op, the pass and the workload for the event log. */
  val Key = "perfbench.span"
  val OpKey = "perfbench.op"
  val PassKey = "perfbench.pass"
  val WorkloadKey = "perfbench.workload"
  /** Span name of one pass; op spans are its children. */
  val PassSpan = "pass"
  private val MB = 1024.0 * 1024.0

  final case class Span(id: Int, name: String, parent: Option[Int], pass: Int,
                        startMs: Long, startNs: Long) {
    var endMs: Long = -1L
    var endNs: Long = -1L
    def wallS: Double = (endNs - startNs) / 1e9
  }

  final case class Job(id: Int, span: Option[Int], startMs: Long, stageIds: Seq[Int]) {
    var endMs: Long = -1L
    var tasks = 0L
    var failedTasks = 0L
    var schedDelayMs = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
  }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
