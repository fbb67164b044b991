package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Spans of one request share `req`; `parent`
  * names the enclosing span ("" for a root). */
final case class Span(name: String, req: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. When off, `span` runs the body and records
  * nothing, so untraced runs pay no tracing cost. When on, each span also
  * sets the Spark job group `req/name`, so the [[TaskLog]] can attribute
  * jobs, stages and tasks to the span that launched them. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val JobGroup = "spark.jobGroup.id"
  val spans = ArrayBuffer[Span]()
  private var stack: List[String] = Nil

  def span[T](name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      sc.setLocalProperty(JobGroup, s"$req/$name")
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(name, req, parent, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(JobGroup,
          if (stack.isEmpty) null else s"$req/${stack.head}")
      }
    }

  /** Job group for untraced calls that the listener should still count
    * (the plain `topK` twin of each traced request). */
  def group[T](g: String)(body: => T): T =
    if (!on) body
    else {
      sc.setLocalProperty(JobGroup, g)
      try body finally sc.setLocalProperty(JobGroup, null)
    }
}

/** Task-level record kept by [[TaskLog]]. Times are epoch ms. */
final case class TaskRec(group: String, launchMs: Long, finishMs: Long, runMs: Long,
                         gcMs: Long, schedDelayMs: Long, inputBytes: Long,
                         shuffleWriteBytes: Long)

/** SparkListener that the benchmark registers in traced runs: jobs, stages
  * and tasks keyed by the job group of the call that launched them. */
final class TaskLog extends SparkListener {
  private val JobGroup = "spark.jobGroup.id"
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, String)]()
  /** (group, start epoch ms, wall ms, call site) of every finished job. */
  val jobWalls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, String)]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(JobGroup))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobs.add(g)
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
    jobStart.put(e.jobId, (g, e.time, Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0, site) => jobWalls.add((g, t0, e.time - t0, site)) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    stages.add(g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m == null || i == null) return
    val dur = i.finishTime - i.launchTime
    val sched = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
    tasks.add(TaskRec(stageGroup.getOrDefault(e.stageId, ""), i.launchTime, i.finishTime,
      m.executorRunTime, m.jvmGCTime, sched, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten))
  }

  import scala.jdk.CollectionConverters._
  def jobsOf(p: String => Boolean): Int = jobs.asScala.count(p)
  def stagesOf(p: String => Boolean): Int = stages.asScala.count(p)
  def tasksOf(p: String => Boolean): Seq[TaskRec] = tasks.asScala.filter(t => p(t.group)).toSeq
  def tasksBetween(fromMs: Long, toMs: Long): Seq[TaskRec] =
    tasks.asScala.filter(t => t.launchMs >= fromMs && t.finishMs <= toMs).toSeq

  /** Milliseconds of [fromMs, toMs] during which none of `ts` ran. */
  def idleMs(fromMs: Long, toMs: Long, ts: Seq[TaskRec]): Long = {
    var busy = 0L
    var end = fromMs
    ts.map(t => (math.max(t.launchMs, fromMs), math.min(t.finishMs, toMs)))
      .filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
    math.max(0L, (toMs - fromMs) - busy)
  }
}
