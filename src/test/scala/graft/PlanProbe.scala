package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** What a call ran: the Spark jobs it launched, the stages that ran for
  * them and the bytes they shuffled, and the executed plan of every
  * Dataset action inside it — for pins on eager entry points (topK and
  * friends execute inside the call and return local rows). */
object PlanProbe {
  final case class Ran(jobs: Int, stages: Int, shuffleBytes: Long, plans: Seq[SparkPlan]) {
    /** Index tables (analyzed/, postings) scanned by a SQL execution. */
    def indexScans: Seq[String] =
      plans.flatMap(scannedPaths).filter(p => p.contains("/analyzed") || p.contains("/postings"))
  }

  def ran(spark: SparkSession)(body: => Any): Ran = {
    val sc = spark.sparkContext
    val group = s"plan-probe-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          e.stageIds.foreach(ours.add)
        }
      // only submitted stages complete: skipped (reused) stages never count
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (ours.contains(e.stageInfo.stageId)) stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (ours.contains(e.stageId) && e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten +
            e.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(jl)
    spark.listenerManager.register(ql)
    sc.setJobGroup(group, "plan probe")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerDrain(sc)
      sc.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
    }
    Ran(jobs.get, stages.get, shuffled.get, plans.asScala.toSeq)
  }

  /** Why `r` breaks the prepared-job contract of the kernel's top-k
    * entry points — `jobs` jobs of one stage each, nothing shuffled, no
    * SQL execution scanning analyzed/ or postings — or None. */
  def jobViolation(r: Ran, jobs: Int = 1): Option[String] =
    if (r.jobs != jobs || r.stages != jobs)
      Some(s"ran ${r.jobs} jobs / ${r.stages} stages, want $jobs / $jobs")
    else if (r.shuffleBytes != 0L) Some(s"shuffled ${r.shuffleBytes} bytes")
    else if (r.indexScans.nonEmpty) Some(s"planned SQL scans of ${r.indexScans}")
    else None

  /** Every node, recursing through AQE wrappers and into cached-relation
    * plans (whose child plan holds the real file scan). */
  def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case i: InMemoryTableScanExec => i +: allNodes(i.relation.cachedPlan)
      case n => Seq(n)
    }.flatten

  def scannedPaths(p: SparkPlan): Seq[String] =
    allNodes(p).collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.toString) }.flatten
}
