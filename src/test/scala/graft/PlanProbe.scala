package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** What a call ran: the Spark jobs it launched and the executed plan of
  * every Dataset action inside it — for pins on eager entry points
  * (topK and friends execute inside the call and return local rows). */
object PlanProbe {
  final case class Ran(jobs: Int, plans: Seq[SparkPlan]) {
    /** The executed top-k plans: those ending in a TakeOrdered merge (the
      * others are df/cf slices and collects of local rows). */
    def topKPlans: Seq[SparkPlan] = plans.filter(_.toString.contains("TakeOrderedAndProject"))
  }

  def ran(spark: SparkSession)(body: => Any): Ran = {
    val sc = spark.sparkContext
    val group = s"plan-probe-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
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
    Ran(jobs.get, plans.asScala.toSeq)
  }

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

  /** Why `p` breaks the top-k contract — it scans postings only (never
    * analyzed/), joins nothing and shuffles nothing — or None. */
  def topKViolation(p: SparkPlan): Option[String] = {
    val text = p.toString
    val paths = scannedPaths(p)
    if (paths.isEmpty || !paths.forall(_.contains("/postings")))
      Some(s"scans $paths, not postings only")
    else if (text.contains("Join")) Some("plans a join")
    else if (text.contains("Exchange")) Some("plans an Exchange")
    else None
  }
}
