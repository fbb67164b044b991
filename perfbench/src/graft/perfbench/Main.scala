package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      scale: Double, cpus: Int, work: String, traceOut: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("scale", "1").toDouble, need("cpus").toInt,
      need("work"), need("trace-out"))
  }
}

/** State of one run: operation counts, answer failures, samples and the
  * metrics reported at the end. */
final class Run(val spark: SparkSession, val a: Args) {
  val log: Option[TaskLog] = if (a.trace) Some(new TaskLog) else None
  log.foreach(spark.sparkContext.addSparkListener)
  val tr = new Tracer(spark.sparkContext, a.trace)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val extra = mutable.LinkedHashMap[String, Any]()
  /** nanoTime bounds of the timed phase. */
  var timedNs: (Long, Long) = (0L, 0L)
  /** Wall of every `new Searcher` in the run, in ms. */
  val opens = mutable.ArrayBuffer[Double]()

  /** One operation: counted as attempted, and as failed if it throws. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(s"$what threw $e"); None }
  }

  /** A wrong answer on an operation already counted as attempted. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  private def fail(what: String): Unit = {
    failed = math.min(failed + 1, attempted)
    if (failures.size < 20) failures += what
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def path(name: String): String = s"${a.work}/$name"
}

object Stats {
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "no samples")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case o => apply(o.toString)
  }
}

object Main {

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toLong)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Driver heap in use after a full collection, in MB. The pause between
    * collections lets Spark's cleaner drop blocks of collected broadcasts. */
  def heapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def host(a: Args): Map[String, Any] = {
    val memKb = scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)).getOrElse(0L)
    Map("nproc" -> Runtime.getRuntime.availableProcessors, "mem_total_mb" -> memKb / 1024,
      "jvm_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_master" -> s"local[${a.cpus}]", "java" -> System.getProperty("java.version"))
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a)
    val run = new Run(spark, a)
    val ok = try {
      a.workload match {
        case "serve_small" => Serve.small(run)
        case "ingest" => Ingest.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      true
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        false
    }
    if (a.trace) Layers.writeTrace(run, host(a))
    val h = host(a)
    println(s"host ${Json(h)}")
    println(s"detail ${Json(run.extra ++ Map("open_ms" -> run.opens))}")
    run.failures.foreach(f => println(s"FAILED $f"))
    println(s"failed_ratio ${run.failed.toDouble / math.max(1L, run.attempted)} " +
      s"(${run.failed} of ${run.attempted} operations)")
    run.metrics.foreach { case (k, (v, u)) => println(f"$k%-34s $v%14.4f $u") }
    val correct = ok && run.failed == 0
    println("RESULT " + Json(Map(
      "correct" -> correct, "attempted" -> math.max(1L, run.attempted), "failed" -> run.failed,
      "metrics" -> run.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "host" -> h)))
    System.out.flush()
    // halt rather than stop the session: the caller deletes the run
    // directory, and Spark's own shutdown adds seconds to every run
    Runtime.getRuntime.halt(if (correct) 0 else 1)
  }
}
