package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Round-3 post-mortem insurance: BENCH_r03 died (exit 137) with ZERO
  * stdout JSON because Bench printed its single line only at the very
  * end. This spec runs the REAL `graft.Bench.main` in a forked JVM —
  * same entry point, same stdout contract the driver parses — in smoke
  * mode (sf0.001, 3 queries, 20k-turn scaling with 1 sample,
  * thread-level protocol forced) and asserts:
  *   1. a parseable `"partial":true` line lands BEFORE the scaling
  *      phase (so a scaling-phase death can never erase the query
  *      phase again), and
  *   2. the final `"partial":false` line parses, has no failed
  *      queries, and carries a complete indexing record.
  * Forked (not in-process): Bench.main creates and stops its own
  * sessions, which would clobber the suite's shared TestSpark context.
  */
class BenchSmokeSpec extends AnyFunSuite {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("Bench.main emits a parseable partial line before scaling and a complete final line") {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    // -Xmx3g: the run needs the HostProbe's 2 GiB array plus < 0.4 GB live
    // (GC log at -Xmx3g: no full GC, peak RSS 3.8 GB; at -Xmx2g the probe
    // allocation fails) — a larger cap only lets G1 grow the child beside
    // the suite JVM's own pre-touched heap
    val cmd = Seq(javaBin, "-Xmx3g", "-cp", System.getProperty("java.class.path")) ++
      addOpens ++ Seq("graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    // temp cwd: Bench dumps audit copies to <cwd>/BENCH/*.json — the
    // smoke run must never overwrite the repo's real bench artifacts
    pb.directory(java.nio.file.Files.createTempDirectory("bench_smoke").toFile)
    pb.redirectErrorStream(false)
    val env = pb.environment()
    env.put("SPARK_HOME", "/opt/spark")
    env.put("SPARK_SCALA_VERSION", "2.13")
    env.put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    env.put("SPARK_GRAFT_CPUS", "8")
    env.put("SPARK_GRAFT_BENCH_TURNS", "20000")
    env.put("GRAFT_BENCH_FORCE_THREADS", "1")
    env.put("GRAFT_BENCH_MAX_SAMPLES", "1")
    env.put("GRAFT_BENCH_QUERIES", "q_bm25_topk,q_doc_tf,q_corpus_stats")
    val proc = pb.start()

    // drain both pipes on daemon threads: a full pipe would deadlock the
    // child, and a blocking readLine here would hang the suite if the
    // child wedges — the hard bound is the waitFor below
    def drain(in: java.io.InputStream, name: String) = {
      val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val t = new Thread(() => {
        val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
        var l = r.readLine()
        while (l != null) { q.add(l); l = r.readLine() }
      }, name)
      t.setDaemon(true)
      t.start()
      q
    }
    val outLines = drain(proc.getInputStream, "bench-smoke-stdout")
    val errLines = drain(proc.getErrorStream, "bench-smoke-stderr")

    val finished = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) proc.destroyForcibly()
    Thread.sleep(500) // let the drainers flush the last buffered lines
    val stdout = outLines.toArray(Array.empty[String]).toSeq
    def context = s"exit=${if (finished) proc.exitValue() else "timeout"}\n" +
      s"stdout:\n${stdout.mkString("\n")}\nstderr tail:\n" +
      errLines.toArray(Array.empty[String]).takeRight(30).mkString("\n")
    assert(finished, s"Bench.main did not finish in 15 min\n$context")
    assert(proc.exitValue() == 0, s"Bench.main exited nonzero\n$context")

    val jsonLines = stdout.filter(_.startsWith("""{"metric":"""))
    assert(jsonLines.size == 2, s"expected exactly 2 JSON lines (partial + final)\n$context")

    implicit val fmt: Formats = DefaultFormats
    val partial = JsonMethods.parse(jsonLines.head)
    val fin = JsonMethods.parse(jsonLines.last)

    assert((partial \ "partial").extract[Boolean], s"first line must be partial\n$context")
    assert((partial \ "indexing" \ "status").extract[String] == "pending")
    assert(!(fin \ "partial").extract[Boolean], s"last line must be final\n$context")
    assert((fin \ "failed_queries").extract[Seq[String]].isEmpty,
      s"smoke queries failed\n$context")
    val qs = (fin \ "queries").extract[Map[String, Double]]
    assert(qs.keySet == Set("q_bm25_topk", "q_doc_tf", "q_corpus_stats"))
    assert(qs.values.forall(_ > 0), s"every timed query must report a positive wall\n$context")
    assert((fin \ "indexing" \ "status").extract[String] == "complete", context)
    assert((fin \ "indexing" \ "protocol").extract[String] == "threads-local8-vs-local32")
    assert((fin \ "indexing" \ "scaling_efficiency").extract[Double] > 0)
    assert((fin \ "indexing" \ "turns_per_sec_n").extract[Double] > 0)
    assert((fin \ "indexing" \ "turns_per_sec_4n").extract[Double] > 0)
  }
}
