package graft.perfbench

import graft.analysis.{Analyzer, StopWords}
import graft.build.Manifests
import graft.ops.DocQueries
import graft.query.Searcher
import graft.ref.OracleBm25
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The read workload. Set-up builds the index and opens a cached
  * searcher; the timed phase is a closed loop of one client issuing top-10
  * queries, then 100-query batches. Answers are checked after the clock
  * stops. */
object Serve {
  val Batch = 100

  def small(run: Run): Unit = {
    val a = run.a
    val nDocs = math.max(300, (5000 * a.scale).toInt)
    val probeDocs = math.max(20, nDocs / 100)
    val sfDir = run.path("small")
    val input = s"$sfDir/documents.parquet"
    val docs = Gen.documents(a.seed, nDocs + probeDocs)
    val texts = docs.rows.take(nDocs).map(_._2)
    val qs = Gen.docQueries(a.seed, docs.vocab, 64)

    // set-up passes: write the input table, open a cached searcher and warm
    // the read path; the first pass also builds the index, whose wall is
    // reported as build_turns_per_s and kept out of setup_s
    var dir = ""
    var build: Layers.BuildRec = null
    var s: Searcher = null
    val walls = (1 to Sizes.SetupReps).map { r =>
      var buildMs = 0.0
      Stats.ms {
        Gen.documentsFrame(run.spark, Gen.documents(a.seed, nDocs).rows)
          .write.mode("overwrite").parquet(input)
        if (r == 1) {
          val (ms, from, to) = Layers.timedBuild(run, "build") { dir = DocQueries.indexDir(run.spark, sfDir) }
          build = Layers.buildRec(run, dir, ms, from, to, nDocs)
          buildMs = ms
        }
        run.spark.catalog.clearCache()
        val (x, openMs) = Stats.ms(new Searcher(run.spark, dir, DocQueries.P, cacheTables = true))
        run.opens += openMs
        s = x
        warm(s, qs)
      }._2 - buildMs
    }
    run.extra("setup_ms") = walls

    val answers = new Answers(run)
    if (!a.trace) {
      run.metric("setup_s", Stats.median(walls) / 1e3, "s")
      timed(run, s, qs, answers)
      run.metric("heap_mb", Main.heapMb(), "MB")
      run.metric("index_bytes_per_turn", Manifests.dirBytes(dir).toDouble / nDocs, "B/turn")
      run.metric("build_turns_per_s", nDocs / (build.wallMs / 1e3), "turns/s")
    } else {
      traced(run, s, qs, answers)
      Layers.analysisMetric(run, texts)
      Layers.scanMetric(run, input, nDocs)
      Layers.bytesPerPosting(run, s)
      Layers.buildMetrics(run, Seq(build))
    }
    checkOracle(run, texts, answers.first.toMap)

    // traced runs only: one append → refresh → open probe on the served
    // index gives the write-side per-layer metrics at this index size
    if (a.trace) {
      val rows = docs.rows.drop(nDocs)
      val term = Gen.sentinelTerm(a.seed, 0)
      val marked = rows.indices.filter(_ % math.max(1, probeDocs / 8) == 0).take(8).toSet
      val len = udf((t: String) => Analyzer.analyze(t, StopWords.english)._1)
      val probe = Gen.documentsFrame(run.spark, rows.zipWithIndex.map { case (r, i) =>
        if (marked(i)) r.copy(_2 = r._2 + " " + term) else r
      }).withColumn("len_src", len(col("source")))
      Ingest.cycle(run, dir, Ingest.Batch(
        Transcripts.fromDocuments(probe, Seq("lang", "source", "n_chars", "len_src")),
        term, marked.map(i => (rows(i)._1.toString, 0)), nDocs + probeDocs.toLong), "probe", DocQueries.P)
      Ingest.cycleMetrics(run)
    }
  }

  /** FIXTURES §4: rank identity with the reference oracle over the same
    * texts; docs tied at the cut may permute. OracleBm25.rank analyzes the
    * whole corpus on every call, so the texts are analyzed once and ranked
    * with the oracle's own stats and score (same float downcast, first-seen
    * wins ties), pinned to rank() on one query. */
  private def checkOracle(run: Run, texts: Seq[String], answers: Map[String, Array[Hit]]): Unit = {
    val analyzed = texts.map(OracleBm25.analyze(_, StopWords.english))
    val stats = OracleBm25.computeStats(analyzed)
    val tfs = analyzed.map(Analyzer.termFreqs)
    def oracle(q: String): Seq[(Long, Double)] = {
      val qtf = Analyzer.termFreqs(OracleBm25.analyze(q, StopWords.english))
      tfs.indices.map(i => (i.toLong,
        OracleBm25.score(qtf, tfs(i), analyzed(i).length, stats, OracleBm25.RefDefaults).toFloat.toDouble))
        .filter(_._2 > 0).sortBy(x => (-x._2, x._1)).take(Layers.K)
    }
    answers.headOption.foreach { case (q, _) =>
      val viaRank = OracleBm25.rank(q, texts, Layers.K, StopWords.english, OracleBm25.RefDefaults)
        .filter(_._2 > 0f).map { case (i, f) => (i.toLong, f.toDouble) }
      run.check(Layers.sameTopK(viaRank, oracle(q), 1e-6), s"oracle replica differs from rank() for '$q'")
    }
    answers.foreach { case (q, h) =>
      val want = oracle(q)
      val got = h.map(x => (x.conv.toLong, x.score.toFloat.toDouble)).toSeq
      run.check(Layers.sameTopK(got, want, 1e-6), s"oracle mismatch for '$q': $got vs $want")
    }
  }

  /** Fills the df cache for the query stream's terms and runs each entry
    * point a few times, so the timed phase starts warm. */
  private def warm(s: Searcher, qs: IndexedSeq[String]): Unit = {
    s.dfSlice(qs.flatMap(q => s.analyzeQuery(q).keys).distinct)
    qs.take(2).foreach(q => Layers.topK(s, q))
    s.topKBatch(qs.take(10).zipWithIndex.map { case (q, i) => s"w$i" -> q }.toMap, Layers.K).collect()
  }

  /** Every answer per query string; repeats of a query must agree. */
  final class Answers(run: Run) {
    val first = scala.collection.mutable.LinkedHashMap[String, Array[Hit]]()
    def add(q: String, h: Array[Hit]): Unit = first.get(q) match {
      case Some(f) => run.check(Layers.sameTopK(Layers.byDoc(f), Layers.byDoc(h)), s"unstable answer for '$q'")
      case None => first(q) = h
    }
  }

  /** Untraced closed loop: single queries for 70% of the run, then batches
    * of the queries already answered singly, each batch the same 100 (each
    * batch answer is checked against the single-query answer). The first
    * batch meets a batch path this JVM is still compiling and is not
    * sampled; at least two are. */
  private def timed(run: Run, s: Searcher, qs: IndexedSeq[String], answers: Answers): Unit = {
    val t0 = System.nanoTime()
    val singleEnd = t0 + (run.a.seconds * 0.7e9).toLong
    val end = t0 + (run.a.seconds * 1e9).toLong
    val lat = ArrayBuffer[Double]()
    var i = 0
    do {
      val q = qs(i % qs.size)
      run.op("topK") {
        val (h, ms) = Stats.ms(Layers.topK(s, q))
        lat += ms
        answers.add(q, h)
      }
      i += 1
    } while (System.nanoTime() < singleEnd)
    val covered = qs.take(math.min(i, qs.size))
    val m = (0 until Batch).map(j => s"b$j" -> covered(j % covered.size)).toMap
    val batchMs = ArrayBuffer[Double]()
    val batches = ArrayBuffer[(Map[String, String], Array[org.apache.spark.sql.Row])]()
    var b = 0
    do {
      run.op("topKBatch") {
        val (rows, ms) = Stats.ms(s.topKBatch(m, Layers.K).collect())
        if (b > 0) batchMs += ms
        batches += ((m, rows))
      }
      b += 1
    } while (System.nanoTime() < end || b < 3)
    run.timedNs = (t0, System.nanoTime())
    run.extra("topk_ms") = lat
    run.extra("batch_ms") = batchMs
    run.metric("topk_p50_ms", Stats.median(lat), "ms")
    run.metric("topk_p95_ms", Stats.pct(lat, 0.95), "ms")
    run.metric("batch_qps", Batch / (Stats.median(batchMs) / 1e3), "queries/s")
    batches.foreach { case (m, rows) => checkBatch(run, m, rows, answers) }
  }

  def checkBatch(run: Run, m: Map[String, String], rows: Array[org.apache.spark.sql.Row],
                 answers: Answers): Unit = {
    val got = rows.groupBy(_.getString(0)).map { case (qid, rs) =>
      qid -> rs.map(r => (r.getLong(3), r.getDouble(4))).toSeq
    }
    m.foreach { case (qid, q) =>
      answers.first.get(q).foreach { single =>
        run.check(Layers.sameTopK(got.getOrElse(qid, Nil), Layers.byDoc(single)),
          s"batch answer $qid differs from topK for '$q'")
      }
    }
  }

  /** Traced loop: each request is issued layer by layer, then once more
    * through `topK` (untraced, under its own job group) and both answers
    * must agree. Kernel and codec replays run after the loop. */
  private def traced(run: Run, s: Searcher, qs: IndexedSeq[String], answers: Answers): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + (run.a.seconds * 1e9).toLong
    val plains = ArrayBuffer[Layers.Plain]()
    var i = 0
    do {
      val q = qs(i % qs.size)
      run.op("tracedTopK") {
        val (p, plain) = Layers.tracedPair(run, s, q, i.toString, i % 2 == 0)
        plains += plain
        answers.add(q, p)
      }
      i += 1
    } while (System.nanoTime() < end)
    run.timedNs = (t0, System.nanoTime())
    val rs = answers.first.keys.take(16).zipWithIndex.flatMap { case (q, j) =>
      Layers.replay(run, s, q, s"replay$j")
    }.toSeq
    Layers.replayMetrics(run, rs)
    Layers.requestMetrics(run, plains.toSeq, plains.map(_ => 0).toSeq)
  }
}

/** Corpus sizes at --scale 1, chosen so every run (set-up, the timed
  * phase and the checks) ends well inside the run budget on a 4-core
  * host. */
object Sizes {
  val SetupReps = 3
  val IngestTurns = 20000L
  val Vocab = 20000
  val Shards = 4
}
