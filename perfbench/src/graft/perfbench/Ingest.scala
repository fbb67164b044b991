package graft.perfbench

import graft.build.{Fsck, IndexBuilder, Manifests}
import graft.query.{Bm25, Searcher}
import graft.sources.TableIO
import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer

/** The write workload: a timed index build, then one append → refresh →
  * open cycle and reads on the freshly published searcher. */
object Ingest {
  val Sentinels = 8
  val Reads = 12
  val Opens = 3
  val Batches = 3
  /** Reads and batches issued (and checked) after the sentinel read but not
    * sampled: they meet a read path that this JVM is still compiling. */
  val WarmReads = 8
  val WarmBatches = 1

  /** One append batch: its rows, the sentinel term, the (conv_id,
    * turn_idx) keys of the rows carrying it, and the index's doc count
    * once the batch is refreshed. */
  final case class Batch(input: DataFrame, term: String, keys: Set[(String, Int)], nAfter: Long)

  final case class CycleRec(refreshMs: Double, readMs: Double, s: Searcher, segments: Int)

  def batch(run: Run, c: Gen.Corpus, from: Long, turns: Long, term: String): Batch = {
    val rows = (0 until Sentinels).map(j => from + j * (turns / Sentinels)).toSet
    Batch(Gen.transcripts(run.spark, c, from, from + turns, run.a.cpus, Some(term -> rows)).toDF(),
      term, rows.map(r => (f"conv-${r / Gen.TurnsPerConv}%09d", (r % Gen.TurnsPerConv).toInt)),
      from + turns)
  }

  def sampleTexts(c: Gen.Corpus): Seq[String] = (0L until 2000L).map(i => c.text(i * 97))

  /** append → refresh (timed together: freshness), open searchers on the
    * new generation (three, for a steadier median; reads use the last), and
    * read the cycle's sentinel: the top-10 must be exactly the sentinel
    * rows, and stats n the doc count. */
  def cycle(run: Run, dir: String, b: Batch, req: String, params: Bm25.Params): CycleRec = {
    val tr = run.tr
    val (_, refreshMs) = Stats.ms {
      run.op("append")(tr.span("build.append", req)(IndexBuilder.append(run.spark, b.input, dir)))
      run.op("refresh")(tr.span("build.refresh", req)(IndexBuilder.refresh(run.spark, dir)))
    }
    val s = (1 to Opens).map { _ =>
      val (s, openMs) = Stats.ms(run.op("open")(tr.span("searcher.open", req)(
        new Searcher(run.spark, dir, params, cacheTables = true))).get)
      run.opens += openMs
      s
    }.last
    run.check(s.n == b.nAfter, s"$req: stats n ${s.n}, expected ${b.nAfter}")
    val (h, readMs) = Stats.ms(run.op("topK")(Layers.topK(s, b.term)).getOrElse(Array.empty[Hit]))
    run.check(h.map(x => (x.conv, x.turn)).toSet == b.keys && h.length == b.keys.size,
      s"$req: sentinel ${b.term} returned ${h.map(x => (x.conv, x.turn)).mkString(",")}")
    CycleRec(refreshMs, readMs, s, Layers.segments(run, dir, s))
  }

  /** Write-side per-layer metrics from the cycle spans. */
  def cycleMetrics(run: Run): Unit = {
    def med(n: String) = Stats.median(run.tr.spans.filter(_.name == n).map(_.ms)) / 1e3
    run.metric("build.append_s", med("build.append"), "s")
    run.metric("build.refresh_s", med("build.refresh"), "s")
  }

  def run(run: Run): Unit = {
    val a = run.a
    val n = math.max(4000L, (Sizes.IngestTurns * a.scale).toLong)
    val appendTurns = math.max(400L, n / 10)
    val base = run.path("ingest_base")
    val appendPath = run.path("ingest_append")
    val dir = run.path("ingest_idx")
    val corpus = Gen.corpus(a.seed, Sizes.Vocab)
    val pool = Gen.transcriptQueries(corpus, 64)
    val b = batch(run, corpus, n, appendTurns, Gen.sentinelTerm(a.seed, 0))
    // set-up passes materialize the input tables; the build runs on the
    // clock in a JVM whose Spark runtime they have warmed
    val setupMs = (1 to Sizes.SetupReps).map(_ => Stats.ms {
      TableIO.write(Gen.transcripts(run.spark, Gen.corpus(a.seed, Sizes.Vocab), 0, n, a.cpus * 4).toDF(), base)
      TableIO.write(b.input, appendPath)
    }._2)
    run.extra("setup_ms") = setupMs

    // ---- timed phase ----------------------------------------------------
    val t0 = System.nanoTime()
    val (buildMs, from, to) = Layers.timedBuild(run, "build")(run.op("build")(
      IndexBuilder.build(run.spark, TableIO.read(run.spark, base), dir,
        IndexBuilder.Config(shards = Sizes.Shards))))
    val rec = cycle(run, dir, b.copy(input = TableIO.read(run.spark, appendPath)), "cycle0", Bm25.RefDefaults)
    val lat = ArrayBuffer(rec.readMs)
    val batchMs = ArrayBuffer[Double]()
    val plains = ArrayBuffer[Layers.Plain]()
    val answers = new Serve.Answers(run)
    val warmQs = pool.slice(Reads, Reads + WarmReads)
    warmQs.foreach(q => run.op("topK")(answers.add(q, Layers.topK(rec.s, q))))
    val qs = pool.take(Reads)
    qs.zipWithIndex.foreach { case (q, j) =>
      run.op("topK") {
        if (!a.trace) {
          val (h, ms) = Stats.ms(Layers.topK(rec.s, q))
          lat += ms
          answers.add(q, h)
        } else {
          val (p, plain) = Layers.tracedPair(run, rec.s, q, j.toString, j % 2 == 0)
          plains += plain
          answers.add(q, p)
        }
      }
    }
    // every batch is the same 100 queries, drawn from those answered singly
    val answered = warmQs ++ qs
    val m = (0 until Serve.Batch).map(j => s"b$j" -> answered(j % answered.size)).toMap
    if (!a.trace) (0 until WarmBatches + Batches).foreach { k =>
      run.op("topKBatch") {
        val (rows, ms) = Stats.ms(rec.s.topKBatch(m, Layers.K).collect())
        if (k >= WarmBatches) batchMs += ms
        Serve.checkBatch(run, m, rows, answers)
      }
    }
    run.timedNs = (t0, System.nanoTime())

    if (!a.trace) {
      run.metric("setup_s", Stats.median(setupMs) / 1e3, "s")
      run.metric("topk_p50_ms", Stats.median(lat), "ms")
      run.metric("topk_p95_ms", Stats.pct(lat, 0.95), "ms")
      run.metric("batch_qps", Serve.Batch / (Stats.median(batchMs) / 1e3), "queries/s")
      run.metric("build_turns_per_s", n / (buildMs / 1e3), "turns/s")
      run.metric("refresh_s", rec.refreshMs / 1e3, "s")
      run.metric("searcher_open_ms", Stats.median(run.opens), "ms")
      run.metric("index_bytes_per_turn", Manifests.dirBytes(dir).toDouble / b.nAfter, "B/turn")
      run.metric("heap_mb", Main.heapMb(), "MB")
      run.extra("build_ms") = buildMs
      run.extra("topk_ms") = lat
      run.extra("batch_ms") = batchMs
    } else {
      val rs = pool.take(8).zipWithIndex.flatMap { case (q, j) => Layers.replay(run, rec.s, q, s"replay$j") }
      Layers.replayMetrics(run, rs)
      Layers.requestMetrics(run, plains.toSeq, plains.map(_ => rec.segments).toSeq)
      Layers.analysisMetric(run, sampleTexts(corpus))
      Layers.scanMetric(run, base, n)
      Layers.bytesPerPosting(run, rec.s)
      Layers.buildMetrics(run, Seq(Layers.buildRec(run, dir, buildMs, from, to, n)))
      cycleMetrics(run)
    }
    val (issues, fsckMs) = Stats.ms(Fsck.run(run.spark, dir).filterNot(_.ok))
    run.extra("fsck_ms") = fsckMs
    run.check(issues.isEmpty, s"fsck: ${issues.mkString("; ")}")
  }
}
