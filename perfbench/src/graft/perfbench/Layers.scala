package graft.perfbench

import graft.analysis.{Analyzer, StopWords}
import graft.build.{IndexBuilder, Manifests}
import graft.codec.Postings
import graft.model.Posting
import graft.query.{Bm25, Searcher, Wand}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One top-k answer row: (conv_id, turn_idx, docId, score). */
final case class Hit(conv: String, turn: Int, docId: Long, score: Double)

/** Calls into the query, codec and analysis layers, the per-layer metrics
  * derived from spans and listener records, and the trace file. */
object Layers {
  val K = 10

  def hits(rows: Array[org.apache.spark.sql.Row]): Array[Hit] =
    rows.map(r => Hit(r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  /** The public entry point: what a client calls. */
  def topK(s: Searcher, q: String): Array[Hit] = hits(s.topK(q, K).collect())

  /** The same answer as `topK`, issued layer by layer with a span around
    * each call: analyze → df slice → plan → kernel → hit resolution. */
  def tracedTopK(run: Run, s: Searcher, q: String, req: String): Array[Hit] = {
    val tr = run.tr
    tr.span("request", req) {
      val qtf = tr.span("query.analyze", req)(s.analyzeQuery(q))
      tr.span("query.df_slice", req)(if (qtf.nonEmpty) s.dfSlice(qtf.keys.toSeq))
      val frame = tr.span("query.plan", req) {
        val f = s.kernelFrame(q, K)
        f.foreach(_.queryExecution.executedPlan)
        f
      }
      val top = tr.span("query.kernel", req) {
        frame.map(_.collect().map(r => (r.getLong(0), r.getDouble(1)))).getOrElse(Array.empty)
      }
      tr.span("query.resolve", req) {
        if (top.isEmpty) Array.empty[Hit]
        else {
          val scores = typedLit(top.toMap)
          hits(s.hitMeta.filter(col("docId").isin(top.map(_._1).toIndexedSeq: _*))
            .select(col("conv_id"), col("turn_idx"), col("docId"),
              element_at(scores, col("docId")).as("score"))
            .orderBy(desc("score"), asc("docId")).limit(K).collect())
        }
      }
    }
  }

  val BlockingPath = Seq("query.analyze", "query.df_slice", "query.plan", "query.kernel", "query.resolve")

  /** Two answers agree when their scores agree in order and every doc
    * scoring strictly above the last score is in both (docs tied at the
    * cut may differ). */
  def sameTopK(a: Seq[(Long, Double)], b: Seq[(Long, Double)], eps: Double = 1e-9): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      math.abs(x._2 - y._2) <= eps * math.max(1.0, math.abs(x._2))
    } && {
      val cut = if (a.isEmpty) 0.0 else a.last._2 * (1 + eps) + eps
      a.filter(_._2 > cut).map(_._1).toSet == b.filter(_._2 > cut).map(_._1).toSet
    }

  def byDoc(h: Seq[Hit]): Seq[(Long, Double)] = h.map(x => (x.docId, x.score))

  // ---- replays (off the request's blocking path) ---------------------------

  final case class Replay(wandMs: Double, exhaustiveMs: Double, scored: Long, candidates: Long,
                          decodeMs: Double, decoded: Long, encodeMs: Double, encoded: Long)

  /** Re-runs the kernel and codec of one query on the driver thread over
    * the query terms' postings from every shard and segment. */
  def replay(run: Run, s: Searcher, q: String, req: String): Option[Replay] = {
    import run.spark.implicits._
    val qtf = s.analyzeQuery(q)
    val dfm = if (qtf.isEmpty) Map.empty[String, Long] else s.dfSlice(qtf.keys.toSeq)
    if (dfm.isEmpty) return None
    val lists = s.postingsView.where(col("term").isin(dfm.keys.toSeq: _*)).as[Posting].collect()
    val byShard = lists.groupBy(_.shard).values.map(_.groupBy(_.term).map { case (t, ps) =>
      t -> (if (ps.length == 1) ps.head else Postings.merge(ps.toSeq))
    }).toSeq
    def inputs(m: Map[String, Posting]) = qtf.toSeq.collect {
      case (t, f) if m.contains(t) => Wand.TermInput(m(t), f, dfm(t))
    }
    val tr = run.tr
    val p = Bm25.RefDefaults
    var scored = 0L
    val (_, wandMs) = Stats.ms(tr.span("query.wand", req)(byShard.foreach { m =>
      Wand.topK(inputs(m), s.n, s.avgdl, K, p)
      scored += Wand.lastScoredCount.get
    }))
    val (_, exMs) = Stats.ms(tr.span("query.wand_exhaustive", req)(
      byShard.foreach(m => Wand.topKExhaustive(inputs(m), s.n, s.avgdl, K, p))))
    val merged = byShard.flatMap(_.values)
    val candidates = byShard.map { m =>
      val docs = new java.util.HashSet[java.lang.Long]()
      m.values.foreach(po => Postings.decode(po)._1.foreach(d => docs.add(d)))
      docs.size.toLong
    }.sum
    val count = merged.map(_.count.toLong).sum
    // codec replays repeat until 20 ms have passed, so tiny lists still time
    def repeat(body: => Unit): (Double, Long) = {
      val t0 = System.nanoTime(); var n = 0L
      while (System.nanoTime() - t0 < 20000000L || n == 0) { body; n += 1 }
      ((System.nanoTime() - t0) / 1e6, n)
    }
    val (decMs, decReps) = tr.span("codec.decode", req)(repeat(merged.foreach(Postings.decode)))
    val decodedLists = merged.map(po => (po, Postings.decode(po)))
    val (encMs, encReps) = tr.span("codec.encode", req)(repeat(decodedLists.foreach {
      case (po, (d, f, l)) => Postings.encode(po.shard, po.term, d, f, l)
    }))
    Some(Replay(wandMs, exMs, scored, candidates, decMs, decReps * count, encMs, encReps * count))
  }

  def replayMetrics(run: Run, rs: Seq[Replay]): Unit = {
    if (rs.isEmpty) return
    run.metric("query.wand_ms", Stats.median(rs.map(_.wandMs)), "ms")
    run.metric("query.wand_exhaustive_ms", Stats.median(rs.map(_.exhaustiveMs)), "ms")
    run.metric("query.wand_prune_ratio",
      1.0 - rs.map(_.scored).sum.toDouble / math.max(1L, rs.map(_.candidates).sum), "ratio")
    run.metric("codec.decode_mpostings_per_s", rs.map(_.decoded).sum / rs.map(_.decodeMs).sum / 1e3, "Mpostings/s")
    run.metric("codec.encode_mpostings_per_s", rs.map(_.encoded).sum / rs.map(_.encodeMs).sum / 1e3, "Mpostings/s")
  }

  /** Single-thread tokenizer throughput over a sample of the corpus text. */
  def analysisMetric(run: Run, texts: Seq[String]): Unit = {
    var tokens = 0L
    val t0 = System.nanoTime()
    run.tr.span("analysis.tokenize", "replay") {
      while (System.nanoTime() - t0 < 300000000L)
        texts.foreach(t => tokens += Analyzer.tokenize(t, StopWords.english).length)
    }
    run.metric("analysis.mtokens_per_s", tokens / ((System.nanoTime() - t0) / 1e9) / 1e6, "Mtokens/s")
  }

  /** Full scan of the input table's text column through TableIO. */
  def scanMetric(run: Run, inputPath: String, turns: Long): Unit = {
    val (_, ms) = Stats.ms(run.tr.span("sources.scan", "replay") {
      graft.sources.TableIO.read(run.spark, inputPath).agg(sum(length(col("text")))).collect()
    })
    run.metric("sources.scan_turns_per_s", turns / (ms / 1e3), "turns/s")
  }

  /** Encoded bytes per posting over the whole postings table. */
  def bytesPerPosting(run: Run, s: Searcher): Unit = {
    val r = s.postingsView.agg(
      sum(length(col("docsBlob")) + length(col("tfsBlob")) + length(col("lensBlob"))),
      sum(col("count"))).head()
    run.metric("codec.bytes_per_posting", r.getLong(0).toDouble / r.getLong(1), "B")
  }

  // ---- build layer ---------------------------------------------------------

  final case class BuildRec(wallMs: Double, analyzedS: Double, postingsS: Double, dfS: Double,
                            statsS: Double, analyzedBytes: Long, postingsBytes: Long,
                            shuffleBytes: Long, turns: Long)

  /** Stage walls and bytes from the build's manifests, and the shuffle
    * bytes of every task that ran during it. */
  def buildRec(run: Run, dir: String, wallMs: Double, fromMs: Long, toMs: Long, turns: Long): BuildRec = {
    def st(n: String) = Manifests.read(dir, n)
    def sec(n: String) = st(n).map(_.wallMs / 1e3).getOrElse(0.0)
    val shuffle = run.log.map { l =>
      org.apache.spark.perfbench.ListenerDrain(run.spark.sparkContext)
      l.tasksBetween(fromMs, toMs).map(_.shuffleWriteBytes).sum
    }.getOrElse(0L)
    BuildRec(wallMs, sec("analyzed"), sec("postings"), sec("df"), sec("stats"),
      st("analyzed").map(_.bytes).getOrElse(0L), st("postings").map(_.bytes).getOrElse(0L),
      shuffle, turns)
  }

  /** Runs `body` as a traced build step and returns its BuildRec inputs. */
  def timedBuild(run: Run, name: String)(body: => Unit): (Double, Long, Long) = {
    val from = System.currentTimeMillis()
    val (_, ms) = Stats.ms(run.tr.span(name, name)(body))
    (ms, from, System.currentTimeMillis())
  }

  def buildMetrics(run: Run, bs: Seq[BuildRec]): Unit = {
    def med(f: BuildRec => Double) = Stats.median(bs.map(f))
    run.metric("build.analyzed_s", med(_.analyzedS), "s")
    run.metric("build.postings_s", med(_.postingsS), "s")
    run.metric("build.df_s", med(_.dfS), "s")
    run.metric("build.stats_s", med(_.statsS), "s")
    run.metric("build.analyzed_bytes_per_turn", med(b => b.analyzedBytes.toDouble / b.turns), "B/turn")
    run.metric("build.postings_bytes_per_turn", med(b => b.postingsBytes.toDouble / b.turns), "B/turn")
    run.metric("spark.shuffle_bytes_per_turn", med(b => b.shuffleBytes.toDouble / b.turns), "B/turn")
  }

  def segments(run: Run, dir: String, s: Searcher): Int =
    IndexBuilder.segmentPathsAsOf(run.spark, dir, s.generation).size

  // ---- request-level metrics -----------------------------------------------

  /** A plain `topK` call made beside a traced request, under job group `g`.
    * `gcMs` is the JVM's collection time during the call: in local mode the
    * executors share the driver JVM, so every pause delays the request. */
  final case class Plain(g: String, fromMs: Long, toMs: Long, wallMs: Double, gcMs: Double)

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def plainTopK(run: Run, s: Searcher, q: String, g: String): (Array[Hit], Plain) = {
    val from = System.currentTimeMillis()
    val gc0 = gcMs()
    val (h, ms) = Stats.ms(run.tr.group(g)(topK(s, q)))
    (h, Plain(g, from, System.currentTimeMillis(), ms, (gcMs() - gc0).toDouble))
  }

  /** One traced request (`r<id>`) and its plain `topK` twin (`q<id>`), in
    * alternating order so neither side always meets the colder caches; the
    * two answers must agree. Returns the plain answer. */
  def tracedPair(run: Run, s: Searcher, q: String, id: String, tracedFirst: Boolean): (Array[Hit], Plain) = {
    def traced() = tracedTopK(run, s, q, s"r$id")
    val (h, (p, plain)) =
      if (tracedFirst) { val h = traced(); (h, plainTopK(run, s, q, s"q$id")) }
      else { val pp = plainTopK(run, s, q, s"q$id"); (traced(), pp) }
    run.check(sameTopK(byDoc(h), byDoc(p)), s"traced answer differs for '$q'")
    (p, plain)
  }

  /** Per-query Spark, span and overhead metrics of a traced run. */
  def requestMetrics(run: Run, plains: Seq[Plain], segs: Seq[Int]): Unit = {
    val log = run.log.get
    org.apache.spark.perfbench.ListenerDrain(run.spark.sparkContext)
    val per = plains.map { p =>
      val ts = log.tasksOf(_ == p.g)
      (log.jobsOf(_ == p.g).toDouble, log.stagesOf(_ == p.g).toDouble, ts.size.toDouble,
        log.idleMs(p.fromMs, p.toMs, ts).toDouble, ts.map(_.runMs).sum.toDouble,
        ts.map(_.inputBytes).sum.toDouble, ts.map(_.schedDelayMs).sum.toDouble, p.gcMs)
    }
    run.metric("spark.jobs_per_query", Stats.mean(per.map(_._1)), "count")
    run.metric("spark.stages_per_query", Stats.mean(per.map(_._2)), "count")
    run.metric("spark.tasks_per_query", Stats.mean(per.map(_._3)), "count")
    run.metric("spark.idle_ms_per_query", Stats.mean(per.map(_._4)), "ms")
    run.metric("spark.task_ms_per_query", Stats.mean(per.map(_._5)), "ms")
    run.metric("spark.input_bytes_per_query", Stats.mean(per.map(_._6)), "B")
    run.metric("spark.sched_delay_ms_per_query", Stats.mean(per.map(_._7)), "ms")
    run.metric("spark.gc_ms_per_query", Stats.mean(per.map(_._8)), "ms")

    val reqs = run.tr.spans.filter(_.name == "request")
    val kids = run.tr.spans.filter(x => x.parent == "request").groupBy(_.req)
    def spanMed(n: String) = Stats.median(run.tr.spans.filter(_.name == n).map(_.ms))
    run.metric("query.analyze_us", spanMed("query.analyze") * 1e3, "us")
    run.metric("query.df_slice_ms", spanMed("query.df_slice"), "ms")
    run.metric("query.df_slice_jobs",
      Stats.mean(reqs.map(r => log.jobsOf(_ == s"${r.req}/query.df_slice").toDouble)), "count")
    run.metric("query.plan_ms", spanMed("query.plan"), "ms")
    run.metric("query.kernel_ms", spanMed("query.kernel"), "ms")
    run.metric("query.resolve_ms", spanMed("query.resolve"), "ms")
    val wall = reqs.map(_.ms)
    val blocking = reqs.map(r => kids.getOrElse(r.req, Nil).filter(k => BlockingPath.contains(k.name)).map(_.ms).sum)
    run.metric("trace.request_ms", Stats.median(wall), "ms")
    run.metric("trace.blocking_sum_ms", Stats.median(blocking), "ms")
    run.metric("trace.blocking_share", Stats.median(blocking.zip(wall).map { case (b, w) => b / w }), "ratio")
    run.metric("trace.overhead_ms", Stats.median(wall) - Stats.median(plains.map(_.wallMs)), "ms")
    run.metric("build.segments", Stats.mean(segs.map(_.toDouble)), "count")
  }

  // ---- trace file ----------------------------------------------------------

  def writeTrace(run: Run, host: Map[String, Any]): Unit = {
    val spans = run.tr.spans
    val byName = spans.groupBy(_.name).map { case (n, ss) =>
      // self time: duration minus the part covered by child spans
      val self = ss.map { x =>
        x.ms - spans.filter(c => c.req == x.req && c.parent == x.name &&
          c.startNs >= x.startNs && c.endNs <= x.endNs).map(_.ms).sum
      }
      n -> Map("count" -> ss.size, "total_ms" -> ss.map(_.ms).sum,
        "self_median_ms" -> Stats.median(self), "self_total_ms" -> self.sum)
    }
    val groups = run.log.map { l =>
      import scala.jdk.CollectionConverters._
      l.tasks.asScala.groupBy(_.group).map { case (g, ts) =>
        g -> Map("tasks" -> ts.size, "run_ms" -> ts.map(_.runMs).sum,
          "sched_delay_ms" -> ts.map(_.schedDelayMs).sum, "gc_ms" -> ts.map(_.gcMs).sum,
          "input_bytes" -> ts.map(_.inputBytes).sum, "shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum,
          "jobs" -> l.jobsOf(_ == g), "stages" -> l.stagesOf(_ == g))
      }
    }.getOrElse(Map.empty)
    // layers with a span inside the timed phase (set-up, answer checks and
    // replays are outside it)
    val (t0, t1) = run.timedNs
    val timedLayers = spans.filter(x => x.startNs >= t0 && x.endNs <= t1).map(_.name).distinct.sorted
    val doc = Map(
      "workload" -> run.a.workload, "seed" -> run.a.seed, "host" -> host,
      "timed_path_layers" -> timedLayers,
      "blocking_path" -> BlockingPath.flatMap(n => byName.get(n).map(m => n -> m("self_median_ms"))).toMap,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "failed_ratio" -> run.failed.toDouble / math.max(1L, run.attempted),
      "layers" -> byName, "groups" -> groups,
      "jobs" -> run.log.map { l =>
        import scala.jdk.CollectionConverters._
        l.jobWalls.asScala.toSeq.map { case (g, t0, ms, site) =>
          Map("group" -> g, "start_ms" -> t0, "wall_ms" -> ms, "call_site" -> site)
        }
      }.getOrElse(Nil),
      "metrics" -> run.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "extra" -> run.extra,
      "spans" -> spans.map(x => Map("name" -> x.name, "req" -> x.req, "parent" -> x.parent,
        "start_ns" -> x.startNs, "end_ns" -> x.endNs)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(run.a.traceOut), Json(doc))
  }
}
