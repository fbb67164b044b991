package graft

import graft.analysis.Analyzer
import graft.build.IndexBuilder
import graft.codec.Postings
import graft.query.{Bm25, LmDirichlet, Searcher, ShardQuery, Wand}
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ranking variants beyond plain BM25 OR-mode, sharing one index build:
  *  - Disjunction-max (Searcher.topKDisMax): max + tie·(sum − max) over
  *    per-subquery OR-mode BM25 scores.
  *  - Dirichlet query-likelihood (Searcher.topKDirichlet / LmDirichlet):
  *    clamped LM contribution with collection-frequency statistics.
  *  - Significant terms (Searcher.significantTerms): JLH overrepresentation
  *    of foreground-doc terms vs the corpus.
  */
class RankVariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = TestSpark.tmpDir("rankvaridx")
    IndexBuilder.build(spark, Transcripts.synth(spark, 3000, 11).toDF(), d,
      IndexBuilder.Config(shards = 8))
    d
  }
  private lazy val s = new Searcher(spark, dir)

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select($"docId".cast("long"), $"score").as[(Long, Double)].collect().toSeq

  // ---- dis_max ------------------------------------------------------------

  private val SubA = "learning retrieval"
  private val SubB = "streaming pipeline"

  test("dismax tie=0 is the per-doc MAX of subquery kernel scores") {
    val dm = hits(s.topKDisMax(Seq(SubA, SubB), 0.0, 50))
    assert(dm.nonEmpty)
    val sa = hits(s.topK(SubA, 5000)).toMap
    val sb = hits(s.topK(SubB, 5000)).toMap
    dm.foreach { case (id, sc) =>
      val expect = math.max(sa.getOrElse(id, 0.0), sb.getOrElse(id, 0.0))
      assert(math.abs(sc - expect) < 1e-9, s"doc $id: $sc vs $expect")
    }
  }

  test("dismax tie=1 over term-disjoint subqueries equals the union query") {
    val a = Analyzer.termFreqs(Analyzer.tokenizeEn(SubA)).keySet
    val b = Analyzer.termFreqs(Analyzer.tokenizeEn(SubB)).keySet
    assert(a.intersect(b).isEmpty, "precondition: disjoint subqueries")
    val dm = hits(s.topKDisMax(Seq(SubA, SubB), 1.0, 20))
      .map { case (id, sc) => (id, r4(sc)) }
    val union = hits(s.topK(SubA + " " + SubB, 20))
      .map { case (id, sc) => (id, r4(sc)) }
    assert(dm == union)
  }

  test("dismax contracts: empty / absent subqueries") {
    assert(hits(s.topKDisMax(Seq("zzznope"), 0.3, 10)).isEmpty)
    assert(hits(s.topKDisMax(Seq.empty, 0.3, 10)).isEmpty)
    // a vocabulary-absent subquery contributes nothing: same as without it
    val w = hits(s.topKDisMax(Seq(SubA, "zzznope"), 0.3, 10))
      .map { case (id, sc) => (id, r4(sc)) }
    val wo = hits(s.topK(SubA, 10)).map { case (id, sc) => (id, r4(sc)) }
    assert(w == wo)
  }

  // ---- Dirichlet LM -------------------------------------------------------

  test("LmDirichlet kernel: hand-computed scores over encoded postings") {
    val mu = 100.0
    val tTot = 1000L
    val a = Postings.encode(0, "a", Array(1L, 5L), Array(2, 1), Array(10, 40))
    val b = Postings.encode(0, "b", Array(5L, 9L), Array(3, 1), Array(40, 20))
    def part(qtf: Int, tf: Int, cf: Long, dl: Int): Double =
      qtf * math.max(0.0,
        math.log(1.0 + tf / (mu * ((cf + 1.0) / (tTot + 1.0))))
          + math.log(mu / (dl + mu)))
    val out = ShardQuery(Seq(
      ShardQuery.clause("a", LmDirichlet.sim(1, 3L, tTot, mu)),
      ShardQuery.clause("b", LmDirichlet.sim(2, 4L, tTot, mu))),
      sink = ShardQuery.Top(10)).run(Map("a" -> a, "b" -> b), None)
      .map(sc => sc.docId -> sc.score).toMap
    val expect = Map(
      1L -> part(1, 2, 3L, 10),
      5L -> (part(1, 1, 3L, 40) + part(2, 3, 4L, 40)),
      9L -> part(2, 1, 4L, 20)).filter(_._2 > 0.0)
    assert(out.keySet == expect.keySet)
    expect.foreach { case (id, e) => assert(math.abs(out(id) - e) < 1e-12) }
  }

  test("topKDirichlet hits match a driver-side recompute from index stats") {
    val q = "learning retrieval"
    val got = hits(s.topKDirichlet(q, 2000.0, 10))
    assert(got.nonEmpty)
    val qtf = Analyzer.termFreqs(Analyzer.tokenizeEn(q))
    val cfm = s.cfSlice(qtf.keys.toSeq)
    val lens = Searcher.docMeta(spark, dir)
      .select($"docId", $"len").as[(Long, Long)].collect().toMap
    got.foreach { case (id, sc) =>
      val tfs = s.explain(q, id)
        .select($"term", $"tf").as[(String, Long)].collect().toMap
      val expect = qtf.toSeq.map { case (t, f) =>
        val muPc = 2000.0 * ((cfm.getOrElse(t, 0L) + 1.0) / (s.sumlen + 1.0))
        val tf = tfs.getOrElse(t, 0L).toInt
        if (tf == 0 || !cfm.contains(t)) 0.0
        else f * math.max(0.0, math.log(1.0 + tf / muPc)
          + math.log(2000.0 / (lens(id) + 2000.0)))
      }.sum
      assert(math.abs(sc - expect) < 1e-9, s"doc $id: $sc vs $expect")
    }
  }

  test("cfSlice sums tfs across shards and memoizes absent terms as 0") {
    val cf = s.cfSlice(Seq("learning", "zzznope"))
    assert(cf.contains("learning") && cf("learning") >= s.dfSlice(Seq("learning"))("learning"))
    assert(!cf.contains("zzznope"))
    assert(s.cfSlice(Seq("zzznope")).isEmpty) // memoized miss stays a miss
  }

  test("topKDirichlet contracts: empty and vocabulary-absent queries") {
    assert(hits(s.topKDirichlet("", 2000.0, 10)).isEmpty)
    assert(hits(s.topKDirichlet("zzznope", 2000.0, 10)).isEmpty)
  }

  // ---- classic TF-IDF -----------------------------------------------------

  test("topKTfIdf hits match a driver-side recompute from index stats") {
    val q = "learning retrieval"
    val got = hits(s.topKTfIdf(q, 10))
    assert(got.nonEmpty)
    val qtf = Analyzer.termFreqs(Analyzer.tokenizeEn(q))
    val dfm = s.dfSlice(qtf.keys.toSeq)
    val lens = Searcher.docMeta(spark, dir)
      .select($"docId", $"len").as[(Long, Long)].collect().toMap
    got.foreach { case (id, sc) =>
      val tfs = s.explain(q, id)
        .select($"term", $"tf").as[(String, Long)].collect().toMap
      val expect = qtf.toSeq.map { case (t, f) =>
        val tf = tfs.getOrElse(t, 0L).toInt
        if (tf == 0 || !dfm.contains(t)) 0.0
        else {
          val idf = 1.0 + math.log((s.n + 1.0) / (dfm(t) + 1.0))
          f * math.sqrt(tf.toDouble) * idf * idf / math.sqrt(lens(id).toDouble)
        }
      }.sum
      assert(math.abs(sc - expect) < 1e-9, s"doc $id: $sc vs $expect")
    }
  }

  test("the three similarities rank the same match set differently") {
    val q = "learning retrieval streaming"
    val bm = hits(s.topK(q, 10)).map(_._1)
    val lm = hits(s.topKDirichlet(q, 2000.0, 10)).map(_._1)
    val ti = hits(s.topKTfIdf(q, 10)).map(_._1)
    // all three must return full pages over this corpus, and at least one
    // pair must genuinely disagree (identical rankings would mean the seam
    // is not actually scoring differently)
    assert(bm.size == 10 && lm.size == 10 && ti.size == 10)
    assert(bm != lm || bm != ti)
  }

  // ---- rescore + per-group top hits (driver-surface compositions) ---------

  private val Sf = "/root/testdata/sf0.001"

  test("rescoreTopK: pool docs with the phrase gain exactly w") {
    import graft.ops.DocQueries
    val (q, ph, w) = ("data filter merge", "merge batch", 2.0)
    val base = DocQueries.searcher(spark, Sf).topK(q, 100)
      .select($"conv_id".cast("long").as("doc_id"), $"score")
      .orderBy(round($"score", 4).desc, $"doc_id".asc).limit(50)
      .as[(Long, Double)].collect().toMap
    val resc = DocQueries.rescoreTopK(spark, Sf, q, ph, w, 50, 50)
      .as[(Long, Double)].collect().toSeq
    assert(resc.nonEmpty)
    val toks = Analyzer.tokenizeRaw(ph).toSeq
    val texts = spark.read.parquet(s"$Sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    var boosted = 0
    resc.foreach { case (id, sc) =>
      val has = Analyzer.tokenizeRaw(texts(id)).toSeq.containsSlice(toks)
      if (has) boosted += 1
      val expect = r4(base(id) + (if (has) w else 0.0))
      assert(math.abs(sc - expect) < 5e-4, s"doc $id: $sc vs $expect")
    }
    assert(boosted > 0, "phrase boost never fired — weak fixture")
  }

  test("topHitsByGroup: per-group ranks and group cut recomputed") {
    import graft.ops.DocQueries
    val got = DocQueries.topHitsByGroup(spark, Sf, "fast query join", "source", 2, 5)
      .as[(String, Long, Double, Long)].collect().toSeq
    assert(got.nonEmpty && got.map(_._1).distinct.size <= 5)
    // recompute from scoreAll + documents
    val all = DocQueries.searcher(spark, Sf).scoreAll("fast query join")
      .select($"conv_id".cast("long").as("doc_id"), round($"score", 4).as("s4"))
      .where($"s4" > 0.0).as[(Long, Double)].collect().toSeq
    val src = spark.read.parquet(s"$Sf/documents.parquet")
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    val byGrp = all.map { case (id, sc) => (src(id), id, sc) }.groupBy(_._1)
    val gsel = byGrp.view.mapValues(_.map(_._3).max).toSeq
      .sortBy { case (g, best) => (-best, g) }.take(5).map(_._1)
    val expect = gsel.flatMap { g =>
      byGrp(g).sortBy { case (_, id, sc) => (-sc, id) }.take(2).zipWithIndex
        .map { case ((_, id, sc), i) => (g, id, sc, (i + 1).toLong) }
    }.sortBy { case (g, _, _, r) => (g, r) }
    assert(got == expect)
  }

  // ---- combined fields (BM25F-simple) -------------------------------------

  test("combinedFieldsTopK: field term retrieves, weight lifts field tf") {
    import graft.ops.DocQueries
    // the base text index cannot serve the field term at all...
    assert(DocQueries.searcher(spark, Sf).topK("src3", 5).count() == 0L)
    // ...the combined index can, and every hit is a src3 doc with tf = w
    val hits = DocQueries.combinedFieldsTopK(spark, Sf, "src3", 2, 5)
      .as[(Long, Double)].collect().toSeq
    assert(hits.nonEmpty)
    val srcOf = spark.read.parquet(s"$Sf/documents.parquet")
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    hits.foreach { case (id, _) => assert(srcOf(id) == "src3") }
  }

  test("combined-fields query-time weights ≡ index-time repetition, per weight") {
    import graft.ops.DocQueries
    // the served path folds w at query time over the single text+source
    // index pair; the yardstick builds one repeated index per w — both
    // must agree row-for-row on mixed text+field queries at every weight
    for (w <- Seq(1, 2, 3); q <- Seq("spark stream src7", "src3", "fast query join")) {
      val qt = DocQueries.combinedFieldsTopK(spark, Sf, q, w, 10)
        .as[(Long, Double)].collect().toSeq
      val ix = DocQueries.combinedFieldsTopKIndexed(spark, Sf, q, w, 10)
        .as[(Long, Double)].collect().toSeq
      assert(qt == ix, s"w=$w q='$q'\n qt=$qt\n ix=$ix")
    }
    // w = 0 excludes the field: identical to the plain text index
    val qt0 = DocQueries.combinedFieldsTopK(spark, Sf, "fast query join", 0, 10)
      .as[(Long, Double)].collect().toSeq
    val plain = DocQueries.topK(spark, Sf, "fast query join", 10, relational = false)
      .as[(Long, Double)].collect().toSeq
    assert(qt0 == plain)
  }

  // ---- match_phrase_prefix ------------------------------------------------

  test("phrasePrefixTopK matches a regex+head-score recompute") {
    import graft.ops.DocQueries
    val got = DocQueries.phrasePrefixTopK(spark, Sf, "merge ba", 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    val headScores = DocQueries.searcher(spark, Sf).topK("merge", 10000)
      .select($"conv_id".cast("long").as("doc_id"), round($"score", 4).as("s4"))
      .as[(Long, Double)].collect().toMap
    val texts = spark.read.parquet(s"$Sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val expect = texts.flatMap { case (id, t) =>
      val toks = Analyzer.tokenizeRaw(t).toSeq
      val m = toks.sliding(2).exists(w => w.lengthCompare(2) == 0 &&
        w.head == "merge" && w.last.startsWith("ba"))
      if (m) Some((id, headScores(id))) else None
    }.sortBy { case (id, sc) => (-sc, id) }.take(10)
    assert(got.map { case (id, sc) => (id, r4(sc)) } == expect)
  }

  // ---- filtered knn + function_score --------------------------------------

  test("cosTopKFiltered: every candidate carries the filter label; query vector exempt") {
    import graft.ops.VectorOps
    val got = VectorOps.cosTopKFiltered(spark, Sf, 0L, 3, 10)
      .select($"vec_id").as[Long].collect().toSet
    assert(got.nonEmpty)
    val lbl = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    got.foreach(id => assert(lbl(id) == 3))
    assert(lbl(0L) != 3, "fixture: the query vector must sit OUTSIDE the filter")
  }

  test("funcScoreTopK: hit scores are base × ln(1 + n_chars/100)") {
    import graft.ops.DocQueries
    val q = "fast query join"
    val got = DocQueries.funcScoreTopK(spark, Sf, q, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    val base = DocQueries.searcher(spark, Sf).scoreAll(q)
      .select($"conv_id".cast("long").as("doc_id"), $"score")
      .as[(Long, Double)].collect().toMap
    val nc = spark.read.parquet(s"$Sf/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    got.foreach { case (id, sc) =>
      val expect = r4(base(id) * math.log(1.0 + nc(id) / 100.0))
      assert(math.abs(sc - expect) < 5e-4, s"doc $id: $sc vs $expect")
    }
  }

  // ---- phrase suggester ---------------------------------------------------

  test("phraseSuggest: cross-product of per-position candidates, df-product ranked") {
    import graft.ops.DocQueries
    val got = DocQueries.phraseSuggest(spark, Sf, "spak sort", 2, 5, 25)
      .as[(String, Long)].collect().toSeq
    assert(got.nonEmpty)
    val c0 = DocQueries.suggest(spark, Sf, "spak", 2, 5)
      .as[(String, Long)].collect().toSeq
    val c1 = DocQueries.suggest(spark, Sf, "sort", 2, 5)
      .as[(String, Long)].collect().toSeq
    val expect = (for ((a, da) <- c0; (b, db) <- c1) yield (a + " " + b, da * db))
      .sortBy { case (s, sc) => (-sc, s) }.take(25)
    assert(got == expect)
    // scores strictly follow the product ordering
    got.sliding(2).foreach {
      case Seq((s1, a), (s2, b)) => assert(a > b || (a == b && s1 < s2))
      case _ =>
    }
  }

  test("phraseSuggest: a query with no tokens suggests nothing") {
    import graft.ops.DocQueries
    assert(DocQueries.phraseSuggest(spark, Sf, "??", 2, 5, 10).count() == 0L)
  }

  test("phraseSuggest: ONE df-table scan serves every query position") {
    import graft.ops.DocQueries
    // the single-scan shape makes the Spark-side work INDEPENDENT of the
    // position count (one candidates collect + the final cut); the old
    // per-position loop added a df-table scan per token. AQE splits one
    // query into several jobs, so the pin compares 1-position vs
    // 4-position job counts rather than an absolute number.
    val sc = spark.sparkContext
    def jobsFor(group: String, q: String): Int = {
      sc.setJobGroup(group, "phraseSuggest job-count pin")
      try DocQueries.phraseSuggest(spark, Sf, q, 2, 3, 10).collect()
      finally sc.clearJobGroup()
      Thread.sleep(2000) // status store is fed by the async listener bus
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    jobsFor("ps-warm", "spak") // warm the index + caches
    val j1 = jobsFor("ps-one", "spak")
    val j4 = jobsFor("ps-four", "spak sort merg windaw")
    assert(j1 > 0 && j4 > 0, s"no jobs recorded ($j1, $j4)")
    assert(j4 <= j1 + 1,
      s"$j4 jobs for 4 positions vs $j1 for one — per-position scans are back")
  }

  test("phraseSuggest: beam cap keeps the expansion bounded and the top-k exact") {
    import graft.ops.DocQueries
    // k above the cap is rejected loudly, never silently truncated
    intercept[IllegalArgumentException] {
      DocQueries.phraseSuggest(spark, Sf, "spak sort", 2, 5,
        DocQueries.PhraseSuggestCap + 1)
    }
    // widening perTerm (bigger cross product, still under the cap) must
    // not change the top-k prefix: the beam is exact for k ≤ cap
    val narrow = DocQueries.phraseSuggest(spark, Sf, "spak sort", 2, 5, 5)
      .as[(String, Long)].collect().toSeq
    val wide = DocQueries.phraseSuggest(spark, Sf, "spak sort", 2, 12, 5)
      .as[(String, Long)].collect().toSeq
    assert(narrow.nonEmpty && wide.nonEmpty)
    // every phrase in the narrow top-5 appears in the wide ranking's
    // candidate universe; the wide top-5 dominates by construction
    assert(wide.map(_._2).zip(narrow.map(_._2)).forall { case (w, n) => w >= n })
  }

  // ---- legacy index compatibility -----------------------------------------

  test("legacy stats without sumlen: Searcher opens, Dirichlet reconstructs") {
    val d2 = TestSpark.tmpDir("legacyidx")
    IndexBuilder.build(spark, Transcripts.synth(spark, 500, 3).toDF(), d2,
      IndexBuilder.Config(shards = 4))
    val sp = IndexBuilder.statsPath(d2)
    val st = spark.read.parquet(sp).select($"n", $"avgdl").collect()(0)
    // rewrite the stats table WITHOUT the sumlen column (pre-sumlen layout)
    Seq((st.getLong(0), st.getDouble(1))).toDF("n", "avgdl")
      .write.mode("overwrite").parquet(sp)
    val s2 = new Searcher(spark, d2)
    assert(s2.sumlen == math.round(s2.n * s2.avgdl))
    assert(s2.topK("learning", 5).count() > 0)
    assert(s2.topKDirichlet("learning", 2000.0, 5).count() > 0)
  }

  // ---- completion suggester ----------------------------------------------

  test("complete: prefix-filtered, df-ranked, term-asc on ties") {
    val got = s.complete("s", 25)
      .select($"term", $"df").as[(String, Long)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(_._1.startsWith("s")))
    got.sliding(2).foreach {
      case Seq((t1, d1), (t2, d2)) =>
        assert(d1 > d2 || (d1 == d2 && t1 < t2), s"($t1,$d1) !>= ($t2,$d2)")
      case _ =>
    }
    assert(s.complete("zzznope", 5).count() == 0L)
  }

  // ---- significant terms --------------------------------------------------

  test("significantTerms matches a from-scratch corpus recompute (JLH)") {
    val q = "learning retrieval"
    val got = s.significantTerms(q, 15)
      .select($"term", $"fg_df", $"df", $"score")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)

    // independent recompute from the raw synth corpus
    val texts = Transcripts.synth(spark, 3000, 11).toDF()
      .select($"text").as[String].collect()
    val docTerms: Seq[Set[String]] =
      texts.map(t => Analyzer.termFreqs(Analyzer.tokenizeEn(t)).keySet).toSeq
    val qTerms = Analyzer.termFreqs(Analyzer.tokenizeEn(q)).keySet
    val nDocs = docTerms.size.toLong
    val fgDocs = docTerms.filter(ts => qTerms.subsetOf(ts))
    val f = fgDocs.size.toLong
    assert(f > 0)
    val fgDf = fgDocs.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val bgDf = docTerms.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val expect = fgDf.toSeq.flatMap { case (t, fg) =>
      val fgPct = fg.toDouble / f
      val bgPct = bgDf(t).toDouble / nDocs
      if (fgPct > bgPct)
        Some((t, fg, bgDf(t), r4((fgPct - bgPct) * (fgPct / bgPct))))
      else None
    }.sortBy { case (t, _, _, sc) => (-sc, t) }.take(15)
    assert(got.map { case (t, fg, df, sc) => (t, fg, df, r4(sc)) } == expect)
  }

  test("significantTerms: no-match foreground is empty") {
    assert(s.significantTerms("zzznope", 10).count() == 0L)
  }

  test("significantTerms: distributed-foreground path ≡ broadcast path") {
    // fgBroadcastMax = 1 forces every real foreground onto the distributed
    // left-semi path; output must be row-identical to the default
    // broadcast path (the guard changes the plan, never the answer)
    for (q <- Seq("learning retrieval", "streaming")) {
      val bcast = s.significantTerms(q, 15)
        .as[(String, Long, Long, Double)].collect().toSeq
      val dist = s.significantTerms(q, 15, fgBroadcastMax = 1)
        .as[(String, Long, Long, Double)].collect().toSeq
      assert(bcast.nonEmpty)
      assert(dist == bcast, s"paths diverge for '$q'")
    }
  }
}
