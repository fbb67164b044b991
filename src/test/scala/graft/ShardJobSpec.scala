package graft

import graft.build.{IndexBuilder, PositionIndex}
import graft.query.{PointRead, PosSearcher, Searcher, ShardJob}
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The prepared shard job serves every postings layout with the same
  * answers, one job per single-query call and no exchange under any
  * relational consumer: layouts that split a shard's postings across
  * files or read partitions are the cases a per-partition kernel could
  * get wrong (a shard scored as two halves). */
class ShardJobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def turns = Transcripts.synth(spark, 3000, 7).toDF()
  private val Facets = Seq("role", "tool")
  private val Phrases = Seq(Seq("quick", "brown", "fox"), Seq("the", "quick"), Seq("learning", "the"))

  // "machine training" and "learning systems" put common terms on both
  // sides of the dictRanges = 2 split (it falls between "rare…" terms)
  private val Queries = Seq("quick brown fox", "machine learning datasets", "tok0 rare1000",
    "quick learning", "machine training", "learning systems streaming")
  private val DisMax = Seq("quick brown", "learning fox", "systems training")
  private val Mu = 2000.0
  private val K = 10

  private def build(prefix: String, cfg: IndexBuilder.Config): String = {
    val d = TestSpark.tmpDir(prefix)
    IndexBuilder.build(spark, turns, d, cfg.copy(facetCols = Facets))
    d
  }

  /** Every relational kernel consumer's answer on one index, keyed by
    * (conv_id, turn_idx) so indexes with other docIds compare: label →
    * (key, value) sorted by key. Positional answers when `ps` is given. */
  private def relational(s: Searcher, dir: String, ps: Option[PosSearcher]): Map[String, Seq[(String, Double)]] = {
    val id = Searcher.docMeta(spark, dir).select("docId", "conv_id", "turn_idx")
      .as[(Long, String, Int)].collect().map(r => r._1 -> s"${r._2}/${r._3}").toMap
    def byDoc(df: org.apache.spark.sql.DataFrame, v: String): Seq[(String, Double)] =
      df.select(col("docId"), col(v).cast("double")).as[(Long, Double)].collect()
        .map { case (d, x) => id(d) -> x }.sortBy(_._1).toSeq
    val terms = Queries.flatMap(s.analyzeQuery(_).keys).distinct.sorted
    Queries.flatMap(q => Seq(
      s"matchAllDocs '$q'" -> byDoc(s.matchAllDocs(q), "score"),
      s"scoreMatches '$q'" -> byDoc(s.scoreMatches(q), "score"),
      s"facetCounts '$q'" -> s.facetCounts(q, "role", 10).as[(String, Long)].collect()
        .map { case (v, c) => v -> c.toDouble }.toSeq,
      s"facetCountsMulti '$q'" -> s.facetCountsMulti(q, Facets, 5).as[(String, String, Long)].collect()
        .map { case (f, v, c) => s"$f/$v" -> c.toDouble }.toSeq)).toMap ++
      Map("cfSlice" -> s.cfSlice(terms).toSeq.sorted.map { case (t, c) => t -> c.toDouble }) ++
      ps.toSeq.flatMap(p => Phrases.flatMap(ph => Seq(
        s"phraseSlopDocs '$ph' slop 1" -> byDoc(p.phraseSlopDocs(ph, 1), "span"),
        s"spanDocs '$ph' window 6" -> byDoc(p.spanDocs(ph, 6), "span"))))
  }

  /** The relational answers of the default layout: 8 doc-complete shards
    * read under the session's default split conf. */
  private lazy val reference: Map[String, Seq[(String, Double)]] = {
    val d = build("sjref", IndexBuilder.Config(shards = 8))
    PositionIndex.build(spark, turns, d)
    relational(new Searcher(spark, d), d, Some(new PosSearcher(spark, d)))
  }

  /** Positionally equal scores; the docs above the last score agree (docs
    * tied at the cut may differ). */
  private def assertSameTopK(label: String, got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Unit = {
    assert(got.length == want.length, s"$label: ${got.length} hits, want ${want.length}")
    got.zip(want).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"$label: score $a vs $b")
    }
    val cut = want.lastOption.fold(0.0)(_._2 + 1e-9)
    assert(got.filter(_._2 > cut).map(_._1).toSet == want.filter(_._2 > cut).map(_._1).toSet,
      s"$label: $got vs $want")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("docId", "score").as[(Long, Double)].collect().toSeq

  private def top(scores: Iterable[(Long, Double)]): Seq[(Long, Double)] =
    scores.filter(_._2 > 0.0).toSeq.sortBy { case (d, s) => (-s, d) }.take(K)

  /** The relational top-k of the docs holding every analyzed term of `q`. */
  private def andExhaustive(s: Searcher, dir: String, q: String): Seq[(Long, Double)] = {
    val has = s.analyzeQuery(q).keys.map(t => array_contains(col("terms"), t)).reduce(_ && _)
    rows(s.scoreAll(q).join(spark.read.parquet(s"$dir/analyzed").where(has).select("docId"), "docId")
      .orderBy(desc("score"), asc("docId")).limit(K))
  }

  /** max + tie·(sum − max) of the relational BM25 scores of each subquery. */
  private def disMaxExhaustive(s: Searcher, subs: Seq[String], tie: Double): Seq[(Long, Double)] =
    top(subs.flatMap(q => rows(s.scoreAll(q))).groupBy(_._1).map { case (d, ps) =>
      val m = ps.map(_._2).max
      d -> (m + tie * (ps.map(_._2).sum - m))
    })

  /** Dirichlet query likelihood recomputed on the driver from analyzed/:
    * cf summed over every row, the index's exact sumlen. */
  private def dirichletExhaustive(s: Searcher, dir: String, q: String): Seq[(Long, Double)] = {
    val qtf = s.analyzeQuery(q)
    val tt = spark.read.parquet(s"$dir/analyzed")
      .select($"docId", $"len", explode(arrays_zip($"terms", $"tfs")).as("tt"))
      .where($"tt.terms".isin(qtf.keys.toSeq: _*))
      .select($"docId", $"len".cast("long"), $"tt.terms", $"tt.tfs".cast("long"))
      .as[(Long, Long, String, Long)].collect()
    val cf = tt.groupMapReduce(_._3)(_._4)(_ + _)
    top(tt.groupBy(_._1).map { case (d, ts) =>
      d -> ts.map { case (_, len, t, tf) =>
        qtf(t) * math.max(0.0, math.log(1.0 + tf / (Mu * ((cf(t) + 1.0) / (s.sumlen + 1.0))))
          + math.log(Mu / (len + Mu)))
      }.sum
    })
  }

  /** topK, topKAnd, topKDirichlet and topKDisMax against brute force, each
    * one shuffle-free job when warm, and every hit's identity resolved;
    * matchAllDocs, scoreMatches, the facet panels, cfSlice and (when the
    * index has its positional sidecar) phraseSlopDocs/spanDocs equal to
    * the default layout's answers, the frames with no Exchange. */
  private def assertServes(s: Searcher, dir: String, want: Map[String, Seq[(String, Double)]]): Unit = {
    for (q <- Queries) {
      assertSameTopK(s"topK '$q'", rows(s.topK(q, K)), rows(s.topKExhaustive(q, K)))
      assertSameTopK(s"topKAnd '$q'", rows(s.topKAnd(q, K)), andExhaustive(s, dir, q))
      assertSameTopK(s"topKDirichlet '$q'", rows(s.topKDirichlet(q, Mu, K)).filter(_._2 > 0.0),
        dirichletExhaustive(s, dir, q))
    }
    for (tie <- Seq(0.0, 0.3))
      assertSameTopK(s"topKDisMax tie=$tie", rows(s.topKDisMax(DisMax, tie, K)),
        disMaxExhaustive(s, DisMax, tie))
    for ((label, call) <- Seq[(String, () => Any)](
        "topK" -> (() => s.topK(Queries.head, K)),
        "topKAnd" -> (() => s.topKAnd(Queries.head, K)),
        "topKDirichlet" -> (() => s.topKDirichlet(Queries.head, Mu, K)),
        "topKDisMax" -> (() => s.topKDisMax(DisMax, 0.3, K))))
      PlanProbe.jobViolation(PlanProbe.ran(spark)(call())).foreach(why => fail(s"$label $why"))
    RefreshSpec.assertHitIdentities(spark, s, dir, Queries)

    val ps = if (PositionIndex.exists(dir)) Some(new PosSearcher(spark, dir)) else None
    val got = relational(s, dir, ps)
    val expected = if (ps.nonEmpty) want else want.filterNot {
      case (l, _) => l.startsWith("phraseSlopDocs") || l.startsWith("spanDocs") }
    assert(got.keySet == expected.keySet, s"${got.keySet} vs ${expected.keySet}")
    for ((label, rows) <- expected) {
      val g = got(label)
      assert(g.map(_._1) == rows.map(_._1), s"$label: ${g.take(5)}… vs ${rows.take(5)}…")
      g.zip(rows).foreach { case ((k, a), (_, b)) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"$label $k: $a vs $b")
      }
    }
    assert(expected.exists(_._2.nonEmpty))
    val frames = Seq("matchAllDocs" -> s.matchAllDocs(Queries.head),
      "scoreMatches" -> s.scoreMatches(Queries.head)) ++
      ps.map(p => "phraseSlopDocs" -> p.phraseSlopDocs(Phrases.head, 0))
    for ((label, df) <- frames) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$label: Exchange in\n$plan")
    }
  }

  test("single-query modes: one job each, exhaustive answers, split read partitions") {
    val want = reference
    val d = build("sjsplit", IndexBuilder.Config(shards = 8))
    PositionIndex.build(spark, turns, d)
    val s = new Searcher(spark, d)
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try {
      for (table <- Seq("postings", PositionIndex.Stage))
        assert(spark.read.parquet(s"$d/$table").rdd.getNumPartitions >
          new java.io.File(s"$d/$table").listFiles().count(_.getName.endsWith(".parquet")),
          s"1k splits must split $table files across Dataset read partitions")
      assertServes(s, d, want)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("single-query modes: one job each, exhaustive answers, dictRanges = 2") {
    val want = reference
    val d = build("sjranged", IndexBuilder.Config(shards = 8, dictRanges = 2))
    PositionIndex.build(spark, turns, d)
    assertServes(new Searcher(spark, d), d, want)
  }

  test("single-query modes: one job each, exhaustive answers, base + delta segment") {
    val want = reference
    val all = turns
    val d = TestSpark.tmpDir("sjdelta")
    val cfg = IndexBuilder.Config(shards = 4, facetCols = Facets)
    IndexBuilder.build(spark, all.filter(pmod(hash($"conv_id"), lit(3)) =!= 0), d, cfg)
    IndexBuilder.append(spark, all.filter(pmod(hash($"conv_id"), lit(3)) === 0), d, cfg)
    IndexBuilder.refresh(spark, d)
    assert(new java.io.File(s"$d/postings_seg_1").exists())
    assertServes(new Searcher(spark, d), d, want)
  }

  test("a shard task reads only the requested terms and prefix matches") {
    val d = build("sjkeys", IndexBuilder.Config(shards = 4))
    PositionIndex.build(spark, turns, d)
    val conf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val noTombs = ShardJob.tombstones(spark, None)
    val role = graft.model.Facets.Prefix + "role" + graft.model.Facets.Prefix
    def seen[G](table: String, rows: ShardJob.Rows[G], terms: Seq[String], prefixes: Seq[String])(
        termsOf: G => Iterable[String]): (Set[String], Set[String]) = {
      val files = PointRead.files(spark.read.parquet(s"$d/$table"))
      val got = ShardJob(spark, files, conf, noTombs, rows).run(terms, prefixes) { shards =>
        shards.flatMap { case (g, _) => termsOf(g) }.toSet
      }.flatten.toSet
      val wanted = spark.read.parquet(s"$d/$table").select("term").distinct().as[String].collect()
        .filter(t => terms.contains(t) || prefixes.exists(t.startsWith)).toSet
      (got, wanted)
    }
    val (postings, wantPostings) = seen("postings", ShardJob.PostingRows,
      Seq("quick", "brown", "zzznope"), Seq(role))(_.keys)
    assert(postings == wantPostings && postings.contains("quick") &&
      postings.exists(_.startsWith(role)), s"postings task read $postings, want $wantPostings")
    val (positions, wantPositions) = seen(PositionIndex.Stage, ShardJob.PositionRows,
      Seq("the", "quick"), Nil)(_.map(_.term))
    assert(positions == wantPositions && positions == Set("the", "quick"),
      s"positions task read $positions, want $wantPositions")
  }

  test("a second cached Searcher over the same generation serves the same hits") {
    // the first one's cached tables must not hide the files the second lists
    val d = build("sjcached", IndexBuilder.Config(shards = 4))
    val first = new Searcher(spark, d, cacheTables = true)
    val want = rows(first.topK(Queries.head, K))
    first.topKBatch(Map("q" -> Queries.head), K) // its postings scan materializes the cache
    val second = new Searcher(spark, d, cacheTables = true)
    try {
      assert(want.nonEmpty)
      assert(rows(second.topK(Queries.head, K)) == want)
      assert(second.dfSlice(Seq("quick")) == first.dfSlice(Seq("quick")))
    } finally spark.catalog.clearCache()
  }

  test("a truncated postings file fails the Searcher at open, naming the file") {
    val d = build("sjtrunc", IndexBuilder.Config(shards = 4))
    val files = new java.io.File(s"$d/postings").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0).sortBy(_.getName)
    assert(files.length > 1)
    val victim = files.last
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    java.nio.file.Files.write(victim.toPath, bytes.take(bytes.length / 2))
    new java.io.File(victim.getParent, s".${victim.getName}.crc").delete()
    val e = intercept[Exception](new Searcher(spark, d))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    assert(chain.contains(victim.getName), s"open failure does not name ${victim.getName}: $chain")
  }
}
