package graft

import graft.build.IndexBuilder
import graft.query.Searcher
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The prepared single-query shard job serves every postings layout with
  * the same answers and one job per call: layouts that split a shard's
  * postings across files or read partitions are the cases a
  * per-partition kernel could get wrong (a shard scored as two halves). */
class ShardJobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // "machine training" and "learning systems" put common terms on both
  // sides of the dictRanges = 2 split (it falls between "rare…" terms)
  private val Queries = Seq("quick brown fox", "machine learning datasets", "tok0 rare1000",
    "quick learning", "machine training", "learning systems streaming")
  private val DisMax = Seq("quick brown", "learning fox", "systems training")
  private val Mu = 2000.0
  private val K = 10

  private def build(prefix: String, cfg: IndexBuilder.Config): String = {
    val d = TestSpark.tmpDir(prefix)
    IndexBuilder.build(spark, Transcripts.synth(spark, 3000, 7).toDF(), d, cfg)
    d
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
    * one shuffle-free job when warm, and every hit's identity resolved. */
  private def assertServes(s: Searcher, dir: String): Unit = {
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
  }

  test("single-query modes: one job each, exhaustive answers, split read partitions") {
    val d = build("sjsplit", IndexBuilder.Config(shards = 8))
    val s = new Searcher(spark, d)
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try {
      assert(!s.colocated, "1k splits must make the relational read split postings files")
      assertServes(s, d)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("single-query modes: one job each, exhaustive answers, dictRanges = 2") {
    val d = build("sjranged", IndexBuilder.Config(shards = 8, dictRanges = 2))
    assertServes(new Searcher(spark, d), d)
  }

  test("single-query modes: one job each, exhaustive answers, base + delta segment") {
    val all = Transcripts.synth(spark, 3000, 7).toDF()
    val d = TestSpark.tmpDir("sjdelta")
    IndexBuilder.build(spark, all.filter(pmod(hash($"conv_id"), lit(3)) =!= 0), d,
      IndexBuilder.Config(shards = 4))
    IndexBuilder.append(spark, all.filter(pmod(hash($"conv_id"), lit(3)) === 0), d,
      IndexBuilder.Config(shards = 4))
    IndexBuilder.refresh(spark, d)
    assert(new java.io.File(s"$d/postings_seg_1").exists())
    assertServes(new Searcher(spark, d), d)
  }

  test("a second cached Searcher over the same generation serves the same hits") {
    // the first one's cached tables must not hide the files the second lists
    val d = build("sjcached", IndexBuilder.Config(shards = 4))
    val first = new Searcher(spark, d, cacheTables = true)
    val want = rows(first.topK(Queries.head, K))
    first.postingsView.count() // materialize the first searcher's cache
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
