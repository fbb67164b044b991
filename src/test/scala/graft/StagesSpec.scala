package graft

import graft.analysis.StopWords
import graft.query.{Bm25, Cascade, LmStage, TwoPass}
import graft.ref.OracleBm25
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** O6 two-pass scoring, O13 cascade metrics, O15/O16 LM-stage contracts
  * (ported from the reference's LMRanker + pipeline tests). */
class StagesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDF(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("O6: two-pass scoring matches the oracle without any prebuilt index") {
    val df = docsDF(Transcripts.F3)
    val got = TwoPass.scoreTwoPass(spark, df, "id", "text", "quick brown fox")
      .as[(Long, Double)].collect().toMap
    val oracle = OracleBm25.scoreAll("quick brown fox", Transcripts.F3, StopWords.english)
      .filter(_._2 > 0).toMap
    assert(got.keySet == oracle.keySet.map(_.toLong))
    oracle.foreach { case (i, s) =>
      assert(math.abs(got(i.toLong) - s) < 1e-12 * math.max(1.0, s))
    }
    // empty query → every doc exactly 0 (reference contract)
    val zeros = TwoPass.scoreTwoPass(spark, df, "id", "text", "")
      .as[(Long, Double)].collect()
    assert(zeros.length == Transcripts.F3.size && zeros.forall(_._2 == 0.0))
  }

  test("O15: LM stage clamps to [0,1] (LMRanker.cs:246)") {
    val long = docsDF(Seq(Seq.fill(300)("spark").mkString(" ")))
    val s = LmStage.score(long, "id", "text", "spark", LmStage.mockScorer())
      .as[(Long, Double)].collect().head._2
    assert(s == 1.0) // overlap 1.0 + 300/200 = 2.5 → clamped
  }

  test("O15: empty query and empty doc score 0 (LMRanker.cs:90-97)") {
    val df = docsDF(Seq("some text", "", "   "))
    val s1 = LmStage.score(df, "id", "text", "", LmStage.mockScorer())
      .as[(Long, Double)].collect()
    assert(s1.forall(_._2 == 0.0))
    val s2 = LmStage.score(df, "id", "text", "some", LmStage.mockScorer())
      .orderBy("id").as[(Long, Double)].collect()
    assert(s2(0)._2 > 0.0 && s2(1)._2 == 0.0 && s2(2)._2 == 0.0)
  }

  test("O15: scorer error → 0, never fails (LMRanker.cs:256-267)") {
    val df = docsDF(Seq("fast query", "slow query dies here"))
    val s = LmStage.score(df, "id", "text", "query", LmStage.mockScorer())
      .orderBy("id").as[(Long, Double)].collect()
    assert(s(0)._2 > 0.0 && s(1)._2 == 0.0)
    val thrown = LmStage.score(df, "id", "text", "query",
      (_, _) => throw new RuntimeException("model unavailable")).as[(Long, Double)].collect()
    assert(thrown.map(_._2).toSeq == Seq(0.0, 0.0))
    // a JVM linkage failure is not a model error: the query fails
    intercept[LinkageError] {
      LmStage.score(df, "id", "text", "query",
        (_, _) => throw new LinkageError("scorer class unusable")).collect()
    }
  }

  test("O13: cascade metrics report per-stage lineage; cuts respect TopK/TopM/threshold") {
    val df = docsDF(Transcripts.F3).withColumn("len", lit(10))
      .withColumnRenamed("id", "doc_id")
    val stage: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      d => d.withColumn("score", col("doc_id").cast("double") / 10.0)
    val (out, ms) = Cascade.runWithMetrics(df, Seq(stage, stage),
      Cascade.Config(topK = 4, topM = 2, threshold = 0.35), "doc_id")
    // scores 0.0..0.9; ≥0.35 → docs 4..9 (6), topK=4 keeps 9,8,7,6
    assert(ms(0).nIn == 10 && ms(0).nThreshold == 6 && ms(0).nOut == 4)
    assert(ms(1).nIn == 4 && ms(1).nThreshold == 4 && ms(1).nOut == 2)
    val res = out.select("doc_id").as[Long].collect().toSet
    assert(res == Set(9L, 8L))
    // reference config defaults: TopK=20, TopM=5, threshold=0
    assert(Cascade.Config() == Cascade.Config(20, 5, 0.0))
  }

  test("batched LM adapter: batching, retry, clamp, empty→0, exhausted→0") {
    val texts = Seq("alpha spark", "", "spark spark spark", "flaky doc", "plain words")
    val df = docsDF(texts).coalesce(1)
    // scorer: fails the FIRST attempt of any batch containing 'flaky'
    // (per-partition state — models a transient API error), returns
    // overlap*3 (exercises the clamp)
    var failedOnce = false
    val scorer: Seq[(String, String)] => Seq[Double] = { batch =>
      if (!failedOnce && batch.exists(_._2.contains("flaky"))) {
        failedOnce = true; throw new RuntimeException("transient")
      }
      batch.map { case (q, t) =>
        graft.analysis.Analyzer.tokenizeRaw(t).count(_ == q) * 3.0
      }
    }
    val out = LmStage.scoreBatched(df, "id", "text", "spark", scorer, batchSize = 2)
      .orderBy("id").as[(Long, Double)].collect()
    assert(out(0)._2 == 1.0, "clamped to 1.0")      // 1 overlap * 3 → clamp
    assert(out(1)._2 == 0.0, "empty doc → 0 without model call")
    assert(out(2)._2 == 1.0)
    assert(out(3)._2 == 0.0 && out(4)._2 == 0.0)    // retry succeeded, no overlap
    // empty query: zero everywhere, scorer never called
    val out2 = LmStage.scoreBatched(df, "id", "text", " ",
      (_: Seq[(String, String)]) => throw new RuntimeException("must not be called"))
      .as[(Long, Double)].collect()
    assert(out2.forall(_._2 == 0.0))
    // exhausted retries → whole batch 0, never a failure
    val out3 = LmStage.scoreBatched(df, "id", "text", "spark",
      (_: Seq[(String, String)]) => throw new RuntimeException("down"), maxRetries = 1)
      .as[(Long, Double)].collect()
    assert(out3.forall(_._2 == 0.0))
  }

  test("BM25→LM named pipeline: BM25 cuts to topK, LM emits topM") {
    val df = docsDF(Transcripts.F3)
    val out = graft.query.Bm25ThenLm.run(spark, df, "id", "text",
        "quick brown fox", LmStage.mockScorer(),
        Cascade.Config(topK = 4, topM = 2, threshold = 0.0))
      .select("id", "score").as[(Long, Double)].collect()
    assert(out.length == 2)
    // LM mock favors overlap ratio: the all-terms docs 4 and 0 must win
    assert(out.map(_._1).toSet == Set(4L, 0L))
    assert(out.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
  }

  test("normalizer hook: suffix-stripper threads through build + query") {
    val strip: graft.analysis.Analyzer.Norm =
      t => if (t.length > 3 && t.endsWith("s")) t.dropRight(1) else t
    val texts = Seq("spark jobs run fast", "many sparks fly upward", "unrelated words here")
    val dir = TestSpark.tmpDir("idxnorm")
    graft.build.IndexBuilder.build(spark,
      Transcripts.fixture(spark, "c0", texts).toDF(), dir,
      graft.build.IndexBuilder.Config(shards = 2, normalizer = strip))
    val s = new graft.query.Searcher(spark, dir, normalizer = strip)
    // query 'sparks' normalizes to 'spark' and matches BOTH docs
    val hits = s.topK("sparks", 10).select("turn_idx").as[Int].collect().toSet
    assert(hits == Set(0, 1), s"got $hits")
    // rank-identity with an identity-normalizer index over pre-normalized text
    val preNorm = texts.map(t => graft.analysis.Analyzer.tokenizeRaw(t).map(strip).mkString(" "))
    val dir2 = TestSpark.tmpDir("idxnorm2")
    graft.build.IndexBuilder.build(spark,
      Transcripts.fixture(spark, "c0", preNorm).toDF(), dir2,
      graft.build.IndexBuilder.Config(shards = 2))
    val s2 = new graft.query.Searcher(spark, dir2)
    val a = s.topK("sparks", 10).select("turn_idx", "score").as[(Int, Double)].collect().toSeq
    val b = s2.topK("spark", 10).select("turn_idx", "score").as[(Int, Double)].collect().toSeq
    assert(a == b)
  }
}
