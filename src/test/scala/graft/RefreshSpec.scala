package graft

import graft.build.{Fsck, Hwm, IndexBuilder, Manifests, Placement}
import graft.query.Searcher
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental index maintenance: append → refresh produces an index whose
  * QUERY SEMANTICS are identical to a one-shot build over the full corpus
  * (stats, df, and every BM25 score match), while only the new rows are
  * analyzed/assembled — the Lucene-segment model re-expressed on Spark. */
class RefreshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Queries =
    Seq("quick brown fox", "tok0", "machine learning datasets", "tok0 rare1000")

  /** max |score delta| between the two searchers' scoreAll over every doc. */
  private def assertSameScores(a: Searcher, b: Searcher, q: String): Unit = {
    val sa = a.scoreAll(q).select($"conv_id", $"turn_idx", $"score".as("sa"))
    val sb = b.scoreAll(q).select($"conv_id", $"turn_idx", $"score".as("sb"))
    val joined = sa.join(sb, Seq("conv_id", "turn_idx"), "full_outer")
    assert(joined.filter($"sa".isNull || $"sb".isNull).count() == 0,
      s"scored doc sets differ for '$q'")
    val maxD = joined.agg(max(abs($"sa" - $"sb"))).as[Double].head()
    assert(maxD <= 1e-9, s"scores diverge by $maxD for '$q'")
  }

  private def assertSameTopK(a: Searcher, b: Searcher, q: String, k: Int): Unit = {
    val ta = a.topK(q, k).select("score").as[Double].collect()
    val tb = b.topK(q, k).select("score").as[Double].collect()
    assert(ta.nonEmpty, s"top-$k unexpectedly empty for '$q' (postings lost?)")
    assert(ta.length == tb.length, s"top-$k sizes differ for '$q'")
    ta.zip(tb).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
        s"top-$k score $x vs $y for '$q'")
    }
  }

  test("append + refresh ≡ one-shot full build (scores, stats, df)") {
    val all = Transcripts.synth(spark, 4000, turnsPerConv = 9).toDF()
    val first = all.filter(pmod(hash($"conv_id"), lit(5)) =!= 0)
    val rest = all.filter(pmod(hash($"conv_id"), lit(5)) === 0)
    assert(rest.count() > 0 && first.count() > 0)

    val fullDir = TestSpark.tmpDir("full")
    IndexBuilder.build(spark, all, fullDir, IndexBuilder.Config(shards = 8))

    val incDir = TestSpark.tmpDir("inc")
    IndexBuilder.build(spark, first, incDir, IndexBuilder.Config(shards = 8))
    IndexBuilder.append(spark, rest, incDir, IndexBuilder.Config(shards = 8))
    IndexBuilder.refresh(spark, incDir)

    // one delta segment, disjoint from base
    assert(new java.io.File(s"$incDir/postings_seg_1").exists())

    // stats advanced exactly
    val fs = spark.read.parquet(s"$fullDir/stats").head()
    val is = spark.read.parquet(IndexBuilder.statsPath(incDir)).head()
    assert(is.getAs[Long]("n") == fs.getAs[Long]("n"))
    assert(math.abs(is.getAs[Double]("avgdl") - fs.getAs[Double]("avgdl")) < 1e-9)

    // df identical as a set
    val dfFull = spark.read.parquet(s"$fullDir/df")
    val dfInc = spark.read.parquet(IndexBuilder.dfPath(incDir))
    assert(dfFull.except(dfInc).count() == 0 && dfInc.except(dfFull).count() == 0)

    val sFull = new Searcher(spark, fullDir)
    val sInc = new Searcher(spark, incDir)
    Queries.foreach { q =>
      assertSameScores(sFull, sInc, q)
      assertSameTopK(sFull, sInc, q, 15)
    }
    RefreshSpec.assertHitIdentities(spark, sInc, incDir, Queries)

    // a term-range-partitioned build splits a shard's postings across
    // files; the shard job reunites them and resolves its hits there
    val rangedDir = TestSpark.tmpDir("ranged")
    IndexBuilder.build(spark, all, rangedDir, IndexBuilder.Config(shards = 8, dictRanges = 2))
    val sRanged = new Searcher(spark, rangedDir)
    assert(spark.read.parquet(s"$rangedDir/postings")
      .select(col("shard"), input_file_name().as("file")).distinct()
      .groupBy("shard").count().where(col("count") > 1).count() > 0,
      "a ranged build must split some shard's postings across files")
    Queries.foreach(q => assertSameTopK(sFull, sRanged, q, 15))
    RefreshSpec.assertHitIdentities(spark, sRanged, rangedDir, Queries)
  }

  test("second refresh adds a second segment; results still match; compact folds them") {
    val all = Transcripts.synth(spark, 3000, turnsPerConv = 7).toDF()
    val p1 = all.filter(pmod(hash($"conv_id"), lit(3)) === 0)
    val p2 = all.filter(pmod(hash($"conv_id"), lit(3)) === 1)
    val p3 = all.filter(pmod(hash($"conv_id"), lit(3)) === 2)

    val fullDir = TestSpark.tmpDir("full2")
    IndexBuilder.build(spark, all, fullDir, IndexBuilder.Config(shards = 4))

    val incDir = TestSpark.tmpDir("inc2")
    IndexBuilder.build(spark, p1, incDir, IndexBuilder.Config(shards = 4))
    IndexBuilder.append(spark, p2, incDir, IndexBuilder.Config(shards = 4))
    IndexBuilder.refresh(spark, incDir)
    IndexBuilder.append(spark, p3, incDir, IndexBuilder.Config(shards = 4))
    IndexBuilder.refresh(spark, incDir)
    assert(new java.io.File(s"$incDir/postings_seg_1").exists())
    assert(new java.io.File(s"$incDir/postings_seg_2").exists())

    val sFull = new Searcher(spark, fullDir)
    Queries.foreach(q => assertSameScores(sFull, new Searcher(spark, incDir), q))
    Queries.foreach(q => assertSameTopK(sFull, new Searcher(spark, incDir), q, 10))

    IndexBuilder.compact(spark, incDir)
    assert(!new java.io.File(s"$incDir/postings_seg_1").exists())
    assert(!new java.io.File(s"$incDir/postings_seg_2").exists())
    val sCompact = new Searcher(spark, incDir)
    Queries.foreach(q => assertSameScores(sFull, sCompact, q))
    // a refresh after compact with nothing new is a no-op
    IndexBuilder.refresh(spark, incDir)
    assert(!new java.io.File(s"$incDir/postings_seg_3").exists())
  }

  test("a term spanning base and delta segments merges: hits from both generations") {
    val dir = TestSpark.tmpDir("xseg")
    IndexBuilder.build(spark,
      Transcripts.fixture(spark, "cBASE",
        Seq("zzmerge alpha shared term", "other base doc entirely")).toDF(),
      dir, IndexBuilder.Config(shards = 1)) // one shard → same kernel group
    IndexBuilder.append(spark,
      Transcripts.fixture(spark, "cDELTA",
        Seq("zzmerge beta shared term zzmerge")).toDF(),
      dir, IndexBuilder.Config(shards = 1))
    IndexBuilder.refresh(spark, dir)
    val s = new Searcher(spark, dir)
    // the single-query shard job and the grouped batch path must both
    // see the merged posting list — one hit from each segment
    val single = s.topK("zzmerge", 10).select("conv_id").as[String].collect().toSet
    assert(single == Set("cBASE", "cDELTA"), s"shard job saw $single")
    val batch = s.topKBatch(Map("q" -> "zzmerge"), 10)
      .select("conv_id").as[String].collect().toSet
    assert(batch == Set("cBASE", "cDELTA"), s"grouped path saw $batch")
    // the delta doc (tf=2) must outscore the base doc (tf=1) — stats/df
    // reflect BOTH segments after refresh
    val top = s.topK("zzmerge", 1).select("conv_id").as[String].head()
    assert(top == "cDELTA")
  }

  test("a zero-term doc above the last posting stays covered: refresh is a no-op") {
    // regression: covers derived from posting blockLast (instead of
    // analyzed ranks) would see a stopword-only TAIL doc as uncovered and
    // the first refresh would double-count it in stats
    val dir = TestSpark.tmpDir("ztail")
    val texts = Seq("alpha beta gamma", "delta epsilon", "the and of a is") // tail = stopword-only
    IndexBuilder.build(spark, Transcripts.fixture(spark, "cZ", texts).toDF(), dir,
      IndexBuilder.Config(shards = 1))
    val n0 = spark.read.parquet(IndexBuilder.statsPath(dir)).head().getAs[Long]("n")
    assert(n0 == 3)
    IndexBuilder.refresh(spark, dir)
    assert(Manifests.read(dir, "postings_gen").isEmpty, "refresh must be a no-op")
    assert(spark.read.parquet(IndexBuilder.statsPath(dir)).head().getAs[Long]("n") == 3)
  }

  test("crashed refresh staging is invisible; the retry commits cleanly") {
    val dir = TestSpark.tmpDir("crash")
    IndexBuilder.build(spark,
      Transcripts.synth(spark, 600, turnsPerConv = 5).toDF(), dir,
      IndexBuilder.Config(shards = 4))
    IndexBuilder.append(spark,
      Transcripts.fixture(spark, "cLATE", Seq("qqcrash unique appended doc")).toDF(),
      dir, IndexBuilder.Config(shards = 4))
    // simulate a refresh that died mid-staging: a half-written segment and
    // stats copy above the committed pointer (gen 0)
    new java.io.File(s"$dir/postings_seg_1").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/postings_seg_1/part-garbage.parquet"), "corrupt")
    new java.io.File(s"$dir/stats_g1").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/stats_g1/part-garbage.parquet"), "corrupt")
    // readers resolve through the pointer → the garbage is unreachable
    val s0 = new Searcher(spark, dir)
    assert(s0.topK("tok0", 5).count() == 5)
    assert(s0.topK("qqcrash", 5).count() == 0) // not yet committed
    // the retried refresh overwrites the staging and commits atomically
    IndexBuilder.refresh(spark, dir)
    assert(Manifests.read(dir, "postings_gen").map(_.rows).contains(1L))
    val s1 = new Searcher(spark, dir)
    assert(s1.topK("qqcrash", 5).select("conv_id").as[String].collect().contains("cLATE"))
  }

  test("a crashed delete's staged tombstones are dropped by the next refresh") {
    val all = Transcripts.synth(spark, 600, turnsPerConv = 5).toDF()
    val late = Transcripts.fixture(spark, "cLATE", Seq("qqlate tok0 appended doc")).toDF()
    val refDir = TestSpark.tmpDir("crashdel_ref")
    IndexBuilder.build(spark, all.unionByName(late), refDir, IndexBuilder.Config(shards = 4))

    val dir = TestSpark.tmpDir("crashdel")
    IndexBuilder.build(spark, all, dir, IndexBuilder.Config(shards = 4))
    // the state a delete leaves when it dies just before its pointer write:
    // tombstones_g1 (table + marker), stats_g1, df_g1 and covers staged
    assert(IndexBuilder.delete(spark, dir, $"turn_idx" === 0) > 0)
    Manifests.clear(dir, "postings_gen")
    IndexBuilder.append(spark, late, dir, IndexBuilder.Config(shards = 4))
    IndexBuilder.refresh(spark, dir)
    assert(IndexBuilder.committedGen(dir) == 1L)

    val bad = Fsck.run(spark, dir).filterNot(_.ok)
    assert(bad.isEmpty, bad.mkString("; "))
    val (sRef, s) = (new Searcher(spark, refDir), new Searcher(spark, dir))
    assert(s.n == sRef.n)
    (Queries :+ "qqlate").foreach { q =>
      assertSameScores(sRef, s, q)
      assertSameTopK(sRef, s, q, 10)
    }
  }

  test("an append that crashed before its HWM write never reuses landed docIds") {
    val cfg = IndexBuilder.Config(shards = 4)
    val dir = TestSpark.tmpDir("crashhwm")
    IndexBuilder.build(spark, Transcripts.synth(spark, 400, turnsPerConv = 4).toDF(), dir, cfg)
    IndexBuilder.append(spark, Transcripts.synth(spark, 40, turnsPerConv = 4).toDF()
      .withColumn("conv_id", concat(lit("a_"), $"conv_id")), dir, cfg) // HWM manifests now exist
    // batch B lands in analyzed/ and the append dies before Hwm.write
    val b = Transcripts.synth(spark, 40, turnsPerConv = 4).toDF()
      .withColumn("conv_id", concat(lit("b_"), $"conv_id"))
    graft.sources.TableIO.write(
      IndexBuilder.analyzedRows(b, Placement(4, 4), cfg.language, cfg.normalizer,
        Hwm.read(spark, dir, 4)),
      s"$dir/analyzed", mode = "append")
    IndexBuilder.append(spark, Transcripts.synth(spark, 40, turnsPerConv = 4).toDF()
      .withColumn("conv_id", concat(lit("c_"), $"conv_id")), dir, cfg)
    IndexBuilder.refresh(spark, dir)

    val analyzed = spark.read.parquet(s"$dir/analyzed")
    assert(analyzed.groupBy("shard", "docId").count().where($"count" > 1).count() == 0,
      "a docId landed twice")
    assert(analyzed.where($"conv_id".startsWith("b_")).count() > 0)
    val bad = Fsck.run(spark, dir).filterNot(_.ok)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("snapshot reads: asOfGen time-travels; expired snapshots fail fast") {
    val dir = TestSpark.tmpDir("asof")
    IndexBuilder.build(spark,
      Transcripts.fixture(spark, "cG0", Seq("zzsnap base document", "plain other text")).toDF(),
      dir, IndexBuilder.Config(shards = 2))
    IndexBuilder.append(spark,
      Transcripts.fixture(spark, "cG1", Seq("zzsnap appended in generation one")).toDF(),
      dir, IndexBuilder.Config(shards = 2))
    IndexBuilder.refresh(spark, dir) // gen 1

    // latest sees both docs; the gen-0 snapshot sees only the base doc —
    // on the WAND path AND the relational paths (scoreAll reads analyzed/)
    val latest = new Searcher(spark, dir)
    assert(latest.generation == 1L)
    assert(latest.topK("zzsnap", 10).select("conv_id").as[String].collect().toSet ==
      Set("cG0", "cG1"))
    val snap0 = new Searcher(spark, dir, asOfGen = 0L)
    assert(snap0.generation == 0L)
    assert(snap0.topK("zzsnap", 10).select("conv_id").as[String].collect().toSet == Set("cG0"))
    RefreshSpec.assertHitIdentities(spark, snap0, dir, Seq("zzsnap", "zzsnap base"))
    assert(snap0.scoreAll("zzsnap").filter($"conv_id" === "cG1").count() == 0)
    assert(snap0.n == 2L && latest.n == 3L) // per-snapshot global stats

    // nonexistent generation fails fast
    intercept[IllegalArgumentException] { new Searcher(spark, dir, asOfGen = 7L) }

    // compact folds the segment into the base → the gen-0 snapshot is
    // collapsed (base now over-covers it) and must refuse to open
    IndexBuilder.compact(spark, dir)
    val postCompact = new Searcher(spark, dir, asOfGen = 1L) // fold point itself: still valid
    assert(postCompact.topK("zzsnap", 10).count() == 2)
    intercept[IllegalArgumentException] { new Searcher(spark, dir, asOfGen = 0L) }
  }

  test("refresh with no new rows is a no-op; append alone leaves queries unchanged") {
    val all = Transcripts.synth(spark, 800, turnsPerConv = 5).toDF()
    val dir = TestSpark.tmpDir("noop")
    IndexBuilder.build(spark, all, dir, IndexBuilder.Config(shards = 4))
    val before = new Searcher(spark, dir).topK("tok0", 5)
      .select("conv_id", "turn_idx", "score").collect().toSeq
    IndexBuilder.refresh(spark, dir)
    assert(Manifests.read(dir, "postings_gen").isEmpty)
    // append new docs but do NOT refresh: search serves the old generation
    IndexBuilder.append(spark,
      Transcripts.fixture(spark, "cNEW", Seq("tok0 tok0 tok0 fresh appended doc")).toDF(),
      dir, IndexBuilder.Config(shards = 4))
    val after = new Searcher(spark, dir).topK("tok0", 5)
      .select("conv_id", "turn_idx", "score").collect().toSeq
    assert(before == after)
    // the RELATIONAL paths must not leak the unrefreshed doc either: it is
    // in analyzed/ but outside the committed coverage
    val sAfter = new Searcher(spark, dir)
    assert(sAfter.scoreAll("tok0").filter($"conv_id" === "cNEW").count() == 0)
    assert(sAfter.scoreAll("", keepZeros = true).filter($"conv_id" === "cNEW").count() == 0)
    // …and refresh makes the appended doc visible
    IndexBuilder.refresh(spark, dir)
    val visible = new Searcher(spark, dir).topK("fresh appended", 5)
      .select("conv_id").as[String].collect()
    assert(visible.contains("cNEW"))
  }
}

object RefreshSpec {
  /** Every hit of topK, topKAnd, topKDirichlet and topKBatch carries the
    * (conv_id, turn_idx) that analyzed/ holds for its docId — the
    * in-task lookup read the right file and returned a real identity. */
  def assertHitIdentities(spark: org.apache.spark.sql.SparkSession, s: Searcher,
                          dir: String, queries: Seq[String], k: Int = 10): Unit = {
    import spark.implicits._
    val meta = Searcher.docMeta(spark, dir).select("docId", "conv_id", "turn_idx")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = s.topKBatch(queries.zipWithIndex.map { case (q, i) => s"q$i" -> q }.toMap, k)
    val answers = ("topKBatch" -> batch) +: queries.flatMap(q => Seq(
      s"topK '$q'" -> s.topK(q, k),
      s"topKAnd '$q'" -> s.topKAnd(q, k),
      s"topKDirichlet '$q'" -> s.topKDirichlet(q, 2000.0, k)))
    var checked = 0
    for ((mode, df) <- answers;
         (docId, conv, turn) <- df.select("docId", "conv_id", "turn_idx").as[(Long, String, Int)].collect()) {
      assert(conv != null, s"$mode: null identity for doc $docId")
      assert(meta.get(docId).contains((conv, turn)),
        s"$mode: doc $docId resolved to ($conv, $turn), analyzed/ has ${meta.get(docId)}")
      checked += 1
    }
    assert(checked > 0, s"no hits to check for $queries")
  }
}
