package graft

import graft.build.{IndexBuilder, Manifests}
import graft.query.Searcher
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tombstone deletes: IndexBuilder.delete commits a new generation whose
  * QUERY SEMANTICS are identical to a one-shot build over the surviving
  * docs (stats, df, every BM25 score) without touching the immutable
  * postings — Lucene's delete model on the segment index. Compact reclaims
  * the space physically; snapshot reads before the delete still see the
  * doomed docs. */
class DeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Queries =
    Seq("quick brown fox", "tok0", "machine learning datasets", "tok0 rare1000")

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
    val ta = a.topK(q, k).select("conv_id", "turn_idx").as[(String, Int)].collect().toSeq
    val tb = b.topK(q, k).select("conv_id", "turn_idx").as[(String, Int)].collect().toSeq
    assert(ta.nonEmpty, s"top-$k unexpectedly empty for '$q'")
    assert(ta == tb, s"top-$k differs for '$q': $ta vs $tb")
  }

  test("delete ≡ one-shot rebuild without the deleted docs (scores, stats, df)") {
    val all = Transcripts.synth(spark, 4000, turnsPerConv = 9).toDF()
    val doomedPred = pmod(hash($"conv_id"), lit(5)) === 0
    val survivors = all.filter(!doomedPred)
    assert(survivors.count() < all.count())

    val refDir = TestSpark.tmpDir("delref")
    IndexBuilder.build(spark, survivors, refDir, IndexBuilder.Config(shards = 8))

    val delDir = TestSpark.tmpDir("delidx")
    IndexBuilder.build(spark, all, delDir, IndexBuilder.Config(shards = 8))
    val dn = IndexBuilder.delete(spark, delDir, doomedPred)
    assert(dn == all.count() - survivors.count(), s"tombstoned $dn")
    assert(IndexBuilder.committedGen(delDir) == 1L)

    // stats decremented exactly
    val rs = spark.read.parquet(s"$refDir/stats").head()
    val ds = spark.read.parquet(IndexBuilder.statsPath(delDir)).head()
    assert(ds.getAs[Long]("n") == rs.getAs[Long]("n"))
    assert(math.abs(ds.getAs[Double]("avgdl") - rs.getAs[Double]("avgdl")) < 1e-9)

    // df identical as a set (df=0 terms dropped, like a rebuild never has them)
    val dfRef = spark.read.parquet(s"$refDir/df")
    val dfDel = spark.read.parquet(IndexBuilder.dfPath(delDir))
    assert(dfRef.except(dfDel).count() == 0 && dfDel.except(dfRef).count() == 0)

    val sRef = new Searcher(spark, refDir)
    val sDel = new Searcher(spark, delDir)
    Queries.foreach { q =>
      assertSameScores(sRef, sDel, q)
      assertSameTopK(sRef, sDel, q, 15)
    }
    RefreshSpec.assertHitIdentities(spark, sDel, delDir, Queries)
    // Dirichlet too never ranks a deleted doc (the three-doc fixture below
    // cannot show it: there every doc's Dirichlet score clamps to 0)
    val doomedConvs = all.filter(doomedPred).select($"conv_id").distinct()
    Queries.foreach { q =>
      val lm = sDel.topKDirichlet(q, 2000.0, 15)
      assert(lm.count() > 0, s"no Dirichlet hits for '$q'")
      assert(lm.join(doomedConvs, "conv_id").count() == 0, s"deleted doc ranked for '$q'")
    }
  }

  test("every query mode hides a tombstoned doc; snapshot before the delete sees it") {
    val dir = TestSpark.tmpDir("delmodes")
    IndexBuilder.build(spark,
      Transcripts.fixture(spark, "cD", Seq(
        "zzdel shared target term here",     // turn 0 — doomed
        "zzdel shared other document text",  // turn 1 — survives
        "plain filler without the marker")).toDF(),
      dir, IndexBuilder.Config(shards = 2))
    val dn = IndexBuilder.delete(spark, dir, $"turn_idx" === 0)
    assert(dn == 1L)

    val s = new Searcher(spark, dir)
    assert(s.n == 2L)
    // WAND, AND-mode, exhaustive, batch, matchAll, relational scoreAll
    assert(s.topK("zzdel shared", 10).filter($"turn_idx" === 0).count() == 0)
    assert(s.topK("zzdel shared", 10).count() == 1)
    assert(s.topKAnd("zzdel shared", 10).count() == 1)
    assert(s.topK("zzdel shared", 10, exhaustiveKernel = true).count() == 1)
    assert(s.topKBatch(Map("q" -> "zzdel"), 10).filter($"turn_idx" === 0).count() == 0)
    assert(s.matchAllDocs("zzdel shared").count() == 1)
    assert(s.scoreAll("zzdel").filter($"turn_idx" === 0).count() == 0)
    assert(s.scoreAll("", keepZeros = true).count() == 2)
    // MUST_NOT composes with tombstones (term exclusion + tombstone cursor)
    assert(s.topKNot("shared", "filler", 10).count() == 1)
    // TF-IDF, dis-max, synonyms, boosts, msm, paging, boolean, all matches
    assert(s.topKTfIdf("zzdel shared", 10).count() == 1)
    assert(s.topKDisMax(Seq("zzdel", "shared"), 0.3, 10).count() == 1)
    assert(s.topKSynonyms("zzdel", Map("zzdel" -> Seq("shared")), 10).count() == 1)
    assert(s.topKBoosted("zzdel shared", Map("shared" -> 2.0), 10).count() == 1)
    assert(s.topKMsm("zzdel shared", 2, 10).count() == 1)
    assert(s.topKAfter("zzdel shared", 10, 100.0).count() == 1)
    assert(s.search("zzdel", "shared", "filler", 10).count() == 1)
    assert(s.scoreMatches("zzdel shared").count() == 1)
    // the live (term, docId, tf) postings the combined-fields fold reads
    val live = s.postingTfs(Seq("zzdel", "shared")).as[(String, Long, Long)].collect()
    assert(live.map(_._1).sorted.toSeq == Seq("shared", "zzdel") &&
      live.map(_._2).distinct.length == 1 && live.forall(_._3 == 1L))

    // the pre-delete snapshot still serves the doomed doc with gen-0 stats
    val snap = new Searcher(spark, dir, asOfGen = 0L)
    assert(snap.n == 3L)
    assert(snap.topK("zzdel shared", 10).count() == 2)
    assert(snap.postingTfs(Seq("zzdel")).count() == 2)
  }

  test("positional sidecar hides tombstoned docs (phrase + span)") {
    val dir = TestSpark.tmpDir("delpos")
    IndexBuilder.build(spark,
      Transcripts.fixture(spark, "cP", Seq(
        "zzph alpha beta gamma tail",   // turn 0 — doomed
        "zzph alpha beta gamma other",  // turn 1 — survives
        "unrelated filler text")).toDF(),
      dir, IndexBuilder.Config(shards = 2))
    graft.build.PositionIndex.build(spark,
      Transcripts.fixture(spark, "cP", Seq(
        "zzph alpha beta gamma tail",
        "zzph alpha beta gamma other",
        "unrelated filler text")).toDF(), dir)
    val ps0 = new graft.query.PosSearcher(spark, dir)
    assert(ps0.matchDocs(Seq("alpha", "beta", "gamma")).count() == 2)

    assert(IndexBuilder.delete(spark, dir, $"turn_idx" === 0) == 1L)
    // a NEW PosSearcher (generation pinned at construction) hides the doc
    val ps = new graft.query.PosSearcher(spark, dir)
    assert(ps.matchDocs(Seq("alpha", "beta", "gamma")).count() == 1)
    assert(ps.spanDocs(Seq("zzph", "gamma"), 5).count() == 1)
    assert(ps0.phraseSlopDocs(Seq("zzph", "gamma"), 2).count() == 2)
    assert(ps.phraseSlopDocs(Seq("zzph", "gamma"), 2).count() == 1)
  }

  test("facet panels hide tombstoned docs (facetCounts + facetCountsMulti)") {
    val dir = TestSpark.tmpDir("delfacet")
    val turns = Seq(
      ("c0", 0, "zzfac alpha", "web"),   // doomed
      ("c1", 0, "zzfac beta", "web"),
      ("c2", 0, "zzfac gamma", "mail"),
      ("c3", 0, "unrelated filler", "web")
    ).toDF("conv_id", "turn_idx", "text", "origin")
      .withColumn("role", lit("user")).withColumn("tool", lit(""))
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    IndexBuilder.build(spark, turns, dir,
      IndexBuilder.Config(shards = 2, facetCols = Seq("origin")))
    def panels(s: Searcher, q: String): (Seq[(String, Long)], Seq[(String, String, Long)]) = (
      s.facetCounts(q, "origin", 10).as[(String, Long)].collect().toSeq,
      s.facetCountsMulti(q, Seq("origin"), 10).as[(String, String, Long)].collect().toSeq)
    assert(panels(new Searcher(spark, dir), "zzfac") ==
      (Seq("web" -> 2L, "mail" -> 1L), Seq(("origin", "web", 2L), ("origin", "mail", 1L))))

    assert(IndexBuilder.delete(spark, dir, $"conv_id" === "c0") == 1L)
    val s = new Searcher(spark, dir)
    assert(panels(s, "zzfac") ==
      (Seq("mail" -> 1L, "web" -> 1L), Seq(("origin", "mail", 1L), ("origin", "web", 1L))))
    // the deleted doc was alpha's only match: both panels come back empty
    assert(panels(s, "alpha") == ((Nil, Nil)))
  }

  test("second delete accumulates; empty delete commits nothing") {
    val dir = TestSpark.tmpDir("delacc")
    IndexBuilder.build(spark,
      Transcripts.fixture(spark, "cA", Seq(
        "zzacc one", "zzacc two", "zzacc three")).toDF(),
      dir, IndexBuilder.Config(shards = 2))
    assert(IndexBuilder.delete(spark, dir, $"turn_idx" === 0) == 1L)
    assert(IndexBuilder.committedGen(dir) == 1L)
    // same predicate again: already tombstoned → no-op, no new generation
    assert(IndexBuilder.delete(spark, dir, $"turn_idx" === 0) == 0L)
    assert(IndexBuilder.committedGen(dir) == 1L)
    // a second, different delete accumulates
    assert(IndexBuilder.delete(spark, dir, $"turn_idx" === 1) == 1L)
    assert(IndexBuilder.committedGen(dir) == 2L)
    val s = new Searcher(spark, dir)
    assert(s.n == 1L)
    assert(s.topK("zzacc", 10).select("turn_idx").as[Int].collect().toSeq == Seq(2))
  }

  test("compact physically drops tombstoned docs; results unchanged") {
    val all = Transcripts.synth(spark, 1500, turnsPerConv = 5).toDF()
    val dir = TestSpark.tmpDir("delcompact")
    IndexBuilder.build(spark, all, dir, IndexBuilder.Config(shards = 4))
    val dn = IndexBuilder.delete(spark, dir, pmod(hash($"conv_id"), lit(4)) === 0)
    assert(dn > 0)
    val before = new Searcher(spark, dir).topK("tok0", 10)
      .select("conv_id", "turn_idx", "score").collect().toSeq

    IndexBuilder.compact(spark, dir)
    val sC = new Searcher(spark, dir)
    val after = sC.topK("tok0", 10)
      .select("conv_id", "turn_idx", "score").collect().toSeq
    assert(before == after)
    // doomed docs are physically out of the rebuilt postings: decode every
    // base posting list and intersect with the tombstone set
    val doomedIds = spark.read.parquet(
        IndexBuilder.tombstonePathAsOf(dir, IndexBuilder.committedGen(dir)).get)
      .select("docId").as[Long].collect().toSet
    assert(doomedIds.nonEmpty)
    val leaked = spark.read.parquet(s"$dir/postings")
      .as[graft.model.Posting].collect()
      .flatMap(p => graft.codec.Postings.decode(p)._1)
      .count(doomedIds.contains)
    assert(leaked == 0, s"$leaked tombstoned postings survived compact")
  }

  test("vacuum purges analyzed rows, retires tombstones, results unchanged") {
    val all = Transcripts.synth(spark, 1500, turnsPerConv = 5).toDF()
    val dir = TestSpark.tmpDir("delvacuum")
    IndexBuilder.build(spark, all, dir, IndexBuilder.Config(shards = 4))
    val dn = IndexBuilder.delete(spark, dir, pmod(hash($"conv_id"), lit(4)) === 1)
    assert(dn > 0)
    val sBefore = new Searcher(spark, dir)
    val nBefore = sBefore.n
    val before = sBefore.topK("tok0", 10)
      .select("conv_id", "turn_idx", "score").collect().toSeq

    IndexBuilder.vacuum(spark, dir)
    // tombstones fully retired: no table, no manifest, no exclusion path
    assert(IndexBuilder.tombstonePathAsOf(dir, IndexBuilder.committedGen(dir)).isEmpty)
    // analyzed physically holds survivors only (docIds unchanged)
    assert(spark.read.parquet(s"$dir/analyzed").count() == nBefore)
    val sAfter = new Searcher(spark, dir)
    assert(sAfter.n == nBefore)
    assert(sAfter.topK("tok0", 10)
      .select("conv_id", "turn_idx", "score").collect().toSeq == before)
    // lifecycle continues cleanly after a vacuum: append + refresh works
    IndexBuilder.append(spark,
      Transcripts.fixture(spark, "cPOSTVAC", Seq("tok0 after the vacuum")).toDF(),
      dir, IndexBuilder.Config(shards = 4))
    IndexBuilder.refresh(spark, dir)
    val s2 = new Searcher(spark, dir)
    assert(s2.n == nBefore + 1)
    assert(s2.topK("vacuum", 5).select("conv_id").as[String].collect().contains("cPOSTVAC"))
  }

  test("vacuum that crashed between its swap's two renames completes on re-run") {
    val all = Transcripts.synth(spark, 1500, turnsPerConv = 5).toDF()
    val doomedPred = pmod(hash($"conv_id"), lit(4)) === 2
    val refDir = TestSpark.tmpDir("delswap_ref")
    IndexBuilder.build(spark, all.filter(!doomedPred), refDir, IndexBuilder.Config(shards = 4))
    val dir = TestSpark.tmpDir("delswap")
    IndexBuilder.build(spark, all, dir, IndexBuilder.Config(shards = 4))
    assert(IndexBuilder.delete(spark, dir, doomedPred) > 0)
    // the state a crash leaves after vacuum pinned the HWMs, wrote
    // analyzed_tmp/ and moved analyzed/ out of the way: a complete
    // analyzed_tmp/, no analyzed/
    IndexBuilder.compact(spark, dir)
    graft.build.Hwm.write(dir, graft.build.Hwm.read(spark, dir, 4))
    graft.sources.TableIO.write(IndexBuilder.withoutTombstones(
        spark.read.parquet(s"$dir/analyzed"),
        IndexBuilder.tombstonePathAsOf(dir, IndexBuilder.committedGen(dir))),
      s"$dir/analyzed_tmp")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/analyzed"),
      new org.apache.hadoop.fs.Path(s"$dir/analyzed_old"))

    IndexBuilder.vacuum(spark, dir)
    Seq("analyzed_tmp", "analyzed_old", "postings_tmp", "postings_old").foreach(d =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$d")), s"$d left behind"))
    val bad = graft.build.Fsck.run(spark, dir).filterNot(_.ok)
    assert(bad.isEmpty, bad.mkString("; "))
    val sRef = new Searcher(spark, refDir)
    val sVac = new Searcher(spark, dir)
    assert(sVac.n == sRef.n)
    Queries.foreach(q => assertSameTopK(sRef, sVac, q, 15))
  }

  test("delete interoperates with append + refresh") {
    val all = Transcripts.synth(spark, 1200, turnsPerConv = 4).toDF()
    val doomedPred = pmod(hash($"conv_id"), lit(3)) === 0
    val late = Transcripts.fixture(spark, "cLATE",
      Seq("tok0 freshly appended after the delete")).toDF()

    val refDir = TestSpark.tmpDir("delrefresh_ref")
    IndexBuilder.build(spark, all.filter(!doomedPred).unionByName(late), refDir,
      IndexBuilder.Config(shards = 4))

    val dir = TestSpark.tmpDir("delrefresh")
    IndexBuilder.build(spark, all, dir, IndexBuilder.Config(shards = 4))
    assert(IndexBuilder.delete(spark, dir, doomedPred) > 0) // gen 1
    IndexBuilder.append(spark, late, dir, IndexBuilder.Config(shards = 4))
    IndexBuilder.refresh(spark, dir) // gen 2

    val sRef = new Searcher(spark, refDir)
    val sDel = new Searcher(spark, dir)
    assert(sDel.generation == 2L)
    assert(sDel.n == sRef.n)
    Queries.take(2).foreach { q =>
      assertSameScores(sRef, sDel, q)
      assertSameTopK(sRef, sDel, q, 10)
    }
    assert(sDel.topK("freshly appended", 5).select("conv_id").as[String]
      .collect().contains("cLATE"))
  }

  test("a crashed refresh's staged segment is dropped by the next delete") {
    val all = Transcripts.synth(spark, 600, turnsPerConv = 4).toDF()
    val doomedPred = pmod(hash($"conv_id"), lit(3)) === 0
    val late = Transcripts.fixture(spark, "cLATE", Seq("qqlate tok0 appended doc")).toDF()
    val refDir = TestSpark.tmpDir("crashref_ref")
    IndexBuilder.build(spark, all.filter(!doomedPred).unionByName(late), refDir,
      IndexBuilder.Config(shards = 4))

    val dir = TestSpark.tmpDir("crashref")
    IndexBuilder.build(spark, all, dir, IndexBuilder.Config(shards = 4))
    IndexBuilder.append(spark, late, dir, IndexBuilder.Config(shards = 4))
    // the state a refresh leaves when it dies just before its pointer
    // write: postings_seg_1, stats_g1, df_g1 and covers staged
    IndexBuilder.refresh(spark, dir)
    Manifests.clear(dir, "postings_gen")
    assert(IndexBuilder.delete(spark, dir, doomedPred) > 0) // commits gen 1
    IndexBuilder.refresh(spark, dir) // gen 2 covers the late doc once

    val bad = graft.build.Fsck.run(spark, dir).filterNot(_.ok)
    assert(bad.isEmpty, bad.mkString("; "))
    val (sRef, s) = (new Searcher(spark, refDir), new Searcher(spark, dir))
    assert(s.n == sRef.n)
    assert(s.topK("qqlate", 5).count() == 1, "the appended doc is served twice")
    (Queries.take(2) :+ "qqlate").foreach { q =>
      assertSameScores(sRef, s, q)
      assertSameTopK(sRef, s, q, 10)
    }
  }

  test("deleting every document leaves an empty, queryable index") {
    val dir = TestSpark.tmpDir("delall")
    IndexBuilder.build(spark,
      Transcripts.fixture(spark, "cE", Seq("zzgone alpha", "zzgone beta")).toDF(),
      dir, IndexBuilder.Config(shards = 2))
    assert(IndexBuilder.delete(spark, dir, lit(true)) == 2L)
    val s = new Searcher(spark, dir)
    assert(s.n == 0L)
    assert(s.topK("zzgone", 10).count() == 0)
    assert(s.scoreAll("zzgone").count() == 0)
    assert(s.scoreAll("", keepZeros = true).count() == 0)
  }
}
