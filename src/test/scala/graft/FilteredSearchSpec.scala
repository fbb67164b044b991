package graft

import graft.build.IndexBuilder
import graft.model.Facets
import graft.query.Searcher
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Faceted (metadata-filtered) top-k: filters are facet posting lists
  * intersected by the kernel — semantics pinned against a brute-force
  * filter of the exhaustive scorer. */
class FilteredSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Query = "machine learning relevance"

  /** Synth corpus indexed once with role/tool facets. */
  private lazy val (dir, searcher, turnsDF) = {
    val d = TestSpark.tmpDir("facidx")
    val turns = Transcripts.synth(spark, 3000, turnsPerConv = 10).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IndexBuilder.build(spark, turns, d,
      IndexBuilder.Config(shards = 4, facetCols = Seq("role", "tool")))
    (d, new Searcher(spark, d, graft.query.Bm25.RefDefaults), turns)
  }

  /** Brute force: exhaustive scores joined back to the source rows, filter
    * applied on the raw metadata columns. */
  private def expected(facets: Map[String, String], k: Int): Seq[(String, Int, Double)] = {
    val cond = facets.map { case (c, v) => col(c) === v }.reduce(_ && _)
    searcher.scoreAll(Query)
      .join(turnsDF.filter(cond).select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"))
      .select("conv_id", "turn_idx", "score")
      .as[(String, Int, Double)].collect()
      .sortBy { case (c, t, s) => (-s, c, t) } // docId order == (conv hash…) — use score+id
      .take(k)
  }

  private def got(facets: Map[String, String], k: Int): Array[(String, Int, Double)] =
    searcher.topKFiltered(Query, facets, k)
      .select("conv_id", "turn_idx", "score").as[(String, Int, Double)].collect()

  test("single-facet filtered top-k matches brute-force filter of exhaustive scores") {
    for (facets <- Seq(Map("role" -> "user"), Map("role" -> "tool"),
                       Map("tool" -> "browser"))) {
      val g = got(facets, 15)
      val e = expected(facets, 15)
      assert(g.length == e.length, s"$facets: ${g.length} vs ${e.length}")
      // score multiset must match (docId tie order differs from (conv,turn)
      // sort only on exact ties, which the score comparison still pins)
      g.map(_._3).zip(e.map(_._3)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"$facets: score $a vs $b")
      }
      // every returned doc must actually satisfy the filter
      val cond = facets.map { case (c, v) => col(c) === v }.reduce(_ && _)
      val legal = turnsDF.filter(cond).select("conv_id", "turn_idx")
        .as[(String, Int)].collect().toSet
      g.foreach { case (c, t, _) => assert(legal((c, t)), s"$facets: ($c,$t) fails filter") }
    }
  }

  test("multi-facet AND semantics") {
    val facets = Map("role" -> "assistant", "tool" -> "search")
    val g = got(facets, 10)
    val e = expected(facets, 10)
    assert(g.length == e.length)
    g.map(_._3).zip(e.map(_._3)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    assert(g.nonEmpty, "fixture should produce assistant+search hits")
  }

  test("unknown facet value yields empty; empty facet map delegates to topK") {
    assert(got(Map("role" -> "nonexistent"), 10).isEmpty)
    val plain = searcher.topK(Query, 10)
      .select("conv_id", "turn_idx", "score").as[(String, Int, Double)].collect()
    val viaFiltered = searcher.topKFiltered(Query, Map.empty, 10)
      .select("conv_id", "turn_idx", "score").as[(String, Int, Double)].collect()
    assert(plain.toSeq == viaFiltered.toSeq)
  }

  test("facet terms: tf=1, excluded from doc length, prefix-disjoint from tokens") {
    val analyzed = spark.read.parquet(s"$dir/analyzed")
    val row = analyzed.select("terms", "tfs", "len").head()
    val terms = row.getSeq[String](0)
    val tfs = row.getSeq[Int](1)
    val fIdx = terms.indices.filter(i => Facets.isFacet(terms(i)))
    assert(fIdx.nonEmpty, "facet terms present in analyzed rows")
    fIdx.foreach(i => assert(tfs(i) == 1))
    // len counts only analyzer tokens (facets excluded): sum of real tfs
    val realSum = terms.indices.filterNot(i => Facets.isFacet(terms(i))).map(tfs(_)).sum
    assert(row.getInt(2) == realSum)
    // facet count never exceeds the configured columns
    assert(fIdx.size <= 2)
  }

  test("filtered hits resolve in the kernel task (one postings-only job, no join)") {
    searcher.topKFiltered(Query, Map("role" -> "user"), 10) // warm
    val r = PlanProbe.ran(spark)(searcher.topKFiltered(Query, Map("role" -> "user"), 10))
    assert(r.jobs == 1, s"warm filtered top-k ran ${r.jobs} jobs")
    PlanProbe.jobViolation(r).foreach(why => fail(s"filtered top-k $why"))
  }

  test("facetCounts matches a brute-force count of matching docs per value") {
    val matches = searcher.scoreAll(Query).select("conv_id", "turn_idx")
    for (fcol <- Seq("role", "tool")) {
      val e = matches
        .join(turnsDF.select("conv_id", "turn_idx", fcol), Seq("conv_id", "turn_idx"))
        .filter(col(fcol) =!= "") // empty tool facets exist but count as a real value
        .groupBy(fcol).agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().sortBy { case (v, c) => (-c, v) }.take(5)
      val g = searcher.facetCounts(Query, fcol, 10)
        .as[(String, Long)].collect().filter(_._1.nonEmpty).take(5)
      assert(g.toSeq == e.toSeq, s"$fcol: ${g.toSeq} vs ${e.toSeq}")
      assert(g.nonEmpty)
      val gm = searcher.facetCountsMulti(Query, Seq(fcol), 10).select("value", "cnt")
        .as[(String, Long)].collect().filter(_._1.nonEmpty).take(5)
      assert(gm.toSeq == e.toSeq, s"$fcol (multi): ${gm.toSeq} vs ${e.toSeq}")
    }
  }

  test("facet values with spaces survive the postings shuffle key") {
    val d = TestSpark.tmpDir("facsp")
    val turns = Seq(
      ("c0", 0, "alpha beta gamma", "source with spaces"),
      ("c1", 0, "alpha delta", "source with spaces"),
      ("c2", 0, "alpha beta", "plain")
    ).toDF("conv_id", "turn_idx", "text", "origin")
      .withColumn("role", lit("user")).withColumn("tool", lit(""))
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    IndexBuilder.build(spark, turns, d,
      IndexBuilder.Config(shards = 2, facetCols = Seq("origin")))
    val s = new Searcher(spark, d, graft.query.Bm25.RefDefaults)
    val hits = s.topKFiltered("alpha beta", Map("origin" -> "source with spaces"), 10)
      .select("conv_id").as[String].collect().toSet
    assert(hits == Set("c0", "c1"))
    // and the roundtrip of the facet posting list is intact
    import graft.model.Posting
    val facetPostings = spark.read.parquet(s"$d/postings").as[Posting]
      .collect().filter(p => Facets.isFacet(p.term))
    assert(facetPostings.map(_.term).toSet ==
      Set(Facets.term("origin", "source with spaces"), Facets.term("origin", "plain")))
    assert(facetPostings.map(_.count).sum == 3)
  }

  test("facetCountsRange buckets numeric facet values; empty buckets emit 0") {
    val d = TestSpark.tmpDir("facrange")
    val turns = Seq(
      ("c0", 0, "alpha beta gamma", 10L),
      ("c1", 0, "alpha delta", 25L),
      ("c2", 0, "alpha beta", 25L),
      ("c3", 0, "beta epsilon", 99L),
      ("c4", 0, "zeta eta", 10L) // no query term: must not be counted
    ).toDF("conv_id", "turn_idx", "text", "nlen")
      .withColumn("role", lit("user")).withColumn("tool", lit(""))
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    IndexBuilder.build(spark, turns, d,
      IndexBuilder.Config(shards = 2, facetCols = Seq("nlen")))
    val s = new Searcher(spark, d, graft.query.Bm25.RefDefaults)
    // match set for "alpha beta" = c0..c3; buckets [0,20) [20,50) [50,60) [60,100)
    val got = s.facetCountsRange("alpha beta", "nlen", Seq(0L, 20L, 50L, 60L, 100L))
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0, 0L, 20L, 1L), (1, 20L, 50L, 2L), (2, 50L, 60L, 0L),
      (3, 60L, 100L, 1L)))
  }
}
