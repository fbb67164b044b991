package graft

import graft.build.IndexBuilder
import graft.query.Searcher
import graft.sources.Transcripts
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the scale contracts that row-level
  * tests cannot see: pushdown, broadcast joins, distributed top-k. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val dir: String = {
    val d = TestSpark.tmpDir("planidx")
    IndexBuilder.build(spark, Transcripts.synth(spark, 3000, 7).toDF(), d,
      IndexBuilder.Config(shards = 8))
    d
  }

  test("df slice launches no job: a fresh searcher's first topK is one job") {
    val s = new Searcher(spark, dir)
    val terms = Seq("quick", "brown", "zzznope")
    val slice = PlanProbe.ran(spark)(assert(s.dfSlice(terms).keySet == Set("quick", "brown")))
    assert(slice.jobs == 0, s"cold dfSlice ran ${slice.jobs} jobs")
    val table = spark.read.parquet(s"$dir/df").where(
      org.apache.spark.sql.functions.col("term").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s.dfSlice(terms) == table)
    val fresh = new Searcher(spark, dir)
    PlanProbe.jobViolation(PlanProbe.ran(spark)(fresh.topK("quick brown fox", 10)))
      .foreach(why => fail(s"first topK of a fresh searcher $why"))
  }

  test("relational scorer broadcasts the query-term tables") {
    val s = new Searcher(spark, dir)
    val plan = s.scoreAll("quick brown fox").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"), "query-term join must not sort-merge")
  }

  test("relational top-k plans as TakeOrderedAndProject (bounded heaps, no global sort)") {
    val s = new Searcher(spark, dir)
    val plan = s.topKExhaustive("quick brown fox", 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n${plan.take(3000)}")
  }

  /** Runs an eager call twice (the first warms the df/cf memos) and pins
    * the second to the prepared-job contract ([[PlanProbe.jobViolation]]). */
  private def assertOneJob(label: String)(call: => Any): Unit = {
    call
    PlanProbe.jobViolation(PlanProbe.ran(spark)(call)).foreach(why => fail(s"warm $label $why"))
  }

  test("warm topK runs ONE job that scans postings only: hits resolve in the kernel task") {
    // the ≤ k winners get (conv_id, turn_idx) inside the shard task that
    // scored them — no second job, no analyzed scan, no doc-map join
    val s = new Searcher(spark, dir)
    assertOneJob("topK")(s.topK("quick brown fox", 10).collect())
  }

  test("single-query WAND plan is shuffle-free (no Exchange of any kind)") {
    val s = new Searcher(spark, dir)
    assertOneJob("exhaustive topK")(s.topK("quick brown fox", 10, exhaustiveKernel = true))
    assertOneJob("kernelFrame")(s.kernelFrame("quick brown fox", 10).get.collect())
    assertOneJob("topKMsm")(s.topKMsm("quick brown fox", 2, 10))
    assertOneJob("topKAfter")(s.topKAfter("quick brown fox", 10, 5.0))
    assertOneJob("topKBoosted")(s.topKBoosted("quick brown fox", Map("fox" -> 2.0), 10))
  }

  test("tombstone exclusion keeps the WAND plan shuffle-free") {
    // deletes must not change the serving shape: the tombstone set rides
    // the existing broadcast into the shard-job kernel — no Exchange, no
    // join of the corpus appears in the plan
    val d = TestSpark.tmpDir("plandel")
    IndexBuilder.build(spark, Transcripts.synth(spark, 3000, 7).toDF(), d,
      IndexBuilder.Config(shards = 8))
    assert(IndexBuilder.delete(spark, d,
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.col("conv_id")),
        org.apache.spark.sql.functions.lit(7)) === 0) > 0)
    val s = new Searcher(spark, d)
    assertOneJob("tombstoned topK")(s.topK("quick brown fox", 10))
    assertOneJob("tombstoned topKAnd")(s.topKAnd("quick brown fox", 10))
  }

  test("AND-mode, matchAll and boolean plans are shuffle-free too (shard-job kernel)") {
    val s = new Searcher(spark, dir)
    val plan = s.matchAllDocs("quick brown fox").queryExecution.executedPlan.toString
    val shuffles = "(?m)^.*Exchange.*$".r.findAllIn(plan).toList
    assert(shuffles.isEmpty, s"unexpected Exchange(s): $shuffles\nin plan:\n${plan.take(4000)}")
    assertOneJob("topKAnd")(s.topKAnd("quick brown fox", 10))
    assertOneJob("search")(s.search("learning", "retrieval relevance", "streaming", 10))
  }

  test("similarity variants, dis_max and synonyms keep the shuffle-free kernel plan") {
    val s = new Searcher(spark, dir)
    assertOneJob("topKDirichlet")(s.topKDirichlet("quick brown fox", 2000.0, 10))
    assertOneJob("topKTfIdf")(s.topKTfIdf("quick brown fox", 10))
    assertOneJob("topKDisMax")(s.topKDisMax(Seq("quick brown", "learning fox"), 0.3, 10))
    assertOneJob("topKSynonyms")(s.topKSynonyms("quick", Map("quick" -> Seq("fast")), 10))
  }

  test("complete pushes the prefix filter into the df-table scan") {
    val s = new Searcher(spark, dir)
    val plan = s.complete("qu", 10).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("StringStartsWith(term"),
      s"no pushed prefix filter in:\n${plan.take(3000)}")
  }

  test("significantTerms joins broadcast-only (foreground and fg-term counts)") {
    val s = new Searcher(spark, dir)
    val plan = s.significantTerms("quick brown", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      "significant-terms must never sort-merge the corpus")
  }

  test("positional phrase match: no FileScan of positions/, no Exchange") {
    // the kernel reads the query tokens' lists inside its shard job
    // (ShardJobSpec pins what a task reads), not through a table scan
    graft.build.PositionIndex.build(spark, Transcripts.synth(spark, 3000, 7).toDF(), dir)
    val ps = new graft.query.PosSearcher(spark, dir)
    val executed = ps.matchDocs(Seq("the", "quick", "brown")).queryExecution.executedPlan
    val scanned = PlanProbe.scannedPaths(executed)
    assert(!scanned.exists(_.contains("/positions")), s"positions/ scanned: $scanned")
    val plan = executed.toString
    val shuffles = "(?m)^.*Exchange.*$".r.findAllIn(plan).toList
    assert(shuffles.isEmpty, s"unexpected Exchange(s): $shuffles\nin plan:\n${plan.take(4000)}")
  }

  test("doc-metadata reads prune to the selected columns") {
    val plan = Searcher.docMeta(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("terms"),
      s"terms column not pruned from doc-meta scan:\n${plan.take(3000)}")
  }

  test("conf drift: 1k splits change no answer of topK/matchAllDocs/scoreMatches/facetCounts and add no Exchange") {
    // split sizes are mutable session state (IndexBuilder.build lowers
    // maxPartitionBytes on the same session); a kernel that scored each
    // read partition alone would score split shard fragments independently
    val d = TestSpark.tmpDir("plandrift")
    IndexBuilder.build(spark, Transcripts.synth(spark, 3000, 7).toDF(), d,
      IndexBuilder.Config(shards = 8, facetCols = Seq("role", "tool")))
    val s = new Searcher(spark, d)
    val q = "quick brown fox tok0"
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "topK" -> (() => s.topK(q, 10)),
      "matchAllDocs" -> (() => s.matchAllDocs("quick brown")),
      "scoreMatches" -> (() => s.scoreMatches(q)),
      "facetCounts" -> (() => s.facetCounts(q, "role", 10)))
    def answers(): Seq[Seq[String]] = calls.map(_._2().collect().map(_.toString).sorted.toSeq)
    val before = answers()
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      assert(spark.read.parquet(s"$d/postings").rdd.getNumPartitions >
        new java.io.File(s"$d/postings").listFiles().count(_.getName.endsWith(".parquet")),
        "1k splits must split postings files across Dataset read partitions")
      assert(answers() == before, "1k splits changed an answer")
      for ((label, call) <- calls) {
        val r = PlanProbe.ran(spark)(call().collect())
        val exchanges = r.plans.flatMap(PlanProbe.allNodes).filter(_.nodeName.contains("Exchange"))
        assert(r.shuffleBytes == 0L && exchanges.isEmpty,
          s"$label under 1k splits shuffled ${r.shuffleBytes} bytes through $exchanges")
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("topKBatch resolves hits in its shard tasks: at most 2 jobs") {
    // the shard exchange's AQE map stage + the result job, whose per-task
    // resolved hits merge per qid as they arrive
    val s = new Searcher(spark, dir)
    val batch = Map("q1" -> "quick brown fox", "q2" -> "machine learning")
    s.topKBatch(batch, 5).collect() // warm: df slice, file footers
    val r = PlanProbe.ran(spark)(s.topKBatch(batch, 5).collect())
    assert(r.jobs >= 1 && r.jobs <= 2, s"warm topKBatch ran ${r.jobs} jobs")
  }

  test("LSH pair ops generate candidates without any join (bucket-local)") {
    // embedding pairs and MinHash candidate pairs both build pairs INSIDE
    // their hash buckets — the plan must contain no join operator at all
    // (the old band self-join + join-backs computed the same set through
    // 4 shuffles; a reappearing Join here is a scale regression)
    val sf = "/root/testdata/sf0.001"
    val embPlan = graft.ops.VectorOps.similarPairs(spark, sf, 10)
      .queryExecution.executedPlan.toString
    assert(!embPlan.contains("Join"), s"join in similarPairs plan:\n${embPlan.take(3000)}")
    val mhPlan = graft.ops.TextOps.minHashPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!mhPlan.contains("Join"), s"join in minHashPairs plan:\n${mhPlan.take(3000)}")
    val shPlan = graft.ops.TextOps.simHashPairs(spark, sf, 3)
      .queryExecution.executedPlan.toString
    assert(!shPlan.contains("Join"), s"join in simHashPairs plan:\n${shPlan.take(3000)}")
  }

  test("keyword/expansion plans broadcast the doc-bounded tf slice, never sort-merge") {
    // the df table is vocabulary-sized at corpus scale: the tiny per-doc
    // tf slice must come to IT as a broadcast, not force a term-keyed
    // sort-merge shuffle of the dictionary
    val sf = "/root/testdata/sf0.001"
    for (df <- Seq(graft.ops.DocQueries.keywords(spark, sf, 30L, 3),
                   graft.ops.DocQueries.expandTerms(spark, sf, "spark stream window", 10, 10))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n${plan.take(3000)}")
      assert(!plan.contains("SortMergeJoin"),
        s"dictionary-side sort-merge join in:\n${plan.take(3000)}")
    }
  }

  test("group rollup aggregates with a partial (map-side) hash aggregate") {
    // per-group micro-sums must combine map-side before the group shuffle
    val sf = "/root/testdata/sf0.001"
    val plan = graft.ops.DocQueries.groupTopK(spark, sf, "fast query join", "source", 5)
      .queryExecution.executedPlan.toString
    val hashAggs = "(?m)^.*HashAggregate.*$".r.findAllIn(plan).size
    assert(hashAggs >= 2, s"expected partial+final HashAggregate pair in:\n${plan.take(3000)}")
  }

  test("packChunks plans no WindowExec and no corpus-wide single task") {
    // the global running sum must be the two-pass prefix sum, never
    // Spark's one-partition window
    val sf = "/root/testdata/sf0.001"
    val plan = graft.ops.TextOps.packChunks(spark, sf, 64, 48, 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"WindowExec in packChunks plan:\n${plan.take(3000)}")
  }

  test("dedupIncremental broadcasts the new batch; the corpus side never sort-merges") {
    val sf = "/root/testdata/sf0.001"
    val plan = graft.ops.TextOps.dedupIncremental(spark, sf, 10L, 3L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side sort-merge join in:\n${plan.take(3000)}")
  }

  test("nearDupEdit broadcasts the candidate pairs to both text lookups") {
    val sf = "/root/testdata/sf0.001"
    val plan = graft.ops.TextOps.nearDupEdit(spark, sf, 3, 32)
      .queryExecution.executedPlan.toString
    val broadcasts = "(?m)^.*BroadcastHashJoin.*$".r.findAllIn(plan).size
    assert(broadcasts >= 2, s"expected 2 broadcast joins in:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side sort-merge join in:\n${plan.take(3000)}")
  }

  test("chunks is map-side: the only Exchange is the output ordering") {
    val sf = "/root/testdata/sf0.001"
    val plan = graft.ops.TextOps.chunks(spark, sf, 64, 48)
      .queryExecution.executedPlan.toString
    val shuffles = "(?m)^.*Exchange.*$".r.findAllIn(plan).toList
    assert(shuffles.forall(_.contains("rangepartitioning")),
      s"non-sort Exchange in chunks plan: $shuffles")
  }

  test("substrDupSpans: shingle-keyed shuffles + doc-partitioned window, never all-pairs") {
    val sf = "/root/testdata/sf0.001"
    val plan = graft.ops.TextOps.substrDupSpans(spark, sf, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs operator in substrDupSpans plan:\n${plan.take(3000)}")
    // every hash shuffle is on the shingle key or the doc id — nothing
    // shuffles the corpus on a surprise column
    val hashEx = "(?m)^.*Exchange hashpartitioning\\(([a-zA-Z_]+)#.*$".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(hashEx.nonEmpty && hashEx.forall(k => k == "key" || k == "doc_id"),
      s"unexpected shuffle keys $hashEx in:\n${plan.take(3000)}")
    // the span merge is a doc_id-PARTITIONED window (scale-safe), never
    // the unbounded single-partition form
    assert("(?m)Window .*\\[doc_id#".r.findFirstIn(plan).isDefined ||
      "windowspecdefinition\\(doc_id#".r.findFirstIn(plan).isDefined,
      s"window not partitioned by doc_id in:\n${plan.take(3000)}")
  }

  test("percolation is a single stateless pass: no Exchange, no Join") {
    import graft.streaming.Percolator
    val docs = Transcripts.synth(spark, 200, 3).toDF()
      .selectExpr("cast(turn_idx as long) as doc_id", "text")
    val plan = Percolator.percolate(spark, docs,
        Seq(Percolator.Query("p1", "quick fox"), Percolator.Query("p2", "dog", "lazy")))
      .queryExecution.executedPlan.toString
    assert(!"(?m)^.*Exchange.*$".r.findAllIn(plan).hasNext,
      s"percolation must not shuffle:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), "percolation must not join — queries ride a broadcast map")
  }

  test("federated merge is a TakeOrdered over members' in-task resolved hits") {
    val fed = new graft.query.Federated(spark, Seq(dir, dir))
    fed.topK("quick brown fox", 10) // warm: df slices, file footers
    // each member runs its one shard job inside the call
    val r = PlanProbe.ran(spark)(fed.topK("quick brown fox", 10))
    PlanProbe.jobViolation(r, fed.members.size).foreach(why => fail(s"federated members $why"))
    assert(r.jobs == fed.members.size, s"${r.jobs} jobs for ${fed.members.size} members")
    val plan = fed.topK("quick brown fox", 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"no TakeOrdered merge in:\n${plan.take(3000)}")
    assert(!plan.contains("Join") && !plan.contains("FileScan"),
      s"the merge must only read the members' rows:\n${plan.take(3000)}")
  }

  test("asOf: ONE user-keyed shuffle + window sweep — never a quadratic range join") {
    val plan = graft.ops.EventOps.asOf(spark, "/root/testdata/sf0.001", "purchase")
      .queryExecution.executedPlan.toString
    val hashEx = "(?m)^.*Exchange hashpartitioning.*$".r.findAllIn(plan).toList
    assert(hashEx.length == 1, s"want exactly 1 hash Exchange, got: $hashEx")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "as-of must be the window form, not an inequality join")
  }

  test("sessionize: ONE user_id hash shuffle drives both windows and both aggregates") {
    val plan = graft.ops.EventOps.sessionize(spark, "/root/testdata/sf0.001", 360)
      .queryExecution.executedPlan.toString
    val hashEx = "(?m)^.*Exchange hashpartitioning.*$".r.findAllIn(plan).toList
    assert(hashEx.length == 1, s"want exactly 1 hash Exchange, got: $hashEx")
    assert(!plan.contains("SortMergeJoin"), "sessionize must not join")
  }

  // Shuffle budget of the scored-stream subtree these rollups ride on
  // (the scorer's own TF aggregation) — the pins below charge the ops
  // only for shuffles they ADD on top of it.
  private def hashExchanges(df: org.apache.spark.sql.DataFrame): List[String] =
    "(?m)^.*Exchange hashpartitioning.*$".r
      .findAllIn(df.queryExecution.executedPlan.toString).toList

  test("convTopK: conv-keyed shuffle over the kernel match set, bounded final cut") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.ops.DocQueries.convTopK(spark, sf, "fast query join", 3, 5)
    val got = hashExchanges(df)
    assert(got.exists(_.contains("conv_id")), s"no conv-keyed Exchange in: $got")
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "final cut must be a bounded heap")
  }

  test("annIvfIndexed prunes to the probed k= partitions and matches annIvf") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.ops.VectorOps.annIvfIndexed(spark, sf, 0L, 10, 2)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the serving scan is the partitioned vectors table (the centroid read
    // and target point read were driver-side collects before the plan)
    assert(scans.nonEmpty, "no file scan in annIvfIndexed plan")
    val vecScan = scans.find(_.output.exists(_.name == "k"))
      .getOrElse(fail("no scan of the k-partitioned vectors table"))
    assert(vecScan.partitionFilters.nonEmpty,
      "k filter must prune partitions, not filter rows")
    assert(vecScan.selectedPartitions.partitionCount <= 2,
      s"nprobe=2 must read ≤ 2 of ${graft.ops.SimilarityConfig.Default.kmeansK} " +
        s"cluster partitions, read ${vecScan.selectedPartitions.partitionCount}")
    // physical layout changes nothing semantically: identical to the
    // per-query-assignment path
    val a = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = graft.ops.VectorOps.annIvf(spark, sf, 0L, 10, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b, s"indexed IVF diverged from annIvf:\n$a\nvs\n$b")
  }

  test("annIvfPqIndexed prunes BOTH scans (codes + vectors) to probed partitions") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.ops.VectorOps.annIvfPqIndexed(spark, sf, 0L, 10, 2)
    // the broadcast side sits under an AdaptiveSparkPlanExec / QueryStage
    // wrapper whose children are Nil — recurse through the wrappers
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
      }.flatten
    val scans = scansOf(df.queryExecution.executedPlan)
    // identify scans by their data columns: the partition column (kc/k)
    // is consumed by the pruning and absent from the scan output
    val codesScan = scans.find(_.output.exists(_.name == "codes"))
      .getOrElse(fail("no scan of the kc-partitioned codes table"))
    val vecScan = scans.find(_.output.exists(_.name == "e"))
      .getOrElse(fail("no scan of the k-partitioned vectors table"))
    for ((scan, label) <- Seq((codesScan, "codes"), (vecScan, "vectors"))) {
      assert(scan.partitionFilters.nonEmpty,
        s"$label: probe filter must prune partitions, not filter rows")
      assert(scan.selectedPartitions.partitionCount <= 2,
        s"$label: nprobe=2 must read ≤ 2 cluster partitions, " +
          s"read ${scan.selectedPartitions.partitionCount}")
    }
    // the ADC candidate set enters the refine as a broadcast, never a shuffle
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "refine join must broadcast the ≤ pqRefine candidate ids")
  }

  test("timeTopK: bounded heap over the kernel match set, stats row broadcast") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.ops.DocQueries.timeTopK(spark, sf, "fast query join", 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "final cut must be a bounded heap")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the 1-row stats table must broadcast")
  }

  test("scoring aggregations read postings + docmeta only — never analyzed or the source table") {
    // the round-4 scale-killer: funcScore/topHits (and collapse/time)
    // exploded the ENTIRE analyzed table per query via Searcher.scoreAll;
    // kernel-backed, their plans must touch only the postings shard job
    // and the doc-meta sidecar
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val plans = Seq(
      "funcScore" -> graft.ops.DocQueries.funcScoreTopK(spark, sf, "fast query join", 10),
      "topHits" -> graft.ops.DocQueries.topHitsByGroup(spark, sf, "fast query join", "source", 2, 5),
      "collapse" -> graft.ops.DocQueries.collapseTopK(spark, sf, "fast query join", "source", 5),
      "timeTopK" -> graft.ops.DocQueries.timeTopK(spark, sf, "fast query join", 10),
      "groupTopK" -> graft.ops.DocQueries.groupTopK(spark, sf, "fast query join", "source", 5),
      "convTopK" -> graft.ops.DocQueries.convTopK(spark, sf, "fast query join", 3, 5))
    for ((name, df) <- plans) {
      val plan = df.queryExecution.executedPlan
      val nodes = PlanProbe.allNodes(plan)
      val paths = PlanProbe.scannedPaths(plan)
      assert(!paths.exists(_.contains("/analyzed")),
        s"$name must not scan the analyzed table: $paths")
      assert(!paths.exists(_.contains("documents.parquet")),
        s"$name must not scan the source documents table: $paths")
      // a cached-table read of analyzed/source would still show terms/tfs/
      // text on the InMemoryTableScan output — the columns the old
      // full-corpus explode needed
      val cached = nodes.collect { case i: InMemoryTableScanExec => i }
      assert(!cached.exists(_.output.exists(a =>
          a.name == "terms" || a.name == "tfs" || a.name == "text")),
        s"$name reads analyzed/source columns through a cached table")
      val jobs = nodes.collect { case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd.name }
      assert(jobs.exists(n => n != null && n.startsWith("ShardJob") && n.contains("/postings")),
        s"$name must serve its match set from the postings shard job: $jobs")
      assert(paths.exists(_.contains("/docmeta")),
        s"$name must resolve metadata from the docmeta sidecar: $paths")
    }
  }
}
