package graft

import graft.sources.Transcripts
import graft.streaming.StreamIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingest: file-source micro-batches land in analyzed/ with
  * unique, per-shard-dense docIds and analyzer parity with the batch path. */
class StreamIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("two micro-batches append analyzed rows with unique dense docIds") {
    val srcDir = TestSpark.tmpDir("stream_src")
    val idxDir = TestSpark.tmpDir("stream_idx")
    val all = Transcripts.synth(spark, 600, turnsPerConv = 5)

    // batch 1 files
    all.filter($"conv_id" < "conv-000000060").toDF()
      .write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(all.toDF().schema).parquet(srcDir)
    val q = StreamIngest.start(spark, stream, idxDir, shards = 4)
    q.processAllAvailable()
    val n1 = spark.read.parquet(s"$idxDir/analyzed").count()
    assert(n1 == 300)

    // batch 2 files arrive later
    all.filter($"conv_id" >= "conv-000000060").toDF()
      .write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()

    val analyzed = spark.read.parquet(s"$idxDir/analyzed")
    assert(analyzed.count() == 600)
    // docIds unique; dense per shard from 0
    assert(analyzed.select("docId").distinct().count() == 600)
    val perShard = analyzed.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("docId").as("lo"), max("docId").as("hi"))
      .collect()
    perShard.foreach { r =>
      val shard = r.getAs[Int]("shard")
      val n = r.getAs[Long]("n")
      assert(r.getAs[Long]("lo") == graft.model.Ids.docId(shard, 0L))
      assert(r.getAs[Long]("hi") == graft.model.Ids.docId(shard, n - 1))
    }
    // analyzer parity with the batch analyzer + text-equality invariant
    val src = all.toDF().withColumn("explen",
      udf((t: String) => graft.analysis.Analyzer.tokenizeEn(t).length).apply($"text"))
    val joined = src.join(analyzed, Seq("conv_id", "turn_idx"), "full_outer")
    assert(joined.filter($"docId".isNull || $"text".isNull).count() == 0)
    assert(joined.filter($"len" =!= $"explen").count() == 0)
  }

  test("streaming into a batch-built index seeds HWMs — no docId reuse") {
    // regression (ADVICE r1 high): readHwm must seed from the existing
    // analyzed table when stream manifests are absent
    val srcDir = TestSpark.tmpDir("stream_src2")
    val idxDir = TestSpark.tmpDir("stream_idx2")
    val batchTurns = Transcripts.synth(spark, 200, turnsPerConv = 5)
    graft.build.IndexBuilder.build(spark, batchTurns.toDF(), idxDir,
      graft.build.IndexBuilder.Config(shards = 4))

    val streamTurns = Transcripts.synth(spark, 400, turnsPerConv = 5)
      .toDF().filter($"conv_id" >= "conv-000000040") // disjoint conv_ids
    streamTurns.write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(streamTurns.schema).parquet(srcDir)
    val q = StreamIngest.start(spark, stream, idxDir, shards = 4)
    q.processAllAvailable()
    q.stop()

    val analyzed = spark.read.parquet(s"$idxDir/analyzed")
    assert(analyzed.count() == 400)
    assert(analyzed.select("docId").distinct().count() == 400,
      "streamed docIds must not collide with batch-built ones")
  }

  test("replayed micro-batch never duplicates rows (exactly-once commit)") {
    val srcDir = TestSpark.tmpDir("stream_src3")
    val idxDir = TestSpark.tmpDir("stream_idx3")
    val turns = Transcripts.synth(spark, 300, turnsPerConv = 5)
    turns.toDF().write.mode("append").parquet(srcDir)

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(turns.toDF().schema).parquet(srcDir)
      // fresh checkpoint each run → the file source REPLAYS batch 0
      val q = StreamIngest.start(spark, stream, idxDir, shards = 4,
        checkpoint = TestSpark.tmpDir("stream_cp3"))
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    // replay with commit manifests intact → batch skipped entirely
    runOnce()
    assert(spark.read.parquet(s"$idxDir/analyzed").count() == 300)
    // simulate a crash AFTER the data landed but BEFORE the commit records:
    // replay re-stages and overwrites the same deterministic file names
    graft.build.Manifests.clear(idxDir, "stream_batch_0")
    graft.build.Manifests.clear(idxDir, "stream_hwm_max")
    runOnce()
    val analyzed = spark.read.parquet(s"$idxDir/analyzed")
    assert(analyzed.count() == 300, "replay after partial commit must not duplicate rows")
    assert(analyzed.select("docId").distinct().count() == 300)
  }

  test("a stream micro-batch lands the same analyzed rows as a batch append") {
    val turns = Transcripts.synth(spark, 600, turnsPerConv = 5).toDF()
    val base = turns.filter($"conv_id" < "conv-000000080")
    val batchB = turns.filter($"conv_id" >= "conv-000000080")
    val cfg = graft.build.IndexBuilder.Config(shards = 4)
    val appendDir = TestSpark.tmpDir("parity_append")
    val streamDir = TestSpark.tmpDir("parity_stream")
    Seq(appendDir, streamDir).foreach(graft.build.IndexBuilder.build(spark, base, _, cfg))

    graft.build.IndexBuilder.append(spark, batchB, appendDir, cfg)
    val srcDir = TestSpark.tmpDir("parity_src")
    batchB.write.mode("append").parquet(srcDir)
    val q = StreamIngest.start(spark,
      spark.readStream.schema(batchB.schema).parquet(srcDir), streamDir, shards = 4)
    q.processAllAvailable()
    q.stop()
    assert(graft.build.Manifests.isDone(streamDir, "stream_batch_0"))
    assert(graft.build.Manifests.read(streamDir, "stream_batch_1").isEmpty,
      "batch B must land as ONE micro-batch")

    def analyzed(dir: String) = spark.read.parquet(s"$dir/analyzed")
      .select("shard", "docId", "conv_id", "turn_idx", "len", "terms", "tfs")
    val (a, st) = (analyzed(appendDir), analyzed(streamDir))
    assert(a.count() == 600)
    assert(a.exceptAll(st).count() == 0 && st.exceptAll(a).count() == 0,
      "append and streaming ingest placed batch B differently")
  }

  test("stream → refresh → searchable: end-to-end freshness without a rebuild") {
    val srcDir = TestSpark.tmpDir("stream_src4")
    val idxDir = TestSpark.tmpDir("stream_idx4")
    // batch-built base index
    graft.build.IndexBuilder.build(spark,
      Transcripts.synth(spark, 400, turnsPerConv = 5).toDF(), idxDir,
      graft.build.IndexBuilder.Config(shards = 4))
    // a streamed doc with a vocabulary the base corpus lacks
    Transcripts.fixture(spark, "cSTREAM",
        Seq("zeppelin zeppelin archive fresh streamed turn")).toDF()
      .write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema(Transcripts.synth(spark, 1).toDF().schema).parquet(srcDir)
    val q = StreamIngest.start(spark, stream, idxDir, shards = 4)
    q.processAllAvailable()
    q.stop()
    // not yet searchable (postings/stats/df unchanged)...
    val before = new graft.query.Searcher(spark, idxDir)
    assert(before.topK("zeppelin archive", 5).count() == 0)
    // ...one refresh makes it searchable through a delta segment
    graft.build.IndexBuilder.refresh(spark, idxDir)
    val after = new graft.query.Searcher(spark, idxDir)
    val hits = after.topK("zeppelin archive", 5).select("conv_id").as[String].collect()
    assert(hits.contains("cSTREAM"))
  }

  test("streaming into a doc-meta index lands each batch's sidecar rows with it") {
    // a corpus dir of its own: DocQueries derives its main index, built
    // with the doc-meta sidecar, from this documents table
    val sf = TestSpark.tmpDir("stream_meta_sf")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$sf/documents.parquet")
    try {
      val idxDir = graft.ops.DocQueries.indexDir(spark, sf)
      val lenSrc = graft.analysis.Analyzer.analyze("wiki", graft.analysis.StopWords.english)._1
      val doc = Seq((900001L, "zeppelin zeppelin archive fresh streamed turn", "en", "wiki", 44L))
        .toDF("doc_id", "text", "lang", "source", "n_chars").withColumn("len_src", lit(lenSrc))
      val turns = Transcripts.fromDocuments(doc, Seq("lang", "source", "n_chars", "len_src"))
      // a stream without the sidecar's columns is refused before it starts
      val bare = TestSpark.tmpDir("stream_meta_bare")
      turns.drop("n_chars").write.mode("append").parquet(bare)
      val err = intercept[IllegalArgumentException](StreamIngest.start(spark,
        spark.readStream.schema(turns.drop("n_chars").schema).parquet(bare), idxDir, shards = 8))
      assert(err.getMessage.contains("n_chars"))

      val srcDir = TestSpark.tmpDir("stream_meta_src")
      turns.write.mode("append").parquet(srcDir)
      val q = StreamIngest.start(spark,
        spark.readStream.schema(turns.schema).parquet(srcDir), idxDir, shards = 8)
      q.processAllAvailable()
      q.stop()
      val meta = graft.build.Fsck.run(spark, idxDir).filter(_.check == "docmeta")
      assert(meta.nonEmpty && meta.forall(_.ok), s"fsck docmeta after streaming: $meta")
      graft.build.IndexBuilder.refresh(spark, idxDir)
      val bad = graft.build.Fsck.run(spark, idxDir).filterNot(_.ok)
      assert(bad.isEmpty, s"fsck after refresh: $bad")
      val top = graft.ops.DocQueries.funcScoreTopK(spark, sf, "zeppelin archive", 3)
        .select("doc_id").as[Long].collect()
      assert(top.headOption.contains(900001L), s"streamed doc not ranked first: ${top.toSeq}")
    } finally TestSpark.dropDerived(sf)
  }
}
