package graft

import graft.ops.{SimilarityConfig, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization (VectorOps.trainPqCodebooks / annPq / annIvfPq /
  * buildPq / annIvfPqIndexed): codebook determinism under repartitioning,
  * ADC+refine recall against the exact brute-force baseline, the
  * materialized serving twin's identity with the in-memory path, and the
  * empty-target edge. The DuckDB oracle (OracleSqlOps.annPq/annIvfPq)
  * pins exact value parity at the driver gate; these specs pin the
  * properties parity alone can't see. */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val cfg = SimilarityConfig.Default

  test("PQ codebooks: shape pqM × pqK × pqSub, identical at any parallelism") {
    val vq = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * lit(1000), 0).cast("long")).as("qv"))
    val a = VectorOps.trainPqCodebooks(vq.repartition(3), cfg)
    val b = VectorOps.trainPqCodebooks(vq.repartition(7), cfg)
    assert(a.length == cfg.pqM)
    assert(a.forall(_.length == cfg.pqK))
    assert(a.forall(_.forall(_.length == cfg.pqSub)))
    assert(a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks must be a pure function of the data, not the partitioning")
  }

  test("annPq recall@10 vs brute-force cosTopK") {
    val brute = VectorOps.cosTopK(spark, sf, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val pq = VectorOps.annPq(spark, sf, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    // ADC over 16-entry × 8-subspace codebooks with a 50-candidate exact
    // refine on the 500-vector near-uniform corpus (cos ≈ 0.3 at rank 2 —
    // the hardest case for PQ, no cluster structure to exploit): measured
    // 0.7 via the DuckDB mirror; the bound leaves one-swap slack
    assert(recall >= 0.6, s"PQ recall@10 = $recall, brute=$brute pq=$pq")
    // and the scores it does return are EXACT cosines (refine step), so
    // every returned pair must equal the brute-force value for that id
    val bm = VectorOps.cosTopK(spark, sf, 0L, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    VectorOps.annPq(spark, sf, 0L, 10).collect().foreach { r =>
      assert(bm(r.getLong(0)) == r.getDouble(1),
        s"refined score for ${r.getLong(0)} must be the exact cosine")
    }
  }

  test("annIvfPqIndexed (materialized) ≡ annIvfPq (in-memory) — serving twin") {
    val a = VectorOps.annIvfPq(spark, sf, 0L, 10, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = VectorOps.annIvfPqIndexed(spark, sf, 0L, 10, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a.nonEmpty, "probed clusters produced no candidates")
    assert(a == b, s"materialized IVF-PQ diverged from the in-memory path:\n$a\nvs\n$b")
  }

  test("unknown target → empty result, same schema") {
    val a = VectorOps.annPq(spark, sf, -12345L, 10)
    assert(a.columns.toSeq == Seq("vec_id", "cos"))
    assert(a.count() == 0)
    val b = VectorOps.annIvfPqIndexed(spark, sf, -12345L, 10, 2)
    assert(b.columns.toSeq == Seq("vec_id", "cos"))
    assert(b.count() == 0)
  }

  test("every trained-vector path shares one persisted quantized corpus") {
    // a fresh corpus dir: nothing of it is cached or built yet
    val fresh = TestSpark.tmpDir("vecsf")
    Seq("embeddings.parquet", "documents.parquet").foreach(f =>
      spark.read.parquet(s"$sf/$f").write.parquet(s"$fresh/$f"))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try {
      VectorOps.annIvf(spark, fresh, 0L, 10, 2).collect()
      VectorOps.annIvfIndexed(spark, fresh, 0L, 10, 2).collect()
      VectorOps.annPq(spark, fresh, 0L, 10).collect()
      VectorOps.annIvfPq(spark, fresh, 0L, 10, 2).collect()
      VectorOps.embedCluster(spark, fresh).collect()
      val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(added.size == 1, s"persisted ${added.size} frames, expected the quantized corpus only")
    } finally TestSpark.dropDerived(fresh)
  }

  test("an embeddings-only corpus dir trains and serves its vector indexes") {
    // the vector dirs derive from the embeddings table alone: a corpus
    // dir without documents.parquet must serve the same answers
    val fresh = TestSpark.tmpDir("vecsf_emb")
    spark.read.parquet(s"$sf/embeddings.parquet").write.parquet(s"$fresh/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    try {
      for ((name, run) <- Seq[(String, String => org.apache.spark.sql.DataFrame)](
          "annIvf" -> (d => VectorOps.annIvf(spark, d, 0L, 10, 2)),
          "annPq" -> (d => VectorOps.annPq(spark, d, 0L, 10)),
          "embedCluster" -> (d => VectorOps.embedCluster(spark, d)))) {
        val got = rows(run(fresh))
        assert(got.nonEmpty && got == rows(run(sf)), s"$name on the embeddings-only dir")
      }
    } finally TestSpark.dropDerived(fresh)
  }

  test("non-default PQ geometry trains and serves (pqM=16, pqK=8)") {
    val alt = cfg.copy(pqM = 16, pqK = 8, pqRefine = 30)
    val got = VectorOps.annPq(spark, sf, 0L, 5, alt).collect()
    assert(got.length == 5)
    assert(got.map(_.getLong(0)).contains(0L),
      "the target itself must survive any quantization (d2=0 to its own codes)")
  }
}
