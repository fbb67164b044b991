package graft.ops

import graft.functions.VectorFunctions.cosineSim
import graft.sources.Corpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Embedding-similarity operators over the embeddings table
  * (vec_id, embedding: array<float>).
  *
  * Cosine math runs as a native Catalyst expression with codegen
  * ([[graft.functions.CosineSim]]) — one fused Java loop inside the
  * generated stage, no per-element lambda frames and no UDF
  * serialization. Floats are widened to double inside that loop, so both
  * engines compute in f64.
  *
  * Every *bucketing/assignment* decision (LSH signatures, k-means
  * distances, centroid updates, PQ codes, probes) is computed in QUANTIZED
  * INTEGER arithmetic (milli-units: round(x·1000) as BIGINT): integer sums
  * are associative, so Spark and the DuckDB oracle make bit-identical
  * decisions regardless of aggregation order — doubles appear only in the
  * final exact-cosine step, rounded to 4dp on both sides. Every
  * nearest-centroid / nearest-code decision, on the driver or per row, is
  * the one integer-L2 loop [[nearest]].
  *
  *  - cosTopK: brute-force top-k — the exact baseline.
  *  - annIvf / annIvfIndexed: IVF ANN with k-means-trained centroids.
  *    Probe the `nprobe` nearest clusters, exact cosine inside.
  *  - annPq / annIvfPq / annIvfPqIndexed: product-quantized ADC scan, then
  *    an exact-cosine refine of the best candidates.
  *  - similarPairs: near-dup pairs via random-hyperplane LSH — signature
  *    band-bucket equi-join for candidates (NEVER an all-pairs join),
  *    exact cosine verify, top-n emit. Mirrors the MinHash-LSH shape used
  *    for text (TextOps.minHashPairs).
  *
  * Trained structures are derived indexes of the corpus dir, made by
  * [[DocQueries.derived]] like the BM25 indexes (version-stamped dirs,
  * committed by a done-sentinel, reused by later JVMs): `ivf<L>_<cfg>`
  * holds the centroids and the cluster-partitioned vectors, `pq<L>_<cfg>`
  * the codebooks and the cluster-partitioned codes. Training runs only
  * while a dir is made. Long-lived state is two memos: one persisted
  * quantized corpus per corpus dir, and the centroid/codebook tables of
  * each committed dir.
  */
object VectorOps {

  val Dim = 64

  // ---- random-hyperplane LSH ------------------------------------------------

  /** Deterministic ±1 hyperplane entries from a Lehmer-step + xor-shift
    * mixer over mod-2^31-1 arithmetic — every operation exists verbatim in
    * DuckDB SQL (xor(), >>, %, BIGINT multiply below 2^48), so both engines
    * build the identical hyperplane family. (A plain LCG's parity
    * ALTERNATES on consecutive indices, which collapses every hyperplane
    * to ±the same vector — measured: buckets degenerate to the 01010101 /
    * 10101010 patterns. The xor-shift folding breaks that: lag-1 parity
    * autocorrelation ≈ -0.01.) */
  // Default banding (SimilarityConfig): tuned for NEAR-DUP detection —
  // pair recall ≈ 0.75 at cos 0.9, ≈ 0.9 at cos 0.95, while diffuse pairs
  // (cos ≤ 0.6) are mostly pruned; that pruning is the point of LSH. At
  // larger corpora raise SimilarityConfig.lshBits (rows per band grows, so
  // the per-band key space keeps buckets small — key space must scale with
  // corpus size); SimilarityConfig.forCorpus encodes the rule.
  val LshBits: Int = SimilarityConfig.Default.lshBits
  val LshBands: Int = SimilarityConfig.Default.lshBands
  val LshRows: Int = SimilarityConfig.Default.lshRows
  def hpSign(idx: Int): Long = {
    val P = 2147483647L
    val h1 = (idx + 1).toLong * 48271L % P
    val h2 = h1 ^ (h1 >> 15)
    val h3 = h2 * 69621L % P
    val h4 = h3 ^ (h3 >> 13)
    if (h4 % 2 == 1) 1L else -1L
  }

  /** round(x·1000) as BIGINT, as the SQL `round(x * 1000, 0).cast("long")`
    * computes it for a float-decoded double: Spark's Round on DoubleType
    * goes through BigDecimal.valueOf (the shortest-decimal representation)
    * with HALF_UP (half-away-from-zero, as DuckDB's round()). The one
    * driver- and kernel-side quantizer — pinned ≡ the SQL expression by a
    * property test. */
  private[graft] def quantizeMilli(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** The same quantization as a column expression over array<double>. */
  private def quantize(e: Column): Column =
    transform(e, x => round(x * lit(1000), 0).cast("long"))

  /** Band keys of one RAW FLOAT vector — quantize + the bits×64
    * multiply-add matrix fused into a single tight integer kernel (an
    * aggregate-per-bit Catalyst expression tree for the same math was
    * measured ~4× slower end-to-end from plan size alone; the earlier
    * two-step `transform(cast) → transform(round)` feed was two
    * INTERPRETED higher-order passes per row — HOF lambdas are excluded
    * from whole-stage codegen — before the UDF even ran). Integer sums ⇒
    * bit-identical to the SQL. Hyperplane row i is always
    * hpSign(i·Dim + j), so raising lshBits EXTENDS the family without
    * changing existing planes. */
  private def bandKeysUdf(cfg: SimilarityConfig) = {
    val (bits, bands, rows) = (cfg.lshBits, cfg.lshBands, cfg.lshRows)
    val hpMatrix: Array[Array[Long]] =
      Array.tabulate(bits, Dim)((i, j) => hpSign(i * Dim + j))
    udf { (ef: Seq[Float]) =>
      val qv = new Array[Long](Dim)
      var j = 0
      while (j < Dim) { qv(j) = quantizeMilli(ef(j)); j += 1 }
      val keys = new Array[Long](bands)
      var i = 0
      while (i < bits) {
        val hp = hpMatrix(i)
        var d = 0L
        var k = 0
        while (k < Dim) { d += qv(k) * hp(k); k += 1 }
        val bit = if (d >= 0) 1L else 0L
        val b = i / rows
        keys(b) = keys(b) * 2 + bit
        i += 1
      }
      keys
    }
  }

  // ---- the shared search steps ----------------------------------------------

  /** The exact-cosine top-k tail of every search: cos = round(cosine(e,
    * q), 4) over `cands` (vec_id, e), ordered (cos desc, vec_id asc). */
  private def cosTop(cands: DataFrame, q: Column, k: Int): DataFrame =
    cands.select(col("vec_id"), round(cosineSim(col("e"), q), 4).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)

  /** Exact cosine top-k of raw `cands` against the raw vector vec_id =
    * targetId of `v`, broadcast as a one-row side — an unknown target
    * makes the cross join, and so the result, empty. Renamed after the
    * join, so the rename folds into the cosine projection. */
  private def exactTop(v: DataFrame, cands: DataFrame, targetId: Long, k: Int): DataFrame =
    cosTop(cands.crossJoin(broadcast(v.filter(col("vec_id") === targetId)
      .select(col("embedding").as("qe")))).withColumnRenamed("embedding", "e"), col("qe"), k)

  /** The one target lookup of the ANN paths: `search(te, tq)` over the
    * vector `te` of vec_id = targetId in `vecs` (vec_id, e: array<double>)
    * and its quantization `tq`; an unknown target gives the empty
    * (vec_id, cos) frame, the shape the brute-force path gives. */
  private def withTarget(vecs: DataFrame, targetId: Long)(
      search: (Array[Double], Array[Long]) => DataFrame): DataFrame =
    vecs.filter(col("vec_id") === targetId).select("e").collect().headOption match {
      case Some(r) =>
        val te = r.getSeq[Double](0).toArray
        search(te, te.map(quantizeMilli))
      case None =>
        val spark = vecs.sparkSession
        import spark.implicits._
        Seq.empty[(Long, Double)].toDF("vec_id", "cos")
    }

  /** Integer L2 between `v`'s dims [off, off + c.length) and `c`. */
  private def d2(v: Array[Long], off: Int, c: Array[Long]): Long = {
    var d = 0L
    var j = 0
    while (j < c.length) { val g = v(off + j) - c(j); d += g * g; j += 1 }
    d
  }

  /** The one assignment kernel: (index of the candidate nearest to `v`'s
    * dims from `off` by integer L2, ties → smaller index; its d²). The
    * driver calls it directly, and every row runs it through [[RowKernel]]. */
  private def nearest(v: Array[Long], off: Int, cands: Array[Array[Long]]): (Int, Long) = {
    var best = Long.MaxValue
    var bi = 0
    var c = 0
    while (c < cands.length) {
      val d = d2(v, off, cands(c))
      if (d < best) { best = d; bi = c }
      c += 1
    }
    (bi, best)
  }

  /** `f` over each row's quantized vector, handed over as a primitive
    * long[]: one generated call per row at any candidate count. A Scala
    * UDF over Seq[Long] boxes every element, and a zip_with/aggregate tree
    * per candidate runs interpreted (higher-order functions fall back from
    * whole-stage codegen) in a plan that grows with the candidate count. */
  private case class RowKernel(child: Expression, f: Array[Long] => Any, dataType: DataType)
      extends UnaryExpression {
    override protected def nullSafeEval(v: Any): Any = f(v.asInstanceOf[ArrayData].toLongArray())
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fn = ctx.addReferenceObj("kernel", f, classOf[Function1[_, _]].getName)
      defineCodeGen(ctx, ev, v => s"(${CodeGenerator.boxedType(dataType)}) $fn.apply($v.toLongArray())")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }
  private def rowKernel(out: DataType)(f: Array[Long] => Any)(qv: Column): Column =
    Bridge.column(RowKernel(Bridge.expression(qv), f, out))

  /** Nearest-centroid id of each quantized row. */
  private def assignK(qv: Column, cents: Array[Array[Long]]): Column =
    rowKernel(IntegerType)(nearest(_, 0, cents)._1)(qv)

  /** d² of each quantized row to its nearest candidate. */
  private def minD2(qv: Column, cands: Array[Array[Long]]): Column =
    rowKernel(LongType)(nearest(_, 0, cands)._2)(qv)

  /** The `nprobe` centroids nearest the quantized target (ties → smaller k). */
  private def probe(cents: Array[Array[Long]], tq: Array[Long], nprobe: Int): Seq[Int] =
    cents.indices.sortBy(c => (d2(tq, 0, cents(c)), c)).take(nprobe)

  /** Brute-force cosine top-k against the vector with vec_id = targetId,
    * straight off the RAW FLOAT vectors: [[CosineSim]] widens each float
    * to double in its codegen loop (exact IEEE widening), so the per-query
    * corpus scans never run an interpreted decode projection; only the
    * persisted corpus decodes, once. */
  def cosTopK(spark: SparkSession, sfDir: String, targetId: Long, k: Int): DataFrame = {
    val v = Corpus.embeddings(spark, sfDir)
    exactTop(v, v, targetId, k)
  }

  /** Filtered vector search (the ES knn-with-filter shape): brute-force
    * cosine top-k RESTRICTED to vectors carrying `label` — the filter
    * applies to CANDIDATES only; the query vector itself need not pass
    * it. The equality predicate is pushed into the Parquet scan, and at
    * scale the vector table is partitioned by its filter columns so the
    * filtered scan's IO is ∝ the selected slice — the same partition-
    * pruning shape the materialized IVF path uses for clusters (the two
    * compose: label partitions × cluster sub-partitions). Exact over the
    * filtered slice. */
  def cosTopKFiltered(spark: SparkSession, sfDir: String, targetId: Long,
                      label: Int, k: Int): DataFrame = {
    val v = Corpus.embeddings(spark, sfDir)
    exactTop(v, v.filter(col("label") === label), targetId, k)
  }

  // ---- IVF ANN with k-means-trained centroids -------------------------------

  val KmeansK: Int = SimilarityConfig.Default.kmeansK
  val KmeansIters: Int = SimilarityConfig.Default.kmeansIters

  /** k-means‖ seeds (Bahmani et al., "Scalable K-Means++", VLDB 2012),
    * made deterministic: the per-point coin flip is
    * `uniform01(xxhash64(vec_id, round)) < ℓ·d²(x,C)/φ` — a pure function
    * of (vec_id, round), so the seed set is reproducible and independent
    * of partitioning/cluster size. Each round is ONE map-side corpus pass
    * against the broadcast candidate set (min-d² kernel) + a sum + a
    * filtered collect of ~ℓ sampled rows; candidates total ≈ ℓ·rounds ≪ n
    * and are reduced to K on the driver by weighted farthest-point
    * selection + weighted Lloyd (the paper's recluster step). Nothing
    * corpus-sized ever reaches the driver. */
  private[graft] def kmeansParSeeds(vq: DataFrame, cfg: SimilarityConfig): Array[Array[Long]] = {
    val k = cfg.kmeansK
    val l = if (cfg.kmeansParOversample > 0) cfg.kmeansParOversample else 2 * k
    var cands: Array[Array[Long]] = vq.orderBy("vec_id").limit(1)
      .select("qv").collect().map(_.getSeq[Long](0).toArray)
    if (cands.isEmpty) return cands // empty corpus: nothing to seed
    for (r <- 1 to cfg.kmeansParRounds) {
      val d2s = vq.withColumn("d2", minD2(col("qv"), cands))
      val phi = Option(d2s.agg(sum("d2")).head().get(0)).map(_.toString.toDouble).getOrElse(0.0)
      if (phi > 0) {
        // uniform [0,1) from the top 53 bits of a 64-bit hash
        val u = shiftrightunsigned(xxhash64(col("vec_id"), lit(r)), 11)
          .cast("double") / lit((1L << 53).toDouble)
        val fresh = d2s
          .filter(u < lit(l.toDouble) * col("d2").cast("double") / lit(phi))
          .select("qv").collect().map(_.getSeq[Long](0).toArray)
        cands = cands ++ fresh
      }
    }
    // weight candidates by the size of their nearest-neighbor cells
    val w = new Array[Long](cands.length)
    vq.withColumn("c", assignK(col("qv"), cands))
      .groupBy("c").count().collect()
      .foreach(row => w(row.getAs[Int]("c")) = row.getAs[Long]("count"))

    // weighted farthest-point start: highest-weight candidate first, then
    // repeatedly the candidate maximizing weight·d²(·, chosen)
    val chosen = scala.collection.mutable.ArrayBuffer(
      cands(w.indices.maxBy(i => (w(i), -i.toLong))))
    while (chosen.size < k && chosen.size < cands.length) {
      val next = cands.indices.maxBy { i =>
        (w(i) * chosen.map(c => d2(cands(i), 0, c)).min, -i.toLong)
      }
      chosen += cands(next)
    }
    // pad from the naive seed if sampling produced < k distinct candidates
    if (chosen.size < k)
      chosen ++= vq.orderBy("vec_id").limit(k).select("qv").collect()
        .map(_.getSeq[Long](0).toArray).take(k - chosen.size)
    // weighted Lloyd over the candidate set (driver-side: |cands| ≪ n)
    var seeds = chosen.toArray
    for (_ <- 1 to 5) {
      val sums = Array.fill(seeds.length)(new Array[Long](Dim))
      val cnt = new Array[Long](seeds.length)
      cands.indices.foreach { i =>
        val s = nearest(cands(i), 0, seeds)._1
        cnt(s) += w(i)
        var j = 0
        while (j < Dim) { sums(s)(j) += w(i) * cands(i)(j); j += 1 }
      }
      seeds = seeds.indices.map { s =>
        if (cnt(s) == 0) seeds(s)
        else Array.tabulate(Dim)(j => math.round(sums(s)(j).toDouble / cnt(s)))
      }.toArray
    }
    seeds
  }

  /** Lloyd-trained centroids in milli-units. Seed: the K smallest vec_ids,
    * or k-means‖ when cfg.kmeansParSeeding. Per iteration: integer-L2
    * assignment, centroid = round(avg) per dim (empty cluster keeps its
    * previous centroid). Only K·dim values ever reach the driver. */
  private[graft] def trainCentroids(vq: DataFrame,
      cfg: SimilarityConfig = SimilarityConfig.Default): Array[Array[Long]] = {
    var cents: Array[Array[Long]] =
      if (cfg.kmeansParSeeding) kmeansParSeeds(vq, cfg)
      else vq.orderBy("vec_id").limit(cfg.kmeansK)
        .select("qv").collect()
        .map(_.getSeq[Long](0).toArray)
    for (_ <- 1 to cfg.kmeansIters) {
      val updated = vq.withColumn("k", assignK(col("qv"), cents))
        .select(col("k"), posexplode(col("qv")).as(Seq("j", "x")))
        .groupBy("k", "j").agg(round(avg("x"), 0).cast("long").as("c"))
        .collect()
        .groupBy(_.getAs[Int]("k"))
        .map { case (k, rows) =>
          val c = new Array[Long](Dim)
          rows.foreach(r => c(r.getAs[Int]("j")) = r.getAs[Long]("c"))
          k -> c
        }
      cents = cents.indices.map(k => updated.getOrElse(k, cents(k))).toArray
    }
    cents
  }

  /** The one persisted quantized corpus per corpus dir, (vec_id, e:
    * array<double>, qv): what training, the dir builds, the in-memory
    * twins and [[annPq]]'s refine read. A frame bound to a stopped
    * session (tests and services recreate sessions) is replaced. */
  private val corpora = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    corpora.computeIfPresent(sfDir, (_, q) => if (q.sparkSession.sparkContext.isStopped) null else q)
    corpora.computeIfAbsent(sfDir, _ => Corpus.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
      .withColumn("qv", quantize(col("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Centroid and codebook tables of committed dirs, read once per table
    * like a Searcher's stats row: (m, k, c) rows as `cb(m)(k)`, and a
    * centroid table (k, c) as the single book m = 0. */
  private val books = new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Long]]]]()
  private def book(spark: SparkSession, path: String): Array[Array[Array[Long]]] =
    books.computeIfAbsent(path, _ => {
      val t = spark.read.parquet(path)
      (if (t.columns.contains("m")) t else t.withColumn("m", lit(0)))
        .orderBy("m", "k").select("m", "c").collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.map(_.getSeq[Long](1).toArray)).toArray
    })
  private def centroids(spark: SparkSession, ivf: String): Array[Array[Long]] =
    book(spark, s"$ivf/centroids").headOption.getOrElse(Array.empty)

  /** The committed `vectors/` (vec_id, e, k) and `codes/` (vec_id, codes,
    * kc) tables, read with the schema their [[Layout]] fixes: inferring
    * it would cost every query one more job. */
  private def vectorsOf(spark: SparkSession, ivf: String): DataFrame =
    spark.read.schema("vec_id BIGINT, e ARRAY<DOUBLE>, k INT").parquet(s"$ivf/vectors")
  private def codesOf(spark: SparkSession, pq: String): DataFrame =
    spark.read.schema("vec_id BIGINT, codes ARRAY<INT>, kc INT").parquet(s"$pq/codes")

  /** Layout version of the vector dirs: bump it whenever [[buildIvf]] or
    * [[buildPq]] output changes, so no later JVM reuses an older dir. */
  private val Layout = 1
  private def ivfKey(cfg: SimilarityConfig): String = s"${cfg.kmeansK}x${cfg.kmeansIters}" +
    (if (cfg.kmeansParSeeding) s"_par${cfg.kmeansParRounds}x${cfg.kmeansParOversample}" else "")
  private def ivfDir(spark: SparkSession, sfDir: String, cfg: SimilarityConfig): String =
    DocQueries.derived(spark, sfDir, s"ivf${Layout}_${ivfKey(cfg)}") { (_, dir) =>
      buildIvf(spark, sfDir, dir, cfg)
    }
  private def pqDir(spark: SparkSession, sfDir: String, cfg: SimilarityConfig): String = {
    // resolved before the PQ make: derived's map must not be re-entered
    val cents = centroids(spark, ivfDir(spark, sfDir, cfg))
    DocQueries.derived(spark, sfDir,
        s"pq${Layout}_${cfg.pqM}x${cfg.pqK}x${cfg.pqIters}_ivf${ivfKey(cfg)}") { (_, dir) =>
      writePq(spark, sfDir, dir, cfg, cents)
    }
  }

  /** (vec_id, e, k): every corpus vector with its nearest centroid. */
  private def assigned(vq: DataFrame, cents: Array[Array[Long]]): DataFrame =
    vq.select(col("vec_id"), col("e"), assignK(col("qv"), cents).as("k"))

  /** IVF top-k over `vecs` (vec_id, e, k): exact cosine among the members
    * of the `nprobe` clusters nearest the target. */
  private def ivfTop(vecs: DataFrame, cents: Array[Array[Long]], targetId: Long,
                     k: Int, nprobe: Int): DataFrame =
    withTarget(vecs, targetId) { (te, tq) =>
      cosTop(vecs.filter(col("k").isin(probe(cents, tq, nprobe): _*)), typedLit(te.toSeq), k)
    }

  /** (vec_id, k) — k-means cluster assignment for every embedding: the
    * corpus-organization op (topic bucketing, data mixing, per-cluster
    * sampling) built from the same trained centroids that power annIvf.
    * Map-side assignment over the broadcast K×dim centroid matrix — no
    * shuffle beyond the output sort. */
  def embedCluster(spark: SparkSession, sfDir: String,
                   cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame =
    assigned(corpus(spark, sfDir), centroids(spark, ivfDir(spark, sfDir, cfg)))
      .select("vec_id", "k").orderBy("vec_id")

  /** IVF ANN, the in-memory twin of [[annIvfIndexed]]: the committed
    * centroids, the corpus assigned on every call. */
  def annIvf(spark: SparkSession, sfDir: String, targetId: Long, k: Int,
             nprobe: Int, cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val cents = centroids(spark, ivfDir(spark, sfDir, cfg))
    ivfTop(assigned(corpus(spark, sfDir), cents), cents, targetId, k, nprobe)
  }

  // ---- materialized IVF index (the serving-path shape) ----------------------

  /** Build the MATERIALIZED IVF index under `dir`:
    *
    *   centroids/  (k, c: array<bigint>)      — the K·Dim milli-unit centroids
    *   vectors/    (vec_id, e: array<double>) — Hive-partitioned by `k=<id>`,
    *               the nearest-centroid assignment, vec_id-sorted within files
    *
    * The deterministic assignment (identical to [[embedCluster]]'s) is
    * computed ONCE at build time and becomes the physical layout; a query
    * reads only the `k=` directories it probes (Spark partition pruning —
    * pinned by PlanSpec), where [[annIvf]] re-assigns the whole corpus per
    * query. Cluster sizes are Zipf-ish but bounded by the corpus: each
    * partition is written by its own task set, so a hot cluster splits
    * across files, never one giant task. */
  def buildIvf(spark: SparkSession, sfDir: String, dir: String,
               cfg: SimilarityConfig = SimilarityConfig.Default): Unit = {
    import spark.implicits._
    val vq = corpus(spark, sfDir)
    val cents = trainCentroids(vq, cfg)
    cents.zipWithIndex.map { case (c, k) => (k, c.toSeq) }.toSeq
      .toDF("k", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    assigned(vq, cents) // qv = quantize(e), not stored twice
      .repartition(col("k"))
      .sortWithinPartitions("vec_id") // row-group min/max pruning for point reads
      .write.mode("overwrite").partitionBy("k").parquet(s"$dir/vectors")
  }

  /** IVF ANN over the MATERIALIZED index: the K centroids come from the
    * dir's memo, the `nprobe` nearest are picked driver-side, and only
    * the probed `k=` partitions are scanned for the exact-cosine top-k —
    * per-query IO is proportional to the probed clusters, never the
    * corpus. Results are identical to [[annIvf]]; only the physical plan
    * differs. The target lookup is a vec_id point read (row-group-pruned;
    * a production service would route it through a key-value lookup). */
  def annIvfIndexed(spark: SparkSession, sfDir: String, targetId: Long, k: Int,
                    nprobe: Int,
                    cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val dir = ivfDir(spark, sfDir, cfg)
    ivfTop(vectorsOf(spark, dir), centroids(spark, dir), targetId, k, nprobe)
  }

  /** A band bucket larger than SimilarityConfig.bucketCap means the band
    * key space is misconfigured for the corpus size (lshRows must grow
    * with the corpus, see the banding note above) — fail fast instead of
    * going quietly quadratic inside one reducer. */
  val BucketCap: Int = SimilarityConfig.Default.bucketCap

  /** Top-n most similar candidate pairs (a < b) by cosine; candidates come
    * from the random-hyperplane band buckets — the 100-TB shape: no label
    * blocking, no all-pairs join anywhere.
    *
    * Pairs are generated INSIDE each (band, key) bucket: one shuffle
    * carries (vec_id, e) to its buckets, a nested explode emits the a<b
    * pairs with both vectors in hand, and the exact cosine verify runs in
    * the same codegen stage — no join-back to the embeddings table and no
    * global distinct (the per-pair dedup across bands is a tiny aggregate
    * over candidate pairs, ≪ corpus). The earlier band self-join +
    * two-sided join-back computed the same candidate set through 4
    * shuffles and 3 joins; this plan does it in 2 shuffles.
    *
    * The bucket shuffle carries the RAW FLOAT vectors (half the bytes of
    * the decoded doubles, guide §2.3) and the band keys come straight off
    * the floats in one fused kernel ([[bandKeysUdf]]); [[CosineSim]]
    * widens float elements to double inside its codegen loop — exact IEEE
    * widening, so cosines (and the oracle hash) are bit-identical to the
    * old decode-first plan. */
  def similarPairs(spark: SparkSession, sfDir: String, n: Int,
                   cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val buckets = Corpus.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("e"),
        posexplode(bandKeysUdf(cfg)(col("embedding"))).as(Seq("band", "key")))
      .groupBy("band", "key")
      .agg(collect_list(struct(col("vec_id"), col("e"))).as("vs"))
      .filter(size(col("vs")) > 1)
    val guarded = buckets.withColumn("vs",
      when(size(col("vs")) <= cfg.bucketCap, col("vs"))
        .otherwise(raise_error(concat(lit(s"LSH bucket exceeds ${cfg.bucketCap} for corpus — raise lshBits (band "),
          col("band"), lit(", key "), col("key"), lit(")")))))
    guarded
      .select(explode(col("vs")).as("x"), col("vs"))
      .select(col("x"), explode(col("vs")).as("y"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(cosineSim(col("x.e"), col("y.e")), 4).as("cos"))
      .groupBy("a", "b").agg(max("cos").as("cos")) // dedup across bands
      .orderBy(desc("cos"), asc("a"), asc("b"))
      .limit(n)
  }

  // ---- product quantization (PQ) ANN ----------------------------------------
  //
  // The vector-compression scale path (Jégou et al., "Product Quantization
  // for Nearest Neighbor Search", TPAMI 2011): split each Dim-vector into
  // pqM subspaces of pqSub dims, train a pqK-entry codebook per subspace
  // (per-subspace Lloyd over the milli-unit subvectors — integer
  // arithmetic, so assignment decisions are bit-identical in Spark and the
  // DuckDB oracle), and store each vector as pqM sub-codes. A query builds
  // one pqM × pqK lookup table of integer subspace distances (ADC,
  // asymmetric distance computation), scans CODES ONLY — pqM small ints
  // per vector instead of Dim doubles, a 64× IO cut at Dim=64/pqM=8 —
  // takes the pqRefine best candidates by (approx d², vec_id), and
  // re-ranks just those with exact cosine against the full vectors.
  //
  // At 100 TB: the corpus-sized scan touches only the codes table, the
  // LUT is pqM·pqK longs broadcast with the job, and the exact refine
  // joins just the pqRefine candidates back to their full vectors.
  // [[annIvfPq]] additionally coarse-partitions the codes by the IVF
  // centroids so a query scans only the probed clusters' codes
  // (materialized twin [[annIvfPqIndexed]] makes that partition pruning
  // physical, like [[annIvfIndexed]]).

  /** Per-subspace codebooks `cb(m)(k)(j)` in milli-units. Seeds: the
    * subvector slices of the pqK smallest vec_ids (the oracle-expressible
    * seed, same choice as [[trainCentroids]]); then `pqIters` Lloyd rounds
    * of integer-L2 sub-assignment + round(avg) update (an empty cell
    * keeps its previous entry). Only pqM·pqK·pqSub values ever reach the
    * driver. */
  private[graft] def trainPqCodebooks(vq: DataFrame,
      cfg: SimilarityConfig = SimilarityConfig.Default): Array[Array[Array[Long]]] = {
    val (m0, k0, sub) = (cfg.pqM, cfg.pqK, cfg.pqSub)
    var cb: Array[Array[Array[Long]]] = {
      val seeds = vq.orderBy("vec_id").limit(k0).select("qv").collect()
        .map(_.getSeq[Long](0).toArray)
      Array.tabulate(m0, seeds.length, sub)((m, k, j) => seeds(k)(m * sub + j))
    }
    if (cb.exists(_.isEmpty)) return cb // empty corpus: nothing to train
    for (_ <- 1 to cfg.pqIters) {
      val updated = vq
        .select(subCodes(col("qv"), cb, cfg).as("codes"), posexplode(col("qv")).as(Seq("j0", "x")))
        .select(floor(col("j0") / lit(sub)).cast("int").as("m"),
          col("j0"), col("x"), col("codes"))
        .select(col("m"), element_at(col("codes"), col("m") + 1).as("k"),
          (col("j0") % lit(sub)).cast("int").as("j"), col("x"))
        .groupBy("m", "k", "j").agg(round(avg("x"), 0).cast("long").as("c"))
        .collect()
        .map(r => (r.getAs[Int]("m"), r.getAs[Int]("k"), r.getAs[Int]("j")) -> r.getAs[Long]("c"))
        .toMap
      cb = Array.tabulate(m0, cb(0).length, sub)((m, k, j) =>
        updated.getOrElse((m, k, j), cb(m)(k)(j)))
    }
    cb
  }

  /** PQ sub-codes of each quantized row: per subspace, the nearest
    * codebook entry by integer L2 (ties → smaller code). */
  private def subCodes(qv: Column, cb: Array[Array[Array[Long]]], cfg: SimilarityConfig): Column =
    rowKernel(ArrayType(IntegerType, containsNull = false))(v => UnsafeArrayData.fromPrimitiveArray(
      Array.tabulate(cb.length)(m => nearest(v, m * cfg.pqSub, cb(m))._1)))(qv)

  /** ADC score kernel: approx d² = Σ_m lut(m)(code_m) over the broadcast
    * pqM × pqK lookup table. */
  private def adcUdf(lut: Array[Array[Long]]) = udf { (codes: Seq[Int]) =>
    var s = 0L
    var m = 0
    while (m < lut.length) { s += lut(m)(codes(m)); m += 1 }
    s
  }

  /** (vec_id, codes, kc): every corpus vector's PQ codes and coarse cluster. */
  private def pqCodes(vq: DataFrame, cents: Array[Array[Long]],
                      cb: Array[Array[Array[Long]]], cfg: SimilarityConfig): DataFrame =
    vq.select(col("vec_id"), subCodes(col("qv"), cb, cfg).as("codes"),
      assignK(col("qv"), cents).as("kc"))

  /** The one probe-and-refine step: ADC scan of `codes` (vec_id, codes)
    * with the target's pqM × pqK lookup table → the pqRefine best by
    * (approx d², vec_id) → exact cosine of just those rows of `vecs`
    * (vec_id, e). The candidates stay a tiny broadcast DataFrame — no
    * driver roundtrip, and the one returned plan carries both scans. */
  private def adcRefine(codes: DataFrame, vecs: DataFrame, te: Array[Double],
                        tq: Array[Long], cb: Array[Array[Array[Long]]], k: Int,
                        cfg: SimilarityConfig): DataFrame = {
    val lut = Array.tabulate(cb.length, cb(0).length)((m, c) => d2(tq, m * cfg.pqSub, cb(m)(c)))
    val cand = codes
      .select(col("vec_id"), adcUdf(lut)(col("codes")).as("d2"))
      .orderBy(asc("d2"), asc("vec_id")).limit(cfg.pqRefine)
      .select("vec_id")
    cosTop(vecs.join(broadcast(cand), Seq("vec_id")), typedLit(te.toSeq), k)
  }

  /** IVF-PQ top-k over `vecs` (vec_id, e, k) and `codes` (vec_id, codes,
    * kc): both restricted to the `nprobe` clusters nearest the target,
    * then [[adcRefine]]. */
  private def ivfPqTop(vecs: DataFrame, codes: DataFrame, cents: Array[Array[Long]],
                       cb: Array[Array[Array[Long]]], targetId: Long, k: Int,
                       nprobe: Int, cfg: SimilarityConfig): DataFrame =
    withTarget(vecs, targetId) { (te, tq) =>
      val probed = probe(cents, tq, nprobe)
      adcRefine(codes.filter(col("kc").isin(probed: _*)),
        vecs.filter(col("k").isin(probed: _*)), te, tq, cb, k, cfg)
    }

  /** Flat PQ ANN: ADC scan over the committed codes table → pqRefine best
    * candidates → exact-cosine re-rank of just those. The target and the
    * candidates' full vectors come from the persisted corpus, so no query
    * reads the embeddings table. Output shape matches [[cosTopK]];
    * recall@k is tuned by cfg.pqRefine. */
  def annPq(spark: SparkSession, sfDir: String, targetId: Long, k: Int,
            cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val dir = pqDir(spark, sfDir, cfg)
    val vq = corpus(spark, sfDir)
    withTarget(vq, targetId) { (te, tq) =>
      adcRefine(codesOf(spark, dir), vq, te, tq, book(spark, s"$dir/codebooks"), k, cfg)
    }
  }

  /** IVF-PQ ANN, the in-memory twin of [[annIvfPqIndexed]]: the committed
    * centroids and codebooks, the corpus assigned and coded on every call.
    * Codebooks are global (no residual encoding — documented
    * simplification; residual PQ would break the SQL-oracle parity that
    * pins this op). */
  def annIvfPq(spark: SparkSession, sfDir: String, targetId: Long, k: Int,
               nprobe: Int,
               cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val cb = book(spark, s"${pqDir(spark, sfDir, cfg)}/codebooks")
    val cents = centroids(spark, ivfDir(spark, sfDir, cfg))
    val vq = corpus(spark, sfDir)
    ivfPqTop(assigned(vq, cents), pqCodes(vq, cents, cb, cfg), cents, cb, targetId, k, nprobe, cfg)
  }

  /** Build the MATERIALIZED IVF-PQ index under `dir`:
    *
    *   codebooks/  (m, k, c: array<bigint>)      — pqM·pqK sub-centroids
    *   codes/      (vec_id, codes: array<int>)   — Hive-partitioned by
    *               `kc=<coarse cluster>`, vec_id-sorted within files
    *
    * over the [[buildIvf]] index of the same config (its centroids give
    * `kc`; its vectors/ serve the refine). The ADC scan of a query reads
    * ONLY the probed `kc=` code partitions — partition pruning over a
    * table already 64× smaller than the vectors. */
  def buildPq(spark: SparkSession, sfDir: String, dir: String,
              cfg: SimilarityConfig = SimilarityConfig.Default): Unit =
    writePq(spark, sfDir, dir, cfg, centroids(spark, ivfDir(spark, sfDir, cfg)))

  private def writePq(spark: SparkSession, sfDir: String, dir: String,
                      cfg: SimilarityConfig, cents: Array[Array[Long]]): Unit = {
    import spark.implicits._
    val vq = corpus(spark, sfDir)
    val cb = trainPqCodebooks(vq, cfg)
    cb.zipWithIndex.flatMap { case (cbm, m) =>
      cbm.zipWithIndex.map { case (c, k) => (m, k, c.toSeq) }
    }.toSeq.toDF("m", "k", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    pqCodes(vq, cents, cb, cfg)
      .repartition(col("kc"))
      .sortWithinPartitions("vec_id")
      .write.mode("overwrite").partitionBy("kc").parquet(s"$dir/codes")
  }

  /** IVF-PQ over the MATERIALIZED indexes: centroids + codebooks come from
    * the dirs' memo, the ADC scan reads only the probed `kc=` code
    * partitions and the refine reads the pqRefine candidates from the
    * probed `k=` vector partitions (both pruned, pinned by PlanSpec).
    * Results are identical to [[annIvfPq]]; only the physical plan
    * differs. Per-query IO: probed codes + pqRefine full vectors — at no
    * point does anything corpus-sized move. */
  def annIvfPqIndexed(spark: SparkSession, sfDir: String, targetId: Long,
                      k: Int, nprobe: Int,
                      cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val cdir = pqDir(spark, sfDir, cfg)
    val vdir = ivfDir(spark, sfDir, cfg)
    ivfPqTop(vectorsOf(spark, vdir), codesOf(spark, cdir),
      centroids(spark, vdir), book(spark, s"$cdir/codebooks"), targetId, k, nprobe, cfg)
  }
}
