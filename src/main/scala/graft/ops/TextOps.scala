package graft.ops

import graft.analysis.{Analyzer, StopWords, TextHash}
import graft.sources.Corpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text-pipeline operators over the documents table: token
  * counting, language ID, quality scoring, fingerprinting, exact dedup,
  * SimHash, MinHash-LSH candidate pairs, n-gram Jaccard near-dup pairs.
  *
  * All ops are distributed (explode / groupBy / LSH bucket self-join — no
  * driver-side loops) and mirror the DuckDB oracle SQL bit-for-bit on
  * integers and to 4 decimals on doubles. "Raw" tokens = lowercased
  * [letter/digit]+ runs, stopwords KEPT (language ID needs them).
  */
object TextOps {

  private val rawToksUdf = udf((t: String) => Analyzer.tokenizeRaw(t))
  private val polyHashUdf = udf((s: String) => TextHash.polyHash31(s))

  /** Half-up rounding of the integer ratio num/den to 4 decimals, computed
    * ENTIRELY in integer arithmetic: floor((2·num·10^4 + den) / (2·den)) is
    * exactly round-half-up(num·10^4/den) for non-negative operands. The
    * ops' quality/dup/top fractions are all ratios of small integers, and
    * round(x, 4) on the double quotient breaks Spark↔DuckDB parity on
    * exact .00005 half-way ties (Spark BigDecimal HALF_UP vs DuckDB —
    * observed at sf0.1: 0.575·0.85 = 0.48875 exactly). Both engines run
    * this same integer formula (see OracleSqlOps.r4Sql), so ties are
    * impossible by construction. Overflow-safe while num·2·10^4 < 2^63,
    * i.e. num < 4.6·10^14 — docs would need >20M tokens to exceed it. */
  private[graft] def r4(num: Long, den: Long): Double =
    if (den == 0L) 0.0 else ((num * 20000L + den) / (2L * den)).toDouble / 10000.0

  /** (doc_id, n_tokens) raw token counts. */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Corpus.documents(spark, sfDir)
      .select(col("doc_id"), size(rawToksUdf(col("text"))).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  // Whitespace fields and BPE-ish subword pieces (letter runs / digit runs
  // / single non-space symbols) — the two cheap token-budget estimators a
  // training-data pipeline tracks alongside analyzer tokens. Explicit
  // character classes (not \s / \S) because Java and RE2 disagree on \s's
  // exact membership; these classes are identical in both engines.
  private val WsPattern = java.util.regex.Pattern.compile("[^ \\t\\n\\r]+")
  private val BpePattern =
    java.util.regex.Pattern.compile("[\\p{L}]+|[\\p{Nd}]+|[^\\p{L}\\p{Nd} \\t\\n\\r]")
  private def countMatches(p: java.util.regex.Pattern, s: String): Long = {
    if (s == null) return 0L
    val m = p.matcher(s)
    var c = 0L
    while (m.find()) c += 1
    c
  }
  private val wsCountUdf = udf((t: String) => countMatches(WsPattern, t))
  private val bpeCountUdf = udf((t: String) => countMatches(BpePattern, t))

  /** (doc_id, n_ws, n_pieces): whitespace-field count + BPE-ish piece
    * count over lower(text). */
  def tokenPieces(spark: SparkSession, sfDir: String): DataFrame =
    Corpus.documents(spark, sfDir)
      .select(col("doc_id"), wsCountUdf(col("text")).as("n_ws"),
        bpeCountUdf(lower(col("text"))).as("n_pieces"))
      .orderBy("doc_id")

  /** (doc_id, pred_lang) — function-word-vote language ID over en/fr/de
    * (the reference's embedded stopword sets) plus es/it (curated langId
    * lists); ties resolved en > fr > de > es > it; no votes → 'und'. */
  private[graft] def predictLang(t: String): String = {
    val toks = Analyzer.tokenizeRaw(t)
    val votes = Array(
      toks.count(StopWords.english.contains),
      toks.count(StopWords.french.contains),
      toks.count(StopWords.german.contains),
      toks.count(StopWords.langIdSpanish.contains),
      toks.count(StopWords.langIdItalian.contains))
    if (votes.forall(_ == 0)) "und"
    else {
      val langs = Array("en", "fr", "de", "es", "it")
      langs(votes.indexOf(votes.max))
    }
  }

  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = udf(predictLang _)
    Corpus.documents(spark, sfDir).select(col("doc_id"), pred(col("text")).as("pred_lang"))
      .orderBy("doc_id")
  }

  /** (doc_id, n_tokens, stop_ratio, quality): stop_ratio = stopword share,
    * quality = distinct_ratio · (1 − stop_ratio) — a simple repetition ×
    * function-word heuristic. */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val f = udf { (t: String) =>
      val toks = Analyzer.tokenizeRaw(t)
      val n = toks.length.toLong
      if (n == 0) (0L, 0.0, 0.0)
      else {
        val stop = toks.count(StopWords.english.contains).toLong
        val dn = toks.distinct.length.toLong
        // stop_ratio = stop/n; quality = (dn/n)·((n−stop)/n) = dn·(n−stop)/n²
        // — both rounded via the tie-free integer formula (see r4)
        (n, r4(stop, n), r4(dn * (n - stop), n * n))
      }
    }
    Corpus.documents(spark, sfDir)
      .select(col("doc_id"), f(col("text")).as("q"))
      .select(col("doc_id"), col("q._1").as("n_tokens"),
        col("q._2").as("stop_ratio"), col("q._3").as("quality"))
      .orderBy("doc_id")
  }

  /** (doc_id, n_bigrams, dup_frac, top_frac) — repetition diagnostics over
    * raw-token bigrams (the Gopher-style repeated-n-gram quality filters):
    * dup_frac = 1 − distinct/total bigrams, top_frac = share of the single
    * most frequent bigram. Pure per-row map — no shuffle at any scale. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    repetitionOver(Corpus.documents(spark, sfDir))

  private[graft] def repetitionOver(source: DataFrame): DataFrame = {
    val f = udf { (t: String) =>
      val toks = Analyzer.tokenizeRaw(t)
      if (toks.length < 2) (0L, 0.0, 0.0)
      else {
        val counts = new java.util.HashMap[String, Int]()
        var i = 0
        var mx = 0
        val n = toks.length - 1
        while (i < n) {
          val g = toks(i) + " " + toks(i + 1)
          val c = counts.merge(g, 1, (a, b) => a + b)
          if (c > mx) mx = c
          i += 1
        }
        // dup_frac = (n − distinct)/n, top_frac = max/n — integer ratios
        // rounded via the tie-free formula (same half-way trap as quality)
        (n.toLong, r4(n.toLong - counts.size, n.toLong), r4(mx.toLong, n.toLong))
      }
    }
    source
      .select(col("doc_id"), f(col("text")).as("r"))
      .select(col("doc_id"), col("r._1").as("n_bigrams"),
        col("r._2").as("dup_frac"), col("r._3").as("top_frac"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag corpus docs sharing ≥1 distinct
    * 3-word shingle with the held-out eval slice (docs where
    * doc_id % evalMod == evalRem stand in for an eval/benchmark set).
    * Output (doc_id, n_hits) over NON-eval docs with n_hits ≥ 1.
    *
    * Scale shape: real eval sets are tiny vs a 100 TB corpus, so the
    * distinct eval-shingle hashes are broadcast — the corpus side is a
    * map-side explode + broadcast-hash semi-join (no corpus shuffle); only
    * the matching (doc, shingle) hits shuffle into the per-doc count. */
  def decontaminate(spark: SparkSession, sfDir: String,
                    evalMod: Long = 13L, evalRem: Long = 7L): DataFrame =
    decontaminateOver(Corpus.documents(spark, sfDir), evalMod, evalRem)

  private[graft] def decontaminateOver(source: DataFrame, evalMod: Long,
                                       evalRem: Long): DataFrame = {
    val shUdf = udf((t: String) =>
      TextHash.shingles(Analyzer.tokenizeRaw(t)).distinct.map(TextHash.polyHash31))
    val sh = source.select(col("doc_id"), explode(shUdf(col("text"))).as("h"))
    val evalSh = sh.filter(col("doc_id") % evalMod === evalRem).select("h").distinct()
    sh.filter(col("doc_id") % evalMod =!= evalRem)
      .join(broadcast(evalSh), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Deterministic hash-based stratified sampling: keep a doc iff
    * polyHash31("smpl:" + doc_id) mod 10000 < per-source threshold
    * (rate·10000, rounded once on the driver — no float casts in the
    * plan). Reproducible across runs/cluster sizes, map-side only (the
    * scan reads just doc_id+source via column pruning), and per-stratum
    * rates compose into training-data mixture weights. */
  def stratifiedSample(spark: SparkSession, sfDir: String,
                       rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val thrCol = rates.toSeq.sortBy(_._1).foldLeft(
      lit(math.round(defaultRate * 10000).toInt)) { case (acc, (src, r)) =>
      when(col("source") === lit(src), lit(math.round(r * 10000).toInt)).otherwise(acc)
    }
    Corpus.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        polyHashUdf(concat(lit("smpl:"), col("doc_id").cast("string"))).as("h"))
      .filter(col("h") % 10000 < thrCol)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** One-pass quality-filter pipeline — the composed cleaning predicate a
    * training-data job runs before dedup, evaluated in a SINGLE map-side
    * scan (running langId + quality + repetition as separate ops costs
    * three corpus scans; at 100 TB the scan IS the cost):
    * (doc_id, pred_lang, n_tokens, quality, dup_frac, keep) with
    * keep = lang ∈ keepLangs ∧ n_tokens ≥ minTokens ∧ quality ≥ minQuality
    * ∧ dup_frac ≤ maxDupFrac. Thresholds compare the round-4 values so the
    * predicate is identical in both engines. */
  def filterPipeline(spark: SparkSession, sfDir: String, keepLangs: Set[String],
                     minTokens: Long, minQuality: Double, maxDupFrac: Double): DataFrame = {
    val f = udf { (t: String) =>
      val toks = Analyzer.tokenizeRaw(t)
      val n = toks.length
      val lang = predictLang(t)
      val (q, dup) =
        if (n == 0) (0.0, 0.0)
        else {
          val nl = n.toLong
          val stop = toks.count(StopWords.english.contains).toLong
          val dn = toks.distinct.length.toLong
          // same tie-free integer rounding as quality/repetition (r4)
          val quality = r4(dn * (nl - stop), nl * nl)
          val dupFrac =
            if (n < 2) 0.0
            else {
              val counts = new java.util.HashMap[String, Int]()
              var i = 0
              while (i < n - 1) {
                counts.merge(toks(i) + " " + toks(i + 1), 1, (a, b) => a + b)
                i += 1
              }
              r4(nl - 1L - counts.size, nl - 1L)
            }
          (quality, dupFrac)
        }
      (lang, n.toLong, q, dup)
    }
    // empty keepLangs = keep nothing — generated explicitly (isin() over an
    // empty list and SQL "IN ()" disagree between engines)
    val langKeep =
      if (keepLangs.isEmpty) lit(false)
      else col("pred_lang").isin(keepLangs.toSeq: _*)
    Corpus.documents(spark, sfDir)
      .select(col("doc_id"), f(col("text")).as("r"))
      .select(col("doc_id"), col("r._1").as("pred_lang"),
        col("r._2").as("n_tokens"),
        col("r._3").as("quality"), col("r._4").as("dup_frac"))
      .withColumn("keep",
        langKeep &&
          col("n_tokens") >= minTokens &&
          col("quality") >= minQuality &&
          col("dup_frac") <= maxDupFrac)
      .orderBy("doc_id")
  }

  /** (doc_id, fp) — polynomial rolling-hash fingerprint of lower(text). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Corpus.documents(spark, sfDir)
      .select(col("doc_id"), polyHashUdf(lower(col("text"))).as("fp"))
      .orderBy("doc_id")

  /** Dedup on the canonical distinct-term-set signature, shuffled as its
    * 128-bit MD5 (fixed-width key — an O(doc)-byte string key would
    * dominate the shuffle at scale): (sig, cnt, keep_id) groups with
    * cnt > 1, keep_id = min doc_id. Token-less docs carry no signature
    * (the SQL mirror's unnest drops them the same way). Byte-exact text
    * identity is the separate `fingerprint` op. */
  /** UTF-8-byte-order comparison (== codepoint order): Java's default
    * String ordering compares UTF-16 code units, which sorts astral-plane
    * tokens BEFORE high-BMP ones while the DuckDB oracle's binary UTF-8
    * collation sorts them after — signatures must agree byte-for-byte. */
  private[graft] def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val sigUdf = udf((t: String) =>
      Analyzer.tokenizeRaw(t).distinct.sortWith(utf8Less).mkString(" "))
    Corpus.documents(spark, sfDir)
      .select(col("doc_id"), sigUdf(col("text")).as("rawsig"))
      .filter(col("rawsig") =!= "")
      .select(col("doc_id"), md5(encode(col("rawsig"), "UTF-8")).as("sig"))
      .groupBy("sig")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("keep_id"))
      .filter(col("cnt") > 1)
      .orderBy("sig")
  }

  /** (doc_id, simhash) — 63-bit SimHash over raw-token TFs. */
  def simHash(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = udf((t: String) => TextHash.simHash63(Analyzer.termFreqs(Analyzer.tokenizeRaw(t))))
    Corpus.documents(spark, sfDir).select(col("doc_id"), sh(col("text")).as("simhash"))
      .orderBy("doc_id")
  }

  /** Near-dup pairs by SimHash hamming distance ≤ `maxHam`, candidates from
    * banded buckets: the 63-bit simhash splits into 4 bands (16+16+16+15
    * bits); by pigeonhole, any pair within hamming distance 3 agrees on at
    * least one full band, so for maxHam ≤ 3 the banded candidates are
    * EXHAUSTIVE — no all-pairs join and no recall loss (pinned by a test).
    * The exhaustiveness argument depends only on the band COUNT, so the
    * wide (~2^16-key) bands keep it while giving real near-dup clusters
    * 256× more bucket space than the old 31-bit layout, whose 7-8-bit
    * bands overflowed the BucketCap guard one scale factor up. Pairs are
    * generated inside each (band, key) bucket like minHashPairs; the
    * hamming verify (bit_count(xor)) runs in the same codegen stage.
    * Output (a, b, hamming). */
  def simHashPairs(spark: SparkSession, sfDir: String, maxHam: Int,
                   cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame =
    simHashPairsCore(Corpus.documents(spark, sfDir), maxHam, cfg).orderBy("a", "b")

  private def simHashPairsCore(source: DataFrame, maxHam: Int,
                               cfg: SimilarityConfig): DataFrame = {
    require(maxHam <= 3, s"banded candidates are exhaustive only for maxHam <= 3 (got $maxHam)")
    val sh = udf((t: String) => TextHash.simHash63(Analyzer.termFreqs(Analyzer.tokenizeRaw(t))))
    // literal-index band array for the same reason as [[minHashBands]]:
    // transform(sequence(0,3), ...) evaluates interpreted; four constant
    // shiftright/% structs stay inside whole-stage codegen. Same keys.
    val bandArr = array((0 to 3).map { b =>
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), b * 16) % lit(65536)).as("key"))
    }: _*)
    source
      .select(col("doc_id"), sh(col("text")).as("simhash"))
      .select(col("doc_id"), col("simhash"), explode(bandArr).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
      .groupBy("band", "key")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .withColumn("ds", when(size(col("ds")) <= cfg.bucketCap, col("ds"))
        .otherwise(raise_error(concat(
          lit(s"SimHash band bucket exceeds ${cfg.bucketCap} docs — dedupExact first (band "),
          col("band"), lit(")")))))
      .select(explode(col("ds")).as("x"), col("ds"))
      .select(col("x"), explode(col("ds")).as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("cast(bit_count(x.simhash ^ y.simhash) AS bigint)").as("hamming"))
      .filter(col("hamming") <= maxHam)
      .groupBy("a", "b").agg(min("hamming").as("hamming")) // dedup across bands
  }

  /** Edit-distance VERIFY over SimHash near-dup candidates — the precision
    * stage a dedup pipeline runs after banded recall: for each candidate
    * pair within hamming ≤ `maxHam`, the true character-level edit
    * distance, kept when ≤ `maxEdit`. Output (a, b, hamming, edit_dist).
    *
    * Scale shape: the candidate-pair table is ≪ corpus, so it is BROADCAST
    * to both text lookups — the documents scan stays map-side (no corpus
    * shuffle) and runs once per side with only (doc_id, text) read. The
    * Levenshtein kernel is Spark's threshold variant (banded DP, O(maxEdit
    * · min(|a|,|b|)) per pair instead of O(|a|·|b|)), which returns −1
    * past the threshold — exactly the rows the ≤ maxEdit cut discards, so
    * the banding is free. The SQL mirror computes the plain distance and
    * applies the same cut. */
  def nearDupEdit(spark: SparkSession, sfDir: String, maxHam: Int = 3,
                  maxEdit: Int = 32,
                  cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val d = Corpus.documents(spark, sfDir)
    val pairs = simHashPairsCore(d, maxHam, cfg)
    broadcast(pairs)
      .join(d.select(col("doc_id").as("a"), col("text").as("ta")), "a")
      .join(d.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .withColumn("edit_dist",
        levenshtein(col("ta"), col("tb"), maxEdit).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select("a", "b", "hamming", "edit_dist")
      .orderBy("a", "b")
  }

  /** Fixed-window token chunking with stride — the training-data prep step
    * that splits documents into model-context-sized pieces (window tokens,
    * overlapping by window − stride): (doc_id, chunk_id, n_chunk_tokens,
    * chunk_hash) where chunk_hash = polyHash31 of the space-joined chunk
    * tokens (the key downstream dedup/packing steps group on). Chunk
    * starts are 0, stride, 2·stride, … while start < n; token-less docs
    * emit nothing. Pure per-row map + explode — no shuffle at any scale,
    * and output size is bounded by n/stride chunks per doc. */
  def chunks(spark: SparkSession, sfDir: String, window: Int = 64,
             stride: Int = 48): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window (got window=$window stride=$stride)")
    val f = udf { (t: String) =>
      val toks = Analyzer.tokenizeRaw(t)
      val n = toks.length
      (0 until n by stride).map { st =>
        val chunk = toks.slice(st, math.min(st + window, n))
        (st / stride, chunk.length.toLong, TextHash.polyHash31(chunk.mkString(" ")))
      }.toArray
    }
    Corpus.documents(spark, sfDir)
      .select(col("doc_id"), explode(f(col("text"))).as("c"))
      .select(col("doc_id"), col("c._1").cast("long").as("chunk_id"),
        col("c._2").as("n_chunk_tokens"), col("c._3").as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Token-stream PACKING — the GPT-style pretraining step after
    * chunking: concatenate all chunks in stable (doc_id, chunk_id) order
    * into one virtual token stream and split it into fixed `budget`-token
    * training bins. Output (doc_id, chunk_id, bin, off): the bin a chunk
    * STARTS in and its offset there (concat-and-split semantics — a chunk
    * may straddle into bin+1, exactly like real sequence packing).
    *
    * Scale shape: a global running sum. The naive window
    * (`sum OVER (ORDER BY …)` with no PARTITION BY) collapses to ONE task
    * in Spark — unusable at corpus scale — so this op does the
    * distributed two-pass prefix sum instead: range-repartition by the
    * order key, per-partition token totals (one tiny row per partition)
    * prefix-scanned on the driver, then a single map pass adds each
    * partition's base offset. Cost: one range shuffle + two narrow passes
    * over the sorted data; nothing corpus-sized is ever single-tasked or
    * driver-resident. */
  def packChunks(spark: SparkSession, sfDir: String, window: Int = 64,
                 stride: Int = 48, budget: Long = 256L): DataFrame = {
    import spark.implicits._
    require(budget >= 1)
    val sorted = chunks(spark, sfDir, window, stride)
      .select("doc_id", "chunk_id", "n_chunk_tokens")
      .repartitionByRange(col("doc_id"), col("chunk_id"))
      .sortWithinPartitions("doc_id", "chunk_id")
      .as[(Long, Long, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = sorted.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(s += _._3); Iterator((i, s))
      }.collect().sortBy(_._1).map(_._2)
    val bases = partSums.scanLeft(0L)(_ + _) // bases(i) = tokens before partition i
    val bc = spark.sparkContext.broadcast(bases)
    // `sorted` stays persisted for the second pass: the offsets assume the
    // EXACT partitioning the totals were taken from, so the map pass must
    // read the materialized partitions, not a recomputed shuffle
    sorted.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var s = bc.value(i)
        it.map { case (d, c, n) =>
          val start = s; s += n
          (d, c, start / budget, start % budget)
        }
      }.toDF("doc_id", "chunk_id", "bin", "off")
      .orderBy("doc_id", "chunk_id")
  }

  /** Corpus-level collocation mining: adjacent-bigram PMI over raw tokens,
    * for bigrams seen ≥ `minCount` times. PMI(a,b) = ln(U/c_a) + ln(U/c_b)
    * − ln(B/c_ab) where U/B are total unigram/bigram instances — each term
    * is the log of ONE division of two exact longs, rounded to integer
    * 1e-4 micro-units (the surprisal op's parity recipe: the micro-unit
    * SUM is exact integer arithmetic, so engine/association-order effects
    * cannot move the result), and all three logs are of ratios ≥ 1 so the
    * roundings stay on non-negative values where Spark HALF_UP and the
    * oracle's round() agree. Output (w1, w2, n_ab, pmi).
    *
    * Scale shape: one corpus scan explodes bigrams into a (w1,w2)-keyed
    * partial-agg count (map-side combine absorbs the repetition that makes
    * a bigram interesting); unigram counts are the same shape; the n_ab ≥
    * minCount cut shrinks the bigram side BEFORE the two term-keyed joins;
    * the two scalar totals ride in as a broadcast. Nothing corpus-sized
    * reaches the driver. */
  def pmi(spark: SparkSession, sfDir: String, minCount: Long = 10L): DataFrame = {
    val bgUdf = udf { (t: String) =>
      val toks = Analyzer.tokenizeRaw(t)
      if (toks.length < 2) Array.empty[(String, String)]
      else Array.tabulate(toks.length - 1)(i => (toks(i), toks(i + 1)))
    }
    val d = Corpus.documents(spark, sfDir)
    val uni = d.select(explode(rawToksUdf(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bgCounts = d.select(explode(bgUdf(col("text"))).as("g"))
      .select(col("g._1").as("w1"), col("g._2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val tot = uni.agg(sum("c").as("tu"))
      .crossJoin(bgCounts.agg(sum("n_ab").as("tb")))
    def micro(num: Column, den: Column): Column =
      round(lit(10000.0) * log(num.cast("double") / den)).cast("long")
    bgCounts
      .filter(col("n_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi",
        ((micro(col("tu"), col("c1")) + micro(col("tu"), col("c2")) -
          micro(col("tb"), col("n_ab"))).cast("double") / 10000.0))
      .select("w1", "w2", "n_ab", "pmi")
      .orderBy("w1", "w2")
  }

  /** Incremental dedup — the shape a CONTINUOUSLY-INGESTING corpus needs:
    * near-dup-check a small incoming batch against the existing corpus
    * without re-pairing the corpus with itself. Docs with doc_id % batchMod
    * == batchRem stand in for the incoming batch; output one row per new
    * doc that shares ≥ 1 MinHash band bucket with an old doc:
    * (doc_id, n_dups = distinct colliding old docs, first_dup = min such).
    *
    * Scale shape: band signatures are one map-side scan; the NEW side is
    * batch-sized and BROADCAST, so the corpus-sized old side never
    * shuffles — the bucket equi-join is map-side, and only the collision
    * pairs (≪ corpus) reach the distinct + per-new-doc aggregate. This is
    * the complement of [[minHashPairs]] (corpus self-dedup): cost scales
    * with the batch, not the corpus. */
  def dedupIncremental(spark: SparkSession, sfDir: String,
                       batchMod: Long = 10L, batchRem: Long = 3L,
                       cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val bands = minHashBands(Corpus.documents(spark, sfDir), cfg)
    val fresh = bands.filter(col("doc_id") % batchMod === batchRem)
      .select(col("doc_id").as("new_id"), col("band"), col("key"))
    val old = bands.filter(col("doc_id") % batchMod =!= batchRem)
      .select(col("doc_id").as("old_id"), col("band"), col("key"))
    old.join(broadcast(fresh), Seq("band", "key"))
      .select(col("new_id").as("doc_id"), col("old_id")).distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dups"), min("old_id").as("first_dup"))
      .orderBy("doc_id")
  }

  /** (doc_id, band, key) MinHash-LSH band buckets: 8 permutations over
    * 3-word-shingle hashes, 4 bands × 2 rows. Shared by minHashPairs and
    * ngramJaccard — the band-bucket equi-join IS the scale path for both. */
  private def minHashBands(source: DataFrame, cfg: SimilarityConfig): DataFrame = {
    val k = cfg.minHashK
    // fused signature kernel: hashes every 3-token window in place —
    // no shingle-string build, no distinct set (a MIN over permuted
    // hashes is duplicate-invariant; identical signatures, pinned by a
    // TextHash test). <3 tokens ⇒ empty (SQL drops them too).
    val sigUdf = udf { (t: String) =>
      TextHash.minHashSigWindows(Analyzer.tokenizeRaw(t), 3, k)
    }
    // band structs as a literal-index array, NOT transform(sequence(...)):
    // the band count is a plan-time constant, and a higher-order function
    // evaluates its lambda INTERPRETED per element outside whole-stage
    // codegen (guide §4) — an array of constant-ordinal element_at
    // expressions is the same values in codegen. Same order, same keys.
    val bandArr = array((0 until k / 2).map { b =>
      struct(lit(b).as("band"),
        (col("sig")(2 * b) * lit(2147483647L) + col("sig")(2 * b + 1)).as("key"))
    }: _*)
    source
      .select(col("doc_id"), sigUdf(col("text")).as("sig"))
      .filter(size(col("sig")) === k)
      .select(col("doc_id"), explode(bandArr).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** Candidate pairs (a, b) sharing ≥1 MinHash band bucket — never an
    * all-pairs comparison. Pairs are generated INSIDE each (band, key)
    * bucket (one shuffle to buckets, nested explode) rather than a band
    * self-join: the bands table is computed and shuffled once instead of
    * twice, with the same candidate set (VectorOps.similarPairs uses the
    * same shape for embeddings). Bucket sizes stay bounded because the
    * band key space scales with corpus size (raise MinHash rows per band
    * at larger corpora). */
  /** A band bucket larger than SimilarityConfig.bucketCap means the corpus
    * has a huge exact/near-dup cluster that candidate pairing would go
    * quadratic on — fail fast with instructions (run dedupExact first, or
    * raise the config's band knobs) instead of OOMing one reducer. */
  val BucketCap: Int = SimilarityConfig.Default.bucketCap

  private def minHashCandidates(source: DataFrame, cfg: SimilarityConfig): DataFrame =
    minHashBands(source, cfg)
      .groupBy("band", "key").agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1)
      .withColumn("ds", when(size(col("ds")) <= cfg.bucketCap, col("ds"))
        .otherwise(raise_error(concat(
          lit(s"MinHash band bucket exceeds ${cfg.bucketCap} docs — dedupExact first or raise rows/band (band "),
          col("band"), lit(")")))))
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()

  /** MinHash-LSH candidate pairs (a, b). */
  def minHashPairs(spark: SparkSession, sfDir: String,
                   cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame =
    minHashCandidates(Corpus.documents(spark, sfDir), cfg).orderBy("a", "b")

  /** Near-dup CLUSTERING — the dedup-pipeline step after pair generation:
    * connected components over the MinHash-LSH candidate-pair graph.
    * Every doc sharing a band bucket with another lands in a cluster
    * labeled by the component's smallest doc_id, and
    * `keep = (doc_id == cluster)` marks the canonical representative a
    * training pipeline retains. Output (doc_id, cluster, keep) for docs
    * in ≥ 1 candidate pair, ordered by doc_id. */
  def dupClusters(spark: SparkSession, sfDir: String,
                  cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame =
    connectedComponents(minHashCandidates(Corpus.documents(spark, sfDir), cfg))
      .orderBy("doc_id")

  /** Distributed min-label propagation over an (a, b) edge list: each
    * round every node takes the min label over itself and its neighbors;
    * converged when no label changed. Rounds = graph diameter — LSH dup
    * graphs are unions of per-bucket cliques (one round flattens a
    * clique), so a handful of rounds suffices even at corpus scale; an
    * adversarially long chain would want the alternating large-star/
    * small-star variant (O(log n) rounds), a drop-in upgrade of this
    * loop's body. Only a per-round label-sum SCALAR reaches the driver —
    * the label table itself never does, and each round is one shuffle on
    * the node id (partial-agg min) plus one aggregate. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    import spark.implicits._
    // The propagation loop runs on the RDD API — same shuffles (per round:
    // one label join riding the edge partitioning + one node-keyed
    // partial-agg min), but ONE pipelined job per round (the convergence
    // sum materializes the round's persisted labels); the SQL form paid an
    // AQE query-stage job per exchange per round plus a localCheckpoint
    // materialization (measured 20 jobs / 464 tasks for a pairs-sized
    // graph). Ids are Longs, min/sum exact — results bit-identical.
    // labels(id) monotonically decreases toward the component min, so the
    // label SUM strictly decreases on every changing round: one exact
    // BigInt aggregate per round is a complete convergence test (BigInt
    // because at corpus scale sum(doc_id) overflows a Long — 1e9 nodes ×
    // 1e12 ids). Per-round persists bound lineage (previous round released
    // once the next materializes); a flaky cluster swaps in reliable
    // checkpoint(), same seam as the star finder.
    val pairRdd = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].rdd
    // EXPLICIT partition count on every wide RDD op: RDD `union` sums its
    // parents' partitions and `distinct()`/`reduceByKey()` default to
    // inheriting them, so an unparameterized loop DOUBLES partitions per
    // round (measured: exponential task counts by round ~10). Width is
    // SCALE-ADAPTIVE: the pair pipeline's own (AQE-sized) partitioning,
    // capped by the session's shuffle width — the loop state is
    // pairs-bounded, so its shuffles should be sized by the pair input,
    // not a static constant (guide §2.2: fewer, larger partitions).
    val parts = math.max(1, math.min(pairRdd.getNumPartitions,
      spark.sessionState.conf.numShufflePartitions))
    val edges = pairRdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    def lblSum(r: RDD[(Long, Long)]): BigInt =
      r.aggregate(BigInt(0))((acc, kv) => acc + kv._2, _ + _)
    // round 1 folded into initialization: lbl = min(id, min neighbor) is
    // one aggregate over the edge list, no join
    var labels = edges.reduceByKey(math.min(_: Long, _: Long), parts)
      .map { case (id, mn) => (id, math.min(id, mn)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prev: RDD[(Long, Long)] = null
    var prevSum = lblSum(labels)
    var rounds = 1
    var converged = false
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "connected components did not converge in 64 rounds")
      val next = edges.join(labels, parts)
        .map { case (_, (u, lbl)) => (u, lbl) }
        .union(labels)
        .reduceByKey(math.min(_: Long, _: Long), parts)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val newSum = lblSum(next)
      converged = newSum == prevSum
      prevSum = newSum
      if (prev != null) prev.unpersist(false)
      prev = labels
      labels = next
    }
    edges.unpersist(false)
    if (prev != null) prev.unpersist(false)
    labels.toDF("doc_id", "cluster")
      .withColumn("keep", col("doc_id") === col("cluster"))
  }

  /** [[dupClusters]] through the alternating-star component finder — the
    * adversarial-diameter path (identical output, pinned by StarCcSpec
    * and the shared driver oracle). */
  def dupClustersStar(spark: SparkSession, sfDir: String,
                      cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame =
    connectedComponentsStar(minHashCandidates(Corpus.documents(spark, sfDir), cfg))
      .orderBy("doc_id")

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * documented upgrade of [[connectedComponents]]'s min-label loop for
    * graphs whose DIAMETER, not size, is the enemy: label propagation
    * needs O(diameter) rounds (fine for LSH dup graphs — unions of
    * per-bucket cliques — but a chain-of-near-dups corpus can stitch
    * buckets into long paths), this converges in O(log n) alternations
    * on any graph. Each phase is one shuffle on the node id (partial-agg
    * min) plus a distinct; nothing graph-sized ever reaches the driver.
    *
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its closed neighborhood (keeps the graph connected,
    *    strictly decreases the edge potential);
    *  - small-star: every node connects its smaller-or-self closure to
    *    that minimum — after orienting each edge toward its larger
    *    endpoint, so a node's grouped neighborhood is exactly its
    *    smaller neighbors.
    *
    * Fixpoint = the edge set is a union of stars rooted at each
    * component's minimum id; checked EXACTLY (two set differences per
    * alternation — O(log n) of them, vs the label-sum scalar the
    * propagation loop can afford per round because its rounds carry no
    * distinct()). Same output contract as [[connectedComponents]]:
    * (doc_id, cluster, keep) over every node of the pair graph. */
  private[graft] def connectedComponentsStar(pairs: DataFrame): DataFrame =
    connectedComponentsStarRounds(pairs)._1

  private[graft] def connectedComponentsStarRounds(pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    import spark.implicits._
    // The alternations run on the RDD API deliberately: the SHUFFLE SHAPE
    // is unchanged (per phase: one node-keyed partial-agg min + a join
    // riding the same partitioning + the canon distinct; per round: ONE
    // count action, plus one set-difference only when the edge count
    // repeats), but each action is one pipelined job — the SQL form paid
    // an AQE query-stage job PER EXCHANGE per action (measured 42 jobs
    // for a pairs-sized graph; the ids are Longs and min/distinct/count
    // are engine-exact, so results are bit-identical). Convergence stays
    // EXACT: both sides are canonical distinct sets, so |next| = |edges|
    // ∧ next \ edges = ∅ ⟺ next = edges. Lineage is bounded by the
    // per-round persist (each round's edges pin; the previous round's
    // released after the next materializes) — the plan the old form had
    // to localCheckpoint per round is a 2-deep RDD chain here.
    val pairRdd = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // EXPLICIT partition count on every wide RDD op (union sums parents,
    // distinct/reduceByKey inherit — an unparameterized loop doubles
    // partitions per round; measured exponential task counts). Width is
    // SCALE-ADAPTIVE: the pair pipeline's own (AQE-sized) partitioning,
    // capped by the session's shuffle width — loop state is pairs-bounded
    // (guide §2.2: fewer, larger partitions), constant across rounds.
    val parts = math.max(1, math.min(pairRdd.getNumPartitions,
      spark.sessionState.conf.numShufflePartitions))
    def canon(e: RDD[(Long, Long)]): RDD[(Long, Long)] = e
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (u, v) => u != v }.distinct(parts)
    def largeStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val sym = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      val mins = sym.reduceByKey(math.min(_: Long, _: Long), parts)
        .map { case (x, mn) => (x, math.min(x, mn)) }
      canon(sym.join(mins, parts).flatMap { case (x, (y, m)) =>
        if (y > x) Iterator((y, m)) else Iterator.empty })
    }
    def smallStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      // orient toward the larger endpoint: x's grouped neighborhood is
      // exactly its smaller neighbors, so m = min(N(x)) < x always
      val oriented = e.map { case (u, v) => (v, u) }
      val mins = oriented.reduceByKey(math.min(_: Long, _: Long), parts)
      canon(oriented.join(mins, parts).map { case (x, (y, m)) => (y, m) }
        .union(mins))
    }

    var edges = canon(pairRdd).persist(StorageLevel.MEMORY_AND_DISK)
    var cnt = edges.count()
    var prev: RDD[(Long, Long)] = null
    var rounds = 0
    var converged = cnt == 0L
    while (!converged) {
      rounds += 1
      require(rounds <= 40, "alternating-star components did not converge in 40 rounds")
      val next = smallStar(largeStar(edges)).persist(StorageLevel.MEMORY_AND_DISK)
      val nextCnt = next.count()
      converged = nextCnt == cnt && next.subtract(edges, parts).count() == 0L
      if (prev != null) prev.unpersist(false)
      prev = edges
      edges = next
      cnt = nextCnt
    }
    // fixpoint edges are (root=u < member=v) stars; roots and folded-away
    // singletons label themselves. Nodes of the ORIGINAL graph: singletons
    // whose every neighbor folded away still owe an output row.
    val nodes = pairRdd.flatMap { case (a, b) => Iterator(a, b) }.distinct(parts)
    val labels = nodes.map(id => (id, ()))
      .leftOuterJoin(edges.map { case (u, v) => (v, u) }, parts)
      .map { case (id, (_, lbl)) => (id, lbl.getOrElse(id)) }
      .toDF("doc_id", "cluster")
    (labels.withColumn("keep", col("doc_id") === col("cluster")), rounds)
  }

  /** (doc_id, n_tokens, surprisal) — mean unigram surprisal per doc, the
    * LM-free perplexity proxy quality pipelines use alongside stopword/
    * repetition ratios: surprisal(d) = (1/|d|) Σ_t tf_t · ln(total/ctf_t)
    * over the corpus unigram distribution. Per-term contributions are
    * round(1e4·ln(total/ctf)) integer micro-units (one transcendental +
    * one round per DISTINCT (doc,term) — the sums are exact integers, so
    * partial aggregation and engine differences cannot reorder them), and
    * the final mean rounds via the tie-free integer formula. Two
    * term-keyed hash aggregates + one term-keyed join — the standard
    * corpus-statistics shape, no driver-side state. */
  def surprisal(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Corpus.documents(spark, sfDir)
      .select(col("doc_id"), explode(rawToksUdf(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val ctf = tf.groupBy("term").agg(sum("tf").as("ctf"))
    val tot = tf.agg(sum("tf").as("total"))
    val s = tf.join(ctf, "term").crossJoin(broadcast(tot))
      .withColumn("su", col("tf") *
        round(lit(10000.0) * log(col("total").cast("double") / col("ctf"))).cast("long"))
      .groupBy("doc_id").agg(sum("su").as("ssum"), sum("tf").as("n"))
    Corpus.documents(spark, sfDir).select(col("doc_id"))
      .join(s, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_tokens"),
        when(col("n") > 0,
          expr("CAST((ssum * 20000 + n * 10000) div (2 * n * 10000) AS DOUBLE) / 10000"))
          .otherwise(lit(0.0)).as("surprisal"))
      .orderBy("doc_id")
  }

  /** The dedup pipeline's end product: doc ids SURVIVING near-dup
    * clustering — every doc not in any cluster plus each cluster's
    * canonical (min-id) representative. The drop set is pairs-sized
    * ≪ corpus, so the anti-join stays cheap (AQE broadcasts it when it
    * fits); the corpus side is a single column-pruned scan. */
  def dedupApply(spark: SparkSession, sfDir: String,
                 cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val drop = connectedComponents(minHashCandidates(Corpus.documents(spark, sfDir), cfg))
      .filter(!col("keep")).select("doc_id")
    Corpus.documents(spark, sfDir).select("doc_id")
      .join(drop, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Near-dup pairs by 3-word-shingle Jaccard ≥ minJ. Candidates come from
    * the MinHash band buckets (the same family as minHashPairs), then the
    * exact Jaccard is verified over the shingle sets — so no hot-shingle
    * quadratic block and no lexicographic-min blind spot (a near-dup pair
    * whose min shingles differ is still found; pinned by a test). Output
    * (a, b, jaccard). */
  def ngramJaccard(spark: SparkSession, sfDir: String, minJ: Double,
                   cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame =
    ngramJaccardOver(Corpus.documents(spark, sfDir), minJ, cfg)

  /** Shared recall+verify kernel for the exact-overlap family
    * ([[ngramJaccard]], [[containment]]): MinHash-banded candidate pairs
    * with EXACT shingle-set sizes and intersection counts, as
    * (a, b, na, nb, i). Recall is the banded-candidate family's — pairs
    * whose MinHash signatures never band-collide are not scored (the
    * documented LSH trade; the same family gates minHashPairs and
    * dupClusters, so the whole dedup stack shares one recall contract). */
  private[graft] def shingleOverlapOver(source: DataFrame,
      cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame = {
    val shUdf = udf((t: String) => TextHash.shingles(Analyzer.tokenizeRaw(t)).distinct)
    // cand0 feeds TWO consumers (the id-set restriction and the broadcast
    // pair join); without a lineage cut each consumer re-runs the whole
    // banded-candidate kernel — a full corpus tokenize+minhash pass plus
    // its bucket shuffle, twice per query. The pair set is candidate-sized
    // ≪ corpus, so pinning it is free at any scale (guide §1.2: don't
    // recompute what you already paid for).
    val cand0 = minHashCandidates(source, cfg).localCheckpoint(false)
    // no distinct: the LeftSemi probe below only tests membership, so the
    // broadcast build dedupes for free — one less Exchange per query
    val candIds = cand0.select(col("a").as("doc_id"))
      .union(cand0.select(col("b").as("doc_id")))
    // Candidate doc ids are ≪ corpus, so the corpus is SEMI-JOINED down to
    // candidate docs BEFORE the shingle re-tokenization — the broadcast
    // semi-join is a map-side filter on the scan's own doc_id column, so
    // the exact-overlap side tokenizes only candidate docs (the corpus
    // pays one tokenize pass total, inside the banded kernel) and the full
    // corpus never shuffles. The restricted exploded table feeds BOTH
    // sides of the intersection join and is candidate-sized, so it is
    // localCheckpoint'd once (guide §1.2 — don't recompute what you
    // already paid for). The per-doc shingle-set size rides ON the
    // exploded rows (size(sh) before the explode) instead of a separate
    // count aggregate + two broadcast joins — same na/nb values.
    val dshC = source
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shUdf(col("text")).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("nd"), explode(col("sh")).as("s"))
      .localCheckpoint(false) // lazy: the first consumer's job materializes
    broadcast(cand0)
      .join(dshC.select(col("doc_id").as("a"), col("nd").as("na"), col("s")), "a")
      .join(dshC.select(col("doc_id").as("b"), col("nd").as("nb"), col("s")), Seq("b", "s"))
      .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("i"))
  }

  private[graft] def ngramJaccardOver(source: DataFrame, minJ: Double,
      cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame =
    // output rounding via the tie-free integer formula (`div` truncates
    // toward zero = floor for these non-negative operands — same as
    // DuckDB's `//`); the ≥ minJ cut compares the exact double quotient
    // (one IEEE division of two integers — deterministic in both engines)
    shingleOverlapOver(source, cfg)
      .withColumn("jaccard",
        expr("CAST((i * 20000 + (na + nb - i)) div (2 * (na + nb - i)) AS DOUBLE) / 10000"))
      .filter(col("i").cast("double") / (col("na") + col("nb") - col("i")) >= minJ)
      .select("a", "b", "jaccard")
      .orderBy("a", "b")

  /** ASYMMETRIC near-dup: shingle containment in both directions —
    * cont_ab = |Sa∩Sb| / |Sa| (how much of doc a sits inside doc b),
    * cont_ba the reverse — for banded candidate pairs where EITHER
    * direction reaches `minC`. Jaccard misses the quote/subset shape
    * (a short doc wholly copied into a long one scores i/(na+nb-i) ≈
    * na/nb → arbitrarily low); containment is the standard detector for
    * it (Broder's containment measure). Candidates come from the same
    * MinHash band family as [[ngramJaccard]] — the documented recall
    * contract: extreme size-ratio pairs may not band-collide, so this op
    * targets the mostly-contained near-dup regime, not arbitrary
    * substring inclusion (that is [[substrDupSpans]]' job). Scale shape
    * identical to ngramJaccard: bucket-banded recall, semi-joined
    * shingle tables, broadcast candidate set — never all-pairs. */
  def containment(spark: SparkSession, sfDir: String, minC: Double,
                  cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame =
    containmentOver(Corpus.documents(spark, sfDir), minC, cfg)

  private[graft] def containmentOver(source: DataFrame, minC: Double,
      cfg: SimilarityConfig = SimilarityConfig.Default): DataFrame =
    shingleOverlapOver(source, cfg)
      .withColumn("cont_ab",
        expr("CAST((i * 20000 + na) div (2 * na) AS DOUBLE) / 10000"))
      .withColumn("cont_ba",
        expr("CAST((i * 20000 + nb) div (2 * nb) AS DOUBLE) / 10000"))
      .filter(greatest(
        col("i").cast("double") / col("na"),
        col("i").cast("double") / col("nb")) >= minC)
      .select("a", "b", "cont_ab", "cont_ba")
      .orderBy("a", "b")

  /** Exact-substring duplicate spans — the token-level dedup primitive of
    * the training-data literature (remove every substring of ≥ n tokens
    * that appears more than once in the corpus), re-expressed for Spark
    * without the canonical suffix array: each doc's n-token shingles are
    * keyed by a fixed-width MD5 (an O(n·token)-byte string key would
    * dominate the shuffle at scale — same rationale as [[dedupExact]]),
    * duplicated keys are found by ONE hash-partitioned count and the
    * occurrences restricted by a semi-join that REUSES that same
    * partitioning (co-partitioned on `key`: Catalyst plans the agg and the
    * join on one Exchange), and a doc_id-partitioned gaps-and-islands
    * window merges overlapping-or-adjacent duplicated shingle intervals
    * [pos, pos+n) into maximal spans. Nothing is all-pairs, no global
    * sort, no driver-side state: at 100 TB this is two shingle-keyed
    * shuffles plus one doc-keyed window — the same shape as the
    * MinHash-LSH family above.
    *
    * Semantics: a span is the maximal union of overlapping-or-touching
    * duplicated n-shingle intervals (the standard shingle approximation
    * of suffix-array exact-substring dedup: every emitted span starts and
    * ends with corpus-repeated n-grams; a repeat shorter than n tokens is
    * below the dedup threshold by definition). Within-doc repeats count —
    * "more than once in the corpus" includes twice in one document.
    * Output: (doc_id, span_start, span_end, span_len) in token units,
    * span_end exclusive, ordered (doc_id, span_start).
    */
  def substrDupSpans(spark: SparkSession, sfDir: String, n: Int = 8): DataFrame =
    substrDupSpansOver(Corpus.documents(spark, sfDir), n)

  /** One fused tokenize + windowed-hash pass per doc: (pos, h1, h2) per
    * n-token shingle, two independent 64-bit seeds = a 128-bit dedup key.
    * Replaces md5(concat_ws(0x1F, slice(...))) inside a `transform(...)`
    * higher-order expression — HOF lambdas evaluate INTERPRETED (no
    * whole-stage codegen), and md5-of-a-built-string paid a concat
    * allocation plus ~10× more per-byte hash cost; this tight loop was
    * measured at a fraction of that task time. The shuffle key also
    * shrinks from a 32-char hex string to 16 bytes (guide §2.3). 128 bits
    * keeps corpus-scale collision odds negligible (10^12 shingles →
    * ~3e-14 expected colliding pairs); keys are internal — the span
    * output, and the oracle that checks it, never see them. */
  private def shingleKeysUdf(n: Int) = udf { (t: String) =>
    val ts = Analyzer.tokenizeRaw(t)
    if (ts.length < n) Array.empty[(Long, Long, Long)]
    else Array.tabulate(ts.length - n + 1) { i =>
      (i.toLong, TextHash.windowHash(ts, i, n, 1L), TextHash.windowHash(ts, i, n, 2L))
    }
  }

  private[graft] def substrDupSpansOver(source: DataFrame, n: Int): DataFrame = {
    val sh = source
      .select(col("doc_id"), explode(shingleKeysUdf(n)(col("text"))).as("s"))
      .select(col("doc_id"), col("s._1").as("pos"),
        struct(col("s._2").as("h1"), col("s._3").as("h2")).as("key"))
    val dupKeys = sh.groupBy("key").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("key")
    val occ = sh.join(dupKeys, Seq("key"), "left_semi")
    // gaps-and-islands: intervals all have length n and arrive sorted by
    // pos within each doc, so "overlaps or touches the running span" is
    // exactly pos ≤ lag(pos) + n
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val run = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    occ
      .withColumn("nf",
        when(col("pos") > coalesce(lag(col("pos"), 1).over(byDoc) + n,
          lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("grp", sum(col("nf")).over(run))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** Exact-substring dedup END PRODUCT: the corpus with every duplicated
    * span (from [[substrDupSpans]]) removed, as
    * (doc_id, clean_text, n_kept) — clean_text = the surviving raw tokens
    * joined by single spaces, n_kept their count. Docs that analyze to
    * zero tokens vanish (nothing to keep or drop), and so do docs whose
    * EVERY token sits inside a duplicated span — the degenerate whole-doc
    * duplicate drops out entirely (the SQL mirror's unnest + group-by
    * behaves identically).
    *
    * Scale shape: tokens explode map-side; the span filter is a LEFT ANTI
    * join on the doc_id EQUI key with the bounded [start, end) range as a
    * residual condition — spans per doc are few, so the per-doc merge is
    * linear — and the per-doc reassembly groupBy REUSES the join's
    * doc_id partitioning (no extra Exchange). Total: one doc-keyed
    * shuffle per side of the anti join, nothing all-pairs, nothing
    * driver-side. (A fused alternative — per-doc span lists joined back
    * to the raw docs, one map-side drop+rebuild UDF — shuffles ~10× fewer
    * bytes but adds two AQE stage-jobs and measured slower at sf0.1 in an
    * alternating A/B, so it stays out; see OPTIMIZATION_r06.md.) */
  def substrDedupApply(spark: SparkSession, sfDir: String, n: Int = 8): DataFrame =
    substrDedupApplyOver(Corpus.documents(spark, sfDir), n)

  private[graft] def substrDedupApplyOver(source: DataFrame, n: Int): DataFrame = {
    val toks = source
      .select(col("doc_id"), posexplode(rawToksUdf(col("text"))).as(Seq("pos", "term")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("term"))
    val spans = substrDupSpansOver(source, n)
      .select(col("doc_id").as("s_doc_id"), col("span_start"), col("span_end"))
    val kept = toks.join(spans,
      col("doc_id") === col("s_doc_id") &&
        col("pos") >= col("span_start") && col("pos") < col("span_end"),
      "left_anti")
    kept
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("term")))).as("ts"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("ts"), t => t.getField("term"))).as("clean_text"),
        size(col("ts")).cast("long").as("n_kept"))
      .orderBy("doc_id")
  }
}
