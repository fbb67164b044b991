package graft.ops

import graft.analysis.Analyzer
import graft.build.{IndexBuilder, Manifests}
import graft.model.StageManifest
import graft.query.{Bm25, Cascade, LmStage, PosSearcher, Searcher, TwoPass}
import graft.sources.{Corpus, Transcripts}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentHashMap

/** The driver-facing query surface over the `documents` table: every op is
  * implemented THROUGH the engine (index build → query paths), with DuckDB
  * oracle SQL generated by [[graft.oracle.OracleSql]].
  *
  * Parity rules (see OracleSql): round(…,4) at the end, cuts keyed on
  * (round(score,4), doc_id).
  *
  * One owner per table. Corpus tables are read through
  * [[graft.sources.Corpus]]. Every index a query reads is derived from the
  * corpus by [[derived]] (one registry of index dirs, each committed by
  * one done-sentinel — VectorOps' IVF and PQ dirs included), and its
  * tables are read only through the Searcher that serves it: its df frame,
  * its (n, avgdl), its analyzed [[Searcher.termRows]] and its doc-meta
  * sidecar, the one docId → doc_id map. Searchers come from one memo keyed
  * by (index dir, snapshot generation) — the one place a bound on serving
  * state goes. Beside the registry and that memo sit only the positional
  * searchers, the federated readers and each corpus's max doc_id.
  */
object DocQueries {

  /** Reference BM25 parameterization used for the oracle-checked queries. */
  val P: Bm25.Params = Bm25.RefDefaults
  val Shards = 8

  private val derivedDirs = new ConcurrentHashMap[String, String]()
  private val searchers = new ConcurrentHashMap[(String, Long), Searcher]()
  private val maxDocIds = new ConcurrentHashMap[String, java.lang.Long]()

  /** The index dir `tag` derives from sfDir's corpus, made by
    * `make(docs, dir)` at most once per JVM; `docs`, the documents table,
    * is read only if `make` uses it (an embeddings-only corpus dir serves
    * VectorOps' dirs). The dir is version-stamped under `java.io.tmpdir`
    * (a format change never resumes a stale index). A finished `make`
    * commits the dir's `derived` sentinel manifest; a dir without it is
    * the leftover of a killed JVM, deleted and made again, and a dir with
    * it is reused as is. */
  private[graft] def derived(spark: SparkSession, sfDir: String, tag: String)(
      make: (=> DataFrame, String) => Unit): String =
    derivedDirs.computeIfAbsent(sys.props("java.io.tmpdir") +
        s"/graft_${tag}_v${IndexBuilder.FormatVersion}_${Integer.toHexString(sfDir.hashCode)}", dir => {
      if (!Manifests.isDone(dir, "derived")) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        lazy val docs = Corpus.documents(spark, sfDir)
        make(docs, dir)
        Manifests.write(dir, StageManifest("derived", 1, 0, "done", 0))
      }
      dir
    })

  /** The cached Searcher over `dir` as of generation `asOfGen` (-1 =
    * latest); `normalizer` must be the one the index was built with. */
  private def searcherAt(spark: SparkSession, dir: String, asOfGen: Long = -1L,
                         normalizer: Analyzer.Norm = Analyzer.Identity): Searcher =
    searchers.computeIfAbsent((dir, asOfGen), _ =>
      new Searcher(spark, dir, P, cacheTables = true, normalizer = normalizer, asOfGen = asOfGen))

  /** Analyzed length of the `source` metadata field under the default
    * analyzer — EXACTLY the `len` the source-field index computes for the
    * same doc (same Analyzer.analyze call), landed as a build-time docmeta
    * column so combined-fields (BM25F) document lengths are a scalar
    * expression over the sidecar, never a per-query join of two analyzed
    * projections. */
  private val lenSrcUdf = udf((s: String) =>
    graft.analysis.Analyzer.analyze(s, graft.analysis.StopWords.english)._1)

  /** The main index over sfDir's documents table. */
  def indexDir(spark: SparkSession, sfDir: String): String =
    derived(spark, sfDir, "docidx") { (docs0, dir) =>
      val docs = docs0.withColumn("len_src", lenSrcUdf(col("source")))
      // metaCols: the documents table's static per-doc features/group
      // columns, materialized into the index's docmeta sidecar so scoring
      // aggregations (function_score, top_hits, collapse, recency) never
      // reach back to the source table at query time; len_src feeds the
      // combined-fields length fold the same way
      IndexBuilder.build(spark,
        Transcripts.fromDocuments(docs, Seq("lang", "source", "n_chars", "len_src")), dir,
        IndexBuilder.Config(shards = Shards,
          metaCols = Seq("lang", "source", "n_chars", "len_src")))
    }

  def searcher(spark: SparkSession, sfDir: String): Searcher =
    searcherAt(spark, indexDir(spark, sfDir))

  /** (docId, doc_id, `cols`…) of `s`'s doc-meta sidecar: the one map from
    * kernel docIds to the corpus's numeric doc ids (conv_id is the
    * doc_id's canonical string, Transcripts.fromDocuments). Fails with an
    * actionable message when the index was built without a sidecar (no
    * Config.metaCols, or a merge() output — merge does not carry
    * sidecars). */
  private def docIds(s: Searcher, cols: Column*): DataFrame =
    s.docMetaSidecar.getOrElse(throw new IllegalStateException(
      "index has no doc-meta sidecar — rebuild with Config.metaCols set " +
        "(merge() outputs drop sidecars)"))
      .select(col("docId") +: col("conv_id").cast("long").as("doc_id") +: cols: _*)

  /** The (round4 score desc, doc_id asc) top-k cut of a (doc_id, score, …)
    * frame, its score rounded to 4 places. */
  private def cut(df: DataFrame, k: Int): DataFrame =
    df.orderBy(round(col("score"), 4).desc, col("doc_id").asc).limit(k)
      .withColumn("score", round(col("score"), 4))

  /** The (n, round-4 avgdl) row of the index generation `s` serves. */
  private def statsOf(spark: SparkSession, s: Searcher): DataFrame = {
    import spark.implicits._
    Seq((s.n, s.avgdl)).toDF("n", "avgdl").select(col("n"), round(col("avgdl"), 4).as("avgdl"))
  }

  /** `tf`'s (…, term, tf) rows joined to `s`'s df with their round-4
    * tf·idf weight (the reference's D7 idf). The small tf slice is
    * broadcast, so the vocabulary-sized df side never shuffles. */
  private def tfIdf(s: Searcher, tf: DataFrame): DataFrame =
    s.dfDF.join(broadcast(tf), "term").withColumn("tfidf", round(col("tf") *
      log(lit(1.0) + (lit(s.n) - col("df") + 0.5) / (col("df") + 0.5)), 4))

  // stemmed variant of the index + searcher: the lemmatizer seam
  // (Analyzer.Norm) exercised end-to-end on the driver surface. No DuckDB
  // oracle — the Porter-style stemmer is not SQL-expressible, so the
  // driver records the weaker rows-only check; rank identity of the
  // stemmed path is pinned by StemmerSpec against the pure-Scala oracle
  // running the same Norm.
  private def stemSearcher(spark: SparkSession, sfDir: String): Searcher =
    searcherAt(spark, derived(spark, sfDir, "docidx_stem") { (docs, dir) =>
      IndexBuilder.build(spark, Transcripts.fromDocuments(docs), dir,
        IndexBuilder.Config(shards = Shards, normalizer = Analyzer.EnglishStem))
    }, normalizer = Analyzer.EnglishStem)

  /** Corpus last served by [[stemTopK]], recorded for the ORACLE-DUMP
    * path: the vocab-sized raw→stem mapping the DuckDB oracle inlines is
    * computed by [[stemOraclePairs]] at dump time (SparkEntry.oracleSql →
    * Verify), keyed by this dir — the query surface itself no longer
    * runs a vocabulary-proportional collect (that was the one
    * vocab-sized driver collect reachable from SparkEntry.queries), and
    * a multi-corpus run dumps the pairs of the corpus it asks for
    * instead of whichever ran first. None (⇒ the driver's weaker
    * rows-only check) only if the query never ran. */
  @volatile var stemCorpusDir: Option[String] = None

  /** Raw-vocabulary stem map for the q_stem_topk DuckDB oracle, computed
    * ON DEMAND at oracle-dump time (never on the query surface): the map
    * must cover the RAW token vocabulary (tokens are stemmed BEFORE the
    * stopword check — stopword-on-lemma), so it is a distributed distinct
    * over the corpus text; only the dump path pays the vocab-sized
    * collect, which the inlined SQL VALUES literal needs anyway. Sorted
    * and identity-pairs-dropped for a deterministic, minimal literal. */
  def stemOraclePairs(spark: SparkSession): Option[Seq[(String, String)]] =
    stemCorpusDir.map { sfDir =>
      import spark.implicits._
      val raws = Corpus.documents(spark, sfDir)
        .select(col("text")).as[String]
        .flatMap(t => graft.analysis.Analyzer.tokenizeRaw(t).toSeq)
        .distinct().collect()
      raws.toSeq.sorted
        .map(r => (r, graft.analysis.Analyzer.EnglishStem(r)))
        .filter { case (r, s) => r != s }
    }

  /** Top-k through the STEMMED index: inflected query forms retrieve docs
    * containing other inflections of the same stem. */
  def stemTopK(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame = {
    stemCorpusDir = Some(sfDir)
    topKCut(stemSearcher(spark, sfDir).topK(query, k + 50), k)
  }

  // BM25F-simple combined-fields index: the `source` metadata field folded
  // into the scored text with an INTEGER weight w — field f repeated w
  // times is exactly BM25F's simple variant (tf' = Σ w_f·tf_f, dl' = Σ
  // w_f·dl_f, df/stats over the ONE combined pseudo-field), which is what
  // Lucene's CombinedFieldQuery / ES combined_fields computes; realizing
  // it at index time keeps the entire query path (WAND, tombstones, plan
  // shape) unchanged and the oracle expressible as a corpus-relation swap.
  private def combinedSearcher(spark: SparkSession, sfDir: String, w: Int): Searcher =
    searcherAt(spark, derived(spark, sfDir, s"docidx_cf$w") { (docs, dir) =>
      IndexBuilder.build(spark, Transcripts.fromDocuments(docs.withColumn("text",
          concat(col("text"), repeat(concat(lit(" "), col("source")), w)))), dir,
        IndexBuilder.Config(shards = Shards))
    })

  /** Combined-fields top-k through the INDEX-TIME repetition path: the
    * exact-semantics fallback — one full index per (corpus, w). Kept as
    * the semantic yardstick the query-time path is spec-pinned against;
    * [[combinedFieldsTopK]] (the served surface) needs no per-weight
    * build. */
  def combinedFieldsTopKIndexed(spark: SparkSession, sfDir: String, query: String,
                                w: Int, k: Int): DataFrame =
    topKCut(combinedSearcher(spark, sfDir, w).topK(query, k + 50), k)

  // Auxiliary SOURCE-FIELD index (one per corpus, weight-INDEPENDENT):
  // the source metadata values indexed as their own pseudo-text. Together
  // with the main text index this is field-tagged postings in two-table
  // form — the seam that makes combined-fields weights a QUERY-TIME knob.
  // Built WITH a docmeta sidecar so its docId → doc_id resolution is a
  // narrow cached sidecar read, like every other scoring aggregation.
  private def sourceSearcher(spark: SparkSession, sfDir: String): Searcher =
    searcherAt(spark, derived(spark, sfDir, "docidx_src") { (docs, dir) =>
      IndexBuilder.build(spark,
        Transcripts.fromDocuments(docs.withColumn("text", col("source")), Seq("source")), dir,
        IndexBuilder.Config(shards = Shards, metaCols = Seq("source")))
    })

  /** Combined-fields top-k (Lucene CombinedFieldQuery / ES combined_fields,
    * BM25F-simple) with QUERY-TIME field weights: tf' = tf_text + w·tf_src,
    * dl' = len_text + w·len_src, avgdl' = (Σlen_text + w·Σlen_src)/n, df' =
    * |docs with the term in EITHER field| — exactly the statistics the
    * index-time repetition build realizes, folded at query time from the
    * main text index plus the weight-independent source-field index, so
    * changing w never rebuilds anything (the two paths are spec-pinned
    * row-identical).
    *
    * Scale shape: each index's live postings of the query terms come from
    * its Searcher's shard job (cost ∝ their posting lists, never a corpus
    * explode; tombstoned docs excluded); per-index docId→doc_id/len
    * resolution reads the cached doc-meta sidecar; df'/query tables
    * broadcast; one doc-keyed partial-agg shuffle sums the per-term parts;
    * the cut is a bounded TakeOrdered. */
  def combinedFieldsTopK(spark: SparkSession, sfDir: String, query: String,
                         w: Int, k: Int): DataFrame = {
    import spark.implicits._
    require(w >= 0, s"field weight must be >= 0 (got $w)")
    val st = searcher(spark, sfDir)
    val ss = sourceSearcher(spark, sfDir)
    val qtf = graft.analysis.Analyzer.termFreqs(
      graft.analysis.Analyzer.tokenizeEn(query))
    if (qtf.isEmpty)
      return Seq.empty[(Long, Double)].toDF("doc_id", "score")
    val terms = qtf.keys.toSeq.sorted

    // each index's live postings give raw per-(term, doc) tfs — the weight
    // is applied as arithmetic below, so each index's postings are decoded
    // exactly ONCE (weight w for tf', presence for df'); per-index docId →
    // external doc_id through each index's CACHED docmeta sidecar
    // (docvalues), never an analyzed-table scan
    val textRows = st.postingTfs(terms).join(docIds(st), "docId")
      .select(col("term"), col("doc_id"), col("tf").as("tf_t"), lit(0L).as("tf_s"))
    // ONE union + ONE (doc, term)-keyed partial agg yields BOTH per-term
    // statistics: tf' = tf_t + w·tf_s, and df' = the per-term group count
    // (presence in EITHER field — weight-independent, exactly the old
    // distinct() semantics; weight 0 excludes the field entirely, matching
    // the index-time repetition yardstick)
    val g0 =
      if (w == 0) textRows
      else textRows.unionByName(ss.postingTfs(terms).join(docIds(ss), "docId")
        .select(col("term"), col("doc_id"), lit(0L).as("tf_t"), col("tf").as("tf_s")))
    // pinned: g feeds BOTH tf' and df'; without the cut each consumer
    // re-runs the postings decode + union + agg (match-set-sized rows)
    val g = g0.groupBy(col("doc_id"), col("term"))
      .agg(sum(col("tf_t")).as("tf_t"), sum(col("tf_s")).as("tf_s"))
      .localCheckpoint(false)
    val tfp = g.select(col("doc_id"), col("term"),
        (col("tf_t") + lit(w.toLong) * col("tf_s")).as("tfp"))
      .where(col("tfp") > 0L)
    val dfp = g.groupBy(col("term")).agg(count(lit(1)).as("dfp"))

    val n = st.n
    val sumlenP = st.sumlen + w.toLong * ss.sumlen
    val avgdlP = if (n == 0) 0.0 else sumlenP.toDouble / n
    // per-doc combined length dl' = len + w·len_src: BOTH field lengths are
    // build-time docmeta columns (len rides with every sidecar; len_src is
    // a metaCol computed by the same analyzer), so the length fold is a
    // scalar expression over the cached sidecar — the runtime two-
    // projection join cache this replaced is gone
    val dlp = docIds(st, (col("len").cast("long") + lit(w.toLong) * col("len_src").cast("long")).as("dlp"))
      .select("doc_id", "dlp")
    val qdf = qtf.toSeq.toDF("term", "qtf")

    cut(tfp.join(broadcast(qdf), "term")
      .join(broadcast(dfp), "term")
      .join(dlp, "doc_id")
      .withColumn("part",
        graft.query.Bm25.scoreCol(col("tfp"), col("qtf"), col("dfp"),
          col("dlp"), lit(n), lit(avgdlP), P))
      .groupBy(col("doc_id")).agg(sum(col("part")).as("score")), k)
  }

  /** match_phrase_prefix: the phrase's LAST token is a prefix; a doc
    * matches when the fixed head tokens appear adjacent, followed by any
    * completion of the prefix. Scored by the conjunctive BM25 of the HEAD
    * terms only — the certain part of the query; expansions gate the
    * match but never the score, so results are deterministic under any
    * dictionary state (Lucene's own scoring here is historically quirky).
    * Candidates from the head's conjunctive kernel, adjacency verified on
    * point-read candidate text like [[phraseTopK]]. */
  def phrasePrefixTopK(spark: SparkSession, sfDir: String, phrase: String,
                       k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val raw = graft.analysis.Analyzer.tokenizeRaw(phrase).toSeq
    require(raw.size >= 2, "need at least one fixed head token + the prefix")
    val (head, pfx) = (raw.init, raw.last)
    val m = raw.size
    val verify = udf((t: String) => {
      val toks = graft.analysis.Analyzer.tokenizeRaw(t).toSeq
      toks.sliding(m).exists(win => win.lengthCompare(m) == 0 &&
        win.init == head && win.last.startsWith(pfx))
    })
    val cands = s.matchAllDocs(head.mkString(" "))
    cut(cands.join(docIds(s), "docId")
      .join(textOf(spark, sfDir), "doc_id") // candidate-pruned: broadcasts the small side
      .filter(verify(col("text")))
      .select(col("doc_id"), col("score")), k)
  }

  /** (doc_id, text) of the documents table: joined only against
    * candidate- or hit-sized frames, so it broadcasts the small side. */
  private def textOf(spark: SparkSession, sfDir: String): DataFrame =
    Corpus.documents(spark, sfDir).select("doc_id", "text")

  /** (doc_id, len) of every doc of the main index, from its sidecar. */
  private def docLensOf(spark: SparkSession, sfDir: String): DataFrame =
    docIds(searcher(spark, sfDir), col("len").cast("long").as("len")).select("doc_id", "len")

  // ---- O3: corpus statistics ------------------------------------------------
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame =
    statsOf(spark, searcher(spark, sfDir))

  def termDf(spark: SparkSession, sfDir: String, limit: Int): DataFrame =
    searcher(spark, sfDir).dfDF.orderBy(desc("df"), asc("term")).limit(limit)

  def docLens(spark: SparkSession, sfDir: String): DataFrame =
    docLensOf(spark, sfDir).orderBy("doc_id")

  /** Zipf head profile: the `limit` most frequent ANALYZED terms by
    * collection frequency with each rank's cumulative share of all term
    * instances — the corpus-skew diagnostic that sizes head-term salting
    * and stopword policies. Output (term, ctf, cum_share).
    *
    * Scale shape: ctf is one partial-agg hash aggregate over the main
    * Searcher's [[Searcher.termRows]]; the top-`limit` cut is a
    * distributed TakeOrdered (never a global sort), and the running sum
    * windows over only those `limit` rows — cumulative shares of ranks
    * 1..limit don't depend on the tail, so nothing vocabulary-sized is
    * single-tasked. The share rounds via
    * the tie-free integer formula (TextOps.r4's SQL twin). */
  def zipfCoverage(spark: SparkSession, sfDir: String, limit: Int): DataFrame = {
    val ctf = searcher(spark, sfDir).termRows().groupBy("term").agg(sum("tf").as("ctf"))
    // top-limit via distributed TakeOrdered; the `limit`-row head and its
    // running sum are driver-side (like any query's result set) — an
    // unpartitioned window would plan a one-task WindowExec instead.
    // The vocabulary total rides the SAME plan as a broadcast crossJoin:
    // both branches consume ctf's aggregation exchange, which Spark
    // computes once (ReuseExchange) — one job and one corpus explode
    // instead of the old separate .head() total pass.
    val head = ctf
      .crossJoin(broadcast(ctf.agg(sum("ctf").as("tot"))))
      .orderBy(col("ctf").desc, col("term").asc).limit(limit)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    var cum = 0L
    val rows = head.map { case (t, c, tot) =>
      cum += c
      (t, c, graft.ops.TextOps.r4(cum, tot))
    }
    import spark.implicits._
    rows.toSeq.toDF("term", "ctf", "cum_share")
      .orderBy(col("ctf").desc, col("term").asc)
  }

  /** Analyzed-length histogram: doc counts per fixed-width length bucket
    * (bucket_lo = floor(len / width) · width) — the profile that sizes
    * chunking windows and length filters. One column-pruned pass over the
    * doc-meta table + a bucket-keyed partial agg; output is ≤ maxlen/width
    * rows regardless of corpus size. */
  def lenHist(spark: SparkSession, sfDir: String, width: Int): DataFrame = {
    require(width >= 1)
    docLensOf(spark, sfDir)
      .select(expr(s"(len div $width) * $width").as("bucket_lo"))
      .groupBy("bucket_lo").agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket_lo")
  }

  // ---- O2: per-doc term frequencies (from the analyzed stage) ---------------
  def docTf(spark: SparkSession, sfDir: String): DataFrame =
    searcher(spark, sfDir).termRows()
      .select(col("conv_id").cast("long").as("doc_id"), col("term"), col("tf"))
      .orderBy("doc_id", "term")

  /** Codec proof: decode the compressed posting blobs of every term (the
    * empty prefix) back to (doc_id, term, tf) rows — must equal the
    * DuckDB-computed TF table. */
  def postingsRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val s = searcher(spark, sfDir)
    s.postingTfs(Nil, Seq(""))
      .join(docIds(s), "docId")
      .select("doc_id", "term", "tf")
      .orderBy("doc_id", "term")
  }

  // ---- O4-O7: BM25 scoring / ranking ----------------------------------------
  def scoreAll(spark: SparkSession, sfDir: String, query: String): DataFrame =
    searcher(spark, sfDir).scoreAll(query)
      .select(col("conv_id").cast("long").as("doc_id"), round(col("score"), 4).as("score"))
      .orderBy("doc_id")

  /** [[cut]] of a Searcher hit frame fetched with slack, conv_id restored
    * to the numeric doc_id. */
  private def topKCut(hits: DataFrame, k: Int): DataFrame =
    cut(hits.select(col("conv_id").cast("long").as("doc_id"), col("score")), k)

  /** Deterministic top-k through either kernel; slack absorbs rounding-ties
    * at the k boundary before the (round4, doc_id) cut. */
  def topK(spark: SparkSession, sfDir: String, query: String, k: Int,
           relational: Boolean): DataFrame = {
    val s = searcher(spark, sfDir)
    topKCut(if (relational) s.topKExhaustive(query, k + 50) else s.topK(query, k + 50), k)
  }

  /** Group-level retrieval (the conversation/source rollup of a transcript
    * corpus): per-group relevance = Σ of member docs' BM25 scores, top-k
    * groups. The per-doc round-4 scores are summed as integer 1e-4 units
    * (exact and ORDER-INDEPENDENT — a double sum's association order would
    * diverge between engines and across partitionings), then scaled back;
    * the cut keys on (micro-sum desc, group). KERNEL-BACKED: the hit
    * table streams from the OR-mode postings kernel (cost ∝ query-term
    * postings) and the group column joins in from the doc-meta sidecar —
    * then one hit-sized shuffle join + partial-agg sum. */
  def groupTopK(spark: SparkSession, sfDir: String, query: String,
                groupCol: String, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    s.scoreMatches(query)
      .select(col("docId"),
        round(round(col("score"), 4) * 10000).cast("long").as("micros"))
      .join(docIds(s, col(groupCol).as("grp")), "docId")
      .groupBy("grp")
      .agg(sum("micros").as("m"), count(lit(1)).as("n_hits"))
      .orderBy(col("m").desc, col("grp").asc).limit(k)
      .select(col("grp").as(groupCol),
        (col("m").cast("double") / 10000).as("group_score"), col("n_hits"))
  }

  /** The documents table viewed as multi-turn conversations: doc i is
    * turn (i mod TurnsPerConv) of conversation (i div TurnsPerConv) —
    * the deterministic transcript structure the conversation-level ops
    * below (and their DuckDB oracles) share. */
  val TurnsPerConv = 20

  /** Conversation-level retrieval: per-turn BM25 scores aggregated to a
    * per-conversation relevance = Σ of the conversation's top-`t` turn
    * scores (the passage→document sum-of-best-passages rule; t bounds a
    * long conversation's ability to win on bulk alone), top-`k`
    * conversations. Like [[groupTopK]], turn scores are summed as
    * integer 1e-4 units so the aggregate is exact and order-independent.
    *
    * Scale shape: the scored-turn table is hit-sized (docs with ≥1 query
    * term) and STREAMS from the OR-mode postings kernel (cost ∝ the query
    * terms' posting lists, never a corpus scan), the top-`t` cut is a
    * window over conv_id — ONE narrow shuffle keyed by conversation — and
    * the final cut is a distributed TakeOrdered. */
  def convTopK(spark: SparkSession, sfDir: String, query: String,
               t: Int, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val hits = s.scoreMatches(query)
      .join(docIds(s), "docId")
      .select(col("doc_id"),
        round(round(col("score"), 4) * 10000).cast("long").as("micros"))
      .withColumn("conv_id", expr(s"doc_id div $TurnsPerConv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy(col("micros").desc, col("doc_id").asc)
    hits.withColumn("rn", row_number().over(w)).filter(col("rn") <= t)
      .groupBy("conv_id")
      .agg(sum("micros").as("m"), count(lit(1)).as("n_hits"))
      .orderBy(col("m").desc, col("conv_id").asc).limit(k)
      .select(col("conv_id"),
        (col("m").cast("double") / 10000).as("conv_score"), col("n_hits"))
  }

  /** Conversation block-join (Lucene's ToParentBlockJoinQuery re-expressed
    * for the transcript corpus): conversations containing BOTH a turn
    * matching every analyzed term of `clauseA` AND a turn matching every
    * term of `clauseB` (any turns, possibly the same), ranked by the
    * conversation's exact micro-summed round-4 turn scores over
    * clauseA ∪ clauseB (the [[convTopK]] rollup arithmetic). Scale shape:
    * each clause's candidates come from the conjunctive kernel (≤ its
    * shortest posting list), collapse to conv ids, and SEMI-join the
    * hit-sized rollup — the corpus itself never joins anything; AQE
    * broadcasts the conv-id sides. */
  def convJoinTopK(spark: SparkSession, sfDir: String, clauseA: String,
                   clauseB: String, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    def convs(clause: String) =
      s.matchAllDocs(clause)
        .join(docIds(s), "docId")
        .select(expr(s"doc_id div $TurnsPerConv").as("conv_id")).distinct()
    s.scoreMatches(clauseA + " " + clauseB)
      .join(docIds(s), "docId")
      .select(col("doc_id"),
        round(round(col("score"), 4) * 10000).cast("long").as("micros"))
      .withColumn("conv_id", expr(s"doc_id div $TurnsPerConv"))
      .groupBy("conv_id")
      .agg(sum("micros").as("m"), count(lit(1)).as("n_hits"))
      .join(convs(clauseA), Seq("conv_id"), "left_semi")
      .join(convs(clauseB), Seq("conv_id"), "left_semi")
      .orderBy(col("m").desc, col("conv_id").asc).limit(k)
      .select(col("conv_id"),
        (col("m").cast("double") / 10000).as("conv_score"), col("n_hits"))
  }

  /** Context-window assembly (the RAG context-stitch every transcript
    * retrieval pipeline runs): top-`k` turn hits, each carrying the ids
    * and char sizes of its previous/next turn WITHIN the same
    * conversation (-1 / 0 when the hit sits on a conversation or corpus
    * boundary). Neighbor identity is pure arithmetic on the dense docId
    * order; neighbor metadata is a pushed-down `doc_id IN (...)` POINT
    * READ of ≤ 2k rows — the corpus is touched only by the top-k kernel
    * itself, exactly like [[Searcher]]'s own hit resolution. */
  def turnContext(spark: SparkSession, sfDir: String, query: String,
                  k: Int): DataFrame = {
    import spark.implicits._
    val hits = topKCut(searcher(spark, sfDir).topK(query, k + 50), k)
      .as[(Long, Double)].collect()
    // corpus-static bound, memoized per corpus (footer-only min/max scan on
    // first sight — the same class of index metadata as the stats row)
    val maxId: Long = maxDocIds.computeIfAbsent(sfDir, _ =>
      java.lang.Long.valueOf(Corpus.documents(spark, sfDir)
        .agg(max("doc_id")).head().getLong(0))).longValue
    def prevId(d: Long): Long = if (d % TurnsPerConv == 0) -1L else d - 1
    def nextId(d: Long): Long =
      if (d % TurnsPerConv == TurnsPerConv - 1 || d + 1 > maxId) -1L else d + 1
    val wanted = hits.flatMap { case (d, _) => Seq(prevId(d), nextId(d)) }
      .filter(_ >= 0).distinct
    val chars: Map[Long, Long] =
      if (wanted.isEmpty) Map.empty
      else Corpus.documents(spark, sfDir)
        .where(col("doc_id").isin(wanted: _*)) // pushed-down point read
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)].collect().toMap
    hits.toSeq.map { case (d, s) =>
      val (p, n) = (prevId(d), nextId(d))
      (d, s, p, chars.getOrElse(p, 0L), n, chars.getOrElse(n, 0L))
    }.toDF("doc_id", "score", "prev_id", "prev_chars", "next_id", "next_chars")
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** Recency-boosted ranking: BM25 relevance × a linear freshness weight
    * (older turns decay toward ½, the newest turn keeps ~full score) —
    * the time-decay rerank of a transcript search surface, with the
    * corpus position standing in for the ts column (the synthetic docs
    * table's ids ARE its time order). The boost is computed in pure
    * integer arithmetic — boosted = (micros·(n + doc_id)) div (2n) —
    * so the (boosted desc, doc_id) cut is engine-independent; a double
    * multiply would reopen the round-4 half-way-tie divergence.
    *
    * Scale shape: the match set streams from the OR-mode postings kernel
    * (never an analyzed-table scan), doc ids resolve against the doc-meta
    * sidecar, then one scalar expression + a distributed TakeOrdered; n
    * is the Searcher's, broadcast as a 1-row frame — never a corpus count
    * at query time. */
  def timeTopK(spark: SparkSession, sfDir: String, query: String,
               k: Int): DataFrame = {
    import spark.implicits._
    val s = searcher(spark, sfDir)
    val n0 = Seq(s.n).toDF("n")
    s.scoreMatches(query)
      .join(docIds(s), "docId")
      .select(col("doc_id"),
        round(round(col("score"), 4) * 10000).cast("long").as("micros"))
      .crossJoin(broadcast(n0))
      .withColumn("boosted", expr("(micros * (n + doc_id)) div (2 * n)"))
      .orderBy(col("boosted").desc, col("doc_id").asc).limit(k)
      .select(col("doc_id"), (col("boosted").cast("double") / 10000).as("score"))
  }

  /** Per-doc TF-IDF keyword extraction over the index tables: top-`n`
    * terms per doc (doc_id < maxDocId) by [[tfIdf]]. The doc-bounded tf
    * slice broadcasts against the df frame. Ranking and the final order
    * key on (round-4 weight desc, term asc) in both engines. */
  def keywords(spark: SparkSession, sfDir: String, maxDocId: Long, n: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val tf = s.termRows(col("conv_id").cast("long") < maxDocId)
      .select(col("conv_id").cast("long").as("doc_id"), col("term"), col("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    tfIdf(s, tf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("doc_id"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
  }

  /** More-like-this: retrieve documents similar to doc `targetId` by
    * using its top-`nTerms` TF-IDF terms (the [[keywords]] selection rule:
    * round-4 tf·idf desc, term asc) as a fresh BM25 query through the
    * normal top-k kernel, excluding the target itself. The classic
    * related-items / find-similar feature of a fulltext engine.
    *
    * Scale shape: the term selection reads ONE doc's [[Searcher.termRows]]
    * (point read pushed to Parquet) joined against the df frame, and only
    * `nTerms` strings reach the driver (they become the query, exactly
    * like any user-supplied query string); the retrieval itself is the
    * standard shuffle-free WAND top-k. */
  def moreLikeThis(spark: SparkSession, sfDir: String, targetId: Long,
                   nTerms: Int, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    // conv_id is the doc_id's canonical string (Transcripts.fromDocuments):
    // comparing strings keeps the EqualTo pushable into the Parquet scan
    // (a cast on the column would disable row-group pruning)
    val tf = s.termRows(col("conv_id") === targetId.toString).select(col("term"), col("tf"))
    val terms = tfIdf(s, tf)
      .orderBy(col("tfidf").desc, col("term").asc).limit(nTerms)
      .select("term").collect().map(_.getString(0))
    cut(s.topK(terms.mkString(" "), k + 51)
      .select(col("conv_id").cast("long").as("doc_id"), col("score"))
      .filter(col("doc_id") =!= targetId), k)
  }

  /** Hybrid sparse+dense retrieval via reciprocal-rank fusion (RRF): the
    * BM25 top-m ranking and the embedding-cosine top-m ranking (query =
    * doc `targetId`'s embedding; the embeddings table is keyed by doc id)
    * fuse as Σ 1/(60+rank). Each contribution is computed as
    * round(1e4/(60+rank)) — one double division + one round, identical
    * in both engines and exactly representable, so the fused score and
    * its (fused desc, doc_id) cut are engine-independent; a doc in only
    * one list gets only that list's contribution. Both input rankings
    * are tiny (≤ m rows), so the fusion is a driver-light sort-merge of
    * two bounded lists — the corpus is touched only by the two top-m
    * kernels. */
  def hybridTopK(spark: SparkSession, sfDir: String, query: String,
                 targetId: Long, m: Int, k: Int): DataFrame = {
    // Single-partition windows BY DESIGN: both inputs are top-m kernel
    // outputs (≤ m ≤ 20 rows), so the global sort is bounded regardless
    // of corpus size. Spark still logs its "No Partition Defined"
    // WindowExec warning — Catalyst folds the constant key away — and
    // that is fine: the warning guards unbounded windows, not these.
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("score").desc, col("doc_id").asc)
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("cos").desc, col("vec_id").asc)
    val bm = topK(spark, sfDir, query, m, relational = false)
      .withColumn("rb", row_number().over(wB))
      .select(col("doc_id"), col("rb"))
    val cs = VectorOps.cosTopK(spark, sfDir, targetId, m)
      .withColumn("rc", row_number().over(wC))
      .select(col("vec_id").as("doc_id"), col("rc"))
    bm.join(cs, Seq("doc_id"), "full_outer")
      .withColumn("w",
        coalesce(round(lit(10000.0) / (col("rb") + 60)).cast("long"), lit(0L)) +
        coalesce(round(lit(10000.0) / (col("rc") + 60)).cast("long"), lit(0L)))
      .orderBy(col("w").desc, col("doc_id").asc).limit(k)
      .select(col("doc_id"), (col("w").cast("double") / 10000).as("rrf"))
  }

  /** Lucene's maxClauseCount analog: a wildcard that expands past this
    * many dictionary terms is rejected instead of scoring the corpus
    * against an unbounded OR. */
  val MaxExpandedTerms = 1024

  /** Prefix (wildcard) top-k: expand `prefix` against the index's term
    * dictionary — a StartsWith filter over the Searcher's df frame, never
    * the corpus — then score the expanded OR-of-terms query (qtf = 1 per
    * term) through the normal top-k path. The expanded term list is
    * dictionary-bounded and capped, so the collect is ≤ MaxExpandedTerms
    * strings. */
  def prefixTopK(spark: SparkSession, sfDir: String, prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty && prefix.forall(_.isLetterOrDigit),
      s"prefix must be a bare term prefix (got '$prefix')")
    import spark.implicits._
    val terms = searcher(spark, sfDir).dfDF
      .filter(col("term").startsWith(prefix))
      .select("term").as[String].collect().sorted
    require(terms.nonEmpty, s"prefix '$prefix' matches no dictionary term")
    require(terms.length <= MaxExpandedTerms,
      s"prefix '$prefix' expands to ${terms.length} terms (cap $MaxExpandedTerms)")
    // dictionary terms are analyzer output (lowercased, stopword-free), so
    // the space-joined string re-analyzes to exactly these terms, qtf = 1
    topK(spark, sfDir, terms.mkString(" "), k, relational = false)
  }

  /** Pseudo-relevance-feedback expansion (RM1-lite): pool the top-k docs
    * for the query, drop the query's own terms, and weight each remaining
    * term by Σ tf·idf over the pool — the classic feedback-term selector.
    * Per-(term,doc) round-4 weights are summed as exact integer 1e-4
    * units (order-independent); only the ≤ k·avgdl pooled tf rows are
    * touched (a conv_id point read of [[Searcher.termRows]], broadcast
    * into the df join), so the corpus never shuffles. */
  def expandTerms(spark: SparkSession, sfDir: String, query: String,
                  k: Int, nTerms: Int): DataFrame = {
    // pool ids to the driver (≤ k rows, already computed by the kernel) so
    // the analyzed read becomes a PRUNED POINT READ: conv_id IN (...)
    // pushed to the Parquet scan — the corpus-sized explode the old
    // scan-then-join paid is gone (guide §6: predicate pushdown must
    // reach the scan; the same topKBatch/turnContext pattern)
    val poolIds = topK(spark, sfDir, query, k, relational = false)
      .select("doc_id").collect().map(_.getLong(0))
    val qTerms = Analyzer.termFreqs(Analyzer.tokenizeEn(query)).keys.toSeq
    val s = searcher(spark, sfDir)
    val tf = s.termRows(col("conv_id").isin(poolIds.map(_.toString): _*))
      .select(col("term"), col("tf"))
      .filter(!col("term").isin(qTerms: _*))
    tfIdf(s, tf)
      .withColumn("micros", round(col("tfidf") * 10000).cast("long"))
      .groupBy("term").agg(sum("micros").as("m"))
      .orderBy(col("m").desc, col("term").asc).limit(nTerms)
      .select(col("term"), (col("m").cast("double") / 10000).as("weight"))
  }

  /** Offline ranking-quality evaluation — MRR@k and nDCG@k of the BM25
    * top-k for `query` against a binary relevance set: the conjunctive
    * matches of `labelQuery` (docs containing EVERY analyzed label term,
    * computed through the index kernel). A label query stricter than the
    * ranked one makes the metric discriminating instead of trivially 1.0.
    * DCG contributions are round(1e6/log2(rank+1)) integer micro-units
    * and the final MRR/nDCG ratios round via the tie-free integer
    * formula, so both engines make identical cuts. Everything collected
    * is ≤ k ranks plus two scalars — eval summaries are driver-sized by
    * construction. Output one row (n_rel, mrr, ndcg). */
  def rankEval(spark: SparkSession, sfDir: String, query: String,
               labelQuery: String, k: Int): DataFrame = {
    import spark.implicits._
    val s = searcher(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window // ≤ k rows (see hybridTopK note)
      .partitionBy(lit(0)).orderBy(col("score").desc, col("doc_id").asc)
    val ranked = topK(spark, sfDir, query, k, relational = false)
      .withColumn("r", row_number().over(w))
    // the label set is consumed twice (count + semi-join); cut its lineage
    // so the conjunctive kernel runs ONCE — the count() materializes the
    // lazy checkpoint, the semi-join reads the pinned label-sized rows
    val rel = s.matchAllDocs(labelQuery)
      .join(docIds(s), "docId").select("doc_id")
      .localCheckpoint(false)
    val nRel = rel.count()
    val relRanks = ranked.join(rel, Seq("doc_id"), "left_semi")
      .select("r").as[Int].collect().sorted
    def gain(r: Int): Long = math.round(1e6 / (math.log(r + 1.0) / math.log(2.0)))
    val dcg = relRanks.map(gain).sum
    val idcg = (1 to math.min(k.toLong, nRel).toInt).map(gain).sum
    val mrr = relRanks.headOption.map(fr => TextOps.r4(1L, fr.toLong)).getOrElse(0.0)
    val ndcg = if (idcg == 0L) 0.0 else TextOps.r4(dcg, idcg)
    Seq((nRel, mrr, ndcg)).toDF("n_rel", "mrr", "ndcg")
  }

  /** Conjunctive (AND-mode) top-k: only docs containing EVERY analyzed
    * query term; scores equal the OR-mode BM25 score. Slack + (round4,
    * doc_id) re-cut like [[topK]]. */
  def topKAnd(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    topKCut(searcher(spark, sfDir).topKAnd(query, k + 50), k)

  /** Negated (NOT-mode) top-k: OR-mode BM25 over the query terms among
    * docs containing NO analyzed exclude term (Lucene MUST_NOT). Slack +
    * (round4, doc_id) re-cut like [[topKAnd]]. */
  def topKNot(spark: SparkSession, sfDir: String, query: String,
              exclude: String, k: Int): DataFrame =
    topKCut(searcher(spark, sfDir).topKNot(query, exclude, k + 50), k)

  /** minimum_should_match top-k: docs containing ≥ `minMatch` distinct
    * analyzed query terms, OR-mode BM25 scores, (round4, doc_id) cut. */
  def msmTopK(spark: SparkSession, sfDir: String, query: String,
              minMatch: Int, k: Int): DataFrame =
    topKCut(searcher(spark, sfDir).topKMsm(query, minMatch, k + 50), k)

  /** Deep pagination (search_after): page 2 of size k — ranks k+1..2k of
    * the (round4 desc, doc_id asc) ranking — WITHOUT a 2k-heap: page 1's
    * k-th row becomes the cursor, the kernel gates out everything scoring
    * above it ([[graft.query.Searcher.topKAfter]]), and the strictly-after
    * tiebreak cut happens here where doc_id exists. Fewer than k page-1
    * rows ⇒ no cursor ⇒ empty page 2 (matches LIMIT k OFFSET k). */
  def searchAfter(spark: SparkSession, sfDir: String, query: String,
                  k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val page1 = topKCut(s.topK(query, k + 50), k).collect()
    if (page1.length < k)
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)
    val cScore = page1.last.getDouble(1) // cursor = page 1's k-th row
    val cDocId = page1.last.getLong(0)
    cut(s.topKAfter(query, k + 50, cScore)
      .select(col("conv_id").cast("long").as("doc_id"), round(col("score"), 4).as("score"))
      .where(col("score") < cScore || (col("score") === cScore && col("doc_id") > cDocId)), k)
  }

  /** Did-you-mean term suggestion: dictionary terms within `maxDist` edits
    * of `term`, most-frequent first (df desc, term asc). One scan of the
    * Searcher's vocabulary-sized df frame with the THRESHOLDED
    * levenshtein pushed into it (Spark's 3-arg levenshtein bails out at
    * maxDist+1, so cost per term is O(maxDist·len), not O(len²)); never
    * touches postings or the corpus. At a 10^8-term vocabulary the same
    * surface would swap in a precomputed deletion-neighborhood (SymSpell)
    * sidecar keyed by signature — the scan here IS the honest baseline the
    * sidecar would be measured against. */
  def suggest(spark: SparkSession, sfDir: String, term: String,
              maxDist: Int, n: Int): DataFrame =
    searcher(spark, sfDir).dfDF
      .filter(levenshtein(col("term"), lit(term), maxDist) >= 0)
      .orderBy(col("df").desc, col("term").asc).limit(n)
      .select(col("term"), col("df"))

  /** Phrase suggester (ES phrase suggest in its unigram shape): per query
    * position, the dictionary terms within `maxDist` edits (df-ranked,
    * `perTerm` kept — the typed term itself is a distance-0 candidate);
    * candidate PHRASES are the cross product, ranked by the PRODUCT of
    * member dfs — the unigram language model that needs no side model.
    * ALL positions' candidates come from ONE df-frame scan (the positions
    * broadcast against the vocabulary with the thresholded levenshtein in
    * the join condition, ranked per position by a window) — never a scan
    * per query position; ≤ |positions|·perTerm rows reach the driver. The
    * driver-side expansion is a BEAM of width [[PhraseSuggestCap]] — every
    * position extends all partials by the same candidate set, so partial
    * order (product score desc, phrase asc) is preserved under extension
    * and the beam is EXACT for the final top-k whenever k ≤ cap; beyond
    * the cap the tail is truncated (documented contract). */
  def phraseSuggest(spark: SparkSession, sfDir: String, query: String,
                    maxDist: Int, perTerm: Int, k: Int): DataFrame = {
    import spark.implicits._
    require(k <= PhraseSuggestCap,
      s"k=$k exceeds the phrase-suggest beam cap $PhraseSuggestCap")
    val toks = graft.analysis.Analyzer.tokenizeRaw(query).toSeq
    if (toks.isEmpty) return Seq.empty[(String, Long)].toDF("suggestion", "score")
    val pos = toks.zipWithIndex.map { case (t, i) => (i, t) }.toDF("pos", "tok")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pos").orderBy(col("df").desc, col("term").asc)
    val cands: Map[Int, Seq[(String, Long)]] =
      searcher(spark, sfDir).dfDF
        .join(broadcast(pos), levenshtein(col("term"), col("tok"), maxDist) >= 0)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= perTerm)
        .select(col("pos"), col("term"), col("df"))
        .as[(Int, String, Long)].collect()
        .groupBy(_._1)
        .map { case (p, xs) =>
          p -> xs.sortBy(x => (-x._3, x._2)).map(x => (x._2, x._3)).toSeq }
    val phrases = toks.indices.foldLeft(Seq(("", 1L))) { case (acc, p) =>
      val cs = cands.getOrElse(p, Seq.empty)
      val ext = for ((pfx, s) <- acc; (c, df) <- cs)
        yield (if (pfx.isEmpty) c else pfx + " " + c, s * df)
      ext.sortBy { case (ph, s) => (-s, ph) }.take(PhraseSuggestCap)
    }
    phrases.toDF("suggestion", "score")
      .orderBy(col("score").desc, col("suggestion").asc).limit(k)
  }

  /** Beam width (and hard cap) of [[phraseSuggest]]'s driver-side phrase
    * expansion: exact top-k for k ≤ cap, bounded memory always. */
  val PhraseSuggestCap = 10000

  /** Field-collapsed top-k (ES's collapse): ONE best document per value
    * of `groupCol` — per-group argmax on (round4 desc, doc_id asc) via
    * max(struct(score, -doc_id)) — then the k best groups ranked by their
    * representative's (score desc, doc_id). KERNEL-BACKED: the hit table
    * streams from the OR-mode postings kernel and the group column joins
    * in from the doc-meta sidecar (never the source table); then ONE
    * group-keyed partial-agg shuffle — the same shape as [[groupTopK]];
    * nothing corpus-sized ever sorts. */
  def collapseTopK(spark: SparkSession, sfDir: String, query: String,
                   groupCol: String, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    s.scoreMatches(query)
      .withColumn("s4", round(col("score"), 4))
      .join(docIds(s, col(groupCol).as("grp")), "docId")
      .groupBy("grp")
      .agg(max(struct(col("s4"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("grp").as(groupCol), (-col("best.nid")).as("doc_id"),
        col("best.s4").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** Percolation over the documents table (the batch twin of the
    * streaming alerting shape — [[graft.streaming.Percolator]]): every
    * (standing query, matching doc) pair, ordered. */
  def percolate(spark: SparkSession, sfDir: String,
                queries: Seq[graft.streaming.Percolator.Query]): DataFrame =
    graft.streaming.Percolator.percolate(spark, Corpus.documents(spark, sfDir), queries)
      .orderBy(col("qid"), col("doc_id"))

  /** Synonym-aware top-k (Lucene SynonymQuery: group tf = Σ member tfs,
    * group df = max member df), (round4, doc_id) cut. */
  def synonymTopK(spark: SparkSession, sfDir: String, query: String,
                  synonyms: Map[String, Seq[String]], k: Int): DataFrame =
    topKCut(searcher(spark, sfDir).topKSynonyms(query, synonyms, k + 50), k)

  /** Dirichlet-smoothed LM top-k (Searcher.topKDirichlet), (round4,
    * doc_id) cut. */
  def dirichletTopK(spark: SparkSession, sfDir: String, query: String,
                    mu: Double, k: Int): DataFrame =
    topKCut(searcher(spark, sfDir).topKDirichlet(query, mu, k + 50), k)

  /** Disjunction-max top-k (Searcher.topKDisMax), (round4, doc_id) cut. */
  def disMaxTopK(spark: SparkSession, sfDir: String, queries: Seq[String],
                 tie: Double, k: Int): DataFrame =
    topKCut(searcher(spark, sfDir).topKDisMax(queries, tie, k + 50), k)

  /** Significant-terms aggregation over the conjunctive foreground of
    * `query` (Searcher.significantTerms; already round-4 cut). */
  def significantTerms(spark: SparkSession, sfDir: String, query: String,
                       topN: Int): DataFrame =
    searcher(spark, sfDir).significantTerms(query, topN)

  /** Term dictionary stats (Lucene's TermStatistics surface): the top
    * `limit` df-ranked terms with BOTH document frequency and collection
    * frequency — cf resolved through Searcher.cfSlice's memoized pruned-
    * postings pass, so this is the cf seam oracle-checked end-to-end. */
  def termStats(spark: SparkSession, sfDir: String, limit: Int): DataFrame = {
    import spark.implicits._
    val s = searcher(spark, sfDir)
    val top = termDf(spark, sfDir, limit)
      .select(col("term"), col("df")).as[(String, Long)].collect().toSeq
    val cfm = s.cfSlice(top.map(_._1))
    top.map { case (t, df) => (t, df, cfm.getOrElse(t, 0L)) }
      .toDF("term", "df", "cf")
      .orderBy(col("df").desc, col("term").asc)
  }

  /** Completion suggester (Searcher.complete): df-ranked dictionary terms
    * under a prefix. */
  def complete(spark: SparkSession, sfDir: String, prefix: String,
               k: Int): DataFrame =
    searcher(spark, sfDir).complete(prefix, k)

  /** function_score / field_value_factor (ES): BM25 × ln(1 + n_chars/100)
    * over every matching doc, (round4, doc_id) cut. KERNEL-BACKED: the
    * match set comes from the streaming OR-mode postings kernel
    * (Searcher.scoreMatches, cost ∝ query-term postings) and the factor
    * column from the build-time doc-meta sidecar — the plan reads
    * postings + docmeta only, never the analyzed table or the source
    * documents table (PlanSpec pins both absences). */
  def funcScoreTopK(spark: SparkSession, sfDir: String, query: String,
                    k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    cut(s.scoreMatches(query)
      .join(docIds(s, col("n_chars")), "docId")
      .select(col("doc_id"), (col("score") * log(lit(1.0) + col("n_chars") / 100.0)).as("score")), k)
  }

  /** Classic TF-IDF top-k (Searcher.topKTfIdf), (round4, doc_id) cut. */
  def tfidfTopK(spark: SparkSession, sfDir: String, query: String,
                k: Int): DataFrame =
    topKCut(searcher(spark, sfDir).topKTfIdf(query, k + 50), k)

  /** ES-style rescore window: the top `poolN` BM25 hits of `query`
    * re-ranked by score + w·[doc contains the exact phrase], the phrase
    * verified by raw adjacency on POINT-READ candidate text exactly like
    * [[phraseTopK]] — the expensive second-stage signal touches only the
    * pool, never the corpus (the rescore contract that makes a costly
    * feature affordable at any index size). */
  def rescoreTopK(spark: SparkSession, sfDir: String, query: String,
                  phrase: String, w: Double, poolN: Int, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val phraseToks = graft.analysis.Analyzer.tokenizeRaw(phrase).toSeq
    val verify = udf((t: String) =>
      graft.analysis.Analyzer.tokenizeRaw(t).toSeq.containsSlice(phraseToks))
    // the pool keeps raw scores: the phrase bonus adds before rounding
    val pool = s.topK(query, poolN + 50)
      .select(col("conv_id").cast("long").as("doc_id"), col("score"))
      .orderBy(round(col("score"), 4).desc, col("doc_id").asc).limit(poolN)
    cut(pool.join(textOf(spark, sfDir), "doc_id") // pool-sized: broadcasts the small side
      .select(col("doc_id"),
        (col("score") + when(verify(col("text")), lit(w)).otherwise(lit(0.0))).as("score")), k)
  }

  /** Per-group top hits (ES terms agg + top_hits): among docs matching
    * `query`, the `kGroups` best groups (by best round-4 hit, group asc on
    * ties), each with its `perGroup` best hits ranked. KERNEL-BACKED: the
    * match set streams from the OR-mode postings kernel and the group
    * column joins in from the doc-meta sidecar (postings + docmeta reads
    * only — PlanSpec-pinned); then a match-set-sized group shuffle + a
    * broadcast of the tiny selected-group list. */
  def topHitsByGroup(spark: SparkSession, sfDir: String, query: String,
                     groupCol: String, perGroup: Int, kGroups: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val hits = s.scoreMatches(query)
      .withColumn("s4", round(col("score"), 4))
      .where(col("s4") > 0.0)
      .join(docIds(s, col(groupCol).as("grp")), "docId")
      .select(col("doc_id"), col("s4"), col("grp"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s4").desc, col("doc_id").asc)
    val gsel = hits.groupBy(col("grp")).agg(max(col("s4")).as("best"))
      .orderBy(col("best").desc, col("grp").asc).limit(kGroups).select("grp")
    hits.withColumn("rnk", row_number().over(wRank))
      .join(broadcast(gsel), "grp")
      .where(col("rnk") <= perGroup)
      .select(col("grp").as(groupCol), col("doc_id"), col("s4").as("score"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col(groupCol), col("rnk"))
  }

  /** Query-time boosted top-k (Lucene's term^w): per-term contribution
    * scaled inside the kernel, (round4, doc_id) cut. */
  def boostTopK(spark: SparkSession, sfDir: String, query: String,
                boosts: Map[String, Double], k: Int): DataFrame =
    topKCut(searcher(spark, sfDir).topKBoosted(query, boosts, k + 50), k)

  /** Boolean (must/should/not) retrieval over the standing index — one
    * kernel pass (Searcher.search). */
  def boolTopK(spark: SparkSession, sfDir: String, must: String,
               should: String, not: String, k: Int): DataFrame =
    topKCut(searcher(spark, sfDir).search(must, should, not, k + 50), k)

  /** Per-term score breakdown (Lucene's explain()) of the top-1 hit of
    * `query` — target selected by the same (round-4 score, doc_id) cut
    * the oracle uses, then explained via Searcher.explain's pruned point
    * read. */
  def explainTopHit(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    val s = searcher(spark, sfDir)
    val top = cut(s.topK(query, 50)
      .select(col("docId"), col("conv_id").cast("long").as("doc_id"), col("score")), 1).collect()
    val target = if (top.isEmpty) -1L else top.head.getAs[Long]("docId")
    s.explain(query, target)
      .select(col("term"), col("tf"), col("df"), round(col("contrib"), 4).as("contrib"))
  }

  /** Boolean retrieval + metadata facet filters in the same kernel pass
    * (the full search-engine query shape) — over the facet-built index. */
  def boolFilteredTopK(spark: SparkSession, sfDir: String, must: String,
                       should: String, not: String,
                       facets: Map[String, String], k: Int): DataFrame =
    topKCut(facetSearcher(spark, sfDir).search(must, should, not, k + 50, facets), k)

  /** Phrase top-k WITHOUT a positional index — the verify-on-candidates
    * scale pattern: (1) the conjunctive kernel enumerates + scores the docs
    * containing every analyzed phrase term (≤ shortest posting list, never
    * the corpus); (2) only those candidates' raw text is point-read from
    * the source table; (3) adjacency of the FULL raw token sequence
    * (stopwords included) is verified per candidate; (4) (round4, doc_id)
    * top-k. A phrase of only stopwords has no indexed prefilter → empty
    * (documented limitation of a non-positional index). */
  def phraseTopK(spark: SparkSession, sfDir: String, phrase: String, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val phraseToks = graft.analysis.Analyzer.tokenizeRaw(phrase).toSeq
    val verify = udf((t: String) =>
      graft.analysis.Analyzer.tokenizeRaw(t).toSeq.containsSlice(phraseToks))
    val cands = s.matchAllDocs(phrase) // (docId, score), candidate-bounded
    cut(cands.join(docIds(s), "docId")
      .join(textOf(spark, sfDir), "doc_id") // candidate-pruned: broadcasts the small side
      .filter(verify(col("text")))
      .select(col("doc_id"), col("score")), k)
  }

  private val posSearchers = new ConcurrentHashMap[String, PosSearcher]()

  /** Positional sidecar + searcher over it, built lazily once per JVM (one
    * extra corpus scan + one chunk shuffle on first use, against the same
    * indexDir the main build owns). */
  def posSearcher(spark: SparkSession, sfDir: String): PosSearcher =
    posSearchers.computeIfAbsent(sfDir, _ => {
      val dir = indexDir(spark, sfDir)
      graft.build.PositionIndex.build(spark,
        Transcripts.fromDocuments(Corpus.documents(spark, sfDir)), dir)
      new PosSearcher(spark, dir)
    })

  /** Phrase top-k WITH the positional sidecar: the ordered sloppy phrase
    * at slop 0 ([[phraseSlopTopK]]) without its span column — adjacency
    * comes from the index alone (no candidate point-read of source text,
    * no verify UDF); scores are the same conjunctive BM25 as
    * [[phraseTopK]], so the two paths are result-identical on any phrase
    * with ≥ 1 analyzed term. A stopword-only phrase — empty under the
    * non-positional path, which has no indexed prefilter for it — here
    * returns its true matches with score 0 (no scoring term survives
    * analysis), first k by doc_id. */
  def phraseTopKPos(spark: SparkSession, sfDir: String, phrase: String, k: Int): DataFrame =
    phraseSlopTopK(spark, sfDir, phrase, 0, k).select(col("doc_id"), col("score"))

  /** Ordered sloppy-phrase top-k (Lucene's span_near in_order=true /
    * sloppy PhraseQuery): docs whose phrase tokens appear IN ORDER with
    * minimal ordered span s, matched when s − m ≤ slop (slop 0 ≡ exact
    * adjacency). Candidates come from the positional sidecar
    * ([[graft.query.PosSearcher.phraseSlopDocs]]) and are scored by
    * [[positionalTopK]]; the minimal ordered span rides along. A
    * stopword-only phrase returns its matches at score 0, first k by
    * doc_id. */
  def phraseSlopTopK(spark: SparkSession, sfDir: String, phrase: String,
                     slop: Int, k: Int): DataFrame = {
    val rawToks = graft.analysis.Analyzer.tokenizeRaw(phrase).toSeq
    val matches = posSearcher(spark, sfDir).phraseSlopDocs(rawToks, slop)
    val s = searcher(spark, sfDir)
    if (s.analyzeQuery(phrase).isEmpty)
      matches.join(docIds(s), "docId")
        .select(col("doc_id"), lit(0.0).as("score"), col("span"))
        .orderBy(asc("doc_id")).limit(k)
    else positionalTopK(spark, sfDir, phrase, matches, k)
  }

  /** Positional (docId, span) `matches` joined to the conjunctive BM25
    * scores of `query` (matches ⊆ conjunctive candidates for stopword-free
    * queries) and cut on (round4, doc_id): (doc_id, score, span). */
  private def positionalTopK(spark: SparkSession, sfDir: String, query: String,
                             matches: DataFrame, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    cut(s.matchAllDocs(query)
      .join(broadcast(matches), "docId")
      .join(docIds(s), "docId")
      .select(col("doc_id"), col("score"), col("span")), k)
  }

  /** MMR-diversified rerank: greedy maximal-marginal-relevance over the
    * BM25 top-`m` pool — pick argmax of λ·score − (1−λ)·max-cosine-to-
    * selected, ties by doc_id — using the embeddings table for pairwise
    * similarity (docs without an embedding take similarity 0: relevance-
    * only). Output (doc_id, score, mmr_rank).
    *
    * Scale shape: MMR is inherently sequential in k, so — exactly like
    * production rerankers — it runs on a bounded RERANK WINDOW: the top-m
    * pool (m rows) and its point-read embeddings are the only data leaving
    * the cluster; the corpus is touched only by the WAND top-m kernel and
    * a pushed-down `vec_id IN (...)` embedding lookup. No SQL oracle
    * (greedy argmax is not expressible without recursion); the driver
    * records the rows-only check and MmrSpec pins the semantics against an
    * independent recompute. */
  def mmrTopK(spark: SparkSession, sfDir: String, query: String,
              m: Int, k: Int, lambdaQ: Double): DataFrame = {
    import spark.implicits._
    val pool = topK(spark, sfDir, query, m, relational = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ids = pool.map(_._1)
    val embs = Corpus.embeddings(spark, sfDir)
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).iterator.map(_.toDouble).toArray))
      .toMap
    def cos(a: Long, b: Long): Double = (embs.get(a), embs.get(b)) match {
      case (Some(x), Some(y)) =>
        var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        while (i < x.length) { dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
        if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
      case _ => 0.0
    }
    val remaining = scala.collection.mutable.LinkedHashMap(pool: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    while (out.size < k && remaining.nonEmpty) {
      val best = remaining.iterator.map { case (id, sc) =>
        val maxSim = if (out.isEmpty) 0.0 else out.iterator.map(s => cos(id, s._1)).max
        (id, sc, lambdaQ * sc - (1 - lambdaQ) * maxSim)
      }.reduceLeft { (a, b) =>
        if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a
      }
      out += ((best._1, best._2, out.size + 1L))
      remaining.remove(best._1)
    }
    out.toSeq.toDF("doc_id", "score", "mmr_rank")
  }

  /** Fuzzy retrieval (Lucene FuzzyQuery re-expressed): expand a query term
    * to every dictionary term within edit distance ≤ `maxDist` (banded-
    * threshold Levenshtein over the Searcher's df frame — a dictionary-
    * sized map-side scan, never the corpus), capped at the first `maxExpansions` by term
    * order (the Lucene max-clause discipline [[prefixTopK]] also follows),
    * then BM25 top-k with the variants as a qtf=1 query through the
    * normal WAND kernel. Output (doc_id, score). */
  def fuzzyTopK(spark: SparkSession, sfDir: String, term: String,
                maxDist: Int, maxExpansions: Int, k: Int): DataFrame = {
    val s = searcher(spark, sfDir)
    val variants = s.dfDF
      .filter(levenshtein(col("term"), lit(term), maxDist) >= 0)
      .orderBy("term").limit(maxExpansions)
      .select("term").collect().map(_.getString(0))
    if (variants.isEmpty) // nothing in the dictionary within maxDist
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)
    topKCut(s.topK(variants.mkString(" "), k + 50), k)
  }

  /** Wildcard retrieval (Lucene's WildcardQuery): dictionary terms
    * matching the glob (`*` = any run, `?` = one char) become a qtf=1
    * OR query, expansion capped at `maxExpansions` in term order (the
    * same deterministic cap as [[fuzzyTopK]]). The expansion is one scan
    * of the Searcher's vocabulary-sized df frame; a leading literal
    * prefix adds a StartsWith prefilter ahead of the regex — the same
    * reason Lucene walks a prefix-bounded FST range. */
  def wildcardTopK(spark: SparkSession, sfDir: String, pattern: String,
                   maxExpansions: Int, k: Int): DataFrame = {
    val rx = "^" + pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()^$|+".contains(c) => "\\" + c
      case c => c.toString
    } + "$"
    val prefix = pattern.takeWhile(c => c != '*' && c != '?')
    val s = searcher(spark, sfDir)
    val dict = if (prefix.isEmpty) s.dfDF else s.dfDF.filter(col("term").startsWith(prefix))
    val variants = dict.filter(col("term").rlike(rx))
      .orderBy("term").limit(maxExpansions)
      .select("term").collect().map(_.getString(0))
    if (variants.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)
    topKCut(s.topK(variants.mkString(" "), k + 50), k)
  }

  /** Proximity (unordered span-near) top-k: documents containing every
    * distinct raw token of `query` within a window of ≤ `window`
    * consecutive positions, BM25-scored and cut on (round4, doc_id).
    * Emits the per-doc minimal span alongside the score — proximity comes
    * from the positional sidecar alone (PosSearcher.spanDocs' linear
    * k-pointer sweep), no text point-read; scored by [[positionalTopK]]
    * like [[phraseSlopTopK]]. */
  def spanNearTopK(spark: SparkSession, sfDir: String, query: String,
                   window: Int, k: Int): DataFrame = {
    val rawToks = graft.analysis.Analyzer.tokenizeRaw(query).toSeq
    positionalTopK(spark, sfDir, query, posSearcher(spark, sfDir).spanDocs(rawToks, window), k)
  }

  /** Batched multi-query top-k through one index pass (Searcher.topKBatch);
    * slack + (round4, doc_id) re-cut per query for oracle determinism. */
  def batchTopK(spark: SparkSession, sfDir: String,
                queries: Map[String, String], k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(round(col("score"), 4).desc, col("doc_id").asc)
    searcher(spark, sfDir).topKBatch(queries, k + 50)
      .select(col("qid"), col("conv_id").cast("long").as("doc_id"), col("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(asc("qid"), col("score").desc, asc("doc_id"))
  }

  /** Snippet window size: tokens kept on each side of the first match. */
  val SnippetWindow = 4

  /** Top-k hits with an extracted snippet: the first raw token matching an
    * analyzed query term, ± SnippetWindow raw tokens, space-joined. The
    * scale shape mirrors phraseTopK: the kernel ranks, only the ≤ k winning
    * docs' text is point-read — snippet extraction never touches the
    * corpus. Output (doc_id, score, snippet). */
  def snippets(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame = {
    val qset = graft.analysis.Analyzer.tokenizeEn(query).toSet
    val w = SnippetWindow
    val snip = udf { (t: String) =>
      val toks = graft.analysis.Analyzer.tokenizeRaw(t)
      val i = toks.indexWhere(qset.contains)
      if (i < 0) "" // cannot happen for a scored hit; total function anyway
      else toks.slice(math.max(0, i - w), i + w + 1).mkString(" ")
    }
    topK(spark, sfDir, query, k, relational = false)
      .join(textOf(spark, sfDir), "doc_id") // ≤ k rows broadcast against the pruned scan
      .select(col("doc_id"), col("score"), snip(col("text")).as("snippet"))
      .orderBy(round(col("score"), 4).desc, col("doc_id").asc)
  }

  /** Incremental-maintenance proof: build over 80% of the corpus, APPEND
    * the remaining 20%, [[IndexBuilder.refresh]] a delta posting segment,
    * then query across base+segment — must equal the oracle's full-corpus
    * top-k (same SQL as q_bm25_topk with this query). */
  private def refreshedIndexDir(spark: SparkSession, sfDir: String): String =
    derived(spark, sfDir, "refidx") { (docs, dir) =>
      val base = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val late = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      IndexBuilder.build(spark, Transcripts.fromDocuments(base), dir,
        IndexBuilder.Config(shards = Shards))
      IndexBuilder.append(spark, Transcripts.fromDocuments(late), dir,
        IndexBuilder.Config(shards = Shards))
      IndexBuilder.refresh(spark, dir)
    }

  /** Index with lang/source indexed as facet posting lists (built once per
    * JVM, separate from the main index so the facet terms never appear in
    * the un-faceted oracle queries q_doc_tf / q_term_df / roundtrip). */
  val FacetCols = Seq("lang", "source", "n_chars")
  private def facetSearcher(spark: SparkSession, sfDir: String): Searcher =
    // the tag carries the facet column set: a dir built for an older
    // FacetCols (e.g. before n_chars) must never be reused silently
    searcherAt(spark, derived(spark, sfDir,
        s"facidx_${Integer.toHexString(FacetCols.mkString(",").hashCode)}") { (docs, dir) =>
      IndexBuilder.build(spark, Transcripts.fromDocuments(docs, FacetCols), dir,
        IndexBuilder.Config(shards = Shards, facetCols = FacetCols))
    })

  /** Faceted top-k: BM25 over `query` restricted to docs matching every
    * (column -> value) filter, via facet posting lists (never a scan or
    * join of the metadata column). Slack + (round4, doc_id) re-cut. */
  def filteredTopK(spark: SparkSession, sfDir: String, query: String,
                   facets: Map[String, String], k: Int): DataFrame =
    topKCut(facetSearcher(spark, sfDir).topKFiltered(query, facets, k + 50), k)

  /** Facet value counts among the docs matching the query (cnt desc, value
    * asc, top N) — the faceted-search aggregation panel. */
  def facetCounts(spark: SparkSession, sfDir: String, query: String,
                  facetCol: String, topN: Int): DataFrame =
    facetSearcher(spark, sfDir).facetCounts(query, facetCol, topN)
      .select(col("value"), col("cnt"))

  /** Facet value counts for several columns in one kernel pass (top N per
    * column; ordered facet, cnt desc, value). */
  def facetCountsMulti(spark: SparkSession, sfDir: String, query: String,
                       facetCols: Seq[String], topN: Int): DataFrame =
    facetSearcher(spark, sfDir).facetCountsMulti(query, facetCols, topN)
      .select(col("facet"), col("value"), col("cnt"))

  /** Numeric-range facet panel: matching-doc counts per [lo, hi) bucket of
    * a numeric facet column (all buckets emitted, empty ones at 0). */
  def facetCountsRange(spark: SparkSession, sfDir: String, query: String,
                       facetCol: String, bounds: Seq[Long]): DataFrame =
    facetSearcher(spark, sfDir).facetCountsRange(query, facetCol, bounds)

  /** Index with 20% of the corpus tombstone-DELETED (doc_id ≡ 2 mod 5) —
    * IndexBuilder.delete commits a new generation whose stats/df are
    * decremented exactly, so every surviving doc's BM25 score must equal a
    * from-scratch build over the 80% subset; the oracle computes exactly
    * that (baseCtesFor with the complementary WHERE). */
  private def deletedIndexDir(spark: SparkSession, sfDir: String): String =
    derived(spark, sfDir, "delidx") { (docs, dir) =>
      IndexBuilder.build(spark, Transcripts.fromDocuments(docs), dir,
        IndexBuilder.Config(shards = Shards))
      IndexBuilder.delete(spark, dir,
        pmod(col("conv_id").cast("long"), lit(5)) === 2)
    }

  /** Top-k over the tombstone-deleted index: deleted docs never rank, and
    * survivors score exactly as a rebuild without them (WAND kernel
    * excludes tombstones via the forward-leapfrog cursor; stats/df came
    * from the delete's exact decrement). */
  def deleteTopK(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    topKCut(searcherAt(spark, deletedIndexDir(spark, sfDir)).topK(query, k + 50), k)

  /** Corpus stats of the tombstone-deleted index — pins the delete's exact
    * (n, avgdl) decrement against an oracle over the surviving subset. */
  def deleteStats(spark: SparkSession, sfDir: String): DataFrame =
    statsOf(spark, searcherAt(spark, deletedIndexDir(spark, sfDir)))

  /** Index built by MERGING two independently-built half-indexes (even /
    * odd doc_id) via IndexBuilder.merge — no re-analysis, one exchange of
    * the analyzed rows. The merged index must be indistinguishable from
    * the standing full build over the same corpus (same shard routing,
    * same docIds, same stats/df/postings), so its oracles are exactly the
    * full-corpus ones. */
  private def mergedIndexDir(spark: SparkSession, sfDir: String): String =
    derived(spark, sfDir, "mrgidx") { (docs, dir) =>
      val halves = Seq(0, 1).map { h =>
        val half = java.nio.file.Files.createTempDirectory(s"graft_mrg_$h").toString
        IndexBuilder.build(spark, Transcripts.fromDocuments(
          docs.filter(pmod(col("doc_id"), lit(2)) === h)), half,
          IndexBuilder.Config(shards = Shards))
        half
      }
      IndexBuilder.merge(spark, halves, dir, IndexBuilder.Config(shards = Shards))
      halves.foreach(h => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(h)))
    }

  /** Two PERSISTENT half-indexes (even/odd doc_id), the subdirs `a` and
    * `b` of one derived dir, for the federated query — kept on disk
    * (unlike the merge demo's halves, which fold into the merged index and
    * are deleted). */
  private def fedIndexDirs(spark: SparkSession, sfDir: String): Seq[String] = {
    val dir = derived(spark, sfDir, "fedidx") { (docs, dir) =>
      Seq("a" -> 0, "b" -> 1).foreach { case (sub, h) =>
        IndexBuilder.build(spark, Transcripts.fromDocuments(
          docs.filter(pmod(col("doc_id"), lit(2)) === h)), s"$dir/$sub",
          IndexBuilder.Config(shards = Shards))
      }
    }
    Seq(s"$dir/a", s"$dir/b")
  }

  /** Federated top-k over the two half-indexes (Lucene's MultiReader:
    * combined N/avgdl/df) — must match the full-corpus oracle exactly,
    * proving member scores are globally comparable without a physical
    * merge. The Federated reader (both members' stats rows and Searchers)
    * is built once per corpus. */
  private val fedReaders = new ConcurrentHashMap[String, graft.query.Federated]()
  def federatedTopK(spark: SparkSession, sfDir: String, query: String,
                    k: Int): DataFrame = {
    val fed = fedReaders.computeIfAbsent(sfDir, _ =>
      new graft.query.Federated(spark, fedIndexDirs(spark, sfDir), P))
    topKCut(fed.topK(query, k + 50), k)
  }

  /** Top-k over the merged index — must match the full-corpus oracle
    * exactly (merge ≡ from-scratch build over the union). */
  def mergeTopK(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    topKCut(searcherAt(spark, mergedIndexDir(spark, sfDir)).topK(query, k + 50), k)

  /** Corpus stats of the merged index — pins merge's stats rebuild against
    * the full-corpus oracle. */
  def mergeStats(spark: SparkSession, sfDir: String): DataFrame =
    statsOf(spark, searcherAt(spark, mergedIndexDir(spark, sfDir)))

  /** Index where 20% of the corpus (doc_id ≡ 2 mod 5) had its text
    * REPLACED via IndexBuilder.update (tombstone → append → refresh): the
    * oracle recomputes top-k/stats over `documents` with the same rows'
    * text transformed in SQL, so the whole upsert chain — exact delete
    * decrement, re-analysis of the new text, stats/df re-increment — must
    * compose to a from-scratch build over the updated corpus. */
  private def updatedIndexDir(spark: SparkSession, sfDir: String): String =
    derived(spark, sfDir, "updidx") { (docs, dir) =>
      IndexBuilder.build(spark, Transcripts.fromDocuments(docs), dir,
        IndexBuilder.Config(shards = Shards))
      val upd = docs.filter(pmod(col("doc_id"), lit(5)) === 2)
        .withColumn("text", concat(col("text"), lit(" zzupdated marker")))
      IndexBuilder.update(spark, Transcripts.fromDocuments(upd), dir,
        IndexBuilder.Config(shards = Shards))
    }

  /** Top-k over the upserted index: the new text is searchable (the query
    * carries its marker token), the old versions never rank, and scores
    * use the post-update global stats exactly. */
  def updateTopK(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    topKCut(searcherAt(spark, updatedIndexDir(spark, sfDir)).topK(query, k + 50), k)

  /** Corpus stats of the upserted index — n is unchanged (replace, not
    * insert) while avgdl reflects the new text exactly. */
  def updateStats(spark: SparkSession, sfDir: String): DataFrame =
    statsOf(spark, searcherAt(spark, updatedIndexDir(spark, sfDir)))

  def refreshTopK(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    topKCut(searcherAt(spark, refreshedIndexDir(spark, sfDir)).topK(query, k + 50), k)

  /** Snapshot (time-travel) proof over the SAME refresh-demo index: open it
    * as of generation 0 — before the 20% append+refresh — so every result
    * and the global stats must match an oracle over the base 80% subset
    * only. Exercises asOfGen path resolution, per-snapshot stats/df, and
    * the cover filter that hides later generations' analyzed rows. */
  def snapshotTopK(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    topKCut(searcherAt(spark, refreshedIndexDir(spark, sfDir), asOfGen = 0L).topK(query, k + 50), k)

  def emptyQuery(spark: SparkSession, sfDir: String): DataFrame =
    searcher(spark, sfDir).scoreAll("", keepZeros = true)
      .select(col("conv_id").cast("long").as("doc_id"), col("score"))
      .orderBy("doc_id")

  // ---- O6/O8: two-pass scoring, no prebuilt index, caller-named columns -----
  def scoreTwoPass(spark: SparkSession, sfDir: String, query: String): DataFrame =
    TwoPass.scoreTwoPass(spark, Corpus.documents(spark, sfDir), "doc_id", "text", query, P)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy("doc_id")

  // ---- O15/O16: model-judged relevance stage (mock scorer) ------------------
  private def lmScores(spark: SparkSession, sfDir: String, query: String): DataFrame =
    LmStage.score(Corpus.documents(spark, sfDir), "doc_id", "text", query, LmStage.mockScorer())
      .select(col("doc_id"), round(col("score"), 4).as("lm_score"))

  def lmScore(spark: SparkSession, sfDir: String, query: String): DataFrame =
    lmScores(spark, sfDir, query).orderBy("doc_id")

  def lmRank(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    lmScores(spark, sfDir, query).orderBy(col("lm_score").desc, col("doc_id").asc).limit(k)

  // ---- O13: cascade with per-stage lineage metrics ---------------------------
  def cascadeMetrics(spark: SparkSession, sfDir: String, query: String,
                     threshold: Double, topK: Int, topM: Int): DataFrame = {
    import spark.implicits._
    val (_, metrics) = Cascade.runWithMetrics(
      docLensOf(spark, sfDir),
      cascadeStages(spark, sfDir, query),
      Cascade.Config(topK = topK, topM = topM, threshold = threshold), "doc_id")
    metrics.map(m => (m.stage.toLong, m.nIn, m.nThreshold, m.nOut))
      .toDF("stage", "n_in", "n_threshold", "n_out")
      .orderBy("stage")
  }

  private def cascadeStages(spark: SparkSession, sfDir: String,
                            query: String): Seq[DataFrame => DataFrame] = {
    val s = searcher(spark, sfDir)
    val stage1: DataFrame => DataFrame = cands =>
      s.scoreMatches(query)
        .join(docIds(s), "docId")
        .select(col("doc_id"), col("score"))
        .join(cands.select("doc_id", "len"), "doc_id")
    val stage2: DataFrame => DataFrame = prev =>
      prev.withColumn("score", col("score") * 0.5 + col("len") / 100.0)
    Seq(stage1, stage2)
  }

  // ---- O9-O14: cascade -------------------------------------------------------
  def cascade(spark: SparkSession, sfDir: String, query: String,
              threshold: Double, topK: Int, topM: Int): DataFrame = {
    // stage 2 is the reference pipeline tests' mock ranker: score*0.5 + len/100
    Cascade.run(docLensOf(spark, sfDir),
        cascadeStages(spark, sfDir, query),
        Cascade.Config(topK = topK, topM = topM, threshold = threshold), "doc_id")
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(round(col("score"), 4).desc, col("doc_id").asc)
  }
}
