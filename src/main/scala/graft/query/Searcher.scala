package graft.query

import graft.analysis.{Analyzer, StopWords}
import graft.model._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Query executor over a built index (SURVEY.md §3 entry points 1-2).
  *
  * Two equivalent paths, both returning (conv_id, turn_idx, docId, score):
  *
  *  - the KERNEL path (`topK` and every other index-served mode): the mode
  *    analyzes its query on the driver, takes the query terms' global
  *    statistics (df slice — a handful of values point-read from the df
  *    files, never the df table itself, never a Spark job) and folds them
  *    into one [[ShardQuery]] value: scoring clauses with their per-term
  *    similarity scorers, filter and exclude terms, and a sink (top-k heap,
  *    all matches or dis-max). Each shard runs `ShardQuery.run` — one of
  *    [[Wand]]'s three traversals (block-max WAND, leapfrog conjunction,
  *    ascending-docId union), tombstones excluded by the same forward
  *    cursor everywhere. Doc lengths ride INLINE in the posting blobs, so
  *    no side table is touched.
  *
  *    Every kernel consumer runs on the Searcher's prepared [[ShardJob]]
  *    — its postings files, grouped at construction from their footers so
  *    that a shard never spans partitions, whatever the layout
  *    (doc-complete, term-ranged, base + delta) or the session's split
  *    conf. Each task point-reads only the call's terms' rows of its
  *    files and runs the kernel per shard; nothing is exchanged.
  *     * Single-query top-k modes, [[cfSlice]] and the facet panels are
  *       ONE eager `runJob`: top-k tasks resolve their best k to
  *       (conv_id, turn_idx) in place ([[HitLookup]]), the driver merges
  *       the task results and wraps them in a local frame, so collecting
  *       it launches nothing more.
  *     * [[matchAllDocs]] and [[scoreMatches]] (every match) and
  *       `postingTfs` (every live posting, for the combined-fields fold)
  *       return the job's lazy frame, sized as the postings files for the
  *       planner's join choices.
  *
  *    [[topKBatch]] alone keeps a Dataset plan: a term-pruned postings
  *    scan and one groupByKey(shard) exchange of the pruned rows — the
  *    only Dataset reader of the postings.
  *
  *  - `topKExhaustive` / `scoreAll` — the relational twin: explode analyzed
  *    docs, broadcast-hash-join query terms, aggregate the codegen'd BM25
  *    expression. Used for correctness cross-checks and full score dumps
  *    (≅ reference ScoreAsync, which yields every doc).
  */
object Searcher {
  /** Doc metadata view: a pruned-column read of analyzed/ (no separate doc
    * table is materialized — Parquet scans only these columns). */
  def docMeta(spark: SparkSession, indexDir: String): DataFrame =
    graft.sources.TableIO.read(spark, s"$indexDir/analyzed")
      .select(col("shard"), col("docId"), col("conv_id"), col("turn_idx"), col("len"))

  /** One shard's posting lists by term. A term appears once per SEGMENT
    * (base + refresh deltas) when a partition holds both; segment docId
    * ranges are disjoint, so the merge is a concatenation + one re-encode. */
  private[query] def termLists(group: Seq[Posting]): Map[String, Posting] =
    group.groupBy(_.term).map { case (t, ps) =>
      t -> (if (ps.lengthCompare(1) == 0) ps.head else graft.codec.Postings.merge(ps))
    }

  /** Each (term, docId, tf) posting of one shard's `lists`, ascending
    * docId per term, skipping the docs on the shard's tombstone list. */
  private[query] def live(lists: Map[String, Posting], tomb: Option[Posting]): Iterator[(String, Long, Int)] =
    lists.iterator.flatMap { case (t, po) =>
      val (ex, c) = (new Wand.Excl(tomb.toSeq), new graft.codec.Postings.Cursor(po))
      Iterator.continually(c.next()).takeWhile(identity)
        .collect { case _ if !ex.excluded(c.docId) => (t, c.docId, c.tf) }
    }

  /** Scores every matching term 1: a clause set under it matches exactly
    * the docs on ≥ 1 of its lists, whatever their statistics. */
  private[query] object Matched extends Wand.SimScorer {
    def score(tf: Int, dl: Int): Double = 1.0
  }

  /** Spark's string order (unsigned UTF-8 bytes), as `asc` sorts. */
  private val SparkStrings: Ordering[String] =
    Ordering.by(org.apache.spark.unsafe.types.UTF8String.fromString)

  /** Columns of every single-query hit frame. */
  private val HitSchema = StructType.fromDDL(
    "conv_id STRING, turn_idx INT NOT NULL, docId BIGINT NOT NULL, score DOUBLE NOT NULL")
}

final class Searcher(spark: SparkSession, indexDir: String,
                     params: Bm25.Params = Bm25.RefDefaults,
                     language: String = "en",
                     cacheTables: Boolean = false,
                     /** Must equal the IndexBuilder.Config.normalizer the
                       * index was built with. */
                     normalizer: Analyzer.Norm = Analyzer.Identity,
                     /** Snapshot (time-travel) read: serve the index as of
                       * this committed refresh generation; -1 = latest.
                       * Validity is checked at construction (retention
                       * keeps the last two generations' stats/df; compact
                       * collapses older snapshots) — see
                       * IndexBuilder.validateSnapshot. */
                     asOfGen: Long = -1L,
                     /** Federated serving ([[Federated]]): score with these
                       * GLOBAL (n, avgdl) instead of this index's own —
                       * Lucene's MultiReader contract, making member scores
                       * comparable across indexes. Pair with the combined
                       * df via [[topKWithDf]]. */
                     statsOverride: Option[(Long, Double)] = None) {
  import spark.implicits._

  /** The generation this Searcher serves (pinned at construction — a
    * Searcher serves ONE snapshot; the serving tier builds a new Searcher
    * on publish). */
  val generation: Long =
    if (asOfGen >= 0L) {
      graft.build.IndexBuilder.validateSnapshot(spark, indexDir, asOfGen)
      asOfGen
    } else graft.build.IndexBuilder.committedGen(indexDir)

  /** Hot-index mode: pin the (small) per-query tables in executor memory.
    * Off by default — a 10^12-doc index must not be blanket-persisted;
    * the serving tier decides what stays hot. */
  private def maybeCache(df: DataFrame): DataFrame =
    if (cacheTables) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else df

  /** Base postings + any refresh-written delta segments (postings_seg_<g>).
    * A document lives in exactly ONE segment, so per-doc scores never span
    * segments; when one kernel group sees the same term from two segments
    * the lists are merged (disjoint ranges — pure concatenation). Snapshot
    * of the segment list is taken at construction: a Searcher serves one
    * index generation; the serving tier builds a new Searcher on publish. */
  private val postingsPaths: Seq[String] =
    s"$indexDir/postings" +: graft.build.IndexBuilder.segmentPathsAsOf(spark, indexDir, generation)
  private val postingsDF = maybeCache(graft.sources.TableIO.read(spark, postingsPaths))
  /** The (term, df) table of this generation (cached when cacheTables):
    * the one df reader of the query surface — dictionary scans (prefix,
    * fuzzy, wildcard, suggest) and tf·idf joins read it, never the df
    * files by path. */
  private[graft] val dfDF = maybeCache(graft.sources.TableIO.read(spark,
    graft.build.IndexBuilder.dfPathAsOf(indexDir, generation)))
  /** The df files, listed once for [[dfSlice]]'s point reads. */
  private val dfFiles: Seq[String] = PointRead.files(dfDF)
  /** The session's Hadoop conf, broadcast once for the point reads of
    * [[dfSlice]], the shard job and [[hitLookup]]. */
  private val hadoopConf = spark.sparkContext.broadcast(
    new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
  /** Coverage-filtered doc-meta projection, the base of [[scoreAll]]'s
    * zero-score rows. Kernel hits never read it: they resolve inside the
    * shard task through [[hitLookup]]. */
  private lazy val hitMetaDF = maybeCache {
    val base = graft.sources.TableIO.read(spark, s"$indexDir/analyzed")
    coveredOnly.fold(base)(base.where)
      .select(col("shard"), col("docId"), col("conv_id"), col("turn_idx"), col("len"))
  }
  /** Same projection for RELATIONAL paths (scoreAll keepZeros, doc scans),
    * which surface docs without going through a kernel — tombstones hidden
    * with the broadcast anti-join, layered over the shared cached frame. */
  private lazy val docMetaDF = tombstoneFree(hitMetaDF)

  /** The (cached when cacheTables) doc-meta projection, coverage-filtered,
    * tombstones not hidden. No engine code reads it: only perfbench's
    * traced hit-resolution span does. */
  private[graft] def hitMeta: DataFrame = hitMetaDF

  /** In-task (conv_id, turn_idx) resolution of kernel hits over this
    * index's analyzed/ files, listed and footer-read once at construction
    * through the storage seam (so catalog tables resolve too). */
  private val hitLookup: HitLookup = HitLookup(
    PointRead.files(graft.sources.TableIO.read(spark, s"$indexDir/analyzed")), hadoopConf)

  /** The (cached when cacheTables) base+segment postings table. No engine
    * code reads it: only perfbench's traced layer metrics do (the
    * kernel/codec replay and bytes per posting). */
  private[graft] def postingsView: DataFrame = postingsDF

  private val statsRow = graft.sources.TableIO.read(spark,
    graft.build.IndexBuilder.statsPathAsOf(indexDir, generation)).head()

  /** Committed-coverage filter: analyzed/ may hold appended-but-UNREFRESHED
    * rows, and the relational paths (scoreAll, doc-meta) scan analyzed/
    * directly — without this filter they would surface documents the WAND
    * path (committed postings only) and the committed stats/df cannot see.
    * None when no append/stream ever touched the index (no HWM manifests):
    * coverage is then trivially complete and the filter would only cost. */
  private val coveredOnly: Option[org.apache.spark.sql.Column] =
    if (asOfGen < 0L &&
      graft.build.Manifests.read(indexDir, "stream_hwm_max").isEmpty) None
    else graft.build.IndexBuilder.metaShards(indexDir).map { shards =>
      // a snapshot read ALWAYS filters to its generation's coverage —
      // analyzed/ holds every later generation's rows too
      graft.build.ShardKeys.below(
        graft.build.IndexBuilder.readCoverAsOf(spark, indexDir, shards, generation))
    }
  /** Delete tombstones as of this Searcher's generation
    * ([[graft.build.IndexBuilder.delete]]): per-shard docId sets that every
    * kernel excludes with a forward-only leapfrog cursor
    * ([[ShardJob.tombstones]]), never an anti-join of the corpus. The
    * growth path past ~10^9 accumulated deletes is per-shard tombstone
    * sidecar files stored with the postings shards — at that point
    * [[compact]] (which folds tombstones away physically) is overdue
    * anyway. Usually None. */
  private val tombstonePath: Option[String] =
    graft.build.IndexBuilder.tombstonePathAsOf(indexDir, generation)
  private val tombBc = ShardJob.tombstones(spark, tombstonePath)

  /** Hide tombstoned docs from a relational frame. */
  private def tombstoneFree(df: DataFrame): DataFrame =
    graft.build.IndexBuilder.withoutTombstones(df, tombstonePath)

  private def covered(df: DataFrame): DataFrame =
    tombstoneFree(coveredOnly.fold(df)(df.where))

  /** One (docId, conv_id, turn_idx, len, term, tf) row per (doc, term) of
    * the analyzed docs that `scan` keeps — the relational paths' one
    * reader of analyzed terms. `scan` filters the analyzed scan itself, so
    * a conv_id or docId predicate reaches Parquet before the explode;
    * coverage and tombstones then apply as on every relational path.
    * Lazy and never cached. */
  private[graft] def termRows(scan: org.apache.spark.sql.Column = lit(true)): DataFrame =
    covered(graft.sources.TableIO.read(spark, s"$indexDir/analyzed").where(scan))
      .select(col("docId"), col("conv_id"), col("turn_idx"), col("len"),
        explode(arrays_zip(col("terms"), col("tfs"))).as("tt"))
      .select(col("docId"), col("conv_id"), col("turn_idx"), col("len"),
        col("tt.terms").as("term"), col("tt.tfs").cast("long").as("tf"))
  val n: Long = statsOverride.map(_._1).getOrElse(statsRow.getAs[Long]("n"))
  val avgdl: Double = statsOverride.map(_._2).getOrElse(statsRow.getAs[Double]("avgdl"))
  /** Exact total token count (stats `sumlen`) — the collection-model
    * denominator for [[topKDirichlet]]. Not overridable by `statsOverride`
    * (the federated surface is BM25-only; see [[Federated]]). Legacy
    * stats tables predate the column ([[graft.build.IndexBuilder.sumlen]]),
    * so opening an old index never fails (only Dirichlet sees the
    * approximation). */
  val sumlen: Long = graft.build.IndexBuilder.sumlen(statsRow)

  /** The prepared shard job over this generation's postings files,
    * listed once through the storage seam; an unreadable footer fails
    * construction, naming the file. */
  private val shardJob = ShardJob(spark, PointRead.files(postingsDF), hadoopConf, tombBc,
    ShardJob.PostingRows)

  def analyzeQuery(query: String): Map[String, Int] =
    Analyzer.termFreqs(Analyzer.tokenize(query, StopWords.forLang(language), normalizer))

  /** Per-term global df, memoized across queries (misses cached as 0).
    * First sight of a term costs one driver-side point read of the df
    * files ([[PointRead]]) — never a Spark job. */
  private val dfCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def dfSlice(terms: Seq[String]): Map[String, Long] = {
    val missing = terms.filterNot(dfCache.containsKey)
    if (missing.nonEmpty) {
      val keys = PointRead.strings(missing)
      val found = dfFiles.flatMap(f => PointRead.rows(f, hadoopConf.value.value, "term", keys,
        Seq("term", "df")).map(r => r.string(0) -> r.long(1))).toMap
      missing.foreach(t => dfCache.put(t, java.lang.Long.valueOf(found.getOrElse(t, 0L))))
    }
    terms.iterator.map(t => t -> dfCache.get(t).longValue).filter(_._2 > 0L).toMap
  }

  /** The top k of one query over the postings of `terms` — score desc,
    * docId asc: one [[ShardJob]] run whose tasks resolve their own best k,
    * the ≤ tasks·k task heaps merged on the driver. */
  private def hits(terms: Seq[String], q: ShardQuery, k: Int): Seq[Hit] = {
    val lookup = hitLookup
    shardJob.run(terms) { shards =>
      lookup.resolveTopK(shards.flatMap { case (lists, tomb) =>
        q.run(lists, tomb).map(s => ("q", s.docId, s.score))
      }, k).toArray
    }.flatten.sorted(HitLookup.HitRank).take(k).toSeq
  }

  /** `hits` as a local (conv_id, turn_idx, docId, score) frame: collecting
    * it launches no job. */
  private def collectHits(hits: Seq[Hit]): DataFrame = spark.createDataFrame(
    hits.map(h => Row(h.conv_id, h.turn_idx, h.docId, h.score)).asJava, Searcher.HitSchema)

  /** The local hit frame of the top k of `clauses` over the postings of `terms`. */
  private def topHits(terms: Seq[String], clauses: Seq[ShardQuery.Clause], k: Int): DataFrame =
    collectHits(hits(terms, ShardQuery(clauses, sink = ShardQuery.Top(k)), k))

  /** The analyzed query and the df of its corpus terms; None when the
    * query analyzes to nothing or no term is in the corpus. */
  private def analyzed(query: String): Option[(Map[String, Int], Map[String, Long])] = {
    val qtf = analyzeQuery(query)
    if (qtf.isEmpty) None else Some(qtf -> dfSlice(qtf.keys.toSeq)).filter(_._2.nonEmpty)
  }

  /** BM25 clauses of the query terms in `qtf` order (their summation
    * order) that have a positive global df in `dfm`. */
  private def bm25(qtf: Seq[(String, Int)], dfm: Map[String, Long],
                   boosts: Map[String, Double] = Map.empty, slot: Int = 0): Seq[ShardQuery.Clause] =
    if (n == 0 || avgdl == 0.0) Nil
    else qtf.collect { case (t, f) if dfm.getOrElse(t, 0L) > 0L =>
      ShardQuery.clause(t, Bm25.sim(f, dfm(t), n, avgdl, params, boosts.getOrElse(t, 1.0)), slot)
    }

  /** The hits of an OR-mode BM25 top-k over `query`; None when fewer of
    * its terms are in the corpus than the sink's minMatch. */
  private def orHits(query: String, sink: ShardQuery.Top,
                     boosts: Map[String, Double] = Map.empty): Option[Seq[Hit]] =
    analyzed(query).filter(_._2.size >= sink.minMatch).map { case (qtf, dfm) =>
      hits(dfm.keys.toSeq.sorted, ShardQuery(bm25(qtf.toSeq, dfm, boosts), sink = sink), sink.k)
    }

  /** The local hit frame of [[orHits]]. */
  private def orFrame(query: String, sink: ShardQuery.Top,
                      boosts: Map[String, Double] = Map.empty): DataFrame =
    collectHits(orHits(query, sink, boosts).getOrElse(Nil))

  /** A single query's hits as [[topK]] computes them — its one job runs
    * inside the call — as a local frame with columns (docId, score,
    * conv_id, turn_idx); None when no query term is in the corpus. */
  private[graft] def kernelFrame(query: String, k: Int,
                                 exhaustiveKernel: Boolean = false): Option[DataFrame] =
    orHits(query, ShardQuery.Top(k, prune = !exhaustiveKernel))
      .map(collectHits(_).select("docId", "score", "conv_id", "turn_idx"))

  /** WAND top-k. Deterministic order: score desc, docId asc. */
  def topK(query: String, k: Int, exhaustiveKernel: Boolean = false): DataFrame =
    orFrame(query, ShardQuery.Top(k, prune = !exhaustiveKernel))

  /** minimum_should_match top-k (Lucene's msm over a SHOULD clause list):
    * OR-mode BM25, but a document qualifies only if it contains at least
    * `minMatch` DISTINCT analyzed query terms. minMatch = 1 ≡ [[topK]];
    * minMatch = all terms ≡ [[topKAnd]] (with identical scores — the count
    * filter never changes a qualifying doc's score). Same one-job shard
    * path; the count check rides the kernel's existing full-evaluation
    * loop, so pruning power is unchanged. */
  def topKMsm(query: String, minMatch: Int, k: Int): DataFrame =
    orFrame(query, ShardQuery.Top(k, minMatch = minMatch))

  /** Deep-pagination top-k (Elasticsearch's search_after): the hits whose
    * ROUND-4 score is ≤ `afterScore4` — i.e. at or below the previous
    * page's last hit — with the page gate applied INSIDE the kernel heap
    * ([[Wand.TopK]] gateMax), so page p costs one k-sized heap per shard,
    * never a (p·k)-sized one and never a driver-side re-sort of p·k rows.
    *
    * Boundary ties (score == afterScore4) are RETURNED: a total-order
    * pagination cursor needs a caller-unique tiebreak key (ES documents
    * the same requirement), and only the caller knows its key — it
    * finishes the strictly-after cut relationally on (score, its key).
    * Scores are exposed round-4 everywhere on this surface, so the cursor
    * lives in the same quantized space: stable under JSON round-trips. */
  def topKAfter(query: String, k: Int, afterScore4: Double): DataFrame =
    // +5e-5 = half a round-4 ulp: every doc ROUNDING to ≤ afterScore4
    // passes the raw-score gate; the caller's relational cut is exact.
    orFrame(query, ShardQuery.Top(k, gateMax = afterScore4 + 5e-5))

  /** Synonym-aware top-k — Lucene's SynonymQuery semantics, exactly: each
    * query term and its synonyms form ONE pseudo-term whose per-doc tf is
    * the SUM of member tfs ([[graft.codec.Postings.unionSum]]) and whose
    * df is the MAX member df (SynonymQuery's docFreq contract), so a doc
    * is never double-counted for saying the same thing two ways, yet the
    * group never scores above a genuinely-frequent single term. Synonym
    * strings are analyzed with the index's own analyzer. Member lists
    * union-merge per shard inside the kernel (bounded by the group's
    * pruned posting rows); everything else — pruning, tombstones, the one
    * shard job — is the standard kernel path. Empty synonym
    * map ≡ [[topK]]. */
  def topKSynonyms(query: String, synonyms: Map[String, Seq[String]],
                   k: Int): DataFrame = {
    val qtf = analyzeQuery(query)
    if (qtf.isEmpty) return emptyHits()
    val groups: Map[String, Seq[String]] = qtf.keys.map { t =>
      val syns = synonyms.getOrElse(t, Nil)
        .flatMap(s => analyzeQuery(s).keys).distinct.filterNot(_ == t)
      t -> (t +: syns)
    }.toMap
    val allTerms = groups.values.flatten.toSeq.distinct
    val dfm = dfSlice(allTerms)
    val gdf: Map[String, Long] = groups.collect {
      case (t, ms) if ms.exists(dfm.contains) =>
        t -> ms.flatMap(dfm.get).max
    }
    if (gdf.isEmpty) return emptyHits()
    val clauses = bm25(qtf.toSeq, gdf).map(c => c.copy(terms = groups(c.terms.head)))
    topHits(allTerms.filter(dfm.contains).sorted, clauses, k)
  }

  /** Top-k with CALLER-supplied per-term global df — the federated path
    * ([[Federated]]): the caller sums df across member indexes and every
    * member kernel scores with the combined values (paired with the
    * `statsOverride` constructor arg for global n/avgdl). Terms absent
    * from this member still prune its postings read to nothing — a
    * member without the term simply contributes no candidates. */
  def topKWithDf(query: String, k: Int, dfm: Map[String, Long]): DataFrame = {
    val qtf = analyzeQuery(query)
    if (qtf.isEmpty || dfm.isEmpty) return emptyHits()
    topHits(dfm.keys.toSeq.sorted, bm25(qtf.toSeq, dfm), k)
  }

  /** Boosted top-k (Lucene's `term^w` query-time weights): OR-mode BM25
    * with each term's contribution scaled by its boost. Boost keys are RAW
    * tokens (analyzed here with the index's own analyzer, so stemming /
    * normalization can never desynchronize the key from the indexed term);
    * absent terms default to 1.0 — boosts = empty ≡ [[topK]] exactly. The
    * boost scales the kernel's pruning upper bound by the same factor
    * ([[Bm25.Sim]]), so WAND skipping stays exact. */
  def topKBoosted(query: String, boosts: Map[String, Double], k: Int): DataFrame = {
    // Lucene's BoostQuery contract (as Wand.TermInput's require): a
    // non-positive boost breaks WAND's bound logic — fail before any job
    boosts.foreach { case (t, b) =>
      require(b > 0.0, s"boost for term '$t' must be > 0 (got $b)") }
    val aboosts = boosts.flatMap { case (raw, b) =>
      analyzeQuery(raw).keys.map(_ -> b) }
    orFrame(query, ShardQuery.Top(k), aboosts)
  }

  /** Per-term global COLLECTION frequency (total occurrences — the
    * language-model statistic df can't substitute for), memoized like
    * [[dfSlice]]. The index stores no cf table (BM25 never needs one), so
    * first sight of a term costs one shard job over its posting lists —
    * decode, skip tombstoned docs, sum tfs — summed on the driver; repeat
    * queries hit the memo. Misses cached as 0. */
  private val cfCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def cfSlice(terms: Seq[String]): Map[String, Long] = {
    val missing = terms.distinct.filterNot(cfCache.containsKey)
    if (missing.nonEmpty) {
      val found = shardJob.run(missing) { shards =>
        shards.flatMap { case (lists, tomb) => Searcher.live(lists, tomb) }
          .foldLeft(Map.empty[String, Long]) { case (m, (t, _, tf)) => m.updated(t, m.getOrElse(t, 0L) + tf) }
      }.flatten.groupMapReduce(_._1)(_._2)(_ + _)
      missing.foreach(t => cfCache.put(t, java.lang.Long.valueOf(found.getOrElse(t, 0L))))
    }
    terms.iterator.map(t => t -> cfCache.get(t).longValue).filter(_._2 > 0L).toMap
  }

  /** Every live posting of `terms`, and of the terms starting with one of
    * `prefixes`, as the shard job's lazy (term, docId, tf) frame: segments
    * merged and tombstoned docs skipped, the same per-shard decode that
    * [[cfSlice]] sums. */
  private[graft] def postingTfs(terms: Seq[String], prefixes: Seq[String] = Nil): DataFrame =
    shardJob.frame(terms, prefixes) { shards =>
      shards.flatMap { case (lists, tomb) => Searcher.live(lists, tomb).map { case (t, d, tf) => (t, d, tf.toLong) } }
    }.toDF("term", "docId", "tf")

  /** Completion suggester (ES completion / Lucene prefix termsEnum over
    * the dictionary): dictionary terms starting with `prefix`, popularity-
    * ranked (df desc, term asc). One StartsWith filter over the df frame
    * (pushed into the Parquet scan when the frame is not cached) — never
    * touches postings or the corpus. */
  def complete(prefix: String, k: Int): DataFrame =
    dfDF.where(col("term").startsWith(prefix))
      .select(col("term"), col("df"))
      .orderBy(desc("df"), asc("term")).limit(k)

  /** Dirichlet-smoothed query-likelihood top-k ([[LmDirichlet]]) — the
    * alternative similarity seam: same index, same shard job as
    * [[topK]], a different per-term formula needing cf instead of df.
    * The kernel is exhaustive over the pruned postings (WAND's bound
    * algebra doesn't transfer to the clamped LM contribution — see
    * [[LmDirichlet]]); everything else (the one shard job, tombstones,
    * in-task hit resolution) is the standard path. */
  def topKDirichlet(query: String, mu: Double, k: Int): DataFrame = {
    val qtf = analyzeQuery(query)
    if (qtf.isEmpty) return emptyHits()
    val cfm = cfSlice(qtf.keys.toSeq)
    if (cfm.isEmpty) return emptyHits()
    val clauses = if (sumlen <= 0L || mu <= 0.0) Nil else qtf.toSeq.collect {
      case (t, f) if cfm.contains(t) => ShardQuery.clause(t, LmDirichlet.sim(f, cfm(t), sumlen, mu))
    }
    topHits(cfm.keys.toSeq.sorted, clauses, k)
  }

  /** Classic TF-IDF top-k ([[ClassicTfIdf]]) — the third similarity over
    * the same index: √tf · idf² · 1/√dl, df statistics like BM25, same
    * shard job, exhaustive kernel. */
  def topKTfIdf(query: String, k: Int): DataFrame =
    analyzed(query).fold(emptyHits()) { case (qtf, dfm) =>
      val clauses = if (n == 0L) Nil else qtf.toSeq.collect {
        case (t, f) if dfm.contains(t) => ShardQuery.clause(t, ClassicTfIdf.sim(f, dfm(t), n))
      }
      topHits(dfm.keys.toSeq.sorted, clauses, k)
    }

  /** Disjunction-max top-k (Lucene's DisjunctionMaxQuery): each subquery
    * scores independently as OR-mode BM25; a doc's combined score is its
    * BEST subquery score plus `tie` times the rest —
    * max + tie·(sum − max) — so a doc matching several subqueries only
    * modestly outranks one nailing a single subquery (tie=0 = pure max,
    * tie=1 = plain sum). One kernel pass over the UNION of the subqueries'
    * pruned postings ([[Wand.union]], one dis-max slot per subquery) sums
    * each doc's per-subquery partials, combines, and heaps per shard — the
    * cross-subquery max needs every subquery's partial for a doc in one
    * place, which is exactly what the shard job's whole-shard tasks
    * guarantee — no exchange. */
  def topKDisMax(queries: Seq[String], tie: Double, k: Int): DataFrame = {
    val subs: Seq[Map[String, Int]] = queries.map(analyzeQuery).filter(_.nonEmpty)
    val allTerms = subs.flatMap(_.keys).distinct
    if (allTerms.isEmpty) return emptyHits()
    val dfm = dfSlice(allTerms)
    if (dfm.isEmpty) return emptyHits()
    val clauses = subs.zipWithIndex.flatMap { case (sq, si) => bm25(sq.toSeq, dfm, slot = si) }
    collectHits(hits(allTerms.filter(dfm.contains).sorted,
      ShardQuery(clauses, sink = ShardQuery.DisMax(k, tie)), k))
  }

  /** Significant-terms aggregation (Elasticsearch's significant_terms,
    * JLH heuristic): terms OVERREPRESENTED in the foreground — the docs
    * containing ALL analyzed query terms — relative to the whole corpus.
    * Per term with foreground df fg and corpus df:
    *
    *   fgPct = fg/F,  bgPct = df/N,  JLH = (fgPct − bgPct)·(fgPct/bgPct)
    *
    * only terms with fgPct > bgPct qualify. Plan: the conjunctive kernel
    * enumerates the foreground ONCE (cost ∝ shortest posting list, never
    * the corpus — [[matchAllDocs]]); the collected docId set (driver
    * residency ∝ the selective foreground, the shape this aggregation
    * serves) broadcast-joins the analyzed table (per-doc DISTINCT terms,
    * so one exploded row per (doc, term)); the per-term foreground counts
    * (≤ foreground vocab, small) then broadcast-join the global df table.
    * Nothing here scans the corpus: the two big inputs are touched only
    * through the pruned kernel scan and a column-pruned df read.
    *
    * GUARDED against a non-selective foreground: a bounded `take` probes
    * the match-set size first (never an unbounded collect). At or below
    * `fgBroadcastMax` the probe IS the complete foreground and broadcasts
    * as before; above it the foreground stays DISTRIBUTED — a left-semi
    * shuffle join against the analyzed table — so a broad query costs
    * extra kernel passes (each ∝ query-term postings), never driver
    * memory. Both paths produce identical rows (spec-pinned). */
  def significantTerms(query: String, topN: Int,
                       fgBroadcastMax: Int = 100000): DataFrame = {
    val fg = matchAllDocs(query).select($"docId")
    val probe = fg.as[Long].take(fgBroadcastMax + 1)
    if (probe.isEmpty) return Seq.empty[(String, Long, Long, Double)]
      .toDF("term", "fg_df", "df", "score")
    val analyzed = covered(graft.sources.TableIO.read(spark, s"$indexDir/analyzed"))
    val (fcnt, fgRows) =
      if (probe.length <= fgBroadcastMax)
        (probe.length.toLong,
          analyzed.join(broadcast(probe.toSeq.toDF("docId")), Seq("docId")))
      else
        (fg.count(), analyzed.join(fg, Seq("docId"), "left_semi"))
    val fgTerms = fgRows
      .select(explode($"terms").as("term"))
      .groupBy($"term").agg(count(lit(1)).as("fg_df"))
    val nn = n
    fgTerms.join(dfDF, "term")
      .withColumn("fg_pct", $"fg_df".cast("double") / fcnt)
      .withColumn("bg_pct", $"df".cast("double") / nn)
      .where($"fg_pct" > $"bg_pct")
      .withColumn("score", ($"fg_pct" - $"bg_pct") * ($"fg_pct" / $"bg_pct"))
      .select($"term", $"fg_df", $"df", round($"score", 4).as("score"))
      .orderBy(round($"score", 4).desc, $"term".asc).limit(topN)
  }

  /** Conjunctive (AND-mode) top-k: only documents containing EVERY analyzed
    * query term are ranked; scores equal the OR-mode BM25 score of the same
    * doc. A query term absent from the corpus ⇒ empty result (strict AND).
    * Same one-job shard path as [[topK]]; the kernel is leapfrog
    * intersection (cost ∝ shortest posting list, not the union) — the
    * all-must shape of [[search]]. */
  def topKAnd(query: String, k: Int): DataFrame = search(query, k = k)

  /** Negated (NOT-mode) top-k: OR-mode BM25 over the query terms,
    * excluding every document containing ANY analyzed `exclude` term
    * (Lucene's MUST_NOT shape). A query term that is also excluded can
    * never contribute — any doc containing it is excluded — so it is
    * dropped from the scoring clauses; survivors' scores equal their plain
    * OR-mode BM25. Same one-job shard path as [[topK]]: the exclude
    * lists ride the same term-pruned postings read and exclusion is a
    * forward-only leapfrog inside the WAND kernel ([[Wand.Excl]]) — never
    * an anti-join of the corpus. Exclusion is per-shard-sound because a
    * doc's query and exclude postings live in the same doc-sharded
    * partition. The should-plus-not shape of [[search]]. */
  def topKNot(query: String, exclude: String, k: Int): DataFrame =
    search("", query, exclude, k)

  /** Per-term score breakdown for ONE document — Lucene's explain(): each
    * query term's (tf, df, contribution) on `docId`, the contributions
    * summing to the doc's [[topK]]/[[scoreAll]] score exactly (same
    * codegen'd expression, same global stats). The doc's [[termRows]]
    * (docId filter pushed to the scan) joined to the broadcast query + df
    * slices — never a corpus scan. Coverage and tombstones apply:
    * explaining a deleted or not-yet-refreshed doc returns no rows,
    * matching its absence from every query path. */
  def explain(query: String, docId: Long): DataFrame = {
    val qtf = analyzeQuery(query)
    val empty = Seq.empty[(String, Long, Long, Double)].toDF("term", "tf", "df", "contrib")
    if (qtf.isEmpty) return empty
    val dfm = dfSlice(qtf.keys.toSeq)
    if (dfm.isEmpty) return empty
    val qdf = qtf.toSeq.toDF("term", "qtf")
    val dfTable = dfm.toSeq.toDF("term", "df")
    termRows(col("docId") === docId)
      .select(col("len"), col("term"), col("tf"))
      .join(broadcast(qdf), "term")
      .join(broadcast(dfTable), "term")
      .withColumn("contrib", Bm25.scoreCol(col("tf"), col("qtf"), col("df"),
        col("len"), lit(n), lit(avgdl), params))
      .select(col("term"), col("tf"), col("df").cast("long").as("df"), col("contrib"))
      .orderBy(col("term"))
  }

  /** Boolean retrieval — Lucene's BooleanQuery shape in ONE kernel pass:
    * every analyzed `must` term is required AND scores, `should` terms are
    * optional and score, `not` terms exclude (MUST_NOT). Candidates = docs
    * containing every must term and no not term; score = plain OR-mode
    * BM25 over must ∪ should (a term in both clauses scores once, with the
    * must qtf; a should term that is also excluded can never contribute
    * and is dropped; a must term that is also excluded is unsatisfiable —
    * empty result, Lucene's contract). `facets` adds metadata (column =
    * value) filters — facet posting lists ([[graft.model.Facets]]; the
    * index must carry them via Config.facetCols) join the must lists in
    * the filter cursor set, required but never scoring. The must + facet
    * lists drive the kernel as a leapfrog conjunction (cost ∝ shortest
    * filter list per shard; a must term scores through its filter cursor,
    * so its list decodes once); with neither, the kernel is OR-mode WAND.
    * The not lists ride the same term-pruned postings read as
    * forward-leapfrog exclusion cursors — one shard job, never an
    * anti-join of the corpus. */
  def search(must: String, should: String = "", not: String = "",
             k: Int = 10, facets: Map[String, String] = Map.empty): DataFrame = {
    val eset = analyzeQuery(not).keySet
    val m0 = analyzeQuery(must)
    if (m0.keys.exists(eset.contains)) return emptyHits()
    val stf = analyzeQuery(should)
      .filterNot { case (t, _) => eset.contains(t) || m0.contains(t) }
    val qtf = m0 ++ stf
    if (qtf.isEmpty) return emptyHits()
    val dfm = dfSlice(qtf.keys.toSeq)
    if (dfm.isEmpty) return emptyHits()
    if (m0.keys.exists(t => !dfm.contains(t))) return emptyHits() // a must term nowhere in the corpus
    val fterms = facets.toSeq.map { case (c, v) => graft.model.Facets.term(c, v) }
    val mterms = m0.keys.toSeq.sorted ++ fterms.sorted
    val eterms = eset.toSeq.sorted
    collectHits(hits((dfm.keys.toSeq ++ mterms ++ eterms).distinct.sorted,
      ShardQuery(bm25(qtf.toSeq, dfm), mterms, eterms, ShardQuery.Top(k)), k))
  }

  /** Filtered (faceted) top-k: rank only documents whose facet posting
    * lists contain them for EVERY (column, value) in `facets` — the filter
    * IS a posting list ([[graft.model.Facets]]; the index must have been
    * built with these columns in Config.facetCols). Scores are the normal
    * OR-mode BM25 over the query terms; zero-overlap docs are not emitted.
    * Same one-job shard path as [[topK]]: the facet lists are read
    * term-pruned alongside the query postings, and the kernel drives from
    * the filter intersection (cost ∝ shortest filter list per shard) — the
    * should-plus-facets shape of [[search]]. */
  def topKFiltered(query: String, facets: Map[String, String], k: Int): DataFrame =
    search("", query, k = k, facets = facets)

  /** Facet value counts over the documents matching ≥ 1 analyzed query term
    * (the OR-match set — identical to the score>0 set, since this engine's
    * idf variant is strictly positive): the aggregation panel of a faceted
    * search. Returns (value, cnt), cnt desc / value asc, top `topN`, as
    * a local frame. Scale shape as [[facetPanel]]. */
  def facetCounts(query: String, facetCol: String, topN: Int): DataFrame =
    facetTop(query, Seq(facetCol), topN).map { case (_, v, c) => (v, c) }.toDF("value", "cnt")

  /** Multi-column facet panel: value counts for SEVERAL facet columns in
    * ONE kernel pass ([[facetPanel]]) — calling facetCounts per column would
    * rescan the query postings and rebuild the match bitmap |columns|
    * times. Returns (facet, value, cnt), the top `topN` values per facet,
    * ordered (facet asc, cnt desc, value asc), as a local frame. */
  def facetCountsMulti(query: String, facetCols: Seq[String], topN: Int): DataFrame =
    facetTop(query, facetCols, topN).toDF("facet", "value", "cnt")

  /** The top `topN` values of each facet column of [[facetPanel]], ordered
    * (facet asc, cnt desc, value asc) in Spark's string order. */
  private def facetTop(query: String, facetCols: Seq[String], topN: Int): Seq[(String, String, Long)] = {
    val byCount = Ordering.by((r: (String, String, Long)) => (-r._3, r._2))(
      Ordering.Tuple2(Ordering.Long, Searcher.SparkStrings))
    facetPanel(query, facetCols).groupBy(_._1).toSeq.sortBy(_._1)(Searcher.SparkStrings)
      .flatMap(_._2.sorted(byCount).take(topN))
  }

  /** (facet, value, cnt) for every value of the columns `facetCols` over
    * the query's OR-match set. One shard job reads the
    * query terms' lists and every facet list of those columns (a prefix
    * point read of `\u0001col\u0001`, never an explode/join of the
    * corpus); per shard, the query clauses under a constant scorer stream
    * their ascending-docId union ([[ShardQuery]] with the
    * [[ShardQuery.All]] sink, tombstones excluded like every kernel) into
    * [[Wand.facetCounts]]; the driver sums the ≤ shards·|values| counts. */
  private def facetPanel(query: String, facetCols: Seq[String]): Seq[(String, String, Long)] = {
    val P = graft.model.Facets.Prefix
    (if (facetCols.isEmpty) None else analyzed(query)).fold(Seq.empty[(String, Long)]) { case (_, dfm) =>
      val qterms = dfm.keys.toSeq.sorted
      val q = ShardQuery(qterms.map(ShardQuery.clause(_, Searcher.Matched)), sink = ShardQuery.All)
      shardJob.run(qterms, facetCols.distinct.sorted.map(f => P + f + P)) { shards =>
        shards.flatMap { case (lists, tomb) =>
          Wand.facetCounts(q.run(lists, tomb), lists.collect { case (t, p) if t.startsWith(P) => p }.toSeq)
        }.toArray
      }.flatten.groupMapReduce(_._1)(_._2)(_ + _).toSeq
    }.map { case (t, c) =>
      val sep = t.indexOf(P, 1)
      (t.substring(1, sep), t.substring(sep + 1), c)
    }
  }

  /** Numeric-range facet panel: matching-doc counts per [lo, hi) bucket of
    * a NUMERIC facet column. `bounds` are the B+1 ascending bucket edges;
    * every bucket is emitted (empty ones at cnt 0), values outside all
    * buckets are dropped. Returns (bucket, lo, hi, cnt) ordered by bucket.
    *
    * Scale shape: identical to [[facetCounts]] — the rank-bitmap kernel
    * yields per-VALUE counts (vocab-sized, zero-exchange), and the range
    * rollup is a tiny bucket-table join over those counts, never a corpus
    * scan. Bounds are integral on purpose: the bucket DECISION stays in
    * integer arithmetic end-to-end (the repo's oracle-parity rule — string
    * facet values cast back with an exact long parse, no float rounding).
    * A very-high-cardinality numeric column (raw timestamps) should be
    * bucketed at INDEX time instead; this query-time rollup is for the
    * moderate-cardinality case where per-value lists already exist. */
  def facetCountsRange(query: String, facetCol: String, bounds: Seq[Long]): DataFrame = {
    require(bounds.size >= 2, "need at least two bucket edges")
    require(bounds == bounds.sorted, "bucket edges must be ascending")
    val buckets = bounds.sliding(2).zipWithIndex
      .map { case (Seq(lo, hi), i) => (i, lo, hi) }.toSeq
    val bucketsDF = buckets.toDF("bucket", "lo", "hi")
    val perValue = facetCounts(query, facetCol, Int.MaxValue)
      .withColumn("v", col("value").cast("long"))
    bucketsDF.join(perValue,
        perValue("v") >= bucketsDF("lo") && perValue("v") < bucketsDF("hi"), "left")
      .groupBy($"bucket", $"lo", $"hi")
      .agg(coalesce(sum($"cnt"), lit(0L)).as("cnt"))
      .orderBy($"bucket")
  }

  /** Every doc containing ALL analyzed query terms, as (docId, score) with
    * the conjunctive (= OR-mode) BM25 score — the distributed candidate
    * enumerator for phrase/positional verification. Output size ≤ the
    * query's shortest posting list; the caller point-reads only these
    * candidates (never the corpus). */
  def matchAllDocs(query: String): DataFrame =
    matchFrame(analyzed(query).filter { case (qtf, dfm) => dfm.size == qtf.size }.map {
      case (qtf, dfm) =>
        val terms = dfm.keys.toSeq.sorted
        terms -> ShardQuery(bm25(qtf.toSeq, dfm), terms, sink = ShardQuery.All)
    })

  /** Every match of a query over the postings of its terms, as the shard
    * job's lazy (docId, score) frame; no rows for None. */
  private def matchFrame(q: Option[(Seq[String], ShardQuery)]): DataFrame =
    q.fold(Seq.empty[(Long, Double)].toDF("docId", "score")) { case (terms, sq) =>
      shardJob.frame(terms) { shards =>
        shards.flatMap { case (lists, tomb) => sq.run(lists, tomb).map(s => (s.docId, s.score)) }
      }.toDF("docId", "score")
    }

  /** Batched multi-query top-k: ONE pass over the index answers every
    * query — the at-scale shape (the reference scores query-by-query; a
    * 10^12-doc engine amortizes the scan across the query batch). Each
    * shard task resolves its best k hits per query in place, and the
    * driver merges the task results per query as they arrive — a per-qid
    * TakeOrdered inside the result job. Runs now and returns a local frame
    * (qid, conv_id, turn_idx, docId, score), k rows per query, ordered
    * (qid, score desc, docId). */
  def topKBatch(queries: Map[String, String], k: Int): DataFrame = {
    val qterms: Seq[(String, Map[String, Int])] =
      queries.toSeq.map { case (qid, q) => qid -> analyzeQuery(q) }
    val allTerms = qterms.flatMap(_._2.keys).distinct.sorted
    if (allTerms.isEmpty) return Seq.empty[(String, String, Int, Long, Double)]
      .toDF("qid", "conv_id", "turn_idx", "docId", "score")
    val dfm = dfSlice(allTerms)
    val qs = qterms.map { case (qid, qtf) =>
      qid -> ShardQuery(bm25(qtf.toSeq, dfm), sink = ShardQuery.Top(k)) }
    // One narrow exchange of the pruned rows buys shard-level parallelism
    // of the kernel work. Each task resolves its best k candidates per
    // query in place.
    val (tb, lookup) = (tombBc, hitLookup)
    val perQid = postingsDF.where(col("term").isin(allTerms: _*)).as[Posting]
      .groupByKey(_.shard).flatMapGroups { (shard, rows) =>
        val lists = Searcher.termLists(rows.toSeq)
        qs.iterator.flatMap { case (qid, q) =>
          q.run(lists, tb.value.get(shard)).map(s => (qid, s.docId, s.score)) }
      }
      .mapPartitions(it => lookup.resolveTopK(it, k))
      .rdd.mapPartitions(hs => Iterator(hs.toSeq.groupBy(_.qid)))
      .fold(Map.empty[String, Seq[Hit]])(HitLookup.mergeTopK(_, _, k))
    perQid.toSeq.sortBy(_._1).flatMap(_._2)
      .map(h => (h.qid, h.conv_id, h.turn_idx, h.docId, h.score))
      .toDF("qid", "conv_id", "turn_idx", "docId", "score")
  }

  /** Every doc with ≥1 analyzed query term, as (docId, score) with the
    * OR-mode BM25 score — [[scoreAll]]'s positive-score set served from
    * the INDEX: the shard job's frame of the streaming [[Wand.union]]
    * kernel, cost ∝ the union of the query terms' posting lists, never an
    * analyzed-table scan. The backbone of scoring aggregations
    * (function_score, top_hits, collapse, recency rerank): they need every
    * match's score, not a top-k heap, and they resolve metadata against
    * the doc-meta sidecar ([[docMetaSidecar]]) — the whole plan touches
    * postings + docmeta only (PlanSpec pins this). */
  def scoreMatches(query: String): DataFrame =
    matchFrame(analyzed(query).map { case (qtf, dfm) =>
      // sorted: deterministic float-accumulation order at any parallelism
      dfm.keys.toSeq.sorted -> ShardQuery(bm25(qtf.toSeq.sortBy(_._1), dfm), sink = ShardQuery.All)
    })

  /** Build-time doc-meta sidecar (Lucene docvalues): (shard, docId,
    * conv_id, turn_idx, <metaCols…>) materialized by IndexBuilder when
    * `Config.metaCols` is set, so scoring aggregations join static
    * per-doc features/group columns WITHOUT reaching back to the source
    * table (which at 100 TB may not even be co-located with the index).
    * None when the index was built without one. */
  lazy val docMetaSidecar: Option[DataFrame] = {
    val p = s"$indexDir/docmeta"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      Some(maybeCache(graft.sources.TableIO.read(spark, p)))
    else None
  }

  /** Score every doc with ≥1 overlapping term (relational path); when
    * `keepZeros`, emit every doc (zero-score included) like the
    * reference's ScoreAsync stream. */
  def scoreAll(query: String, keepZeros: Boolean = false): DataFrame = {
    val qtf = analyzeQuery(query)
    val docs = docMetaDF
    if (qtf.isEmpty) {
      return docs.select($"conv_id", $"turn_idx", $"docId", lit(0.0).as("score"))
    }
    val qdf = qtf.toSeq.toDF("term", "qtf")
    val dfTable = dfDF
      .where(col("term").isin(qtf.keys.toSeq: _*))
    val scored = termRows()
      .join(broadcast(qdf), "term")
      .join(broadcast(dfTable), "term")
      .withColumn("part", Bm25.scoreCol($"tf", $"qtf", $"df", $"len", lit(n), lit(avgdl), params))
      .groupBy($"docId", $"conv_id", $"turn_idx")
      .agg(sum($"part").as("score"))
    if (!keepZeros) scored
    else docs.join(scored.select($"docId", $"score"), Seq("docId"), "left")
      .select($"conv_id", $"turn_idx", $"docId", coalesce($"score", lit(0.0)).as("score"))
  }

  /** Relational top-k (TakeOrderedAndProject). */
  def topKExhaustive(query: String, k: Int): DataFrame =
    scoreAll(query).filter($"score" > 0.0)
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
      .select($"conv_id", $"turn_idx", $"docId", $"score")

  private def emptyHits(): DataFrame = collectHits(Nil)
}
