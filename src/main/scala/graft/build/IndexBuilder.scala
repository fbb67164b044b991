package graft.build

import graft.analysis.{Analyzer, StopWords}
import graft.codec.{Postings, VByte}
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._

/** One analyzed term of one doc (exploded form). */
final case class TermRow(shard: Int, term: String, docId: Long, tf: Int)

/** Analyzed doc row — the first checkpointed stage. `terms`/`tfs` are the
  * per-doc distinct terms and their frequencies (parallel arrays), `len`
  * the total token count (BM25 length normalization needs the raw count,
  * BM25Reranker.cs:411). */
final case class AnalyzedRow(
    shard: Int, docId: Long, conv_id: String, turn_idx: Int, len: Int,
    terms: Array[String], tfs: Array[Int])

/** Distributed inverted-index build (SURVEY.md §7.2 steps 4-5).
  *
  * Layout under `indexDir`:
  *   analyzed/  (shard, docId, conv_id, turn_idx, len, terms[], tfs[])
  *              — also serves as the doc map via Parquet column pruning
  *   stats/     (n, avgdl, sumlen)                 — single row
  *   df/        (term, df)                         — global document freqs
  *   postings/  Posting rows, sorted by (shard, term); doc lengths ride
  *              INLINE in each posting (Lucene-norms-style), so the query
  *              path needs no side length table — no per-query shuffle and
  *              no O(shard) state anywhere. One output file per build
  *              partition; a shard never spans files unless dictRanges > 1
  *              (the Searcher's shard job groups a shard's files either way).
  *   postings_seg_<g>/  delta posting segments written by [[refresh]] —
  *              Lucene's segment model re-expressed: index maintenance
  *              costs ∝ NEW data, never the corpus. [[compact]] folds
  *              segments back into postings/.
  *   _manifest/ per-stage JSON checkpoints (Manifests)
  *
  * Scale design (10^12 turns):
  *  - The index is **document-partitioned**: shard = pmod(murmur3(conv_id),
  *    shards), a pure function of the data with a FIXED shard count — the
  *    same doc lands in the same shard at any parallelism, which is what
  *    makes docIDs (and therefore top-k output) identical between N and 4N
  *    executors. Head (Zipfian) terms are automatically spread over all
  *    shards — the document partitioning is the salt (north rule's "salted
  *    repartitioning of head terms"): no single reducer ever owns a full
  *    head-term posting list, and within a shard posting assembly is a
  *    spillable sort, not a hash-group materialization.
  *  - Nothing proportional to corpus size is ever collected to the driver;
  *    global stats are one row, df is a table joined/sliced at query time.
  *  - groupBy(term) for df relies on Spark's partial (map-side) aggregation,
  *    which collapses head terms per partition before the shuffle.
  *  - Every stage is checkpointed to the index directory with an atomic
  *    manifest, so an interrupted build resumes without recomputation.
  *  - Invariant: stats/, df/ and the union of posting segments always
  *    describe the SAME document set. [[append]]/streaming add rows to
  *    analyzed/ only; [[refresh]] moves all three forward together over
  *    exactly the uncovered rows (tracked by per-shard cover manifests).
  *
  * docId placement (routing, rank order and allocation, rank marks) is
  * owned by [[ShardKeys]]/[[Placement]] for every path that lands rows;
  * every later generation ([[refresh]], [[delete]]) is published by
  * [[commitGeneration]]'s `postings_gen` write, the one commit point.
  */
object IndexBuilder {

  /** Bump when the on-disk index layout changes — consumers key caches on it. */
  val FormatVersion = 7

  final case class Config(
      shards: Int = 32,
      language: String = "en",
      /** Partitions for the shard-repartition passes; defaults to `shards`
        * (capped by it — more partitions than shards is useless). */
      buildPartitions: Int = 0,
      /** Token-normalization hook (lemmatizer seam); must be pure and
        * deterministic, and the SAME function must be passed to the
        * Searcher so queries normalize identically. */
      normalizer: Analyzer.Norm = Analyzer.Identity,
      /** Dictionary range count for posting assembly. 1 (default) =
        * broadcast the whole per-build term dictionary — ~10 MB at 1M
        * terms, ~1-2 GB at a 10^8-term web vocabulary, the only
        * driver-resident structure that grows with corpus CONTENT. Past
        * that, set R ≈ ⌈vocabulary / 10^8⌉: the term space is split into
        * R equal-count ranges (boundaries from a distributed sort — never
        * a driver-side vocabulary materialization) and postings are
        * assembled range by range, each range broadcasting only its own
        * dictionary slice. Cost: R column-pruned passes over the analyzed
        * terms; trade: posting files per shard multiply by R, so the
        * Searcher's shard job reads a shard's R files in one task —
        * unavoidable, a 10^8+-term shard's postings never fit one file
        * anyway. The
        * config is explicit rather than auto-detected because detection
        * would charge every build a vocabulary count. */
      dictRanges: Int = 1,
      /** Input columns indexed as facet posting lists (metadata filters —
        * see [[graft.model.Facets]]): each doc gets one synthetic term
        * `<col>=<value>` per column (null values skipped),
        * tf=1, excluded from the BM25 doc length. Queries filter on them
        * via Searcher.topKFiltered. */
      facetCols: Seq[String] = Nil,
      /** Input columns materialized at BUILD time into a doc-meta sidecar
        * `docmeta/` = (shard, docId, conv_id, turn_idx, <metaCols…>) —
        * Lucene's docvalues re-expressed: static per-doc scoring features
        * and group/sort columns that scoring aggregations (function_score,
        * top_hits, collapse, recency) need at QUERY time. Serving joins
        * the sidecar, never the source table (which at 100 TB may not be
        * co-located with the index). [[append]] extends the sidecar and
        * requires these columns on its input once the sidecar exists;
        * [[merge]] does not carry sidecars (rebuild with metaCols set). */
      metaCols: Seq[String] = Nil)

  /** Every mutating op runs under the single-writer maintenance lease
    * ([[Manifests.withMaintenanceLease]]) AND the shared build conf, after
    * finishing any [[swapDir]] a crash interrupted. */
  private def leased[T](indexDir: String, spark: SparkSession)(body: => T): T =
    Manifests.withMaintenanceLease(indexDir)(withBuildConf(spark) {
      Seq("postings", "analyzed").foreach(t =>
        finishSwap(spark, s"$indexDir/${t}_tmp", s"$indexDir/$t"))
      body
    })

  def build(spark: SparkSession, input: DataFrame, indexDir: String,
            cfg: Config = Config()): Unit =
    leased(indexDir, spark) { buildStages(spark, input, indexDir, cfg) }

  /** Batch-append new turns into an existing index's analyzed table: same
    * shard routing and analyzer as the build, docIds allocated above the
    * per-shard high-water marks (shared with streaming ingest). The new
    * documents become searchable after the next [[refresh]]. */
  def append(spark: SparkSession, input: DataFrame, indexDir: String,
             cfg: Config = Config()): Unit = leased(indexDir, spark) {
    val shards = builtShards(indexDir)
    val place = placement(cfg, shards)
    val metaCols = sidecarCols(spark, indexDir, input.columns)
    val hwm = Hwm.read(spark, indexDir, shards)
    val rows = analyzedRows(input, place, cfg.language, cfg.normalizer, hwm, cfg.facetCols)
    graft.sources.TableIO.write(rows, s"$indexDir/analyzed", mode = "append")
    // the newly landed slice: the rows at or above the old HWMs
    val landed = graft.sources.TableIO.read(spark, s"$indexDir/analyzed")
      .where(!ShardKeys.below(hwm))
    metaCols.foreach(mcols => graft.sources.TableIO.write(
      docMetaRows(input, landed, place, mcols), s"$indexDir/docmeta", mode = "append"))
    // Advance HWMs from the ranks that actually LANDED (pruned shard+docId
    // scan of the analyzed table above the old HWMs) — never by re-scanning
    // the input, which a non-deterministic source could replay differently.
    ShardKeys.raise(landed, hwm)
    Hwm.write(indexDir, hwm)
  }

  /** Tombstone-delete every COVERED (searchable) document matching
    * `predicate` (a Column over the analyzed table: conv_id, turn_idx,
    * len, shard…). Lucene's delete model re-expressed for the segment
    * index: postings are immutable, so a delete never rewrites them — it
    * commits a new generation whose tombstone table lists the doomed
    * docIds, with stats (n, avgdl) and per-term df decremented EXACTLY
    * from the doomed docs' analyzed rows. Survivors' BM25 scores therefore
    * equal a from-scratch build without the deleted docs (the invariant
    * the DuckDB oracle checks); the Searcher excludes tombstoned docs
    * inside every kernel via the same forward-leapfrog cursor as MUST_NOT
    * ([[graft.query.Wand.Excl]]) — never an anti-join of the corpus.
    * [[compact]] reclaims the space physically.
    *
    * Only covered rows are deletable: an appended-but-unrefreshed doc is
    * not yet in stats/df/postings, so decrementing for it would corrupt
    * the invariant — delete after its refresh instead. The generation is
    * staged and committed by [[refresh]]'s [[commitGeneration]]: everything
    * is written under gen-suffixed names (tombstones_g<g>, stats_g<g>,
    * df_g<g>, copied-forward cover manifests) and the atomic `postings_gen`
    * pointer write is the single commit point. Each tombstones_g<g> holds
    * the FULL accumulated docId set (not a delta), so one pruned read
    * serves any generation; the table is tiny (8 bytes/deleted doc).
    *
    * Returns the number of documents newly tombstoned; 0 ⇒ nothing
    * matched and NO generation was committed. */
  def delete(spark: SparkSession, indexDir: String,
             predicate: org.apache.spark.sql.Column): Long =
    deleteCore(spark, indexDir, _.where(predicate))

  /** Tombstone-delete the covered docs whose (conv_id, turn_idx) appears
    * in `keys` — the doom selection of [[update]]. Key-shuffle semi-join,
    * so a batch of ANY size works (never an isin list or a driver
    * collect); AQE broadcasts when the batch is small. */
  def deleteByKeys(spark: SparkSession, indexDir: String,
                   keys: DataFrame): Long =
    deleteCore(spark, indexDir, a => a.join(
      keys.select(col("conv_id"), col("turn_idx")).distinct(),
      Seq("conv_id", "turn_idx"), "left_semi"))

  /** Upsert by (conv_id, turn_idx) — Lucene's updateDocument on the
    * segment index: tombstone any covered doc carrying an incoming key
    * (exact stats/df decrement, [[delete]] semantics), land the
    * replacement rows ([[append]]), and [[refresh]] so they are
    * searchable. Net effect ≡ a from-scratch build in which the incoming
    * keys carry the NEW text (UpdateSpec pins this; `q_update_topk` /
    * `q_update_stats` oracle-check it). Commits up to 2 generations: the
    * delete (skipped when no key matched — then this is a plain insert)
    * and the refresh. Same contract as [[delete]]: only covered rows are
    * replaceable, so refresh any pending append touching these keys
    * first. Returns the number of REPLACED (tombstoned) docs; the
    * appended count is `input.count()`. */
  def update(spark: SparkSession, input: DataFrame, indexDir: String,
             cfg: Config = Config()): Long = Manifests.withMaintenanceLease(indexDir) {
    // lease is re-entrant: the nested delete/append/refresh share this hold
    //
    // Leading refresh = crash-RETRY idempotence: a prior update that died
    // after its append but before its refresh left replacement rows
    // appended-but-uncovered — invisible to deleteByKeys (only covered
    // rows are deletable), so a naive retry would append a SECOND copy and
    // the closing refresh would make both searchable. Covering any pending
    // appends first makes the orphaned copy deletable, and the retry nets
    // out to exactly one live copy per key. A no-op when nothing is
    // pending (refresh returns before staging at dn == 0).
    refresh(spark, indexDir)
    val replaced = deleteByKeys(spark, indexDir,
      input.select(col("conv_id"), col("turn_idx")))
    append(spark, input, indexDir, cfg)
    refresh(spark, indexDir)
    replaced
  }

  private def deleteCore(spark: SparkSession, indexDir: String,
                         doom: DataFrame => DataFrame): Long = leased(indexDir, spark) {
    import spark.implicits._
    val shards = builtShards(indexDir)
    val gen0 = committedGen(indexDir)
    val cover = readCoverAsOf(spark, indexDir, shards, gen0)
    val prior = tombstonePathAsOf(indexDir, gen0).map(p =>
      graft.sources.TableIO.read(spark, p).select($"shard", $"docId"))
    val doomed0 = doom(graft.sources.TableIO.read(spark, s"$indexDir/analyzed")
      .where(ShardKeys.below(cover)))
      .select($"shard", $"docId", $"len", $"terms")
    val doomed = prior.fold(doomed0)(p =>
      doomed0.join(p.select($"docId"), Seq("docId"), "left_anti"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (dn, dsum) = countAndLength(doomed)
      if (dn == 0L) 0L else {
        val gen = gen0 + 1L
        dropStaging(spark, indexDir, gen)
        val tombs = doomed.select($"shard", $"docId")
        graft.sources.TableIO.write(
          prior.fold(tombs)(p => p.unionByName(tombs))
            .repartition(1).sortWithinPartitions($"shard", $"docId"),
          s"$indexDir/tombstones_g$gen")
        // df: decrement one per (doomed doc, distinct term) — the exact
        // mirror of refresh's increment. Coverage is unchanged by a delete;
        // the tombstone presence marker is part of the staged state
        // (readers only look at generations ≤ the committed pointer).
        commitGeneration(spark, indexDir, gen, -dn, -dsum,
          doomed.select(explode($"terms").as("term"))
            .groupBy($"term").agg((-count(lit(1))).cast("long").as("df")),
          cover, Seq(StageManifest(s"tombstones_g$gen", dn, 0, "tombstones", 0)))
        dn
      }
    } finally doomed.unpersist()
  }

  /** Make appended/streamed documents searchable WITHOUT touching the
    * existing postings: build a delta posting segment over exactly the
    * analyzed rows not yet covered by any segment, and advance stats/df
    * incrementally (cost ∝ new rows + vocabulary, never the corpus). The
    * Searcher reads base + segments and merges per-(shard,term) lists on
    * the fly — ranges are disjoint, so the merge is a concatenation.
    *
    * CRASH SAFETY (generation-pointer commit, the manifest analogue of an
    * Iceberg snapshot): every output of generation g is STAGED under a
    * gen-suffixed name — postings_seg_<g>/, stats_g<g>/, df_g<g>/ and
    * per-shard postings_cover_g<g>_<s> manifests — and readers resolve
    * paths through the `postings_gen` pointer manifest, whose atomic write
    * is the single commit point. A crash anywhere before the pointer write
    * leaves only unreachable staging, dropped by the next refresh or
    * delete ([[dropStaging]]); a crash after it leaves a fully consistent
    * index. Nothing is ever updated in place. */
  def refresh(spark: SparkSession, indexDir: String): Unit = leased(indexDir, spark) {
    import spark.implicits._
    val shards = builtShards(indexDir)
    val cover = readCoverAsOf(spark, indexDir, shards, committedGen(indexDir))
    val newRows = graft.sources.TableIO.read(spark, s"$indexDir/analyzed")
      .where(!ShardKeys.below(cover))
    val (dn, dsum) = countAndLength(newRows)
    if (dn == 0L) return

    // ---- staging (all writes idempotent, none visible until the commit) --
    val gen = committedGen(indexDir) + 1L
    dropStaging(spark, indexDir, gen)
    val segDir = s"$indexDir/postings_seg_$gen"
    graft.sources.TableIO.write(
      assemblePostings(spark, newRows, Placement(shards, shards)).toDF(), segDir)

    // coverage of generation g (part of the staged state: a retry after a
    // crash must re-derive newRows from the COMMITTED covers, never these)
    ShardKeys.raise(newRows, cover)
    // The delta df comes from the delta segment just written (pruned
    // (term, count) columns), not a re-aggregation of the rows.
    commitGeneration(spark, indexDir, gen, dn, dsum,
      graft.sources.TableIO.read(spark, segDir)
        .groupBy($"term").agg(sum($"count").cast("long").as("df")),
      cover)

    // retention: generations ≤ g-2 are unreachable by any new reader —
    // drop their stats/df copies (segments stay: they ARE the index until
    // compact folds them). Production would keep a time-based window for
    // long-lived reader snapshots.
    val f = fs(spark, indexDir)
    (1L to gen - 2).foreach { g =>
      f.delete(new org.apache.hadoop.fs.Path(s"$indexDir/stats_g$g"), true)
      f.delete(new org.apache.hadoop.fs.Path(s"$indexDir/df_g$g"), true)
    }
  }

  /** The one generation commit of [[refresh]] and [[delete]]. Stages
    * stats_g<g> (the committed stats moved by the signed (dn, dsum)),
    * df_g<g> (the committed df merged with the signed per-term `deltaDf`;
    * terms that reach 0 are dropped), generation g's per-shard covers and
    * the caller's `staged` manifests, then writes the `postings_gen`
    * pointer — an atomic manifest rename and the single commit point. A
    * crash before it leaves only unreachable staging, dropped or
    * overwritten by the next commit. */
  private def commitGeneration(spark: SparkSession, indexDir: String, gen: Long,
                               dn: Long, dsum: Long, deltaDf: DataFrame,
                               cover: Array[Long],
                               staged: Seq[StageManifest] = Nil): Unit = {
    import spark.implicits._
    val st = graft.sources.TableIO.read(spark, statsPathAsOf(indexDir, gen - 1)).head()
    writeStats(spark, s"$indexDir/stats_g$gen", st.getAs[Long]("n") + dn, sumlen(st) + dsum)
    graft.sources.TableIO.read(spark, dfPathAsOf(indexDir, gen - 1))
      .unionByName(deltaDf)
      .groupBy($"term").agg(sum($"df").cast("long").as("df"))
      .where($"df" > 0L)
      .pipe(df => graft.sources.TableIO.write(df, s"$indexDir/df_g$gen"))
    writeCovers(indexDir, gen, cover)
    staged.foreach(Manifests.write(indexDir, _))
    Manifests.write(indexDir, StageManifest("postings_gen", gen, 0, "gen", 0))
  }

  /** Drop what a crashed refresh or delete left staged for generation
    * `gen`, before staging it anew. Its other staged names are overwritten
    * by the commit, but these are found by existence: a leftover
    * `postings_seg_<g>` would be served (its docs uncovered, so indexed a
    * second time by the next refresh), and a leftover `tombstones_g<g>`
    * marker would hide its docs without their stats/df decrement. The
    * marker goes first, so no crash leaves it naming a missing table. */
  private def dropStaging(spark: SparkSession, indexDir: String, gen: Long): Unit = {
    Manifests.clear(indexDir, s"tombstones_g$gen")
    Seq(s"tombstones_g$gen", s"postings_seg_$gen").foreach(t =>
      fs(spark, indexDir).delete(new org.apache.hadoop.fs.Path(s"$indexDir/$t"), true))
  }

  /** (row count, Σ len) of analyzed rows — a generation's stats delta. */
  private def countAndLength(rows: DataFrame): (Long, Long) = {
    val r = rows.agg(count(lit(1)), coalesce(sum(col("len").cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def writeStats(spark: SparkSession, path: String, n: Long, sumlen: Long): Unit = {
    import spark.implicits._
    graft.sources.TableIO.write(
      Seq((n, if (n > 0) sumlen.toDouble / n else 0.0, sumlen)).toDF("n", "avgdl", "sumlen"),
      path)
  }

  private def writeCovers(indexDir: String, gen: Long, cover: Array[Long]): Unit =
    cover.zipWithIndex.foreach { case (v, s) =>
      Manifests.write(indexDir, StageManifest(s"postings_cover_g${gen}_$s", v, 0, "cover", 0))
    }

  /** Fold all delta segments back into the base postings table (one full
    * posting rebuild — run it on the compaction cadence, not per refresh).
    * Only COVERED rows are compacted: rows appended after the last refresh
    * stay out of the postings until their refresh, preserving the
    * stats/df/postings same-document-set invariant. Offline maintenance:
    * requires no concurrent refresh; a crash during the base-table swap is
    * finished by the next maintenance op ([[finishSwap]]). */
  def compact(spark: SparkSession, indexDir: String): Unit = leased(indexDir, spark) {
    val shards = builtShards(indexDir)
    val cover = readCoverAsOf(spark, indexDir, shards, committedGen(indexDir))
    val analyzed0 = graft.sources.TableIO.read(spark, s"$indexDir/analyzed")
      .where(ShardKeys.below(cover))
    // space reclamation for deletes: tombstoned docs are dropped from the
    // rebuilt base (one broadcast anti-join — the tombstone table is tiny).
    // The tombstone table itself stays: analyzed/ still holds the doomed
    // rows (rewriting the corpus-sized analyzed table is a separate vacuum
    // cadence), and serving-side exclusion over already-absent docIds is
    // free (the exclusion cursors never match).
    val analyzed = withoutTombstones(analyzed0, tombstonePathAsOf(indexDir, committedGen(indexDir)))
    graft.sources.TableIO.write(
      assemblePostings(spark, analyzed, Placement(shards, shards)).toDF(),
      s"$indexDir/postings_tmp")
    // Segments are deleted BEFORE the base swap: a crash in between leaves
    // queries temporarily missing the folded docs (visible staleness,
    // repaired by re-running compact) — the reverse order would leave the
    // same docIds in base AND segments, and the kernel's segment merge
    // would silently corrupt on the overlapping ranges. Covers are
    // untouched: the covered document set did not change, only its layout.
    val f = fs(spark, indexDir)
    f.listStatus(new org.apache.hadoop.fs.Path(indexDir)).foreach { st =>
      if (st.getPath.getName.startsWith("postings_seg_")) f.delete(st.getPath, true)
    }
    swapDir(spark, s"$indexDir/postings_tmp", s"$indexDir/postings")
    // the base rewrite invalidates every older snapshot (pre-delete
    // snapshots now miss physically-dropped docs) — record the fold point
    Manifests.write(indexDir, StageManifest("compact_floor", committedGen(indexDir), 0, "floor", 0))
  }

  /** The heavyweight tail of the delete lifecycle. [[compact]] rebuilds the
    * postings without the tombstoned docs but leaves their rows in the
    * corpus-sized analyzed table (and so keeps the tombstone set for
    * serving-side exclusion, by then a no-op). Vacuum finishes the job:
    * compact first (folds segments, cleans postings, records the snapshot
    * floor), then rewrite analyzed/ minus the doomed docIds — docIds are
    * KEPT, never re-assigned, so covers and allocation HWMs stay valid —
    * and finally retire the tombstone tables + manifests. Retirement is
    * safe because every structure any servable generation reads is now
    * physically clean: generations below the delete were expired by
    * compact's floor, and generations at/above it never see the doomed
    * docs anyway. Crash order: the manifest clear is LAST, so an
    * interrupted vacuum leaves only harmless no-op exclusion cursors and a
    * re-run completes the retirement. No generation is committed — the
    * logical corpus (survivors) is unchanged. */
  def vacuum(spark: SparkSession, indexDir: String): Unit = leased(indexDir, spark) {
    compact(spark, indexDir)
    val gen = committedGen(indexDir)
    tombstonePathAsOf(indexDir, gen).foreach { p =>
      // pin the allocation HWMs first: re-derived from the survivors, they
      // would drop below the covers wherever a shard's top ranks were
      // deleted, and a later append would reuse covered docIds
      Hwm.write(indexDir, Hwm.read(spark, indexDir, builtShards(indexDir)))
      graft.sources.TableIO.write(
        withoutTombstones(graft.sources.TableIO.read(spark, s"$indexDir/analyzed"), Some(p)),
        s"$indexDir/analyzed_tmp")
      swapDir(spark, s"$indexDir/analyzed_tmp", s"$indexDir/analyzed")
      (1L to gen).foreach { g =>
        if (Manifests.read(indexDir, s"tombstones_g$g").isDefined) {
          fs(spark, indexDir).delete(new org.apache.hadoop.fs.Path(s"$indexDir/tombstones_g$g"), true)
          Manifests.clear(indexDir, s"tombstones_g$g")
        }
      }
    }
  }

  /** Merge several standing indexes into ONE new index at `outDir` WITHOUT
    * re-analysis — Lucene's addIndexes re-expressed for the shard layout.
    * Each source contributes its LOGICAL corpus (analyzed rows minus its
    * committed tombstones, covered or not — merge makes everything
    * searchable, like compact+refresh would); rows are re-routed to the
    * target shard layout and re-ranked, then the derived tables (stats,
    * postings, df) are rebuilt from the term arrays. The expensive analyze
    * stage never reruns, and the only corpus-sized move is ONE exchange of
    * the analyzed rows — at 10^12 turns that is the difference between a
    * merge and a full rebuild. Sources are read-only throughout.
    *
    * Invariant (spec-pinned): because shard routing is a pure function of
    * conv_id and ranks are assigned in the same (shard, conv_id, turn_idx)
    * sort order as [[build]], the merged index is BYTE-EQUIVALENT to a
    * from-scratch build over the union of the sources' logical corpora —
    * same docIds, same stats/df, same scores. Duplicate (conv_id,
    * turn_idx) pairs across sources are the caller's contract to avoid,
    * exactly as in Lucene's addIndexes. `cfg.facetCols` is ignored: facet
    * terms already ride the sources' term arrays. */
  def merge(spark: SparkSession, srcDirs: Seq[String], outDir: String,
            cfg: Config = Config()): Unit = leased(outDir, spark) {
    import spark.implicits._
    require(srcDirs.nonEmpty, "merge needs at least one source index")
    analyzedStage(spark, outDir, cfg.shards) {
      val survivors = srcDirs.map { src =>
        withoutTombstones(graft.sources.TableIO.read(spark, s"$src/analyzed"),
          tombstonePathAsOf(src, committedGen(src)))
          .select(col("conv_id"), col("turn_idx"), col("len"), col("terms"), col("tfs"))
      }.reduce(_ unionByName _)
      val shards = cfg.shards
      placement(cfg, shards).route(survivors)
        .mapPartitions { it =>
          val ranks = new ShardKeys.Ranks(new Array[Long](shards))
          it.map { r =>
            val shard = r.getAs[Int]("shard")
            (shard, ranks.next(shard), r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
              r.getAs[Int]("len"), r.getAs[Seq[String]]("terms").toArray,
              r.getAs[Seq[Int]]("tfs").toArray)
          }
        }
        .toDF("shard", "docId", "conv_id", "turn_idx", "len", "terms", "tfs")
    }
    buildDerived(spark, outDir, cfg)
  }

  // ---- generation-pointer path resolution ----------------------------------

  /** Committed refresh generation (0 = base build only). */
  def committedGen(indexDir: String): Long =
    Manifests.read(indexDir, "postings_gen").map(_.rows).getOrElse(0L)

  /** Tombstone table as of generation `gen`: each [[delete]] writes the
    * FULL accumulated set, so the latest committed table at or before
    * `gen` is complete — walk the (small-integer) generations down to the
    * most recent delete. None ⇔ no delete had committed by `gen`. */
  def tombstonePathAsOf(indexDir: String, gen: Long): Option[String] = {
    var g = gen
    while (g >= 1L) {
      if (Manifests.read(indexDir, s"tombstones_g$g").isDefined)
        return Some(s"$indexDir/tombstones_g$g")
      g -= 1L
    }
    None
  }

  /** Stats table location as of generation `gen` (gen-suffixed after a
    * refresh; generation 0 is the base build). */
  def statsPathAsOf(indexDir: String, gen: Long): String =
    if (gen == 0L) s"$indexDir/stats" else s"$indexDir/stats_g$gen"

  /** Current stats table location (gen-suffixed after a refresh). */
  def statsPath(indexDir: String): String =
    statsPathAsOf(indexDir, committedGen(indexDir))

  /** Df table location as of generation `gen`. */
  def dfPathAsOf(indexDir: String, gen: Long): String =
    if (gen == 0L) s"$indexDir/df" else s"$indexDir/df_g$gen"

  /** Current df table location (gen-suffixed after a refresh). */
  def dfPath(indexDir: String): String =
    dfPathAsOf(indexDir, committedGen(indexDir))

  /** Posting segment dirs readable as of generation `gen`: segments
    * 1..gen that still exist (compact deletes folded segments — their
    * documents then live in the base table; staging above the pointer is
    * never read, so a crashed half-written segment is invisible). */
  def segmentPathsAsOf(spark: SparkSession, indexDir: String, gen: Long): Seq[String] = {
    if (gen == 0L) return Seq.empty
    val f = fs(spark, indexDir)
    (1L to gen).map(i => s"$indexDir/postings_seg_$i")
      .filter(p => f.exists(new org.apache.hadoop.fs.Path(p)))
  }

  /** Live posting segment dirs at the committed generation. */
  def segmentPaths(spark: SparkSession, indexDir: String): Seq[String] =
    segmentPathsAsOf(spark, indexDir, committedGen(indexDir))

  /** Fail-fast validity check for a snapshot (as-of) read at generation
    * `gen` — the manifest analogue of an Iceberg time-travel read. A
    * snapshot stays readable until maintenance reclaims its inputs:
    *  - refresh retention deletes stats/df copies of generations ≤ g-2,
    *    so only the last two generations keep their global stats;
    *  - compact rewrites the base table (folding segments in, tombstoned
    *    docs OUT), which collapses every snapshot older than the fold
    *    point: the base then over-covers pre-refresh snapshots and is
    *    physically missing docs a pre-delete snapshot must serve. Compact
    *    records the fold point in the `compact_floor` manifest; a
    *    refresh-generation below it is ALSO detected by its reclaimed
    *    segment dir (legacy indexes predate the floor manifest).
    * A delete generation has no segment — its tombstones_g manifest is its
    * existence proof. Production retention would be time-based (SURVEY
    * §7.5); the protocol is the same. */
  def validateSnapshot(spark: SparkSession, indexDir: String, gen: Long): Unit = {
    val committed = committedGen(indexDir)
    require(gen >= 0L && gen <= committed,
      s"generation $gen does not exist (committed generation is $committed)")
    val floor = Manifests.read(indexDir, "compact_floor").map(_.rows).getOrElse(0L)
    require(gen >= floor,
      s"snapshot $gen expired: compact rewrote the base at generation $floor")
    val f = fs(spark, indexDir)
    def exists(p: String) = f.exists(new org.apache.hadoop.fs.Path(p))
    require(exists(statsPathAsOf(indexDir, gen)) && exists(dfPathAsOf(indexDir, gen)),
      s"snapshot $gen expired: stats/df retention keeps only generations ${committed - 1}..$committed")
    ((gen + 1) to committed).foreach { i =>
      require(exists(s"$indexDir/postings_seg_$i") ||
          Manifests.read(indexDir, s"tombstones_g$i").isDefined,
        s"snapshot $gen expired: segment $i was folded into the base by compact")
    }
  }

  // ---- shared build configuration -----------------------------------------

  private[build] def withBuildConf[T](spark: SparkSession)(body: => T): T = {
    // Task-side file commit (v2): the v1 default renames every task's
    // output sequentially on the driver, a constant cost that destroys
    // scaling efficiency on many-file stages. (On object stores, swap for
    // the store's committer; Iceberg commits replace this entirely.)
    spark.sparkContext.hadoopConfiguration
      .setInt("mapreduce.fileoutputcommitter.algorithm.version", 2)
    // The analyzed table explodes ~30-50x into term rows downstream; with
    // the default 128 MB splits its map side runs on a handful of tasks
    // and starves the cluster. Small splits keep every core busy (scan
    // cost is trivial next to the explode+shuffle it feeds).
    val prev = Seq(
      "spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes",
      // AQE partition coalescing would undo the exact shard→partition
      // balance below (it merges by size, re-introducing stragglers).
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
    // openCost = split size: files under the split threshold each get their
    // own scan partition instead of being packed several-to-a-task — an
    // input table written with W-way parallelism feeds the analyze exchange
    // with ≥ W map tasks (packing starves the map side at small corpus
    // sizes; at 100 TB files exceed the split size and this is moot).
    spark.conf.set("spark.sql.files.openCostInBytes", (16L * 1024 * 1024).toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def placement(cfg: Config, shards: Int): Placement =
    Placement(shards,
      if (cfg.buildPartitions > 0) math.min(cfg.buildPartitions, shards) else shards)

  /** The Hadoop filesystem holding `path`. */
  private[graft] def fs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Shard count recorded at build time (index_meta manifest). */
  def metaShards(indexDir: String): Option[Int] =
    Manifests.read(indexDir, "index_meta").map(_.rows.toInt)

  /** [[metaShards]] of an index a maintenance op mutates. Never guessed:
    * routing rows with the wrong modulus would corrupt the shard layout
    * (refresh silently drops out-of-range shards, HWM arrays overflow). */
  private[build] def builtShards(indexDir: String): Int = metaShards(indexDir).getOrElse(
    throw new IllegalStateException(s"$indexDir has no index_meta manifest"))

  /** Exact total token count of a stats row; legacy stats tables predate
    * the `sumlen` column, whose value is then reconstructed as
    * round(n·avgdl). */
  private[graft] def sumlen(stats: Row): Long =
    if (stats.schema.fieldNames.contains("sumlen")) stats.getAs[Long]("sumlen")
    else math.round(stats.getAs[Long]("n") * stats.getAs[Double]("avgdl"))

  /** `df` without the docs listed in the tombstone table at `tombstones`:
    * one broadcast anti-join (the table is tiny); `df` itself for None. */
  private[graft] def withoutTombstones(df: DataFrame, tombstones: Option[String]): DataFrame =
    tombstones.fold(df)(p => df.join(
      broadcast(graft.sources.TableIO.read(df.sparkSession, p).select(col("docId"))),
      Seq("docId"), "left_anti"))

  // ---- analyzed-row production (build, append and streaming share this) -----

  /** Analyze raw turns into analyzed-table rows: ONE exchange (exact
    * placement by shard, [[Placement.route]]) carrying RAW TEXT only — the
    * analyzer runs AFTER the shuffle, fused into the same per-partition
    * pass that assigns ranks, so the exchange never moves the (larger)
    * term/tf arrays and the analyzed form is materialized exactly once,
    * straight into the Parquet writer. `base(shard)` is the first rank to
    * allocate (0 on a fresh build; the HWM on append and streaming
    * ingest). */
  private[graft] def analyzedRows(input: DataFrame, place: Placement, language: String,
                                  norm: Analyzer.Norm, base: Array[Long],
                                  facetCols: Seq[String] = Nil): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    val stop = language
    val fcols = facetCols.toArray
    place.route(input
      .select(col("conv_id").cast("string") +: col("turn_idx").cast("int") +:
        col("text") +: fcols.map(c => col(c).cast("string")): _*))
      .mapPartitions { rows =>
        // one interning analyzer per partition: steady-state per-token cost
        // is allocation-free (see PartitionAnalyzer — the 4N-core scaling
        // lever: allocation bandwidth is what saturates first)
        val pa = new graft.analysis.PartitionAnalyzer(StopWords.forLang(stop), norm)
        val ranks = new ShardKeys.Ranks(base)
        rows.map { r =>
          val shard = r.getInt(0)
          val docId = ranks.next(shard)
          val (len, terms0, tfs0) = pa.analyze(r.getString(3))
          // Facet terms PREPENDED (their Facets.Prefix sorts before every
          // analyzer token, keeping the per-doc terms array sorted), tf=1,
          // not counted in len. Null facet values index nothing.
          var terms = terms0; var tfs = tfs0
          if (fcols.length > 0) {
            val ft = new ArrayBuffer[String](fcols.length)
            var fi = 0
            while (fi < fcols.length) {
              if (!r.isNullAt(4 + fi)) ft += Facets.term(fcols(fi), r.getString(4 + fi))
              fi += 1
            }
            if (ft.nonEmpty) {
              val fa = ft.toArray
              java.util.Arrays.sort(fa, java.util.Comparator.naturalOrder[String]())
              terms = fa ++ terms0
              tfs = Array.fill(fa.length)(1) ++ tfs0
            }
          }
          (shard, docId, r.getString(1), r.getInt(2), len, terms, tfs)
        }
      }
      .toDF("shard", "docId", "conv_id", "turn_idx", "len", "terms", "tfs")
  }

  /** The analyzed stage of [[build]] and [[merge]]: `rows` land as
    * analyzed/, and the `index_meta` manifest records the shard count. */
  private def analyzedStage(spark: SparkSession, indexDir: String, shards: Int)
                           (rows: => DataFrame): Unit =
    stage(spark, indexDir, "analyzed") { () =>
      graft.sources.TableIO.write(rows, s"$indexDir/analyzed")
      Manifests.write(indexDir, StageManifest("index_meta", shards, FormatVersion, "meta", 0))
      graft.sources.TableIO.read(spark, s"$indexDir/analyzed").count()
    }

  private def buildStages(spark: SparkSession, input: DataFrame, indexDir: String,
                          cfg: Config): Unit = {
    val place = placement(cfg, cfg.shards)

    // ---- stage: analyzed -------------------------------------------------
    // docId-allocation HWMs are NOT computed here: the build path stays
    // job-minimal, and Hwm.read derives them from analyzed/ on the first
    // append/stream into this index (then persists manifests).
    analyzedStage(spark, indexDir, cfg.shards)(analyzedRows(input, place, cfg.language,
      cfg.normalizer, new Array[Long](cfg.shards), cfg.facetCols))

    // ---- stage: docmeta (docvalues sidecar) ------------------------------
    if (cfg.metaCols.nonEmpty) stage(spark, indexDir, "docmeta") { () =>
      graft.sources.TableIO.write(docMetaRows(input,
        graft.sources.TableIO.read(spark, s"$indexDir/analyzed"), place, cfg.metaCols),
        s"$indexDir/docmeta")
      graft.sources.TableIO.read(spark, s"$indexDir/docmeta").count()
    }

    buildDerived(spark, indexDir, cfg)
  }

  /** The meta columns of `indexDir`'s doc-meta sidecar; None without one.
    * Once a sidecar exists, every doc that lands in analyzed/ must land in
    * it too (serving joins it INNER — a stale sidecar would silently drop
    * those docs from scoring aggregations), so an append or stream input
    * MUST carry these columns: fails, before anything lands, naming the
    * ones `columns` lacks. */
  private[graft] def sidecarCols(spark: SparkSession, indexDir: String,
                                 columns: Array[String]): Option[Seq[String]] = {
    val metaDir = s"$indexDir/docmeta"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(metaDir))) None
    else {
      val mcols = graft.sources.TableIO.read(spark, metaDir).schema.fieldNames
        .filterNot(Set("shard", "docId", "conv_id", "turn_idx", "len")).toSeq
      val missing = mcols.filterNot(columns.contains)
      require(missing.isEmpty,
        s"index $indexDir has a doc-meta sidecar with columns " +
          s"${mcols.mkString(",")}; the input lacks " +
          s"${missing.mkString(",")} — the sidecar would go stale")
      Some(mcols)
    }
  }

  /** Doc-meta sidecar rows for `analyzedSlice`: its (conv_id, turn_idx)
    * keys joined back to `input`'s metaCols, shard-placed and
    * docId-sorted like every other index table. ONE narrow co-shuffle of
    * two pruned projections at BUILD time — the docvalues
    * materialization cost that buys every scoring aggregation a
    * source-table-free plan at query time. */
  private[graft] def docMetaRows(input: DataFrame, analyzedSlice: DataFrame,
                                 place: Placement, metaCols: Seq[String]): DataFrame = {
    // `len` (analyzed doc length) rides along from the analyzed slice: it
    // is THE per-doc scoring statistic (BM25 normalization, BM25F field
    // lengths), so the sidecar carries it natively — query paths that need
    // lengths read docmeta instead of re-scanning analyzed/.
    val keys = analyzedSlice.select(
      col("shard"), col("docId"), col("conv_id"), col("turn_idx"), col("len"))
    val meta = input.select(col("conv_id").cast("string").as("conv_id") +:
      col("turn_idx").cast("int").as("turn_idx") +: metaCols.map(col): _*)
    place.exchange(keys.join(meta, Seq("conv_id", "turn_idx")), "shard", "docId")
      .select(Seq(col("shard"), col("docId"), col("conv_id"),
        col("turn_idx"), col("len")) ++ metaCols.map(col): _*)
  }

  /** The derived tables of a standing analyzed/ table — stats (+ gen-0
    * covers), postings, df. Shared tail of [[build]] (analyzed written by
    * the analyzer stage) and [[merge]] (analyzed written by the re-keying
    * union of the sources). */
  private def buildDerived(spark: SparkSession, indexDir: String,
                           cfg: Config): Unit = {
    import spark.implicits._
    lazy val analyzed = graft.sources.TableIO.read(spark, s"$indexDir/analyzed")
    // NOTE: there is no separate "docs" table — doc metadata reads go
    // through Parquet column pruning on analyzed/ (only the selected
    // columns are scanned), so materializing a projection would only add
    // a stage and double the doc-map storage.

    // stats depends only on analyzed/ and overlaps the posting assembly;
    // df is DERIVED FROM the finished postings table (df(term) = Σ over
    // shards of the per-shard posting count) — a vocabulary-sized read
    // instead of a second corpus-sized explode+aggregate pass.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val stages = Seq(

    // ---- stage: stats (N, avgdl, sumlen) + generation-0 covers -----------
    // ONE pruned per-shard aggregation yields both the corpus statistics
    // and the per-shard coverage high-water marks. Covers must come from
    // the ANALYZED ranks, not the posting blobs: a zero-term (stopword-
    // only) doc above a shard's last posting is counted in stats, and a
    // blob-derived cover would let the first refresh count it AGAIN.
    Future(stage(spark, indexDir, "stats") { () =>
      val cover = new Array[Long](cfg.shards)
      val per = ShardKeys.raise(analyzed, cover,
        count(lit(1)).as("cnt"), coalesce(sum($"len"), lit(0L)).as("s"))
      writeStats(spark, s"$indexDir/stats",
        per.map(_.getAs[Long]("cnt")).sum, per.map(_.getAs[Long]("s")).sum)
      writeCovers(indexDir, 0L, cover)
      1L
    }),

    // ---- stages: postings, then df from the postings ----------------------
    Future {
      stage(spark, indexDir, "postings") { () =>
        graft.sources.TableIO.write(
          assemblePostings(spark, analyzed, placement(cfg, cfg.shards), cfg.dictRanges).toDF(),
          s"$indexDir/postings")
        graft.sources.TableIO.read(spark, s"$indexDir/postings").count()
      }
      stage(spark, indexDir, "df") { () =>
        // terms are distinct per doc, so a term's document frequency is the
        // total length of its posting lists — pruned columns (term, count)
        // of the postings table, never the corpus.
        graft.sources.TableIO.read(spark, s"$indexDir/postings")
          .groupBy($"term").agg(sum($"count").cast("long").as("df"))
          .pipe(df => graft.sources.TableIO.write(df, s"$indexDir/df"))
        graft.sources.TableIO.read(spark, s"$indexDir/df").count()
      }
    })

    stages.foreach(Await.result(_, Duration.Inf))
  }

  // ---- posting assembly (build + refresh + compact share this) -------------

  /** Chunked sort-merge posting assembly (SURVEY.md §7.3). Map side
    * pre-groups each input slice into (shard, term, docIds[], tfs[]) CHUNKS
    * — the shuffle carries ~vocab-sized rows per slice instead of one row
    * per term occurrence (orders of magnitude fewer rows and no per-row
    * overhead), which is THE shuffle-volume lever at 10^12 turns. Because
    * analyzed rows are docId-ordered per shard and every (file-slice,
    * shard) covers a contiguous docId range, chunks of one (shard, term)
    * have disjoint ranges: the reduce side just sorts chunks by head docId
    * and concatenates — no element-wise merge. Head terms are already split
    * across all shards by the document partitioning; within a shard they
    * stream through the encoder.
    *
    * Terms ride the exchange DICTIONARY-ENCODED: a per-build sorted vocab
    * (tid = rank in the sorted term order) is broadcast once, chunk rows
    * carry the 4-byte tid instead of the string (each term string would
    * otherwise repeat once per (slice, shard) — lz4 cannot collapse
    * repeats across map tasks), and the shuffle sort compares ints, not
    * strings — less spill volume AND cheaper comparisons, the two costs
    * that dominate the 4N-core build. tid order = term order, so the
    * posting files stay term-sorted and Parquet row-group min/max pruning
    * on `term` is preserved. The reduce side decodes tid→term from the
    * same broadcast at encode time. The broadcast is VOCABULARY-sized
    * (never corpus-sized): ~10 MB at 1M terms, ~1-2 GB at a 10^8-term web
    * vocabulary — within executor budgets; past that, range-partition the
    * dictionary and assemble per range. */
  private def assemblePostings(spark: SparkSession, analyzed: DataFrame,
                               place: Placement,
                               dictRanges: Int = 1): Dataset[Posting] = {
    if (dictRanges <= 1) {
      val dict = termDict(spark, analyzed)
      val bcv = spark.sparkContext.broadcast(dict)
      assembleWithDict(spark, analyzed, place, bcv, null, null)
    } else assembleRanged(spark, analyzed, place, dictRanges)
  }

  /** Range-partitioned assembly (Config.dictRanges > 1): the web-vocabulary
    * path where no full dictionary may ever be driver-resident. Range
    * boundaries come from a DISTRIBUTED sort + zipWithIndex over the
    * distinct terms (equal-count ranges, exact — no sampling skew), in
    * JAVA string order (`Ordering.String` = `String.compareTo`, the same
    * comparator the chunk kernel's binary search uses — NOT Spark's UTF-8
    * binary order, which disagrees on supplementary characters; all
    * comparisons against the boundaries below therefore run in typed
    * closures, never as Catalyst string predicates). Each range then
    * assembles independently with only its own ~vocab/R dictionary slice
    * broadcast. Identical postings content to the broadcast path (pinned
    * by DictRangeSpec); only file layout differs (R file sets per shard). */
  private def assembleRanged(spark: SparkSession, analyzed: DataFrame,
                             place: Placement, nRanges: Int): Dataset[Posting] = {
    import spark.implicits._
    val termsDs = analyzed.select(explode(col("terms")).as("term"))
      .distinct().as[String]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sorted = termsDs.rdd.sortBy(identity).zipWithIndex()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val v = sorted.count()
      val step = math.max(1L, (v + nRanges - 1) / nRanges)
      val bounds = sorted.filter { case (_, i) => i > 0 && i % step == 0 }
        .map(_._1).collect().sorted // ≤ R-1 boundary strings on the driver
      sorted.unpersist(false)
      val ranges = (null +: bounds.toSeq).zip(bounds.toSeq :+ null)
      ranges.map { case (lo, hi) =>
        val slice = termsDs.filter { t =>
          (lo == null || t.compareTo(lo) >= 0) && (hi == null || t.compareTo(hi) < 0)
        }.collect() // one range's slice: ≈ vocab / R by construction
        java.util.Arrays.sort(slice.asInstanceOf[Array[AnyRef]])
        val bcv = spark.sparkContext.broadcast(slice)
        assembleWithDict(spark, analyzed, place, bcv, lo, hi)
      }.reduce(_ union _)
      // the union plan no longer references termsDs (slices are collected
      // eagerly above), so unpersisting in the finally is safe before the
      // caller's write evaluates it
    } finally termsDs.unpersist(false)
  }

  /** Chunk → exchange → sort-merge-encode over one dictionary (the whole
    * vocabulary, or one range's slice with [lo, hi) bounds in Java string
    * order; null = unbounded). */
  private def assembleWithDict(spark: SparkSession, analyzed: DataFrame,
                               place: Placement,
                               bcv: org.apache.spark.broadcast.Broadcast[Array[String]],
                               lo: String, hi: String): Dataset[Posting] = {
    import spark.implicits._
    place.exchange(chunkRows(spark, analyzed, bcv, lo, hi), "shard", "tid", "firstDoc")
      .mapPartitions { rows =>
        val vocab = bcv.value
        new Iterator[Posting] {
          private val it = rows.buffered

          // Decode + concatenate all chunks of the current (shard, tid):
          // chunks arrive sorted by firstDoc with disjoint ranges, so the
          // concat is usually already ascending — no element-wise merge.
          // After appends, a read partition that packed several small
          // analyzed files can yield chunks whose RANGES interleave (each
          // still internally ascending): detect and fall back to one sort.
          private def gather(shard: Int, tid: Int): (Array[Long], Array[Int]) = {
            var parts = List.empty[(Array[Long], Array[Int])]
            var total = 0
            while (it.hasNext && it.head.getInt(0) == shard && it.head.getInt(1) == tid) {
              val r = it.next()
              val n = r.getInt(3)
              val d = VByte.decodeDeltas(r.getAs[Array[Byte]](4), n)
              val v = VByte.decodeInts(r.getAs[Array[Byte]](5), n)
              parts = (d, v) :: parts
              total += n
            }
            val ordered = parts.reverse
            var docs = new Array[Long](total)
            var vals = new Array[Int](total)
            var o = 0
            ordered.foreach { case (d, v) =>
              System.arraycopy(d, 0, docs, o, d.length)
              System.arraycopy(v, 0, vals, o, v.length)
              o += d.length
            }
            var asc = true
            var i = 1
            while (asc && i < total) { asc = docs(i) > docs(i - 1); i += 1 }
            if (!asc) {
              val idx = Array.range(0, total).sortBy(docs(_))
              val d2 = new Array[Long](total)
              val v2 = new Array[Int](total)
              var j = 0
              while (j < total) { d2(j) = docs(idx(j)); v2(j) = vals(idx(j)); j += 1 }
              docs = d2; vals = v2
            }
            (docs, vals)
          }

          // Length sidecar of the CURRENT shard (LensTid sorts before
          // every real tid, so it is always absorbed before the shard's
          // first term). Memory is O(docs of this shard in this partition)
          // — the same class as a head term's materialized posting list,
          // bounded by the documented docs-per-shard cap.
          private var lensShard = -1
          // Open-addressing docId→len map (power-of-two, linear probe,
          // key = docId + 1 so 0 marks empty — docIds are non-negative).
          // The attach below runs once per POSTING ENTRY; a binary search
          // over the shard's sorted sidecar was a measured hot frame
          // (~17 dependent cache-missing probes per entry) — the hash is
          // 1-2 probes, built once per shard sidecar.
          private var lensKeys: Array[Long] = Array.emptyLongArray
          private var lensVs: Array[Int] = Array.emptyIntArray
          private var lensMask = 0
          private def buildLensMap(d: Array[Long], v: Array[Int]): Unit = {
            val capLM = Integer.highestOneBit(math.max(2, d.length * 2 - 1)) << 1
            lensMask = capLM - 1
            lensKeys = new Array[Long](capLM)
            lensVs = new Array[Int](capLM)
            var i = 0
            while (i < d.length) {
              val key = d(i) + 1L
              var h = ((key * -7046029254386353131L) >>> 33).toInt & lensMask
              while (lensKeys(h) != 0L) h = (h + 1) & lensMask
              lensKeys(h) = key
              lensVs(h) = v(i)
              i += 1
            }
          }
          private def lensOf(doc: Long, shard: Int, term: String): Int = {
            val key = doc + 1L
            var h = ((key * -7046029254386353131L) >>> 33).toInt & lensMask
            while (lensKeys(h) != key) {
              if (lensKeys(h) == 0L) throw new IllegalStateException(
                s"doc $doc (shard $shard, term '$term') missing from length sidecar")
              h = (h + 1) & lensMask
            }
            lensVs(h)
          }
          private def absorbLens(): Unit =
            while (it.hasNext && it.head.getInt(1) == LensTid) {
              lensShard = it.head.getInt(0)
              val (d, v) = gather(lensShard, LensTid)
              buildLensMap(d, v)
            }

          def hasNext: Boolean = { absorbLens(); it.hasNext }

          def next(): Posting = {
            if (!hasNext) throw new NoSuchElementException("posting merge iterator")
            val shard = it.head.getInt(0)
            val tid = it.head.getInt(1)
            val term = vocab(tid)
            val (docs, tfs) = gather(shard, tid)
            // Re-attach each doc's length from the sidecar (shipped once
            // per doc instead of once per (doc, term) — measured 33% of
            // the exchange). Every posting's doc MUST have a sidecar entry
            // from its own slice; a miss means chunk routing is broken.
            require(shard == lensShard,
              s"shard $shard postings arrived without a length sidecar")
            val lens = new Array[Int](docs.length)
            var j = 0
            while (j < docs.length) {
              lens(j) = lensOf(docs(j), shard, term)
              j += 1
            }
            Postings.encode(shard, term, docs, tfs, lens)
          }
        }
      }
  }

  /** Per-build term dictionary: the DISTINCT terms of `analyzed`, sorted
    * with Java String order (the same comparator the map side's binary
    * search uses — NOT Spark's UTF-8 binary order, which disagrees on
    * supplementary characters). One column-pruned pass + a vocabulary-sized
    * partial-agg shuffle; the collect is vocabulary-sized, never
    * corpus-sized. tid = index in this array. */
  private[graft] def termDict(spark: SparkSession, analyzed: DataFrame): Array[String] = {
    import spark.implicits._
    val arr = analyzed.select(explode(col("terms")).as("term"))
      .distinct().as[String].collect()
    java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
    arr
  }

  /** Map-side chunk production of [[assemblePostings]] — the rows that ride
    * the postings shuffle. Exposed package-private so profiling tools can
    * measure the exchange's exact byte composition. */
  private[graft] def chunkRows(spark: SparkSession, analyzed: DataFrame,
      bcv: org.apache.spark.broadcast.Broadcast[Array[String]],
      lo: String = null, hi: String = null): DataFrame = {
    import spark.implicits._
    analyzed
      .select(col("shard"), col("docId"), col("len"), col("terms"), col("tfs"))
      .mapPartitions { rows =>
        // Map-side pre-grouping AND pre-compression: each chunk's docId
        // deltas + tfs are VByte-encoded BEFORE the shuffle (doc lengths
        // travel in per-shard sidecar chunks, once per doc), so the
        // exchange carries ~2 bytes per posting entry instead
        // of 12+ — the shuffle-volume lever at 10^12 turns. Keys pack
        // (tid, shard) into one Long — no per-entry string concat, no
        // string hashing. The map FLUSHES
        // whenever it holds FlushEntries postings, so task memory is
        // bounded no matter how hard Parquet compressed the input
        // slice; a key flushed twice just produces two chunks, and
        // chunk docId ranges stay disjoint because flushes preserve
        // arrival (= docId) order.
        // Term chunks carry (docId deltas, tfs); doc lengths do NOT ride
        // them — a doc's length would be duplicated once per distinct term
        // (~40-50×, measured 33% of the exchange). Instead each (slice,
        // shard) emits ONE lens sidecar chunk (tid = LensTid = -1, which
        // sorts before every real tid) carrying each doc's length exactly once;
        // the reduce side re-attaches lengths before encoding.
        final class Chunk(val shard: Int) {
          val docs = new graft.codec.ByteBuf(16)
          val aux = new graft.codec.ByteBuf(8) // tfs for term chunks, lens for sidecars
          var n = 0
          var firstDoc = 0L
          var prev = 0L
          def add(d: Long, v: Int): Unit = {
            if (n == 0) firstDoc = d
            VByte.writeVLong(docs, d - prev); prev = d
            VByte.writeVLong(aux, v.toLong)
            n += 1
          }
        }
        val FlushEntries = 4000000
        val vocab = bcv.value
        val vocabRef = vocab.asInstanceOf[Array[AnyRef]]
        // term → tid memo: the analyzer interns tokens per partition, so
        // the same String object recurs across docs — each DISTINCT term
        // binary-searches the sorted vocab once per task, every repeat is
        // one O(1) hash probe. Memory ∝ the slice's vocabulary (same class
        // as the chunk map itself).
        val memo = new java.util.HashMap[String, Integer]()
        def tidOf(t: String): Int = {
          var v = memo.get(t)
          if (v == null) {
            val p = java.util.Arrays.binarySearch(vocabRef, t)
            if (p < 0) throw new IllegalStateException(
              s"term '$t' missing from the build dictionary")
            v = Integer.valueOf(p)
            memo.put(t, v)
          }
          v.intValue()
        }
        new Iterator[(Int, Int, Long, Int, Array[Byte], Array[Byte])] {
          private val m = new java.util.HashMap[java.lang.Long, Chunk]()
          // Chunks sealed early because arrival order regressed (see below);
          // emitted with the next flush. Keyed storage not needed — they're
          // complete.
          private val sealedChunks = new ArrayBuffer[(java.lang.Long, Chunk)]()
          private var entries = 0
          private var pending: Iterator[(java.lang.Long, Chunk)] = Iterator.empty
          private def refill(): Unit = {
            while (rows.hasNext && entries < FlushEntries) {
              val r = rows.next()
              val shard = r.getInt(0)
              val docId = r.getLong(1)
              val dl = r.getInt(2)
              val terms = r.getSeq[String](3)
              val tfs = r.getSeq[Int](4)
              // range-sliced assembly (dictRanges > 1): only in-[lo,hi)
              // terms chunk in this pass; the lens sidecar rides with the
              // doc's FIRST in-range term (once per doc per range that
              // has any of its terms — the reduce side of a range never
              // needs lengths of docs it emits no postings for)
              @inline def inRange(t: String): Boolean =
                (lo == null || t.compareTo(lo) >= 0) &&
                  (hi == null || t.compareTo(hi) < 0)
              // Seal-on-regression: arrival order restarts when a read
              // partition packs several small files of the SAME shard
              // (base + appended analyzed files): each file is
              // rank-ascending with a range disjoint from the others, so
              // sealing the current chunk at the file boundary keeps every
              // chunk internally ascending and ranges mutually disjoint.
              def chunkFor(tid: Int): Chunk = {
                val key = java.lang.Long.valueOf((tid.toLong << 32) | (shard & 0xffffffffL))
                var c = m.get(key)
                if (c == null) { c = new Chunk(shard); m.put(key, c) }
                else if (docId <= c.prev) {
                  sealedChunks += ((key, c))
                  c = new Chunk(shard); m.put(key, c)
                }
                c
              }
              var anyInRange = false // zero-term docs never appear in postings
              var i = 0
              while (i < terms.length) {
                val t = terms(i)
                if (inRange(t)) {
                  if (!anyInRange) {
                    chunkFor(LensTid).add(docId, dl)
                    entries += 1
                    anyInRange = true
                  }
                  chunkFor(tidOf(t)).add(docId, tfs(i))
                  entries += 1
                }
                i += 1
              }
            }
            import scala.jdk.CollectionConverters._
            // copy BEFORE clear — Iterator.++'s right operand is by-name,
            // so anything referencing `m` lazily would see the cleared map
            val copy = new java.util.HashMap(m)
            val tail = copy.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
            pending = sealedChunks.toList.iterator ++ tail
            sealedChunks.clear()
            m.clear()
            entries = 0
          }
          // Iterator contract: a refill can produce ZERO entries (e.g. a
          // stopword-only slice) — keep refilling until something pends
          // or the input is exhausted.
          def hasNext: Boolean = {
            while (!pending.hasNext && rows.hasNext) refill()
            pending.hasNext
          }
          def next(): (Int, Int, Long, Int, Array[Byte], Array[Byte]) = {
            if (!hasNext) throw new NoSuchElementException("postings chunk iterator")
            val (key, c) = pending.next()
            (c.shard, (key.longValue() >> 32).toInt, c.firstDoc, c.n,
              c.docs.toArray, c.aux.toArray)
          }
        }
      }
      .toDF("shard", "tid", "firstDoc", "n", "docs", "aux")
  }

  /** Sidecar-chunk term id: real tids are vocab ranks >= 0, so -1 sorts
    * before every real tid within a shard -- the reduce iterator always
    * absorbs a shard's length sidecar before its first term chunk. */
  private[graft] val LensTid = -1

  // ---- segment coverage ------------------------------------------------------

  /** Per-shard first rank NOT covered by generation `g`'s posting
    * segments: every generation (the base build's stats stage writes
    * g = 0) commits per-shard cover manifests; missing covers mean a
    * foreign/corrupt index — fail fast rather than silently re-index or
    * skip rows. Cover manifests are tiny and never reclaimed, so any
    * generation's coverage stays resolvable. */
  private[graft] def readCoverAsOf(spark: SparkSession, indexDir: String,
                                   shards: Int, g: Long): Array[Long] = {
    val cover = new Array[Long](shards)
    (0 until shards).foreach { s =>
      cover(s) = Manifests.read(indexDir, s"postings_cover_g${g}_$s").map(_.rows)
        .getOrElse(throw new IllegalStateException(
          s"generation $g lacks cover manifest for shard $s — " +
            "index predates this format (rebuild) or is corrupt"))
    }
    cover
  }

  /** Replace table `dest` by the complete table `tmp`: `dest` is renamed
    * aside to `<dest>_old`, `tmp` into place, then the aside copy is
    * deleted. A crash between any two steps leaves a state that
    * [[finishSwap]] completes — never one without the complete table. */
  private def swapDir(spark: SparkSession, tmp: String, dest: String): Unit = {
    val f = fs(spark, dest)
    if (f.exists(new org.apache.hadoop.fs.Path(dest))) rename(f, dest, s"${dest}_old")
    rename(f, tmp, dest)
    f.delete(new org.apache.hadoop.fs.Path(s"${dest}_old"), true)
  }

  /** Finish a [[swapDir]] a crash interrupted: promote `tmp` when `dest`
    * is missing, then drop the `<dest>_old` aside copy. `tmp` is NEVER
    * promoted while `dest` exists — that `tmp` may be half-written (its
    * op then rewrites it). */
  private def finishSwap(spark: SparkSession, tmp: String, dest: String): Unit = {
    val f = fs(spark, dest)
    val d = new org.apache.hadoop.fs.Path(dest)
    if (!f.exists(d) && f.exists(new org.apache.hadoop.fs.Path(tmp))) rename(f, tmp, dest)
    if (f.exists(d)) f.delete(new org.apache.hadoop.fs.Path(s"${dest}_old"), true)
  }

  private def rename(f: org.apache.hadoop.fs.FileSystem, from: String, to: String): Unit =
    if (!f.rename(new org.apache.hadoop.fs.Path(from), new org.apache.hadoop.fs.Path(to)))
      throw new java.io.IOException(s"rename $from -> $to failed")

  /** Run one stage unless its manifest says done; record rows/bytes/time. */
  private def stage(spark: SparkSession, indexDir: String, name: String)
                   (body: () => Long): Unit = {
    if (Manifests.isDone(indexDir, name)) return
    val t0 = System.nanoTime()
    val rows = body()
    val wallMs = (System.nanoTime() - t0) / 1000000L
    Manifests.write(indexDir,
      StageManifest(name, rows, Manifests.dirBytes(s"$indexDir/$name"), "done", wallMs))
  }
}
