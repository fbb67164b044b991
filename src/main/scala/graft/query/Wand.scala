package graft.query

import graft.codec.Postings
import graft.model.Posting

/** The posting-list traversals every shard kernel runs (SURVEY.md §4
  * item 3). Each [[ShardQuery]] picks one of three:
  *
  *  - [[wand]] — block-max WAND into a top-k heap: the pruning path of
  *    every OR-mode BM25 query. Identical top-k to exhaustive OR-mode BM25
  *    (any overlapping term contributes; the reference's scorer is
  *    OR-mode, BM25Reranker.cs:405-408); it only *skips* documents that
  *    provably cannot enter the current heap:
  *     - term upper bound  ub(t) = idf(t)·qtfSat(t)·tfSatUpper(maxTf(t));
  *     - pivot selection over cursors sorted by current docId;
  *     - block-max refinement: before scoring a pivot, re-check with the
  *       *current block* max tf of each aligned cursor.
  *  - [[conjunction]] — leapfrog intersection of required (filter) lists,
  *    each survivor scored by the query terms: AND mode, boolean must,
  *    facet filters, phrase candidates. Cost ∝ shortest filter list.
  *  - [[union]] — ascending-docId union of the query terms with no
  *    pruning: every match's score (scoring aggregations), the similarities
  *    without an upper bound (Dirichlet, TF-IDF), dis-max, and the
  *    exhaustive correctness twin [[topKExhaustive]].
  *
  * All three score a document as Σ score(tf, dl) over its terms in clause
  * order, with the per-term [[SimScorer]] of a similarity, and skip
  * excluded documents (MUST_NOT terms, delete tombstones) through one
  * forward-only [[Excl]] cursor set. The facet panel is a collector over
  * a [[union]] match stream ([[facetCounts]]), not a traversal of its own.
  * These loops are the only imperative piece of the query path by design:
  * posting-list traversal with threshold-based skipping is not
  * expressible relationally.
  */
object Wand {

  /** A similarity's contribution of one query term to one document, from
    * the term's in-doc frequency and the document's length. */
  trait SimScorer extends Serializable {
    def score(tf: Int, dl: Int): Double
  }

  /** A scorer with an upper bound over every document length — what
    * [[wand]] needs to prune. */
  trait Bounded extends SimScorer {
    /** Max of `score(tf, dl)` over every dl, for tf ≤ maxTf. */
    def bound(maxTf: Int): Double
  }

  /** One traversal input: a posting list, its scorer and the dis-max
    * subquery (`slot`) its contribution sums into. */
  final case class Term(posting: Posting, sim: SimScorer, slot: Int = 0)

  /** A BM25 query term over one shard's posting list. `boost` is the
    * query-time per-term weight (Lucene's `term^w`): it scales the term's
    * every contribution AND its pruning upper bound by the same factor, so
    * WAND thresholding stays exact under boosting. */
  final case class TermInput(posting: Posting, qtf: Int, globalDf: Long,
                             boost: Double = 1.0) {
    // Lucene's BoostQuery contract: a zero/negative/NaN boost would make
    // the term's pruning upper bound non-positive and silently break
    // WAND's cumulative-bound pivot logic (pruned results diverging from
    // the exhaustive twin) — reject at construction, never in the kernel.
    require(boost > 0.0, s"term boost must be > 0 (got $boost)")
  }
  final case class Scored(docId: Long, score: Double)

  /** Bounded min-heap of (score, docId); keeps the k largest by
    * (score, then smaller docId preferred on equal score — deterministic
    * D2 tie-break: on equal scores the smaller docId wins a heap slot).
    *
    * `gateMax` is the search_after pagination gate: documents scoring
    * strictly above it (earlier pages) never enter the heap, so a deep
    * page keeps a k-sized heap instead of page·k. The gate carries half-a-
    * round-4-ulp slack at the caller (scores are exposed rounded to 4dp),
    * so boundary ties PASS the kernel and the exact strictly-after cut
    * happens relationally where the external doc key exists — Lucene/ES
    * searchAfter's "unique tiebreak field" contract, split the same way. */
  final class TopK(k: Int, gateMax: Double = Double.PositiveInfinity) {
    val heap = new java.util.PriorityQueue[Scored](math.max(k, 1),
      (a: Scored, b: Scored) =>
        if (a.score != b.score) java.lang.Double.compare(a.score, b.score)
        else java.lang.Long.compare(b.docId, a.docId)) // larger docId = weaker
    def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.peek().score
    def offer(docId: Long, score: Double): Unit = {
      if (score > gateMax) return // earlier page (search_after)
      if (heap.size < k) heap.add(Scored(docId, score))
      else {
        val w = heap.peek()
        if (score > w.score || (score == w.score && docId < w.docId)) {
          heap.poll(); heap.add(Scored(docId, score))
        }
      }
    }
    def drainDescending(): Array[Scored] = {
      val out = new Array[Scored](heap.size)
      var i = out.length - 1
      while (!heap.isEmpty) { out(i) = heap.poll(); i -= 1 }
      out
    }
  }

  /** Number of documents fully scored by the most recent [[wand]] call ON
    * THIS THREAD — instrumentation for pruning-effectiveness tests only. */
  val lastScoredCount = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Forward-only exclusion check over posting lists (MUST_NOT terms,
    * delete tombstones). Sound only when probed with NON-DECREASING docIds
    * — which every traversal here guarantees, because candidates are
    * enumerated in strictly ascending docId order. Each probe leapfrogs the
    * exclusion cursors forward, so total cost over a kernel run is one
    * block-skipping pass per exclusion list, never a pass per candidate. */
  final class Excl(lists: Seq[Posting]) {
    private val cs = lists.filter(_.count > 0).map { e =>
      val c = new Postings.Cursor(e); c.next(); c
    }.toArray
    def excluded(doc: Long): Boolean = {
      var j = 0
      while (j < cs.length) {
        val c = cs(j)
        if (!c.exhausted && c.docId < doc) c.advanceTo(doc)
        if (!c.exhausted && c.docId == doc) return true
        j += 1
      }
      false
    }
  }

  private def cursor(p: Posting): Postings.Cursor = {
    val c = new Postings.Cursor(p); c.next(); c
  }

  /** The live BM25 terms of `terms` (non-empty list, df > 0) as traversal
    * inputs; none when the collection statistics are empty. */
  private def bm25(terms: Seq[TermInput], n: Long, avgdl: Double, p: Bm25.Params): Seq[Term] =
    if (n == 0 || avgdl == 0.0) Nil
    else terms.filter(t => t.posting.count > 0 && t.globalDf > 0)
      .map(t => Term(t.posting, Bm25.sim(t.qtf, t.globalDf, n, avgdl, p, t.boost)))

  /** OR-mode BM25 top-k over one shard by [[wand]]. Doc lengths come
    * inline from the posting blobs (Cursor.dl); stats are GLOBAL (n,
    * avgdl, per-term global df). `minMatch`, `gateMax` and `excludes` as
    * in [[wand]] and [[TopK]]. */
  def topK(terms: Seq[TermInput], n: Long, avgdl: Double,
           k: Int, p: Bm25.Params, minMatch: Int = 1,
           gateMax: Double = Double.PositiveInfinity,
           excludes: Seq[Posting] = Nil): Array[Scored] = {
    val top = new TopK(k, gateMax)
    wand(bm25(terms, n, avgdl, p), minMatch, new Excl(excludes), top)
    top.drainDescending()
  }

  /** Exhaustive (no pruning) twin of [[topK]] over the same inputs, by
    * [[union]] — the reference WAND is checked against (WAND ≡ this on
    * every corpus, tested). */
  def topKExhaustive(terms: Seq[TermInput], n: Long,
                     avgdl: Double, k: Int, p: Bm25.Params,
                     excludes: Seq[Posting] = Nil): Array[Scored] = {
    val top = new TopK(k)
    union(bm25(terms, n, avgdl, p), 0.0, 1, new Excl(excludes))
      .foreach(s => top.offer(s.docId, s.score))
    top.drainDescending()
  }

  /** Block-max WAND over `terms` into `top`.
    *
    * `minMatch` is Lucene's minimum_should_match: a document qualifies only
    * if it contains at least that many DISTINCT query terms (1 = plain OR).
    * It filters at full-evaluation time only — threshold pruning stays
    * sound because dropping candidates never raises the true k-th score.
    *
    * Excluded documents (Lucene's MUST_NOT / ReqExclScorer shape) are
    * checked before the block-max recheck: WAND fully scores candidates in
    * strictly increasing docId order (after a candidate is scored, every
    * cursor sitting on it advances past it), so the forward-only [[Excl]]
    * costs only the excluded lists' block skips, and exclusion only ever
    * REMOVES candidates, so the heap threshold stays a lower bound on the
    * final k-th score. */
  def wand(terms: Seq[Term], minMatch: Int, ex: Excl, topk: TopK): Unit = {
    lastScoredCount.set(0L)
    val m = terms.size
    if (m == 0 || m < minMatch) return
    val cursors = terms.map(t => cursor(t.posting)).toArray
    val sims = terms.map(_.sim.asInstanceOf[Bounded]).toArray
    val ubs = terms.map(t => t.sim.asInstanceOf[Bounded].bound(t.posting.maxTf)).toArray
    // order[] = cursor indices sorted by current docId (insertion-sorted,
    // m is the query length — tiny)
    val order = Array.range(0, m)
    def sortOrder(): Unit = {
      var a = 1
      while (a < m) {
        val x = order(a); var b = a - 1
        while (b >= 0 && cursors(order(b)).docId > cursors(x).docId) {
          order(b + 1) = order(b); b -= 1
        }
        order(b + 1) = x
        a += 1
      }
    }

    var liveCount = m
    while (liveCount > 0) {
      sortOrder()
      // drop exhausted cursors (they sort to the end with MaxValue)
      while (liveCount > 0 && cursors(order(liveCount - 1)).exhausted) liveCount -= 1
      if (liveCount == 0) return

      // pivot: first position where the cumulative UB clears the threshold
      val theta = topk.threshold
      var acc = 0.0
      var pivotPos = -1
      var j = 0
      while (j < liveCount && pivotPos < 0) {
        acc += ubs(order(j))
        if (acc > theta) pivotPos = j
        j += 1
      }
      if (pivotPos < 0) return // nothing can qualify

      val pivotDoc = cursors(order(pivotPos)).docId
      if (cursors(order(0)).docId == pivotDoc) {
        if (!ex.excluded(pivotDoc)) {
          // block-max recheck: tighter bound using current blocks. Must scan
          // ALL live cursors — ones beyond the pivot position can also sit on
          // pivotDoc and contribute to its true score.
          var blockUb = 0.0
          var jj = 0
          while (jj < liveCount) {
            val ci = order(jj)
            val c = cursors(ci)
            if (!c.exhausted) {
              if (c.docId < pivotDoc) c.advanceTo(pivotDoc)
              if (!c.exhausted && c.docId == pivotDoc)
                blockUb += sims(ci).bound(c.currentBlockMaxTf)
            }
            jj += 1
          }
          if (blockUb > theta) {
            // fully score pivotDoc (doc length rides inline on each cursor)
            lastScoredCount.set(lastScoredCount.get + 1)
            var s = 0.0
            var matched = 0
            var jk = 0
            while (jk < liveCount) {
              val ci = order(jk)
              val c = cursors(ci)
              if (!c.exhausted && c.docId == pivotDoc) {
                s += sims(ci).score(c.tf, c.dl)
                matched += 1
              }
              jk += 1
            }
            if (s > 0.0 && matched >= minMatch) topk.offer(pivotDoc, s)
          }
        }
        // advance every cursor sitting on pivotDoc
        var ja = 0
        while (ja < liveCount) {
          val c = cursors(order(ja))
          if (!c.exhausted && c.docId == pivotDoc) c.next()
          ja += 1
        }
      } else {
        // advance the leading cursors to the pivot
        var ja = 0
        while (ja < pivotPos && cursors(order(ja)).docId < pivotDoc) {
          cursors(order(ja)).advanceTo(pivotDoc)
          ja += 1
        }
      }
    }
  }

  /** A traversal that streams its matches in ascending docId order:
    * `advance` positions (doc, score) on the next one or returns false.
    * O(|terms|) cursor state, nothing buffered. */
  private abstract class Matches extends scala.collection.AbstractIterator[Scored] {
    protected var doc = 0L
    protected var score = 0.0
    private var ready = false
    private var done = false
    protected def advance(): Boolean
    def hasNext: Boolean = {
      if (!ready && !done) { ready = advance(); done = !ready }
      ready
    }
    def next(): Scored = {
      if (!hasNext) throw new NoSuchElementException("traversal exhausted")
      ready = false
      Scored(doc, score)
    }
  }

  /** Leapfrog conjunction: every doc (ascending) present in ALL `filters`
    * lists, scored by `terms` — a doc passing the filters but scoring 0
    * (no query term) is not emitted. The caller passes only filter lists
    * present in the shard; one missing means no doc can match.
    *
    * The filter intersection drives iteration: repeatedly advance the
    * lagging filter cursor to the current candidate; agreement of all of
    * them is a match. A query term whose list IS a filter list reads that
    * filter's cursor (each list decodes once); any other term's cursor only
    * `advanceTo`s each survivor. Cost ∝ shortest filter list · block skips
    * — for selective filters this beats WAND over the query union by the
    * selectivity factor, and for a filter covering ~the whole corpus it
    * degrades to one extra always-matching cursor on an OR-mode scan. A
    * matching doc's score equals its OR-mode score (the reference's scorer
    * is OR-only; AND is this engine's extension, rank-consistent across
    * modes). */
  def conjunction(filters: Seq[Posting], terms: Seq[Term], ex: Excl): Iterator[Scored] =
    if (filters.isEmpty || terms.isEmpty) Iterator.empty
    else new Matches {
      private val fc = filters.map(cursor).toArray
      private val cs = terms.map(t => filters.indexWhere(_ eq t.posting) match {
        case -1 => cursor(t.posting)
        case f => fc(f)
      }).toArray
      private val sims = terms.map(_.sim).toArray
      private var target = fc.map(_.docId).max
      private var finished = false

      protected def advance(): Boolean = {
        while (!finished) {
          // leapfrog the filter cursors to a common docId
          var matched = true
          var jj = 0
          while (jj < fc.length && matched) {
            val c = fc(jj)
            if (c.docId < target) c.advanceTo(target)
            if (c.exhausted) return false
            if (c.docId != target) { target = c.docId; matched = false }
            jj += 1
          }
          if (matched) {
            // score the candidate: query cursors catch up, equal docIds add in
            val d = target
            var s = 0.0
            var liveQ = false
            var jk = 0
            while (jk < cs.length) {
              val c = cs(jk)
              if (!c.exhausted && c.docId < d) c.advanceTo(d)
              if (!c.exhausted) {
                liveQ = true
                if (c.docId == d) s += sims(jk).score(c.tf, c.dl)
              }
              jk += 1
            }
            // every query list exhausted: nothing further can score
            if (!liveQ || !fc(0).next()) finished = true
            else target = fc(0).docId
            if (s > 0.0 && !ex.excluded(d)) { doc = d; score = s; return true }
          }
        }
        false
      }
    }

  /** Ascending-docId union: every doc on at least one of `terms`' lists
    * and on at least `minMatch` of them, scored with no pruning. Cost ∝ the
    * UNION of the lists — never the corpus; streaming, so a non-selective
    * query's match set never materializes in kernel memory.
    *
    * Contributions sum per dis-max `slot` in clause order; with one slot
    * the sum IS the score (callers order clauses deterministically, so the
    * float sum is the same at any parallelism — N ≡ 4N output, the
    * north-rule invariant). With several slots the score is Lucene's
    * DisjunctionMaxQuery combination max + tie·(sum − max) over the slot
    * sums. Only docs scoring > 0 are emitted. */
  def union(terms: Seq[Term], tie: Double, minMatch: Int, ex: Excl): Iterator[Scored] =
    if (terms.isEmpty) Iterator.empty
    else new Matches {
      private val cursors = terms.map(t => cursor(t.posting)).toArray
      private val sims = terms.map(_.sim).toArray
      private val slot = terms.map(_.slot).toArray
      private val acc = new Array[Double](slot.max + 1)

      protected def advance(): Boolean = {
        while (true) {
          var minDoc = Long.MaxValue
          var j = 0
          while (j < cursors.length) {
            val c = cursors(j)
            if (!c.exhausted && c.docId < minDoc) minDoc = c.docId
            j += 1
          }
          if (minDoc == Long.MaxValue) return false
          java.util.Arrays.fill(acc, 0.0)
          var matched = 0
          j = 0
          while (j < cursors.length) {
            val c = cursors(j)
            if (!c.exhausted && c.docId == minDoc) {
              acc(slot(j)) += sims(j).score(c.tf, c.dl)
              matched += 1
              c.next()
            }
            j += 1
          }
          val s = if (acc.length == 1) acc(0) else {
            var mx = 0.0; var sm = 0.0; var i = 0
            while (i < acc.length) { if (acc(i) > mx) mx = acc(i); sm += acc(i); i += 1 }
            mx + tie * (sm - mx)
          }
          if (s > 0.0 && matched >= minMatch && !ex.excluded(minDoc)) {
            doc = minDoc; score = s; return true
          }
        }
        false
      }
    }

  /** Growable two-level bitmap over per-shard document RANKS (dense by
    * construction — Ids.rankOf). Pages of 2^26 bits (8 MB) allocate lazily,
    * so memory tracks the highest rank actually touched, and the long page
    * index supports the full 2^40 ranks-per-shard docId space (no toInt
    * anywhere). Used by the facet-count collector. */
  final class RankBitmap {
    private val PageBits = 26
    private val PageWords = 1 << (PageBits - 6)
    private var pages = new Array[Array[Long]](16)
    def set(rank: Long): Unit = {
      val p = (rank >>> PageBits).toInt // rank < 2^40 => page < 2^14: Int-safe
      if (p >= pages.length) pages = java.util.Arrays.copyOf(pages, Integer.highestOneBit(p) * 2)
      if (pages(p) == null) pages(p) = new Array[Long](PageWords)
      val off = (rank & ((1L << PageBits) - 1)).toInt
      pages(p)(off >>> 6) |= 1L << (off & 63)
    }
    def get(rank: Long): Boolean = {
      val p = (rank >>> PageBits).toInt
      if (p >= pages.length || pages(p) == null) return false
      val off = (rank & ((1L << PageBits) - 1)).toInt
      (pages(p)(off >>> 6) & (1L << (off & 63))) != 0L
    }
  }

  /** Facet-count collector for one shard: mark every doc of `matches` (a
    * traversal's match stream — tombstones already excluded by its [[Excl]])
    * in a rank bitmap, then for each facet posting list count its docs that
    * hit the bitmap. Returns (facetTerm, count) with count > 0. Cost: one
    * pass over the matches + one over the facet lists; no per-doc state
    * beyond the bitmap (8 MB per 64M docs touched). */
  def facetCounts(matches: Iterator[Scored],
                  facetPostings: Seq[Posting]): Iterator[(String, Long)] = {
    if (facetPostings.isEmpty || !matches.hasNext) return Iterator.empty
    val matched = new RankBitmap
    matches.foreach(s => matched.set(graft.model.Ids.rankOf(s.docId)))
    facetPostings.iterator.flatMap { fp =>
      val c = new Postings.Cursor(fp)
      var cnt = 0L
      while (c.next()) if (matched.get(graft.model.Ids.rankOf(c.docId))) cnt += 1
      if (cnt > 0) Iterator.single((fp.term, cnt)) else Iterator.empty
    }
  }
}
