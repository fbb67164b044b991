package graft.query

import graft.build.PositionIndex
import graft.codec.PosPostings
import graft.model.PosPosting
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Phrase matching over the positional sidecar ([[PositionIndex]]): finds
  * every document whose RAW token stream contains the phrase's raw tokens
  * as a contiguous run — adjacency verified from the index alone, no
  * point-read of source text, stopwords matched as first-class tokens.
  *
  * Plan shape mirrors [[Searcher]]'s serving path: the positions scan is
  * pruned to the phrase's distinct raw tokens (predicate pushed to
  * Parquet), then the per-shard kernel runs either COLOCATED (zero
  * exchange — sound iff no positions file can split across read
  * partitions, same rule as Searcher.colocated) or behind a narrow
  * groupByKey(shard) of ≤ |distinct tokens|·shards rows. Kernel cost is
  * linear in the pruned lists' total occurrences (decode) — for a phrase
  * containing a stopword that is the stopword's per-shard list, which is
  * exactly the data any positional engine must touch for that phrase;
  * shard sizing bounds it per task. */
final class PosSearcher(spark: SparkSession, indexDir: String) {
  import spark.implicits._

  private val posPath = PositionIndex.path(indexDir)
  private val posDF = graft.sources.TableIO.read(spark, posPath)

  /** Delete tombstones of the CURRENT committed generation: the positional
    * sidecar is immutable like the postings, so a tombstoned doc's
    * positions stay on disk until the sidecar is rebuilt — hide its
    * matches with one broadcast anti-join on the (match-sized) output.
    * None (zero plan impact — PlanSpec's shuffle-free pin holds) unless a
    * delete actually committed; vacuum retires it again. */
  private val tombstonePath: Option[String] =
    graft.build.IndexBuilder.tombstonePathAsOf(indexDir,
      graft.build.IndexBuilder.committedGen(indexDir))
  private def tombstoneFree(df: DataFrame): DataFrame =
    tombstonePath.fold(df)(p => df.join(
      broadcast(graft.sources.TableIO.read(spark, p).select(col("docId"))),
      Seq("docId"), "left_anti"))

  /** Largest positions file (listed once at construction); -1 forces the
    * grouped fallback plan. */
  private val maxFileLen: Long = Searcher.maxFileLen(spark, Seq(posPath))

  /** Zero-exchange kernel soundness — evaluated against the CURRENT
    * session conf per call, same rule as Searcher.colocated. */
  def colocated: Boolean = Searcher.unsplit(spark, maxFileLen)

  /** `kernel` per shard of the positions of `terms` ([[Searcher.perShard]]). */
  private def perShard[T: Encoder](terms: Seq[String])(
      kernel: Seq[PosPosting] => Iterator[T]): Dataset[T] =
    Searcher.perShard(posDF.where(col("term").isin(terms: _*)).as[PosPosting],
      (p: PosPosting) => p.shard, colocated)(kernel)

  /** docIds of documents containing `rawToks` as a contiguous raw-token
    * run (the containsSlice relation of DocQueries.phraseTopK's verify). */
  def matchDocs(rawToks: Seq[String]): DataFrame = {
    require(rawToks.nonEmpty, "empty phrase")
    val toks = rawToks.toArray
    tombstoneFree(perShard(rawToks.distinct)(g => PosSearcher.shardMatches(g, toks)).toDF("docId"))
  }

  /** (docId, span) of documents containing EVERY distinct raw token of
    * `rawToks` within a window of at most `window` consecutive positions
    * (unordered SpanNear): span = min over one-occurrence-per-term
    * combinations of (max pos − min pos + 1). Same pruned-scan + per-shard
    * kernel shape as [[matchDocs]]; the min-span merge is linear in the
    * terms' total in-doc occurrences (k-pointer sweep), not the
    * combinatorial product the definition suggests. */
  def spanDocs(rawToks: Seq[String], window: Int): DataFrame = {
    require(rawToks.nonEmpty, "empty span query")
    require(window >= rawToks.distinct.length,
      s"window $window can never hold ${rawToks.distinct.length} distinct terms")
    val terms = rawToks.distinct.toArray
    tombstoneFree(perShard(terms.toSeq)(g => PosSearcher.shardSpans(g, terms, window))
      .toDF("docId", "span"))
  }

  /** Ordered sloppy-phrase matches (Lucene span_near in_order=true):
    * (docId, span) for docs whose minimal ORDERED span s over the phrase
    * offsets satisfies s − m ≤ slop. Same pruned-scan / colocated plan as
    * [[spanDocs]]; slop 0 ≡ exact phrase adjacency. */
  def phraseSlopDocs(rawToks: Seq[String], slop: Int): DataFrame = {
    require(rawToks.nonEmpty, "empty phrase")
    require(slop >= 0, "negative slop")
    val toks = rawToks.toArray
    tombstoneFree(perShard(toks.distinct.toSeq)(g => PosSearcher.shardOrdered(g, toks, slop))
      .toDF("docId", "span"))
  }
}

object PosSearcher {

  /** One shard's ORDERED sloppy-phrase matches (Lucene span_near
    * in_order=true): docs where the phrase offsets appear at strictly
    * increasing positions with minimal ordered span s satisfying
    * s − m ≤ slop (slop 0 ≡ exact in-order adjacency). Doc intersection
    * exactly as [[shardSpans]]; per doc, a greedy smallest-next sweep per
    * anchor computes the true minimal ordered span (for a fixed first
    * position, picking the smallest admissible next position minimizes
    * the last — so the min over anchors is the global min). Emits
    * (docId, span) ascending. */
  private[graft] def shardOrdered(lists: Seq[PosPosting], toks: Array[String],
                                  slop: Int): Iterator[(Long, Long)] = {
    val distinct = toks.distinct
    val byTerm = new java.util.HashMap[String, (Array[Long], Array[Array[Int]])]()
    lists.foreach { p =>
      require(byTerm.put(p.term, PosPostings.decode(p)) == null,
        s"duplicate positional list for '${p.term}' in shard ${p.shard}")
    }
    var t = 0
    while (t < distinct.length) {
      if (!byTerm.containsKey(distinct(t))) return Iterator.empty
      t += 1
    }
    val nT = distinct.length
    val docsArr = new Array[Array[Long]](nT)
    val posArr = new Array[Array[Array[Int]]](nT)
    t = 0
    while (t < nT) {
      val d = byTerm.get(distinct(t))
      docsArr(t) = d._1
      posArr(t) = d._2
      t += 1
    }
    val termOfTok = toks.map(distinct.indexOf(_))
    var drv = 0
    t = 1
    while (t < nT) { if (docsArr(t).length < docsArr(drv).length) drv = t; t += 1 }
    val ptrs = new Array[Int](nT)
    val out = new ArrayBuffer[(Long, Long)]()
    var di = 0
    var exhausted = false
    while (di < docsArr(drv).length && !exhausted) {
      val d = docsArr(drv)(di)
      ptrs(drv) = di
      var ok = true
      t = 0
      while (t < nT && !exhausted) {
        if (t != drv) {
          val a = docsArr(t)
          var p = ptrs(t)
          while (p < a.length && a(p) < d) p += 1
          ptrs(t) = p
          if (p >= a.length) exhausted = true
          else if (a(p) != d) ok = false
        }
        t += 1
      }
      if (ok && !exhausted) {
        val offsets = Array.tabulate(toks.length)(j => posArr(termOfTok(j))(ptrs(termOfTok(j))))
        val s = minOrderedSpan(offsets)
        if (s != Int.MaxValue && s - toks.length <= slop) out += ((d, s.toLong))
      }
      di += 1
    }
    out.iterator
  }

  /** Minimal (last − first + 1) over strictly-increasing selections, one
    * position per phrase offset in order; Int.MaxValue when none exists. */
  private def minOrderedSpan(pos: Array[Array[Int]]): Int = {
    val m = pos.length
    var best = Int.MaxValue
    var ai = 0
    while (ai < pos(0).length) {
      val start = pos(0)(ai)
      var cur = start
      var ok = true
      var j = 1
      while (j < m && ok) {
        val a = pos(j)
        var lo = 0
        var hi = a.length
        while (lo < hi) { // smallest element > cur
          val mid = (lo + hi) >>> 1
          if (a(mid) <= cur) lo = mid + 1 else hi = mid
        }
        if (lo >= a.length) ok = false else cur = a(lo)
        j += 1
      }
      if (ok && cur - start + 1 < best) best = cur - start + 1
      ai += 1
    }
    best
  }

  /** One shard's phrase matches: k-pointer intersection of the distinct
    * tokens' doc lists (driven by the shortest), then position adjacency —
    * anchored on the phrase offset with the fewest in-doc occurrences,
    * binary-searching the others. Emits ascending docIds. */
  private[graft] def shardMatches(lists: Seq[PosPosting],
                                  toks: Array[String]): Iterator[Long] = {
    val distinct = toks.distinct
    // The sidecar is built against a BASE build only (one list per
    // (shard, term)) — enforced at build time, asserted here.
    val byTerm = new java.util.HashMap[String, (Array[Long], Array[Array[Int]])]()
    lists.foreach { p =>
      require(byTerm.put(p.term, PosPostings.decode(p)) == null,
        s"duplicate positional list for '${p.term}' in shard ${p.shard}")
    }
    var t = 0
    while (t < distinct.length) {
      if (!byTerm.containsKey(distinct(t))) return Iterator.empty
      t += 1
    }
    val nT = distinct.length
    val docsArr = new Array[Array[Long]](nT)
    val posArr = new Array[Array[Array[Int]]](nT)
    t = 0
    while (t < nT) {
      val d = byTerm.get(distinct(t))
      docsArr(t) = d._1
      posArr(t) = d._2
      t += 1
    }
    val termOfTok = toks.map(distinct.indexOf(_)) // phrase offset j → term index
    // drive the intersection on the shortest doc list
    var drv = 0
    t = 1
    while (t < nT) { if (docsArr(t).length < docsArr(drv).length) drv = t; t += 1 }
    val ptrs = new Array[Int](nT)
    val out = new ArrayBuffer[Long]()
    var di = 0
    var exhausted = false
    while (di < docsArr(drv).length && !exhausted) {
      val d = docsArr(drv)(di)
      ptrs(drv) = di
      var ok = true
      t = 0
      while (t < nT && !exhausted) {
        if (t != drv) {
          val a = docsArr(t)
          var p = ptrs(t)
          while (p < a.length && a(p) < d) p += 1
          ptrs(t) = p
          if (p >= a.length) exhausted = true
          else if (a(p) != d) ok = false
        }
        t += 1
      }
      if (ok && !exhausted && adjacent(toks.length, termOfTok, posArr, ptrs)) out += d
      di += 1
    }
    out.iterator
  }

  /** One shard's span-near matches: the same shortest-list-driven doc
    * intersection as [[shardMatches]], then the classic minimal-interval
    * k-pointer sweep over the terms' sorted position arrays — at each
    * step span = max(current) − min(current) + 1 and the pointer at the
    * minimum advances, so the sweep is linear in total occurrences.
    * Emits (docId, minSpan) for docs with minSpan ≤ window, ascending. */
  private[graft] def shardSpans(lists: Seq[PosPosting], terms: Array[String],
                                window: Int): Iterator[(Long, Long)] = {
    val byTerm = new java.util.HashMap[String, (Array[Long], Array[Array[Int]])]()
    lists.foreach { p =>
      require(byTerm.put(p.term, PosPostings.decode(p)) == null,
        s"duplicate positional list for '${p.term}' in shard ${p.shard}")
    }
    val nT = terms.length
    var t = 0
    while (t < nT) {
      if (!byTerm.containsKey(terms(t))) return Iterator.empty
      t += 1
    }
    val docsArr = new Array[Array[Long]](nT)
    val posArr = new Array[Array[Array[Int]]](nT)
    t = 0
    while (t < nT) {
      val d = byTerm.get(terms(t))
      docsArr(t) = d._1
      posArr(t) = d._2
      t += 1
    }
    var drv = 0
    t = 1
    while (t < nT) { if (docsArr(t).length < docsArr(drv).length) drv = t; t += 1 }
    val ptrs = new Array[Int](nT)
    val out = new ArrayBuffer[(Long, Long)]()
    var di = 0
    var exhausted = false
    while (di < docsArr(drv).length && !exhausted) {
      val d = docsArr(drv)(di)
      ptrs(drv) = di
      var ok = true
      t = 0
      while (t < nT && !exhausted) {
        if (t != drv) {
          val a = docsArr(t)
          var p = ptrs(t)
          while (p < a.length && a(p) < d) p += 1
          ptrs(t) = p
          if (p >= a.length) exhausted = true
          else if (a(p) != d) ok = false
        }
        t += 1
      }
      if (ok && !exhausted) {
        val s = minSpan(Array.tabulate(nT)(i => posArr(i)(ptrs(i))))
        if (s <= window) out += ((d, s.toLong))
      }
      di += 1
    }
    out.iterator
  }

  /** Minimal window covering one element of each sorted array. */
  private def minSpan(pos: Array[Array[Int]]): Int = {
    val k = pos.length
    val idx = new Array[Int](k)
    var best = Int.MaxValue
    var done = false
    while (!done) {
      var mn = Int.MaxValue
      var mx = Int.MinValue
      var mnAt = 0
      var i = 0
      while (i < k) {
        val v = pos(i)(idx(i))
        if (v < mn) { mn = v; mnAt = i }
        if (v > mx) mx = v
        i += 1
      }
      if (mx - mn + 1 < best) best = mx - mn + 1
      idx(mnAt) += 1
      if (idx(mnAt) >= pos(mnAt).length) done = true
    }
    best
  }

  /** True iff some base position p has token j's term at p+j for every
    * phrase offset j, given each term's in-doc position array. */
  private def adjacent(m: Int, termOfTok: Array[Int],
                       posArr: Array[Array[Array[Int]]],
                       ptrs: Array[Int]): Boolean = {
    // anchor on the offset whose term has the fewest in-doc occurrences
    var anchor = 0
    var best = Int.MaxValue
    var j = 0
    while (j < m) {
      val len = posArr(termOfTok(j))(ptrs(termOfTok(j))).length
      if (len < best) { best = len; anchor = j }
      j += 1
    }
    val ap = posArr(termOfTok(anchor))(ptrs(termOfTok(anchor)))
    var i = 0
    while (i < ap.length) {
      val base = ap(i) - anchor
      if (base >= 0) {
        var allOk = true
        j = 0
        while (j < m && allOk) {
          if (j != anchor) {
            val pj = posArr(termOfTok(j))(ptrs(termOfTok(j)))
            if (java.util.Arrays.binarySearch(pj, base + j) < 0) allOk = false
          }
          j += 1
        }
        if (allOk) return true
      }
      i += 1
    }
    false
  }
}
