package graft.query

import graft.build.{IndexBuilder, PositionIndex}
import graft.codec.PosPostings
import graft.model.PosPosting
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Positional matching over the positional sidecar ([[PositionIndex]]):
  * exact phrases, ordered sloppy phrases and unordered span-near, verified
  * from the index alone — no point-read of source text, stopwords matched
  * as first-class tokens.
  *
  * All three run ONE per-shard kernel ([[PosSearcher.intersect]]): decode
  * the query tokens' lists, intersect their doc lists driven by the
  * shortest, and hand each surviving doc's per-term position arrays to a
  * per-doc measure — the minimal ordered span (phrase: exact is slop 0) or
  * the minimal unordered window (span-near).
  *
  * Plan shape is [[Searcher]]'s: the kernel runs on a [[ShardJob]] over
  * the sidecar's files, whose tasks point-read only the query's distinct
  * raw tokens' lists and see whole shards — no exchange, on any layout or
  * split conf; the matches come back as the job's lazy frame. Kernel cost
  * is linear in the read lists' total occurrences (decode) — for a phrase
  * containing a stopword that is the stopword's per-shard list, which is
  * exactly the data any positional engine must touch for that phrase;
  * shard sizing bounds it per task. */
final class PosSearcher(spark: SparkSession, indexDir: String) {
  import spark.implicits._

  /** The sidecar's files, listed once through the storage seam, with the
    * delete tombstones of the CURRENT committed generation: the sidecar is
    * immutable like the postings, so a tombstoned doc's positions stay on
    * disk until it is rebuilt — the kernel skips them through
    * [[Wand.Excl]] like every other kernel. */
  private val job: ShardJob[Seq[PosPosting]] = ShardJob(spark,
    PointRead.files(graft.sources.TableIO.read(spark, PositionIndex.path(indexDir))),
    spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf())),
    ShardJob.tombstones(spark,
      IndexBuilder.tombstonePathAsOf(indexDir, IndexBuilder.committedGen(indexDir))),
    ShardJob.PositionRows)

  /** docIds of documents containing `rawToks` as a contiguous raw-token
    * run (the containsSlice relation of DocQueries.phraseTopK's verify):
    * the ordered sloppy phrase at slop 0. */
  def matchDocs(rawToks: Seq[String]): DataFrame =
    phraseSlopDocs(rawToks, 0).select(col("docId"))

  /** (docId, span) of documents containing EVERY distinct raw token of
    * `rawToks` within a window of at most `window` consecutive positions
    * (unordered SpanNear): span = min over one-occurrence-per-term
    * combinations of (max pos − min pos + 1), by the linear k-pointer sweep
    * of [[PosSearcher.minSpan]], not the combinatorial product the
    * definition suggests. */
  def spanDocs(rawToks: Seq[String], window: Int): DataFrame = {
    require(rawToks.nonEmpty, "empty span query")
    require(window >= rawToks.distinct.length,
      s"window $window can never hold ${rawToks.distinct.length} distinct terms")
    spans(rawToks.distinct.toArray) { pos =>
      val s = PosSearcher.minSpan(pos)
      if (s <= window) s else PosSearcher.NoMatch
    }
  }

  /** Ordered sloppy-phrase matches (Lucene span_near in_order=true):
    * (docId, span) for docs where the phrase offsets appear at strictly
    * increasing positions with minimal ordered span s
    * ([[PosSearcher.minOrderedSpan]]) satisfying s − m ≤ slop; slop 0 ≡
    * exact phrase adjacency. */
  def phraseSlopDocs(rawToks: Seq[String], slop: Int): DataFrame = {
    require(rawToks.nonEmpty, "empty phrase")
    require(slop >= 0, "negative slop")
    val distinct = rawToks.distinct.toArray
    val termOfTok = rawToks.map(distinct.indexOf(_)).toArray // phrase offset → term
    spans(distinct) { pos =>
      val s = PosSearcher.minOrderedSpan(termOfTok.map(pos(_)))
      if (s != Int.MaxValue && s - termOfTok.length <= slop) s else PosSearcher.NoMatch
    }
  }

  /** (docId, span) per doc of [[PosSearcher.intersect]] over the positions
    * of `terms`, tombstoned docs hidden. */
  private def spans(terms: Array[String])(measure: Array[Array[Int]] => Int): DataFrame =
    job.frame(terms.toSeq) { shards =>
      shards.flatMap { case (lists, tomb) =>
        val ex = new Wand.Excl(tomb.toSeq)
        PosSearcher.intersect(lists, terms)(measure).filterNot(m => ex.excluded(m._1))
      }
    }.toDF("docId", "span")
}

object PosSearcher {

  /** A per-doc measure's verdict that the doc does not match. */
  private val NoMatch = -1

  /** The one positional kernel: one shard's documents containing EVERY
    * term of `terms`, found by a k-pointer intersection of the terms' doc
    * lists driven by the shortest. Each surviving doc's per-term position
    * arrays (in `terms` order) go to `measure`, which returns the doc's
    * span or [[NoMatch]]. Emits (docId, span) ascending. */
  private def intersect(lists: Seq[PosPosting], terms: Array[String])(
      measure: Array[Array[Int]] => Int): Iterator[(Long, Long)] = {
    // The sidecar is built against a BASE build only (one list per
    // (shard, term)) — enforced at build time, asserted here.
    val byTerm = new java.util.HashMap[String, (Array[Long], Array[Array[Int]])]()
    lists.foreach { p =>
      require(byTerm.put(p.term, PosPostings.decode(p)) == null,
        s"duplicate positional list for '${p.term}' in shard ${p.shard}")
    }
    if (!terms.forall(byTerm.containsKey)) return Iterator.empty
    val nT = terms.length
    val docsArr = terms.map(byTerm.get(_)._1)
    val posArr = terms.map(byTerm.get(_)._2)
    var drv = 0
    var t = 1
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
        val s = measure(Array.tabulate(nT)(i => posArr(i)(ptrs(i))))
        if (s != NoMatch) out += ((d, s.toLong))
      }
      di += 1
    }
    out.iterator
  }

  /** Minimal window covering one element of each sorted array: the
    * classic k-pointer sweep — at each step span = max − min + 1 and the
    * pointer at the minimum advances, so it is linear in total occurrences. */
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

  /** Minimal (last − first + 1) over strictly-increasing selections, one
    * position per phrase offset in order; Int.MaxValue when none exists. A
    * greedy smallest-next sweep per anchor: for a fixed first position,
    * picking the smallest admissible next position minimizes the last, so
    * the min over anchors is the global min. Stops at the first span of m,
    * which no ordered selection can beat (an exact-phrase hit). */
  private def minOrderedSpan(pos: Array[Array[Int]]): Int = {
    val m = pos.length
    var best = Int.MaxValue
    var ai = 0
    while (ai < pos(0).length && best > m) {
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
}
