package graft

import graft.codec.Postings
import graft.query.{Bm25, Wand}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Block-max WAND must actually PRUNE (score far fewer docs than the
  * exhaustive path) while returning identical top-k. */
class WandPruningSpec extends AnyFunSuite {

  test("WAND scores a small fraction of candidates on a skewed synthetic shard") {
    val rnd = new Random(5)
    val nDocs = 200000
    val lens = Array.fill(nDocs)(20 + rnd.nextInt(100))
    // head term: in every 2nd doc, tf 1-2 (low scores)
    val headDocs = (0 until nDocs by 2).map(_.toLong).toArray
    val headTfs = headDocs.map(_ => 1 + rnd.nextInt(2))
    // rare term: 200 docs, high tf (the real top-k drivers)
    val rareDocs = (0 until 200).map(i => (i * 997L) % nDocs).distinct.sorted.toArray
    val rareTfs = rareDocs.map(_ => 5 + rnd.nextInt(5))
    val terms = Seq(
      Wand.TermInput(Postings.encode(0, "head", headDocs, headTfs,
        headDocs.map(d => lens(d.toInt))), 1, headDocs.length.toLong),
      Wand.TermInput(Postings.encode(0, "rare", rareDocs, rareTfs,
        rareDocs.map(d => lens(d.toInt))), 1, rareDocs.length.toLong))
    val n = nDocs.toLong
    val avgdl = lens.map(_.toLong).sum.toDouble / nDocs

    val w = Wand.topK(terms, n, avgdl, 10, Bm25.RefDefaults)
    val scored = Wand.lastScoredCount.get
    val e = Wand.topKExhaustive(terms, n, avgdl, 10, Bm25.RefDefaults)

    assert(w.map(_.docId).sameElements(e.map(_.docId)), "WAND top-k != exhaustive top-k")
    w.zip(e).foreach { case (a, b) => assert(math.abs(a.score - b.score) < 1e-9) }
    val candidates = headDocs.length + rareDocs.length
    assert(scored < candidates / 5,
      s"WAND scored $scored of $candidates candidate postings — no real pruning")
  }

  test("NOT-mode WAND ≡ exhaustive-minus-excluded, threshold pruning intact") {
    val rnd = new Random(11)
    val nDocs = 50000
    val lens = Array.fill(nDocs)(20 + rnd.nextInt(100))
    def mk(name: String, docs: Array[Long], tfs: Array[Int]) =
      Postings.encode(0, name, docs, tfs, docs.map(d => lens(d.toInt)))
    val aDocs = (0 until nDocs by 3).map(_.toLong).toArray
    val bDocs = (0 until 300).map(i => (i * 991L) % nDocs).distinct.sorted.toArray
    val terms = Seq(
      Wand.TermInput(mk("a", aDocs, aDocs.map(_ => 1 + rnd.nextInt(2))),
        1, aDocs.length.toLong),
      Wand.TermInput(mk("b", bDocs, bDocs.map(_ => 4 + rnd.nextInt(4))),
        1, bDocs.length.toLong))
    // exclusion list overlaps both: every 5th doc
    val exDocs = (0 until nDocs by 5).map(_.toLong).toArray
    val ex = mk("x", exDocs, exDocs.map(_ => 1))
    val n = nDocs.toLong
    val avgdl = lens.map(_.toLong).sum.toDouble / nDocs

    for (k <- Seq(1, 10, 50)) {
      val got = Wand.topK(terms, n, avgdl, k, Bm25.RefDefaults, excludes = Seq(ex))
      val want = Wand.topKExhaustive(terms, n, avgdl, nDocs, Bm25.RefDefaults)
        .filterNot(s => s.docId % 5 == 0).take(k)
      assert(got.map(_.docId).sameElements(want.map(_.docId)),
        s"k=$k: ${got.map(_.docId).toSeq} vs ${want.map(_.docId).toSeq}")
      got.zip(want).foreach { case (a, b) => assert(math.abs(a.score - b.score) < 1e-9) }
    }
    // empty exclusion ≡ plain OR-mode WAND
    val plain = Wand.topK(terms, n, avgdl, 10, Bm25.RefDefaults, excludes = Seq.empty)
    val or = Wand.topK(terms, n, avgdl, 10, Bm25.RefDefaults)
    assert(plain.map(_.docId).sameElements(or.map(_.docId)))
  }
}
