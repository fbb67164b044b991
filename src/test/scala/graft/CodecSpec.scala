package graft

import graft.codec.{Postings, VByte}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property-style tests with a fixed seed (SURVEY.md §5: codec roundtrip
  * encode∘decode = id on arbitrary sorted Long sets). */
class CodecSpec extends AnyFunSuite {

  private def randomSorted(rnd: Random, n: Int, maxGap: Long): Array[Long] = {
    var cur = rnd.nextLong(1L << 20)
    Array.fill(n) { cur += 1 + rnd.nextLong(maxGap); cur }
  }

  test("vbyte delta roundtrip = identity on arbitrary sorted sets") {
    val rnd = new Random(42)
    for (_ <- 0 until 200) {
      val xs = randomSorted(rnd, rnd.nextInt(500), 1L << rnd.nextInt(40))
      assert(VByte.decodeDeltas(VByte.encodeDeltas(xs), xs.length).sameElements(xs))
    }
    assert(VByte.decodeDeltas(VByte.encodeDeltas(Array.empty[Long]), 0).isEmpty)
  }

  test("vbyte int roundtrip incl. boundaries") {
    val xs = Array(0, 1, 127, 128, 16383, 16384, Int.MaxValue)
    assert(VByte.decodeInts(VByte.encodeInts(xs), xs.length).sameElements(xs))
  }

  test("ByteBuf growth doubles, then caps below Int.MaxValue instead of going negative") {
    import graft.codec.ByteBuf.{MaxCapacity, grown}
    assert(grown(4) == 8 && grown(1 << 20) == (1 << 21))
    assert(grown(MaxCapacity / 2) == (MaxCapacity / 2) * 2)
    for (cap <- Seq(MaxCapacity / 2 + 1, 1 << 30, MaxCapacity - 1))
      assert(grown(cap) == MaxCapacity, s"grown($cap) = ${grown(cap)}")
    intercept[IllegalStateException](grown(MaxCapacity))
    val b = new graft.codec.ByteBuf(4)
    (0 until 100).foreach(i => b += i.toByte)
    assert(b.toArray.toSeq == (0 until 100).map(_.toByte))
  }

  test("posting encode/decode roundtrip with blocks (docs, tfs, inline lens)") {
    val rnd = new Random(7)
    for (_ <- 0 until 100) {
      val docs = randomSorted(rnd, 1 + rnd.nextInt(700), 1L << rnd.nextInt(30))
      val tfs = docs.indices.map(i => (i % 50) + 1).toArray
      val lens = docs.indices.map(i => (i % 313) + 1).toArray
      val p = Postings.encode(3, "t", docs, tfs, lens)
      val (d2, t2, l2) = Postings.decode(p)
      assert(d2.sameElements(docs) && t2.sameElements(tfs) && l2.sameElements(lens))
      assert(p.maxTf == tfs.max)
      assert(p.blockLast.length == (docs.length + Postings.BlockSize - 1) / Postings.BlockSize)
      assert(p.blockMaxTf.zipWithIndex.forall { case (m, b) =>
        tfs.slice(b * Postings.BlockSize, (b + 1) * Postings.BlockSize).max == m
      })
    }
  }

  test("cursor full scan equals decode") {
    val rnd = new Random(11)
    for (_ <- 0 until 50) {
      val docs = randomSorted(rnd, 1 + rnd.nextInt(500), 100)
      val p = Postings.encode(0, "t", docs, Array.fill(docs.length)(1),
        Array.fill(docs.length)(7))
      val c = new Postings.Cursor(p)
      val got = Iterator.continually(if (c.next()) Some(c.docId) else None)
        .takeWhile(_.isDefined).flatten.toArray
      assert(got.sameElements(docs))
    }
  }

  test("cursor advanceTo finds first >= target, skipping blocks") {
    val docs = (0 until 1000).map(i => i.toLong * 7).toArray
    val tfs = docs.indices.map(i => i % 9 + 1).toArray
    val lens = docs.indices.map(i => i % 23 + 5).toArray
    val p = Postings.encode(0, "t", docs, tfs, lens)
    val rnd = new Random(3)
    for (_ <- 0 until 500) {
      val target = rnd.nextLong(7200L)
      val c = new Postings.Cursor(p)
      val ok = c.advanceTo(target)
      val expected = docs.find(_ >= target)
      if (expected.isEmpty) assert(!ok)
      else {
        assert(ok && c.docId == expected.get)
        assert(c.tf == tfs(docs.indexOf(expected.get)))
        assert(c.dl == lens(docs.indexOf(expected.get)))
      }
    }
    // repeated advances on one cursor (mixed next/advance)
    val c = new Postings.Cursor(p)
    var t = 3L
    while (t < 7000 && c.advanceTo(t)) {
      assert(c.docId >= t)
      t = c.docId + 13
    }
  }

  test("merge: segment lists concatenate to one list with rebuilt skip metadata") {
    val rnd = new scala.util.Random(7)
    // three disjoint ascending ranges, out of order, sizes crossing blocks
    val ranges = Seq((5000L, 300), (0L, 450), (9000L, 40))
    val parts = ranges.map { case (base, n) =>
      var d = base - 1L
      val docs = Array.fill(n) { d += 1 + rnd.nextInt(3); d }
      val tfs = Array.fill(n)(1 + rnd.nextInt(9))
      val lens = Array.fill(n)(5 + rnd.nextInt(90))
      (docs, tfs, lens)
    }
    val postings = parts.map { case (d, t, l) => Postings.encode(1, "x", d, t, l) }
    val merged = Postings.merge(postings)
    val (docs, tfs, lens) = Postings.decode(merged)
    val exp = parts.sortBy(_._1.head)
    assert(docs.sameElements(exp.flatMap(_._1)))
    assert(tfs.sameElements(exp.flatMap(_._2)))
    assert(lens.sameElements(exp.flatMap(_._3)))
    assert(merged.count == parts.map(_._1.length).sum)
    // skip metadata is usable: advanceTo lands across segment boundaries
    val c = new Postings.Cursor(merged)
    assert(c.advanceTo(5000L) && c.docId >= 5000L)
    assert(c.advanceTo(9000L) && c.docId >= 9000L)
    // single-element merge is identity
    assert(Postings.merge(Seq(postings.head)) eq postings.head)
  }
}
