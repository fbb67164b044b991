package graft.query

import graft.model.Hit
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** Kernel-hit resolution INSIDE the shard task: maps the ≤ k winning
  * docIds of a task to (conv_id, turn_idx) with a [[PointRead]] of the
  * index's own analyzed/ files — no second Spark job, no driver
  * round-trip, nothing added on disk.
  *
  * The file list and each file's per-row-group docId ranges are read once
  * on the driver (footers only, through [[PointRead.ranges]]). A task opens
  * only the files with a row group whose docId range admits one of its
  * hits, and the point read keyed on `docId` skips every row group whose
  * statistics admit none; only the docId, conv_id and turn_idx columns are
  * decoded. analyzed/ rows are docId-sorted per shard, so the build's
  * one-shard-per-file layout makes the file choice exact.
  *
  * No coverage or tombstone filter is needed: kernel hits come from the
  * generation-pinned postings with tombstones already excluded, and a
  * docId names one analyzed row for the life of the index (snapshots and
  * refresh delta segments resolve from the same files). */
final class HitLookup private (files: Array[HitLookup.FileRanges],
                               conf: Broadcast[SerializableConfiguration]) extends Serializable {
  import HitLookup._

  /** (conv_id, turn_idx) of every docId in `ids`; fails loudly on a docId
    * that no analyzed file holds (an index inconsistency, never a miss). */
  def resolve(ids: Array[Long]): java.util.HashMap[java.lang.Long, (String, Int)] = {
    val out = new java.util.HashMap[java.lang.Long, (String, Int)](ids.length * 2)
    val fs = files.iterator
    while (out.size < ids.length && fs.hasNext) {
      val f = fs.next()
      val want = ids.iterator.filter(d => f.admits(d) && !out.containsKey(d))
        .map(d => java.lang.Long.valueOf(d): Any).toSet
      if (want.nonEmpty)
        PointRead.rows(f.path, conf.value.value, "docId", want, Seq("docId", "conv_id", "turn_idx"))
          .foreach(r => out.put(r.long(0), (r.string(1), r.int(2))))
    }
    if (out.size < ids.length) {
      val missing = ids.filterNot(d => out.containsKey(d))
      throw new IllegalStateException(
        s"kernel hits ${missing.take(5).mkString(", ")} have no analyzed row " +
          s"in ${files.length} files")
    }
    out
  }

  /** One task's tail: cut the kernel's (qid, docId, score) candidates to
    * the best k per query — score desc, docId asc — and resolve them. */
  def resolveTopK(scored: Iterator[(String, Long, Double)], k: Int): Iterator[Hit] = {
    val best = scored.toSeq.groupBy(_._1).valuesIterator
      .flatMap(_.sorted(ByRank).take(k)).toArray
    if (best.isEmpty) return Iterator.empty
    val meta = resolve(best.map(_._2).distinct)
    best.iterator.map { case (q, d, s) =>
      val (conv, turn) = meta.get(d)
      Hit(q, d, conv, turn, s)
    }
  }
}

object HitLookup {
  /** One analyzed file and the [lo, hi] docId range of each row group. */
  final case class FileRanges(path: String, lo: Array[Long], hi: Array[Long]) {
    def admits(d: Long): Boolean = {
      var i = 0
      while (i < lo.length) { if (d >= lo(i) && d <= hi(i)) return true; i += 1 }
      false
    }
  }

  /** score desc, docId asc — the engine's top-k order. */
  private val Rank = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
  val ByRank: Ordering[(String, Long, Double)] = Ordering.by((h: (String, Long, Double)) => (-h._3, h._2))(Rank)
  val HitRank: Ordering[Hit] = Ordering.by((h: Hit) => (-h.score, h.docId))(Rank)

  /** Lookup over `files` (analyzed/ data files): reads their footers on
    * the driver with the caller's broadcast Hadoop conf, which the tasks
    * then read with. A row group without statistics is always opened. */
  def apply(files: Seq[String], conf: Broadcast[SerializableConfiguration]): HitLookup =
    new HitLookup(files.map { f =>
      val groups = PointRead.ranges(f, conf.value.value, "docId")
      FileRanges(f, groups.map(_._1), groups.map(_._2))
    }.filter(_.lo.nonEmpty).toArray, conf)

  /** Per-query hits of several tasks merged into the best k per query —
    * the driver side of the batch TakeOrdered, applied as results arrive. */
  def mergeTopK(a: Map[String, Seq[Hit]], b: Map[String, Seq[Hit]], k: Int): Map[String, Seq[Hit]] =
    b.foldLeft(a) { case (acc, (q, hs)) =>
      acc.updated(q, (acc.getOrElse(q, Nil) ++ hs).sorted(HitRank).take(k))
    }
}
