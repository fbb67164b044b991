package graft.query

import graft.model.Hit
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.RecordMaterializer
import org.apache.parquet.schema.{GroupType, MessageType}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** Kernel-hit resolution INSIDE the shard task: maps the ≤ k winning
  * docIds of a task to (conv_id, turn_idx) with a filtered Parquet point
  * read of the index's own analyzed/ files — no second Spark job, no
  * driver round-trip, nothing added on disk.
  *
  * The file list and each file's per-row-group docId ranges are read once
  * on the driver (footers only, through [[PointRead.ranges]]). A task opens only the files with a row
  * group whose docId statistics admit one of its hits, and parquet-mr's
  * `docId IN (...)` filter then skips the row groups and pages that cannot
  * hold one; only the docId, conv_id and turn_idx columns are decoded.
  * analyzed/ rows are docId-sorted per shard, so the build's
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
        .map(java.lang.Long.valueOf).toSet.asJava
      if (!want.isEmpty) {
        val file = HadoopInputFile.fromPath(new Path(f.path), conf.value.value)
        val reader = new ParquetReader.Builder[Group](file) {
          override protected def getReadSupport: ReadSupport[Group] = new IdentityReadSupport
        }.withFilter(FilterCompat.get(FilterApi.in(FilterApi.longColumn("docId"), want)))
          .build()
        try {
          var g = reader.read()
          while (g != null) {
            val conv = if (g.getFieldRepetitionCount("conv_id") > 0) g.getString("conv_id", 0) else null
            out.put(g.getLong("docId", 0), (conv, g.getInteger("turn_idx", 0)))
            g = reader.read()
          }
        } finally reader.close()
      }
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

  /** Reads only (docId, conv_id, turn_idx), whatever else the file holds. */
  private final class IdentityReadSupport extends ReadSupport[Group] {
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val fs: GroupType = ctx.getFileSchema
      new ReadSupport.ReadContext(new MessageType(fs.getName,
        fs.getType("docId"), fs.getType("conv_id"), fs.getType("turn_idx")))
    }
    override def prepareForRead(conf: Configuration, meta: java.util.Map[String, String],
                                fileSchema: MessageType,
                                ctx: ReadSupport.ReadContext): RecordMaterializer[Group] =
      new GroupRecordConverter(ctx.getRequestedSchema)
  }
}
