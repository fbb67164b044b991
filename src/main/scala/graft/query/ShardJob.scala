package graft.query

import graft.model.Posting
import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.util.SerializableConfiguration
import scala.reflect.ClassTag

/** The prepared shard job of one [[Searcher]]: its postings files (base
  * and every delta segment of its generation), grouped once at
  * construction so that every file holding a shard lands in one
  * partition, kept as an RDD of file lists. A call is ONE `runJob` over
  * it: each task point-reads its files' rows of the call's terms
  * ([[PointRead]]), groups them by shard and hands every shard's term
  * lists and tombstones to the call's task body — no Dataset, no Catalyst
  * plan, no exchange.
  *
  * Grouping reads each file's footer: the row groups' [min, max] `shard`
  * ranges are swept in ascending order and files with overlapping ranges
  * are unioned. A doc-complete build (a shard never spans files) gives
  * one group per file; a term-ranged build (dictRanges > 1) and refresh
  * delta segments keep every file of a shard in one group through the
  * same rule. Groups are packed, largest first, into at most
  * `defaultParallelism` partitions. A footer that cannot be read fails
  * construction with the file named — there is no fallback plan. */
final class ShardJob private (parts: Option[RDD[Array[String]]],
                              conf: Broadcast[SerializableConfiguration],
                              tombstones: Broadcast[Map[Int, Posting]],
                              /** Largest postings file, in bytes. */
                              val maxFileLen: Long) {

  /** `task` once per partition over the shards its files hold of `terms`
    * — (term → merged list, tombstones) per shard with ≥ 1 row — one
    * result per partition. No job when there is nothing to read. */
  def run[R: ClassTag](terms: Seq[String])(
      task: Iterator[(Map[String, Posting], Option[Posting])] => R): Array[R] =
    parts.filter(_ => terms.nonEmpty).fold(Array.empty[R]) { rdd =>
      val (c, tb, want) = (conf, tombstones, terms.distinct)
      rdd.sparkContext.runJob(rdd, (files: Iterator[Array[String]]) =>
        task(ShardJob.shards(files.flatten, c.value.value, want, tb.value)))
    }
}

object ShardJob {
  def apply(sc: SparkContext, files: Seq[String], conf: Broadcast[SerializableConfiguration],
            tombstones: Broadcast[Map[Int, Posting]]): ShardJob = {
    val hconf = conf.value.value
    val sized = files.sorted.map { f =>
      (f, PointRead.ranges(f, hconf, "shard"),
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), hconf).getLength)
    }
    val groups = unionOverlapping(sized.map(_._2)).map(_.map(sized(_)))
    val bins = Array.fill(math.min(groups.size, sc.defaultParallelism))(
      (0L, Vector.empty[String]))
    for (g <- groups.sortBy(g => (-g.map(_._3).sum, g.head._1))) {
      val i = bins.indices.minBy(bins(_)._1)
      bins(i) = (bins(i)._1 + g.map(_._3).sum, bins(i)._2 ++ g.map(_._1))
    }
    new ShardJob(
      if (bins.isEmpty) None else Some(sc.parallelize(bins.map(_._2.toArray).toSeq, bins.length)),
      conf, tombstones, sized.map(_._3).foldLeft(0L)(math.max))
  }

  /** Indexes of the files in each group: files whose row-group ranges
    * overlap (transitively) share a group; files without rows join none. */
  private[query] def unionOverlapping(ranges: Seq[Array[(Long, Long)]]): Seq[Seq[Int]] = {
    val parent = ranges.indices.toArray
    def root(i: Int): Int = if (parent(i) == i) i else { parent(i) = root(parent(i)); parent(i) }
    var (hi, open) = (Long.MinValue, -1) // the sweep's current run: its max and one file
    for ((lo, h, f) <- ranges.zipWithIndex.flatMap { case (rs, f) => rs.map { case (l, h) => (l, h, f) } }
                         .sortBy(r => (r._1, r._2))) {
      if (open >= 0 && lo <= hi) { parent(root(f)) = root(open); hi = math.max(hi, h) }
      else { open = f; hi = h }
    }
    ranges.indices.filter(ranges(_).nonEmpty).groupBy(root).values.toSeq.map(_.sorted).sortBy(_.head)
  }

  private val Columns = Seq("shard", "term", "count", "maxTf", "docsBlob", "tfsBlob", "lensBlob",
    "blockLast", "blockMaxTf", "blockDocOff", "blockTfOff", "blockLenOff")

  /** The rows of `terms` in `files`, as (term lists, tombstones) per shard. */
  private def shards(files: Iterator[String], conf: Configuration, terms: Seq[String],
                     tombs: Map[Int, Posting]): Iterator[(Map[String, Posting], Option[Posting])] = {
    val keys = PointRead.strings(terms)
    files.flatMap(f => PointRead.rows(f, conf, "term", keys, Columns).map(posting)).toSeq
      .groupBy(_.shard).iterator.map { case (s, ps) => (Searcher.termLists(ps), tombs.get(s)) }
  }

  private def posting(r: PointRead.Record): Posting =
    Posting(r.int(0), r.string(1), r.int(2), r.int(3), r.bytes(4), r.bytes(5), r.bytes(6),
      r.longs(7), r.ints(8), r.ints(9), r.ints(10), r.ints(11))
}
