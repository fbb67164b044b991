package graft.query

import graft.model.{PosPosting, Posting}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration
import scala.reflect.ClassTag

/** The one way an index kernel reaches whole shards: the files of a
  * shard-keyed index table (postings — base and every delta segment of a
  * generation — or the positional sidecar), grouped once at construction
  * so that every file holding a shard lands in one partition, kept as an
  * RDD of file lists. Each task point-reads its files' rows of the call's
  * terms ([[PointRead]]), groups them by shard, decodes each shard's rows
  * into the kernel's input ([[ShardJob.Rows]]) and hands it, with the
  * shard's delete tombstones, to the call's task body — no Catalyst scan,
  * no exchange, the same plan whatever the layout or the session's split
  * conf.
  *
  * Two entry points over the one RDD:
  *  - [[run]]: ONE eager `runJob`, one result per partition, for answers
  *    that are driver-sized (top-k heaps, cf sums, facet counts);
  *  - [[frame]]: a lazy frame of the task's rows, for relational
  *    consumers that join or aggregate every match. Its size estimate is
  *    the total bytes of the files it reads, as a scan of them would
  *    report — an RDD frame otherwise reads as
  *    `spark.sql.defaultSizeInBytes`, and no join against it could
  *    broadcast.
  *
  * Grouping reads each file's footer: the row groups' [min, max] `shard`
  * ranges are swept in ascending order and files with overlapping ranges
  * are unioned. A doc-complete build (a shard never spans files) gives
  * one group per file; a term-ranged build (dictRanges > 1) and refresh
  * delta segments keep every file of a shard in one group through the
  * same rule. Groups are packed, largest first, into at most
  * `defaultParallelism` partitions. A footer that cannot be read fails
  * construction with the file named — there is no fallback plan. */
final class ShardJob[G] private (spark: SparkSession,
                                 name: String,
                                 parts: Option[RDD[Array[String]]],
                                 conf: Broadcast[SerializableConfiguration],
                                 tombstones: Broadcast[Map[Int, Posting]],
                                 rows: ShardJob.Rows[G],
                                 bytes: Long) {

  /** `task` once per partition over the shards its files hold of `terms`
    * and of the terms starting with one of `prefixes` — (decoded rows,
    * tombstones) per shard with ≥ 1 row — one result per partition. No
    * job when there is nothing to read. */
  def run[R: ClassTag](terms: Seq[String], prefixes: Seq[String] = Nil)(
      task: Iterator[(G, Option[Posting])] => R): Array[R] =
    parts.filter(_ => terms.nonEmpty || prefixes.nonEmpty).fold(Array.empty[R]) { rdd =>
      val read = reader(terms, prefixes)
      rdd.sparkContext.runJob(rdd, (files: Iterator[Array[String]]) => task(read(files.flatten)))
    }

  /** The rows `task` yields over the shards of `terms` and `prefixes`
    * (as [[run]]), as a lazy frame (columns named by `T`'s encoder) that
    * re-runs the read per action. */
  def frame[T: Encoder](terms: Seq[String], prefixes: Seq[String] = Nil)(
      task: Iterator[(G, Option[Posting])] => Iterator[T]): DataFrame = {
    val (enc, read) = (encoderFor[T], reader(terms, prefixes))
    val out = parts.filter(_ => terms.nonEmpty || prefixes.nonEmpty).fold[RDD[InternalRow]](spark.sparkContext.emptyRDD) {
      _.mapPartitions { files =>
        val ser = enc.createSerializer()
        task(read(files.flatten)).map(t => ser(t).copy())
      }
    }.setName(name)
    org.apache.spark.sql.graftbridge.Bridge.frame(spark, enc.schema, out, bytes)
  }

  /** The task-side read of `terms` and `prefixes`: captures plain values,
    * never this job. */
  private def reader(terms: Seq[String], prefixes: Seq[String]): Iterator[String] => Iterator[(G, Option[Posting])] = {
    val (c, tb, r, want, pre) = (conf, tombstones, rows, terms.distinct, prefixes.distinct)
    files => ShardJob.shards(files, c.value.value, PointRead.strings(want) ++ PointRead.prefixes(pre), tb.value, r)
  }
}

object ShardJob {
  /** What a job reads of its files: the columns (`shard` and `term`
    * first), and one shard's records decoded into its kernel's input. */
  final case class Rows[G](columns: Seq[String], decode: Seq[PointRead.Record] => G)

  /** Postings: one shard's lists by term, segments merged. */
  val PostingRows: Rows[Map[String, Posting]] = Rows(
    Seq("shard", "term", "count", "maxTf", "docsBlob", "tfsBlob", "lensBlob",
      "blockLast", "blockMaxTf", "blockDocOff", "blockTfOff", "blockLenOff"),
    rs => Searcher.termLists(rs.map(r => Posting(r.int(0), r.string(1), r.int(2), r.int(3),
      r.bytes(4), r.bytes(5), r.bytes(6), r.longs(7), r.ints(8), r.ints(9), r.ints(10), r.ints(11)))))

  /** The positional sidecar: one shard's position lists. */
  val PositionRows: Rows[Seq[PosPosting]] = Rows(
    Seq("shard", "term", "count", "docsBlob", "cntsBlob", "posBlob"),
    _.map(r => PosPosting(r.int(0), r.string(1), r.int(2), r.bytes(3), r.bytes(4), r.bytes(5))))

  def apply[G](spark: SparkSession, files: Seq[String], conf: Broadcast[SerializableConfiguration],
               tombstones: Broadcast[Map[Int, Posting]], rows: Rows[G]): ShardJob[G] = {
    val sc = spark.sparkContext
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
    val dirs = files.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString).distinct.sorted
    new ShardJob(spark, s"ShardJob ${dirs.mkString(", ")}",
      if (bins.isEmpty) None else Some(sc.parallelize(bins.map(_._2.toArray).toSeq, bins.length)),
      conf, tombstones, rows, sized.map(_._3).sum)
  }

  /** Delete tombstones per shard, read from the tombstone table at `path`
    * and encoded once into the VByte posting form every kernel excludes
    * with a forward-only cursor ([[Wand.Excl]]), then broadcast; empty
    * when there is none. Residency is bounded by DELETED docs (≈ 1-2
    * bytes/doc after delta encoding). */
  def tombstones(spark: SparkSession, path: Option[String]): Broadcast[Map[Int, Posting]] = {
    import spark.implicits._
    spark.sparkContext.broadcast(path.fold(Map.empty[Int, Posting]) { p =>
      graft.sources.TableIO.read(spark, p)
        .select(col("shard"), col("docId")).as[(Int, Long)].collect()
        .groupBy(_._1).map { case (s, arr) =>
          val docs = arr.map(_._2).sorted
          s -> graft.codec.Postings.encode(s, "\u0000tombstone", docs,
            Array.fill(docs.length)(1), Array.fill(docs.length)(1))
        }
    })
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

  /** The rows of `keys` in `files`, as (decoded rows, tombstones) per shard. */
  private def shards[G](files: Iterator[String], conf: Configuration, keys: Set[Any],
                        tombs: Map[Int, Posting], rows: Rows[G]): Iterator[(G, Option[Posting])] =
    files.flatMap(f => PointRead.rows(f, conf, "term", keys, rows.columns)).toSeq
      .groupBy(_.int(0)).iterator.map { case (s, rs) => (rows.decode(rs), tombs.get(s)) }
}
