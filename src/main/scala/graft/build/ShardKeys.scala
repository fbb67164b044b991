package graft.build

import graft.model.Ids
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** docId placement, the one owner of how a turn becomes a docId: shard =
  * pmod(murmur3(conv_id), shards), exact shard→partition placement, a
  * (shard, conv_id, turn_idx) sort ([[Placement.route]]), then ranks
  * counted up per shard from a base ([[ShardKeys.Ranks]]). Every path
  * that lands rows, and the positional sidecar's replay, places through
  * here; per-shard rank marks (covers, HWMs) go through [[below]]/[[raise]].
  *
  * Exact placement: `repartition(parts, col("shard"))` places shard s at
  * pmod(murmur3(s), parts) — a balls-in-bins assignment that leaves some
  * partitions with 2-3 shards and others empty, so the slowest task runs
  * 2-3× the median (measured on the posting build). Instead we map each
  * shard to a precomputed key whose murmur3 lands EXACTLY on partition
  * (shard mod parts): perfect round-robin balance, still deterministic,
  * still plain HashPartitioning (no custom Partitioner, no RDDs).
  */
object ShardKeys {

  /** keys(s) = an int v with pmod(murmur3Int(v), parts) == s % parts.
    * Spark's HashPartitioning over an int column is Murmur3_x86_32.hashInt
    * with seed 42 (catalyst Murmur3Hash). */
  def keys(nShards: Int, parts: Int): Array[Int] = {
    val firstFor = new Array[Int](parts)
    java.util.Arrays.fill(firstFor, -1)
    var v = 0
    var found = 0
    while (found < parts) {
      val t = math.floorMod(Murmur3_x86_32.hashInt(v, 42), parts)
      if (firstFor(t) < 0) { firstFor(t) = v; found += 1 }
      v += 1
    }
    Array.tabulate(nShards)(s => firstFor(s % parts))
  }

  /** Per-partition docId allocator over rows arriving in (shard, …) order:
    * each shard's ranks count up from `base(shard)`. */
  final class Ranks(base: Array[Long]) {
    private var shard = -1
    private var rank = 0L
    def next(s: Int): Long = {
      if (s != shard) { shard = s; rank = base(s) }
      val docId = Ids.docId(s, rank)
      rank += 1L
      docId
    }
  }

  private def rank: Column = expr(s"docId & ${Ids.RankMask}")

  /** Rows (with `shard`, `docId`) whose rank is below their shard's mark;
    * `!below(marks)` selects the rows at or above it. */
  def below(marks: Array[Long]): Column =
    rank < element_at(lit(marks.clone()), col("shard") + 1)

  /** `!below(marks)` as per-shard docId ranges [docId(s, marks(s)),
    * docId(s + 1, 0)), which Parquet row-group min/max statistics prune:
    * on a table with one shard per row group only the row groups holding
    * rows at or above the marks are read. */
  def atOrAbove(marks: Array[Long]): Column =
    marks.indices.map(s => col("docId") >= Ids.docId(s, marks(s)) &&
      col("docId") < Ids.docId(s + 1, 0L)).reduce(_ || _)

  /** Raise `marks(s)` to max(rank)+1 over the shard-s rows of `rows` (one
    * pruned per-shard aggregation); `aggs` ride the same aggregation and
    * its per-shard rows are returned. */
  def raise(rows: DataFrame, marks: Array[Long], aggs: Column*): Array[Row] = {
    val per = rows.groupBy(col("shard")).agg(max(rank).as("maxRank"), aggs: _*).collect()
    per.foreach(r => marks(r.getAs[Int]("shard")) = r.getAs[Long]("maxRank") + 1L)
    per
  }
}

/** Exact placement of `shards` shards over `parts` partitions (see
  * [[ShardKeys]]). */
final case class Placement(shards: Int, parts: Int) {
  private val pkeys = ShardKeys.keys(shards, parts)

  /** `rows` (with a `shard` column) exchanged so shard s lands on partition
    * s % parts, then sorted within each partition by `sortBy`. */
  def exchange(rows: DataFrame, sortBy: String*): DataFrame =
    rows.withColumn("pkey", element_at(lit(pkeys), col("shard") + 1))
      .repartition(parts, col("pkey"))
      .drop("pkey")
      .sortWithinPartitions(sortBy.map(col): _*)

  /** Turns (with `conv_id`, `turn_idx`) routed to their shard, placed, and
    * sorted by (shard, conv_id, turn_idx) — the rank order. Columns:
    * `shard`, then `rows`' own. */
  def route(rows: DataFrame): DataFrame =
    exchange(rows.select(pmod(hash(col("conv_id")), lit(shards)).cast("int").as("shard") +:
      rows.columns.toSeq.map(col): _*), "shard", "conv_id", "turn_idx")
}
