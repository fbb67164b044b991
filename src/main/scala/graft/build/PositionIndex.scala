package graft.build

import graft.analysis.Analyzer
import graft.codec.{PosPostings, VByte}
import graft.model.{PosPosting, StageManifest}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Optional positional sidecar of an index: per (shard, raw token) posting
  * lists carrying every occurrence position in the RAW token stream
  * (stopwords included). Phrase queries over it ([[graft.query.PosSearcher]])
  * verify adjacency from the index alone — no candidate point-read of
  * source text — and a stopword inside the phrase is matched exactly (the
  * non-positional path documents stopword-only phrases as a limitation;
  * here stopwords are first-class indexed tokens).
  *
  * Scale shape mirrors the main posting build (IndexBuilder
  * .assemblePostings): ONE exchange of raw text with exact shard→partition
  * placement, map-side pre-grouped + pre-ENCODED (shard, term) chunks with
  * bounded task memory, then one chunk shuffle and a streaming merge into
  * per-partition files. Chunks ride the shuffle fully vbyte-encoded
  * (docs/cnts/pos blobs + a 3-field header); the reduce side rewrites ONE
  * vlong per chunk ([[PosPostings.concatEncoded]]) and copies the rest
  * verbatim. Terms ride as strings: the sidecar's vocabulary — raw tokens,
  * stopwords included — is not the main build's, so its dictionary is not
  * reusable, and a dedicated vocab pass would cost a second corpus scan,
  * the wrong trade for an opt-in stage.
  *
  * docIds are RECOMPUTED, not joined: the build's own placement
  * ([[Placement.route]] + [[ShardKeys.Ranks]]) replays its deterministic
  * rank assignment — zero extra shuffles vs a corpus-sized join against
  * analyzed/. That
  * replay is only valid against a base build, so [[build]] refuses an
  * index that has seen appends/streaming (rebuild after compaction
  * instead — the same policy a segment-merging engine applies to its own
  * sidecars).
  */
object PositionIndex {

  val Stage = "positions"

  def path(indexDir: String): String = s"$indexDir/$Stage"

  def exists(indexDir: String): Boolean = Manifests.isDone(indexDir, Stage)

  /** Flush cap on accumulated positions per map task (≈ 4 MB of position
    * bytes at 1 B/vlong): bounds task memory regardless of how hard
    * Parquet compressed the input slice. Tests lower it to force the
    * multi-chunk merge path. */
  val DefaultFlushPositions = 4000000

  /** Build the sidecar over the SAME input table the index was built from
    * (same rows, any order). Idempotent via the stage manifest. */
  def build(spark: SparkSession, input: DataFrame, indexDir: String,
            flushPositions: Int = DefaultFlushPositions): Unit = {
    if (exists(indexDir)) return
    val shards = IndexBuilder.builtShards(indexDir)
    require(Manifests.read(indexDir, "stream_hwm_max").isEmpty,
      s"$indexDir has appended/streamed documents: the positional sidecar " +
        "replays the BASE build's docId assignment — compact first, then rebuild")
    IndexBuilder.withBuildConf(spark) {
      val t0 = System.nanoTime()
      graft.sources.TableIO.write(
        assemble(spark, input, Placement(shards, shards), flushPositions), path(indexDir))
      val rows = graft.sources.TableIO.read(spark, path(indexDir)).count()
      Manifests.write(indexDir, StageManifest(Stage, rows,
        Manifests.dirBytes(path(indexDir)), "done",
        (System.nanoTime() - t0) / 1000000L))
    }
  }

  /** Map-side chunk: one (shard, term) run of consecutive docs, already in
    * final vbyte encoding (docs blob leads with the ABSOLUTE first docId). */
  private final class Chunk {
    var firstDoc = 0L
    var lastDoc = 0L
    var n = 0
    val docs = new graft.codec.ByteBuf(8)
    val cnts = new graft.codec.ByteBuf(4)
    val pos = new graft.codec.ByteBuf(16)
    def addDoc(docId: Long): Unit = {
      if (n == 0) { firstDoc = docId; VByte.writeVLong(docs, docId) }
      else VByte.writeVLong(docs, docId - lastDoc)
      lastDoc = docId
      n += 1
    }
  }

  private type ChunkRow =
    (Int, String, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte])

  private def assemble(spark: SparkSession, input: DataFrame, place: Placement,
                       flushPositions: Int): DataFrame = {
    import spark.implicits._
    val chunks = place.route(input
      .select(col("conv_id").cast("string"), col("turn_idx").cast("int"), col("text")))
      .mapPartitions { rows =>
        new Iterator[ChunkRow] {
          private val m = new java.util.HashMap[String, Chunk]()
          private var entries = 0 // positions accumulated since last flush
          private val ranks = new ShardKeys.Ranks(new Array[Long](place.shards))
          private var curShard = Int.MinValue
          private var carried: Row = null // boundary row seen but not yet processed
          private var pending: Iterator[ChunkRow] = Iterator.empty

          /** Snapshot current chunks into `pending` and reset. A term
            * flushed more than once just yields several chunks with
            * disjoint ascending docId ranges. */
          private def drain(shard: Int): Unit = {
            import scala.jdk.CollectionConverters._
            val snap = new java.util.HashMap(m)
            pending = snap.entrySet().iterator().asScala.map { e =>
              val c = e.getValue
              (shard, e.getKey, c.firstDoc, c.lastDoc, c.n,
                c.docs.toArray, c.cnts.toArray, c.pos.toArray)
            }
            m.clear()
            entries = 0
          }

          private def processDoc(r: Row): Unit = {
            val docId = ranks.next(curShard)
            val toks = Analyzer.tokenizeRaw(r.getString(3))
            // per-term ascending positions, one pass over the token stream
            val posByTerm = new java.util.HashMap[String, ArrayBuffer[Int]]()
            var i = 0
            while (i < toks.length) {
              var b = posByTerm.get(toks(i))
              if (b == null) { b = new ArrayBuffer[Int](2); posByTerm.put(toks(i), b) }
              b += i
              i += 1
            }
            val it = posByTerm.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              var c = m.get(e.getKey)
              if (c == null) { c = new Chunk(); m.put(e.getKey, c) }
              c.addDoc(docId)
              val pa = e.getValue
              VByte.writeVLong(c.cnts, pa.length.toLong)
              var pp = 0L
              var j = 0
              while (j < pa.length) {
                VByte.writeVLong(c.pos, pa(j) - pp)
                pp = pa(j).toLong
                j += 1
              }
              entries += pa.length
            }
          }

          private def fill(): Unit = {
            while (!pending.hasNext && (carried != null || rows.hasNext)) {
              val r = if (carried != null) { val c = carried; carried = null; c }
                      else rows.next()
              val shard = r.getInt(0)
              if (shard != curShard) {
                if (!m.isEmpty) {
                  // shard boundary: flush so no chunk spans shards; the row
                  // is carried and re-enters on the next fill()
                  carried = r
                  drain(curShard)
                  return
                }
                curShard = shard
              }
              processDoc(r)
              if (entries >= flushPositions) { drain(curShard); return }
            }
            if (!pending.hasNext && !m.isEmpty) drain(curShard) // end of input
          }

          def hasNext: Boolean = {
            if (!pending.hasNext) fill()
            pending.hasNext
          }
          def next(): ChunkRow = {
            if (!hasNext) throw new NoSuchElementException("positions chunk iterator")
            pending.next()
          }
        }
      }
      .toDF("shard", "term", "firstDoc", "lastDoc", "n", "docs", "cnts", "pos")

    place.exchange(chunks, "shard", "term", "firstDoc")
      .mapPartitions { rows =>
        // Chunks of one (shard, term) arrive sorted by firstDoc with
        // disjoint ascending ranges (one shard = one source partition and
        // flushes preserve docId order): merge-encode, streaming.
        val it = rows.buffered
        new Iterator[PosPosting] {
          def hasNext: Boolean = it.hasNext
          def next(): PosPosting = {
            val shard = it.head.getInt(0)
            val term = it.head.getString(1)
            val pieces = new ArrayBuffer[PosPostings.Piece]()
            while (it.hasNext && it.head.getInt(0) == shard && it.head.getString(1) == term) {
              val r = it.next()
              pieces += PosPostings.Piece(r.getLong(2), r.getLong(3), r.getInt(4),
                r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6), r.getAs[Array[Byte]](7))
            }
            PosPostings.concatEncoded(shard, term, pieces.toSeq)
          }
        }
      }
      .toDF()
  }
}
