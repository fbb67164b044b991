package graft.streaming

import graft.analysis.Analyzer
import graft.build.{Hwm, IndexBuilder, Manifests, Placement, ShardKeys}
import graft.model.StageManifest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming ingest: transcripts arriving as files feed the same
  * analyzer and land as analyzed rows, with docIds assigned incrementally.
  *
  * The batch builder assigns docIds by global (conv_id, turn_idx) rank;
  * a stream cannot know future ranks, so the streaming path assigns them
  * per shard above a persisted high-water mark, batch by batch — docIds
  * remain unique and strictly ascending per shard (the postings rebuild
  * only needs ascending, not dense: doc lengths ride inline in the posting
  * blobs). Downstream stages (stats/df/postings) are refreshed by running
  * the normal batch stages over the appended analyzed table — posting
  * compaction is a batch job by design (the reference has no streaming
  * either; SURVEY.md §2.2 marks streaming N/A — this is the ingestion
  * shape a production deployment would add in front of it).
  *
  * Exactly-once: each micro-batch is (1) written to a staging dir keyed by
  * batchId (overwrite — idempotent on retry): its analyzed rows and, when
  * the index has a doc-meta sidecar, their sidecar rows, (2) committed by
  * renaming the part files to DETERMINISTIC names
  * `stream-<batchId>-<i>.parquet` under analyzed/ and docmeta/ (a replay
  * overwrites the same names — never duplicates), (3) recorded in
  * per-shard HWM manifests and a `stream_batch_<id>` manifest; a batchId
  * whose manifest exists is skipped entirely. The only non-atomic window
  * (crash between the HWM write and the batch manifest) re-lands the
  * batch at higher ranks — leaving a harmless rank gap, never a duplicate
  * docId.
  */
object StreamIngest {

  /** Start ingesting a streaming DataFrame of turns into
    * `<indexDir>/analyzed`. Returns the StreamingQuery (caller awaits /
    * stops). Each micro-batch goes through the batch build's own
    * analyzed-row path ([[IndexBuilder.analyzedRows]]): same shard
    * routing, placement and analyzer, ranks above the per-shard HWMs.
    * Into an index with a doc-meta sidecar the stream must carry the
    * sidecar's columns, as [[IndexBuilder.append]]'s input must. */
  def start(spark: SparkSession, stream: DataFrame, indexDir: String,
            shards: Int, language: String = "en",
            checkpoint: String = null,
            /** Must equal the IndexBuilder.Config.normalizer the index was
              * built with — streamed docs must normalize identically or
              * their terms never match normalized query terms. */
            normalizer: Analyzer.Norm = Analyzer.Identity): StreamingQuery = {
    val place = Placement(shards, shards)
    val metaCols = IndexBuilder.sidecarCols(spark, indexDir, stream.columns)
    val cp = Option(checkpoint).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_stream_cp").toString)

    stream
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!Manifests.isDone(indexDir, s"stream_batch_$batchId")) {
          val ss = batch.sparkSession
          val hwm = Hwm.read(ss, indexDir, shards)

          // (1) stage the batch and its sidecar rows (idempotent overwrite)
          val staging = s"$indexDir/_staging/batch_$batchId"
          IndexBuilder.analyzedRows(batch, place, language, normalizer, hwm)
            .write.mode("overwrite").parquet(s"$staging/analyzed")
          val staged = ss.read.parquet(s"$staging/analyzed")
          metaCols.foreach(mcols => IndexBuilder.docMetaRows(batch, staged, place, mcols)
            .write.mode("overwrite").parquet(s"$staging/docmeta"))
          // HWM advance from the staged rows' own ranks
          val landed = ShardKeys.raise(staged, hwm, count(lit(1)).as("n"))
          // (2) commit: rename to deterministic names — replays overwrite
          val fs = IndexBuilder.fs(ss, staging)
          for (table <- "analyzed" +: metaCols.map(_ => "docmeta").toSeq) {
            val destDir = new org.apache.hadoop.fs.Path(s"$indexDir/$table")
            fs.mkdirs(destDir)
            val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$staging/$table"))
              .filter(_.getPath.getName.startsWith("part-"))
              .sortBy(_.getPath.getName)
            parts.zipWithIndex.foreach { case (f, i) =>
              val dst = new org.apache.hadoop.fs.Path(destDir, s"stream-$batchId-$i.parquet")
              if (fs.exists(dst)) fs.delete(dst, false)
              fs.rename(f.getPath, dst)
            }
          }
          fs.delete(new org.apache.hadoop.fs.Path(staging), true)
          // (3) record the advanced HWMs, then seal the batch
          Hwm.write(indexDir, hwm)
          Manifests.write(indexDir,
            StageManifest(s"stream_batch_$batchId", landed.map(_.getAs[Long]("n")).sum, 0, "done", 0))
        }
        ()
      }
      .start()
  }
}
