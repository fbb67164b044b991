package graft.build

import graft.model.StageManifest
import org.apache.spark.sql.SparkSession

/** Per-shard next-rank high-water marks over the analyzed table — the
  * docId-allocation state shared by the batch builder, batch `append`, and
  * streaming ingest (all three allocate ranks strictly above the HWM, so
  * docIds stay unique and ascending per shard no matter which path lands a
  * document).
  *
  * Persisted as one manifest per shard (`stream_hwm_<s>`, rows = next free
  * rank) plus a `stream_hwm_max` presence marker. When no manifests exist
  * but analyzed/ does (an index built before HWMs were recorded), the HWM
  * is seeded from max(rank)+1 of the existing table — appending into a
  * batch-built index must never reuse its docIds. */
object Hwm {

  def read(spark: SparkSession, indexDir: String, shards: Int): Array[Long] = {
    val hwm = new Array[Long](shards)
    if (Manifests.read(indexDir, "stream_hwm_max").isDefined) {
      (0 until shards).foreach { s =>
        hwm(s) = Manifests.read(indexDir, s"stream_hwm_$s").map(_.rows).getOrElse(0L)
      }
    } else {
      val analyzed = s"$indexDir/analyzed"
      if (IndexBuilder.fs(spark, analyzed).exists(new org.apache.hadoop.fs.Path(analyzed)))
        ShardKeys.raise(spark.read.parquet(analyzed), hwm)
    }
    hwm
  }

  def write(indexDir: String, hwm: Array[Long]): Unit = {
    hwm.zipWithIndex.foreach { case (v, s) =>
      Manifests.write(indexDir, StageManifest(s"stream_hwm_$s", v, 0, "hwm", 0))
    }
    Manifests.write(indexDir, StageManifest("stream_hwm_max", hwm.max, 0, "hwm", 0))
  }
}
