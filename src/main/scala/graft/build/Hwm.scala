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
  * rank) plus a `stream_hwm_max` presence marker. [[read]] raises the
  * manifest marks (0 where none exist) by the analyzed rows at or above
  * them: rows an index built before HWMs were recorded already holds, and
  * rows an `append` or stream batch landed before a crash stopped it
  * short of [[write]] — allocation must never reuse a landed docId. The
  * scan is per-shard docId ranges ([[ShardKeys.atOrAbove]]), so when the
  * marks are current the row-group statistics prune every file. */
object Hwm {

  def read(spark: SparkSession, indexDir: String, shards: Int): Array[Long] = {
    val hwm = Array.tabulate(shards)(s =>
      Manifests.read(indexDir, s"stream_hwm_$s").map(_.rows).getOrElse(0L))
    val analyzed = s"$indexDir/analyzed"
    if (IndexBuilder.fs(spark, analyzed).exists(new org.apache.hadoop.fs.Path(analyzed)))
      ShardKeys.raise(spark.read.parquet(analyzed).where(ShardKeys.atOrAbove(hwm)), hwm)
    hwm
  }

  def write(indexDir: String, hwm: Array[Long]): Unit = {
    hwm.zipWithIndex.foreach { case (v, s) =>
      Manifests.write(indexDir, StageManifest(s"stream_hwm_$s", v, 0, "hwm", 0))
    }
    Manifests.write(indexDir, StageManifest("stream_hwm_max", hwm.max, 0, "hwm", 0))
  }
}
