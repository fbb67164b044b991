package graft.query

import graft.build.IndexBuilder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Federated search across several standing indexes — Lucene's MultiReader
  * re-expressed: every member index scores against the COMBINED collection
  * statistics (N = Σ n_i, avgdl = Σ sumlen_i / Σ n_i, df = Σ df_i per
  * term), so member scores are directly comparable and the merged top-k is
  * score-identical to a query over the physically-merged index
  * ([[graft.build.IndexBuilder.merge]]) — federation is the zero-copy
  * alternative when the indexes must stay separate (per-tenant, per-epoch,
  * hot/cold tiers).
  *
  * Cost shape: one tiny stats read per member at construction, one
  * vocabulary-SLICED df lookup per member per query (the members' own
  * memoized dfSlice — never a df-table join), then each member's one
  * shard job; the merge is a TakeOrdered over ≤ members·k
  * resolved hits. Nothing corpus-sized moves, ever. */
final class Federated(spark: SparkSession, dirs: Seq[String],
                      params: Bm25.Params = Bm25.RefDefaults) {
  require(dirs.nonEmpty, "federated search needs at least one member index")

  /** Combined collection statistics, computed exactly as a merged build
    * would (integer sums, one double division — bit-identical avgdl). */
  val (n: Long, avgdl: Double) = {
    val stats = dirs.map(d =>
      spark.read.parquet(IndexBuilder.statsPath(d)).head())
    val nSum = stats.map(_.getAs[Long]("n")).sum
    val sumlen = stats.map(_.getAs[Long]("sumlen")).sum
    (nSum, if (nSum == 0) 0.0 else sumlen.toDouble / nSum)
  }

  /** Member searchers pinned to the combined stats. */
  val members: Seq[Searcher] =
    dirs.map(d => new Searcher(spark, d, params, statsOverride = Some((n, avgdl))))

  /** Combined per-term df over the analyzed terms of `query`. */
  private def globalDf(query: String): Map[String, Long] = {
    val terms = members.head.analyzeQuery(query).keys.toSeq
    if (terms.isEmpty) return Map.empty
    members.map(_.dfSlice(terms))
      .foldLeft(Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (t, d)) => a.updated(t, a.getOrElse(t, 0L) + d) }
      }
  }

  /** Federated top-k: members run their own kernels under the global
    * statistics, the ≤ members·k resolved hits merge by (score desc,
    * conv_id, turn_idx). Scores equal the physically-merged index's. */
  def topK(query: String, k: Int): DataFrame = {
    val dfm = globalDf(query)
    val hits = members.map(_.topKWithDf(query, k, dfm))
    hits.reduce(_ unionByName _)
      .orderBy(desc("score"), asc("conv_id"), asc("turn_idx")).limit(k)
  }
}
