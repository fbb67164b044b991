package graft.query

/** Dirichlet-smoothed query-likelihood language-model ranking (Zhai &
  * Lafferty 2001; the formulation Lucene ships as LMDirichletSimilarity) —
  * an alternative similarity over the SAME index tables BM25 uses, plus
  * one extra per-term global statistic: the collection frequency cf(t)
  * (total occurrences, not document count).
  *
  * Per (term, doc) contribution, with T = total tokens in the corpus and
  * the +1-smoothed collection model p(t|C) = (cf+1)/(T+1):
  *
  *   s(t, d) = qtf(t) · max(0, ln(1 + tf/(μ·p(t|C))) + ln(μ/(dl+μ)))
  *
  * The per-term clamp at zero mirrors Lucene's contract (a matching term
  * never *subtracts* relevance — without it, a long document matching a
  * very common term would be penalized below non-matching docs). The doc
  * score is the sum over matching terms; only docs scoring > 0 rank.
  *
  * Scored EXHAUSTIVELY over the pruned posting lists ([[Wand.union]]) —
  * deliberately: block-max WAND's upper-bound algebra does not transfer,
  * because the clamped contribution is non-monotone in doc length (the
  * ln(μ/(dl+μ)) term rides inside the clamp), so a sound tf-only bound
  * degenerates to no pruning. Cost is O(Σ posting rows of the query
  * terms) per shard — the same shape as the scoreAll relational twin,
  * linear in the pruned scan, never in the corpus. */
object LmDirichlet {

  /** Default smoothing mass, Lucene's LMDirichletSimilarity default. */
  val DefaultMu: Double = 2000.0

  /** The per-term scorer; `muPc` = μ·p(t|C). */
  final case class Sim(qtf: Int, muPc: Double, mu: Double) extends Wand.SimScorer {
    def score(tf: Int, dl: Int): Double =
      qtf * math.max(0.0, math.log(1.0 + tf / muPc) + math.log(mu / (dl + mu)))
  }

  /** Scorer of a query term with collection frequency `cf`; `totalTokens`
    * is the exact corpus token count (IndexBuilder stats `sumlen`). The
    * association order mirrors the SQL oracle literally:
    * mu * ((cf + 1.0) / (T + 1.0)). */
  def sim(qtf: Int, cf: Long, totalTokens: Long, mu: Double): Sim =
    Sim(qtf, mu * ((cf + 1.0) / (totalTokens + 1.0)), mu)
}
