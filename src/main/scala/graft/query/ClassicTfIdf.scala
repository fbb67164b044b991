package graft.query

/** Classic TF-IDF vector-space scoring (the practical scoring function
  * Lucene shipped as ClassicSimilarity before BM25 became the default) —
  * the third similarity over the same index tables, completing the
  * pluggable-similarity demonstration (BM25 / Dirichlet LM / classic):
  *
  *   s(t, d) = qtf(t) · √tf · idf(t)² · (1/√dl),
  *   idf(t) = 1 + ln((N+1)/(df+1))
  *
  * idf appears SQUARED — once as the document weight, once as the query
  * weight — exactly the classic Lucene shape (its norm() is 1/√dl without
  * the byte quantization Lucene applies at index time; this engine keeps
  * exact lengths inline, so no quantization loss). Every contribution is
  * strictly positive, so matched docs always rank.
  *
  * Exhaustive over the pruned posting lists like [[LmDirichlet]]: a sound
  * WAND bound exists (1/√dl ≤ 1) but is loose enough (~5× above typical
  * docs) that pruning would rarely fire; the similarity seam favors the
  * simple correct kernel, and the cost stays O(pruned posting rows). */
object ClassicTfIdf {

  /** The per-term scorer. */
  final case class Sim(qtf: Int, idf: Double) extends Wand.SimScorer {
    // association mirrors the SQL oracle: ((qtf·√tf)·idf)·idf / √dl
    def score(tf: Int, dl: Int): Double =
      qtf * math.sqrt(tf.toDouble) * idf * idf / math.sqrt(dl.toDouble)
  }

  def sim(qtf: Int, df: Long, n: Long): Sim =
    Sim(qtf, 1.0 + math.log((n + 1.0) / (df + 1.0)))
}
