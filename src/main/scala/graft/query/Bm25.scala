package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** BM25 scoring — the reference's exact math (BM25Reranker.cs:398-418):
  *
  *   idf = ln(1 + (N - df + 0.5) / (df + 0.5))        (non-negative variant, D7)
  *   tf  = f*(k1+1) / (f + k1*(1 - b + b*dl/avgdl))
  *   qtf = qf*(k3+1) / (qf + k3)
  *   score = Σ idf*tf*qtf  over query terms present in the doc
  *
  * Expressed both as Catalyst Columns (codegen'd, the relational/exhaustive
  * path) and as scalar doubles (the WAND kernel) — the two produce the same
  * doubles because both follow this exact operation order.
  */
object Bm25 {

  final case class Params(k1: Double = 1.5, b: Double = 0.75, k3: Double = 1000.0)
  val RefDefaults: Params = Params(1.5, 0.75, 1000.0)
  /** North-star parameterization (BASELINE.json: k1=1.2, b=0.75). */
  val NorthStar: Params = Params(1.2, 0.75, 1000.0)

  /** Catalyst form: all constants fold, the whole expression stays inside
    * whole-stage codegen — no UDF. */
  def scoreCol(tf: Column, qtf: Column, df: Column, dl: Column,
               n: Column, avgdl: Column, p: Params): Column = {
    val idf = log(lit(1.0) + (n.cast("double") - df.cast("double") + lit(0.5)) / (df.cast("double") + lit(0.5)))
    val f = tf.cast("double")
    val tfSat = f * lit(p.k1 + 1.0) / (f + lit(p.k1) * (lit(1.0) - lit(p.b) + lit(p.b) * dl.cast("double") / avgdl))
    val qf = qtf.cast("double")
    val qtfSat = qf * lit(p.k3 + 1.0) / (qf + lit(p.k3))
    idf * tfSat * qtfSat
  }

  @inline def idf(n: Long, df: Long): Double =
    math.log(1 + (n - df + 0.5) / (df + 0.5))

  @inline def tfSat(f: Int, dl: Int, avgdl: Double, p: Params): Double =
    f * (p.k1 + 1) / (f + p.k1 * (1 - p.b + p.b * dl / avgdl))

  @inline def qtfSat(qf: Int, p: Params): Double =
    qf * (p.k3 + 1) / (qf + p.k3)

  /** BM25's per-term scorer for the kernel traversals ([[Wand]]): `weight`
    * = idf·qtfSat·boost, folded once per query term. */
  final case class Sim(weight: Double, avgdl: Double, p: Params) extends Wand.Bounded {
    def score(tf: Int, dl: Int): Double = weight * tfSat(tf, dl, avgdl, p)
    def bound(maxTf: Int): Double = weight * tfSatUpper(maxTf, p)
  }

  def sim(qtf: Int, df: Long, n: Long, avgdl: Double, p: Params, boost: Double = 1.0): Sim =
    Sim(idf(n, df) * qtfSat(qtf, p) * boost, avgdl, p)

  /** Upper bound of the tf saturation over any document length (dl → 0
    * maximizes it); monotone in f, so maxTf bounds the block. Basis of the
    * WAND term/block upper bounds. */
  @inline def tfSatUpper(maxTf: Int, p: Params): Double =
    maxTf * (p.k1 + 1) / (maxTf + p.k1 * (1 - p.b))
}
