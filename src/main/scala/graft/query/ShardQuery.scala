package graft.query

import graft.model.Posting

/** One query as a shard task evaluates it. Every [[Searcher]] kernel mode
  * builds one on the driver — analyzed terms, global statistics and
  * similarity already folded into per-term scorers — and the task closure
  * captures only this value (never the Searcher), so it ships with the
  * task as plain data.
  *
  * [[run]] picks the traversal ([[Wand]]):
  *  - filters present → [[Wand.conjunction]] driven by the filter lists;
  *  - a pruning top-k over scorers with upper bounds → [[Wand.wand]];
  *  - otherwise → [[Wand.union]].
  *
  * @param clauses  scoring terms, in summation order
  * @param filters  terms every match must contain (AND terms, boolean
  *                 must, facet values); a shard missing any matches nothing
  * @param excludes terms no match may contain (MUST_NOT)
  * @param sink     what the task keeps of the matches
  */
final case class ShardQuery(clauses: Seq[ShardQuery.Clause],
                            filters: Seq[String] = Nil,
                            excludes: Seq[String] = Nil,
                            sink: ShardQuery.Sink) {
  import ShardQuery._

  /** Evaluate over one shard's posting lists by term, hiding the shard's
    * delete `tombstones`. Top-k sinks yield score desc / docId asc; [[All]]
    * streams ascending docIds. */
  def run(lists: Map[String, Posting], tombstones: Option[Posting]): Iterator[Wand.Scored] = {
    def present(t: String) = lists.get(t).filter(_.count > 0)
    val terms = clauses.flatMap(c => c.posting(present).map(Wand.Term(_, c.sim, c.slot)))
    val ex = new Wand.Excl(excludes.flatMap(present) ++ tombstones)
    val fs = filters.flatMap(present)
    val matches =
      if (fs.size < filters.size) Iterator.empty // a filter list this shard lacks
      else if (fs.nonEmpty) Wand.conjunction(fs, terms, ex)
      else sink match {
        case Top(k, minMatch, gateMax, true) if terms.forall(_.sim.isInstanceOf[Wand.Bounded]) =>
          val top = new Wand.TopK(k, gateMax)
          Wand.wand(terms, minMatch, ex, top)
          return top.drainDescending().iterator
        case Top(_, minMatch, _, _) => Wand.union(terms, 0.0, minMatch, ex)
        case DisMax(_, tie) => Wand.union(terms, tie, 1, ex)
        case All => Wand.union(terms, 0.0, 1, ex)
      }
    val top = sink match {
      case All => return matches
      case Top(k, _, gateMax, _) => new Wand.TopK(k, gateMax)
      case DisMax(k, _) => new Wand.TopK(k)
    }
    matches.foreach(s => top.offer(s.docId, s.score))
    top.drainDescending().iterator
  }
}

object ShardQuery {

  /** One scoring clause: a term, or a synonym group whose present members'
    * lists union into one pseudo-term (per-doc tf summed —
    * [[graft.codec.Postings.unionSum]]), scored by `sim` into dis-max
    * subquery `slot`. */
  final case class Clause(terms: Seq[String], sim: Wand.SimScorer, slot: Int = 0) {
    private[ShardQuery] def posting(present: String => Option[Posting]): Option[Posting] =
      terms.flatMap(present) match {
        case Seq() => None
        case Seq(p) => Some(p)
        case ps => Some(graft.codec.Postings.unionSum(ps, terms.head))
      }
  }

  def clause(term: String, sim: Wand.SimScorer, slot: Int = 0) = Clause(Seq(term), sim, slot)

  sealed trait Sink
  /** The best k (score desc, docId asc), documents on ≥ `minMatch`
    * distinct clauses scoring ≤ `gateMax`; `prune` = false forces the
    * exhaustive union even where WAND applies. */
  final case class Top(k: Int, minMatch: Int = 1,
                       gateMax: Double = Double.PositiveInfinity,
                       prune: Boolean = true) extends Sink
  /** Every match, ascending docId. */
  case object All extends Sink
  /** The best k by dis-max over the clauses' slots. */
  final case class DisMax(k: Int, tie: Double) extends Sink
}
