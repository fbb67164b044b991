package graft.model

/** Facet (metadata attribute) terms: the scale-native representation of a
  * filtered search.
  *
  * A categorical attribute value (lang=en, source=src7, role=user, …) is
  * indexed as a SYNTHETIC POSTING LIST — the term `\u0001<col>\u0001<value>`
  * emitted once per document at build time. A filtered query then never
  * scans or joins the attribute column: the filter IS a posting list, and
  * filtered top-k is a leapfrog intersection of the filter lists driving
  * BM25 scoring of the query terms ([[graft.query.Wand.conjunction]]) —
  * cost ∝ the shortest filter list, independent of corpus size. This is the
  * classic inverted-index answer to metadata filtering (Lucene keyword
  * fields + BooleanQuery FILTER clauses); a broadcast docId-set side-filter
  * would not survive 10^12 docs.
  *
  * The `\u0001` prefix keeps facet terms disjoint from analyzer output
  * (analyzer tokens are letter/digit runs only) and sorts them after the
  * `\u0000` length-sidecar key but before every real token, so facet
  * postings ride the existing build/refresh/compact pipeline unchanged.
  * Facet terms carry tf=1 and do NOT count toward the BM25 doc length.
  */
object Facets {
  val Prefix = "\u0001"

  /** The synthetic term for one (column, value) pair. */
  def term(col: String, value: String): String = Prefix + col + Prefix + value

  def isFacet(term: String): Boolean = term.startsWith(Prefix)
}
