package graft.search

import graft.core.{EditDistance, Glob, ParsedQuery, QueryParser, Tokenizer}
import graft.index.{DocSidecar, TermDict}
import graft.index.DocSidecar.DocMeta

/** One query description for the batch (`SegmentSearch.evaluate`) and
  * serving (`ServingEngine.evaluate`) tiers: the reference's AND/OR/NOT
  * language, the phrase extension, or a dictionary expansion — each tier has
  * one evaluator over (query, k, optional metadata filter).
  *
  * Every family scores BM25 over a `ParsedQuery`: the reference query
  * itself, the AND of the phrase's terms, or the OR of an expansion's
  * matched terms in byte-lex order. A phrase or a filter then only FILTERS
  * (scores never change), so the exact answer is the top-k of the docs that
  * pass. Both checks are one candidate check (`accept`) that the tiers hand
  * to WAND's top-k collector (`Wand.searchSegment`'s `accept`), which runs
  * it only for candidates that would enter the top-k, so pruning stays
  * live. A metadata filter reads a doc's pinned filter fields
  * (`DocSidecar.DocMeta`), never its row; a phrase's adjacency check reads
  * the text, and a filtered phrase reads it only for a doc whose fields
  * pass. The dataflow `SearchEngine` stays the independent oracle twin and
  * does not use this type.
  */
sealed trait Query extends Serializable

object Query {

  /** The reference query language (`QueryParser`). */
  final case class Terms(pq: ParsedQuery) extends Query

  /** Phrase extension: the AND of `terms`, verified for adjacency. */
  final case class Phrase(terms: IndexedSeq[String]) extends Query

  /** Dictionary-expanded family: every index term `e` matches. */
  final case class Expand(e: Expansion) extends Query

  /** A dictionary match rule over (normalized) index terms; both tiers
    * resolve it with `TermDict.expand` (serving answers a fuzzy radius
    * within its SymSpell depth from SymSpell).
    */
  sealed trait Expansion extends TermDict.Pattern with Serializable
  final case class Prefix(prefix: String) extends Expansion {
    override def lead: String = prefix
    def matches(term: String): Boolean = term.startsWith(prefix)
  }
  /** `glob` is `Glob.normalize`d: alnum chunks separated by single `*`. */
  final case class Wildcard(glob: String) extends Expansion {
    override def lead: String = glob.takeWhile(_ != '*')
    override def tail: String = glob.substring(glob.lastIndexOf('*') + 1)
    def matches(term: String): Boolean = Glob.matches(glob, term)
  }
  /** Levenshtein <= maxDist (DuckDB `levenshtein` semantics). */
  final case class Fuzzy(term: String, maxDist: Int) extends Expansion {
    def matches(cand: String): Boolean = EditDistance.within(cand, term, maxDist)
  }

  /** Additive metadata filter (`lang=` / `source=`), checked against a
    * doc's filter fields; it only restricts candidates.
    */
  final case class Filter(lang: Option[String], source: Option[String]) {
    def accepts(m: DocMeta): Boolean =
      (lang.isEmpty || lang.get == m.lang) && (source.isEmpty || source.get == m.source)
  }
  object Filter {
    /** None when neither field is set (no row check at all). */
    def of(lang: Option[String], source: Option[String]): Option[Filter] =
      if (lang.isEmpty && source.isEmpty) None else Some(Filter(lang, source))
  }

  /** The extension families, in the request precedence of `/search`
    * (`phrase=` wins over `prefix=`, …); `q` is the default family.
    */
  val Extensions: Seq[String] = Seq("phrase", "prefix", "fuzzy", "wildcard")

  /** The query that answers nothing (an input its family cannot express). */
  private val Empty: Query = Terms(ParsedQuery(Nil, Nil, isOr = false))

  /** Map a request (family, raw text) to its query. The normalization rules
    * live here only: `q` parses the reference language; a phrase is the
    * tokenized text; a prefix or fuzzy term must tokenize to exactly one
    * token and a wildcard must pass `Glob.normalize`, else the query is
    * `Empty`. Fuzzy requests use distance 1 (see `fuzzy` for others).
    */
  def parse(family: String, raw: String): Query = family match {
    case "q" => Terms(QueryParser.parse(raw))
    case "phrase" => Phrase(Tokenizer.tokenize(raw).toIndexedSeq)
    case "prefix" => singleToken(raw).fold(Empty)(p => Expand(Prefix(p)))
    case "wildcard" => Glob.normalize(raw).fold(Empty)(g => Expand(Wildcard(g)))
    case "fuzzy" => fuzzy(raw, 1)
    case other => throw new IllegalArgumentException(s"unknown query family: $other")
  }

  def fuzzy(raw: String, maxDist: Int): Query =
    singleToken(raw).fold(Empty)(t => Expand(Fuzzy(t, maxDist)))

  private def singleToken(raw: String): Option[String] =
    Tokenizer.tokenize(raw) match {
      case Seq(t) => Some(t)
      case _ => None
    }

  /** The BM25 query a tier scores for `q`; `expand` resolves an expansion
    * against that tier's dictionaries (byte-lex ascending, distinct).
    */
  def scored(q: Query, expand: Expansion => Seq[String]): ParsedQuery = q match {
    case Terms(pq) => pq
    case Phrase(terms) => ParsedQuery(terms, Nil, isOr = false)
    case Expand(e) => ParsedQuery(expand(e), Nil, isOr = true)
  }

  /** The candidate check for WAND's top-k collector, or null when there is
    * nothing to check. A filter reads `docs.meta`; a phrase also needs its
    * terms adjacent in `docs`' text, read only when the filter passes.
    * `docs` is by-name: it is evaluated only when a check runs, so a query
    * with nothing to check never opens a doc store.
    */
  def accept(q: Query, filter: Option[Filter], docs: => DocSidecar.Docs): Long => Boolean = {
    val metaOk: Long => Boolean =
      filter.map(f => (d: Long) => { val m = docs.meta(d); m != null && f.accepts(m) }).orNull
    q match {
      case Phrase(terms) =>
        d => (metaOk == null || metaOk(d)) &&
          docs(d).exists(r => graft.core.Phrase.containsPhrase(r.text, terms))
      case _ => metaOk
    }
  }
}
