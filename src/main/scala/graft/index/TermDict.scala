package graft.index

import graft.index.SegmentIndex.LoadedSegment

/** A term dictionary in byte-lex order over one or more segments: the
  * in-memory form of the segment footer, whose terms the writer emits
  * byte-lex ascending. Index terms are ASCII (`Tokenizer`), so UTF-8 byte
  * order is `String` order and the footer's order is kept as loaded.
  *
  * The one place the deferred query families read the vocabulary, on both
  * query tiers: the batch tier expands against each executor-side
  * segment's own dictionary (`LoadedSegment.dict`), the serving tier
  * against one dictionary per generation merged from its segments'
  * (`TermDict.of`). `terms` holds the segments' own `String` instances.
  */
final class TermDict private (val terms: Array[String], segments: IndexedSeq[LoadedSegment]) {

  /** df of `t` over this dictionary's segments (see `TermDict.df`). */
  def df(t: String): Long = TermDict.df(segments, t)

  // every term reversed, sorted: a `*bar` pattern becomes a range of `rab`.
  // Built on the first leading-`*` request only; one extra String per term.
  private lazy val reversed: Array[String] = {
    val arr = terms.map(_.reverse)
    java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
    arr
  }

  /** The terms `p` matches, byte-lex ascending, the first `maxTerms` of
    * them. A literal lead is a binary search plus a walk of its range; a
    * leading `*` with a literal tail walks the tail's range of the reversed
    * dictionary and re-sorts the (small) match set, so a cap keeps the same
    * terms a forward walk would; an unanchored pattern walks every term.
    */
  def expand(p: TermDict.Pattern, maxTerms: Int): Seq[String] =
    if (p.lead.nonEmpty || p.tail.isEmpty)
      TermDict.range(terms, p.lead).filter(p.matches).take(maxTerms).toSeq
    else
      TermDict.range(reversed, p.tail.reverse).map(_.reverse).filter(p.matches)
        .toSeq.sorted.take(maxTerms)
}

object TermDict {

  /** A dictionary match rule with its literal anchors: every match starts
    * with `lead` and ends with `tail` ("" = no anchor).
    */
  trait Pattern {
    def lead: String = ""
    def tail: String = ""
    def matches(term: String): Boolean
  }

  /** Global df of `t`: the sum of the segments' LOCAL dfs (the Lucene
    * sharding model that lets segments be appended without rewriting the
    * old ones). The only place this sum is written.
    */
  def df(segments: Iterable[LoadedSegment], t: String): Long = {
    var s = 0L
    segments.foreach(seg => seg.terms.get(t).foreach(s += _.df))
    s
  }

  /** The dictionary of `segments`: their sorted footers merged pairwise,
    * equal terms kept once — O(V log S), no hashing, no re-sort.
    */
  def of(segments: IndexedSeq[LoadedSegment]): TermDict = {
    var level = segments.map(_.sortedTerms)
    while (level.size > 1) level = level.grouped(2).map(g => if (g.size == 1) g.head else union(g(0), g(1))).toIndexedSeq
    new TermDict(level.headOption.getOrElse(Array.empty[String]), segments)
  }

  private def union(a: Array[String], b: Array[String]): Array[String] = {
    val out = new Array[String](a.length + b.length)
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      out(n) = if (c <= 0) a(i) else b(j)
      if (c <= 0) i += 1
      if (c >= 0) j += 1
      n += 1
    }
    System.arraycopy(a, i, out, n, a.length - i)
    n += a.length - i
    System.arraycopy(b, j, out, n, b.length - j)
    n += b.length - j
    java.util.Arrays.copyOf(out, n)
  }

  /** The terms of sorted `arr` that start with `p`, ascending. */
  private def range(arr: Array[String], p: String): Iterator[String] = {
    val at = java.util.Arrays.binarySearch(arr.asInstanceOf[Array[AnyRef]], p)
    Iterator.range(if (at < 0) -at - 1 else at, arr.length).map(arr(_)).takeWhile(_.startsWith(p))
  }
}
