package graft.core

/** Phrase-adjacency matcher — an EXTENSION beyond the reference engine.
  *
  * Phrase / proximity queries are an explicit deferred non-goal of the
  * reference's ranking phase
  * (/root/reference/specs/phase3_ranking_query_engine.md:66 — "Phrase
  * queries, proximity, or wildcard/fuzzy matching (deferred to a later
  * phase)"). This module delivers that later phase for the Spark engine
  * WITHOUT changing the reference-exact query language: phrase search is a
  * separate entry point (`SearchEngine.phraseScoredDF`), never reachable
  * from `QueryParser.parse`, so every reference query keeps its pinned
  * semantics.
  *
  * Matching semantics: a document matches the phrase iff its reference token
  * stream (`Tokenizer.tokenize` — the same anchor used at index time)
  * contains the phrase's token sequence consecutively. Separator bytes
  * between the tokens are irrelevant ("stream-table HASH!" matches
  * "stream table hash"); token boundaries are exactly the tokenizer's.
  *
  * The scan is single-pass over the text with a circular window of the last
  * m tokens' (start, end) offsets, compared char by char against the phrase
  * (ASCII-lowered, as the tokenizer lowers): no token string is built, so
  * verifying a candidate is O(len(text)) time, O(m) space and allocates only
  * the two m-slot offset arrays regardless of document size.
  */
object Phrase extends Serializable {

  /** True iff `terms` (already tokenizer-normalized, non-empty) occur
    * consecutively in `text`'s token stream.
    */
  def containsPhrase(text: String, terms: IndexedSeq[String]): Boolean = {
    val m = terms.length
    if (m == 0 || text == null) return false
    val starts = new Array[Int](m) // circular buffer of the last m tokens
    val ends = new Array[Int](m)
    var seen = 0 // tokens emitted so far

    // Compare the window [seen-m, seen) against the phrase; called when a
    // token ends. Overlapping / repeated-prefix phrases ("a a b" in
    // "a a a b") need no restart logic — every window position is checked.
    def windowMatches(): Boolean = {
      var j = 0
      while (j < m) {
        val slot = (seen - m + j) % m
        if (!tokenIs(text, starts(slot), ends(slot), terms(j))) return false
        j += 1
      }
      true
    }

    var start = -1 // start of the token being read; -1 between tokens
    var i = 0
    val n = text.length
    while (i <= n) {
      if (i < n && Tokenizer.isAsciiAlnum(text.charAt(i))) {
        if (start < 0) start = i
      } else if (start >= 0) {
        starts(seen % m) = start
        ends(seen % m) = i
        seen += 1
        start = -1
        if (seen >= m && windowMatches()) return true
      }
      i += 1
    }
    false
  }

  /** `text[start, end)` lowered equals `term`. */
  private def tokenIs(text: String, start: Int, end: Int, term: String): Boolean = {
    if (end - start != term.length) return false
    var x = 0
    while (x < term.length) {
      if (Tokenizer.asciiLower(text.charAt(start + x)) != term.charAt(x)) return false
      x += 1
    }
    true
  }
}
