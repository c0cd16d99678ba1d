package graft.search

import graft.SparkTestBase
import graft.core.{Phrase, Tokenizer}
import graft.index.{IndexBuilder, SegmentIndex}

class PhraseSpec extends SparkTestBase {

  private def terms(s: String) = Tokenizer.tokenize(s).toIndexedSeq

  test("containsPhrase: adjacency over the reference token stream") {
    assert(Phrase.containsPhrase("stream table hash join", terms("stream table hash")))
    assert(Phrase.containsPhrase("x stream table hash", terms("stream table hash")))
    assert(Phrase.containsPhrase("stream table hash", terms("stream table hash")))
    // separators and case are the tokenizer's business, not the matcher's
    assert(Phrase.containsPhrase("Stream-Table\tHASH!", terms("stream table hash")))
    // present but not adjacent
    assert(!Phrase.containsPhrase("stream x table hash", terms("stream table hash")))
    assert(!Phrase.containsPhrase("table hash stream", terms("stream table hash")))
    // token-boundary discipline: substrings of longer tokens do not match
    assert(!Phrase.containsPhrase("streams table hash", terms("stream table hash")))
    assert(!Phrase.containsPhrase("stream tablehash", terms("stream table hash")))
  }

  test("containsPhrase: repeated-prefix phrases need no restart logic") {
    assert(Phrase.containsPhrase("a a a b", terms("a a b")))
    assert(Phrase.containsPhrase("a c a b", terms("a b")))
    assert(!Phrase.containsPhrase("a c b", terms("a b")))
    assert(Phrase.containsPhrase("a a", terms("a a")))
    assert(!Phrase.containsPhrase("a b a", terms("a a")))
  }

  test("containsPhrase: degenerate inputs") {
    assert(!Phrase.containsPhrase("anything", Vector.empty))
    assert(!Phrase.containsPhrase(null, terms("a")))
    assert(!Phrase.containsPhrase("", terms("a")))
    assert(!Phrase.containsPhrase("a b", terms("a b c"))) // phrase longer than doc
    assert(Phrase.containsPhrase("solo", terms("solo"))) // single-term phrase
  }

  test("containsPhrase: seeded differential against the token-list definition") {
    // the definition the matcher must equal, token list and all
    def reference(text: String, ts: IndexedSeq[String]): Boolean =
      Tokenizer.tokenize(text).sliding(ts.length).contains(ts)
    val rnd = new scala.util.Random(31)
    val words = Vector("a", "b", "ab", "ba", "Ab", "B", "x1", "X1")
    val seps = Vector(" ", "  ", "-", "\t", ".", "é", "日本", "\u00e9A")
    def text(): String = (0 until rnd.nextInt(12)).map { _ =>
      (if (rnd.nextInt(6) == 0) "" else words(rnd.nextInt(words.size))) + seps(rnd.nextInt(seps.size))
    }.mkString
    var matched = 0
    for (_ <- 0 until 4000) {
      val t = text()
      val phrase: IndexedSeq[String] =
        if (rnd.nextInt(10) == 0) Vector("a", "", "b").take(1 + rnd.nextInt(3)) // an empty token never matches
        else if (rnd.nextBoolean()) {
          // a window of the text's own token stream, so matches are common
          val toks = Tokenizer.tokenize(t).toIndexedSeq
          if (toks.isEmpty) Vector("a")
          else { val m = 1 + rnd.nextInt(math.min(3, toks.size)); val at = rnd.nextInt(toks.size - m + 1); toks.slice(at, at + m) }
        } else Vector.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.size)).toLowerCase)
      val want = reference(t, phrase)
      if (want) matched += 1
      assert(Phrase.containsPhrase(t, phrase) == want, s"text='$t' phrase=$phrase")
    }
    assert(matched > 1000, s"only $matched matching cases")
    assert(Phrase.containsPhrase("a a a b", terms("a a b")) == reference("a a a b", terms("a a b")))
  }

  test("phraseScoredDF: filters AND candidates to adjacent ones, score parity") {
    val eng = new SearchEngine(IndexBuilder.build(docsDF(Seq(
      1L -> "alpha bravo charlie", // adjacent
      2L -> "bravo alpha x charlie", // all terms, not adjacent
      3L -> "alpha bravo", // missing charlie
      4L -> "alpha bravo charlie alpha" // adjacent with extra occurrence
    ))).cache())
    val got = eng.phraseScoredDF("alpha bravo charlie").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 4L))
    // the phrase only filters: score == AND score of the same terms
    val andScores = eng.scoredDF("alpha bravo charlie").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) => assert(s == andScores(id)) }
  }

  test("searchPhraseWithSnippets: ranked, decorated, phrase-filtered") {
    val eng = new SearchEngine(IndexBuilder.build(docsDF(Seq(
      1L -> "alpha bravo charlie tail words here",
      2L -> "bravo alpha x charlie",
      3L -> "alpha bravo charlie and more alpha"
    ))).cache())
    val hits = eng.searchPhraseWithSnippets("alpha bravo charlie", k = 10)
    assert(hits.map(_.docId).toSet == Set(1L, 3L))
    // ranked: scores descending under the epsilon rule
    assert(hits.sliding(2).forall {
      case Seq(a, b) => a.score >= b.score - 1e-9
      case _ => true
    })
    assert(hits.forall(_.snippet.contains("alpha")))
  }

  test("phraseBatch: distributed segment phrase matches the serving-tier phrase") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "red green blue end", "r", "en"),
      (2L, "green red x blue", "r", "en"),
      (3L, "red green only", "r", "en"),
      (4L, "start red green blue", "r", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-phrase-batch").toString
    SegmentIndex.build(docs, dir, buckets = 2)

    val got = SegmentSearch.evaluate(spark, dir,
      Seq("red green blue", "green red", "zzz").map(Query.parse("phrase", _)), 10)
    assert(got(0).map(_._1).toSet == Set(1L, 4L))
    assert(got(1).map(_._1) == Seq(2L))
    assert(got(2).isEmpty)

    // parity with the in-memory serving phrase path (same segments + sidecar)
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    val engine = new SegmentSearch.ServingEngine(segs, meta)
    val store = graft.index.DocSidecar.openStore(dir).get
    try {
      val serving = engine.searchPhrase("red green blue", 10, id => store.get(id).map(_.text))
      assert(got(0) == serving)
    } finally store.close()
  }

  test("facetCounts: per (lang, source) counts over the FULL AND match set") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "alpha bravo", "r1", "en"),
      (2L, "alpha bravo", "r1", "de"),
      (3L, "alpha only", "r2", "en"), // not in the AND set
      (4L, "alpha bravo more", "r2", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val eng = new SearchEngine(IndexBuilder.build(docs).cache())
    val got = eng.facetCounts("alpha bravo").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("en", "r1") -> 1L, ("de", "r1") -> 1L, ("en", "r2") -> 1L))
  }

  test("prefixScoredDF: dictionary expansion, OR semantics, empty prefix") {
    val eng = new SearchEngine(IndexBuilder.build(docsDF(Seq(
      1L -> "scan sort",
      2L -> "scan merge",
      3L -> "merge join"
    ))).cache())
    val got = eng.prefixScoredDF("s").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L)) // scan/sort match 's%'; doc 3 has neither
    assert(eng.prefixScoredDF("zz").collect().isEmpty)
    // multi-token input is not a prefix — defined empty
    assert(eng.prefixScoredDF("a b").collect().isEmpty)
    // prefix scoring = OR scoring over the expanded terms (byte-lex order)
    val or = eng.scoredDF("scan OR sort").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pf = eng.prefixScoredDF("s").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pf == or)
  }
}
