package graft.search

import graft.SparkTestBase
import graft.core.{Glob, ParsedQuery, QueryParser}
import graft.index.IndexBuilder

/** General wildcard queries (`*bar`, `foo*bar`) — the reference's last
  * deferred query feature: glob matcher correctness (exhaustive sweep vs a
  * regex reference), normalization rules, and tier parity (dataflow LIKE
  * pushdown == serving dictionary glob == explicit OR expansion).
  */
class WildcardSpec extends SparkTestBase {

  // ---------------------------------------------------------------- matcher

  test("Glob.matches agrees with a regex reference on an exhaustive small sweep") {
    val alphabet = Seq('a', 'b', '*')
    def strings(len: Int): Seq[String] =
      (0 until math.pow(3, len).toInt).map { n =>
        var x = n
        (0 until len).map { _ => val c = alphabet(x % 3); x /= 3; c }.mkString
      }
    val patterns = (0 to 4).flatMap(strings)
    val words = (0 to 4).flatMap(strings).filterNot(_.contains('*'))
    patterns.foreach { p =>
      val re = ("^" + p.flatMap {
        case '*' => ".*"
        case c => c.toString
      } + "$").r
      words.foreach { w =>
        assert(Glob.matches(p, w) == re.matches(w), s"pattern '$p' vs '$w'")
      }
    }
  }

  test("Glob.normalize: lowercases, collapses stars, rejects non-token chars") {
    assert(Glob.normalize("F*T") == Some("f*t"))
    assert(Glob.normalize(" st**am ") == Some("st*am"))
    assert(Glob.normalize("plain7") == Some("plain7"))
    assert(Glob.normalize("***") == Some("*"))
    assert(Glob.normalize("foo bar*") == None) // space is not a token char
    assert(Glob.normalize("f-o*") == None)
    assert(Glob.normalize("") == None)
    assert(Glob.toLike("f*t") == "f%t")
  }

  // ------------------------------------------------------------- tier parity

  private val docs = Seq(
    (1L, "tiger water winter"), (2L, "water wet term"), (3L, "otter winter water"),
    (4L, "latte term wet"), (5L, "tiger otter"), (6L, "water water winter term")
  )
  // vocab: latte otter term tiger water wet winter

  test("wildcard == explicit OR expansion on both tiers; prefix is the special case") {
    val eng = new SearchEngine(IndexBuilder.build(docsDF(docs)))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(r.fieldIndex("doc_id")), r.getDouble(r.fieldIndex("score"))))
        .sortBy(_._1).toSeq

    // 'w*ter' -> {water, winter}: mid-token star
    val viaGlob = rows(eng.wildcardScoredDF("w*ter"))
    val viaOr = rows(eng.scoredDF(ParsedQuery(Seq("water", "winter"), Nil, isOr = true)))
    assert(viaGlob.nonEmpty && viaGlob == viaOr)

    // '*er' -> {otter, tiger, water, winter}: suffix star
    val suffix = rows(eng.wildcardScoredDF("*er"))
    assert(suffix == rows(eng.scoredDF(ParsedQuery(Seq("otter", "tiger", "water", "winter"), Nil, isOr = true))))

    // prefix special case: 'wat*' == prefixScoredDF("wat")
    assert(rows(eng.wildcardScoredDF("wat*")) == rows(eng.prefixScoredDF("wat")))
    // no star: exact dictionary lookup
    assert(rows(eng.wildcardScoredDF("term")) == rows(eng.scoredDF(ParsedQuery(Seq("term"), Nil, isOr = true))))
    // no match / invalid pattern: empty
    assert(rows(eng.wildcardScoredDF("zz*zz")).isEmpty)
    assert(rows(eng.wildcardScoredDF("two words*")).isEmpty)

    // serving twin over segments: identical hits for every pattern
    val dir = java.nio.file.Files.createTempDirectory("graft-wild").toString
    graft.index.SegmentIndex.build(docsDF(docs), dir, buckets = 3)
    val meta = graft.index.SegmentIndex.readMeta(dir)
    val segs = graft.index.SegmentIndex.liveSegmentFiles(dir, meta)
      .map(graft.index.SegmentIndex.loadSegment(_)).toIndexedSeq
    val serving = new SegmentSearch.ServingEngine(segs, meta)
    Seq("w*ter", "*er", "wat*", "term", "zz*zz").foreach { pat =>
      val sv = serving.searchWildcard(pat, 10).sortBy(_._1)
      val df = rows(eng.wildcardScoredDF(pat)).sortBy(-_._2).take(10).sortBy(_._1)
      assert(sv.map(_._1) == df.map(_._1), s"pattern '$pat' docIds differ")
      sv.zip(df).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) <= 1e-9, s"'$pat'") }
    }

  }

  test("batch tier == serving tier for the expanded family (prefix/wildcard/fuzzy)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wildbatch").toString
    graft.index.SegmentIndex.build(docsDF(docs), dir, buckets = 3)
    val meta = graft.index.SegmentIndex.readMeta(dir)
    val segs = graft.index.SegmentIndex.liveSegmentFiles(dir, meta)
      .map(graft.index.SegmentIndex.loadSegment(_)).toIndexedSeq
    val serving = new SegmentSearch.ServingEngine(segs, meta)
    def batch(family: String, raw: String) =
      SegmentSearch.evaluate(spark, dir, Seq(Query.parse(family, raw)), 10)(0)
    Seq("w*ter", "*er", "zz*zz").foreach { pat =>
      assert(batch("wildcard", pat) == serving.searchWildcard(pat, 10), pat)
    }
    Seq("wat", "t", "zz").foreach { p =>
      assert(batch("prefix", p) == serving.searchPrefix(p, 10), p)
    }
    Seq("watr", "tigr", "qqqq").foreach { t =>
      assert(batch("fuzzy", t) == serving.searchFuzzy(t, 10), t)
    }
    // multi-token / invalid inputs stay empty on the batch tier too
    assert(batch("prefix", "a b").isEmpty)
    assert(batch("wildcard", "a b*").isEmpty)
  }

  test("batch tier on a zero-segment index: empty results, no repartition(0) crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft-emptyidx").toString
    graft.index.SegmentIndex.build(docsDF(Seq.empty), dir, buckets = 2)
    assert(graft.index.SegmentIndex.liveSegmentFiles(dir).isEmpty)
    assert(SegmentSearch.searchBatch(spark, dir, Seq("anything"), 5)(0).isEmpty)
    Seq("prefix" -> "wat", "wildcard" -> "w*t", "fuzzy" -> "watr", "phrase" -> "water term").foreach {
      case (family, raw) =>
        assert(SegmentSearch.evaluate(spark, dir, Seq(Query.parse(family, raw)), 5)(0).isEmpty, family)
    }
    // did-you-mean mirrors the serving tier: every term falls back to itself, df 0
    assert(SegmentSearch.didYouMeanBatch(spark, dir, "alpha beta") ==
      Seq((1L, "alpha", "alpha", 0L), (2L, "beta", "beta", 0L)))
  }

  test("QueryParser untouched: '*' in a plain q= query is a separator, not a wildcard") {
    // the reference tokenizer treats '*' as a separator; wildcard is an
    // ADDITIVE param, never a change to q= semantics
    assert(QueryParser.parse("wat*er").terms == Seq("wat", "er"))
  }

  test("reversed-dictionary leading wildcard: same hits/cap semantics as the forward walk") {
    // r6: `*bar` range-scans a reversed sorted vocab instead of walking
    // every term; this asserts the new path is indistinguishable from the
    // dataflow tier (uncapped), that the cap still takes the byte-lex-FIRST
    // matches (the forward walk's semantics), and that an unanchored `*a*`
    // still answers through the full-walk fallback.
    val eng = new SearchEngine(IndexBuilder.build(docsDF(docs)))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(r.fieldIndex("doc_id")), r.getDouble(r.fieldIndex("score"))))
        .sortBy(_._1).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-wildrev").toString
    graft.index.SegmentIndex.build(docsDF(docs), dir, buckets = 3)
    val meta = graft.index.SegmentIndex.readMeta(dir)
    val segs = graft.index.SegmentIndex.liveSegmentFiles(dir, meta)
      .map(graft.index.SegmentIndex.loadSegment(_)).toIndexedSeq
    val serving = new SegmentSearch.ServingEngine(segs, meta)
    Seq("*er", "*ter", "*a*", "*zzz").foreach { pat =>
      val sv = serving.searchWildcard(pat, 10).sortBy(_._1)
      val df = rows(eng.wildcardScoredDF(pat)).sortBy(-_._2).take(10).sortBy(_._1)
      assert(sv.map(_._1) == df.map(_._1), s"pattern '$pat' docIds differ")
      sv.zip(df).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) <= 1e-9, s"'$pat'") }
    }
    // capped: reversed-path matches must be re-sorted byte-lex before the
    // cap, so maxTerms=1 expands exactly the byte-lex-smallest match —
    // identical to what the forward walk's first match would be
    val capped = serving.searchWildcard("*er", 10, maxTerms = 1)
    val firstMatch = segs.flatMap(_.terms.keysIterator).distinct.sorted
      .filter(t => Glob.matches("*er", t)).head
    assert(capped.nonEmpty)
    assert(capped == serving.searchWildcard(firstMatch, 10))
  }
}
