package graft.search

import graft.SparkTestBase
import graft.core.ParsedQuery
import graft.index.{SegmentIndex, TermDict}

/** `TermDict`, the one dictionary both tiers expand against: the footer's
  * order as loaded, range bounds at the ends of the dictionary, a
  * leading-`*` pattern whose matches sit in different segments, a term
  * shared by every segment, and a prefix cap taken across all segments.
  */
class TermDictSpec extends SparkTestBase {

  // three buckets of three docs each; `row` is in every bucket, the `s*`
  // and `*ow` matches are spread over different buckets
  private val docs = Seq(
    1L -> "row snow shop baker", 2L -> "row rows rover", 3L -> "row snow",
    4L -> "row sand flow", 5L -> "row sand rox", 6L -> "row flow",
    7L -> "row salt zulu", 8L -> "row salt glow", 9L -> "row zulu")
  private val vocab =
    Seq("baker", "flow", "glow", "rover", "row", "rows", "rox", "salt", "sand", "shop", "snow", "zulu")

  private lazy val (dir, meta, segs) = {
    val d = java.nio.file.Files.createTempDirectory("graft-termdict").toString
    SegmentIndex.build(docsDF(docs), d, buckets = 3)
    val m = SegmentIndex.readMeta(d)
    (d, m, SegmentIndex.liveSegmentFiles(d, m).map(SegmentIndex.loadSegment(_)).toIndexedSeq)
  }
  private def holders(t: String): Seq[Int] = segs.filter(_.terms.contains(t)).map(_.bucket)

  test("segment dictionaries keep the footer's byte-lex order, sharing the map's strings") {
    assert(segs.size == 3)
    segs.foreach { seg =>
      val keys = seg.terms.keysIterator.toSeq.sorted
      assert(seg.sortedTerms.toSeq == keys)
      assert(seg.sortedTerms.zip(keys).forall { case (a, b) => a eq b }, "not the map's instances")
    }
    assert(TermDict.of(segs).terms.toSeq == vocab)
  }

  test("expand: range bounds at both ends, whole-term prefixes, leading-* across segments") {
    val dict = TermDict.of(segs)
    def prefix(p: String) = dict.expand(Query.Prefix(p), Int.MaxValue)
    assert(prefix("row") == Seq("row", "rows")) // a whole term and a prefix of another
    assert(prefix("a").isEmpty)                  // sorts before the first term
    assert(prefix("b") == Seq("baker"))          // sorts before the first term and matches it
    assert(prefix("zulu") == Seq("zulu"))        // the last term
    assert(prefix("zz").isEmpty)                 // sorts after the last term
    assert(prefix("") == vocab)

    // the `*ow` matches are spread over the buckets; `row` is in all three
    assert(Seq("flow", "glow", "snow").map(holders).distinct.size == 3)
    assert(holders("row").size == 3)
    assert(dict.expand(Query.Wildcard("*ow"), Int.MaxValue) == Seq("flow", "glow", "row", "snow"))
    assert(dict.expand(Query.Wildcard("*ow"), 2) == Seq("flow", "glow"))
    assert(dict.expand(Query.Wildcard("r*w"), Int.MaxValue) == Seq("row"))
    assert(dict.expand(Query.Wildcard("*o*"), Int.MaxValue) == vocab.filter(_.contains('o')))
    assert(dict.expand(Query.Fuzzy("rowz", 1), Int.MaxValue) == Seq("row", "rows"))
    // one segment's dictionary sees its own terms and local dfs only
    val first = segs.find(_.terms.contains("snow")).get.dict
    assert(first.expand(Query.Prefix("s"), Int.MaxValue) == Seq("shop", "snow"))
    assert(first.df("row") == 3L && dict.df("row") == 9L)
  }

  test("serving and batch: a term in every segment comes back once; the prefix cap is global") {
    val eng = new SegmentSearch.ServingEngine(segs, meta)
    assert(eng.suggest("row", 10) == Seq("row" -> 9L, "rows" -> 1L))
    assert(SegmentSearch.suggestBatch(spark, dir, "row", 10) == Seq("row" -> 9L, "rows" -> 1L))

    // `s*` matches salt, sand (other buckets) and shop, snow (one bucket):
    // a cap of 2 keeps the byte-lex-first two of the whole dictionary
    assert(Seq("salt", "sand", "shop").map(holders).distinct.size == 3)
    val capped = eng.searchPrefix("s", 10, maxTerms = 2)
    assert(capped.nonEmpty)
    assert(capped == eng.search(ParsedQuery(Seq("salt", "sand"), Nil, isOr = true), 10))
    assert(capped != eng.searchPrefix("s", 10))

    val orOfMatches = eng.search(ParsedQuery(Seq("flow", "glow", "row", "snow"), Nil, isOr = true), 10)
    assert(eng.searchWildcard("*ow", 10) == orOfMatches)
    assert(SegmentSearch.evaluate(spark, dir, Seq(Query.parse("wildcard", "*ow")), 10)(0) == orOfMatches)
  }

  test("a segment whose footer is not strictly ascending fails the load") {
    val src = java.nio.file.Paths.get(SegmentIndex.liveSegmentFiles(dir, meta).head)
    val bytes = java.nio.file.Files.readAllBytes(src)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val dictOffset = buf.getLong(bytes.length - 8).toInt
    buf.position(dictOffset)
    val n = buf.getInt
    val entries = (0 until n).map { _ =>
      val start = buf.position()
      buf.position(start + 2 + (buf.getShort(start) & 0xffff) + 8 + 8 + 4)
      java.util.Arrays.copyOfRange(bytes, start, buf.position())
    }
    // the same entries, last first
    val out = new java.io.ByteArrayOutputStream()
    out.write(bytes, 0, dictOffset + 4)
    entries.reverse.foreach(e => out.write(e))
    out.write(bytes, bytes.length - 8, 8)
    val bad = java.nio.file.Files.createTempDirectory("graft-termdict-bad").resolve(src.getFileName)
    java.nio.file.Files.write(bad, out.toByteArray)
    val e = intercept[IllegalArgumentException](SegmentIndex.loadSegment(bad.toString))
    assert(e.getMessage.contains("not strictly ascending"))
  }
}
