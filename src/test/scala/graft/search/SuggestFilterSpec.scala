package graft.search

import graft.SparkTestBase
import graft.core.QueryParser
import graft.index.{DocSidecar, IndexBuilder, SegmentIndex}

/** Phase-9/10 extensions: prefix suggestions (autocomplete), metadata
  * filters, synonym expansion — dataflow / segment-batch / serving parity.
  */
class SuggestFilterSpec extends SparkTestBase {

  private def metaDocs = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, "scan scan sort merge", "r1", "en"),
      (2L, "scan merge join", "r1", "de"),
      (3L, "sort sort sort scan", "r2", "en"),
      (4L, "merge join filter", "r2", "en"),
      (5L, "scan sort merge join", "r2", "de")
    ).toDF("doc_id", "text", "source", "lang")
  }

  test("suggestDF: global df desc, term asc, truncation, degenerate input") {
    val eng = new SearchEngine(IndexBuilder.build(metaDocs).cache())
    val got = eng.suggestDF("s", 10).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // dfs: scan=4, sort=3; ties none — order by df desc then term asc
    assert(got == Seq("scan" -> 4L, "sort" -> 3L))
    assert(eng.suggestDF("s", 1).collect().map(_.getString(0)).toSeq == Seq("scan"))
    assert(eng.suggestDF("zz", 5).collect().isEmpty)
    assert(eng.suggestDF("a b", 5).collect().isEmpty) // multi-token: not a prefix
  }

  test("suggest: serving and distributed batch agree with the dataflow tier") {
    val dir = java.nio.file.Files.createTempDirectory("graft-suggest").toString
    SegmentIndex.build(metaDocs, dir, buckets = 2)
    val expect = Seq("scan" -> 4L, "sort" -> 3L)

    assert(SegmentSearch.suggestBatch(spark, dir, "s", 10) == expect)

    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    val engine = new SegmentSearch.ServingEngine(segs, meta)
    assert(engine.suggest("s", 10) == expect)
    assert(engine.suggest("s", 1) == expect.take(1))
    assert(engine.suggest("zz", 10).isEmpty)
  }

  test("filteredScoredDF: restricts candidates, leaves scores unchanged") {
    val eng = new SearchEngine(IndexBuilder.build(metaDocs).cache())
    val unfiltered = eng.scoredDF("scan merge").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(unfiltered.keySet == Set(1L, 2L, 5L))

    val en = eng.filteredScoredDF("scan merge", lang = Some("en")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(en.keySet == Set(1L)) // docs 2 and 5 are 'de'
    assert(en(1L) == unfiltered(1L)) // the filter never re-weights

    val bySource = eng.filteredScoredDF("scan merge", source = Some("r2")).collect()
      .map(_.getLong(0)).toSet
    assert(bySource == Set(5L))
    val both = eng.filteredScoredDF("scan merge", lang = Some("de"), source = Some("r1"))
      .collect().map(_.getLong(0)).toSet
    assert(both == Set(2L))
  }

  test("filtered search: serving early-exit and distributed batch match dataflow") {
    val dir = java.nio.file.Files.createTempDirectory("graft-filter").toString
    SegmentIndex.build(metaDocs, dir, buckets = 2)
    val eng = new SearchEngine(IndexBuilder.build(metaDocs).cache())
    val expect = graft.core.Bm25.sortHits(
      eng.filteredScoredDF("scan merge", lang = Some("en")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toIndexedSeq)

    val batch = SegmentSearch.evaluate(
      spark, dir, Seq(Query.parse("q", "scan merge")), 10, Query.Filter.of(Some("en"), None))(0)
    assert(batch == expect)

    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    val serving = new SegmentSearch.ServingEngine(segs, meta)
    val store = DocSidecar.openStore(dir).get
    try {
      val got = serving.searchFiltered(
        QueryParser.parse("scan merge"), 10, id => store.get(id).exists(_.lang == "en"))
      assert(got == expect)
      // filter-before-truncation: k=1 of the filtered set, not a filtered top-1
      val top1 = serving.searchFiltered(
        QueryParser.parse("scan merge"), 1, id => store.get(id).exists(_.lang == "en"))
      assert(top1 == expect.take(1))
      // maxVerify caps the checked candidates (never-matching predicate)
      assert(serving.searchFiltered(
        QueryParser.parse("scan merge"), 10, _ => false, maxVerify = 2).isEmpty)
    } finally store.close()
  }

  test("synonymScoredDF: OR within a group, AND across groups, uniform score") {
    val eng = new SearchEngine(IndexBuilder.build(metaDocs).cache())
    val syn = Map("scan" -> Seq("sort"), "merge" -> Seq("join"))
    val got = eng.synonymScoredDF("scan merge", syn).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // candidates: (scan|sort) AND (merge|join) -> docs 1,2,4? doc4 has
    // merge+join but neither scan nor sort -> excluded; doc3 has scan+sort
    // but no merge/join -> excluded
    assert(got.keySet == Set(1L, 2L, 5L))
    // score = uniform-weight OR score over the expanded terms actually matched
    val or = eng.scoredDF("scan OR sort merge join").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) => assert(math.abs(s - or(id)) < 1e-12) }
    // no table entry -> plain AND semantics on the original terms
    val plain = eng.synonymScoredDF("scan merge", Map.empty).collect()
      .map(_.getLong(0)).toSet
    assert(plain == eng.scoredDF("scan merge").collect().map(_.getLong(0)).toSet)
    // NOT terms are not expanded and still exclude
    val notted = eng.synonymScoredDF("scan merge -filter", syn).collect()
      .map(_.getLong(0)).toSet
    assert(notted == Set(1L, 2L, 5L)) // doc 4 already excluded; 'filter' only in 4
  }
}
