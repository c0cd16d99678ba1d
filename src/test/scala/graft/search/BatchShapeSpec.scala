package graft.search

import java.nio.file.Files

import graft.{JobShape, SparkTestBase}
import graft.index.SegmentIndex

/** The batch tier's shape in Spark jobs and shuffle-writing stages: the
  * dictionary pass (skipped when every scored term's df is cached for the
  * index state) and the fan-out, with no exchange; the driver df cache keeps
  * one slot per index dir.
  */
class BatchShapeSpec extends SparkTestBase with JobShape {

  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")

  private def docs(ids: Seq[Long]) =
    docsDF(ids.map(i => i -> (0 until 6).map(j => words(((i * 7 + j * j) % words.size).toInt)).mkString(" ")))

  private def index(buckets: Int): String = {
    val dir = Files.createTempDirectory("graft-batch-shape").toString
    SegmentIndex.build(docs(1L to 400L), dir, buckets)
    dir
  }

  private val queries = Seq("alpha bravo", "charlie OR delta", "echo -golf", "hotel alpha OR foxtrot")

  test("searchBatch: a cold batch runs 2 jobs, a warm one 1, and neither shuffles") {
    val dir = index(buckets = 8)
    val (cold, coldJobs, coldShuffles) = shape(SegmentSearch.searchBatch(spark, dir, queries, 10))
    assert(coldJobs == 2, "cold batch: the dictionary pass and the fan-out")
    assert(coldShuffles.isEmpty, s"shuffle-writing stages: $coldShuffles")
    val (warm, warmJobs, warmShuffles) = shape(SegmentSearch.searchBatch(spark, dir, queries, 10))
    assert(warmJobs == 1, "warm batch: the fan-out only")
    assert(warmShuffles.isEmpty, s"shuffle-writing stages: $warmShuffles")
    assert(warm == cold)
    assert(cold.values.forall(_.nonEmpty))
  }

  test("a cold expansion batch runs 2 jobs; suggestBatch and didYouMeanBatch 1 each; none shuffles") {
    val dir = index(buckets = 8)
    val expand = Seq(Query.parse("prefix", "al"), Query.parse("wildcard", "*o"), Query.parse("fuzzy", "brave"))
    val (hits, jobs, shuffles) = shape(SegmentSearch.evaluate(spark, dir, expand, 10))
    assert(jobs == 2, "the dictionary pass and the fan-out")
    assert(shuffles.isEmpty, s"shuffle-writing stages: $shuffles")
    assert(hits.values.forall(_.nonEmpty))

    val (sugg, sJobs, sShuffles) = shape(SegmentSearch.suggestBatch(spark, dir, "al", 5))
    assert(sugg.map(_._1) == Seq("alpha"))
    assert(sJobs == 1 && sShuffles.isEmpty, s"$sJobs jobs, shuffle-writing stages: $sShuffles")

    val (dym, dJobs, dShuffles) = shape(SegmentSearch.didYouMeanBatch(spark, dir, "brave zzz"))
    assert(dym.map(_._3) == Seq("bravo", "zzz"))
    assert(dJobs == 1 && dShuffles.isEmpty, s"$dJobs jobs, shuffle-writing stages: $dShuffles")
  }

  test("the driver df cache keeps one slot per index dir across index states") {
    val dir = index(buckets = 2)
    val q = Seq("alpha bravo")
    SegmentSearch.searchBatch(spark, dir, q, 10)
    val slots = SegmentSearch.dfCacheSize
    SegmentIndex.addDocuments(docs(401L to 600L), dir, newBuckets = 2)
    val got = SegmentSearch.searchBatch(spark, dir, q, 10)(0)
    assert(SegmentSearch.dfCacheSize == slots, "a second state of one dir added a cache entry")
    // the new state's dfs, not the superseded state's
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.liveSegmentFiles(dir, meta).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    assert(got == SegmentSearch.searchBatchInMemory(segs, meta, q, 10)(0))
  }
}
