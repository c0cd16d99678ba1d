package graft.search

import graft.SparkTestBase
import graft.core.{Bm25, QueryParser}
import graft.index.SegmentIndex

/** Regression spec for the r6 block-max WAND tie-drop fix: when every query
  * cursor is parked on the SAME doc and the pivot lands mid-prefix with the
  * prefix block-UB sum <= theta, the round-5 skip branch forced the window
  * past the post-pivot safety cap (`d = arr(0).curDoc + 1`) and dropped the
  * doc — even the segment's top scorer — despite its full bound (including
  * the post-pivot cursors on the same doc) exceeding theta. Reproduced by
  * replica corpora (large exact-score tie groups) in RoundTripSoak.
  *
  * The spec replays that shape deterministically: a replicated corpus where
  * every base doc exists in many copies with identical scores, multi-term
  * OR queries, k << tie-group size. Exactness contract: searchSegment(k)
  * must contain the full enumeration's top-k (rank fully, truncate last).
  */
class WandTieSpec extends SparkTestBase {

  private val words = Seq("order", "sort", "query", "scan", "merge", "table", "row",
    "hash", "join", "filter", "group", "window", "batch", "stream", "value", "data")

  // The trigger needs theta to land in the narrow window
  // (blockUb(prefix), termUb(prefix)]: a Zipf-ish vocabulary with VARYING
  // document lengths (dl variance opens the blockUb/termUb gap) and
  // hundreds of near-tied scores. 400 base docs, each later replicated 16x,
  // seeded.
  private lazy val bases: IndexedSeq[(Long, String)] = {
    val rnd = new scala.util.Random(1234)
    def baseText(i: Long): String = {
      val len = 8 + rnd.nextInt(50)
      (0 until len).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    }
    (0L until 400L).map(i => i -> baseText(i))
  }

  private lazy val queries: Seq[String] = {
    val qrnd = new scala.util.Random(42)
    (0 until 40).map { _ =>
      val a = words(qrnd.nextInt(words.size))
      val b = words(qrnd.nextInt(words.size))
      val c = words(qrnd.nextInt(words.size))
      s"$a OR $b $c"
    }.distinct
  }

  /** Base `i`'s replica `rep` as doc `id(i, rep)`. */
  private def replicated(id: (Long, Long) => Long): Seq[(Long, String)] =
    for {
      rep <- 0L until 16L
      (i, t) <- bases
    } yield (id(i, rep), t + s" uq${id(i, rep) % 997}")

  /** Exact reference: full enumeration, rank fully, truncate last. */
  private def fullRankTop(segs: Seq[SegmentIndex.LoadedSegment], meta: SegmentIndex.Meta, q: String, k: Int) = {
    val pq = QueryParser.parse(q)
    val idfs = SegmentSearch.globalIdfs(segs, meta.n, pq.terms)
    val full = segs.flatMap(seg => Wand.searchSegment(seg, pq, idfs, meta.avgdl, Int.MaxValue))
    Bm25.sortHits(full.map(h => (h.docId, h.score))).take(k)
  }

  test("k-bounded OR search returns the exact top-k under massive equal-score tie groups") {
    val docs = replicated((i, rep) => rep * 1000000L + i)

    val dir = java.nio.file.Files.createTempDirectory("graft-wandtie").toString
    SegmentIndex.build(docsDF(docs), dir, buckets = 4)
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.liveSegmentFiles(dir, meta)
      .map(SegmentIndex.loadSegment(_)).toIndexedSeq

    queries.foreach { q =>
      val pq = QueryParser.parse(q)
      val idfs = SegmentSearch.globalIdfs(segs, meta.n, pq.terms)
      val expect = fullRankTop(segs, meta, q, 10)

      // per-segment k=10 + the same merge the batch tiers run
      val bounded = segs.flatMap(seg => Wand.searchSegment(seg, pq, idfs, meta.avgdl, 10))
      val got = Bm25.sortHits(bounded.map(h => (h.docId, h.score))).take(10)
      assert(got == expect, s"query '$q': k-bounded top-10 != full-rank top-10")

      // and the in-memory batch entry point (shared theta, parallel segments)
      val mem = SegmentSearch.searchBatchInMemory(segs, meta, Seq(q), 10)(0)
      assert(mem == expect, s"query '$q': searchBatchInMemory != full-rank top-10")
    }
  }

  test("the distributed batch is exact when one task holds several segments and ties straddle k") {
    // ids i * 16 + rep keep a replica group (16 equal scores) inside one
    // segment, so a task's own top-k cuts through tie groups. The fan-out
    // runs at most 4 x defaultParallelism tasks: 6 x as many segments (24 on
    // local[4]) put two in many tasks whatever master the suite runs on.
    val docs = replicated((i, rep) => i * 16L + rep)
    val dir = java.nio.file.Files.createTempDirectory("graft-wandtie-batch").toString
    SegmentIndex.build(docsDF(docs), dir, buckets = 6 * spark.sparkContext.defaultParallelism)
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.liveSegmentFiles(dir, meta).map(SegmentIndex.loadSegment(_)).toIndexedSeq

    val batch = SegmentSearch.searchBatch(spark, dir, queries, 10)
    queries.zipWithIndex.foreach { case (q, i) =>
      assert(batch(i) == fullRankTop(segs, meta, q, 10), s"query '$q': searchBatch != full-rank top-10")
    }
  }
}
