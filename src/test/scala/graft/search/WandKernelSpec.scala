package graft.search

import java.nio.file.Files

import graft.{KernelCorpus, SparkTestBase, TestSweep}
import graft.app.SearchServer
import graft.core.{Bm25, ParsedQuery, QueryParser, RefEngine}
import graft.index.{BlockCodec, DocSidecar, IndexBuilder, SegmentIndex}
import graft.index.SegmentIndex.LoadedSegment

/** Seeded differential of the scoring kernel (`Wand.searchSegment`) at real
  * block sizes, on both codecs, through both tiers: the serving evaluator
  * and the batch `searchBatch`, against `RefEngine` (rank-identical, scores
  * within 1e-9) and against an exact enumeration that sums each doc's parts
  * in query order (bit-identical: the summation-order contract). Corpora
  * and queries come from `KernelCorpus`, the generator `SoakMain` uses.
  */
class WandKernelSpec extends SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graft-kernel").toString

  /** Every matching doc of `pq` in `segs` with its score summed the way the
    * contract pins: `0.0 + w1·p1 + w2·p2 + …` over the distinct terms in
    * query order, each part `Bm25.termPart` of the posting's (tf, dl).
    */
  private def exact(segs: Seq[LoadedSegment], pq: ParsedQuery, idfs: Map[String, Double], avgdl: Double)
      : IndexedSeq[(Long, Double)] = {
    val distinct = pq.terms.distinct
    val weight = pq.terms.groupMapReduce(identity)(_ => 1.0)(_ + _)
    segs.flatMap { seg =>
      val parts = distinct.map { t =>
        seg.postings(t).map(p => p.docId -> Bm25.termPart(p.tf, idfs.getOrElse(t, 0.0),
          Bm25.norm(p.dl.toDouble, avgdl))).toMap
      }
      val excluded = pq.notTerms.flatMap(t => seg.postings(t).map(_.docId)).toSet
      val docs =
        if (distinct.isEmpty) Nil
        else if (pq.isOr) parts.flatMap(_.keys).distinct
        else if (distinct.forall(seg.terms.contains)) parts.map(_.keySet).reduce(_ intersect _).toSeq
        else Nil
      docs.filterNot(excluded).map { d =>
        var s = 0.0
        distinct.indices.foreach(i => parts(i).get(d).foreach(p => s += weight(distinct(i)) * p))
        d -> s
      }
    }.toIndexedSeq
  }

  /** Runs the differential; returns the windows skipped and split by the
    * sequential reversed-θ passes (deterministic, unlike the parallel tiers).
    */
  private def check(shape: KernelCorpus.Shape, codec: String, seed: Long): (Long, Long) = {
    var skipped = 0L
    var split = 0L
    val rnd = new scala.util.Random(seed)
    val c = KernelCorpus.corpus(shape, rnd)
    val queries = KernelCorpus.queries(c, rnd, 10).distinct
    val dir = tmp()
    try {
      SegmentIndex.build(docsDF(c.docs), dir, buckets = 2, codec = codec)
      val meta = SegmentIndex.readMeta(dir)
      val segs = SegmentIndex.liveSegmentFiles(dir, meta).map(SegmentIndex.loadSegment(_)).toIndexedSeq
      if (shape != KernelCorpus.Small)
        assert(segs.exists(_.terms.values.exists(_.blocks.length > 1)), s"$shape: no multi-block list")
      val engine = new SegmentSearch.ServingEngine(segs, meta)
      val ref = new RefEngine
      c.docs.foreach { case (id, t) => ref.addDocument(id, t) }

      for (k <- KernelCorpus.Ks) {
        val batch = SegmentSearch.searchBatch(spark, dir, queries, k)
        for ((q, qi) <- queries.zipWithIndex) {
          val ctx = s"$shape/$codec seed=$seed q='$q' k=$k"
          val pq = QueryParser.parse(q)
          val idfs = SegmentSearch.globalIdfs(segs, meta.n, pq.terms)
          val want = Bm25.sortHits(exact(segs, pq, idfs, meta.avgdl)).take(k)
          val refK = ref.searchScored(q).take(k)
          assert(want.map(_._1) == refK.map(_._1), s"$ctx: exact enumeration vs RefEngine")
          want.zip(refK).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9, ctx) }

          val serving = engine.evaluate(Query.parse("q", q), k, DocSidecar.Docs.empty)
          assert(serving == want, s"$ctx: serving")
          assert(batch(qi) == want, s"$ctx: batch")
          // the shared threshold's worst order: later segments publish θ
          // first, so the earliest segment starts with θ = kth - 1e-9 of a
          // tie group it also holds (Zipf "hot OR": its window bound equals
          // that score, and only the `<=` skip rule keeps the window)
          val shared = new Wand.SharedTheta
          val (skipped0, split0) = (Wand.windowsSkipped.sum, Wand.windowsSplit.sum)
          val rev = segs.reverse.flatMap(s => Wand.searchSegment(s, pq, idfs, meta.avgdl, k, shared))
          skipped += Wand.windowsSkipped.sum - skipped0
          split += Wand.windowsSplit.sum - split0
          assert(Bm25.sortHits(rev.map(h => (h.docId, h.score))).take(k) == want, s"$ctx: reversed shared θ")
        }
      }
      (skipped, split)
    } finally TestSweep.rmrf(dir)
  }

  test("kernel differential: dense and Zipf shapes, varint and PFOR, serving and batch vs RefEngine") {
    val dense = Seq(check(KernelCorpus.Dense, BlockCodec.CodecVarint, 11),
      check(KernelCorpus.Dense, BlockCodec.CodecPfor, 12))
    val zipf = Seq(check(KernelCorpus.Zipf, BlockCodec.CodecVarint, 13),
      check(KernelCorpus.Zipf, BlockCodec.CodecPfor, 14))
    info(s"windows (skipped, split) per codec: dense $dense, zipf $zipf")
    assert(zipf.forall(_._1 > 0), "the Zipf shape must skip whole windows")
    assert(zipf.forall(_._2 > 0), "the Zipf shape must run windows with non-essential cursors")
  }

  test("serving idf cache: distinct absent terms never enter it, answers unchanged") {
    val rnd = new scala.util.Random(5)
    val c = KernelCorpus.corpus(KernelCorpus.Small, rnd)
    val dir = tmp()
    try {
      SegmentIndex.build(docsDF(c.docs), dir, buckets = 2)
      val meta = SegmentIndex.readMeta(dir)
      val engine = new SegmentSearch.ServingEngine(
        SegmentIndex.liveSegmentFiles(dir, meta).map(SegmentIndex.loadSegment(_)).toIndexedSeq, meta)
      val present = c.vocab.head
      val or = engine.search(s"$present OR", 10)
      assert(or.nonEmpty)
      val size = engine.idfCacheSize
      for (i <- 0 until 10000) {
        assert(engine.evaluate(Query.parse("q", s"absent$i"), 10, DocSidecar.Docs.empty).isEmpty)
        if (i % 1000 == 0) {
          assert(engine.search(s"$present absent$i", 10).isEmpty)
          assert(engine.search(s"$present OR absent$i", 10) == or)
        }
      }
      assert(engine.idfCacheSize == size, "absent terms must not be cached")
    } finally TestSweep.rmrf(dir)
  }

  test("impacts across generations: carried segments flip the memo, every answer stays exact") {
    val rnd = new scala.util.Random(21)
    val all = KernelCorpus.corpus(KernelCorpus.Zipf, rnd)
    val (base, delta) = all.docs.splitAt(all.docs.size * 3 / 4)
    val queries = KernelCorpus.queries(all, rnd, 6).distinct
    val k = 10
    val dir = tmp()

    // the dataflow oracle over one generation's docs
    def oracle(docs: Seq[(Long, String)]): Seq[Seq[(Long, Double)]] = {
      val eng = new SearchEngine(IndexBuilder.build(docsDF(docs)))
      queries.map(eng.searchScored(_).take(k))
    }
    def answers(s: SearchServer.IndexState): Seq[Seq[(Long, Double)]] = queries.map(s.engine.search(_, k))
    def fresh(): Seq[Seq[(Long, Double)]] = {
      val s = SearchServer.loadState(dir)
      try answers(s) finally s.release()
    }
    def near(got: Seq[Seq[(Long, Double)]], want: Seq[Seq[(Long, Double)]], gen: String): Unit =
      queries.indices.foreach { i =>
        assert(got(i).map(_._1) == want(i).map(_._1), s"$gen q='${queries(i)}': ranks vs the dataflow oracle")
        got(i).zip(want(i)).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9, gen) }
      }
    // queries alternate between the two generations, so the carried
    // segments' memos flip at every step
    def interleave(a: SearchServer.IndexState, wantA: Seq[Seq[(Long, Double)]],
        b: SearchServer.IndexState, wantB: Seq[Seq[(Long, Double)]]): Unit =
      for (round <- 0 until 2; i <- queries.indices) {
        assert(a.engine.search(queries(i), k) == wantA(i), s"old generation, round $round, q='${queries(i)}'")
        assert(b.engine.search(queries(i), k) == wantB(i), s"new generation, round $round, q='${queries(i)}'")
      }

    try {
      SegmentIndex.build(docsDF(base), dir, buckets = 2)
      val gen1 = SearchServer.loadState(dir)
      val want1 = fresh()
      near(want1, oracle(base), "generation 1")

      SegmentIndex.addDocuments(docsDF(delta), dir, newBuckets = 2)
      val gen2 = SearchServer.loadState(dir, Some(gen1))
      assert(gen2.engine.meta.avgdl != gen1.engine.meta.avgdl, "the add must change avgdl")
      val want2 = fresh()
      val oracle2 = oracle(all.docs)
      near(want2, oracle2, "generation 2")
      interleave(gen1, want1, gen2, want2)

      SegmentIndex.compactBuckets(spark, dir, Seq(2, 3))
      val gen3 = SearchServer.loadState(dir, Some(gen2))
      assert(gen3.engine.segments.count(s => gen2.engine.segments.exists(_ eq s)) == 2,
        "compaction carries the base segments")
      val want3 = fresh()
      near(want3, oracle2, "generation 3 (compacted)")
      interleave(gen2, want2, gen3, want3)
      Seq(gen1, gen2, gen3).foreach(_.release())
    } finally TestSweep.rmrf(dir)
  }
}
