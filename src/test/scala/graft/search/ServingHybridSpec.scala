package graft.search

import java.nio.file.Files

import graft.SparkTestBase
import graft.core.ParsedQuery
import graft.index.SegmentIndex
import graft.pipeline.Similarity

/** Serving-tier Phase-11 pieces: the pinned `VecStore` vector leg, the
  * driver-side RRF fusion (`Hybrid.fuseRanksLocal` / `hybridServing`), and
  * the `ServingEngine` fuzzy expansion — each asserted against its
  * distributed twin so all tiers answer the same oracle.
  */
class ServingHybridSpec extends SparkTestBase {

  private def corpus = {
    val sp = spark
    import sp.implicits._
    Seq(
      (0L, "fast scan and merge join paths", "r1", "en"),
      (1L, "hash join with a fast probe", "r1", "en"),
      (2L, "merge join merge join merge", "r2", "de"),
      (3L, "sort sort sort scan", "r2", "en"),
      (4L, "hash hash table build side", "r2", "de"),
      (5L, "a fast hash for a fast scan", "r3", "en")
    ).toDF("doc_id", "text", "source", "lang")
  }

  private def embeddings = {
    val sp = spark
    import sp.implicits._
    Seq(
      (0L, Seq(1.0f, 0.1f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.2f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 0.1f, 1.0f, 0.2f)),
      (3L, Seq(0.1f, 0.0f, 0.9f, 0.3f)),
      (4L, Seq(0.0f, 0.2f, 0.8f, 0.1f)),
      (5L, Seq(0.95f, 0.15f, 0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  private def servingEngine(dir: String): SegmentSearch.ServingEngine = {
    SegmentIndex.build(corpus, dir, buckets = 2)
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    new SegmentSearch.ServingEngine(segs, meta)
  }

  test("VecStore.topK is bit-identical to Similarity.bruteForceTopK") {
    val dir = Files.createTempDirectory("graft-vecstore").toString
    embeddings.coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val vs = VecStore.load(spark, s"$dir/embeddings.parquet")
    assert(vs.size == 6)
    for (q <- 0L to 5L; n <- Seq(1, 3, 5)) {
      val expect = Similarity.bruteForceTopK(embeddings, Seq(q), n)
        .collect().map(r => (r.getLong(2), r.getLong(1))).toSeq
      assert(vs.topK(q, n) == expect, s"query $q n=$n")
    }
    // unknown id -> empty, n beyond corpus -> all others
    assert(vs.topK(99L, 3).isEmpty)
    assert(vs.topK(0L, 100).size == 5)
  }

  test("VecStore.ivfTopK is bit-identical to Similarity.ivfTopK across configs") {
    val sp = spark
    import sp.implicits._
    // larger random corpus so cells are non-trivial and probes actually prune
    val rnd = new scala.util.Random(23)
    val emb = (0L until 60L).map(i =>
      (i, Seq.fill(6)((rnd.nextInt(2001) - 1000) / 1000.0f))).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-vecstore-ivf").toString
    emb.coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val vs = VecStore.load(spark, s"$dir/embeddings.parquet")
    for (nc <- Seq(4, 8); np <- Seq(1, 2, 4); q <- Seq(0L, 7L, 59L)) {
      val expect = Similarity.ivfTopK(emb, Seq(q), k = 5, numCentroids = nc, nprobe = np)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(vs.ivfTopK(q, 5, nc, np) == expect, s"q=$q nc=$nc np=$np")
    }
    assert(vs.ivfTopK(999L, 5, 8, 2).isEmpty)
  }

  test("VecStore.lshTopK is bit-identical to Similarity.lshTopK across configs") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(29)
    val dim = 16
    val emb = (0L until 50L).map(i =>
      (i, Seq.fill(dim)((rnd.nextInt(2001) - 1000) / 1000.0f))).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-vecstore-lsh").toString
    emb.coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val vs = VecStore.load(spark, s"$dir/embeddings.parquet")
    for (nt <- Seq(1, 2); bits <- Seq(3, 4); q <- Seq(0L, 13L, 49L)) {
      val expect = Similarity.lshTopK(emb, Seq(q), k = 5, numTables = nt, bitsPerTable = bits, dim = dim)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(vs.lshTopK(q, 5, nt, bits) == expect, s"q=$q nt=$nt bits=$bits")
    }
    assert(vs.lshTopK(999L, 5, 2, 4).isEmpty)
    // bucket-key packing is (table << bits) | bucket — out-of-range configs
    // that could alias across tables are rejected, not silently wrong
    intercept[IllegalArgumentException](vs.lshTopK(0L, 5, 2, 60))
    intercept[IllegalArgumentException](vs.lshTopK(0L, 5, 0, 4))
  }

  test("roundHalfAwayMicros matches Spark round semantics on signed halves") {
    assert(VecStore.roundHalfAwayMicros(0.0000005) == 1L)
    assert(VecStore.roundHalfAwayMicros(-0.0000005) == -1L)
    assert(VecStore.roundHalfAwayMicros(0.25) == 250000L)
    assert(VecStore.roundHalfAwayMicros(-0.25) == -250000L)
    assert(VecStore.roundHalfAwayMicros(0.0) == 0L)
  }

  test("hybridServing fuses to the same rows as the distributed hybridTopK") {
    val dir = Files.createTempDirectory("graft-serving-hybrid").toString
    val eng = servingEngine(dir)
    embeddings.coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val vs = VecStore.load(spark, s"$dir/embeddings.parquet")

    val dataflowEng = new SearchEngine(graft.index.IndexBuilder.build(corpus).cache())
    for (q <- Seq("fast hash", "merge")) {
      val expect = Hybrid.hybridTopK(dataflowEng, embeddings, q, queryVecId = 0L, k = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      val got = Hybrid.hybridServing(eng, vs, q, queryVecId = 0L, k = 6)
      assert(got == expect, s"query '$q'")
    }
  }

  test("fuseRanksLocal: absent legs contribute 0; order is (rrf desc, id asc)") {
    // doc 10 in both legs, 20 lex-only, 30 vec-only at the same rank as 20
    val got = Hybrid.fuseRanksLocal(
      lex = Seq(10L -> 1L, 20L -> 2L),
      vec = Seq(10L -> 2L, 30L -> 2L),
      k = 10)
    val c = (r: Long) => 1000000L / (60L + r)
    assert(got == Seq(
      (1L, 10L, c(1) + c(2), 1L, 2L),
      (2L, 20L, c(2), 2L, 0L), // ties with 30 on rrf; doc_id asc breaks it
      (3L, 30L, c(2), 0L, 2L)))
  }

  test("ServingEngine.searchFuzzy expands at distance <= 1 and scores OR-mode") {
    val dir = Files.createTempDirectory("graft-serving-fuzzy").toString
    val eng = servingEngine(dir)
    // 'hast' -> {fast, hash}: parity with the explicit OR query
    val got = eng.searchFuzzy("hast", 10)
    val expect = eng.search(ParsedQuery(Seq("fast", "hash"), Nil, isOr = true), 10)
    assert(got == expect)
    // 'hasx' -> {hash} only
    assert(eng.searchFuzzy("hasx", 10) == eng.search(ParsedQuery(Seq("hash"), Nil, isOr = true), 10))
    // no neighborhood / multi-token -> empty
    assert(eng.searchFuzzy("zzzzzz", 10).isEmpty)
    assert(eng.searchFuzzy("two words", 10).isEmpty)
  }
}
