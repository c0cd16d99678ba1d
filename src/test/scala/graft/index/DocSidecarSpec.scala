package graft.index

import java.nio.file.Files

import graft.SparkTestBase

/** The serving-tier doc sidecar: dictionary-only pinning, positional-read
  * correctness against the docstore parquet, LRU behavior, and maintenance
  * across addDocuments.
  */
class DocSidecarSpec extends SparkTestBase {

  private def tmpDir(): String = Files.createTempDirectory("graft-sidecar").toString

  private def metaDocs(rows: Seq[(Long, String, String, String)]) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text", "source", "lang")
  }

  test("ensure + openStore: every docstore row readable by positional get; misses are None") {
    val docs = metaDocs((1L to 60L).map(i =>
      (i, s"alpha tok${i % 7} body$i " + ("filler " * 20), s"repo${i % 3}", "en")))
    val dir = tmpDir()
    SegmentIndex.build(docs, dir, buckets = 3)
    assert(DocSidecar.openStore(dir).isEmpty, "no sidecars before ensure")

    val written = DocSidecar.ensure(spark, dir)
    assert(written.sorted == Seq(0, 1, 2))
    assert(DocSidecar.ensure(spark, dir).isEmpty, "ensure is idempotent")

    val store = DocSidecar.openStore(dir).get
    try {
      val expected = spark.read.parquet(s"$dir/docstore")
        .select("doc_id", "text", "source", "lang").collect()
        .map(r => r.getLong(0) -> DocSidecar.DocRow(r.getString(1), r.getString(2), r.getString(3)))
        .toMap
      assert(store.nDocs == 60L)
      expected.foreach { case (id, row) =>
        assert(store.get(id).contains(row), s"doc $id mismatch")
      }
      assert(store.get(0L).isEmpty && store.get(999L).isEmpty)
      // the whole point: pinned bytes are dictionary-sized, not text-sized
      val textBytes = expected.valuesIterator.map(_.text.length.toLong).sum
      assert(store.pinnedBytes == 60L * 24)
      assert(store.pinnedBytes < textBytes)
    } finally store.close()
  }

  test("meta: every doc's filter fields come from the pinned copy, equal pairs shared; misses are null") {
    val docs = metaDocs((1L to 60L).map(i =>
      (i, s"alpha body$i " + ("filler " * 20), s"repo${i % 3}", if (i % 4 == 0) "de" else "en")))
    val dir = tmpDir()
    SegmentIndex.build(docs, dir, buckets = 3)
    DocSidecar.ensure(spark, dir)
    val store = DocSidecar.openStore(dir).get
    try {
      (1L to 60L).foreach { i =>
        assert(store.meta(i) == store.get(i).get.meta, s"doc $i")
        assert(store.meta(i) == DocSidecar.DocMeta(s"repo${i % 3}", if (i % 4 == 0) "de" else "en"))
      }
      // 60 docs, 6 distinct (source, lang) pairs: one instance per pair and bucket
      assert((1L to 60L).map(i => System.identityHashCode(store.meta(i))).distinct.size <= 6 * 3)
      assert(store.meta(0L) == null && store.meta(999L) == null)
    } finally store.close()
  }

  test("LRU stripes: a contiguous id range spreads over every stripe, not by low bits") {
    // each stripe's LinkedHashMap bins by the id's low bits too: a stripe
    // whose ids are all congruent mod 16 would use 1/16 of its bins
    val byStripe = (1L to 4096L).groupBy(DocSidecar.stripeOf)
    assert(byStripe.keySet == (0 until 16).toSet)
    byStripe.foreach { case (stripe, ids) =>
      assert(ids.size >= 128 && ids.size <= 512, s"stripe $stripe holds ${ids.size} ids")
      assert(ids.map(_ % 16).distinct.size > 1, s"stripe $stripe: ids all congruent mod 16")
    }
  }

  test("LRU: a tiny byte cap still serves correct rows (evictions re-read from disk)") {
    val docs = metaDocs((1L to 40L).map(i => (i, s"text payload number $i padded ${"x" * 50}", "s", "en")))
    val dir = tmpDir()
    SegmentIndex.build(docs, dir, buckets = 2)
    DocSidecar.ensure(spark, dir)
    val store = DocSidecar.openStore(dir, cacheCapBytes = 300).get // ~2 rows fit
    try {
      // two passes in opposite orders: every read correct despite churn
      (1L to 40L).foreach(i => assert(store.get(i).exists(_.text.contains(s"number $i "))
        || store.get(i).exists(_.text.endsWith(s"number $i padded ${"x" * 50}"))))
      (40L to 1L by -1).foreach(i => assert(store.get(i).isDefined))
    } finally store.close()
  }

  test("readers open ONLY the committed generation's sidecars (orphans ignored)") {
    val docs = metaDocs((1L to 20L).map(i => (i, s"alpha body$i", "r0", "en")))
    val dir = tmpDir()
    SegmentIndex.build(docs, dir, buckets = 2)
    DocSidecar.ensure(spark, dir)
    // a crashed add / dead pre-compaction bucket leaves a docs-*.bin dropping
    // that is NOT in the committed live set; junk bytes prove it is never
    // even opened (openBucket would throw on the bad magic)
    Files.write(DocSidecar.sidecarPath(dir, 99), Array[Byte](1, 2, 3))
    val meta = SegmentIndex.readMeta(dir)
    assert(DocSidecar.sidecarFiles(dir).size == 3)
    assert(DocSidecar.liveSidecarFiles(dir, meta).size == 2)
    val store = DocSidecar.openStore(dir).get
    try {
      assert(store.nDocs == 20L)
      (1L to 20L).foreach(i => assert(store.get(i).exists(_.text == s"alpha body$i")))
    } finally store.close()
    Files.deleteIfExists(DocSidecar.sidecarPath(dir, 99))
  }

  test("addDocuments maintains sidecars for delta buckets on a serving index") {
    val base = metaDocs((1L to 30L).map(i => (i, s"alpha tok${i % 5}", "r0", "en")))
    val delta = metaDocs((31L to 45L).map(i => (i, s"bravo tok${i % 5}", "r1", "de")))
    val dir = tmpDir()
    SegmentIndex.build(base, dir, buckets = 2)
    DocSidecar.ensure(spark, dir) // marks the index as serving
    SegmentIndex.addDocuments(delta, dir, newBuckets = 2)
    // delta buckets 2..3 got sidecars WITHOUT another ensure call
    assert(DocSidecar.sidecarFiles(dir).size == 4)
    val store = DocSidecar.openStore(dir).get
    try {
      assert(store.nDocs == 45L)
      assert(store.get(40L).contains(DocSidecar.DocRow(s"bravo tok0", "r1", "de")))
      assert(store.get(15L).contains(DocSidecar.DocRow(s"alpha tok0", "r0", "en")))
    } finally store.close()
  }

  test("non-serving index skips sidecar maintenance; docstore rebuild drops stale sidecars") {
    val base = metaDocs((1L to 20L).map(i => (i, s"alpha tok$i", "r", "en")))
    val dir = tmpDir()
    SegmentIndex.build(base, dir, buckets = 2)
    SegmentIndex.addDocuments(metaDocs(Seq((21L, "bravo", "r", "en"))), dir, newBuckets = 1)
    assert(DocSidecar.sidecarFiles(dir).isEmpty, "no sidecars unless the index serves")

    DocSidecar.ensure(spark, dir)
    assert(DocSidecar.sidecarFiles(dir).size == 3)
    // a fresh full rebuild invalidates derived sidecars
    val docs2 = metaDocs((1L to 20L).map(i => (i, s"charlie tok$i", "r", "en")))
    SegmentIndex.build(docs2, dir, buckets = 2)
    assert(DocSidecar.sidecarFiles(dir).isEmpty, "stale sidecars must not survive a rebuild")
  }
}
