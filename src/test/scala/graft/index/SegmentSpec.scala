package graft.index

import java.nio.file.{Files, Paths}
import scala.util.Random

import graft.SparkTestBase
import graft.core.{GoldenFixture, RefEngine}
import graft.search.{SegmentSearch, Wand}
import graft.core.Bm25

class BlockCodecSpec extends org.scalatest.funsuite.AnyFunSuite {
  import BlockCodec._

  test("varint round-trip") {
    val values = Seq(0L, 1L, 127L, 128L, 300L, 16383L, 16384L, Int.MaxValue.toLong, Long.MaxValue / 2)
    val buf = new java.io.ByteArrayOutputStream()
    values.foreach(writeVarLong(buf, _))
    val r = new ByteReader(buf.toByteArray)
    values.foreach(v => assert(r.readVarLong() == v))
  }

  test("block round-trip with multi-block lists and bound metadata") {
    val rnd = new Random(11)
    var doc = 0L
    val postings = (1 to 1000).map { _ =>
      doc += 1 + rnd.nextInt(50)
      Posting(doc, 1 + rnd.nextInt(9), 1 + rnd.nextInt(200))
    }
    val blocks = encode(postings)
    assert(blocks.length == math.ceil(1000.0 / BlockSize).toInt)
    // the build's zero-allocation columnar encoder is byte-identical
    val colBlocks = encodeColumnar(
      postings.map(_.docId).toArray, postings.map(_.tf).toArray, postings.map(_.dl).toArray,
      postings.size)
    assert(colBlocks.size == blocks.size)
    blocks.zip(colBlocks).foreach { case (a, b) =>
      assert((a.minDoc, a.maxDoc, a.count, a.maxTf, a.minDlOverTf) ==
        ((b.minDoc, b.maxDoc, b.count, b.maxTf, b.minDlOverTf)))
      assert(java.util.Arrays.equals(a.bytes, b.bytes))
    }
    val decoded = blocks.flatMap(decode(_))
    assert(decoded == postings)
    blocks.foreach { b =>
      val inBlock = postings.filter(p => p.docId >= b.minDoc && p.docId <= b.maxDoc)
      assert(b.maxTf == inBlock.map(_.tf).max)
      assert(b.minDlOverTf == inBlock.map(p => p.dl.toDouble / p.tf).min)
      assert(b.count == inBlock.size)
      // the bound dominates every posting's exact score for arbitrary stats
      for (avgdl <- Seq(0.0, 1.0, 37.5, 1e6); idf <- Seq(0.3, 2.0)) {
        val bound = graft.core.Bm25.partBound(b.maxTf, b.minDlOverTf, idf, avgdl)
        inBlock.foreach { p =>
          val s = graft.core.Bm25.termPart(p.tf, idf, graft.core.Bm25.norm(p.dl.toDouble, avgdl))
          assert(s <= bound + 1e-12, s"posting $p score $s > bound $bound @avgdl=$avgdl")
        }
      }
    }
  }

  test("pfor-delta round-trip: random lists, outliers patched, metadata identical, deterministic, denser") {
    val rnd = new Random(23)
    // typical lists (small gaps) + adversarial ones (huge docId jumps and
    // rare huge tf/dl outliers that must become patch exceptions)
    val corpora: Seq[IndexedSeq[Posting]] = (0 until 20).map { c =>
      var doc = rnd.nextInt(1000).toLong
      val n = 1 + rnd.nextInt(400)
      (0 until n).map { _ =>
        doc += (if (rnd.nextInt(50) == 0) 1L + rnd.nextInt(1 << 28) else 1L + rnd.nextInt(40))
        val tf = if (rnd.nextInt(60) == 0) 1 + rnd.nextInt(100000) else 1 + rnd.nextInt(9)
        val dl = if (rnd.nextInt(60) == 0) 1 + rnd.nextInt(5000000) else tf + rnd.nextInt(300)
        Posting(doc, tf, math.max(tf, dl))
      }.toIndexedSeq
    } :+ IndexedSeq(Posting(0L, 1, 1)) :+ IndexedSeq(Posting(Long.MaxValue / 4, 3, 7))
    corpora.foreach { postings =>
      val ids = postings.map(_.docId).toArray
      val tfs = postings.map(_.tf).toArray
      val dls = postings.map(_.dl).toArray
      val varint = encodeColumnar(ids, tfs, dls, postings.size)
      val pfor = encodeColumnarPfor(ids, tfs, dls, postings.size)
      // identical grouping + block metadata (block-max WAND sees no difference)
      assert(pfor.size == varint.size)
      pfor.zip(varint).foreach { case (p, v) =>
        assert((p.minDoc, p.maxDoc, p.count, p.maxTf, p.minDlOverTf) ==
          ((v.minDoc, v.maxDoc, v.count, v.maxTf, v.minDlOverTf)))
        assert(p.pfor && !v.pfor)
      }
      // exact round-trip through the dispatching decoder
      assert(pfor.flatMap(decode(_)) == postings)
      val d = pfor.map(decodePrimitive(_))
      assert(d.flatMap(_.docIds) == postings.map(_.docId))
      assert(d.flatMap(_.tfs) == postings.map(_.tf))
      assert(d.flatMap(_.dls) == postings.map(_.dl))
      // deterministic bytes
      val again = encodeColumnarPfor(ids, tfs, dls, postings.size)
      pfor.zip(again).foreach { case (a, b) => assert(java.util.Arrays.equals(a.bytes, b.bytes)) }
    }
    // on the TYPICAL shape (small deltas/tf/dl — real posting lists), the
    // bit-packed bytes must beat varint's 1-byte-per-field floor
    val rnd2 = new Random(7)
    var doc = 0L
    val typical = (1 to 2000).map { _ =>
      doc += 1 + rnd2.nextInt(50)
      Posting(doc, 1 + rnd2.nextInt(9), 1 + rnd2.nextInt(200))
    }
    val vB = encodeColumnar(typical.map(_.docId).toArray, typical.map(_.tf).toArray,
      typical.map(_.dl).toArray, typical.size).map(_.bytes.length.toLong).sum
    val pB = encodeColumnarPfor(typical.map(_.docId).toArray, typical.map(_.tf).toArray,
      typical.map(_.dl).toArray, typical.size).map(_.bytes.length.toLong).sum
    assert(pB < vB, s"pfor $pB bytes should beat varint $vB bytes on small-value lists")
  }

  // Pins the block byte layout: both codecs' bytes over PforMicro's seeded
  // corpus (seed 20260822, 2,000 lists x 1,000 postings) hash to committed
  // digests, so layout drift fails here instead of in segment files.
  private lazy val microCorpus = graft.bench.PforMicro.corpus(nLists = 2000, perList = 1000, seed = 20260822L)

  test("golden digest: encodeColumnarPfor bytes over the PforMicro corpus") {
    assert(graft.bench.PforMicro.digest(microCorpus, pfor = true) == "bbcc3c03a30fa3bc")
  }

  test("golden digest: encodeColumnar (varint) bytes over the PforMicro corpus") {
    assert(graft.bench.PforMicro.digest(microCorpus, pfor = false) == "663e28ad68959402")
  }
}

class SegmentSpec extends SparkTestBase {

  private def tmpDir(): String = Files.createTempDirectory("graft-seg").toString

  private def buildTiny(docs: Seq[(Long, String)], buckets: Int = 3): (String, Seq[SegmentIndex.Manifest]) = {
    val dir = tmpDir()
    val manifests = SegmentIndex.build(docsDF(docs), dir, buckets)
    (dir, manifests)
  }

  test("segment save -> load: rank/score parity with RefEngine (golden fixture corpora)") {
    for (c <- GoldenFixture.all) {
      val (dir, _) = buildTiny(c.documents, buckets = 2)
      val meta = SegmentIndex.readMeta(dir)
      val segs = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_))
      val got = SegmentSearch.searchBatchInMemory(segs, meta, Seq(c.query), k = 50)(0)
      assert(got.map(_._1) == c.expected.map(_._1), s"case ${c.name}: got=$got exp=${c.expected}")
      got.zip(c.expected).foreach { case ((_, s), (_, e)) => assert(math.abs(s - e) < 1e-9) }
      // the serving engine (cached idfs + shared theta) hits the fixture too
      val served = new SegmentSearch.ServingEngine(segs.toIndexedSeq, meta).search(c.query, 50)
      assert(served.map(_._1) == c.expected.map(_._1), s"case ${c.name} (served): $served")
    }
  }

  test("manifests carry metrics + lineage; meta has stats") {
    val docs = (1L to 40L).map(i => i -> s"alpha bravo token$i charlie")
    val (dir, manifests) = buildTiny(docs, buckets = 4)
    assert(manifests.nonEmpty)
    assert(manifests.map(_.nDocs).sum == 40L)
    assert(manifests.forall(m => m.bytes > 0 && m.fileSha256.length == 64))
    val meta = SegmentIndex.readMeta(dir)
    assert(meta.n == 40L && meta.avgdl > 0 && meta.schemaVersion == SegmentIndex.SchemaVersion)
    assert(meta.sumDl > 0 && meta.avgdl == meta.sumDl.toDouble / meta.n)
    // manifest json files exist per bucket
    manifests.foreach { m =>
      assert(Files.exists(Paths.get(dir, f"manifest-${m.bucket}%05d.json")))
    }
  }

  test("resume: deleting one segment rebuilds ONLY that bucket; others skipped; bytes identical") {
    val docs = (1L to 60L).map(i => i -> s"alpha bravo token${i % 7} delta echo")
    val (dir, m1) = buildTiny(docs, buckets = 4)
    val victim = m1.head.bucket
    val segPath = Paths.get(dir, f"segment-$victim%05d.bin")
    val shaBefore = m1.map(m => m.bucket -> m.fileSha256).toMap
    Files.delete(segPath)
    Files.delete(Paths.get(dir, f"manifest-$victim%05d.json"))

    val m2 = SegmentIndex.build(docsDF(docs), dir, 4)
    val rebuilt = m2.find(_.bucket == victim).get
    assert(!rebuilt.skipped, "victim bucket must be rewritten")
    m2.filter(_.bucket != victim).foreach(m => assert(m.skipped, s"bucket ${m.bucket} should be skipped"))
    // deterministic build: rebuilt file is byte-identical (same sha)
    m2.foreach(m => assert(m.fileSha256 == shaBefore(m.bucket)))
  }

  test("build is deterministic: two builds from scratch produce identical file hashes") {
    val docs = (1L to 50L).map(i => i -> s"foo bar baz${i % 5} qux quux corge")
    val (dirA, mA) = buildTiny(docs, buckets = 3)
    val (dirB, mB) = buildTiny(docs, buckets = 3)
    assert(mA.map(m => m.bucket -> m.fileSha256).toMap == mB.map(m => m.bucket -> m.fileSha256).toMap)
    assert(mA.map(m => m.bucket -> m.lineageXor).toMap == mB.map(m => m.bucket -> m.lineageXor).toMap)
  }

  test("pfor codec end-to-end: search parity, deterministic rebuilds, adds inherit codec, codec switch rebuilds") {
    val docs = (1L to 80L).map(i => i -> s"alpha bravo${i % 7} charlie delta${i % 3} echo foxtrot golf${i % 11}")
    val queries = Seq("alpha charlie", "bravo1 OR delta2", "echo -golf3", "alpha bravo2 delta1")

    val (dirV, _) = buildTiny(docs, buckets = 3)
    val dirP = tmpDir()
    val mP = SegmentIndex.build(docsDF(docs), dirP, 3, codec = BlockCodec.CodecPfor)
    assert(SegmentIndex.readMeta(dirP).codec == BlockCodec.CodecPfor)
    assert(mP.forall(_.formatVersion == SegmentIndex.FormatVersionPfor))

    // identical answers from both codecs (same scores, same ranks)
    val a = SegmentSearch.searchBatch(spark, dirV, queries, 10)
    val b = SegmentSearch.searchBatch(spark, dirP, queries, 10)
    assert(a == b, s"varint=$a pfor=$b")

    // pfor builds are byte-identically deterministic too
    val dirP2 = tmpDir()
    val mP2 = SegmentIndex.build(docsDF(docs), dirP2, 3, codec = BlockCodec.CodecPfor)
    assert(mP.map(m => m.bucket -> m.fileSha256).toMap == mP2.map(m => m.bucket -> m.fileSha256).toMap)

    // and denser on disk than varint for the same corpus
    val bytesV = SegmentIndex.segmentFiles(dirV).map(f => Files.size(Paths.get(f))).sum
    val bytesP = SegmentIndex.segmentFiles(dirP).map(f => Files.size(Paths.get(f))).sum
    assert(bytesP < bytesV, s"pfor $bytesP >= varint $bytesV")

    // addDocuments INHERITS the index codec (meta.codec), keeping add-parity
    val delta = (81L to 100L).map(i => i -> s"alpha hotel india${i % 4} charlie")
    val mAdd = SegmentIndex.addDocuments(docsDF(delta), dirP, 1)
    assert(mAdd.forall(_.formatVersion == SegmentIndex.FormatVersionPfor))
    assert(SegmentIndex.readMeta(dirP).codec == BlockCodec.CodecPfor)
    val full = tmpDir()
    SegmentIndex.build(docsDF(docs ++ delta), full, 4, codec = BlockCodec.CodecPfor)
    val qa = SegmentSearch.searchBatch(spark, dirP, queries :+ "alpha india2", 10)
    val qb = SegmentSearch.searchBatch(spark, full, queries :+ "alpha india2", 10)
    assert(qa == qb)

    // building the SAME dir under the other codec must invalidate and
    // rebuild, never reuse the other codec's segments
    SegmentIndex.build(docsDF(docs), dirP2, 3) // varint over a pfor dir
    assert(SegmentIndex.readMeta(dirP2).codec == BlockCodec.CodecVarint)
    val c = SegmentSearch.searchBatch(spark, dirP2, queries, 10)
    assert(c == a)
  }

  test("committed-generation reads: orphan bucket files from a crashed add are never loaded") {
    val docs = (1L to 30L).map(i => i -> s"alpha bravo${i % 5} charlie")
    val (dir, _) = buildTiny(docs, buckets = 2)
    val baseline = SegmentSearch.searchBatch(spark, dir, Seq("alpha charlie", "bravo1"), 10)
    // a crashed addDocuments leaves bucket files >= meta.buckets; they are
    // NOT part of the committed index — loading this garbage would throw
    Files.write(Paths.get(dir, "segment-00099.bin"), Array[Byte](1, 2, 3, 4))
    Files.writeString(Paths.get(dir, "manifest-00099.json"), "{}")
    assert(SegmentIndex.liveSegmentFiles(dir).size == 2)
    val after = SegmentSearch.searchBatch(spark, dir, Seq("alpha charlie", "bravo1"), 10)
    assert(after == baseline)
  }

  test("compactBuckets: folds delta buckets in place — results, stats, adds, snapshot all survive") {
    val base = (1L to 40L).map(i => i -> s"alpha bravo${i % 7} charlie delta${i % 3}")
    val d1 = (41L to 50L).map(i => i -> s"alpha echo${i % 4} charlie")
    val d2 = (51L to 60L).map(i => i -> s"bravo1 echo${i % 4} foxtrot")
    val queries = Seq("alpha charlie", "bravo1 OR echo2", "charlie -delta1", "foxtrot")

    val dir = tmpDir()
    SegmentIndex.build(docsDF(base), dir, 2)
    graft.index.DocSidecar.ensure(spark, dir) // serving index: sidecars must follow compaction
    SegmentIndex.addDocuments(docsDF(d1), dir, 1)
    SegmentIndex.addDocuments(docsDF(d2), dir, 1)
    val before = SegmentSearch.searchBatch(spark, dir, queries, 10)
    val metaBefore = SegmentIndex.readMeta(dir)
    assert(metaBefore.buckets == 4)

    // fold the two delta buckets into one; base buckets untouched
    val m = SegmentIndex.compactBuckets(spark, dir, Seq(2, 3))
    assert(m.bucket == 4 && m.nDocs == 20)
    val meta = SegmentIndex.readMeta(dir)
    assert(meta.buckets == 5 && meta.live.contains(Seq(0, 1, 4)), meta)
    assert((meta.n, meta.sumDl) == ((metaBefore.n, metaBefore.sumDl)))
    assert(SegmentIndex.segmentFiles(dir).size == 3, "dead bucket files must be swept")
    assert(Files.exists(Paths.get(graft.index.DocSidecar.sidecarPath(dir, 4).toString)))
    assert(!Files.exists(Paths.get(graft.index.DocSidecar.sidecarPath(dir, 2).toString)))

    // identical answers (df = sum of local dfs is merge-invariant)
    val after = SegmentSearch.searchBatch(spark, dir, queries, 10)
    assert(after == before)
    // snippet decoration still exact over the rewritten docstore
    val hits = SegmentSearch.searchWithSnippets(spark, dir, "alpha charlie", 5)
    assert(hits.nonEmpty && hits.forall(_.snippet.nonEmpty))

    // adds keep working at the moved offset and parity with a full rebuild holds
    val d3 = (61L to 70L).map(i => i -> s"alpha golf${i % 3} charlie")
    SegmentIndex.addDocuments(docsDF(d3), dir, 1)
    val meta2 = SegmentIndex.readMeta(dir)
    assert(meta2.buckets == 6 && meta2.live.contains(Seq(0, 1, 4, 5)), meta2)
    val full = tmpDir()
    SegmentIndex.build(docsDF(base ++ d1 ++ d2 ++ d3), full, 3)
    val qs2 = queries :+ "golf1 alpha"
    assert(SegmentSearch.searchBatch(spark, dir, qs2, 10) ==
      SegmentSearch.searchBatch(spark, full, qs2, 10))

    // crash window: a dead file resurrected after commit is ignored, then swept
    Files.write(Paths.get(dir, "segment-00002.bin"), Array[Byte](9, 9))
    assert(SegmentSearch.searchBatch(spark, dir, queries, 10) == SegmentSearch.searchBatch(spark, full, queries, 10))
    SegmentIndex.sweepDead(spark, dir)
    assert(!Files.exists(Paths.get(dir, "segment-00002.bin")))

    // the live set flows through snapshot/restore and full compaction
    val snap = tmpName()
    assert(graft.app.SnapshotJob.run(Array("snapshot", dir, snap)) == 0)
    val restored = tmpName()
    assert(graft.app.SnapshotJob.run(Array("restore", snap, restored)) == 0)
    assert(SegmentSearch.searchBatch(spark, restored, qs2, 10) ==
      SegmentSearch.searchBatch(spark, dir, qs2, 10))
    val recompacted = tmpDir()
    SegmentIndex.compact(spark, dir, recompacted, 2)
    assert(SegmentSearch.searchBatch(spark, recompacted, qs2, 10) ==
      SegmentSearch.searchBatch(spark, dir, qs2, 10))

    // guards: non-live picks and trivial picks fail loudly
    intercept[IllegalArgumentException](SegmentIndex.compactBuckets(spark, dir, Seq(2, 3)))
    intercept[IllegalArgumentException](SegmentIndex.compactBuckets(spark, dir, Seq(0)))
  }

  test("compactBuckets: legacy manifests (pre-sumDl, field reads 0) fold with that leg skipped") {
    val base = (1L to 30L).map(i => i -> s"alpha bravo${i % 5} charlie")
    val dir = tmpDir()
    SegmentIndex.build(docsDF(base), dir, 3)
    val before = SegmentSearch.searchBatch(spark, dir, Seq("alpha charlie", "bravo2"), 10)
    // simulate manifests written before the sumDl field existed: it
    // deserializes as the default 0 — the fold must not report corruption
    (0 until 3).foreach { b =>
      val m = SegmentIndex.readManifest(dir, b).get
      SegmentIndex.writeManifest(dir, m.copy(sumDl = 0L))
    }
    val merged = SegmentIndex.compactBuckets(spark, dir, Seq(1, 2))
    assert(merged.nDocs == 20 && merged.sumDl > 0L, merged) // fresh manifest carries the real total
    assert(SegmentSearch.searchBatch(spark, dir, Seq("alpha charlie", "bravo2"), 10) == before)

    // MIXED picks (one legacy, one current — an old index after a new add):
    // the sumDl leg must also stand down, not report corruption
    val dir2 = tmpDir()
    SegmentIndex.build(docsDF(base), dir2, 3)
    val m1 = SegmentIndex.readManifest(dir2, 1).get
    SegmentIndex.writeManifest(dir2, m1.copy(sumDl = 0L))
    val merged2 = SegmentIndex.compactBuckets(spark, dir2, Seq(1, 2))
    assert(merged2.nDocs == 20 && merged2.sumDl > 0L, merged2)
    assert(SegmentSearch.searchBatch(spark, dir2, Seq("alpha charlie", "bravo2"), 10) == before)
  }

  private def tmpName(): String = {
    val p = Files.createTempDirectory("graft-seg-snap")
    Files.delete(p)
    p.toString
  }

  test("property: WAND over segments rank/score-identical to RefEngine (random corpora+queries)") {
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel", "india", "x9")
    val rnd = new Random(1234)
    for (trial <- 1 to 6) {
      val nDocs = 5 + rnd.nextInt(40)
      val docs = (1L to nDocs.toLong).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val (dir, _) = buildTiny(docs, buckets = 3)
      val meta = SegmentIndex.readMeta(dir)
      val segs = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_))
      val ref = new RefEngine
      docs.foreach { case (id, t) => ref.addDocument(id, t) }
      val queries = Seq(
        "alpha", "alpha bravo", "alpha bravo charlie", "alpha OR bravo",
        "delta echo OR foxtrot", "alpha -bravo", "golf hotel -india",
        "alpha alpha bravo", "x9", "zzz", "x9 OR zzz", "-alpha")
      for ((q, qi) <- queries.zipWithIndex) {
        val exp = ref.searchScored(q)
        for (k <- Seq(3, 10, 1000)) {
          val got = SegmentSearch.searchBatchInMemory(segs, meta, Seq(q), k)(0)
          val expK = exp.take(k)
          assert(got.map(_._1) == expK.map(_._1), s"trial=$trial q='$q' k=$k got=$got exp=$expK")
          got.zip(expK).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
        }
      }
    }
  }

  test("incremental addDocuments: search parity with a full rebuild of base+delta") {
    val rnd = new Random(77)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "rare9")
    val all = (1L to 70L).map { id =>
      id -> Seq.fill(2 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val (base, delta) = all.splitAt(50)

    // incremental: build base, then append delta as new segments
    val dirInc = tmpDir()
    SegmentIndex.build(docsDF(base), dirInc, buckets = 3)
    val addManifests = SegmentIndex.addDocuments(docsDF(delta), dirInc, newBuckets = 2)
    assert(addManifests.nonEmpty && addManifests.forall(_.bucket >= 3))

    // full rebuild of the union
    val dirFull = tmpDir()
    SegmentIndex.build(docsDF(all), dirFull, buckets = 5)

    val mInc = SegmentIndex.readMeta(dirInc)
    val mFull = SegmentIndex.readMeta(dirFull)
    assert(mInc.n == mFull.n && mInc.sumDl == mFull.sumDl && mInc.avgdl == mFull.avgdl)
    assert(mInc.buckets == 5)

    val segsInc = SegmentIndex.segmentFiles(dirInc).map(SegmentIndex.loadSegment(_))
    val segsFull = SegmentIndex.segmentFiles(dirFull).map(SegmentIndex.loadSegment(_))
    val queries = Seq(
      "alpha", "alpha bravo", "alpha OR bravo charlie", "delta -echo",
      "rare9", "golf foxtrot", "alpha alpha echo", "charlie OR rare9 -golf")
    for (q <- queries; k <- Seq(5, 100)) {
      val a = SegmentSearch.searchBatchInMemory(segsInc, mInc, Seq(q), k)(0)
      val b = SegmentSearch.searchBatchInMemory(segsFull, mFull, Seq(q), k)(0)
      assert(a == b, s"q='$q' k=$k inc=$a full=$b") // bit-identical scores
    }
  }

  test("resume never reuses a docstore built in the other tokenizer mode") {
    val docs = Seq(1L -> "parseHTTPRequest2 alpha", 2L -> "alpha bravo")
    val dir = tmpDir()
    SegmentIndex.build(docsDF(docs), dir, buckets = 2) // reference mode
    // same dir, code-aware: MUST invalidate and re-tokenize, not skip
    SegmentIndex.build(docsDF(docs), dir, buckets = 2, codeAware = true)
    val meta = SegmentIndex.readMeta(dir)
    assert(meta.codeAware)
    val segs = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_))
    // sub-token only exists if the code tokenizer actually ran
    assert(segs.exists(_.terms.contains("http")))
  }

  test("resume rebuilds when doc METADATA changed even though text did not") {
    val sp = spark
    import sp.implicits._
    def df(src: String) = Seq((1L, "alpha bravo", src, "en"), (2L, "bravo charlie", src, "en"))
      .toDF("doc_id", "text", "source", "lang")
    val dir = tmpDir()
    SegmentIndex.build(df("repoOld"), dir, buckets = 1)
    SegmentIndex.build(df("repoNew"), dir, buckets = 1)
    val store = spark.read.parquet(s"$dir/docstore").select("source").distinct()
      .collect().map(_.getString(0)).toSet
    assert(store == Set("repoNew"), s"stale docstore metadata survived: $store")
  }

  test("addDocuments replay after simulated crash (stale meta) is idempotent") {
    val base = (1L to 30L).map(i => i -> s"alpha bravo tok${i % 5}")
    val delta = (31L to 45L).map(i => i -> s"alpha charlie tok${i % 5}")
    val dir = tmpDir()
    SegmentIndex.build(docsDF(base), dir, buckets = 2)
    val metaBefore = Files.readString(Paths.get(dir, "index_meta.json"))
    SegmentIndex.addDocuments(docsDF(delta), dir, newBuckets = 2)
    // simulate a crash that happened before the meta rewrite: docstore rows,
    // segments, and manifests for the delta exist but meta is the OLD one
    Files.writeString(Paths.get(dir, "index_meta.json"), metaBefore)
    SegmentIndex.addDocuments(docsDF(delta), dir, newBuckets = 2) // replay

    val full = tmpDir()
    SegmentIndex.build(docsDF(base ++ delta), full, buckets = 4)
    val mA = SegmentIndex.readMeta(dir)
    val mB = SegmentIndex.readMeta(full)
    assert(mA.n == mB.n && mA.sumDl == mB.sumDl && mA.avgdl == mB.avgdl)
    val segsA = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_))
    val segsB = SegmentIndex.segmentFiles(full).map(SegmentIndex.loadSegment(_))
    for (q <- Seq("alpha", "charlie", "alpha -bravo", "tok3 OR charlie")) {
      val a = SegmentSearch.searchBatchInMemory(segsA, mA, Seq(q), 100)(0)
      val b = SegmentSearch.searchBatchInMemory(segsB, mB, Seq(q), 100)(0)
      assert(a == b, s"q='$q' replayed=$a full=$b")
    }
  }

  test("addDocuments replay after a FULLY-COMPLETED batch (batchId guard) is a no-op") {
    // The other crash window: addDocuments committed (meta rewritten with the
    // batch id) but the streaming checkpoint never recorded the micro-batch.
    // The replay arrives with the SAME batchId — without the guard it would
    // pass the orphan cleanup (offset already advanced) and append twice.
    val base = (1L to 30L).map(i => i -> s"alpha bravo tok${i % 5}")
    val delta = (31L to 45L).map(i => i -> s"alpha charlie tok${i % 5}")
    val dir = tmpDir()
    SegmentIndex.build(docsDF(base), dir, buckets = 2)
    SegmentIndex.addDocuments(docsDF(delta), dir, newBuckets = 2, batchId = Some(7L))
    val metaAfter = Files.readString(Paths.get(dir, "index_meta.json"))
    val replayed = SegmentIndex.addDocuments(docsDF(delta), dir, newBuckets = 2, batchId = Some(7L))
    assert(replayed.isEmpty, "replay of a completed batch must not write segments")
    assert(Files.readString(Paths.get(dir, "index_meta.json")) == metaAfter)
    val m = SegmentIndex.readMeta(dir)
    assert(m.n == 45L && m.lastBatchId.contains(7L))
    // a LATER batch with a new id still applies
    val more = (46L to 50L).map(i => i -> s"alpha delta tok${i % 5}")
    SegmentIndex.addDocuments(docsDF(more), dir, newBuckets = 1, batchId = Some(8L))
    val m2 = SegmentIndex.readMeta(dir)
    assert(m2.n == 50L && m2.lastBatchId.contains(8L))
  }

  test("compact: folds delta segments into fewer buckets, search unchanged, no re-tokenize") {
    val rnd = new Random(31)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "rare3")
    val all = (1L to 90L).map { id =>
      id -> Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val groups = all.grouped(30).toSeq
    val dir = tmpDir()
    SegmentIndex.build(docsDF(groups(0)), dir, buckets = 2)
    SegmentIndex.addDocuments(docsDF(groups(1)), dir, newBuckets = 2)
    SegmentIndex.addDocuments(docsDF(groups(2)), dir, newBuckets = 2)
    assert(SegmentIndex.segmentFiles(dir).size == 6)

    val dst = tmpDir()
    val manifests = SegmentIndex.compact(spark, dir, dst, buckets = 3)
    assert(manifests.map(_.bucket) == Seq(0, 1, 2))
    assert(SegmentIndex.segmentFiles(dst).size == 3)

    val mA = SegmentIndex.readMeta(dir)
    val mB = SegmentIndex.readMeta(dst)
    assert(mA.n == mB.n && mA.sumDl == mB.sumDl && mA.avgdl == mB.avgdl)
    val segsA = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_))
    val segsB = SegmentIndex.segmentFiles(dst).map(SegmentIndex.loadSegment(_))
    for (q <- Seq("alpha", "alpha bravo", "charlie OR rare3", "delta -echo"); k <- Seq(5, 100)) {
      val a = SegmentSearch.searchBatchInMemory(segsA, mA, Seq(q), k)(0)
      val b = SegmentSearch.searchBatchInMemory(segsB, mB, Seq(q), k)(0)
      assert(a == b, s"q='$q' k=$k pre=$a post=$b")
    }
  }

  test("distributed batch search over segments matches in-memory path") {
    val docs = (1L to 80L).map(i => i -> s"alpha bravo word${i % 11} charlie delta")
    val (dir, _) = buildTiny(docs, buckets = 4)
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.segmentFiles(dir).map(SegmentIndex.loadSegment(_))
    val queries = Seq("alpha charlie", "word3 OR word7", "bravo -word5")
    val viaSpark = SegmentSearch.searchBatch(spark, dir, queries, k = 10)
    val inMem = SegmentSearch.searchBatchInMemory(segs, meta, queries, k = 10)
    assert(viaSpark == inMem)
    // the long-lived serving engine (cached idfs, shared theta, adaptive
    // parallelism) returns the same ranked lists
    val engine = new SegmentSearch.ServingEngine(segs.toIndexedSeq, meta)
    queries.zipWithIndex.foreach { case (q, i) =>
      assert(engine.search(q, 10) == inMem(i), s"q='$q'")
    }
  }
}
