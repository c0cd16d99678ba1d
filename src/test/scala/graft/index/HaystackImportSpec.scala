package graft.index

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.SparkTestBase
import graft.core.Tokenizer
import graft.search.SegmentSearch

/** Reference index-format importer: the reference checkout's demo index
  * (`DemoIdx`) is the golden fixture, so the two golden checks run only
  * where it is present and are canceled elsewhere; a larger synthetic index
  * (written by a test-local writer implementing the same little-endian
  * layout) checks parity at scale >1 bucket; fail-fast paths cover the
  * spec's versioning/corruption contract.
  */
class HaystackImportSpec extends SparkTestBase {

  private val DemoIdx = "/root/reference/idx"
  private def demoPresent: Boolean = Files.isRegularFile(Paths.get(DemoIdx, "index_meta.json"))
  private def assumeDemo(): Unit =
    assume(demoPresent, s"reference demo index not present: $DemoIdx/index_meta.json")

  private def tmpDir(): String = Files.createTempDirectory("graft-hs").toString

  // --- test-local writer for the reference's on-disk format -----------
  // (little-endian layout per /root/reference/src/core/inverted_index.cpp;
  // postings derived with graft's reference-exact tokenizer)

  private def le32(out: DataOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
    out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
  }
  private def le64(out: DataOutputStream, v: Long): Unit = { le32(out, v & 0xffffffffL); le32(out, (v >>> 32) & 0xffffffffL) }

  private def writeHaystack(dir: String, docs: Seq[(Long, String)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val toks = docs.map { case (id, text) => id -> Tokenizer.tokenize(text) }
    val sumDl = toks.map(_._2.size.toLong).sum
    val avgdl = if (docs.isEmpty) 0.0 else sumDl.toDouble / docs.size
    Files.writeString(Paths.get(dir, "index_meta.json"),
      s"""{"N":${docs.size},"avgdl":$avgdl,"schema_version":1}""")
    Files.writeString(Paths.get(dir, "docs.jsonl"),
      docs.sortBy(_._1).map { case (id, t) => s"""{"docId":$id,"text":"$t"}""" }.mkString("", "\n", "\n"))

    val postings = scala.collection.mutable.HashMap[String, scala.collection.mutable.HashMap[Long, Int]]()
    toks.foreach { case (id, ts) =>
      ts.foreach { t =>
        val m = postings.getOrElseUpdate(t, scala.collection.mutable.HashMap())
        m.update(id, m.getOrElse(id, 0) + 1)
      }
    }
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(Paths.get(dir, "postings.bin").toFile)))
    try {
      val terms = postings.keys.toSeq.sorted
      le64(out, terms.size.toLong)
      terms.foreach { t =>
        val b = t.getBytes(StandardCharsets.UTF_8)
        le32(out, b.length.toLong); out.write(b)
        val ps = postings(t).toSeq.sortBy(_._1)
        le32(out, ps.size.toLong)
        ps.foreach { case (id, tf) => le32(out, id & 0xffffffffL); le32(out, tf.toLong) }
      }
    } finally out.close()
  }

  private def assertParity(importedDir: String, builtDir: String, queries: Seq[String]): Unit = {
    val a = SegmentSearch.searchBatch(spark, importedDir, queries, 10)
    val b = SegmentSearch.searchBatch(spark, builtDir, queries, 10)
    queries.indices.foreach { qi =>
      val (ha, hb) = (a(qi), b(qi))
      assert(ha.map(_._1) == hb.map(_._1), s"docId order differs for '${queries(qi)}'")
      ha.zip(hb).foreach { case ((_, sa), (_, sb)) =>
        assert(math.abs(sa - sb) <= 1e-9, s"score drift for '${queries(qi)}': $sa vs $sb")
      }
    }
  }

  test("demo index /root/reference/idx imports; top-k == rebuild at 1e-9; serving works") {
    assumeDemo()
    val imp = tmpDir()
    val ms = HaystackImport.importIndex(spark, DemoIdx, imp, buckets = 2)
    assert(ms.map(_.nDocs).sum == 3)
    val meta = SegmentIndex.readMeta(imp)
    assert(meta.n == 3 && meta.sumDl == 22, meta) // avgdl 22/3 = 7.333…
    assert(math.abs(meta.avgdl - 7.333333333333333) <= 1e-12)

    // rebuild twin from docs.jsonl text (tokenizer is reference-exact, so
    // the native build must agree with the format import bit-for-bit on tf)
    val docs = spark.read.schema("docId LONG, text STRING").json(s"$DemoIdx/docs.jsonl")
      .selectExpr("docId as doc_id", "text")
    val built = tmpDir()
    SegmentIndex.build(docs, built, buckets = 2)
    assertParity(imp, built, Seq(
      "schema validation", "migration", "data OR schema", "validation -cleansing", "plm"))

    // the imported index serves: snippets decorate from the imported text
    val hits = SegmentSearch.searchWithSnippets(spark, imp, "schema validation", 3)
    assert(hits.nonEmpty && hits.forall(_.snippet.nonEmpty))
    assert(hits.head.snippet.toLowerCase.contains("schema"))
  }

  test("synthetic 400-doc index: import == native build across buckets; pfor codec too") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima")
    val docs = (1L to 400L).map { i =>
      val n = 3 + rnd.nextInt(12)
      i -> (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val hs = tmpDir()
    writeHaystack(hs, docs)

    val imp = tmpDir()
    val ms = HaystackImport.importIndex(spark, hs, imp, buckets = 4)
    assert(ms.map(_.nDocs).sum == 400)
    val built = tmpDir()
    SegmentIndex.build(docsDF(docs), built, buckets = 4)
    val (mi, mb) = (SegmentIndex.readMeta(imp), SegmentIndex.readMeta(built))
    assert((mi.n, mi.sumDl, mi.avgdl) == ((mb.n, mb.sumDl, mb.avgdl)))
    assertParity(imp, built, Seq(
      "alpha bravo", "charlie OR delta echo", "foxtrot -golf", "kilo lima india", "alpha alpha bravo"))

    // codec choice flows through import like a native build
    val impPfor = tmpDir()
    HaystackImport.importIndex(spark, hs, impPfor, buckets = 4, codec = BlockCodec.CodecPfor)
    assert(SegmentIndex.readMeta(impPfor).codec == BlockCodec.CodecPfor)
    assertParity(impPfor, built, Seq("alpha bravo", "charlie OR delta echo"))
  }

  test("round trip: export(import(demo)) reproduces all three reference files BYTE-IDENTICALLY") {
    assumeDemo()
    val imp = tmpDir()
    HaystackImport.importIndex(spark, DemoIdx, imp, buckets = 2)
    val out = tmpDir()
    val (nDocs, nTerms) = HaystackExport.exportIndex(spark, imp, out)
    // 18 GLOBAL distinct terms (ImportJob's terms=20 sums per-segment LOCAL
    // counts — migration/schema/validation span both segments)
    assert(nDocs == 3 && nTerms == 18)
    Seq("index_meta.json", "docs.jsonl", "postings.bin").foreach { f =>
      val got = Files.readAllBytes(Paths.get(out, f))
      val ref = Files.readAllBytes(Paths.get(DemoIdx, f))
      assert(java.util.Arrays.equals(got, ref),
        s"$f differs (${got.length} vs ${ref.length} bytes)")
    }
  }

  test("round trip: native build -> export -> import serves identical top-k") {
    val docs = (1L to 120L).map(i => i -> s"alpha bravo${i % 9} charlie delta${i % 4} e${i % 3}")
    val built = tmpDir()
    SegmentIndex.build(docsDF(docs), built, buckets = 3)
    val hs = tmpDir()
    HaystackExport.exportIndex(spark, built, hs)
    // the exported files are a valid haystack index: meta agrees, import succeeds
    val hsMeta = HaystackImport.readHsMeta(hs)
    assert(hsMeta.n == 120)
    val back = tmpDir()
    HaystackImport.importIndex(spark, hs, back, buckets = 2) // different bucket count on purpose
    assertParity(back, built, Seq("alpha charlie", "bravo3 OR delta2", "charlie -e1", "delta0 e2"))
    // jsoncpp escaping: a doc with specials survives the round trip
    val tricky = Seq(1L -> "quote \" back \\ slash \t tab \n line", 2L -> "plain words here")
    val b2 = tmpDir(); SegmentIndex.build(docsDF(tricky), b2, 1)
    val h2 = tmpDir(); HaystackExport.exportIndex(spark, b2, h2)
    val i2 = tmpDir(); HaystackImport.importIndex(spark, h2, i2, 1)
    val hit = SegmentSearch.searchWithSnippets(spark, i2, "quote", 1)
    assert(hit.nonEmpty && hit.head.snippet.contains("quote"))
  }

  test("exporter double formatting == jsoncpp (C %.17g + fractional-zero strip + .0)") {
    // expectations generated with C printf("%.17g") + jsoncpp's post-pass;
    // Scala's shortest-repr toString would write "735.1" / "0.1" and break
    // byte-identity against reference-produced metas
    Seq(
      22.0 / 3 -> "7.333333333333333",
      14.0 / 3 -> "4.666666666666667",
      735.1 -> "735.10000000000002",
      0.1 -> "0.10000000000000001",
      7.0 -> "7.0",
      0.0 -> "0.0",
      123.456 -> "123.456",
      5.25 -> "5.25"
    ).foreach { case (v, want) =>
      assert(HaystackExport.jsoncppDouble(v) == want, s"for $v")
    }
    // a round trip through a meta whose avgdl Scala would shorten
    val hs = tmpDir()
    writeHaystack(hs, Seq(1L -> ("alpha " * 7351).trim, 2L -> "bravo", 3L -> "", 4L -> "",
      5L -> "", 6L -> "", 7L -> "", 8L -> "", 9L -> "", 10L -> ""))
    // sumDl = 7352, n = 10 -> avgdl 735.2 (non-terminating in binary)
    Files.writeString(Paths.get(hs, "index_meta.json"),
      s"""{"N":10,"avgdl":${HaystackExport.jsoncppDouble(7352.0 / 10)},"schema_version":1}""")
    val imp = tmpDir()
    HaystackImport.importIndex(spark, hs, imp, buckets = 2)
    val out = tmpDir()
    HaystackExport.exportIndex(spark, imp, out)
    assert(Files.readString(Paths.get(out, "index_meta.json")) ==
      Files.readString(Paths.get(hs, "index_meta.json")))
  }

  test("re-import into a dir holding a larger index leaves no ghost segments") {
    val big = tmpDir()
    writeHaystack(big, (1L to 300L).map(i => i -> s"zulu yankee w${i % 7}"))
    val out = tmpDir()
    HaystackImport.importIndex(spark, big, out, buckets = 4)
    assert(SegmentSearch.searchBatch(spark, out, Seq("zulu"), 5)(0).nonEmpty)
    // second migration into the SAME dir: 2 docs, so range partitioning
    // leaves most of the 4 buckets empty — Spark writes no parquet file (and
    // hence no segment) for an empty partition, so the old buckets' files
    // must be invalidated or they would serve ghost postings
    val small = tmpDir()
    writeHaystack(small, Seq(1L -> "alpha bravo", 2L -> "alpha charlie"))
    HaystackImport.importIndex(spark, small, out, buckets = 4)
    val meta = SegmentIndex.readMeta(out)
    assert(meta.n == 2 && meta.sumDl == 4L)
    assert(SegmentSearch.searchBatch(spark, out, Seq("zulu"), 5)(0).isEmpty,
      "ghost postings from the pre-import index are being served")
    assert(SegmentSearch.searchBatch(spark, out, Seq("alpha"), 5)(0).map(_._1).sorted == Seq(1L, 2L))
  }

  test("Phase-2.5 metadata rows: source_path maps onto the docstore source column") {
    val dir = tmpDir()
    Files.createDirectories(Paths.get(dir))
    writeHaystack(dir, Seq(1L -> "alpha bravo charlie words", 2L -> "alpha delta"))
    // rewrite docs.jsonl with the PDF-ingest row shape for doc 1
    Files.writeString(Paths.get(dir, "docs.jsonl"),
      """{"did_ocr":true,"docId":1,"file_name":"a.pdf","file_type":"pdf","page_number":3,"source_path":"/corpus/a.pdf","text":"alpha bravo charlie words"}""" +
        "\n" + """{"docId":2,"text":"alpha delta"}""" + "\n")
    val imp = tmpDir()
    HaystackImport.importIndex(spark, dir, imp, buckets = 2)
    val rows = spark.read.parquet(s"$imp/docstore")
      .select("doc_id", "source").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "/corpus/a.pdf", 2L -> ""))
    val hits = SegmentSearch.searchWithSnippets(spark, imp, "bravo", 1)
    assert(hits.head.source == "/corpus/a.pdf") // citation survives migration
  }

  test("degenerate index: zero-term postings.bin (all docs empty) imports cleanly") {
    val dir = tmpDir()
    writeHaystack(dir, Seq(1L -> "", 2L -> "   ", 3L -> "!!!")) // no tokens anywhere
    val imp = tmpDir()
    val ms = HaystackImport.importIndex(spark, dir, imp, buckets = 2)
    assert(ms.map(_.nDocs).sum == 3 && ms.map(_.sumDl).sum == 0L)
    val meta = SegmentIndex.readMeta(imp)
    assert(meta.n == 3 && meta.sumDl == 0L && meta.avgdl == 0.0)
    assert(SegmentSearch.searchBatch(spark, imp, Seq("anything"), 5)(0).isEmpty)
  }

  test("ExportJob CLI: exit codes") {
    assert(graft.app.ExportJob.run(Array("--help")) == 0)
    assert(graft.app.ExportJob.run(Array("x")) == 2)
    assert(graft.app.ExportJob.run(Array("/nonexistent", tmpDir())) == 3)
  }

  test("fail fast: unsupported schema_version, truncated postings, orphan postings, N mismatch") {
    // unsupported version
    val v2 = tmpDir()
    writeHaystack(v2, Seq(1L -> "alpha bravo"))
    Files.writeString(Paths.get(v2, "index_meta.json"),
      """{"N":1,"avgdl":2.0,"schema_version":2}""")
    val e1 = intercept[IllegalArgumentException](HaystackImport.readHsMeta(v2))
    assert(e1.getMessage.contains("schema_version"))

    // missing file
    val e2 = intercept[IllegalArgumentException](HaystackImport.readHsMeta(tmpDir()))
    assert(e2.getMessage.contains("missing"))

    // truncated postings.bin (unit-level: the streaming decoder itself)
    val tr = tmpDir()
    writeHaystack(tr, Seq(1L -> "alpha bravo charlie", 2L -> "alpha delta"))
    val pb = Paths.get(tr, "postings.bin")
    val full = Files.readAllBytes(pb)
    Files.write(pb, full.dropRight(3), StandardOpenOption.TRUNCATE_EXISTING)
    val e3 = intercept[IllegalArgumentException](
      HaystackImport.parsePostings(pb.toString).toList)
    assert(e3.getMessage.contains("truncated"))
    // trailing garbage is also rejected
    Files.write(pb, full ++ Array[Byte](0), StandardOpenOption.TRUNCATE_EXISTING)
    val e4 = intercept[IllegalArgumentException](
      HaystackImport.parsePostings(pb.toString).toList)
    assert(e4.getMessage.contains("trailing"))

    // postings referencing a docId absent from docs.jsonl
    val orp = tmpDir()
    writeHaystack(orp, Seq(1L -> "alpha bravo", 2L -> "alpha"))
    val lines = Files.readString(Paths.get(orp, "docs.jsonl")).linesIterator.toSeq
    Files.writeString(Paths.get(orp, "docs.jsonl"), lines.head + "\n")
    Files.writeString(Paths.get(orp, "index_meta.json"),
      """{"N":1,"avgdl":3.0,"schema_version":1}""")
    val e5 = intercept[IllegalArgumentException](
      HaystackImport.importIndex(spark, orp, tmpDir(), 2))
    assert(e5.getMessage.contains("absent from docs.jsonl"))

    // N disagreement between meta and docs.jsonl
    val nm = tmpDir()
    writeHaystack(nm, Seq(1L -> "alpha bravo", 2L -> "alpha"))
    Files.writeString(Paths.get(nm, "index_meta.json"),
      """{"N":3,"avgdl":1.5,"schema_version":1}""")
    val e6 = intercept[IllegalArgumentException](
      HaystackImport.importIndex(spark, nm, tmpDir(), 2))
    assert(e6.getMessage.contains("N="))
  }

  test("ImportJob CLI: ordered exit codes and a happy path") {
    assert(graft.app.ImportJob.run(Array("--help")) == 0)
    assert(graft.app.ImportJob.run(Array()) == 2)                       // arity
    assert(graft.app.ImportJob.run(Array("--bogus", "a", "b")) == 2)    // unknown flag
    assert(graft.app.ImportJob.run(Array("a", "b", "zero")) == 2)       // bad buckets
    assert(graft.app.ImportJob.run(Array("/nonexistent", tmpDir())) == 3) // not an index
    // happy path on a 3-doc reference-format index written here, and on the
    // reference demo index too wherever it is present
    val written = tmpDir()
    writeHaystack(written, Seq(1L -> "schema validation rules", 2L -> "data migration plan",
      3L -> "schema migration and validation"))
    (written +: (if (demoPresent) Seq(DemoIdx) else Nil)).foreach { hs =>
      val out = tmpDir()
      assert(graft.app.ImportJob.run(Array(hs, out, "2")) == 0)
      assert(SegmentIndex.readMeta(out).n == 3)
    }
  }
}
