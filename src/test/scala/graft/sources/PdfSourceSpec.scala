package graft.sources

import graft.SparkTestBase

/** S3 PDF page source: the Spark-side plumbing is real (distribution, page
  * explosion, per-file isolation, OCR policy + merge); the extractor is a
  * deterministic fake (the container has no poppler/tesseract — same stance
  * as Multimodal's stub decoder).
  */
class PdfSourceSpec extends SparkTestBase {

  /** 3 "PDFs": a 2-page text-rich file, a 3-page file whose page 2 has a
    * thin text layer (OCR fires), and one that fails at pageCount.
    */
  private object FakeExtractor extends PdfSource.PageExtractor {
    def pageCount(path: String): Int = path match {
      case p if p.endsWith("rich.pdf") => 2
      case p if p.endsWith("scanny.pdf") => 3
      case p if p.endsWith("corrupt.pdf") => throw new RuntimeException("not a pdf")
      case p if p.endsWith("empty.pdf") => 0
      case _ => 1
    }
    def textLayer(path: String, page: Int): String = path match {
      case p if p.endsWith("rich.pdf") =>
        s"page $page of the rich document with plenty of embedded words " +
          "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
      case p if p.endsWith("scanny.pdf") =>
        if (page == 2) "scan" // < 50 chars AND < 10 tokens -> OCR
        else s"scanny page $page has a full text layer with many extracted tokens " +
          "one two three four five six seven eight nine ten"
      case _ => ""
    }
    def ocr(path: String, page: Int): String = s"OCR RECOVERED p$page"
  }

  test("pages: per-page rows, reference OCR policy + merge, per-file error isolation") {
    val paths = Seq("/corpus/rich.pdf", "/corpus/scanny.pdf", "/corpus/corrupt.pdf", "/corpus/empty.pdf")
    val base = spark.sparkContext.getPersistentRDDs.keySet // other suites may still drain
    val (pages, bad) = PdfSource.pages(spark, paths, FakeExtractor) { (pagesDs, badDs) =>
      (pagesDs.collect().sortBy(p => (p.source_path, p.page_number)),
        badDs.collect().map(b => b.source_path -> b.reason).toMap)
    }
    // loan scope released its scratch cache — nothing NEW persists after it
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(base).isEmpty)

    // corrupt + empty land in the bad side output; good files are unaffected
    assert(bad.keySet == Set("/corpus/corrupt.pdf", "/corpus/empty.pdf"))
    assert(bad("/corpus/empty.pdf") == "no_pages")
    assert(bad("/corpus/corrupt.pdf").startsWith("extract_failed"))

    // 2 + 3 pages, 1-based, file_type pdf, file_name basename
    assert(pages.length == 5)
    assert(pages.map(p => (p.file_name, p.page_number)).toSeq ==
      Seq(("rich.pdf", 1), ("rich.pdf", 2), ("scanny.pdf", 1), ("scanny.pdf", 2), ("scanny.pdf", 3)))
    assert(pages.forall(_.file_type == "pdf"))

    // OCR fired exactly where the policy says (thin page 2 of scanny.pdf)
    val byKey = pages.map(p => (p.source_path, p.page_number) -> p).toMap
    assert(!byKey(("/corpus/rich.pdf", 1)).did_ocr)
    assert(!byKey(("/corpus/scanny.pdf", 1)).did_ocr)
    val ocred = byKey(("/corpus/scanny.pdf", 2))
    assert(ocred.did_ocr)
    // reference merge: text layer + ensured newline + OCR text
    assert(ocred.text == "scan\nOCR RECOVERED p2")
    // non-OCR pages keep the raw layer
    assert(byKey(("/corpus/rich.pdf", 2)).text.startsWith("page 2 of the rich"))
  }

  test("pages: a MID-FILE page failure marks the whole file bad, task survives") {
    object MidFail extends PdfSource.PageExtractor {
      def pageCount(path: String): Int = if (path.endsWith("mid.pdf")) 4 else 1
      def textLayer(path: String, page: Int): String =
        if (path.endsWith("mid.pdf") && page == 3) throw new RuntimeException("page 3 unreadable")
        else s"fine page $page with a comfortably thick embedded text layer " +
          "alpha bravo charlie delta echo foxtrot golf hotel"
      def ocr(path: String, page: Int): String = ""
    }
    val (pages, bad) = PdfSource.pages(spark, Seq("/c/mid.pdf", "/c/good.pdf"), MidFail) {
      (pagesDs, badDs) =>
        (pagesDs.collect(), badDs.collect().map(b => b.source_path -> b.reason).toMap)
    }
    // page 3 of 4 threw DURING extraction: whole-file isolation, no partial pages
    assert(bad.keySet == Set("/c/mid.pdf"))
    assert(bad("/c/mid.pdf").contains("page 3 unreadable"))
    assert(pages.map(_.source_path).toSet == Set("/c/good.pdf"))
  }

  test("SubprocessExtractor: real ProcessBuilder path end-to-end against stub poppler/tesseract") {
    import java.nio.file.{Files, Paths}
    val bin = Files.createTempDirectory("graft-pdfstub-bin")
    def stub(name: String, body: String): Unit = {
      val p = bin.resolve(name)
      Files.write(p, s"#!/bin/sh\n$body\n".getBytes("UTF-8"))
      p.toFile.setExecutable(true)
    }
    // pdfinfo <path>: doc.pdf has 3 pages; corrupt.pdf exits 1 with no
    // output (-> pageCount 0 -> whole file bad); hang.pdf sleeps past the
    // extractor timeout (-> hard failure -> whole file bad)
    stub("pdfinfo",
      """case "$1" in
        |  *doc.pdf) printf 'Title: stub\nPages: 3\n' ;;
        |  *hang.pdf) sleep 30 ;;
        |  *) exit 1 ;;
        |esac""".stripMargin)
    // pdftotext -layout -f N -l N <path> -  ($3 = page): page 1 rich,
    // page 2 thin (< 50 chars -> OCR fires), page 3 FAILS nonzero with no
    // output — reference popen semantics capture "" and fall through to OCR
    stub("pdftotext",
      """case "$3" in
        |  1) printf 'embedded page one text layer with plenty of words alpha bravo charlie delta echo foxtrot golf hotel india juliet' ;;
        |  2) printf 'thin' ;;
        |  3) exit 1 ;;
        |esac""".stripMargin)
    // pdftoppm -png -r 300 -f N -l N <path> <prefix> ($5 = page, $9 =
    // prefix): renders p-2.png for page 2; page 3's render FAILS -> the OCR
    // is a SOFT "" and page 3 ships with an empty merged text
    stub("pdftoppm",
      """case "$5" in
        |  2) : > "$9-$5.png" ;;
        |  *) exit 1 ;;
        |esac""".stripMargin)
    stub("tesseract", """printf 'OCR RECOVERED BY STUB'""")

    val ex = new PdfSource.SubprocessExtractor(timeoutSec = 3, pathPrepend = Some(bin.toString))
    val paths = Seq("/corpus/doc.pdf", "/corpus/corrupt.pdf", "/corpus/hang.pdf")
    val (pages, bad) = PdfSource.pages(spark, paths, ex) { (pagesDs, badDs) =>
      (pagesDs.collect().sortBy(_.page_number),
        badDs.collect().map(b => b.source_path -> b.reason).toMap)
    }
    // per-FILE isolation: pdfinfo nonzero -> no_pages; timeout -> hard fail
    assert(bad.keySet == Set("/corpus/corrupt.pdf", "/corpus/hang.pdf"))
    assert(bad("/corpus/corrupt.pdf") == "no_pages")
    assert(bad("/corpus/hang.pdf").contains("timed out"))

    assert(pages.map(_.page_number).toSeq == Seq(1, 2, 3))
    val Seq(p1, p2, p3) = pages.toSeq
    assert(!p1.did_ocr && p1.text.startsWith("embedded page one"))
    // thin layer -> pdftoppm + tesseract ran -> reference merge
    assert(p2.did_ocr && p2.text == "thin\nOCR RECOVERED BY STUB")
    // failing pdftotext -> "" layer -> OCR fires -> render fails -> soft ""
    assert(p3.did_ocr && p3.text == "")
  }

  // ------------------------------------------------------- real binaries

  private def binOnPath(name: String): Boolean =
    sys.env.getOrElse("PATH", "").split(':').filter(_.nonEmpty).exists { d =>
      java.nio.file.Files.isExecutable(java.nio.file.Paths.get(d, name))
    }

  /** Deterministic minimal 2-page PDF (uncompressed streams, computed xref
    * offsets) — a real file any poppler parses; generated at test time so no
    * binary fixture is committed.
    */
  private def writeGoldenPdf(): String = {
    def page(parent: Int, contents: Int) =
      s"<< /Type /Page /Parent $parent 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 7 0 R >> >> /Contents $contents 0 R >>"
    def stream(text: String) = {
      val s = s"BT /F1 18 Tf 72 720 Td ($text) Tj ET"
      s"<< /Length ${s.length} >>\nstream\n$s\nendstream"
    }
    // both pages carry >= 50 chars AND >= 10 tokens so the reference OCR
    // policy must NOT fire (keeps the real-binary path poppler-only)
    val bodies = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
      page(2, 4),
      stream("Graft golden fixture page one with plenty of embedded words for the ocr policy"),
      page(2, 6),
      stream("Second page of the graft fixture also carries ten or more extracted tokens easily"),
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = bodies.zipWithIndex.map { case (b, i) =>
      val off = sb.length
      sb.append(s"${i + 1} 0 obj\n").append(b).append("\nendobj\n")
      off
    }
    val xrefOff = sb.length
    sb.append(s"xref\n0 ${bodies.size + 1}\n")
    sb.append("0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${bodies.size + 1} /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    val p = java.nio.file.Files.createTempFile("graft-golden", ".pdf")
    java.nio.file.Files.writeString(p, sb.toString)
    p.toString
  }

  test("SubprocessExtractor against REAL poppler binaries (opportunistic — cancels when absent)") {
    assume(binOnPath("pdfinfo") && binOnPath("pdftotext"),
      "poppler not installed on PATH — real-binary validation skipped (sandbox has none; " +
        "runs automatically wherever pdfinfo/pdftotext exist)")
    val pdf = writeGoldenPdf()
    val ex = new PdfSource.SubprocessExtractor()
    assert(ex.pageCount(pdf) == 2)
    assert(ex.textLayer(pdf, 1).contains("Graft golden fixture page one"))
    assert(ex.textLayer(pdf, 2).contains("Second page of the graft fixture"))
    assert(!ex.textLayer(pdf, 1).contains("Second page"), "page windowing must isolate pages")

    // whole pipeline over the real extractor: both pages are text-rich
    // enough that the OCR policy must NOT fire (no tesseract needed)
    val (pages, bad) = PdfSource.pages(spark, Seq(pdf), ex) { (pagesDs, badDs) =>
      (pagesDs.collect().sortBy(_.page_number), badDs.collect())
    }
    assert(bad.isEmpty)
    assert(pages.map(_.page_number).toSeq == Seq(1, 2))
    assert(pages.forall(!_.did_ocr))
    assert(pages(0).text.contains("golden fixture"))
  }

  test("shouldOcrPage matches the row-level policy thresholds") {
    assert(PdfSource.shouldOcrPage("")) // empty
    assert(PdfSource.shouldOcrPage("short but words " * 2)) // >=50 chars? no — 32 chars
    val tenTokens = "tok " * 10 + "padding to get above fifty characters okay"
    assert(!PdfSource.shouldOcrPage(tenTokens))
    // >= 50 chars but < 10 tokens -> still OCR
    assert(PdfSource.shouldOcrPage("aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"))
    // merge keeps an existing trailing newline un-doubled
    assert(PdfSource.mergeOcr("layer\n", "ocr") == "layer\nocr")
    assert(PdfSource.mergeOcr("", "ocr") == "ocr")
  }
}
