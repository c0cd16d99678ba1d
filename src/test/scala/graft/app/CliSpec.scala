package graft.app

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.index.SegmentIndex

/** The CLI exit-code matrix for all three apps — the twin of the reference's
  * ordered validation tests (/root/reference/tests/test_cli_exit_codes.cpp:
  * 133-327): argument errors (unknown flag -> arity -> bad value -> conflict)
  * exit 2; runtime preconditions (missing paths, non-index dirs) exit 3 and
  * are checked before any Spark work. run() returns the code in-process.
  */
class CliSpec extends AnyFunSuite {

  private def tmp(): String = Files.createTempDirectory("graft-cli").toString

  // ------------------------------------------------------------- IndexJob
  test("IndexJob: usage errors exit 2, in validation order") {
    assert(IndexJob.run(Array.empty) == 2) // missing required
    assert(IndexJob.run(Array("src.parquet")) == 2) // still missing outDir
    assert(IndexJob.run(Array("--bogus", "a/b", "out")) == 2) // unknown flag first
    assert(IndexJob.run(Array("a/b", "out", "8", "extra")) == 2) // arity
    assert(IndexJob.run(Array("a/b", "out", "zero")) == 2) // bad buckets
    assert(IndexJob.run(Array("a/b", "out", "0")) == 2) // non-positive buckets
    assert(IndexJob.run(Array("a/b", "out", "-3")) == 2)
    assert(IndexJob.run(Array("a/b", "out", "--codec=lz4")) == 2) // unknown codec
    // reference contract: --help prints usage on stdout and exits 0, even
    // mixed with other (invalid) arguments
    assert(IndexJob.run(Array("--help")) == 0)
    assert(IndexJob.run(Array("--bogus", "--help")) == 0)
    assert(TenantJob.run(Array("--help")) == 0)
    assert(SnapshotJob.run(Array("--help")) == 0)
    assert(CompactJob.run(Array("--help")) == 0)
  }

  test("IndexJob: unknown flag is reported before missing positionals") {
    // ordered matrix: flag errors outrank arity errors (reference ordering)
    assert(IndexJob.run(Array("--nope")) == 2)
  }

  test("IndexJob: runtime preconditions exit 3 (missing source; --add without index)") {
    val out = tmp()
    assert(IndexJob.run(Array("/definitely/not/here.parquet", out)) == 3)
    assert(IndexJob.run(Array("/definitely/not/here.parquet", out, "4")) == 3)
    // --add on a dir with no index_meta.json is a runtime failure, not usage
    val srcDir = tmp() // exists, so the source check passes; --add check fires
    assert(IndexJob.run(Array(srcDir + "/", out, "--add")) == 3)
  }

  test("IndexJob: a mis-shaped source parquet fails fast with exit 3, not a deep NPE") {
    // documents-shaped parquet (doc_id, text, ...) is NOT the source shape
    // (repo, path, commit, lang, content); an explicit read schema would
    // silently NULL-fill the missing columns — SourceTable.load must refuse
    assert(IndexJob.run(Array("/root/testdata/sf0.001/documents.parquet", tmp(), "4")) == 3)
  }

  // ------------------------------------------------------------- QueryJob
  test("QueryJob: usage errors exit 2 (a non-integer k too), a non-index dir exits 3 before Spark") {
    assert(QueryJob.run(Array("--help")) == 0)
    assert(QueryJob.run(Array.empty) == 2)
    assert(QueryJob.run(Array("idx", "5")) == 2) // no query
    assert(QueryJob.run(Array("idx", "abc", "q")) == 2) // k is not an integer
    assert(QueryJob.run(Array(tmp(), "abc", "q")) == 2) // usage outranks the index check
    assert(QueryJob.run(Array(tmp(), "5", "q")) == 3) // exists, but no index_meta.json
    assert(QueryJob.run(Array("/definitely/not/here", "5", "q")) == 3)
  }

  // ------------------------------------------------------------- TenantJob
  test("TenantJob: usage errors exit 2, missing corpus exits 3") {
    assert(TenantJob.run(Array.empty) == 2)
    assert(TenantJob.run(Array("onlyOne")) == 2)
    assert(TenantJob.run(Array("--bogus", "a", "b")) == 2)
    assert(TenantJob.run(Array("--tenant-col=", "a", "b")) == 2)
    assert(TenantJob.run(Array("a", "b", "0")) == 2)
    assert(TenantJob.run(Array("a", "b", "4", "extra")) == 2)
    assert(TenantJob.run(Array("/nonexistent/corpus.parquet", tmp())) == 3)
    // --add needs an existing catalog (before any Spark work)
    assert(TenantJob.run(Array("--add", "/root/testdata/sf0.001/documents.parquet", tmp())) == 3)
  }

  // ---------------------------------------------------------- TenantServer
  test("TenantServer.parseArgs: ordered validation, no silent fallbacks") {
    assert(TenantServer.parseArgs(Array("root")) == Right(("root", 8080, Int.MaxValue)))
    assert(TenantServer.parseArgs(Array("root", "9090", "4")) == Right(("root", 9090, 4)))
    assert(TenantServer.parseArgs(Array.empty).isLeft)
    assert(TenantServer.parseArgs(Array("--flag", "root")).isLeft)
    assert(TenantServer.parseArgs(Array("root", "abc")).isLeft)     // not silently 8080
    assert(TenantServer.parseArgs(Array("root", "80800")).isLeft)   // out of range
    assert(TenantServer.parseArgs(Array("root", "80", "0")).isLeft) // maxLoaded >= 1
    assert(TenantServer.parseArgs(Array("root", "80", "zz")).isLeft)
    assert(TenantServer.parseArgs(Array("root", "80", "1", "x")).isLeft)
  }

  // ------------------------------------------------------------ CompactJob
  test("CompactJob: usage errors exit 2, in validation order") {
    assert(CompactJob.run(Array.empty) == 2)
    assert(CompactJob.run(Array("onlyOne")) == 2)
    assert(CompactJob.run(Array("--flag", "a", "b")) == 2) // no flags accepted
    assert(CompactJob.run(Array("a", "b", "4", "extra")) == 2)
    assert(CompactJob.run(Array("a", "b", "NaN")) == 2)
    assert(CompactJob.run(Array("a", "b", "0")) == 2)
  }

  test("CompactJob: partial-mode argument matrix (exit 2/3 before work)") {
    assert(CompactJob.run(Array("--fold=2,3", "--auto", "dir")) == 2) // conflict
    assert(CompactJob.run(Array("--fold=", "dir")) == 2) // empty list
    assert(CompactJob.run(Array("--fold=2,x", "dir")) == 2) // non-integer
    assert(CompactJob.run(Array("--auto=0", "dir")) == 2) // non-positive bytes
    assert(CompactJob.run(Array("--auto=zz", "dir")) == 2)
    assert(CompactJob.run(Array("--fold=2,3")) == 2) // missing dir
    assert(CompactJob.run(Array("--fold=2,3", "a", "b")) == 2) // partial takes ONE dir
    assert(CompactJob.run(Array("--auto", "/not/an/index")) == 3)
  }

  test("CompactJob: --fold and --auto fold delta buckets in place end-to-end") {
    val sp = graft.spark.Sessions.local(8, 4, "graft-cli-fold")
    val spark = sp
    import sp.implicits._
    val dir = Files.createTempDirectory("graft-cli-fold").toString
    val docs = (1L to 30L).map(i => (i, s"alpha bravo${i % 5} charlie", "s", "en"))
      .toDF("doc_id", "text", "source", "lang")
    graft.index.SegmentIndex.build(docs, dir, 2)
    val d1 = Seq((31L, "alpha delta charlie", "s", "en")).toDF("doc_id", "text", "source", "lang")
    val d2 = Seq((32L, "alpha echo charlie", "s", "en")).toDF("doc_id", "text", "source", "lang")
    graft.index.SegmentIndex.addDocuments(d1, dir, 1)
    graft.index.SegmentIndex.addDocuments(d2, dir, 1)
    val before = graft.search.SegmentSearch.searchBatch(spark, dir, Seq("alpha charlie"), 10)(0)

    assert(CompactJob.run(Array("--fold=2,3", dir)) == 0)
    val meta = graft.index.SegmentIndex.readMeta(dir)
    assert(meta.live.contains(Seq(0, 1, 4)), meta)
    assert(graft.search.SegmentSearch.searchBatch(spark, dir, Seq("alpha charlie"), 10)(0) == before)

    // --auto with a tiny threshold finds nothing to fold (exit 0, no-op)
    assert(CompactJob.run(Array("--auto=1", dir)) == 0)
    assert(graft.index.SegmentIndex.readMeta(dir).buckets == 5)
    // --auto default folds the two small base buckets with the merged one
    assert(CompactJob.run(Array("--auto", dir)) == 0)
    val meta2 = graft.index.SegmentIndex.readMeta(dir)
    assert(meta2.live.exists(_.size < 3), meta2)
    assert(graft.search.SegmentSearch.searchBatch(spark, dir, Seq("alpha charlie"), 10)(0) == before)
  }

  test("CompactJob: src == dst is an argument conflict (exit 2)") {
    val d = tmp()
    assert(CompactJob.run(Array(d, d, "4")) == 2)
    assert(CompactJob.run(Array(d, d + "/.", "4")) == 2) // normalized compare
  }

  test("CompactJob: non-index src exits 3 before any Spark work") {
    val src = tmp() // exists but has no index_meta.json
    val dst = tmp()
    assert(CompactJob.run(Array(src, dst, "4")) == 3)
  }

  test("CompactJob: end-to-end success exits 0") {
    val sp = SparkTestBase.spark
    import sp.implicits._
    val dir = tmp() + "/idx"
    SegmentIndex.build(
      (1L to 20L).map(i => i -> s"alpha tok${i % 3}").toDF("doc_id", "text"), dir, buckets = 2)
    val dst = tmp() + "/compacted"
    assert(CompactJob.run(Array(dir, dst, "1")) == 0)
    assert(SegmentIndex.readMeta(dst).n == 20L)
  }

  // ----------------------------------------------------------- SearchServer
  test("SearchServer: argument matrix (parseArgs is the exit-2 layer)") {
    assert(SearchServer.parseArgs(Array.empty).isLeft)
    assert(SearchServer.parseArgs(Array("--demon", "idx")).isLeft)
    assert(SearchServer.parseArgs(Array("idx", "80", "extra")).isLeft)
    assert(SearchServer.parseArgs(Array("idx", "notAPort")).isLeft)
    assert(SearchServer.parseArgs(Array("idx", "70000")).isLeft)
    assert(SearchServer.parseArgs(Array("idx")) == Right(("idx", 8080)))
    assert(SearchServer.parseArgs(Array("idx", "0")) == Right(("idx", 0)))
  }
}
