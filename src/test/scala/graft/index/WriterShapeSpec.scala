package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, input_file_name}

import graft.{JobShape, SparkTestBase}

/** The shape of the write paths, in Spark jobs and shuffle-writing stages:
  * every segment and sidecar writer reads the docstore's one-file-per-bucket
  * layout directly, so the only exchange a write pays for is the range
  * exchange that lays out new docstore rows.
  */
class WriterShapeSpec extends SparkTestBase with JobShape {

  private def tmpDir(): String = Files.createTempDirectory("graft-shape").toString

  private def docs(ids: Seq[Long], word: String) = {
    val sp = spark
    import sp.implicits._
    ids.map(i => (i, s"$word tok${i % 5} body$i", s"repo${i % 3}", "en")).toDF("doc_id", "text", "source", "lang")
  }

  test("build: only the docstore's range exchange writes shuffle bytes; the segment pass none") {
    val dir = tmpDir()
    val (ms, jobs, shuffles) = shape(SegmentIndex.build(docs(1L to 60L, "alpha"), dir, buckets = 3))
    assert(ms.map(_.bucket) == Seq(0, 1, 2))
    assert(jobs > 0)
    assert(shuffles.size == 1, s"shuffle-writing stages: $shuffles")
  }

  test("ensure on an index whose sidecars are all present starts no Spark job") {
    val dir = tmpDir()
    SegmentIndex.build(docs(1L to 60L, "alpha"), dir, buckets = 3)
    assert(DocSidecar.ensure(spark, dir) == Seq(0, 1, 2))
    val (written, jobs, _) = shape(DocSidecar.ensure(spark, dir))
    assert(written.isEmpty)
    assert(jobs == 0, s"ensure on a complete index ran $jobs Spark jobs")
  }

  test("writeBuckets writes no shuffle bytes and the same sidecar bytes as ensure") {
    val dir = tmpDir()
    SegmentIndex.build(docs(1L to 60L, "alpha"), dir, buckets = 3)
    DocSidecar.ensure(spark, dir)
    val before = (0 to 2).map(b => Files.readAllBytes(DocSidecar.sidecarPath(dir, b)).toSeq)
    val (written, jobs, shuffles) = shape(DocSidecar.writeBuckets(spark, dir, Seq(2, 0, 1)))
    assert(written == Seq(0, 1, 2))
    assert(jobs > 0)
    assert(shuffles.isEmpty, s"shuffle-writing stages: $shuffles")
    assert((0 to 2).map(b => Files.readAllBytes(DocSidecar.sidecarPath(dir, b)).toSeq) == before)
  }

  test("addDocuments on a serving index: only the docstore's range exchange writes shuffle bytes") {
    val dir = tmpDir()
    SegmentIndex.build(docs(1L to 40L, "alpha"), dir, buckets = 2)
    DocSidecar.ensure(spark, dir) // a serving index
    val (ms, _, shuffles) =
      shape(SegmentIndex.addDocuments(docs(41L to 70L, "bravo"), dir, newBuckets = 2))
    assert(ms.map(_.bucket) == Seq(2, 3))
    assert(shuffles.size == 1, s"shuffle-writing stages: $shuffles")
    val meta = SegmentIndex.readMeta(dir)
    assert(meta.n == 70L && meta.buckets == 4)
    assert(DocSidecar.sidecarFiles(dir).map(DocSidecar.sidecarBucket) == Seq(0, 1, 2, 3))
  }

  test("a docstore bucket copied into a second part file makes the sidecar writer fail loudly") {
    val dir = tmpDir()
    SegmentIndex.build(docs(1L to 40L, "alpha"), dir, buckets = 2)
    val file = spark.read.parquet(s"$dir/docstore").filter(col("bucket") === 1)
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSeq
    assert(file.size == 1)
    val src = Paths.get(java.net.URI.create(file.head))
    Files.copy(src, src.resolveSibling("part-99999-copy.parquet"))
    val ids = spark.read.parquet(src.toString).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    intercept[Exception](DocSidecar.writeBuckets(spark, dir, Seq(1)))
    // both copies' tasks may have written docs-00001.bin before the split
    // was seen: whatever is left holds the bucket's docs once each
    val sc = DocSidecar.sidecarPath(dir, 1)
    if (Files.exists(sc)) {
      val r = DocSidecar.openBucket(sc.toString)
      try assert(r.docIds.toSeq == ids) finally r.close()
    }
  }
}
