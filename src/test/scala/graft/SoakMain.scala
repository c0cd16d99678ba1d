package graft

import java.nio.file.Files
import scala.util.Random

import graft.core.RefEngine
import graft.index.{BlockCodec, SegmentIndex}
import graft.search.SegmentSearch

/** Deep randomized soak: WAND-over-segments vs the pure RefEngine oracle on
  * random corpora, random bucket counts, random queries (AND/OR/NOT/dup
  * terms/absent terms), every k ∈ {1, 3, 10, ∞} — far past the committed
  * suite's slice (`graft.search.WandKernelSpec`), drawn from the same
  * generator (`KernelCorpus`): each trial picks a shape (small single-block,
  * dense multi-block, Zipf-skewed) and a codec (varint, PFOR). Also
  * add-parity: the same corpus split into base+incremental must serve
  * bit-identical scores to the full rebuild. Usage: `sbt 'Test/runMain graft.SoakMain <trials> [seed]'`.
  * Prints one line per 20 trials and exits nonzero on the first mismatch.
  */
object SoakMain {
  def main(args: Array[String]): Unit = {
    val trials = args.headOption.map(_.toInt).getOrElse(100)
    val seed = args.lift(1).map(_.toLong).getOrElse(System.nanoTime())
    println(s"[soak] trials=$trials seed=$seed")
    val spark = graft.spark.Sessions.local(8, 8, "graft-soak")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rnd = new Random(seed)

    def docsDF(docs: Seq[(Long, String)]) = docs.toDF("doc_id", "text")

    var t = 0
    while (t < trials) {
      val shape = KernelCorpus.Shapes(rnd.nextInt(KernelCorpus.Shapes.size))
      val codec = if (rnd.nextBoolean()) BlockCodec.CodecVarint else BlockCodec.CodecPfor
      val corpus = KernelCorpus.corpus(shape, rnd)
      val docs = corpus.docs
      val nDocs = docs.size
      val buckets = 1 + rnd.nextInt(5)
      val dir = { val p = Files.createTempDirectory("graft-soak"); p.toString }
      SegmentIndex.build(docsDF(docs), dir, buckets, codec = codec)
      val meta = SegmentIndex.readMeta(dir)
      val segs = SegmentIndex.liveSegmentFiles(dir, meta).map(SegmentIndex.loadSegment(_))
      val ref = new RefEngine
      docs.foreach { case (id, x) => ref.addDocument(id, x) }

      val queries = KernelCorpus.queries(corpus, rnd, 8)
      for (q <- queries) {
        val exp = ref.searchScored(q)
        for (k <- KernelCorpus.Ks) {
          val got = SegmentSearch.searchBatchInMemory(segs, meta, Seq(q), k)(0)
          val expK = exp.take(k)
          if (got.map(_._1) != expK.map(_._1)) {
            System.err.println(s"[soak] RANK MISMATCH seed=$seed trial=$t $shape/$codec q='$q' k=$k\n got=$got\n exp=$expK\n docs=$docs")
            sys.exit(1)
          }
          got.zip(expK).foreach { case ((_, a), (_, b)) =>
            if (math.abs(a - b) >= 1e-9) {
              System.err.println(s"[soak] SCORE DRIFT seed=$seed trial=$t q='$q' k=$k: $a vs $b")
              sys.exit(1)
            }
          }
        }
      }

      // add-parity: base+delta increments == full rebuild, bit-identical
      if (nDocs >= 6 && rnd.nextInt(3) == 0) {
        val cut = 1 + rnd.nextInt(nDocs - 2)
        val (base, delta) = docs.splitAt(cut)
        val dirInc = Files.createTempDirectory("graft-soak-inc").toString
        SegmentIndex.build(docsDF(base), dirInc, buckets, codec = codec)
        SegmentIndex.addDocuments(docsDF(delta), dirInc, newBuckets = 1 + rnd.nextInt(3))
        val mInc = SegmentIndex.readMeta(dirInc)
        val segsInc = SegmentIndex.liveSegmentFiles(dirInc, mInc).map(SegmentIndex.loadSegment(_))
        for (q <- queries.take(4)) {
          val a = SegmentSearch.searchBatchInMemory(segsInc, mInc, Seq(q), 50)(0)
          val b = SegmentSearch.searchBatchInMemory(segs, meta, Seq(q), 50)(0)
          if (a != b) {
            System.err.println(s"[soak] ADD-PARITY MISMATCH seed=$seed trial=$t q='$q'\n inc=$a\n full=$b")
            sys.exit(1)
          }
        }
        graft.TestSweep.rmrf(dirInc)
      }
      // dataflow tier vs the oracle too (a Spark job per query — sampled,
      // not every trial; enable densely with SPARK_GRAFT_SOAK_DATAFLOW=1)
      val dataflowEvery = if (sys.env.get("SPARK_GRAFT_SOAK_DATAFLOW").contains("1")) 1 else 10
      if (t % dataflowEvery == 0) {
        val eng = new graft.search.SearchEngine(
          graft.index.IndexBuilder.build(docsDF(docs)))
        for (q <- queries.take(3)) {
          val exp = ref.searchScored(q)
          val got = eng.searchScored(q)
          if (got.map(_._1) != exp.map(_._1)) {
            System.err.println(s"[soak] DATAFLOW RANK MISMATCH seed=$seed trial=$t $shape/$codec q='$q'\n got=$got\n exp=$exp")
            sys.exit(1)
          }
          got.zip(exp).foreach { case ((_, a), (_, b)) =>
            if (math.abs(a - b) >= 1e-9) {
              System.err.println(s"[soak] DATAFLOW SCORE DRIFT seed=$seed trial=$t q='$q': $a vs $b")
              sys.exit(1)
            }
          }
        }
      }
      graft.TestSweep.rmrf(dir)
      t += 1
      if (t % 20 == 0) println(s"[soak] $t/$trials clean")
    }
    println(s"[soak] PASS: $trials trials, seed=$seed")
    spark.stop()
  }
}

/** tiny rm -rf helper shared by the soak (tmpfs hygiene) */
object TestSweep {
  def rmrf(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
  }
}
