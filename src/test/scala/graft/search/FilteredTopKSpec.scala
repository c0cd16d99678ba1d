package graft.search

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.core.{Bm25, QueryParser}
import graft.index.{DocSidecar, SegmentIndex}

/** The serving tier's filtered top-k (`ServingEngine.searchFiltered`): the
  * predicate runs inside each segment's WAND collector under a per-segment
  * check budget of ⌈maxVerify / segments⌉. Four segments and one request in
  * flight, so every call takes the parallel segment fan-out. A phrase's
  * adjacency check is the same collector predicate (`ServingEngine.evaluate`).
  */
class FilteredTopKSpec extends SparkTestBase {

  private val Words = Seq("scan", "merge", "sort", "hash", "join", "table", "row", "data")

  /** Seeded texts in which "data" is never directly followed by "scan". */
  private lazy val texts: Map[Long, String] = {
    val rnd = new scala.util.Random(11)
    (1L to 2000L).map { id =>
      id -> (0 until 4 + rnd.nextInt(12)).map(_ => Words(rnd.nextInt(Words.size))).mkString(" ")
        .replace("data scan", "data row scan")
    }.toMap
  }

  private lazy val engine: SegmentSearch.ServingEngine = {
    val sp = spark
    import sp.implicits._
    val docs = texts.toSeq.sortBy(_._1).map { case (id, text) => (id, text, "src", "en") }
      .toDF("doc_id", "text", "source", "lang")
    val dir = Files.createTempDirectory("graft-filtered-topk").toString
    SegmentIndex.build(docs, dir, buckets = 4)
    val meta = SegmentIndex.readMeta(dir)
    new SegmentSearch.ServingEngine(
      SegmentIndex.liveSegmentFiles(dir, meta).map(SegmentIndex.loadSegment(_)).toIndexedSeq, meta)
  }
  private val pq = QueryParser.parse("scan OR merge")

  test("filtered top-k over 4 segments equals the filtered full ranking, on fan-out threads") {
    assert(engine.segments.size == 4)
    val caller = Thread.currentThread()
    val offThread = new AtomicInteger(0)
    val pred = (id: Long) => {
      if (Thread.currentThread() ne caller) offThread.incrementAndGet()
      id % 7 == 0
    }
    val full = engine.search(pq, Int.MaxValue)
    assert(full.size > 1000, "dense query expected")
    val want = full.filter { case (id, _) => id % 7 == 0 }.take(10)
    assert(engine.searchFiltered(pq, 10, pred) == want)
    assert(offThread.get > 0, "the parallel segment fan-out ran no check")
  }

  test("maxVerify bound: a never-matching predicate is called at most maxVerify + segments times") {
    for (m <- Seq(1, 10, 33)) {
      val calls = new AtomicInteger(0)
      val got = engine.searchFiltered(pq, 10, _ => { calls.incrementAndGet(); false }, maxVerify = m)
      assert(got.isEmpty)
      assert(calls.get > 0 && calls.get <= m + engine.segments.size, s"maxVerify=$m: ${calls.get} calls")
    }
  }

  test("bound hit: a predicate accepting a few docs returns one ranking in 20 repetitions") {
    // k=3 fills each segment's heap within its budget, so the threshold
    // decides which later candidates are checked: a threshold shared across
    // the parallel segments would make the answer depend on thread timing
    val pred = (id: Long) => id % 5 == 0
    val maxVerify = 80
    val calls = new AtomicInteger(0)
    val first = engine.searchFiltered(pq, 3, id => { calls.incrementAndGet(); pred(id) }, maxVerify)
    assert(calls.get == maxVerify, "every segment spends its budget")
    assert(first.size == 3 && first.forall { case (id, _) => pred(id) })
    assert(Bm25.sortHits(first) == first)
    (1 to 20).foreach(i => assert(engine.searchFiltered(pq, 3, pred, maxVerify) == first, s"repetition $i"))
  }

  test("phrase never adjacent: at most maxVerify + segments text reads, and every AND match read once unbounded") {
    val phrase = Query.parse("phrase", "data scan")
    val andMatches = engine.search(QueryParser.parse("data scan"), Int.MaxValue).size
    assert(andMatches > 500, "dense terms expected")
    def reading(reads: AtomicInteger) = DocSidecar.Docs(id => {
      reads.incrementAndGet()
      texts.get(id).map(DocSidecar.DocRow(_, "src", "en"))
    })
    for (m <- Seq(1, 10, 33)) {
      val reads = new AtomicInteger(0)
      assert(engine.evaluate(phrase, 10, reading(reads), maxVerify = m).isEmpty)
      assert(reads.get > 0 && reads.get <= m + engine.segments.size, s"maxVerify=$m: ${reads.get} reads")
    }
    val reads = new AtomicInteger(0)
    assert(engine.evaluate(phrase, 10, reading(reads)).isEmpty)
    assert(reads.get == andMatches)
  }

  test("filtered phrase: a filter that rejects every doc makes zero text reads") {
    val reads = new AtomicInteger(0)
    val metas = new AtomicInteger(0)
    val docs = new DocSidecar.Docs {
      def apply(docId: Long): Option[DocSidecar.DocRow] = {
        reads.incrementAndGet()
        texts.get(docId).map(DocSidecar.DocRow(_, "src", "en"))
      }
      def meta(docId: Long): DocSidecar.DocMeta = { metas.incrementAndGet(); DocSidecar.DocMeta("src", "en") }
    }
    val got = engine.evaluate(Query.parse("phrase", "scan merge"), 10, docs, Query.Filter.of(Some("fr"), None))
    assert(got.isEmpty)
    assert(metas.get > 0)
    assert(reads.get == 0)
  }
}
