package graft.search

import java.net.{HttpURLConnection, URL, URLEncoder}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.app.SearchServer
import graft.core.Bm25
import graft.index.{DocSidecar, IndexBuilder, SegmentIndex}
import graft.index.DocSidecar.{DocMeta, DocRow}

/** Table-driven parity of every query family × filter × tier against one
  * definition of the answer: the dataflow `SearchEngine`'s full ranking
  * (the oracle twin), filtered by the predicate, then cut to k. The filter
  * only restricts candidates, so that is the exact filtered top-k.
  *
  * Families: q (the reference language), phrase, prefix, wildcard, fuzzy.
  * Filters: none, `lang=en`; for q and phrase also a selective `source=`
  * (12.5% of docs, checked before a phrase reads any text); for q a source
  * on fewer than k docs in the whole index, which the top-k collector must
  * fill from the bottom of the ranking. Tiers: the
  * serving evaluator (`ServingEngine.evaluate`), the batch evaluator
  * (`SegmentSearch.evaluate`) and HTTP `/search`.
  *
  * Corpus: a seeded multi-segment index whose dense terms carry more than
  * 128 postings per segment (posting lists span several blocks, so WAND's
  * block-max skipping is live) and whose docs come in exact replicas (equal
  * scores — epsilon ties straddle the k cut). Replicas differ in `lang`, so a
  * filter splits tie groups.
  */
class QueryParitySpec extends SparkTestBase {

  private val K = 5 // above the replica count: a tie group straddles the cut
  private val Replicas = 4
  private val Langs = Seq("en", "de", "fr")
  private val Words = Seq("scan", "scale", "scalar", "sort", "merge", "merger", "order", "filter",
    "hash", "hashed", "join", "joiner", "table", "row", "rows", "data", "date", "stream")

  /** (doc_id, text, source, lang): 300 seeded base texts x 4 exact replicas;
    * the first two replicas of bases 42 and 192 carry the source "rare".
    */
  private lazy val docs: Seq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(7)
    val bases = (0 until 300).map { _ =>
      (0 until 6 + rnd.nextInt(30)).map(_ => Words(rnd.nextInt(Words.size))).mkString(" ")
    }
    for {
      rep <- 0 until Replicas
      (text, i) <- bases.zipWithIndex
    } yield {
      val source = if (i % 150 == 42 && rep < 2) Rare else s"src${i % 8}"
      (rep * 1000L + i, text, source, Langs((i + rep) % Langs.size))
    }
  }
  private val Rare = "rare"
  private lazy val rowOf: Map[Long, DocRow] = docs.map(d => d._1 -> DocRow(d._2, d._3, d._4)).toMap

  private lazy val docsFrame = {
    val sp = spark
    import sp.implicits._
    docs.toDF("doc_id", "text", "source", "lang")
  }
  private lazy val oracle = new SearchEngine(IndexBuilder.build(docsFrame).cache())
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-parity").toString
    SegmentIndex.build(docsFrame, d, buckets = 3)
    d
  }
  private var started: Option[SearchServer.Running] = None
  private def server: SearchServer.Running = started.getOrElse {
    val s = SearchServer.start(SearchServer.loadState(dir), 0)
    started = Some(s)
    s
  }

  override def afterAll(): Unit = {
    try started.foreach(_.stop()) finally super.afterAll()
  }

  private val Queries: Seq[(String, Seq[String])] = Seq(
    "q" -> Seq("scan merge", "hash OR join -filter", "table row data", "zzzz"),
    "phrase" -> Seq("scan merge", "hash join table", "rows data"),
    "prefix" -> Seq("sca", "ro", "zz"),
    "wildcard" -> Seq("*er", "s*e", "*a*"),
    "fuzzy" -> Seq("dat", "rowz", "hasx"))
  private val Filters: Seq[(String, Option[Query.Filter])] =
    Seq("none" -> None, "lang=en" -> Query.Filter.of(Some("en"), None))
  /** Filter rows run for the q family; the first also for phrase. */
  private val QFilters: Seq[(String, Option[Query.Filter])] = Seq(
    "source=src3" -> Query.Filter.of(None, Some("src3")),
    s"source=$Rare" -> Query.Filter.of(None, Some(Rare)))

  private def ranked(family: String, raw: String): IndexedSeq[(Long, Double)] = {
    val scored = family match {
      case "q" => oracle.scoredDF(raw)
      case "phrase" => oracle.phraseScoredDF(raw)
      case "prefix" => oracle.prefixScoredDF(raw)
      case "wildcard" => oracle.wildcardScoredDF(raw)
      case "fuzzy" => oracle.fuzzyScoredDF(raw)
    }
    Bm25.sortHits(scored.collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getDouble(r.fieldIndex("score")))).toIndexedSeq)
  }

  private def expected(family: String, raw: String, filter: Option[Query.Filter]): Seq[(Long, Double)] =
    ranked(family, raw).filter { case (id, _) => filter.forall(_.accepts(rowOf(id).meta)) }.take(K)

  private def serving(family: String, raws: Seq[String], filter: Option[Query.Filter]): Seq[Seq[(Long, Double)]] = {
    val st = server.current
    raws.map(raw => st.engine.evaluate(Query.parse(family, raw), K, st.docs, filter))
  }

  private def batch(family: String, raws: Seq[String], filter: Option[Query.Filter]): Seq[Seq[(Long, Double)]] = {
    val res = SegmentSearch.evaluate(spark, dir, raws.map(Query.parse(family, _)), K, filter)
    raws.indices.map(res)
  }

  private def http(family: String, raws: Seq[String], filter: Option[Query.Filter]): Seq[Seq[(Long, Double)]] =
    raws.map { raw =>
      val url = s"http://127.0.0.1:${server.port}/search?$family=${URLEncoder.encode(raw, "UTF-8")}&k=$K" +
        filter.flatMap(_.lang).fold("")(l => s"&lang=$l") +
        filter.flatMap(_.source).fold("")(s => s"&source=$s")
      val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(2000)
      conn.setReadTimeout(10000)
      assert(conn.getResponseCode == 200, url)
      val body = try new String(conn.getInputStream.readAllBytes(), "UTF-8") finally conn.disconnect()
      val ids = """"docId":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      val scores = """"score":([-0-9.E]+)""".r.findAllMatchIn(body).map(_.group(1).toDouble).toSeq
      ids.zip(scores)
    }

  private val Tiers: Seq[(String, (String, Seq[String], Option[Query.Filter]) => Seq[Seq[(Long, Double)]])] =
    Seq("serving" -> serving, "batch" -> batch, "http" -> http)

  test("parity corpus: multi-block posting lists, several segments, replica ties") {
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.liveSegmentFiles(dir, meta).map(SegmentIndex.loadSegment(_))
    assert(segs.size == 3)
    segs.foreach(seg => assert(seg.terms("scan").df > 128 && seg.terms("scan").blocks.size > 1))
    // the k-th hit of a dense query ties with the (k+1)-th: an equal-score
    // replica group straddles the cut
    val all = ranked("q", "scan merge")
    assert(all.size > K && all(K - 1)._2 == all(K)._2)
    // the selective filter keeps under 15% of the docs; the rare one fewer
    // than k in the whole index
    assert(docs.count(_._3 == "src3") < docs.size * 15 / 100)
    assert(docs.count(_._3 == Rare) < K)
  }

  private val Rows: Seq[(String, Seq[String], String, Option[Query.Filter])] =
    (for ((family, raws) <- Queries; (fname, f) <- Filters) yield (family, raws, fname, f)) ++
      QFilters.map { case (fname, f) => ("q", Queries.head._2, fname, f) } :+
      ("phrase", Queries(1)._2, QFilters.head._1, QFilters.head._2)

  for {
    (family, raws, fname, filter) <- Rows
    (tier, run) <- Tiers
  } test(s"parity: $family, filter $fname, $tier") {
    val want = raws.map(expected(family, _, filter))
    assert(want.exists(_.nonEmpty), "vacuous row: no query has an answer")
    run(family, raws, filter).zip(want).zip(raws).foreach { case ((got, exp), raw) =>
      assert(got.map(_._1) == exp.map(_._1), s"$family '$raw' ($fname, $tier): docIds")
      got.zip(exp).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) <= 1e-9, s"$family '$raw' ($fname, $tier): score $a vs $b")
      }
    }
  }

  test("phrase text reads on serving: counted per query at k=5 and k=10, never above the AND matches") {
    val st = server.current
    for (k <- Seq(K, 2 * K); raw <- Queries(1)._2) {
      val reads = new AtomicInteger(0)
      val counted = new DocSidecar.Docs {
        def apply(docId: Long): Option[DocRow] = { reads.incrementAndGet(); st.docs(docId) }
        def meta(docId: Long): DocMeta = st.docs.meta(docId)
      }
      val got = st.engine.evaluate(Query.parse("phrase", raw), k, counted)
      assert(got.map(_._1) == ranked("phrase", raw).take(k).map(_._1), s"phrase '$raw' k=$k")
      val andMatches = ranked("q", raw).size
      assert(reads.get > 0 && reads.get <= andMatches, s"phrase '$raw' k=$k: ${reads.get} reads")
      info(s"phrase '$raw' k=$k: ${reads.get} text reads of $andMatches AND matches")
    }
  }
}
