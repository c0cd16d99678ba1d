package graft.app

import java.net.{HttpURLConnection, URL}
import java.nio.file.Files

import scala.collection.parallel.CollectionConverters._

import graft.SparkTestBase
import graft.core.Bm25
import graft.index.SegmentIndex
import graft.search.SegmentSearch

/** Runtime spec for the HTTP serving endpoint (the reference's runtime tests,
  * /root/reference/tests/test_runtime_*.cpp, in spirit): start, gate on
  * /health, assert ranked parity with the in-memory engine, k semantics.
  */
class ServerSpec extends SparkTestBase {

  private def get(url: String): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(2000)
    conn.setReadTimeout(10000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("server: /health gates readiness; /search matches the engine; k clamped") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie", "repoA", "en"),
      (2L, "alpha alpha delta", "repoB", "de"),
      (3L, "bravo charlie delta echo", "repoA", "en"),
      (4L, "charlie delta echo foxtrot", "repoC", "fr"),
      (5L, "alpha echo", "repoB", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val dir = Files.createTempDirectory("graft-server").toString
    SegmentIndex.build(docs, dir, buckets = 2)

    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.liveSegmentFiles(dir).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    val engine = new SegmentSearch.ServingEngine(segs, meta)
    val docMap = spark.read.parquet(s"$dir/docstore")
      .select("doc_id", "text", "source", "lang")
      .collect()
      .map(r => r.getLong(0) -> SearchServer.DocRow(r.getString(1), r.getString(2), r.getString(3)))
      .toMap

    val server = SearchServer.start(engine, docMap.get, port = 0)
    val base = s"http://127.0.0.1:${server.port}"
    try {
      // health gate (poll like a real client would)
      var healthy = false
      var tries = 0
      while (!healthy && tries < 50) {
        try { healthy = get(s"$base/health") == ((200, "OK")) }
        catch { case _: Exception => Thread.sleep(50) }
        tries += 1
      }
      assert(healthy, "/health never returned 200 OK")

      // ranked JSON parity with the in-memory engine
      val (code, body) = get(s"$base/search?q=alpha+delta&k=3")
      assert(code == 200)
      val expected = engine.search("alpha delta", 3)
      val gotIds = """"docId":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      assert(gotIds == expected.map(_._1), s"body=$body expected=$expected")
      val gotScores = """"score":([-0-9.E]+)""".r.findAllMatchIn(body).map(_.group(1).toDouble).toSeq
      expected.map(_._2).zip(gotScores).foreach { case (e, g) => assert(math.abs(e - g) < 1e-12) }
      // metadata decorates every hit
      assert(""""source":"repo[ABC]"""".r.findAllIn(body).size == gotIds.size)
      assert(""""lang":"(en|de|fr)"""".r.findAllIn(body).size == gotIds.size)
      assert(body.contains(""""snippet":""""))

      // k = max(1, k): k=0 still returns one hit
      val (_, k0) = get(s"$base/search?q=alpha&k=0")
      assert(""""docId":""".r.findAllIn(k0).size == 1)
      // default k = 10 (more hits than matches -> all matches)
      val (_, dflt) = get(s"$base/search?q=alpha")
      assert(""""docId":""".r.findAllIn(dflt).size == engine.search("alpha", 10).size)
      // invalid k ignored -> default
      val (cInv, _) = get(s"$base/search?q=alpha&k=zz")
      assert(cInv == 200)
      // empty / no-match queries return empty results
      assert(get(s"$base/search?q=")._2.contains(""""results":[]"""))
      assert(get(s"$base/search?q=zzznotaword")._2.contains(""""results":[]"""))

      // drain semantics: beginShutdown flips /health to 503 while /search
      // still answers (reference g_shutdown_in_progress behavior)
      server.beginShutdown()
      assert(get(s"$base/health")._1 == 503)
      assert(get(s"$base/search?q=alpha")._1 == 200)
      // back-compat servers (no reloader) answer 501 on /reload
      assert(get(s"$base/reload")._1 == 501)
    } finally server.stop()
  }

  test("built-in UI: served at / and /ui, speaks the API contract; unknown paths 404") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "alpha bravo", "repoA", "en")).toDF("doc_id", "text", "source", "lang")
    val dir = Files.createTempDirectory("graft-server-ui").toString
    SegmentIndex.build(docs, dir, buckets = 1)
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.liveSegmentFiles(dir).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    val server = SearchServer.start(new SegmentSearch.ServingEngine(segs, meta),
      _ => Some(SearchServer.DocRow("alpha bravo", "repoA", "en")), port = 0)
    val base = s"http://127.0.0.1:${server.port}"
    try {
      Seq("/", "/ui").foreach { p =>
        val (code, body) = get(s"$base$p")
        assert(code == 200, p)
        assert(body.contains("<!doctype html>") && body.contains("graft search"), p)
        // the page drives the documented endpoints — it must reference them
        // all, as RELATIVE urls (the same page mounts on the tenant gateway)
        Seq("\"search?", "\"health\"", "\"suggest?", "\"didyoumean?").foreach(e =>
          assert(body.contains(e), s"$p missing $e"))
        assert(!body.contains("\"/search"), s"$p must use relative endpoint urls")
      }
      val (nf, nfBody) = get(s"$base/definitely-not-a-route")
      assert(nf == 404 && nfBody.contains("not found"))
    } finally server.stop()
  }

  test("phrase extension: /search?phrase= filters to adjacent matches; q= untouched") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "red green blue end", "r", "en"),
      (2L, "green red x blue", "r", "en"), // all terms, not adjacent
      (3L, "red green only", "r", "en"), // missing blue
      (4L, "start red green blue", "r", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val dir = Files.createTempDirectory("graft-server-phrase").toString
    SegmentIndex.build(docs, dir, buckets = 2)
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.liveSegmentFiles(dir).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    val engine = new SegmentSearch.ServingEngine(segs, meta)
    val docMap = spark.read.parquet(s"$dir/docstore")
      .select("doc_id", "text", "source", "lang")
      .collect()
      .map(r => r.getLong(0) -> SearchServer.DocRow(r.getString(1), r.getString(2), r.getString(3)))
      .toMap

    // engine-level: the AND top-k with adjacency checked in the collector
    val got = engine.searchPhrase("red green blue", 10, id => docMap.get(id).map(_.text))
    assert(got.map(_._1).toSet == Set(1L, 4L))
    // phrase scores == AND scores of the constituent terms (filter-only)
    val andScores = engine.search("red green blue", 10).toMap
    got.foreach { case (id, s) => assert(s == andScores(id)) }
    // k=1 returns exactly the best verified hit
    val top1 = engine.searchPhrase("red green blue", 1, id => docMap.get(id).map(_.text))
    assert(top1 == got.take(1))
    // maxVerify hard cap: each segment checks at most ⌈1 / segments⌉ = 1
    // candidate in doc order, so the result is a best-effort subset of the
    // exact answer (the cap counts CHECKED candidates, not verified hits)
    val textCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val capped = engine.searchPhrase("red green blue", 10,
      id => { textCalls.incrementAndGet(); docMap.get(id).map(_.text) }, maxVerify = 1)
    assert(textCalls.get <= 1 + segs.size, s"${textCalls.get} text calls")
    capped.foreach { case (id, score) => assert(got.toMap.get(id).contains(score), s"$id not in $got") }
    assert(Bm25.sortHits(capped) == capped)

    val server = SearchServer.start(engine, docMap.get, port = 0)
    val base = s"http://127.0.0.1:${server.port}"
    try {
      var tries = 0
      while (get(s"$base/health")._1 != 200 && tries < 50) { Thread.sleep(50); tries += 1 }
      // HTTP parity with the engine call
      val (code, body) = get(s"$base/search?phrase=red+green+blue&k=10")
      assert(code == 200)
      val ids = """"docId":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      assert(ids == got.map(_._1), s"body=$body")
      assert(body.contains(""""snippet":"""")) // snippets decorate from phrase terms
      // non-phrase q= keeps plain AND semantics (doc 2 comes back)
      val (_, andBody) = get(s"$base/search?q=red+green+blue&k=10")
      val andIds = """"docId":(\d+)""".r.findAllMatchIn(andBody).map(_.group(1).toLong).toSeq
      assert(andIds.toSet == Set(1L, 2L, 4L))
      // unmatched phrase -> empty results, 200
      assert(get(s"$base/search?phrase=blue+red")._2.contains(""""results":[]"""))

      // prefix extension: dictionary expansion over segments, OR scoring
      // ("e" expands to "end" -> doc 1 only; parity with the plain term)
      assert(engine.searchPrefix("e", 10) == engine.search("end", 10))
      assert(engine.searchPrefix("zz", 10).isEmpty)
      assert(engine.searchPrefix("a b", 10).isEmpty) // not a single token
      val (pc, pBody) = get(s"$base/search?prefix=e&k=10")
      assert(pc == 200)
      assert(""""docId":(\d+)""".r.findAllMatchIn(pBody).map(_.group(1).toLong).toSeq == Seq(1L))

      // fuzzy extension: "gren" is distance 1 from "green" -> parity with
      // the engine's own expansion
      val fuzzyExpect = engine.searchFuzzy("gren", 10)
      assert(fuzzyExpect.map(_._1) == engine.search("green", 10).map(_._1))
      val (fc, fBody) = get(s"$base/search?fuzzy=gren&k=10")
      assert(fc == 200)
      assert(""""docId":(\d+)""".r.findAllMatchIn(fBody).map(_.group(1).toLong).toSeq ==
        fuzzyExpect.map(_._1))
      assert(get(s"$base/search?fuzzy=zzzzzz")._2.contains(""""results":[]"""))

      // wildcard extension: glob expansion ("*een" -> "green"); parity with
      // the engine's own expansion; URL-encoded '*' works too
      val wildExpect = engine.searchWildcard("*een", 10)
      assert(wildExpect.map(_._1) == engine.search("green", 10).map(_._1))
      val (wc, wBody) = get(s"$base/search?wildcard=%2Aeen&k=10")
      assert(wc == 200)
      assert(""""docId":(\d+)""".r.findAllMatchIn(wBody).map(_.group(1).toLong).toSeq ==
        wildExpect.map(_._1))
      assert(get(s"$base/search?wildcard=zz%2Azz")._2.contains(""""results":[]"""))
    } finally server.stop()
  }

  test("suggest + filters + metrics: the Phase 6/9 endpoints") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie", "repoA", "en"),
      (2L, "alpha alpha delta", "repoB", "de"),
      (3L, "bravo charlie delta echo", "repoA", "en"),
      (4L, "charlie delta echo foxtrot", "repoC", "fr"),
      (5L, "alpha echo", "repoB", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val dir = Files.createTempDirectory("graft-server-ext").toString
    SegmentIndex.build(docs, dir, buckets = 2)
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.liveSegmentFiles(dir).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    val engine = new SegmentSearch.ServingEngine(segs, meta)
    val docMap = spark.read.parquet(s"$dir/docstore")
      .select("doc_id", "text", "source", "lang")
      .collect()
      .map(r => r.getLong(0) -> SearchServer.DocRow(r.getString(1), r.getString(2), r.getString(3)))
      .toMap

    val server = SearchServer.start(engine, docMap.get, port = 0)
    val base = s"http://127.0.0.1:${server.port}"
    try {
      var tries = 0
      while (get(s"$base/health")._1 != 200 && tries < 50) { Thread.sleep(50); tries += 1 }

      // /suggest: global df desc, term asc; k truncates; empty prefix -> []
      // dfs here: charlie/delta/echo = 3, alpha = 3, bravo = 2, foxtrot = 1
      val (sc, sBody) = get(s"$base/suggest?q=c&k=5")
      assert(sc == 200)
      assert(sBody.contains(""""term":"charlie","df":3"""), sBody)
      val (_, eBody) = get(s"$base/suggest?q=e&k=5")
      assert(eBody.contains(""""term":"echo","df":3"""), eBody)
      assert(get(s"$base/suggest?q=zz")._2.contains(""""suggestions":[]"""))
      // k=1 truncation on a multi-term prefix: 'b' -> bravo only (df 2)
      val (_, bBody) = get(s"$base/suggest?q=b&k=1")
      assert(""""term":"""".r.findAllIn(bBody).size == 1)

      // /didyoumean: exact term passes through; a typo corrects to the
      // highest-df neighbor; an unknown word returns itself with df 0
      val (dc, dBody) = get(s"$base/didyoumean?q=alpha+alphx+zzzz")
      assert(dc == 200)
      assert(dBody.contains(""""term":"alpha","suggestion":"alpha","df":3"""), dBody)
      assert(dBody.contains(""""term":"alphx","suggestion":"alpha","df":3"""), dBody)
      assert(dBody.contains(""""term":"zzzz","suggestion":"zzzz","df":0"""), dBody)

      // /search?lang= filter: candidates restricted BEFORE truncation,
      // parity with the engine-level searchFiltered
      val expect = engine.searchFiltered(
        graft.core.QueryParser.parse("alpha"), 10,
        id => docMap.get(id).exists(_.lang == "en"))
      val (fc, fBody) = get(s"$base/search?q=alpha&lang=en&k=10")
      assert(fc == 200)
      val fIds = """"docId":(\d+)""".r.findAllMatchIn(fBody).map(_.group(1).toLong).toSeq
      assert(fIds == expect.map(_._1), s"body=$fBody expected=$expect")
      assert(fIds.toSet == Set(1L, 5L)) // doc 2 is 'de'
      // source filter + combined filters
      val (_, srcBody) = get(s"$base/search?q=delta&source=repoB&k=10")
      assert(""""docId":(\d+)""".r.findAllMatchIn(srcBody).map(_.group(1).toLong).toSeq == Seq(2L))
      val (_, bothBody) = get(s"$base/search?q=charlie&lang=en&source=repoA&k=10")
      assert(""""docId":(\d+)""".r.findAllMatchIn(bothBody).map(_.group(1).toLong).toSeq.toSet == Set(1L, 3L))
      // filtered prefix and filtered phrase compose
      val (_, pfBody) = get(s"$base/search?prefix=d&lang=fr&k=10")
      assert(""""docId":(\d+)""".r.findAllMatchIn(pfBody).map(_.group(1).toLong).toSeq == Seq(4L))
      val (_, phBody) = get(s"$base/search?phrase=alpha+bravo&lang=en&k=10")
      assert(""""docId":(\d+)""".r.findAllMatchIn(phBody).map(_.group(1).toLong).toSeq == Seq(1L))
      val (_, phNone) = get(s"$base/search?phrase=alpha+bravo&lang=fr&k=10")
      assert(phNone.contains(""""results":[]"""))

      // /metrics: counters moved, latency window filled, index info present
      val (mc, mBody) = get(s"$base/metrics")
      assert(mc == 200, mBody)
      def field(name: String): Long =
        s""""$name":(\\d+)""".r.findFirstMatchIn(mBody).map(_.group(1).toLong)
          .getOrElse(fail(s"missing $name in $mBody"))
      assert(field("search") >= 6L, mBody) // the /search calls above
      assert(field("suggest") >= 4L, mBody)
      assert(field("health") >= 1L, mBody)
      assert(field("errors") == 0L, mBody)
      assert(field("window") >= 6L, mBody) // latency samples recorded
      assert(field("p50") >= 1L, mBody)
      assert(field("docs") == 5L, mBody)
      assert(field("segments") == segs.size.toLong, mBody)
      assert(field("generation") == 1L, mBody) // no reload yet
    } finally server.stop()
  }

  test("parseQuery: an illegal escape throws MalformedQuery") {
    assert(SearchServer.parseQuery("q=a+b&k=3&flag") == Map("q" -> "a b", "k" -> "3", "flag" -> ""))
    Seq("q=%zz", "q=alpha&lang=%e", "a%zzb").foreach { raw =>
      assertThrows[SearchServer.MalformedQuery](SearchServer.parseQuery(raw))
    }
  }

  // The JDK HttpServer rejects these request lines (an illegal escape is not
  // a valid URI) and answers 400 itself, before any handler runs; the
  // handlers' MalformedQuery -> 400 mapping is reached only by a query string
  // the server passes through, and the test above pins the decode.
  test("malformed query strings: 400 on every parameter route, not counted as errors") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "alpha bravo", "acme", "en"), (2L, "alpha charlie", "acme", "de"))
      .toDF("doc_id", "text", "source", "lang")
    val dir = Files.createTempDirectory("graft-server-400").toString
    SegmentIndex.build(docs, dir, buckets = 1)
    val root = Files.createTempDirectory("graft-tenants-400").toString
    graft.index.TenantCatalog.buildAll(docs, root, buckets = 1)

    val server = SearchServer.start(SearchServer.loadState(dir), 0)
    val gateway = TenantServer.start(root, port = 0, maxLoaded = 1)
    try {
      val base = s"http://127.0.0.1:${server.port}"
      Seq("/search?q=%zz", "/search?q=alpha&lang=%e", "/suggest?q=%zz", "/didyoumean?q=a%zzb")
        .foreach(p => assert(get(base + p)._1 == 400, p))
      assert(get(s"$base/search?q=alpha")._1 == 200)
      val (_, mBody) = get(s"$base/metrics")
      assert(mBody.contains(""""errors":0"""), mBody)

      val gw = s"http://127.0.0.1:${gateway.port}"
      Seq("/search?tenant=acme&q=%zz", "/search?tenant=%zz&q=alpha", "/reload?tenant=%zz")
        .foreach(p => assert(get(gw + p)._1 == 400, p))
      assert(get(s"$gw/search?tenant=acme&q=alpha")._1 == 200)
    } finally {
      server.stop()
      gateway.stop()
    }
  }

  test("sidecar serving: loadState pins dictionaries only; decoration parity with a pinned doc map") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 50L).map(i =>
      (i, s"alpha bravo tok${i % 7} " + ("pad " * 30), s"repo${i % 4}", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "source", "lang")
    val dir = Files.createTempDirectory("graft-sidecar-srv").toString
    SegmentIndex.build(docs, dir, buckets = 2)

    val state = SearchServer.loadState(dir) // backfills sidecars, no text pin
    val server = SearchServer.start(state, port = 0, reloader = None)
    try {
      val base = s"http://127.0.0.1:${server.port}"
      val (code, body) = get(s"$base/search?q=alpha+bravo&k=5")
      assert(code == 200)
      // same response a docMap-pinned server would produce
      val docMap = SearchServer.docMapFromStore(spark, dir)
      val engine = new SegmentSearch.ServingEngine(
        SegmentIndex.liveSegmentFiles(dir).map(SegmentIndex.loadSegment(_)).toIndexedSeq,
        SegmentIndex.readMeta(dir))
      val pinned = SearchServer.start(engine, docMap.get, port = 0)
      try {
        val (_, body2) = get(s"http://127.0.0.1:${pinned.port}/search?q=alpha+bravo&k=5")
        assert(body == body2, s"sidecar=$body pinned=$body2")
      } finally pinned.stop()
    } finally server.stop()
  }

  test("hot reload: addDocuments -> /reload serves the new docs with zero failed requests") {
    val sp = spark
    import sp.implicits._
    val base1 = (1L to 40L).map(i => (i, s"alpha bravo tok${i % 5}", "r0", "en"))
    val delta = (41L to 50L).map(i => (i, s"zebra quokka tok${i % 5}", "r1", "fr"))
    val dir = Files.createTempDirectory("graft-reload").toString
    SegmentIndex.build(base1.toDF("doc_id", "text", "source", "lang"), dir, buckets = 2)

    val server = SearchServer.start(
      SearchServer.loadState(dir), port = 0,
      reloader = Some(prev => SearchServer.loadState(dir, Some(prev))))
    val url = s"http://127.0.0.1:${server.port}"
    try {
      assert(get(s"$url/search?q=zebra")._2.contains(""""results":[]"""))

      // hammer /search from the background for the whole reload window; any
      // non-200 (or transport error) fails the test — the swap must be
      // invisible to clients (the reference's double-buffer contract)
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val okCount = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to 4).map { _ =>
        val t = new Thread(() => {
          while (!stop.get) {
            try {
              val (c, b) = get(s"$url/search?q=alpha+bravo&k=3")
              if (c == 200 && b.contains(""""docId":""")) okCount.incrementAndGet()
              else failures.incrementAndGet()
            } catch { case _: Exception => failures.incrementAndGet() }
          }
        })
        t.setDaemon(true); t.start(); t
      }

      SegmentIndex.addDocuments(delta.toDF("doc_id", "text", "source", "lang"), dir, newBuckets = 1)
      // DELTA reload: a 1-bucket add on a 2-bucket index must re-load ONLY
      // the new segment and open ONLY the new sidecar — unchanged parts are
      // carried over from the serving generation (O(delta), not O(index))
      val segLoads0 = SegmentIndex.segmentLoads.get
      val scOpens0 = graft.index.DocSidecar.bucketOpens.get
      val (rc, rbody) = get(s"$url/reload")
      assert(rc == 200 && rbody.contains(""""reloaded":true""") && rbody.contains(""""docs":50"""), rbody)
      assert(SegmentIndex.segmentLoads.get - segLoads0 == 1,
        s"delta reload loaded ${SegmentIndex.segmentLoads.get - segLoads0} segments, want 1")
      assert(graft.index.DocSidecar.bucketOpens.get - scOpens0 == 1,
        s"delta reload opened ${graft.index.DocSidecar.bucketOpens.get - scOpens0} sidecars, want 1")

      // new docs are immediately searchable over HTTP, with metadata
      val (zc, zbody) = get(s"$url/search?q=zebra&k=10")
      assert(zc == 200)
      val gotIds = """"docId":(\d+)""".r.findAllMatchIn(zbody).map(_.group(1).toLong).toSeq
      assert(gotIds.nonEmpty && gotIds.forall(_ >= 41L), zbody)
      assert(zbody.contains(""""source":"r1"""") && zbody.contains(""""lang":"fr""""))

      Thread.sleep(200) // let the hammer overlap the post-swap window too
      stop.set(true)
      threads.foreach(_.join(2000))
      assert(failures.get == 0, s"${failures.get} requests failed during hot reload")
      assert(okCount.get > 0, "hammer never ran")

      // parity with a cold-started engine on the post-add index
      val cold = SearchServer.loadState(dir)
      val expected = cold.engine.search("zebra", 10).map(_._1)
      assert(gotIds == expected, s"served=$gotIds cold=$expected")

      // concurrent /reload is guarded (409) while one is in flight — drive
      // it via two racing requests; at least one succeeds, none 5xx
      val codes = (1 to 2).par.map(_ => get(s"$url/reload")._1).toList
      assert(codes.forall(c => c == 200 || c == 409), codes.toString)
      assert(codes.contains(200))
    } finally server.stop()
  }

  test("result cache: repeats hit within a generation; the key discriminates; reload refreshes") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 30L).map(i => (i, s"alpha bravo tok${i % 3}", "r0", "en"))
    val dir = Files.createTempDirectory("graft-cache").toString
    SegmentIndex.build(docs.toDF("doc_id", "text", "source", "lang"), dir, buckets = 2)
    val server = SearchServer.start(
      SearchServer.loadState(dir), port = 0,
      reloader = Some(prev => SearchServer.loadState(dir, Some(prev))))
    val url = s"http://127.0.0.1:${server.port}"
    try {
      val cache = server.current.respCache
      val (c1, b1) = get(s"$url/search?q=alpha+bravo&k=3")
      val (c2, b2) = get(s"$url/search?q=alpha+bravo&k=3")
      assert(c1 == 200 && c2 == 200 && b1 == b2)
      assert(cache.hits.sum == 1L && cache.misses.sum == 1L,
        s"hits=${cache.hits.sum} misses=${cache.misses.sum}")
      // a different k (and any other keyed param) is a different entry
      get(s"$url/search?q=alpha+bravo&k=4")
      assert(cache.misses.sum == 2L)
      get(s"$url/search?q=alpha+bravo&k=4&lang=en")
      assert(cache.misses.sum == 3L)
      assert(cache.entryCount == 3)
      // /metrics surfaces the generation's cache stats
      val (_, m) = get(s"$url/metrics")
      assert(m.contains(""""result_cache":{"hits":1,"misses":3,"entries":3}"""), m)

      // reload swaps in a fresh generation => fresh (empty) cache; the new
      // state answers from the index, not the old generation's entries
      val delta = Seq((31L, "alpha zebra", "r1", "fr")).toDF("doc_id", "text", "source", "lang")
      SegmentIndex.addDocuments(delta, dir, newBuckets = 1)
      assert(get(s"$url/reload")._1 == 200)
      val fresh = server.current.respCache
      assert((fresh ne cache) && fresh.entryCount == 0)
      val (_, after) = get(s"$url/search?q=alpha+bravo&k=3")
      assert(after.contains(""""docId":"""))
    } finally server.stop()
  }

  test("result cache unit: byte cap evicts LRU per shard; oversized bodies stay uncached; key injective") {
    // one shard so the LRU order is directly observable
    val c = new SearchServer.RespCache(maxBytes = 400, shards = 1)
    c.put("a", "x" * 50) // weight 2*(1+50)+64 = 166
    c.put("b", "y" * 50)
    assert(c.get("a") != null && c.get("b") != null && c.entryCount == 2)
    // "a" was touched more recently than "b" after the gets above? (access
    // order: get(a) then get(b) -> b most recent). Insert c: evicts a.
    c.get("a"); c.get("b")
    c.put("c", "z" * 50)
    assert(c.get("a") == null && c.get("b") != null && c.get("c") != null)
    // a body over the shard budget is served but never cached
    c.put("big", "w" * 1000)
    assert(c.get("big") == null)
    // length-prefixed key: value content cannot alias a field boundary
    val k1 = SearchServer.RespCache.key(Map("q" -> "a 0:"))
    val k2 = SearchServer.RespCache.key(Map("q" -> "a", "phrase" -> "0:"))
    assert(k1 != k2)
    // absent vs present-but-empty is a MODE difference in searchBody
    // (phrase= runs an empty phrase search; no phrase runs the q= search)
    val k3 = SearchServer.RespCache.key(Map("q" -> "a"))
    val k4 = SearchServer.RespCache.key(Map("q" -> "a", "phrase" -> ""))
    assert(k3 != k4)
    // disabled cache (0 bytes) never stores
    val off = new SearchServer.RespCache(maxBytes = 0)
    off.put("k", "v")
    assert(off.get("k") == null && off.entryCount == 0)
  }
}
