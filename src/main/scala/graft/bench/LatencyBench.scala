package graft.bench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors}

import graft.index.{DocSidecar, SegmentIndex}
import graft.search.SegmentSearch

/** Serving-latency harness — the reference's load test shape
  * (/root/reference/scripts/load_test.py:6-9,41-47: 200 requests, 50
  * concurrent, reports rps and p50/p95/p99) against the warmed in-memory
  * segment index (the searchd serving model). Appends to BENCH/BASELINE.md.
  *
  * SPARK_GRAFT_LATENCY_HTTP=1 measures through the REAL HTTP endpoint
  * (SearchServer on an ephemeral port, clients doing GET /search) instead of
  * in-process engine calls — full network + JSON + snippet cost included.
  * The HTTP server decorates hits from the positional-read doc sidecar (the
  * scale-safe serving memory model); SPARK_GRAFT_LATENCY_PINNED=1 switches to
  * the reference-parity full-text heap pin for A/B comparison.
  *
  * Usage: LatencyBench [requests] [concurrency]
  */
object LatencyBench {
  @volatile private var sink: Int = 0
  def main(args: Array[String]): Unit = {
    val requests = args.lift(0).map(_.toInt).getOrElse(200)
    val concurrency = args.lift(1).map(_.toInt).getOrElse(50)
    // JDK keep-alive pool caps at 5 connections per destination by default —
    // with 50 concurrent clients that is 45 threads re-handshaking TCP every
    // request. Must be set before the first connection (the KeepAliveCache
    // reads it once at class init).
    System.setProperty("http.maxConnections", math.max(concurrency, 16).toString)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPLICAS", "64").toInt
    val overHttp = sys.env.get("SPARK_GRAFT_LATENCY_HTTP").contains("1")
    val pinnedDocs = sys.env.get("SPARK_GRAFT_LATENCY_PINNED").contains("1")
    // SPARK_GRAFT_LATENCY_NOOP=1 (HTTP mode only): clients hit /health with
    // the same shape — measures the pure HTTP-transport + client ceiling of
    // this host, the divisor that decomposes the /search residual into
    // (transport ceiling) vs (search + JSON + snippet work).
    val noop = overHttp && sys.env.get("SPARK_GRAFT_LATENCY_NOOP").contains("1")

    val spark = graft.spark.Sessions.local(32, 32, "graft-latency")
    spark.sparkContext.setLogLevel("WARN")
    val out = Files.createTempDirectory(Paths.get("/dev/shm"), "graft-latency-idx").toString
    val docs = Workload.replicatedDocs(spark, sfDir, replicas)
    SegmentIndex.build(docs, out, buckets = 32)
    val meta = SegmentIndex.readMeta(out)
    val segs = SegmentIndex.liveSegmentFiles(out).map(SegmentIndex.loadSegment(_))
    val mode = sys.env.getOrElse("SPARK_GRAFT_QUERY_MODE", "mixed")
    // The 3-round best-of protocol replays the SAME query list against one
    // server generation, so with the default-on result cache every non-first
    // round is ~100% cached — the mixed/selective rows would silently become
    // cache-hit benchmarks. Force the cache off for the service-cost modes;
    // zipf is the repeated-traffic shape that MEASURES the cache (explicit
    // SPARK_GRAFT_RESP_CACHE_MB still wins for A/B runs).
    if (mode != "zipf" && sys.env.get("SPARK_GRAFT_RESP_CACHE_MB").isEmpty)
      System.setProperty("graft.respCacheMb", "0")
    val queries = Workload.queries(spark, sfDir, requests, mode)
    val textBytes: Long =
      if (!overHttp) 0L
      else spark.read.parquet(s"$out/docstore")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text"))))
        .head().getLong(0)
    if (overHttp && !pinnedDocs) DocSidecar.ensure(spark, out)
    val docMap: Map[Long, graft.app.SearchServer.DocRow] =
      if (overHttp && pinnedDocs) graft.app.SearchServer.docMapFromStore(spark, out)
      else Map.empty
    spark.stop()

    // warm decode caches + JIT
    SegmentSearch.searchBatchInMemory(segs, meta, queries, 10)
    val engine = new SegmentSearch.ServingEngine(segs.toIndexedSeq, meta)

    var httpServer: graft.app.SearchServer.Running = null
    var docMemNote = ""
    val httpBase: Option[String] =
      if (!overHttp) None
      else {
        if (pinnedDocs) {
          httpServer = graft.app.SearchServer.start(engine, docMap.get, port = 0)
          docMemNote = f"doc memory: FULL-TEXT PIN ~${textBytes / 1e6}%.0f MB (reference-parity A/B mode)"
        } else {
          val store = DocSidecar.openStore(out).get
          httpServer = graft.app.SearchServer.start(
            new graft.app.SearchServer.IndexState(engine, store, () => store.close()),
            port = 0, reloader = None)
          docMemNote = f"doc memory: sidecar dictionaries ${store.pinnedBytes / 1e6}%.1f MB pinned " +
            f"+ 64 MB LRU cap (vs ~${textBytes / 1e6}%.0f MB full-text pin in the reference model)"
        }
        Some(s"http://127.0.0.1:${httpServer.port}")
      }

    def serveOne(q: String): Int = httpBase match {
      case None => engine.search(q, 10).length
      case Some(base) =>
        val url = new java.net.URL(
          if (noop) s"$base/health"
          else s"$base/search?k=10&q=" + java.net.URLEncoder.encode(q, "UTF-8"))
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        // fully drain + close (NOT disconnect: disconnect() tears the socket
        // down; draining returns it to the JDK keep-alive pool, so each
        // client thread reuses its connection instead of re-handshaking)
        val in = conn.getInputStream
        val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        body.length
    }

    // one request = one full query through the serving engine (segments
    // scored in parallel WITHIN the request on the shared FJ pool — the
    // dense-query tail-latency fix); `concurrency` parallel clients;
    // best-of-3 rounds against VM throughput drift
    def round(): (Double, IndexedSeq[Double]) = {
      val latenciesNs = new ConcurrentLinkedQueue[Long]()
      val pool = Executors.newFixedThreadPool(concurrency)
      val done = new CountDownLatch(requests)
      val t0 = System.nanoTime()
      queries.foreach { q =>
        pool.execute { () =>
          val s = System.nanoTime()
          sink = serveOne(q) // keep the result alive
          latenciesNs.add(System.nanoTime() - s)
          done.countDown()
        }
      }
      done.await()
      val wall = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      import scala.jdk.CollectionConverters._
      (requests / wall, latenciesNs.asScala.map(_ / 1e6).toIndexedSeq.sorted)
    }
    val (rps, ms) = (1 to 3).map { _ =>
      // don't measure tail latency into a co-tenant CPU burst
      Workload.awaitQuietHost("latency round", capMs = 300000)
      round()
    }.maxBy(_._1)
    def pct(p: Double) = ms(math.min(ms.size - 1, (p * ms.size).toInt))

    // Phase-7 result cache effect: the server's own /metrics counters,
    // cumulative over all three rounds (identical query multiset each round,
    // so round 2+ repeats every round-1 miss).
    val cacheNote: String = httpBase match {
      case Some(base) if !noop =>
        // best-effort: a failed /metrics fetch must not discard the measured
        // rounds above
        val m = try {
          val conn = new java.net.URL(s"$base/metrics")
            .openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
          val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
          conn.disconnect(); body
        } catch { case _: java.io.IOException => "" }
        val re = """"result_cache":\{"hits":(\d+),"misses":(\d+)""".r
        re.findFirstMatchIn(m) match {
          case Some(g) =>
            val h = g.group(1).toLong; val miss = g.group(2).toLong
            val tot = h + miss
            if (tot == 0) ""
            else f"\nresult cache over all rounds: $h hits / $miss misses (${100.0 * h / tot}%.0f%% hit rate, SPARK_GRAFT_RESP_CACHE_MB=${sys.env.getOrElse("SPARK_GRAFT_RESP_CACHE_MB", "8 (default)")}).\n"
          case None => ""
        }
      case _ => ""
    }

    val via =
      if (noop) "HTTP /health (transport ceiling — no search work)"
      else if (overHttp) "HTTP /search endpoint"
      else "in-memory engine"
    val conc = if (concurrency == 50) "" else s", c=$concurrency"
    val sectionKey =
      if (noop) s"## Serving latency (noop, http$conc)"
      else if (overHttp) s"## Serving latency ($mode, http$conc)"
      else s"## Serving latency ($mode$conc)"
    val memLine = if (docMemNote.isEmpty) "" else s"\n$docMemNote.\n"
    val md =
      f"""$sectionKey — $via (reference load-test shape)
         |
         |${meta.n}%,d docs, $requests requests, $concurrency concurrent clients, k=10, query mode: $mode, via: $via.
         |$memLine$cacheNote
         || rps | p50 | p95 | p99 | reference targets |
         ||---|---|---|---|---|
         || $rps%.0f req/s | ${pct(0.50)}%.1f ms | ${pct(0.95)}%.1f ms | ${pct(0.99)}%.1f ms | 1000 req/s (README.md:197); p99 < 50 ms (README.md:200) |
         |""".stripMargin
    BenchReport.replaceSection(sectionKey, md)
    println(md)
    // stop the endpoint so the forked JVM exits promptly
    if (httpServer != null) httpServer.stop()
  }
}
