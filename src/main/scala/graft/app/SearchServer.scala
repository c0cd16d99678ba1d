package graft.app

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.index.{DocSidecar, SegmentIndex}
import graft.search.{Query, SegmentSearch}

/** Long-running HTTP serving endpoint — the twin of the reference's searchd
  * (/root/reference/apps/searchd/main.cpp:423-489):
  *
  *   GET /health      -> 200 "OK" when ready and not shutting down, 503 else
  *   GET /search?q&k  -> {"query":q,"results":[{docId,score,snippet,source,lang}]}
  *                       k = max(1, k), default 10, invalid k ignored
  *   GET /reload      -> double-buffered hot index reload (the reference's
  *                       load-then-swap, search_service.cpp:397-500): the NEW
  *                       index state is built while the old one keeps
  *                       serving, then swapped atomically; /health stays 200
  *                       throughout and no in-flight request ever fails.
  *
  * Serving memory model (SCALE-SAFE, unlike the reference's pin-everything):
  * segments are pinned (postings), but documents are decorated per request
  * from the positional-read doc sidecar (DocSidecar) — the server holds only
  * the (docId -> offset) dictionaries and each doc's interned filter fields,
  * plus a byte-capped LRU of hot docs, so heap is O(corpus doc count), not
  * O(corpus text bytes).
  *
  * Usage: SearchServer <indexDir> [port]   (port 0 = ephemeral)
  */
object SearchServer {

  type DocRow = DocSidecar.DocRow
  val DocRow: DocSidecar.DocRow.type = DocSidecar.DocRow

  /** Per-request dictionary-expansion bound for the PUBLIC HTTP surface
    * (prefix/fuzzy/wildcard): the engine tiers default uncapped (tier parity
    * is the oracle contract), but an internet-facing endpoint must not let
    * `wildcard=*` score the entire vocabulary per request. Tunable via
    * -Dgraft.server.maxExpandTerms=N.
    */
  val MaxExpandTerms: Int = Integer.getInteger("graft.server.maxExpandTerms", 4096).intValue

  /** A refcounted sidecar bucket reader, shared ACROSS serving generations:
    * a delta reload carries unchanged buckets' readers into the new
    * generation, so the superseded generation's close must not close a
    * channel the live one still reads. The last release closes.
    */
  final class SharedReader(val reader: DocSidecar.BucketReader) {
    private val refs = new AtomicInteger(1)
    def tryAcquire(): Boolean = {
      var c = refs.get()
      while (c > 0) {
        if (refs.compareAndSet(c, c + 1)) return true
        c = refs.get()
      }
      false // already closed (owner generation fully drained) — open fresh
    }
    def release(): Unit = if (refs.decrementAndGet() == 0) reader.close()
  }

  /** Phase-7 query result cache (the roadmap's "Profiling, caching,
    * concurrency" row, /root/reference/README.md:63): a byte-capped striped
    * LRU of rendered `/search` response bodies, keyed by the request's full
    * search identity (mode + pattern + k + filters).
    *
    * Invalidation is BY CONSTRUCTION: the cache lives on one immutable
    * `IndexState` generation, so a /reload swap starts the new generation
    * with an empty cache and the old one drains with its state — no
    * invalidation code path exists to get wrong, and the multi-tenant
    * gateway inherits per-tenant caches for free (one IndexState per
    * tenant generation).
    *
    * Concurrency: 16 shards, each an access-ordered LinkedHashMap under its
    * own monitor (the DocStore striping discipline) — no global lock on the
    * hot path. A body larger than one shard's budget is served uncached
    * rather than thrashing the shard. Sizing: `SPARK_GRAFT_RESP_CACHE_MB`
    * (default 8 MB; 0 disables).
    */
  final class RespCache(maxBytes: Long, shards: Int = 16) {
    val hits = new java.util.concurrent.atomic.LongAdder
    val misses = new java.util.concurrent.atomic.LongAdder
    private final class Shard {
      var bytes = 0L
      val map = new java.util.LinkedHashMap[String, String](64, 0.75f, true)
    }
    private val arr = Array.fill(shards)(new Shard)
    private val perShard = maxBytes / shards
    private def weight(k: String, v: String): Long = 2L * (k.length + v.length) + 64L
    private def shardOf(k: String) = arr(math.floorMod(k.hashCode, shards))
    def get(k: String): String =
      if (perShard <= 0L) null
      else { val s = shardOf(k); s.synchronized(s.map.get(k)) }
    def put(k: String, v: String): Unit = {
      if (perShard <= 0L || weight(k, v) > perShard) return
      val s = shardOf(k)
      s.synchronized {
        val old = s.map.put(k, v)
        if (old != null) s.bytes -= weight(k, old)
        s.bytes += weight(k, v)
        val it = s.map.entrySet().iterator()
        while (s.bytes > perShard && it.hasNext) {
          val e = it.next(); it.remove()
          s.bytes -= weight(e.getKey, e.getValue)
        }
      }
    }
    def entryCount: Int = arr.map(s => s.synchronized(s.map.size)).sum
  }

  object RespCache {
    /** Cache key = every parameter `searchBody` reads, in fixed order.
      * Parameters it ignores are ignored here too (same body either way).
      */
    private[app] val KeyedParams: Seq[String] =
      Seq("q", "phrase", "prefix", "fuzzy", "wildcard", "k", "lang", "source")
    def key(params: Map[String, String]): String =
      // length-prefixed fields: no value content can alias a field boundary.
      // Absent ("-") is distinct from present-but-empty ("0:"): searchBody
      // dispatches its mode on params.get(...) PRESENCE (an empty phrase=
      // runs an empty phrase search, not the q= search), so the key must
      // discriminate presence too.
      KeyedParams.map { p =>
        params.get(p).fold("-")(v => s"${v.length}:$v")
      }.mkString("|")
    def create(): RespCache = new RespCache(
      sys.props.get("graft.respCacheMb")
        .orElse(sys.env.get("SPARK_GRAFT_RESP_CACHE_MB"))
        .flatMap(_.toLongOption).getOrElse(8L) << 20)
  }

  /** One immutable generation of serving state. Reference-counted: requests
    * retain it for their duration; the swap releases the server's own
    * reference and resources close when the last in-flight request drains —
    * the double-buffer discipline that makes /reload invisible to clients.
    *
    * `segmentsByKey` / `sidecarsByKey` (keyed by path|size|mtime file
    * identity, `SegmentIndex.fileKey`) are the DELTA-RELOAD carry surface:
    * loadState reuses a previous generation's unchanged parts so a reload
    * after a 2-bucket addDocuments on a 1000-segment index loads 2 segments,
    * not 1002 — and the transient double-pin shrinks to the delta.
    */
  final class IndexState(
      val engine: SegmentSearch.ServingEngine,
      val docs: DocSidecar.Docs,
      onClose: () => Unit = () => (),
      private[app] val segmentsByKey: Map[String, SegmentIndex.LoadedSegment] = Map.empty,
      private[app] val sidecarsByKey: Map[String, SharedReader] = Map.empty
  ) {
    private val refs = new AtomicInteger(1) // the server's own reference
    def retain(): Boolean = {
      var c = refs.get()
      while (c > 0) {
        if (refs.compareAndSet(c, c + 1)) return true
        c = refs.get()
      }
      false // already closed (raced a swap) — caller refetches the current state
    }
    def release(): Unit = if (refs.decrementAndGet() == 0) onClose()
    def nDocs: Long = engine.meta.n
    def nSegments: Int = engine.segments.length
    /** Phase-7 result cache, generation-scoped (see RespCache): correct to
      * cache because this state is immutable for its whole lifetime.
      */
    val respCache: RespCache = RespCache.create()
  }

  /** Serving observability (the reference's Phase 6 "Metrics, logs, tracing
    * hooks", /root/reference/README.md:62) — request counters, an error
    * counter, a fixed-size latency ring (last `RingSize` /search service
    * times, lock-free single-writer-per-slot), and the reload generation.
    * All hot-path writes are LongAdder/AtomicLongArray — no locks, no
    * allocation — so /metrics costs the serving path nothing measurable.
    */
  final class Metrics {
    import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
    private val startedNanos = System.nanoTime()
    val searches = new java.util.concurrent.atomic.LongAdder
    val suggests = new java.util.concurrent.atomic.LongAdder
    val healths = new java.util.concurrent.atomic.LongAdder
    val errors = new java.util.concurrent.atomic.LongAdder
    val reloads = new java.util.concurrent.atomic.LongAdder
    private val RingSize = 4096
    private val ring = new AtomicLongArray(RingSize) // micros; 0 = unset
    private val ringIdx = new AtomicLong(0)

    def recordSearchMicros(us: Long): Unit =
      ring.set((ringIdx.getAndIncrement() % RingSize).toInt, math.max(1L, us))

    def uptimeMillis: Long = (System.nanoTime() - startedNanos) / 1000000L

    /** (p50, p95, p99, n) over the ring's filled slots; zeros when empty. */
    def latencyQuantiles: (Long, Long, Long, Int) = {
      val snap = Array.tabulate(RingSize)(ring.get).filter(_ > 0L)
      if (snap.isEmpty) return (0L, 0L, 0L, 0)
      java.util.Arrays.sort(snap)
      def q(p: Double) = snap(math.min(snap.length - 1, (p * snap.length).toInt))
      (q(0.50), q(0.95), q(0.99), snap.length)
    }

    def toJson(st: IndexState): String = {
      val (p50, p95, p99, n) = latencyQuantiles
      s"""{"uptime_ms":$uptimeMillis,""" +
        s""""requests":{"search":${searches.sum},"suggest":${suggests.sum},""" +
        s""""health":${healths.sum},"reload":${reloads.sum}},""" +
        s""""errors":${errors.sum},""" +
        s""""search_latency_us":{"p50":$p50,"p95":$p95,"p99":$p99,"window":$n},""" +
        s""""result_cache":{"hits":${if (st == null) 0L else st.respCache.hits.sum},""" +
        s""""misses":${if (st == null) 0L else st.respCache.misses.sum},""" +
        s""""entries":${if (st == null) 0 else st.respCache.entryCount}},""" +
        s""""index":{"docs":${if (st == null) 0L else st.nDocs},""" +
        s""""segments":${if (st == null) 0 else st.nSegments},""" +
        s""""generation":${reloads.sum + 1}}}"""
    }
  }

  /** Handle to a started server. `beginShutdown()` flips /health to 503
    * (drain phase — a load balancer stops routing while in-flight /search
    * requests still complete, the reference's g_shutdown_in_progress
    * semantics); `stop()` then closes sockets and workers.
    */
  final class Running private[SearchServer] (
      http: HttpServer,
      ready: AtomicBoolean,
      state: AtomicReference[IndexState],
      val metrics: Metrics
  ) {
    def port: Int = http.getAddress.getPort
    def current: IndexState = state.get
    def beginShutdown(): Unit = ready.set(false)
    def stop(delaySeconds: Int = 0): Unit = {
      ready.set(false)
      http.stop(delaySeconds)
      http.getExecutor match {
        case e: ExecutorService => e.shutdownNow()
        case _ =>
      }
      // Swap to the closed sentinel (null) BEFORE releasing: a /search that
      // loses the retain() race re-reads stateRef, observes the sentinel and
      // 503s instead of busy-spinning on a drained state forever; a /reload
      // racing stop() sees the sentinel and discards its freshly-built
      // generation — exactly one owner releases each generation. Idempotent:
      // a second stop() finds null and releases nothing.
      val old = state.getAndSet(null)
      if (old != null) old.release()
    }
  }

  /** Start serving; returns the running handle (caller stops it).
    * `reloader` builds the NEXT IndexState from disk, receiving the current
    * generation so unchanged parts carry over (delta reload); when provided,
    * GET /reload swaps it in with zero downtime.
    */
  def start(
      initial: IndexState,
      port: Int,
      reloader: Option[IndexState => IndexState] = None
  ): Running = {
    val ready = new AtomicBoolean(true)
    val stateRef = new AtomicReference[IndexState](initial)
    val reloading = new AtomicBoolean(false)
    val metrics = new Metrics
    // The JDK HttpServer leaves Nagle ON; with keep-alive clients its
    // two-write response pattern (headers, then body) hits the classic
    // 40 ms Nagle/delayed-ACK stall on every request (measured: a no-op
    // /health at c=50 collapsed 3,053 -> 1,138 rps with p50 pinned at 44 ms
    // the moment clients reused connections). ServerConfig reads the
    // property ONCE per JVM, so it must be set before the first create().
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // daemon workers: an embedding JVM (bench, spec) exits cleanly after
    // stop(); the standalone main stays alive via its explicit join
    server.setExecutor(Executors.newFixedThreadPool(
      math.max(8, Runtime.getRuntime.availableProcessors()),
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))

    server.createContext("/health", (ex: HttpExchange) => {
      metrics.healths.increment()
      val (code, body) = if (ready.get) (200, "OK") else (503, "")
      respond(ex, code, "text/plain", body)
    })

    // Built-in search UI (the engine-side twin of the reference's React GUI
    // — see SearchUi). The "/" context is the JDK server's catch-all for
    // otherwise-unmatched paths, so it owns the 404 for unknown routes.
    server.createContext("/", (ex: HttpExchange) => {
      ex.getRequestURI.getPath match {
        case "/" | "/ui" => respond(ex, 200, "text/html; charset=utf-8", SearchUi.Page)
        case p => respond(ex, 404, "text/plain", s"not found: $p")
      }
    })

    /** Answer `ex` from a pinned generation: a concurrent /reload swap
      * cannot close it underneath `body` (retain fails only when the state
      * is already fully drained, in which case the NEW state is current —
      * or the server stopped, in which case stateRef holds the null sentinel
      * and the request gets 503 instead of spinning). A malformed query
      * string is a 400 and not counted in `errors`; any other failure is a
      * counted 500.
      */
    def serve(ex: HttpExchange)(body: IndexState => Unit): Unit =
      try {
        var st = stateRef.get
        while (st != null && !st.retain()) st = stateRef.get
        if (st == null) respond(ex, 503, "text/plain", "") // stopped
        else try body(st) finally st.release()
      } catch {
        case e: MalformedQuery => respond(ex, 400, "text/plain", s"malformed query string: ${e.getMessage}")
        case e: Exception =>
          metrics.errors.increment()
          respond(ex, 500, "text/plain", s"error: ${e.getMessage}")
      }

    server.createContext("/search", (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      metrics.searches.increment()
      serve(ex) { st =>
        val body = cachedSearchBody(st, queryParams(ex))
        metrics.recordSearchMicros((System.nanoTime() - t0) / 1000L)
        respond(ex, 200, "application/json", body)
      }
    })
    // Phase-9 autocomplete: top-k dictionary terms for a prefix, ranked by
    // global df (sum of per-segment local dfs) desc, term asc.
    server.createContext("/suggest", (ex: HttpExchange) => {
      metrics.suggests.increment()
      serve(ex) { st =>
        val params = queryParams(ex)
        val q = params.getOrElse("q", "")
        val k = math.max(1, params.get("k").flatMap(_.toIntOption).getOrElse(10))
        val rows = st.engine.suggest(q, k)
        val sb = new java.lang.StringBuilder(64 + 32 * rows.size)
        sb.append("{\"prefix\":\"")
        graft.core.JsonText.escInto(sb, q)
        sb.append("\",\"suggestions\":[")
        var first = true
        rows.foreach { case (term, df) =>
          if (!first) sb.append(',')
          first = false
          sb.append("{\"term\":\"")
          graft.core.JsonText.escInto(sb, term)
          sb.append("\",\"df\":").append(df).append('}')
        }
        sb.append("]}")
        respond(ex, 200, "application/json", sb.toString)
      }
    })

    // "Did you mean" — per-term spell correction against the index
    // vocabulary (exact presence wins; else highest-df within Levenshtein
    // <= 1, ties byte-lex; else the term itself with df 0).
    server.createContext("/didyoumean", (ex: HttpExchange) => {
      serve(ex) { st =>
        val q = queryParams(ex).getOrElse("q", "")
        val rows = st.engine.didYouMean(q)
        val sb = new java.lang.StringBuilder(64 + 48 * rows.size)
        sb.append("{\"query\":\"")
        graft.core.JsonText.escInto(sb, q)
        sb.append("\",\"terms\":[")
        var first = true
        rows.foreach { case (_, term, suggestion, df) =>
          if (!first) sb.append(',')
          first = false
          sb.append("{\"term\":\"")
          graft.core.JsonText.escInto(sb, term)
          sb.append("\",\"suggestion\":\"")
          graft.core.JsonText.escInto(sb, suggestion)
          sb.append("\",\"df\":").append(df).append('}')
        }
        sb.append("]}")
        respond(ex, 200, "application/json", sb.toString)
      }
    })

    // Phase-6 observability: counters + /search latency quantiles + index
    // generation info, one lock-free JSON snapshot.
    server.createContext("/metrics", (ex: HttpExchange) => {
      try {
        var st = stateRef.get
        while (st != null && !st.retain()) st = stateRef.get
        try respond(ex, 200, "application/json", metrics.toJson(st))
        finally if (st != null) st.release()
      } catch {
        case e: Exception => respond(ex, 500, "text/plain", s"error: ${e.getMessage}")
      }
    })

    server.createContext("/reload", (ex: HttpExchange) => {
      reloader match {
        case None =>
          respond(ex, 501, "text/plain", "reload not configured")
        case Some(build) =>
          if (!reloading.compareAndSet(false, true)) {
            respond(ex, 409, "text/plain", "reload already in progress")
          } else {
            try {
              // double-buffer: build the new generation OFF the serving path
              // (the old state answers /search throughout), then swap the
              // reference atomically and release the old generation — it
              // closes when its last in-flight request drains. CAS, not
              // getAndSet: a stop() racing this reload leaves the null
              // sentinel in stateRef, and swapping past it would both leak
              // the new generation and double-release the old one.
              // The builder receives the current generation for delta carry;
              // if stop() already closed it, tryAcquire inside loadState
              // fails per-part and everything loads fresh (then the CAS sees
              // the sentinel and the fresh build is discarded).
              val prev = stateRef.get
              val next =
                if (prev == null) null
                else build(prev)
              var done = false
              var stopped = next == null
              while (!done && !stopped) {
                val old = stateRef.get
                if (old == null) stopped = true
                else if (stateRef.compareAndSet(old, next)) { old.release(); done = true }
              }
              if (stopped) {
                if (next != null) next.release() // stopped mid-build: discard
                respond(ex, 503, "text/plain", "server stopped")
              } else {
                metrics.reloads.increment()
                respond(ex, 200, "application/json",
                  s"""{"reloaded":true,"docs":${next.nDocs},"segments":${next.nSegments}}""")
              }
            } catch {
              case e: Exception => // old state keeps serving untouched
                respond(ex, 500, "text/plain", s"reload failed: ${e.getMessage}")
            } finally reloading.set(false)
          }
      }
    })

    server.start()
    new Running(server, ready, stateRef, metrics)
  }

  /** `searchBody` through the pinned generation's result cache: a repeat of
    * an identical request (same mode, pattern, k, and filters) within one
    * generation serves the already-rendered body — the search, snippet, and
    * JSON work all skip. Used by both the single-index handler and the
    * multi-tenant gateway (per-tenant generations => per-tenant caches).
    */
  private[app] def cachedSearchBody(st: IndexState, params: Map[String, String]): String = {
    val key = RespCache.key(params)
    val cached = st.respCache.get(key)
    if (cached != null) { st.respCache.hits.increment(); cached }
    else {
      val body = searchBody(st, params)
      st.respCache.misses.increment()
      st.respCache.put(key, body)
      body
    }
  }

  /** Assemble the `/search` response body for one pinned generation.
    * Factored out of the handler so gateways that route requests across
    * many serving generations (the multi-tenant `TenantServer`) serve the
    * exact same response contract; the caller owns retain/release, status
    * codes, and latency metrics.
    */
  private[app] def searchBody(st: IndexState, params: Map[String, String]): String = {
          val k = math.max(1, params.get("k").flatMap(_.toIntOption).getOrElse(10))
          // `phrase=` / `prefix=` / `fuzzy=` / `wildcard=` are ADDITIVE
          // extension params (SURVEY §2.12/§2.14), the first present one
          // picks the family; the reference contract (`q=` + QueryParser
          // semantics) is untouched. `lang=` / `source=` are ADDITIVE
          // metadata filters (deferred Phase 9 "filters"): they restrict
          // candidates BEFORE truncation, checked against the sidecar's
          // pinned fields inside the top-k collector (a phrase: before its
          // text), for every family.
          val (family, q) = Query.Extensions.collectFirst { case f if params.contains(f) => f -> params(f) }
            .getOrElse("q" -> params.getOrElse("q", ""))
          val query = Query.parse(family, q)
          val filter = Query.Filter.of(
            params.get("lang").filter(_.nonEmpty), params.get("source").filter(_.nonEmpty))
          // The PUBLIC surface opts into the engine's maxTerms latency guard:
          // an unbounded `wildcard=*` would score the whole vocabulary as one
          // OR query per request. 4096 terms is far beyond any real
          // expansion; past the cap results diverge from the uncapped engine
          // tiers by contract (first maxTerms in byte-lex order).
          val top = st.engine.evaluate(query, k, st.docs, filter, maxTerms = SearchServer.MaxExpandTerms)
          // snippets highlight the typed text's tokens (a glob's literal chunks)
          val highlight = query match {
            case Query.Terms(pq) => pq.terms
            case _ => graft.core.Tokenizer.tokenize(q)
          }
          // assemble the response in ONE builder — at thousands of rps the
          // per-hit string concatenation was measurable allocation churn
          val sb = new java.lang.StringBuilder(256 + 256 * top.size)
          sb.append("{\"query\":\"")
          graft.core.JsonText.escInto(sb, q)
          sb.append("\",\"results\":[")
          var first = true
          top.foreach { case (docId, score) =>
            if (!first) sb.append(',')
            first = false
            val d = st.docs(docId).getOrElse(DocRow("", "", ""))
            sb.append("{\"docId\":").append(docId)
            sb.append(",\"score\":").append(score)
            sb.append(",\"snippet\":\"")
            graft.core.JsonText.escInto(sb, graft.core.Snippets.makeSnippet(d.text, highlight))
            sb.append("\",\"source\":\"")
            graft.core.JsonText.escInto(sb, d.source)
            sb.append("\",\"lang\":\"")
            graft.core.JsonText.escInto(sb, d.lang)
            sb.append("\"}")
          }
          sb.append("]}")
          sb.toString
  }

  /** Back-compat entry for benches/specs that pin their own doc map. */
  def start(
      engine: SegmentSearch.ServingEngine,
      docs: Long => Option[DocRow],
      port: Int
  ): Running = start(new IndexState(engine, DocSidecar.Docs(docs)), port, None)

  private[app] def respond(ex: HttpExchange, code: Int, ctype: String, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(bytes)
      finally os.close()
    }
    ex.close()
  }

  /** A query string that does not decode (`%zz`): the client's error. The
    * handlers answer 400 and do not count it in `errors`.
    */
  private[app] final class MalformedQuery(msg: String) extends RuntimeException(msg)

  private[app] def queryParams(ex: HttpExchange): Map[String, String] =
    parseQuery(Option(ex.getRequestURI.getRawQuery).getOrElse(""))

  /** Decode a raw query string; an illegal escape throws `MalformedQuery`. */
  private[app] def parseQuery(raw: String): Map[String, String] = {
    def decode(s: String): String =
      try java.net.URLDecoder.decode(s, "UTF-8")
      catch { case e: IllegalArgumentException => throw new MalformedQuery(e.getMessage) }
    raw.split('&').filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(decode(k) -> decode(v))
        case Array(k) => Some(decode(k) -> "")
        case _ => None
      }
    }.toMap
  }

  /** Pin a docstore in memory for snippet/metadata decoration — the
    * reference-parity memory model, used only by latency A/B benches now
    * (serving uses the sidecar store).
    */
  def docMapFromStore(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String
  ): Map[Long, DocRow] =
    spark.read.parquet(s"$indexDir/docstore")
      .select("doc_id", "text", "source", "lang")
      .collect()
      .map(r => r.getLong(0) -> DocRow(r.getString(1), r.getString(2), r.getString(3)))
      .toMap

  /** Build one serving generation from an on-disk index dir: pinned segments
    * + sidecar-backed doc store (dictionaries only — NO corpus text on the
    * heap). Missing sidecars are backfilled with a short-lived local Spark
    * session (one exchange-free pass over the missing buckets' docstore
    * files), so any index — including one
    * just produced by CompactJob — becomes servable; steady-state loads and
    * reloads after addDocuments touch no Spark at all.
    *
    * `prev`: the serving generation being replaced. Parts whose on-disk file
    * identity (path, size, mtime) is unchanged are CARRIED OVER instead of
    * re-read — reload cost and the transient double-pin are O(delta), not
    * O(index), after an incremental addDocuments (segments are plain heap
    * data, shared freely; sidecar readers hold a channel and are refcounted
    * so exactly one generation's drain closes each).
    */
  def loadState(indexDir: String, prev: Option[IndexState] = None): IndexState = {
    val meta = SegmentIndex.readMeta(indexDir)
    val segEntries: Seq[(String, SegmentIndex.LoadedSegment)] =
      SegmentIndex.liveSegmentFiles(indexDir, meta).map { f =>
        val k = SegmentIndex.fileKey(f)
        k -> prev.flatMap(_.segmentsByKey.get(k)).getOrElse(SegmentIndex.loadSegment(f))
      }
    val segs = segEntries.map(_._2).toIndexedSeq
    val missing = DocSidecar.missingBuckets(indexDir, meta)
    if (missing.nonEmpty) {
      // reuse a live session when embedded (specs, benches) — never stop a
      // session this method did not create; standalone serving spins up a
      // short-lived one and tears it down
      val existing = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .filterNot(_.sparkContext.isStopped)
      existing match {
        case Some(s) => DocSidecar.writeBuckets(s, indexDir, missing)
        case None =>
          val spark = graft.spark.Sessions.local(
            cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt,
            shufflePartitions = 8,
            appName = "graft-sidecar-backfill")
          spark.sparkContext.setLogLevel("WARN")
          try DocSidecar.writeBuckets(spark, indexDir, missing)
          finally spark.stop()
      }
    }
    // committed generation only — a crashed add or pre-compaction sweep can
    // leave orphan docs-*.bin files whose overlapping doc-id ranges would
    // flip DocStore.get into its linear-scan fallback (and pin dead fds)
    val scFiles = DocSidecar.liveSidecarFiles(indexDir, meta)
    if (scFiles.isEmpty)
      throw new IllegalStateException(s"no doc sidecars under $indexDir after backfill")
    // On a partial failure (a sidecar deleted/truncated under a concurrent
    // maintenance op) every ref acquired and channel opened SO FAR must be
    // released, or the carried readers' counts can never reach zero and
    // each failed /reload leaks descriptors.
    val acquired = scala.collection.mutable.ArrayBuffer[(String, SharedReader)]()
    val shares: Seq[(String, SharedReader)] =
      try {
        scFiles.foreach { f =>
          val k = SegmentIndex.fileKey(f)
          val reused = prev.flatMap(_.sidecarsByKey.get(k)).filter(_.tryAcquire())
          acquired += (k -> reused.getOrElse(new SharedReader(DocSidecar.openBucket(f))))
        }
        acquired.toSeq
      } catch {
        case t: Throwable =>
          acquired.foreach(_._2.release())
          throw t
      }
    val store = new DocSidecar.DocStore(shares.map(_._2.reader).toIndexedSeq, 64L << 20)
    new IndexState(
      new SegmentSearch.ServingEngine(segs, meta),
      store,
      () => shares.foreach(_._2.release()),
      segEntries.toMap,
      shares.toMap)
  }

  /** Exit codes mirror the reference CLI discipline
    * (tests/test_cli_exit_codes.cpp): 2 usage, 3 runtime (load) failure —
    * and failure ordering: the index loads BEFORE any port binding is
    * attempted (tests/test_runtime_failure_ordering.cpp).
    */
  /** Ordered exit-2 argument validation (unknown flag -> arity -> port
    * value), testable in-process by CliSpec. Right((indexDir, port)).
    */
  def parseArgs(args: Array[String]): Either[String, (String, Int)] = {
    val flags = args.filter(_.startsWith("--")).toIndexedSeq
    val pos = args.filterNot(_.startsWith("--")).toIndexedSeq
    if (flags.nonEmpty) Left(s"unknown flag: ${flags.head}")
    else if (pos.isEmpty) Left("missing required <indexDir>")
    else if (pos.length > 2) Left(s"unexpected argument: ${pos(2)}")
    else pos.lift(1) match {
      case None => Right((pos(0), 8080))
      case Some(p) => p.toIntOption.filter(v => v >= 0 && v <= 65535) match {
        case Some(v) => Right((pos(0), v))
        case None => Left(s"invalid port: $p")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--help")) { println("usage: SearchServer <indexDir> [port]"); return }
    val (indexDir, port) = parseArgs(args) match {
      case Left(msg) =>
        System.err.println(s"SearchServer: $msg")
        System.err.println("usage: SearchServer <indexDir> [port]")
        sys.exit(2)
      case Right(v) => v
    }
    val state =
      try loadState(indexDir)
      catch {
        case e: Exception =>
          System.err.println(s"failed to load index '$indexDir': ${e.getMessage}")
          sys.exit(3)
      }
    val running = start(state, port,
      reloader = Some(prev => loadState(indexDir, Some(prev))))
    // Port binding succeeded before this line prints (reference contract:
    // exactly one startup message after successful bind, main.cpp:497-520).
    println(s"Server started on port ${running.port} using index: $indexDir")
    sys.addShutdownHook(running.beginShutdown()) // drain semantics on SIGTERM
    Thread.currentThread.join() // serve until killed
  }
}
