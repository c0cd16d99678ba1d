package graft.app

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.index.TenantCatalog
import SearchServer.{respond, queryParams, searchBody, IndexState, MalformedQuery}

/** Multi-tenant serving gateway over a [[TenantCatalog]] root — the serving
  * half of the reference's Phase 5 commercial fork ("Multi-tenancy: isolate
  * many customers' data", /root/reference/COMMERCIAL_ROADMAP.md:67,105).
  *
  *   GET /tenants                   -> {"tenants":[...]} (on-disk catalog)
  *   GET /search?tenant=X&q&k&...   -> the EXACT single-tenant /search
  *                                     contract, served from tenant X's own
  *                                     index (own N/avgdl/df — ranking is
  *                                     provably independent of other tenants)
  *   GET /reload?tenant=X           -> delta hot reload of ONE tenant
  *   GET /health                    -> 200 while not shutting down
  *
  * Missing tenant param -> 400; tenant not in the catalog -> 404 (existence
  * is checked against the DIRECTORY, so a typo never triggers a load).
  *
  * Memory model for many tenants: states load lazily on first request and at
  * most `maxLoaded` stay resident; beyond that the least-recently-used
  * tenant's generation is released (refcounted — in-flight requests on the
  * evicted tenant drain safely, the next request reloads it). Heap is
  * O(hot tenants), not O(catalog), which is what lets one gateway front
  * thousands of tenants whose union of indexes dwarfs RAM. Load/evict/reload
  * transitions serialize on a small lock; the hot path (resident tenant) is
  * lock-free retain/release, identical to [[SearchServer]].
  */
object TenantServer {

  /** Per-tenant slot: the swappable generation + LRU clock. `state` holds
    * null before first load and after eviction/stop (observers re-check and
    * reload/503 instead of spinning). The Slot object itself is the monitor
    * for this tenant's load/reload transitions — one tenant's disk load
    * never blocks another tenant's (only eviction bookkeeping takes a
    * global lock, and that section is tiny).
    */
  private final class Slot {
    val state = new AtomicReference[IndexState](null)
    @volatile var lastAccess: Long = 0L
  }

  final class Running private[TenantServer] (
      http: HttpServer,
      val rootDir: String,
      slots: ConcurrentHashMap[String, Slot],
      ready: AtomicBoolean,
      stopped: AtomicBoolean
  ) {
    def port: Int = http.getAddress.getPort
    /** Tenants currently resident (loaded generations), for specs/ops. */
    def loadedTenants: Seq[String] = {
      import scala.jdk.CollectionConverters._
      slots.entrySet().asScala.collect {
        case e if e.getValue.state.get() != null => e.getKey
      }.toSeq.sorted
    }
    def beginShutdown(): Unit = ready.set(false)
    def stop(delaySeconds: Int = 0): Unit = {
      ready.set(false)
      // Flip the stop sentinel BEFORE draining slots: every load/reload
      // transition holds its slot's monitor and re-checks `stopped` before
      // installing, so a racing load either finishes installing (and this
      // loop, queued on the same monitor, then releases it) or observes the
      // sentinel and discards its build — no generation outlives stop().
      stopped.set(true)
      http.stop(delaySeconds)
      http.getExecutor match {
        case e: ExecutorService => e.shutdownNow()
        case _ =>
      }
      import scala.jdk.CollectionConverters._
      slots.values().asScala.foreach { s =>
        s.synchronized {
          val old = s.state.getAndSet(null)
          if (old != null) old.release()
        }
      }
    }
  }

  def start(
      rootDir: String,
      port: Int,
      maxLoaded: Int = Int.MaxValue,
      auth: Option[ApiKeys.Registry] = None
  ): Running = {
    require(maxLoaded >= 1, s"maxLoaded must be >= 1, got $maxLoaded")
    val ready = new AtomicBoolean(true)
    val stopped = new AtomicBoolean(false)
    val slots = new ConcurrentHashMap[String, Slot]()
    val clock = new AtomicLong(0L)
    val evictLock = new Object // eviction bookkeeping only (tiny section)

    def tenantDirOf(t: String): String = TenantCatalog.tenantDir(rootDir, t)

    /** Phase-5 gate: authenticate (`X-Api-Key` header ONLY — a `key=` query
      * parameter would leak plaintext credentials into access logs, proxies,
      * and shell history),
      * authorize against the requested tenant + role, rate-limit, meter.
      * Returns true when the request may proceed (always, when the gateway
      * runs keyless — single-tenant on-prem mode).
      */
    def authorized(ex: HttpExchange, params: Map[String, String],
                   tenant: String, needAdmin: Boolean): Boolean =
      auth match {
        case None => true
        case Some(reg) =>
          val presented = Option(ex.getRequestHeaders.getFirst("X-Api-Key"))
          reg.check(presented, tenant, needAdmin) match {
            case ApiKeys.Allowed(_) => true
            case ApiKeys.Missing => respond(ex, 401, "text/plain", "missing API key"); false
            case ApiKeys.Invalid => respond(ex, 401, "text/plain", "invalid API key"); false
            case ApiKeys.Forbidden => respond(ex, 403, "text/plain", "forbidden"); false
            case ApiKeys.Throttled => respond(ex, 429, "text/plain", "rate limit exceeded"); false
          }
      }

    /** Resident-and-retained fast path; null when a (re)load is needed. */
    def retained(slot: Slot): IndexState = {
      var st = slot.state.get()
      while (st != null && !st.retain()) st = slot.state.get()
      if (st != null) slot.lastAccess = clock.incrementAndGet()
      st
    }

    /** Load (or re-load) tenant `t`'s generation, evicting LRU residents
      * beyond `maxLoaded`. Returns the new state RETAINED for the caller,
      * or null when the server stopped (caller 503s). Holds only THIS
      * slot's monitor for the disk load — other tenants' loads proceed
      * concurrently.
      */
    def loadRetained(t: String, slot: Slot): IndexState = slot.synchronized {
      // someone else may have loaded while we queued on the monitor
      val again = retained(slot)
      if (again != null) return again
      if (stopped.get) return null
      val fresh = SearchServer.loadState(tenantDirOf(t), None) // refs=1: the slot's
      if (!fresh.retain()) throw new IllegalStateException("fresh state unretainable")
      slot.state.set(fresh)
      slot.lastAccess = clock.incrementAndGet()
      evictOverflow(except = slot)
      fresh
    }

    // maxLoaded is approximate under concurrent loads: eviction swaps a
    // victim's state without its slot monitor (taking it would invert the
    // slot->evictLock order), so a victim mid-install can briefly push the
    // resident count over before the next eviction corrects it. Refcounts
    // stay exact either way — whoever getAndSets a state out releases it.
    def evictOverflow(except: Slot): Unit = evictLock.synchronized {
      import scala.jdk.CollectionConverters._
      var resident = slots.values().asScala.filter(s => s.state.get() != null).toSeq
      while (resident.size > maxLoaded) {
        val victim = resident.filter(_ ne except).minByOption(_.lastAccess).getOrElse(return)
        val old = victim.state.getAndSet(null)
        if (old != null) old.release() // drains when in-flight requests finish
        resident = resident.filterNot(_ eq victim)
      }
    }

    // Auth runs BEFORE the existence probe: an unauthenticated caller never
    // learns whether a tenant id exists (404 only after a key scoped to that
    // very tenant — no catalog enumeration oracle).
    def withTenant(ex: HttpExchange, params: Map[String, String], needAdmin: Boolean)(
        body: (String, Slot) => Unit): Unit =
      params.get("tenant").filter(_.nonEmpty) match {
        case None => respond(ex, 400, "text/plain", "missing tenant parameter")
        case Some(t) =>
          if (authorized(ex, params, t, needAdmin)) {
            if (!Files.isDirectory(Paths.get(tenantDirOf(t))))
              respond(ex, 404, "text/plain", s"unknown tenant: $t")
            else body(t, slots.computeIfAbsent(t, _ => new Slot))
          }
      }

    // Nagle off before the first create() — see SearchServer.start
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.setExecutor(Executors.newFixedThreadPool(
      math.max(8, Runtime.getRuntime.availableProcessors()),
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))

    server.createContext("/health", (ex: HttpExchange) => {
      val (code, body) = if (ready.get) (200, "OK") else (503, "")
      respond(ex, code, "text/plain", body)
    })

    // The same built-in UI the engine server ships (SearchUi uses relative
    // URLs and sends the page's api-key field as X-Api-Key, so it works
    // against this gateway's auth unchanged); "/" doubles as the 404 for
    // unknown routes, exactly like SearchServer.
    server.createContext("/", (ex: HttpExchange) => {
      ex.getRequestURI.getPath match {
        case "/" | "/ui" => respond(ex, 200, "text/html; charset=utf-8", SearchUi.Page)
        case p => respond(ex, 404, "text/plain", s"not found: $p")
      }
    })

    def presentedKey(ex: HttpExchange): Option[String] =
      Option(ex.getRequestHeaders.getFirst("X-Api-Key")) // header only — never a query param

    def respondTenants(ex: HttpExchange, visible: Seq[String]): Unit = {
      val sb = new java.lang.StringBuilder("{\"tenants\":[")
      var first = true
      visible.foreach { t =>
        if (!first) sb.append(',')
        first = false
        sb.append('"')
        graft.core.JsonText.escInto(sb, t)
        sb.append('"')
      }
      sb.append("]}")
      respond(ex, 200, "application/json", sb.toString)
    }

    server.createContext("/tenants", (ex: HttpExchange) => {
      // keyless mode lists the catalog; with auth, the listing is scoped to
      // the caller's own tenant (no catalog-enumeration oracle)
      try {
        auth match {
          case None => respondTenants(ex, TenantCatalog.tenants(rootDir))
          case Some(reg) =>
            reg.authenticate(presentedKey(ex)) match {
              case None => respond(ex, 401, "text/plain", "missing or invalid API key")
              case Some(rec) =>
                respondTenants(ex, TenantCatalog.tenants(rootDir).filter(_ == rec.tenant))
            }
        }
      } catch {
        case e: Exception => respond(ex, 500, "text/plain", s"error: ${e.getMessage}")
      }
    })

    // Billing/metering surface (Phase 4/5 "billing hooks"): per-tenant
    // allowed/throttled/denied counters; an ADMIN key sees its own tenant.
    server.createContext("/usage", (ex: HttpExchange) => {
      try auth match {
        case None => respond(ex, 200, "application/json", "{\"usage\":{}}")
        case Some(reg) =>
          reg.authenticate(presentedKey(ex)) match {
            case None => respond(ex, 401, "text/plain", "missing or invalid API key")
            case Some(rec) if rec.role != "admin" =>
              respond(ex, 403, "text/plain", "admin key required")
            case Some(rec) =>
              val sb = new java.lang.StringBuilder("{\"usage\":{")
              var first = true
              reg.usageSnapshot
                .filter { case (t, _) => t == rec.tenant }
                .foreach { case (t, (ok, thr, den)) =>
                  if (!first) sb.append(',')
                  first = false
                  sb.append('"')
                  graft.core.JsonText.escInto(sb, t)
                  sb.append("\":{\"allowed\":").append(ok)
                  sb.append(",\"throttled\":").append(thr)
                  sb.append(",\"denied\":").append(den).append('}')
                }
              sb.append("}}")
              respond(ex, 200, "application/json", sb.toString)
          }
      } catch {
        case e: Exception => respond(ex, 500, "text/plain", s"error: ${e.getMessage}")
      }
    })

    server.createContext("/search", (ex: HttpExchange) => {
      try {
        if (!ready.get) respond(ex, 503, "text/plain", "")
        else {
          val params = queryParams(ex)
          withTenant(ex, params, needAdmin = false) { (t, slot) =>
            var st = retained(slot)
            if (st == null) st = loadRetained(t, slot)
            if (st == null) respond(ex, 503, "text/plain", "") // stopped
            else
              try respond(ex, 200, "application/json",
                SearchServer.cachedSearchBody(st, params))
              finally st.release()
          }
        }
      } catch {
        case e: MalformedQuery => respond(ex, 400, "text/plain", s"malformed query string: ${e.getMessage}")
        case e: Exception =>
          respond(ex, 500, "text/plain", s"error: ${e.getMessage}")
      }
    })

    server.createContext("/reload", (ex: HttpExchange) => {
      try {
        val params = queryParams(ex)
        withTenant(ex, params, needAdmin = true) { (t, slot) =>
          // double-buffer one tenant: build the next generation with delta
          // carry from the resident one (unchanged segments/sidecars reuse),
          // swap, release the old. Holds only this tenant's monitor —
          // other tenants keep loading and reloading concurrently, and this
          // tenant's in-flight /search requests keep serving the OLD
          // generation (retained() is lock-free) until the swap.
          slot.synchronized {
            if (stopped.get) respond(ex, 503, "text/plain", "server stopped")
            else {
              val prev = Option(slot.state.get())
              val next = SearchServer.loadState(tenantDirOf(t), prev)
              val old = slot.state.getAndSet(next)
              if (old != null) old.release()
              slot.lastAccess = clock.incrementAndGet()
              evictOverflow(except = slot)
              val sb = new java.lang.StringBuilder("{\"reloaded\":true,\"tenant\":\"")
              graft.core.JsonText.escInto(sb, t)
              sb.append("\",\"docs\":").append(next.nDocs)
              sb.append(",\"segments\":").append(next.nSegments).append('}')
              respond(ex, 200, "application/json", sb.toString)
            }
          }
        }
      } catch {
        case e: MalformedQuery => respond(ex, 400, "text/plain", s"malformed query string: ${e.getMessage}")
        case e: Exception =>
          respond(ex, 500, "text/plain", s"reload failed: ${e.getMessage}")
      }
    })

    server.start()
    new Running(server, rootDir, slots, ready, stopped)
  }

  /** Ordered exit-2 argument validation (the SearchServer.parseArgs
    * discipline: unknown flag -> arity -> values) — a malformed port or
    * maxLoaded must fail loudly, never silently fall back to a default.
    * Right((rootDir, port, maxLoaded)).
    */
  def parseArgs(args: Array[String]): Either[String, (String, Int, Int)] = {
    val flags = args.filter(_.startsWith("--")).toIndexedSeq
    val pos = args.filterNot(_.startsWith("--")).toIndexedSeq
    if (flags.nonEmpty) Left(s"unknown flag: ${flags.head}")
    else if (pos.isEmpty) Left("missing required <rootDir>")
    else if (pos.length > 3) Left(s"unexpected argument: ${pos(3)}")
    else {
      val port = pos.lift(1) match {
        case None => Right(8080)
        case Some(p) => p.toIntOption.filter(v => v >= 0 && v <= 65535)
          .toRight(s"invalid port: $p")
      }
      val maxLoaded = pos.lift(2) match {
        case None => Right(Int.MaxValue)
        case Some(m) => m.toIntOption.filter(_ >= 1)
          .toRight(s"maxLoadedTenants must be a positive integer, got '$m'")
      }
      for { pt <- port; ml <- maxLoaded } yield (pos(0), pt, ml)
    }
  }

  /** Usage: TenantServer <rootDir> [port] [maxLoadedTenants] */
  def main(args: Array[String]): Unit = {
    if (args.contains("--help")) { println("usage: TenantServer <rootDir> [port] [maxLoadedTenants]"); return }
    val (rootDir, port, maxLoaded) = parseArgs(args) match {
      case Left(msg) =>
        System.err.println(s"TenantServer: $msg")
        System.err.println("usage: TenantServer <rootDir> [port] [maxLoadedTenants]")
        sys.exit(2)
      case Right(v) => v
    }
    if (TenantCatalog.tenants(rootDir).isEmpty) {
      System.err.println(s"no tenants under '$rootDir/tenants'")
      sys.exit(3)
    }
    // a present apikeys.json activates auth; absent = keyless on-prem mode
    val running = start(rootDir, port, maxLoaded, auth = ApiKeys.load(rootDir))
    println(s"TenantServer started on port ${running.port} over catalog: $rootDir")
    sys.addShutdownHook(running.beginShutdown())
    Thread.currentThread.join()
  }
}
