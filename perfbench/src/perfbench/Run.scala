package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.app.SearchServer
import graft.core.{QueryParser, Snippets, Tokenizer}
import graft.index.{DocSidecar, SegmentIndex}
import graft.search.SegmentSearch

/** Attempted / succeeded / failed operations per (phase, family), and
  * failures by cause (status code, timeout, exception or mismatch).
  */
final class Accounting {
  val attempted = mutable.TreeMap[String, Long]()
  val failed = mutable.TreeMap[String, Long]()
  val causes = mutable.TreeMap[String, Long]()

  def add(phase: String, family: String, failure: String): Unit = synchronized {
    val k = s"$phase/$family"
    attempted(k) = attempted.getOrElse(k, 0L) + 1
    if (failure.nonEmpty) {
      failed(k) = failed.getOrElse(k, 0L) + 1
      causes(s"$k/$failure") = causes.getOrElse(s"$k/$failure", 0L) + 1
    }
  }

  def pass(phase: String, r: PassResult): Unit = r.reqs.indices.foreach(i => add(phase, r.reqs(i).family, r.failure(i)))

  def op[T](phase: String, family: String)(body: => T): T =
    try { val v = body; add(phase, family, ""); v }
    catch { case e: Exception => add(phase, family, "exception_" + e.getClass.getSimpleName); throw e }

  def totalAttempted: Long = synchronized(attempted.values.sum)
  def totalFailed: Long = synchronized(failed.values.sum)

  def toJson: String = synchronized {
    def obj(m: collection.Map[String, Long]) = m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"attempted":${obj(attempted)},"failed":${obj(failed)},"failures_by_cause":${obj(causes)}}"""
  }
}

/** A deferred answer check: the answer the program gave for `req` when the
  * index held the base corpus and the first `version` deltas.
  */
final case class Check(label: String, req: Req, got: Answer, version: Int)

/** The host busy fraction beside the run: `Workload.hostBusyFrac` over
  * consecutive half-second windows until `finish`, which returns their mean.
  */
final class HostSampler extends Thread("perfbench-host-sampler") {
  setDaemon(true)
  @volatile private var stopped = false
  private val fracs = ArrayBuffer[Double]()

  override def run(): Unit =
    while (!stopped) { val f = graft.bench.Workload.hostBusyFrac(500); fracs.synchronized(fracs += f) }

  def finish(): Double = {
    stopped = true
    join()
    fracs.synchronized(if (fracs.isEmpty) Double.NaN else fracs.sum / fracs.size)
  }
}

/** One run of one workload. See README.md for the phases and the metrics. */
final class Run(o: Main.Opts) {
  private val W = o.workload
  private val Serve = W == "serve-mixed"
  private val cores = Runtime.getRuntime.availableProcessors

  // sizes: small enough that a run, oracle checks included, takes well under
  // a minute, so that 70 runs fit the evaluation budget (README.md)
  private val BaseDocs = o.docs
  private val corpus = new Corpus(o.seed, CorpusStats.load(o.stats), BaseDocs)
  private val Buckets = 2 * cores
  private val Setups = 3
  private val DeltaDocs = 500L
  private val Deltas = if (Serve) 0 else 2
  private val K = 10
  private val P99LimitMs = 50.0
  private val BatchQueries = 160
  /** The fixed reference rate of each workload (requests per second). */
  private val RefRate: Double = if (Serve) 200.0 else 100.0

  val acct = new Accounting
  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()
  @volatile var correct = true
  private val problems = ArrayBuffer[String]()

  private val checks = ArrayBuffer[Check]()

  private def now = System.nanoTime()
  private val started = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%6.1f s] $s")
  private def put(m: mutable.LinkedHashMap[String, (Double, String)], name: String, v: Double, unit: String): Unit =
    m(name) = (v, unit)

  private val avoid = new java.util.HashSet[String]()
  /** The workload's request stream for pass `salt`: distinct mixed `q=`. */
  private def stream(salt: Long, n: Int): IndexedSeq[Req] = corpus.mixedStream(salt, n, avoid)

  // state the phases share
  private var spark: SparkSession = _
  private var probe: Probe = _
  private var server: SearchServer.Running = _
  private var dir: String = _
  private var lg: LoadGen = _
  private var ctl: HttpConn = _
  private var frames: IndexedSeq[DataFrame] = _
  /** Text bytes of the documents the index holds now. */
  private var textBytes = 0L

  def execute(): String = {
    val sampler = new HostSampler
    sampler.start()
    val cpu0 = Main.processCpuNs()
    val wall0 = now
    Files.createDirectories(o.work)
    Trace.on = o.trace
    val sessionNs = timed {
      spark = SparkSession.builder().master(s"local[$cores]")
        .config("spark.local.dir", o.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
        .pipe(b => graft.spark.Sessions.configure(b, 2 * cores, "perfbench"))
        .getOrCreate()
    }._2
    spark.sparkContext.setLogLevel("ERROR")
    probe = new Probe(spark.sparkContext, cores)
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    try {
      if (Serve) serve() else ingest(sessionNs)

      // ---- traced run only: in-process replay of the serving path
      if (o.trace) replayLayers(server,
        corpus.mixedStream(41, 400, new java.util.HashSet[String](avoid)) ++ corpus.familyPool(31, 168))

      // ---- answer checks against the dataflow oracle
      Trace.span("check.oracle", 0)(runChecks(frames.reduce(_ unionByName _).coalesce(cores)))

      // ---- the read pass's last segment, then its figure
      readSegment()
      put(e2e, "read_rps", Stats.median(readWindows.map(_._2).toSeq), "1/s")
      put(layer, "app.read_cpu_us", readCpuNs / 1e3 / readWindows.map(_._1).sum, "us")
      log(f"read pass: ${readWindows.map(_._2).map(x => f"$x%.0f").mkString(" ")} req/s")

      // ---- heap after the last phase, following a full GC
      System.gc(); System.gc()
      put(e2e, "heap_mb", ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6, "MB")

      // ---- per-layer Spark and JVM numbers
      Seq("cold", "warm").foreach { t =>
        probe.metrics(s"build.$t", "build", Seq("sample", "docstore", "segment"), s".$t")
          .foreach { case (n, v, u) => put(layer, n, v, u) }
        probe.metrics(s"batch.$t", "batch", Seq("idf", "fanout", "merge"), s".$t")
          .foreach { case (n, v, u) => put(layer, n, v, u) }
      }
      Seq("build.cold", "build.warm", "batch.cold", "batch.warm", "serve", "write").foreach { p =>
        probe.jvmMetrics(p).foreach { case (n, v, u) => put(layer, n, v, u) }
      }
    } finally {
      if (lg != null) lg.close()
      if (ctl != null) ctl.close()
      if (server != null) server.stop()
      spark.stop()
      Trace.on = false
    }

    // ---- run hygiene: host busy fraction beside the run
    log("done")
    val hostBusy = sampler.finish()
    val own = (Main.processCpuNs() - cpu0).toDouble / ((now - wall0).toDouble * cores)
    put(layer, "loadgen.host_busy_frac", hostBusy, "ratio")
    put(layer, "loadgen.cotenant_busy_frac", math.max(0.0, hostBusy - own), "ratio")
    val att = acct.totalAttempted
    val fl = acct.totalFailed
    put(e2e, "ok_frac", (att - fl).toDouble / att, "ratio")
    put(layer, "error_frac", fl.toDouble / att, "ratio")
    if (o.trace) {
      Trace.selfNsByLayer.toSeq.sortBy(_._1).foreach { case (l, ns) => put(layer, s"trace.self_ms.$l", ns / 1e6, "ms") }
      Trace.dump(o.out.resolve(s"$W-seed${o.seed}-spans"))
    }
    // the run report: everything measured, the operation accounting, and
    // the digest of the seeded inputs (equal seeds give equal digests)
    def obj(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    Files.createDirectories(o.out)
    Files.writeString(o.out.resolve(s"$W-seed${o.seed}${if (o.trace) "-trace" else ""}.json"),
      s"""{"workload":"$W","seed":${o.seed},"trace":${o.trace},"correct":$correct,""" +
        s""""inputs_sha256":"${inputsDigest.digest().map(b => f"$b%02x").mkString}",""" +
        s""""operations":${acct.toJson},"end_to_end":${obj(e2e)},"per_layer":${obj(layer)}}""" + "\n")
    problems.foreach(p => log(s"CHECK FAILED: $p"))
    log(s"operations: attempted $att, failed $fl; host busy ${"%.2f".format(hostBusy)}, own ${"%.2f".format(own)}")
    s"""{"correct":$correct,"attempted":$att,"failed":$fl,"metrics":${obj(reported(if (o.trace) "per_layer" else "end_to_end"))}}"""
  }

  /** The metrics `BENCHMARK.json` lists under `kind`, in its order. An
    * end-to-end metric must have been measured. A per-layer metric of a
    * phase the workload does not run (the batch tier and the writes on the
    * serve workloads, the rate ladder on ingest-batch) reads 0.
    */
  private def reported(kind: String): mutable.LinkedHashMap[String, (Double, String)] = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(o.spec)).get(kind)
    val src = if (kind == "end_to_end") e2e else layer
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    (0 until spec.size).map(spec.get).foreach { m =>
      val name = m.get("name").asText
      src.get(name) match {
        case Some(v) => out(name) = v
        case None if kind == "end_to_end" => throw new IllegalStateException(s"end-to-end metric $name was not measured")
        case None => out(name) = (0.0, m.get("unit").asText)
      }
    }
    out
  }

  // ------------------------------------------------------------------ inputs

  private def docs(from: Long, until: Long): IndexedSeq[Doc] = (from until until).map(corpus.doc)

  /** The base corpus and the deltas, generated on the driver. */
  private def generate(): IndexedSeq[IndexedSeq[Doc]] =
    docs(0L, BaseDocs) +: (0 until Deltas).map(j => docs(BaseDocs + j * DeltaDocs, BaseDocs + (j + 1) * DeltaDocs))

  /** Hand the inputs to Spark as RDD-backed DataFrames (no file in between). */
  private def prepare(inputs: IndexedSeq[IndexedSeq[Doc]]): Unit = {
    frames = inputs.map(d => spark.createDataFrame(spark.sparkContext.parallelize(d, 2 * cores)))
    inputs.flatten.foreach(d => digest(s"${d.doc_id}\t${d.text}\t${d.source}\t${d.lang}"))
    textBytes = inputs(0).map(_.text.length.toLong).sum
  }

  private def input(j: Int): DataFrame = frames(j)

  private def build(i: Int): (String, Long) = {
    val d = o.work.resolve(s"index-$i").toString
    val ns = timed {
      acct.op("setup", "build") {
        probe.phase(if (i == 0) "build.cold" else "build.warm")(
          Trace.span("index.build", i)(SegmentIndex.build(input(0), d, Buckets)))
      }
    }._2
    (d, ns)
  }

  private def startServer(d: String, i: Int): SearchServer.Running = acct.op("setup", "serve_start") {
    Trace.span("index.sidecar_ensure", i)(DocSidecar.ensure(spark, d))
    val st = Trace.span("app.load_state", i)(SearchServer.loadState(d))
    Trace.span("app.start", i)(SearchServer.start(st, 0, reloader = Some(prev => SearchServer.loadState(d, Some(prev)))))
  }

  // --------------------------------------------------------- serve workloads

  /** Set-up several times (build, sidecars, load, serve), then the open-loop
    * reference pass and the rate ladder against the last server.
    */
  private def serve(): Unit = {
    val (inputs, genNs) = timed(generate())
    put(layer, "loadgen.input_gen_ms", genNs / 1e6, "ms")
    prepare(inputs)
    log("inputs generated")
    val buildNs = ArrayBuffer[Long]()
    val setupNs = ArrayBuffer[Long]()
    (0 until Setups).foreach { i =>
      val t0 = now
      val (d, bns) = build(i)
      val srv = startServer(d, i)
      setupNs += now - t0
      buildNs += bns
      // JIT warm-up on a server that is about to go, so the final server's
      // latency window (read from /metrics) holds only measured requests:
      // closed-loop traffic compiles the serving path the way the ladder
      // drives it
      if (i == Setups - 2) {
        val w = new LoadGen(srv.port, cores)
        try acct.pass("warmup", LoadGen.saturate(w, stream(11, 40000), 1.0)._1) finally w.close()
      }
      if (i < Setups - 1) { srv.stop(); Main.deleteTree(java.nio.file.Paths.get(d)) }
      else { server = srv; dir = d }
    }
    put(e2e, "setup_s", Stats.median(setupNs.map(_ / 1e9).toSeq), "s")
    // the first build in the JVM does not repeat within a tenth from run to
    // run, so it is a per-layer number; the warm rebuilds are end-to-end
    put(layer, "build_docs_per_s", BaseDocs / (buildNs.head / 1e9), "docs/s")
    put(e2e, "build_warm_docs_per_s", BaseDocs / Stats.median(buildNs.tail.map(_ / 1e9).toSeq), "docs/s")
    put(e2e, "index_bytes_per_text_byte", Main.dirBytes(java.nio.file.Paths.get(dir)).toDouble / textBytes, "ratio")
    log(f"set-up ${setupNs.map(_ / 1e9).mkString(", ")} s; builds ${buildNs.map(_ / 1e9).mkString(", ")} s")

    lg = new LoadGen(server.port, cores)
    ctl = new HttpConn(server.port, 30000)
    // the final generation's segment decode caches and lazy dictionaries
    // (sorted and reversed vocabularies, SymSpell) fill in-process, outside
    // the server's latency window
    warmInProcess(server, stream(13, 400) ++ corpus.familyPool(51, 28))
    val cache0 = cacheCounters(ctl)
    val reqs = stream(21, (RefRate * o.seconds * 0.4).toInt)
    reqs.foreach(r => digest(r.path))
    val keep = sampleIndices(reqs)
    val ref = probe.phase("serve")(lg.run(reqs, RefRate, keep))
    acct.pass("serve", ref)
    keep.foreach(i => Option(ref.bodies.get(i)).foreach { b =>
      checks += Check("serve", reqs(i), Oracle.parse(reqs(i).family, b), 0)
    })
    val cache1 = cacheCounters(ctl)
    latencyLayer(ref)
    httpLayer(ctl, ref, cache0, cache1)
    shapeChecks(cache0, cache1)
    checkFamilies(0)
    put(layer, "max_rps", ladder(lg), "1/s")
    readSegment()
    log("ladder done")
  }

  // ------------------------------------------------------------ ingest-batch

  /** (1) a cold build and warm rebuilds, (2) the batch tier cold and warm,
    * (3) a server, then deltas through `addDocuments` + `/reload` with reads
    * at the reference rate beside them, (4) a compaction + `/reload`.
    */
  private def ingest(sessionNs: Long): Unit = {
    // set-up: session start plus input generation, the generation several times
    val gens = (0 until Setups).map(_ => timed(generate()))
    val genS = Stats.median(gens.map(_._2 / 1e9))
    put(e2e, "setup_s", sessionNs / 1e9 + genS, "s")
    put(layer, "loadgen.input_gen_ms", genS * 1e3, "ms")
    prepare(gens.head._1)
    val deltaText = gens.head._1.tail.map(_.map(_.text.length.toLong).sum)
    log(f"set-up: session ${sessionNs / 1e9}%.2f s, inputs $genS%.2f s")

    // (1) builds
    val buildNs = (0 until Setups).map { i =>
      val (d, ns) = build(i)
      if (dir != null) Main.deleteTree(java.nio.file.Paths.get(dir))
      dir = d
      ns
    }
    put(layer, "build_docs_per_s", BaseDocs / (buildNs.head / 1e9), "docs/s")
    put(e2e, "build_warm_docs_per_s", BaseDocs / Stats.median(buildNs.tail.map(_ / 1e9)), "docs/s")
    var bytesWritten = Main.dirBytes(java.nio.file.Paths.get(dir)).toDouble
    log(f"builds ${buildNs.map(_ / 1e9).mkString(", ")} s")

    // (2) batch tier: the first call after the build, then warm calls
    val batchQs = corpus.mixedStream(5, BatchQueries, avoid).map(_.text)
    def batch(ph: String, i: Int) = timed(acct.op("batch", "q")(probe.phase(ph)(
      Trace.span("search.batch", i)(SegmentSearch.searchBatch(spark, dir, batchQs, K)))))
    val (coldRes, coldNs) = batch("batch.cold", 0)
    val warmNs = (1 to 5).map(batch("batch.warm", _)._2)
    put(layer, "batch_qps_cold", batchQs.size / (coldNs / 1e9), "1/s")
    put(layer, "batch_qps_warm", batchQs.size / Stats.median(warmNs.map(_ / 1e9)), "1/s")
    checks += Check("batch", Req("q", batchQs.head, None), Hits(coldRes.getOrElse(0, Nil)), 0)
    log("batch done")

    // (3) and (4): writes with reads beside them
    server = startServer(dir, 0)
    lg = new LoadGen(server.port, cores)
    ctl = new HttpConn(server.port, 30000)
    warmInProcess(server, stream(13, 400))
    val cache0 = cacheCounters(ctl)
    val addNs = ArrayBuffer[Long]()
    val reloadNs = ArrayBuffer[Long]()
    var applied = 0
    def writes(): Unit = {
      (0 until Deltas).foreach { j =>
        val before = Main.dirBytes(java.nio.file.Paths.get(dir))
        val t0 = now
        acct.op("write", "add") {
          probe.phase("write")(Trace.span("index.add", j)(
            SegmentIndex.addDocuments(input(1 + j), dir, newBuckets = 1)))
        }
        val t1 = now
        reload(ctl, j)
        addNs += t1 - t0; reloadNs += now - t1
        bytesWritten += math.max(0L, Main.dirBytes(java.nio.file.Paths.get(dir)) - before)
        applied = j + 1
        textBytes += deltaText(j)
        checkNow(ctl, s"after-add-$j", applied)
      }
      val picks = SegmentIndex.liveBucketSet(SegmentIndex.readMeta(dir)).toSeq.filter(_ >= Buckets).sorted
      val t0 = now
      val m = acct.op("write", "compact") {
        probe.phase("write")(Trace.span("index.compact", 0)(SegmentIndex.compactBuckets(spark, dir, picks)))
      }
      val t1 = now
      reload(ctl, 99)
      val rewritten = m.bytes +
        Files.size(java.nio.file.Paths.get(dir, "docstore", f"part-compact-${m.bucket}%05d.parquet")) +
        Files.size(DocSidecar.sidecarPath(dir, m.bucket))
      bytesWritten += rewritten
      put(layer, "index.compact_ms", (t1 - t0) / 1e6, "ms")
      put(layer, "index.compact_bytes_rewritten", rewritten.toDouble, "bytes")
      checkNow(ctl, "after-compact", applied)
      checkFamilies(applied)
    }
    val stop = new AtomicBoolean(false)
    var bg: PassResult = null
    val bgReqs = stream(21, (RefRate * 120).toInt)
    bgReqs.foreach(r => digest(r.path))
    val th = new Thread(() => { bg = lg.run(bgReqs, RefRate, stop = stop) })
    th.start()
    try {
      Thread.sleep(500)
      probe.phase("serve")(writes())
      Thread.sleep(500)
    } finally { stop.set(true); th.join() }
    acct.pass("serve", bg)
    latencyLayer(bg)
    httpLayer(ctl, bg, cache0, cacheCounters(ctl))
    put(layer, "add_visible_s", Stats.median(addNs.indices.map(i => (addNs(i) + reloadNs(i)) / 1e9)), "s")
    put(layer, "index.add_ms", Stats.median(addNs.map(_ / 1e6).toSeq), "ms")
    put(layer, "app.reload_ms", Stats.median(reloadNs.map(_ / 1e6).toSeq), "ms")
    put(e2e, "index_bytes_per_text_byte", Main.dirBytes(java.nio.file.Paths.get(dir)).toDouble / textBytes, "ratio")
    put(layer, "index.bytes_written_per_text_byte", bytesWritten / textBytes, "ratio")
    log(s"writes done: ${bg.n} reads beside them")
    // the compaction's generation fills its decode caches before the read pass
    warmInProcess(server, stream(14, 400))
    readSegment()
  }

  // -------------------------------------------------------------- read pass

  /** (requests, requests per second) of each read-pass window so far. */
  private val readWindows = ArrayBuffer[(Int, Double)]()
  private var readCpuNs = 0L

  /** One segment of the read pass, the gated serving figure: N keep-alive
    * connections (N = cores) send the workload's requests back to back
    * (closed loop) in five windows of 0.05 × `--seconds`. A run makes two
    * segments: after the rate ladder (`serve-mixed`) or the compaction
    * (`ingest-batch`), and after the answer checks; the ladder's closed-loop
    * traffic has compiled the path by then. `read_rps` is the median window's
    * completed requests per second. Windows spread over the run sample more
    * states of a shared host than one pass would, and a pause (GC, a
    * co-tenant burst) moves a window, not the figure. A closed loop keeps the
    * cores busy, so the figure does not pay the wake-up jitter that moves
    * open-loop latency at low load.
    */
  private def readSegment(): Unit = {
    val cpu0 = Main.processCpuNs()
    (0 until 5).foreach { _ =>
      val reqs = stream(31 + readWindows.size, 20000)
      reqs.foreach(x => digest(x.path))
      val (res, rps) = LoadGen.saturate(lg, reqs, o.seconds * 0.05)
      acct.pass("read", res)
      readWindows += ((res.n, rps))
    }
    readCpuNs += Main.processCpuNs() - cpu0
  }

  // ------------------------------------------------------------------ helpers

  private val inputsDigest = java.security.MessageDigest.getInstance("SHA-256")
  private def digest(s: String): Unit =
    inputsDigest.update((s + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** A metric value as JSON (a quantity that could not be measured reads 0). */
  private def num(v: Double): Double = if (v.isNaN || v.isInfinite) 0.0 else v

  private def timed[T](body: => T): (T, Long) = { val t0 = now; val v = body; (v, now - t0) }

  /** Latencies in ms; a failed request counts as missing every limit. */
  private def latencies(r: PassResult): Array[Double] =
    r.latencyNs.indices.map(i => if (r.failure(i).isEmpty) r.latencyNs(i) / 1e6 else Double.PositiveInfinity).toArray

  private def sampleIndices(reqs: IndexedSeq[Req]): Set[Int] = {
    val perKey = 1
    reqs.indices.groupBy(i => (reqs(i).family, reqs(i).lang.isDefined))
      .values.flatMap(_.sorted.take(perKey)).toSet
  }

  private def reload(c: HttpConn, id: Int): Unit = acct.op("write", "reload") {
    val (st, body) = Trace.span("app.reload", id)(c.get("/reload"))
    if (st != 200) throw new IllegalStateException(s"/reload returned $st: $body")
  }

  /** Fetch answers for a few requests now; compare them with the oracle later. */
  private def checkNow(c: HttpConn, label: String, version: Int): Unit = {
    val reqs = corpus.mixedStream(1000 + version * 7 + label.length, 2, avoid)
    reqs.foreach { r =>
      val (st, body) = acct.op("check", r.family)(c.get(r.path))
      if (st == 200) checks += Check(label, r, Oracle.parse(r.family, body), version)
      else { acct.add("check", r.family, s"status_$st"); fail(s"$label: ${r.path} returned $st") }
    }
  }

  /** One request of every family (phrase, prefix, wildcard, fuzzy, suggest,
    * did-you-mean and q), fetched now and compared with the oracle later.
    */
  private def checkFamilies(version: Int): Unit =
    corpus.familyPool(61 + version, Gen.Families.size).foreach { r =>
      val (st, body) = acct.op("check", r.family)(ctl.get(r.path))
      if (st == 200) checks += Check("families", r, Oracle.parse(r.family, body), version)
      else { acct.add("check", r.family, s"status_$st"); fail(s"families: ${r.path} returned $st") }
    }

  private def fail(msg: String): Unit = synchronized { correct = false; problems += msg }

  /** Compare every recorded answer with the oracle's, `cores` at a time. */
  private def runChecks(allDocs: DataFrame): Unit = {
    // every measured phase is over: plan the oracle's many small jobs
    // without adaptive execution and with one shuffle partition
    val conf = allDocs.sparkSession.conf
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", "1")
    val oracle = new Oracle(allDocs, K)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val wants = checks.toSeq.map { c =>
        pool.submit(() => oracle.expected(c.req, BaseDocs + c.version * DeltaDocs))
      }.map(_.get)
      checks.zip(wants).zipWithIndex.foreach { case ((c, want0), i) =>
        val want = if (o.negativeControl && i == 0) Oracle.perturb(want0) else want0
        if (Oracle.matches(c.got, want)) acct.add("check", c.req.family, "")
        else {
          acct.add("check", c.req.family, "mismatch")
          fail(s"${c.label}: ${c.req.path}: got ${c.got}, expected $want")
        }
      }
    } finally { pool.shutdownNow(); oracle.close() }
    log(s"answer checks: ${checks.size} against the oracle (${checks.map(_.req.family).distinct.sorted.mkString(",")})")
  }

  private def cacheCounters(c: HttpConn): (Long, Long, Long) = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(c.get("/metrics")._2)
    val rc = n.get("result_cache")
    (rc.get("hits").asLong, rc.get("misses").asLong, n.get("index").get("generation").asLong)
  }

  /** serve-mixed repeats no request, so its reference pass has no result-cache hits */
  private def shapeChecks(c0: (Long, Long, Long), c1: (Long, Long, Long)): Unit = {
    val hits = c1._1 - c0._1
    if (hits != 0) fail(s"serve-mixed: $hits result-cache hits, expected 0")
  }

  /** p50 and p99 of an open-loop pass: the median over three consecutive
    * windows of each window's percentile, so one pause (GC, a co-tenant
    * burst) moves one window, not the figure.
    */
  private def latencyLayer(r: PassResult): Unit = {
    val windows = Stats.windows(latencies(r), 3)
    put(layer, "p50_ms", Stats.median(windows.map(Stats.pct(_, 0.50))), "ms")
    put(layer, "p99_ms", Stats.median(windows.map(Stats.pct(_, 0.99))), "ms")
    log(f"${r.n} requests at ${r.rate}%.0f/s, window p99s ${windows.map(Stats.pct(_, 0.99)).map(x => f"$x%.1f").mkString(" ")} ms")
  }

  /** The server's view of `ref` from /metrics. The server records service
    * times of /search only, so the client percentiles that transport time
    * subtracts them from are taken over the /search requests only.
    */
  private def httpLayer(c: HttpConn, ref: PassResult, c0: (Long, Long, Long), c1: (Long, Long, Long)): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(c.get("/metrics")._2)
    val sl = m.get("search_latency_us")
    val all = latencies(ref)
    val lat = ref.reqs.indices.filter(i => ref.reqs(i).path.startsWith("/search")).map(all).toArray
    put(layer, "app.service_p50_us", sl.get("p50").asDouble, "us")
    put(layer, "app.service_p99_us", sl.get("p99").asDouble, "us")
    put(layer, "app.transport_ms", Stats.pct(lat, 0.5) - sl.get("p50").asDouble / 1000, "ms")
    put(layer, "app.transport_p99_ms", Stats.pct(lat, 0.99) - sl.get("p99").asDouble / 1000, "ms")
    val (h, mi) = if (c1._3 == c0._3) (c1._1 - c0._1, c1._2 - c0._2) else (c1._1, c1._2)
    put(layer, "app.respcache_hit_rate", if (h + mi == 0) 0.0 else h.toDouble / (h + mi), "ratio")
    put(layer, "loadgen.lag_p99_ms", Stats.pct(ref.lagNs.map(_ / 1e6), 0.99), "ms")
  }

  /** Highest rung of the fixed rate ladder (the reference rate times powers
    * of 1.1) whose pass keeps p99 within the limit with no failures and no
    * growing generator lag; p99 and lag are taken per third of the rung and
    * the median third decides, and a failed rung is tried once more.
    *
    * The search starts at the highest rung not above the closed-loop
    * throughput (every sender sends back to back for half a second), gallops
    * four rungs at a time to bracket the limit, then bisects the bracket.
    */
  private def ladder(lg: LoadGen): Double = {
    val satReqs = stream(100, 40000)
    // how many rungs run depends on timing, so rung requests are kept out
    // of the shared set: later passes draw the same requests on every run
    val rungAvoid = new java.util.HashSet[String](avoid)
    var salt = 100L
    def next(n: Int): IndexedSeq[Req] = { salt += 1; corpus.mixedStream(salt, n, rungAvoid) }
    def rung(rate: Double): Boolean = attempt(rate) || attempt(rate)
    def attempt(rate: Double): Boolean = {
      val r = lg.run(next((rate * math.max(0.4, 200.0 / rate)).toInt), rate)
      acct.pass("ladder", r)
      val p99 = Stats.median(Stats.windows(latencies(r), 3).map(Stats.pct(_, 0.99)))
      val lag = Stats.windows(r.lagNs.map(_ / 1e6), 3).map(w => Stats.median(w.toSeq))
      val ok = r.failed == 0 && p99 <= P99LimitMs && lag.last <= lag.head + 10.0
      log(f"ladder rung $rate%.0f/s: p99 $p99%.1f ms, lag ${lag.head}%.1f -> ${lag.last}%.1f ms, ${if (ok) "pass" else "fail"}")
      ok
    }
    val (sat, satRps) = LoadGen.saturate(lg, satReqs, 0.5)
    acct.pass("ladder", sat)
    put(layer, "loadgen.saturation_rps", satRps, "1/s")
    def grid(k: Int) = RefRate * math.pow(1.1, k)
    val k0 = math.floor(math.log(satRps / RefRate) / math.log(1.1)).toInt
    // bracket: rung `lo` passes and rung `hi` fails
    var (lo, hi) = if (rung(grid(k0))) {
      var l = k0
      while (rung(grid(l + 4))) l += 4
      (l, l + 4)
    } else {
      var h = k0
      while (h > -40 && !rung(grid(h - 4))) h -= 4
      (h - 4, h)
    }
    while (hi - lo > 1) {
      val mid = (lo + hi) / 2
      if (rung(grid(mid))) lo = mid else hi = mid
    }
    grid(lo)
  }

  /** One request through the public calls SearchServer makes for it; the
    * ranked hits (none for suggest and did-you-mean).
    */
  private def engineCall(st: SearchServer.IndexState, r: Req, pq: graft.core.ParsedQuery): Seq[(Long, Double)] = {
    val eng = st.engine
    val mx = SearchServer.MaxExpandTerms
    def pred(id: Long): Boolean = st.docs(id).exists(d => r.lang.forall(_ == d.lang))
    r.family match {
      case "q" => if (r.lang.isDefined) eng.searchFiltered(pq, K, pred) else eng.search(pq, K)
      case "phrase" => eng.searchPhrase(r.text, K, id => st.docs(id).map(_.text))
      case "prefix" => eng.searchPrefix(r.text, K, maxTerms = mx)
      case "wildcard" => eng.searchWildcard(r.text, K, maxTerms = mx)
      case "fuzzy" => eng.searchFuzzy(r.text, K, maxTerms = mx)
      case "suggest" => eng.suggest(r.text, K); Nil
      case _ => eng.didYouMean(r.text); Nil
    }
  }

  private def warmInProcess(server: SearchServer.Running, reqs: Seq[Req]): Unit = {
    val st = server.current
    require(st.retain(), "serving state closed")
    try reqs.foreach { r =>
      val pq = QueryParser.parse(r.text)
      val hl = if (r.family == "q") pq.terms else Tokenizer.tokenize(r.text)
      engineCall(st, r, pq).foreach(h => st.docs(h._1).foreach(d => Snippets.makeSnippet(d.text, hl)))
    } finally st.release()
  }

  /** The traced run's in-process replay: each request goes through the same
    * public calls SearchServer makes (parse, engine, decorate, snippet), with
    * a span and counts around each. Replayed twice untraced and twice traced;
    * the difference is the tracing overhead.
    */
  private def replayLayers(server: SearchServer.Running, reqs: IndexedSeq[Req]): Unit = {
    val st = server.current
    require(st.retain(), "serving state closed")
    try {
      val eng = st.engine
      val alloc = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      val tid = Thread.currentThread().getId
      val engNs = mutable.Map[String, ArrayBuffer[Double]]()
      var parseNs, parseTerms, decNs, snipNs, postings, hits, allocB, calls, nq = 0L
      def one(i: Int, r: Req, record: Boolean): Unit = Trace.span("search.request", 1000000L + i) {
        val t0 = now
        val pq = Trace.span("core.parse", i)(QueryParser.parse(r.text))
        val t1 = now
        val a0 = alloc.getThreadAllocatedBytes(tid)
        val t2 = now
        val rows = Trace.span("search.engine", i)(engineCall(st, r, pq))
        val t3 = now
        val a1 = alloc.getThreadAllocatedBytes(tid)
        val docs = Trace.span("index.decorate", i)(rows.map(h => st.docs(h._1)))
        val t4 = now
        val hl = if (r.family == "q") pq.terms else Tokenizer.tokenize(r.text)
        Trace.span("core.snippet", i)(docs.foreach(_.foreach(d => Snippets.makeSnippet(d.text, hl))))
        val t5 = now
        if (record) {
          engNs.getOrElseUpdate(r.family, ArrayBuffer[Double]()) += (t3 - t2) / 1e3
          calls += 1; allocB += a1 - a0; decNs += t4 - t3; snipNs += t5 - t4
          if (r.family == "q" || r.family == "phrase") {
            nq += 1; parseNs += t1 - t0; parseTerms += pq.terms.size
            val listed = pq.terms.distinct.map(t => eng.segments.iterator.flatMap(_.terms.get(t)).map(_.df).sum).sum
            postings += listed; hits += rows.size
            Trace.count("search.postings_listed", listed)
            Trace.count("search.hits", rows.size)
          }
          Trace.count("search.segments", eng.segments.size)
        }
      }
      def pass(traced: Boolean, record: Boolean): Long = {
        Trace.on = traced
        val t0 = now
        reqs.indices.foreach(i => one(i, reqs(i), record))
        now - t0
      }
      pass(traced = false, record = false) // warm every family's path
      val off1 = pass(traced = false, record = false)
      val on1 = pass(traced = true, record = true)
      val off2 = pass(traced = false, record = false)
      val on2 = pass(traced = true, record = false)
      Trace.on = true
      val offMed = (off1 + off2) / 2.0
      put(layer, "trace.overhead_frac", ((on1 + on2) / 2.0 - offMed) / offMed, "ratio")
      put(layer, "core.parse_us", parseNs / 1e3 / math.max(1, nq), "us")
      put(layer, "core.parse_terms", parseTerms.toDouble / math.max(1, nq), "count")
      val all = engNs.values.flatten.toSeq
      put(layer, "search.engine_us", all.sum / math.max(1, all.size), "us")
      Gen.Families.foreach { f =>
        val xs = engNs.getOrElse(f, ArrayBuffer[Double]())
        put(layer, s"search.engine_us.$f", if (xs.isEmpty) 0.0 else xs.sum / xs.size, "us")
      }
      put(layer, "search.postings_listed", postings.toDouble / math.max(1, nq), "count")
      put(layer, "search.hits_per_kposting", if (postings == 0) 0.0 else hits * 1000.0 / postings, "ratio")
      put(layer, "search.segments", eng.segments.size.toDouble, "count")
      put(layer, "search.alloc_kb", allocB / 1e3 / math.max(1, calls), "kB")
      put(layer, "index.decorate_us", decNs / 1e3 / math.max(1, calls), "us")
      put(layer, "core.snippet_us", snipNs / 1e3 / math.max(1, calls), "us")

      // the lazy dictionaries: first call of each expansion family on a
      // fresh engine over the same segments
      val fresh = new SegmentSearch.ServingEngine(eng.segments, eng.meta)
      val probes = corpus.familyPool(41, 60)
      Seq("prefix", "wildcard", "fuzzy").foreach { f =>
        val r = probes.find(x => x.family == f && (f != "wildcard" || x.text.startsWith("*"))).get
        val t0 = now
        Trace.span(s"search.first_call", 0) {
          f match {
            case "prefix" => fresh.searchPrefix(r.text, K)
            case "wildcard" => fresh.searchWildcard(r.text, K)
            case _ => fresh.searchFuzzy(r.text, K)
          }
        }
        put(layer, s"search.first_call_ms.$f", (now - t0) / 1e6, "ms")
      }
    } finally st.release()
  }
}
