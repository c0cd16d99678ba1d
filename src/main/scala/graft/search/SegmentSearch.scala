package graft.search

import org.apache.spark.sql.SparkSession
import scala.collection.parallel.CollectionConverters._

import graft.core.{Bm25, ParsedQuery, QueryParser}
import graft.index.{DocSidecar, SegmentIndex, TermDict}
import graft.index.SegmentIndex.LoadedSegment

/** Query serving over on-disk segments (the scale path / EP2).
  *
  * Batch mode (how QPS is measured) is at most two Spark jobs and no
  * exchange. The dictionary pass reads each live segment's `TermDict` once
  * for the global dfs the batch needs; a warm `q` batch skips it. The
  * fan-out slices the segment files into tasks; each task scores every query
  * against its segments with block-max WAND, one `Wand.SharedTheta` per
  * query across them, and returns per query only the hits within
  * `Bm25.ScoreTieEpsilon` of its k-th best score. The driver merges those
  * with the reference's epsilon comparator (`mergeHits`). Rows reaching the
  * driver are at most tasks × queries × (k + live ties), and tasks are at
  * most 4 × `defaultParallelism` for any segment count, so the driver merge
  * is bounded by the cluster, not by the index.
  *
  * In-memory mode: all segments pinned in the JVM (the searchd serving model)
  * for single-query latency benchmarks.
  */
object SegmentSearch {

  /** Executor-local load-once cache per FILE IDENTITY
    * (`SegmentIndex.fileKey`): an in-place rewrite of a path (resume
    * invalidation, changed corpus) is re-opened instead of served stale, and
    * the superseded entry for that path is evicted and CLOSED — long-lived
    * executors must not leak a descriptor per superseded file. A task racing
    * the rewrite may see a ClosedChannelException and retry — loud and
    * correct (the bytes under it changed anyway).
    */
  private final class FileCache[V](open: String => V, close: V => Unit) {
    private val map = new java.util.concurrent.ConcurrentHashMap[String, V]()
    def get(path: String): V = {
      val key = SegmentIndex.fileKey(path)
      val hit = map.get(key)
      if (hit != null) return hit
      val keys = map.keys()
      while (keys.hasMoreElements) { // drop superseded versions of this path
        val k = keys.nextElement()
        if (k.startsWith(path + "|") && k != key) {
          val old = map.remove(k)
          if (old != null) close(old)
        }
      }
      map.computeIfAbsent(key, _ => open(path))
    }
  }

  // lazy segments: executor tasks read the term dictionary only; posting
  // records load on demand for the query terms that actually hit a segment
  @transient private lazy val segmentCache =
    new FileCache[LoadedSegment](SegmentIndex.loadSegment(_, eager = false), _.close())

  // sidecar readers for the filter and phrase checks: 24 B/doc pinned
  // (dictionary + filter fields); text rows are positional reads
  @transient private lazy val sidecarCache =
    new FileCache[DocSidecar.BucketReader](DocSidecar.openBucket, _.close())

  /** Driver-side global dfs of scored terms: one slot per index dir,
    * replaced when the dir's index state (n, sumDl, segment-file
    * fingerprint) changes, so a superseded state's map does not outlive it.
    */
  private final case class DfCache(state: (Long, Long, String),
      dfs: java.util.concurrent.ConcurrentHashMap[String, Long])
  @transient private lazy val dfCaches =
    new java.util.concurrent.ConcurrentHashMap[String, DfCache]()

  private[search] def dfCacheSize: Int = dfCaches.size

  /** The df map of `indexDir`'s current state (`files` are its live segments). */
  private def dfCache(indexDir: String, meta: SegmentIndex.Meta, files: Seq[String]) = {
    val fp = SegmentIndex.sha256Hex(
      files.map(SegmentIndex.fileKey).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val state = (meta.n, meta.sumDl, fp)
    dfCaches.compute(indexDir, (_, cur) =>
      if (cur != null && cur.state == state) cur
      else DfCache(state, new java.util.concurrent.ConcurrentHashMap[String, Long]())).dfs
  }

  /** Executor-local load-once per segment file identity (see `FileCache`). */
  def loadCached(path: String): LoadedSegment = segmentCache.get(path)

  /** The doc sidecar next to a segment file: swap only the FILENAME prefix
    * (a dir component containing "segment-" must not be rewritten).
    */
  private def sidecarOf(segmentPath: String): String = {
    val sp = java.nio.file.Paths.get(segmentPath)
    sp.resolveSibling(sp.getFileName.toString.replace("segment-", "docs-")).toString
  }

  /** The segment files sliced straight into tasks: one segment per task up
    * to 4x the core count (straggler rebalance), grouped only past that.
    */
  private def segmentTasks(spark: SparkSession, files: Seq[String]) =
    spark.sparkContext.parallelize(files,
      math.max(1, math.min(files.size, 4 * spark.sparkContext.defaultParallelism)))

  final case class QueryHit(qid: Int, docId: Long, score: Double)


  /** The ONE did-you-mean pick rule (the oracle contract shared by all
    * tiers): exact presence wins; else argmax global df with byte-lex tie;
    * else the term itself with df 0. `cands` are (candidate, global df)
    * pairs already verified within the edit-distance radius of `t`.
    */
  private[search] def pickSuggestion(t: String, cands: Iterable[(String, Long)]): (String, Long) = {
    val cs = cands.toSeq
    cs.find(_._1 == t)
      .orElse(cs.reduceOption((a, b) => if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a))
      .getOrElse((t, 0L))
  }

  /** Global idf per positive query term from IN-MEMORY segments: global df =
    * sum of per-segment local dfs (the Lucene sharding model — lets segments
    * be appended incrementally without rewriting stats into old files).
    */
  def globalIdfs(
      segments: Seq[LoadedSegment],
      n: Long,
      terms: Seq[String]
  ): Map[String, Double] =
    terms.distinct.flatMap { t =>
      val df = TermDict.df(segments, t)
      if (df > 0) Some(t -> Bm25.idf(n, df)) else None
    }.toMap

  /** Distributed batch search of reference-language queries: per query the
    * reference-ranked top-k (epsilon comparator). See `evaluate`.
    */
  def searchBatch(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[String],
      k: Int
  ): Map[Int, Seq[(Long, Double)]] =
    evaluate(spark, indexDir, queries.map(Query.parse("q", _)), k)

  /** The batch tier's evaluator: all queries against all live segments, per
    * query (by position) the exact top-k under the reference comparator.
    *
    * Job 1, the dictionary pass (`dictionaryPass`): the global df of every
    * scored term not yet cached for this index state and of every term an
    * expansion matches; a batch with every term cached and no expansion
    * starts no job. Job 2, the fan-out: each task runs block-max WAND per
    * query over the segments it holds, with one `Wand.SharedTheta` per query
    * across them. A query's candidate check (`Query.accept`: the metadata
    * filter, a phrase's adjacency, or both) runs inside WAND's top-k
    * collector against the segment's sibling doc sidecar, only for
    * candidates that would enter the top-k; the sidecar opens only when some
    * query has a check. There is no check budget, so the threshold a
    * segment publishes is the k-th best ACCEPTED score and sharing it is
    * exact. Per query a task returns only the hits within
    * `Bm25.ScoreTieEpsilon` of its k-th best score (`withinTies`), and the
    * driver merges those rows with `mergeHits`. No exchange.
    */
  def evaluate(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[Query],
      k: Int,
      filter: Option[Query.Filter] = None
  ): Map[Int, Seq[(Long, Double)]] = {
    val meta = SegmentIndex.readMeta(indexDir)
    val files = SegmentIndex.liveSegmentFiles(indexDir, meta)
    val dfs = dictionaryPass(spark, indexDir, meta, files,
      queries.flatMap(Query.scored(_, _ => Nil).terms).distinct,
      queries.collect { case Query.Expand(e) => e }.distinct)
    // every term an expansion matches is present, so it is among these
    val present = dfs.keys.toSeq.sorted
    val plans = queries.map(Query.scored(_, e => present.filter(e.matches))).toIndexedSeq
    if (files.isEmpty || plans.forall(_.terms.isEmpty))
      return queries.indices.map(_ -> Seq.empty[(Long, Double)]).toMap
    if (queries.exists(Query.accept(_, filter, DocSidecar.Docs.empty) != null))
      DocSidecar.ensure(spark, indexDir) // idempotent; sidecars are derived data

    val idfs = dfs.map { case (t, df) => t -> Bm25.idf(meta.n, df) }
    val avgdl = meta.avgdl
    val kk = math.max(1, k)
    val qs = queries.toIndexedSeq
    val hits = segmentTasks(spark, files).mapPartitions { paths =>
      val thetas = plans.map(_ => new Wand.SharedTheta)
      val found = plans.map(_ => scala.collection.mutable.ArrayBuffer.empty[Wand.SegmentHit])
      paths.foreach { p =>
        val seg = loadCached(p)
        lazy val sidecar = sidecarCache.get(sidecarOf(p))
        plans.indices.foreach { i =>
          found(i) ++= Wand.searchSegment(seg, plans(i), idfs, avgdl, kk, thetas(i),
            Query.accept(qs(i), filter, sidecar))
        }
      }
      plans.indices.iterator.flatMap(i => withinTies(found(i), kk).map(h => QueryHit(i, h.docId, h.score)))
    }.collect()
    mergeHits(hits, queries.size, k)
  }

  /** The hits that can still reach a top-k: those scoring at least the k-th
    * best score minus `Bm25.ScoreTieEpsilon` (`Wand`'s `TopK` tie rule, one
    * level up). Every other hit has k hits ahead of it under the reference
    * comparator.
    */
  private def withinTies(hits: scala.collection.Seq[Wand.SegmentHit], k: Int): Iterator[Wand.SegmentHit] =
    if (hits.size <= k) hits.iterator
    else {
      val kth = hits.map(_.score).sorted(Ordering.Double.TotalOrdering)(hits.size - k)
      hits.iterator.filter(_.score >= kth - Bm25.ScoreTieEpsilon)
    }

  /** The batch tier's ONE dictionary pass: the global df (the sum of the
    * live segments' local dfs) of each present term of `terms` and of every
    * term an expansion in `exps` matches (`TermDict.expand` on each
    * segment's own dictionary). Each task reads the dictionaries of the
    * segments it holds once; only (term, local df) rows of present terms
    * leave it. The dfs of `terms` are cached per index state (`dfCache`), so
    * only uncached terms are looked up, and a pass with none and no
    * expansion starts no job.
    */
  private def dictionaryPass(
      spark: SparkSession,
      indexDir: String,
      meta: SegmentIndex.Meta,
      files: Seq[String],
      terms: Seq[String],
      exps: Seq[Query.Expansion]
  ): Map[String, Long] = {
    val cache = dfCache(indexDir, meta, files)
    val missing = terms.filterNot(cache.containsKey)
    val found =
      if (files.isEmpty || (missing.isEmpty && exps.isEmpty)) Map.empty[String, Long]
      else segmentTasks(spark, files)
        .mapPartitions(_.flatMap { p =>
          val dict = loadCached(p).dict
          (missing ++ exps.flatMap(dict.expand(_, Int.MaxValue))).distinct
            .map(t => (t, dict.df(t))).filter(_._2 > 0)
        })
        .collect()
        .groupMapReduce(_._1)(_._2)(_ + _)
    missing.foreach(t => cache.put(t, found.getOrElse(t, 0L)))
    found ++ terms.map(t => t -> cache.get(t)).filter(_._2 > 0)
  }

  /** Distributed did-you-mean — the batch twin of the dataflow
    * `SearchEngine.didYouMeanDF` and the serving `ServingEngine.didYouMean`:
    * the dictionary pass collects the Levenshtein<=maxDist candidates of
    * every query term with their global dfs, then the shared pick rule:
    * exact presence wins, else argmax global df (ties byte-lex), else the
    * term itself with df 0. Output rows: (pos, term, suggestion, df).
    */
  def didYouMeanBatch(
      spark: SparkSession,
      indexDir: String,
      query: String,
      maxDist: Int = 1
  ): Seq[(Long, String, String, Long)] = {
    val terms = QueryParser.parse(query).terms
    // zero live segments (empty corpus / streaming dir before the first
    // commit): every term falls through to (itself, df 0), as on serving
    val dfs = expansions(spark, indexDir, terms.distinct.map(Query.Fuzzy(_, maxDist)))
    terms.zipWithIndex.map { case (t, i) =>
      val near = Query.Fuzzy(t, maxDist)
      val pick = pickSuggestion(t, dfs.view.filter { case (cand, _) => near.matches(cand) })
      (i + 1L, t, pick._1, pick._2)
    }
  }

  /** Distributed prefix suggestions — EXTENSION (deferred Phase 9
    * "autocomplete"), the batch twin of `ServingEngine.suggest`: the
    * dictionary pass's prefix matches ranked by global df desc, term asc.
    */
  def suggestBatch(
      spark: SparkSession,
      indexDir: String,
      prefix: String,
      k: Int
  ): Seq[(String, Long)] =
    Query.parse("prefix", prefix) match {
      case Query.Expand(e) =>
        expansions(spark, indexDir, Seq(e)).toSeq.sortBy { case (t, df) => (-df, t) }.take(k)
      case _ => Nil
    }

  /** Every term of `indexDir`'s live segments that one of `exps` matches,
    * with its global df: the dictionary pass with no scored terms.
    */
  private def expansions(spark: SparkSession, indexDir: String, exps: Seq[Query.Expansion]): Map[String, Long] = {
    val meta = SegmentIndex.readMeta(indexDir)
    dictionaryPass(spark, indexDir, meta, SegmentIndex.liveSegmentFiles(indexDir, meta), Nil, exps)
  }

  /** Same batch contract served from pre-loaded in-memory segments (no Spark
    * job — the reference's HTTP serving model, for latency/QPS benchmarks on
    * a warmed index). Parallelism = one task per segment via parallel
    * collections.
    */
  def searchBatchInMemory(
      segments: Seq[LoadedSegment],
      meta: SegmentIndex.Meta,
      queries: Seq[String],
      k: Int
  ): Map[Int, Seq[(Long, Double)]] = {
    val parsed = queries.zipWithIndex.map { case (q, i) => (i, QueryParser.parse(q)) }
    val idfs = globalIdfs(segments, meta.n, parsed.flatMap(_._2.terms))
    val thetas = parsed.map { case (qid, _) => qid -> new Wand.SharedTheta }.toMap
    val hits = segments.par
      .flatMap { seg =>
        parsed.flatMap { case (qid, pq) =>
          Wand.searchSegment(seg, pq, idfs, meta.avgdl, k, thetas(qid))
            .map(h => QueryHit(qid, h.docId, h.score))
        }
      }
      .seq
      .toArray
    mergeHits(hits, queries.size, k)
  }

  /** EP2 step 7: decorate one query's ranked top-k with snippets from the
    * docstore parquet (doc_id pushdown prunes row groups — the store is
    * doc_id-range sorted).
    */
  def searchWithSnippets(
      spark: SparkSession,
      indexDir: String,
      query: String,
      k: Int
  ): Seq[Hit] = {
    val top = searchBatch(spark, indexDir, Seq(query), k)(0)
    if (top.isEmpty) return Nil
    val ids = top.map(_._1)
    val pq = QueryParser.parse(query)
    val rows = spark.read
      .parquet(s"$indexDir/docstore")
      .filter(org.apache.spark.sql.functions.col("doc_id").isin(ids: _*))
      .select("doc_id", "text", "source", "lang")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
      .toMap
    top.map { case (id, s) =>
      val (text, source, lang) = rows.getOrElse(id, ("", "", ""))
      Hit(id, s, graft.core.Snippets.makeSnippet(text, pq.terms), source, lang)
    }
  }

  /** Long-lived in-memory serving engine (the searchd model): segments
    * pinned, per-term global idf cached across requests, and — for the dense
    * queries that dominate tail latency — segments scored IN PARALLEL within
    * one request on the shared ForkJoin pool (work-stealing keeps total
    * parallelism bounded under concurrent clients). One instance serves the
    * HTTP endpoint and the latency benchmarks.
    */
  final class ServingEngine(
      val segments: IndexedSeq[LoadedSegment],
      val meta: SegmentIndex.Meta,
      // deletion-index depth for the fuzzy family: 1 (default) answers
      // maxDist=1 without a vocab scan; 2 (opt-in per generation — r6,
      // VERDICT r5 #5 — ~5-6x the depth-1 index memory) extends that to
      // maxDist=2. Radii past the depth walk the generation's TermDict.
      symspellDepth: Int = 1
  ) {
    private val idfCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    // The generation's dictionary, merged from the segments' sorted footers
    // on the first expansion, suggest or did-you-mean request (never on the
    // `q=` path).
    private lazy val dict: TermDict = TermDict.of(segments)
    // SymSpell deletion neighborhood (SURVEY §2.14's 100 TB shape for the
    // fuzzy family), built from `dict` on the first fuzzy/did-you-mean
    // request: per-request cost is then O(|term|^depth) probes + the
    // verified candidate set, not O(vocab)
    private lazy val symspell: SymSpell = SymSpell.build(dict.terms.iterator, symspellDepth)
    private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    // Adaptive intra-request parallelism: fan a request's segments out across
    // cores only while few requests are in flight (cuts unloaded latency);
    // under saturation each request runs serially on its own client thread —
    // fanning out there only adds subtask queueing delay to the tail while
    // total throughput is already core-bound. One fan-out already fills a
    // small host, so below 8 cores only a request that is alone fans out: a
    // second fan-out would oversubscribe the cores, and whether a request
    // fans out would follow the timing of the others.
    private val parThreshold =
      math.max(1, Runtime.getRuntime.availableProcessors() / 4)

    // Only present terms are cached (a null mapping stores nothing): an
    // absent term (NaN) costs a hash probe per segment each time, and
    // distinct unknown tokens from clients cannot grow the cache.
    private def idfOf(t: String): Double = {
      val v = idfCache.computeIfAbsent(t, tt => {
        val df = TermDict.df(segments, tt)
        if (df > 0) java.lang.Double.valueOf(Bm25.idf(meta.n, df)) else null
      })
      if (v == null) Double.NaN else v.doubleValue
    }

    private[search] def idfCacheSize: Int = idfCache.size

    /** The serving tier's evaluator: the top-k of `q` under the reference
      * comparator. A query with nothing to check runs top-k WAND with one
      * threshold shared across segments; otherwise its candidate check
      * (`Query.accept`: the filter against `docs.meta`, a phrase's adjacency
      * against the text of `docs`, or both) runs inside each segment's
      * collector under `searchFiltered`'s per-segment, doc-order budget of
      * ⌈maxVerify / segments⌉ checks. The answer is exact unless a segment
      * spends its budget; a filter or phrase that rarely passes then returns
      * the best-effort top-k of the candidates checked. `maxTerms` caps an
      * expansion to its byte-lex-first matches — a latency guard for
      * degenerate patterns; the default is UNCAPPED so this tier scores the
      * exact term set the dataflow twin does (a cap makes results diverge on
      * large vocabularies).
      */
    def evaluate(
        q: Query,
        k: Int,
        docs: DocSidecar.Docs,
        filter: Option[Query.Filter] = None,
        maxTerms: Int = Int.MaxValue,
        maxVerify: Int = 100000): Seq[(Long, Double)] = {
      val pq = Query.scored(q, expand(_, maxTerms))
      val accept = Query.accept(q, filter, docs)
      if (accept == null) search(pq, k) else searchFiltered(pq, k, accept, maxVerify)
    }

    /** Ranked top-k (reference epsilon comparator) for one query. */
    def search(query: String, k: Int): Seq[(Long, Double)] =
      search(QueryParser.parse(query), k)

    def search(pq: ParsedQuery, k: Int): Seq[(Long, Double)] = topK(pq, k, null, Int.MaxValue)

    /** Filtered top-k: the filter only RESTRICTS candidates (scores are
      * global-idf BM25, unchanged), so `pred` runs inside each segment's
      * top-k collector, only for a candidate that would enter the top-k, and
      * a rejected doc is dropped: the threshold tracks the kth-best ACCEPTED
      * doc, block and window skipping stay live, and the answer is the
      * exact filtered top-k. `maxVerify` hard-bounds the `pred` calls: each
      * segment may check ⌈maxVerify / segments⌉ candidates, in doc order,
      * and stops there — a never-matching predicate on a frequent-term query
      * returns best-effort-truncated results instead of becoming a
      * full-corpus sidecar scan from one cheap HTTP request. Segments prune
      * with their own thresholds only (no `Wand.SharedTheta`), so that
      * best-effort answer does not depend on thread timing.
      */
    def searchFiltered(
        pq: ParsedQuery,
        k: Int,
        pred: Long => Boolean,
        maxVerify: Int = 100000): Seq[(Long, Double)] = {
      val n = math.max(1, segments.length)
      topK(pq, math.max(1, k), pred, ((maxVerify.toLong + n - 1) / n).toInt)
    }

    /** One top-k WAND pass over all segments; `accept` (null = none) and
      * `maxChecks` go to every segment's collector (see `Wand.searchSegment`).
      * Unfiltered passes share one threshold across segments.
      */
    private def topK(
        pq: ParsedQuery,
        k: Int,
        accept: Long => Boolean,
        maxChecks: Int): Seq[(Long, Double)] = {
      if (pq.terms.isEmpty) return Nil
      val load = inFlight.incrementAndGet()
      try {
        val idfs = pq.terms.distinct
          .flatMap { t => val v = idfOf(t); if (v.isNaN) None else Some(t -> v) }
          .toMap
        val shared = if (accept == null) new Wand.SharedTheta else null
        def one(seg: LoadedSegment) =
          Wand.searchSegment(seg, pq, idfs, meta.avgdl, k, shared, accept, maxChecks)
        val raw =
          if (segments.length > 1 && load <= parThreshold) segments.par.flatMap(one).seq
          else segments.flatMap(one)
        Bm25.sortHits(raw.map(h => (h.docId, h.score))).take(k)
      } finally inFlight.decrementAndGet()
    }

    /** Phrase-adjacent top-k — EXTENSION (the reference's deferred phrase
      * phase; see `graft.core.Phrase` and SURVEY §2.12): the AND of the
      * phrase's terms, adjacency checked against `textOf` inside the top-k
      * collector for competitive candidates only, at most ⌈maxVerify /
      * segments⌉ texts per segment in doc order (see `evaluate`).
      */
    def searchPhrase(
        phrase: String,
        k: Int,
        textOf: Long => Option[String],
        maxVerify: Int = 100000): Seq[(Long, Double)] =
      evaluate(Query.parse("phrase", phrase), k,
        DocSidecar.Docs(id => textOf(id).map(DocSidecar.DocRow(_, "", ""))), maxVerify = maxVerify)

    /** Prefix top-k — EXTENSION (SURVEY §2.12): the prefix's dictionary
      * range scored OR-mode in byte-lex term order (`SearchEngine.prefixScoredDF`).
      */
    def searchPrefix(prefix: String, k: Int, maxTerms: Int = Int.MaxValue): Seq[(Long, Double)] =
      evaluate(Query.parse("prefix", prefix), k, DocSidecar.Docs.empty, maxTerms = maxTerms)

    /** General wildcard (`*bar`, `foo*bar`) top-k: the glob's dictionary
      * matches scored OR-mode in byte-lex order (`SearchEngine.wildcardScoredDF`).
      */
    def searchWildcard(pattern: String, k: Int, maxTerms: Int = Int.MaxValue): Seq[(Long, Double)] =
      evaluate(Query.parse("wildcard", pattern), k, DocSidecar.Docs.empty, maxTerms = maxTerms)

    /** Typo-tolerant top-k — EXTENSION (the reference's own competitive-gap
      * row, COMMERCIAL_ROADMAP.md:31): the term's Levenshtein <= `maxDist`
      * neighbors scored OR-mode in byte-lex order (`SearchEngine.fuzzyScoredDF`).
      */
    def searchFuzzy(term: String, k: Int, maxDist: Int = 1, maxTerms: Int = Int.MaxValue): Seq[(Long, Double)] =
      evaluate(Query.fuzzy(term, maxDist), k, DocSidecar.Docs.empty, maxTerms = maxTerms)

    /** The dictionary terms `e` matches, byte-lex ascending, the first
      * `maxTerms` of them: SymSpell for a fuzzy radius within its depth,
      * else the generation's `TermDict`.
      */
    private def expand(e: Query.Expansion, maxTerms: Int): Seq[String] = e match {
      case Query.Fuzzy(t, d) if d <= symspellDepth => symspell.neighbors(t, d).take(maxTerms)
      case _ => dict.expand(e, maxTerms)
    }

    /** Prefix term suggestions — EXTENSION (the reference's deferred Phase 9
      * "autocomplete"): top-k dictionary terms for a prefix, ranked by GLOBAL
      * df (sum of per-segment local dfs — the same Lucene-model summation as
      * scoring) desc, then term asc. Rides the dictionary's range walk:
      * O(log V + |matches| x segments) per request, never O(V).
      */
    def suggest(prefix: String, k: Int): Seq[(String, Long)] =
      Query.parse("prefix", prefix) match {
        case Query.Expand(e) =>
          expand(e, Int.MaxValue).map(t => t -> dict.df(t)).sortBy { case (t, df) => (-df, t) }.take(k)
        case _ => Nil
      }

    /** Serving twin of `SearchEngine.didYouMeanDF` — same pick rule (exact
      * presence wins; else highest GLOBAL df within Levenshtein <= maxDist,
      * ties byte-lex; else the term itself with df 0). Global df = Σ of the
      * segments' local dfs, so the answer is bit-identical to the dataflow
      * tier's.
      */
    def didYouMean(query: String, maxDist: Int = 1): Seq[(Long, String, String, Long)] =
      QueryParser.parse(query).terms.zipWithIndex.map { case (t, i) =>
        val cands = expand(Query.Fuzzy(t, maxDist), Int.MaxValue) // byte-lex sorted, verified
        val pick = pickSuggestion(t, cands.view.map(c => (c, dict.df(c))))
        (i + 1L, t, pick._1, pick._2)
      }

    /** Learning-to-rank re-rank — EXTENSION (the roadmap's optional Phase 10
      * "LTR" row; see [[graft.search.Ltr]] for the model and the distributed
      * trainer). Serving twin of `Ltr.featuresDF` + `Ltr.rerankDF`: the
      * exact full OR enumeration (k unbounded → the WAND threshold never
      * engages, scores are the same global-idf BM25 the micro re-rank gates
      * use) supplies `f_bm25_r`; one decoded-posting walk per distinct query
      * term supplies the integer coverage features (matched count, dl, Σtf,
      * max tf — a doc lives in exactly one segment, so per-segment feature
      * maps never collide); the integer model combines them and ranks
      * (ltr_r desc, docId asc). Returns (docId, ltr_r).
      *
      * Cost: O(Σ posting lengths of the query terms) per request — the same
      * bound as the enumeration itself; no text or sidecar reads.
      */
    def searchLtr(query: String, w: Ltr.Weights, k: Int): Seq[(Long, Long)] = {
      val pq = QueryParser.parse(query)
      if (pq.terms.isEmpty) return Nil
      val orPq = pq.copy(isOr = true)
      val hits = search(orPq, Int.MaxValue)
      if (hits.isEmpty) return Nil
      val distinct = pq.terms.distinct
      val feats = new java.util.HashMap[Long, Array[Long]]() // matched, dl, tfsum, maxtf
      segments.foreach { seg =>
        distinct.foreach { t =>
          seg.postings(t).foreach { p =>
            var f = feats.get(p.docId)
            if (f == null) { f = new Array[Long](4); feats.put(p.docId, f) }
            f(0) += 1L
            f(1) = p.dl.toLong
            f(2) += p.tf.toLong
            if (p.tf.toLong > f(3)) f(3) = p.tf.toLong
          }
        }
      }
      hits
        .map { case (id, s) =>
          val f = feats.get(id)
          val ltr = w.wBm25 * math.round(s * 1e6) + w.wMatched * f(0) +
            w.wDl * f(1) + w.wTfSum * f(2) + w.wMaxTf * f(3)
          (id, ltr)
        }
        .sortBy { case (id, r) => (-r, id) }
        .take(k)
    }
  }

  private def mergeHits(hits: Array[QueryHit], nQueries: Int, k: Int): Map[Int, Seq[(Long, Double)]] = {
    val byQ = hits.groupBy(_.qid)
    (0 until nQueries).map { qid =>
      val ranked = Bm25
        .sortHits(byQ.getOrElse(qid, Array.empty[QueryHit]).map(h => (h.docId, h.score)).toIndexedSeq)
        .take(k)
      qid -> ranked
    }.toMap
  }
}
