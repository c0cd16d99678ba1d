package graft.search

import graft.core.{Bm25, ParsedQuery}
import graft.index.BlockCodec
import graft.index.SegmentIndex.LoadedSegment

import scala.collection.mutable

/** Block-max WAND top-k scorer over one loaded doc-partitioned segment.
  *
  * Semantics contract: identical candidate set and scores (within the 1e-9
  * tolerance) to the reference's search_scored
  * (/root/reference/src/core/search_service.cpp:196-297):
  *   - AND: doc must contain every distinct positive term — evaluated as a
  *     conjunctive k-way cursor merge (the reference's iterated sorted-merge
  *     intersection, search_service.cpp:61-86, computes the same set);
  *   - OR: union of term postings — evaluated with block-max WAND pruning;
  *   - NOT terms exclude docs and never affect scores;
  *   - duplicate query terms score once per occurrence (weight = count);
  *   - ranking: rank fully, truncate last — pruning is UPPER-BOUND-SAFE with
  *     the threshold relaxed by the 1e-9 tie epsilon, so no doc that could
  *     appear in the reference's top-k (including epsilon ties) is dropped.
  *
  * Per-segment results are merged at the driver with the reference's exact
  * epsilon comparator; `heapSlack` extra results per segment cover ties at
  * the k-th boundary.
  */
object Wand {

  final case class SegmentHit(docId: Long, score: Double)

  val HeapSlack = 64

  /** Cross-segment threshold shared by the per-segment scorers of ONE query
    * running in parallel: any segment's local kth-best score lower-bounds the
    * GLOBAL kth-best (the global top-k pool is a superset of each segment's),
    * so publishing the max across segments lets every segment prune with the
    * tightest bound known so far. Lock-free monotone max over double bits.
    */
  final class SharedTheta {
    private val bits = new java.util.concurrent.atomic.AtomicLong(
      java.lang.Double.doubleToRawLongBits(Double.NegativeInfinity))
    def get: Double = java.lang.Double.longBitsToDouble(bits.get)
    def publish(v: Double): Unit = {
      var cur = bits.get
      while (v > java.lang.Double.longBitsToDouble(cur) &&
        !bits.compareAndSet(cur, java.lang.Double.doubleToRawLongBits(v))) {
        cur = bits.get
      }
    }
  }

  /** One term's cursor over its block list. curDoc == Long.MaxValue at end.
    * Blocks decode to primitive arrays once per segment lifetime (TermData's
    * decode cache) — queries share the decoded form, no per-posting objects.
    */
  private final class Cursor(
      val weight: Double, // duplicate-occurrence count
      val idf: Double,
      val termUb: Double, // weight * max block bound
      val avgdlV: Double,
      td: graft.index.SegmentIndex.TermData,
      val qpos: Int // position among the query's distinct terms (tie order)
  ) {
    private val blocks = td.blocks
    private var bi = 0
    private var decoded: BlockCodec.DecodedBlock = _
    private var pos = 0
    loadBlock()

    private def loadBlock(): Unit = {
      if (bi < blocks.length) { decoded = td.decoded(bi); pos = 0 }
      else decoded = null
    }

    def curDoc: Long = if (decoded == null) Long.MaxValue else decoded.docIds(pos)

    /** weight * current block's score upper bound (0 at end). Derived from
      * the block's statistics-free (maxTf, minDl) under the CURRENT
      * (idf, avgdl) — safe for any index state, including after incremental
      * document adds.
      */
    def blockUb: Double =
      if (decoded == null) 0.0
      else weight * Bm25.partBound(blocks(bi).maxTf, blocks(bi).minDlOverTf, idf, avgdlV)

    /** first docId after the current block (for shallow advance). */
    def nextBlockBoundary: Long =
      if (decoded == null) Long.MaxValue
      else if (bi + 1 < blocks.length) blocks(bi).maxDoc + 1
      else Long.MaxValue

    def next(): Unit = {
      if (decoded == null) return
      pos += 1
      if (pos >= decoded.length) { bi += 1; loadBlock() }
    }

    /** advance to the first doc >= target (block skip + in-block search). */
    def advanceTo(target: Long): Unit = {
      if (decoded == null || curDoc >= target) return
      if (blocks(bi).maxDoc < target) {
        while (bi < blocks.length && blocks(bi).maxDoc < target) bi += 1
        loadBlock()
        if (decoded == null) return
      }
      // block maxDoc >= target, so a qualifying position exists
      val ids = decoded.docIds
      var lo = pos
      var hi = decoded.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) < target) lo = mid + 1 else hi = mid
      }
      pos = lo
    }

    def score(avgdl: Double): Double =
      weight * Bm25.termPart(decoded.tfs(pos), idf, Bm25.norm(decoded.dls(pos).toDouble, avgdl))
  }

  /** Ascending-probe NOT-term exclusion over block cursors. */
  private final class Excluder(cursors: Seq[Cursor]) {
    def contains(doc: Long): Boolean = {
      var i = 0
      while (i < cursors.length) {
        val c = cursors(i)
        if (c.curDoc < doc) c.advanceTo(doc)
        if (c.curDoc == doc) return true
        i += 1
      }
      false
    }
  }

  /** Heap order equivalent to `Ordering.by(h => (-h.score, h.docId))` but
    * allocation-free (the tuple ordering boxed two values per compare in the
    * hottest loop of the query path — visible in JFR samples).
    */
  private val heapOrdering: Ordering[SegmentHit] = new Ordering[SegmentHit] {
    def compare(a: SegmentHit, b: SegmentHit): Int = {
      val c = java.lang.Double.compare(b.score, a.score)
      if (c != 0) c else java.lang.Long.compare(a.docId, b.docId)
    }
  }

  /** Bounded top collector: a k-sized min-heap (plain score order) gives an
    * O(1) pruning threshold = kth-best - epsilon; hits evicted from the heap
    * that still sit within epsilon of the CURRENT kth-best go to a side
    * buffer so epsilon ties at the k boundary survive to the driver merge
    * (which applies the reference comparator). The buffer is logically
    * unbounded — a tie at the final k boundary is NEVER dropped (the
    * reference ranks fully and truncates last) — but is compacted whenever it
    * exceeds `HeapSlack`: entries that have fallen more than epsilon below
    * the CURRENT kth-best can never re-enter the final top-k (the threshold
    * only rises), so they are discarded; memory stays bounded by the number
    * of genuinely live boundary ties.
    *
    * `accept` (null = none) is a row check that only RESTRICTS candidates:
    * it runs only for a candidate that would enter the heap or the tie
    * buffer, and a rejected doc is dropped — so the threshold, and with it
    * block-max skipping and pivoting, tracks the kth-best ACCEPTED doc: the
    * exact top-k of the accepted set, with pruning. `maxChecks` bounds the
    * calls to `accept`; once spent, `exhausted` ends the scan. That best
    * effort is deterministic when `shared` is null: candidates then arrive
    * in doc order under this segment's own threshold alone.
    */
  private final class TopK(k: Int, shared: SharedTheta, accept: Long => Boolean, maxChecks: Int) {
    // min-heap: worst of the top-k on top (score asc, docId desc)
    private val heap = mutable.PriorityQueue.empty[SegmentHit](heapOrdering)
    private var ties = List.empty[SegmentHit]
    private var nTies = 0
    private var checks = 0

    def threshold: Double = {
      val local = if (heap.size < k) Double.NegativeInfinity else heap.head.score
      val best = if (shared == null) local else math.max(local, shared.get)
      if (best == Double.NegativeInfinity) Double.NegativeInfinity
      else best - Bm25.ScoreTieEpsilon
    }

    /** The check budget is spent: the scan should stop. */
    def exhausted: Boolean = checks >= maxChecks

    private def admit(docId: Long): Boolean =
      accept == null || (checks < maxChecks && { checks += 1; accept(docId) })

    private def addTie(h: SegmentHit): Unit = {
      if (nTies >= HeapSlack) { // compact: drop ties that are now stale
        val th = threshold
        ties = ties.filter(_.score >= th)
        nTies = ties.size
      }
      ties = h :: ties; nTies += 1
    }

    /** Primitive-args twin (r6): dense queries offer nearly every doc, so a
      * SegmentHit per CANDIDATE was pure young-gen churn — the object now
      * materializes only when the hit actually enters the heap or tie
      * buffer.
      */
    def offer(docId: Long, score: Double): Unit = {
      if (heap.size < k) {
        if (admit(docId)) {
          heap.enqueue(SegmentHit(docId, score))
          if (heap.size == k && shared != null) shared.publish(heap.head.score)
        }
      } else if (score > heap.head.score) {
        if (admit(docId)) {
          val evicted = heap.dequeue()
          heap.enqueue(SegmentHit(docId, score))
          if (shared != null) shared.publish(heap.head.score)
          if (evicted.score >= threshold) addTie(evicted)
        }
      } else if (score >= threshold && admit(docId)) { // within epsilon of kth but not above
        addTie(SegmentHit(docId, score))
      }
    }
    def results: Seq[SegmentHit] = heap.toSeq ++ ties
  }

  /** Score a parsed query against one segment; returns up to k + slack hits
    * (unsorted — driver merges with the epsilon comparator).
    *
    * `idfs` carries the GLOBAL idf per positive query term (global df = sum
    * of per-segment local dfs, computed by the caller once per batch) —
    * segments themselves only know local stats.
    *
    * `accept` (null = every doc) restricts the candidates: the result is the
    * top-k of the docs it accepts, and it is called only for competitive
    * candidates (see `TopK`), at most `maxChecks` times — past that the
    * scan stops and returns what it has.
    */
  def searchSegment(
      seg: LoadedSegment,
      pq: ParsedQuery,
      idfs: Map[String, Double],
      avgdl: Double,
      k: Int,
      shared: SharedTheta = null,
      accept: Long => Boolean = null,
      maxChecks: Int = Int.MaxValue
  ): Seq[SegmentHit] = {
    if (pq.terms.isEmpty) return Nil

    // weights = occurrence counts in query order
    val weights = mutable.LinkedHashMap[String, Int]()
    pq.terms.foreach(t => weights.update(t, weights.getOrElse(t, 0) + 1))
    val distinct = weights.keys.toIndexedSeq

    // NOT-term exclusion via monotone cursors: candidates are produced in
    // ascending docId order by both the conjunctive merge and WAND (cursors
    // only advance), so exclusion probes gallop instead of materializing a
    // hash set of the whole (often dense) NOT posting list per query.
    val excluded = new Excluder(
      pq.notTerms.distinct.flatMap(t => seg.terms.get(t))
        .map(td => new Cursor(0.0, 0.0, 0.0, avgdl, td, 0)))

    val cursors: IndexedSeq[Cursor] = distinct.zipWithIndex.flatMap { case (t, qi) =>
      // local presence implies global df >= 1, so idfs always has the term
      seg.terms.get(t).map { td =>
        val w = weights(t).toDouble
        val idf = idfs(t)
        new Cursor(w, idf, w * td.termBound(idf, avgdl), avgdl, td, qi)
      }
    }

    if (!pq.isOr) {
      // AND requires every distinct term present in the CORPUS-wide postings.
      // A term absent from this segment but present globally still means no
      // local doc can match (docs are whole within a segment); a term with
      // GLOBAL df == 0 kills the query everywhere. Either way: all distinct
      // terms must have a cursor here for any local match.
      if (cursors.length < distinct.length) return Nil
      andMerge(cursors, excluded, avgdl, new TopK(k, shared, accept, maxChecks))
    } else {
      orWand(cursors, excluded, avgdl, new TopK(k, shared, accept, maxChecks))
    }
  }

  /** Conjunctive k-way merge with galloping; exact scoring per matched doc.
    * Hot-loop discipline (same as orWand): a plain array and index loops —
    * the old `exists`/`foreach` combinators allocated an iterator per loop
    * iteration and were the top leaf frames of the query phase in JFR.
    */
  private def andMerge(
      cursorsIn: IndexedSeq[Cursor],
      excluded: Excluder,
      avgdl: Double,
      top: TopK
  ): Seq[SegmentHit] = {
    val cursors: Array[Cursor] = cursorsIn.toArray
    val n = cursors.length
    if (n == 0) return Nil
    var continue = true
    var i0 = 0
    while (i0 < n && continue) {
      if (cursors(i0).curDoc == Long.MaxValue) continue = false
      i0 += 1
    }
    while (continue) {
      // galloping alignment on the current max doc
      var target = Long.MinValue
      var t = 0
      while (t < n) { val d = cursors(t).curDoc; if (d > target) target = d; t += 1 }
      var allEq = true
      var i = 0
      while (i < n && continue) {
        val c = cursors(i)
        if (c.curDoc < target) c.advanceTo(target)
        if (c.curDoc == Long.MaxValue) continue = false
        else if (c.curDoc != target) allEq = false
        i += 1
      }
      if (continue && allEq) {
        // block-max pruning (AND flavor): every doc inside the cursors'
        // CURRENT blocks scores <= sum of block maxes; if that cannot beat
        // the epsilon-relaxed threshold, jump all cursors to the earliest
        // next block boundary (upper-bound-safe by construction).
        val theta = top.threshold
        var skipped = false
        if (theta > Double.NegativeInfinity) {
          var ubs = 0.0
          var j = 0
          while (j < n) { ubs += cursors(j).blockUb; j += 1 }
          if (ubs <= theta) {
            var d = Long.MaxValue
            var m = 0
            while (m < n) {
              val b = cursors(m).nextBlockBoundary
              if (b < d) d = b
              m += 1
            }
            if (d == Long.MaxValue) continue = false
            else {
              var a = 0
              while (a < n) {
                val c = cursors(a)
                c.advanceTo(d)
                if (c.curDoc == Long.MaxValue) continue = false
                a += 1
              }
            }
            skipped = true
          }
        }
        if (continue && !skipped) {
          if (!excluded.contains(target)) {
            var s = 0.0
            var j = 0
            while (j < n) { s += cursors(j).score(avgdl); j += 1 }
            top.offer(target, s)
            if (top.exhausted) continue = false
          }
          var a = 0
          while (a < n) {
            val c = cursors(a)
            c.next()
            if (c.curDoc == Long.MaxValue) continue = false
            a += 1
          }
        }
      }
    }
    top.results
  }

  /** Disjunctive block-max WAND.
    *
    * Hot-loop discipline (this runs millions of iterations per dense query
    * under 50-way load): cursors live in a plain array kept curDoc-ascending
    * by an in-place insertion pass — no per-iteration allocation (the old
    * `sortBy` built a fresh buffer every loop, pure GC churn at saturation).
    * When laggards must reach the pivot, only the HIGHEST-impact one (max
    * termUb) advances per iteration — the classic WAND selection: if the
    * pivot doc fails, the cheap low-impact lists were never decoded.
    */
  private def orWand(
      cursorsIn: IndexedSeq[Cursor],
      excluded: Excluder,
      avgdl: Double,
      top: TopK
  ): Seq[SegmentHit] = {
    val arr: Array[Cursor] = cursorsIn.filter(_.curDoc != Long.MaxValue).toArray
    var n = arr.length
    // Sort key is (curDoc, qpos): cursors parked on the SAME doc stay in
    // query order, so the evaluate branch sums term parts in exactly the
    // reference's query-order summation (bit-identical scores).
    java.util.Arrays.sort(arr, 0, n, Ordering.by[Cursor, (Long, Int)](c => (c.curDoc, c.qpos)))

    /** Restore ascending order after advances (in-place insertion pass —
      * nearly-sorted input => ~O(n)) and drop exhausted cursors off the tail.
      */
    def repair(): Unit = {
      var i = 1
      val hi = n
      while (i < hi) {
        val c = arr(i)
        val d = c.curDoc
        val q = c.qpos
        var j = i - 1
        while (j >= 0 && (arr(j).curDoc > d || (arr(j).curDoc == d && arr(j).qpos > q))) {
          arr(j + 1) = arr(j); j -= 1
        }
        arr(j + 1) = c
        i += 1
      }
      while (n > 0 && arr(n - 1).curDoc == Long.MaxValue) n -= 1
    }

    while (n > 0) {
      val theta = top.threshold

      // pivot: first prefix whose term-UB sum exceeds theta
      var acc = 0.0
      var pivotIdx = -1
      var i = 0
      while (i < n && pivotIdx < 0) {
        acc += arr(i).termUb
        if (acc > theta) pivotIdx = i
        i += 1
      }
      if (pivotIdx < 0) return top.results // nothing can beat theta

      val pivotDoc = arr(pivotIdx).curDoc

      // block-max check over the pivot prefix
      var blockUb = 0.0
      var j = 0
      while (j <= pivotIdx) { blockUb += arr(j).blockUb; j += 1 }

      // Skip window target (computed only when the block-max predicate
      // holds — it is an O(prefix) loop on the hot path): the earliest
      // prefix block boundary, pivot+1, and the first post-pivot cursor's
      // doc. The post-pivot cap is a SAFETY bound, not just an
      // optimization: a doc at or past it is covered by cursors whose UB
      // is NOT in the prefix blockUb sum.
      //
      // r6 FIX: the round-5 code forced forward progress here with
      // `if (d <= arr(0).curDoc) d = arr(0).curDoc + 1` — which OVERRODE
      // the post-pivot cap exactly when a post-pivot cursor was parked on
      // the SAME doc as arr(0) (all cursors aligned on one doc, pivot
      // mid-prefix): the doc's true bound includes the post-pivot
      // cursor's contribution, exceeds theta, and the doc was skipped
      // unsafely — reproduced as missing members of large equal-score tie
      // groups (RoundTripSoak / WandTieSpec). When the window cannot
      // advance safely (skipTarget <= arr(0).curDoc), fall through to
      // normal evaluation instead.
      var skipTarget = Long.MinValue
      if (blockUb <= theta && theta > Double.NegativeInfinity) {
        var d = pivotDoc + 1
        var m = 0
        while (m <= pivotIdx) {
          val b = arr(m).nextBlockBoundary
          if (b < d) d = b
          m += 1
        }
        if (pivotIdx + 1 < n && arr(pivotIdx + 1).curDoc < d)
          d = arr(pivotIdx + 1).curDoc
        skipTarget = d
      }

      if (skipTarget > arr(0).curDoc) {
        // Safe skip: every doc in [arr(0).curDoc, skipTarget) is covered
        // only by the prefix cursors' CURRENT blocks (UB sum <= theta).
        arr(0).advanceTo(skipTarget)
        repair()
      } else if (arr(0).curDoc == pivotDoc) {
        // fully evaluate pivotDoc
        var m = 0
        if (!excluded.contains(pivotDoc)) {
          var s = 0.0
          while (m < n && arr(m).curDoc == pivotDoc) {
            s += arr(m).score(avgdl)
            m += 1
          }
          top.offer(pivotDoc, s)
          if (top.exhausted) return top.results
        } else {
          while (m < n && arr(m).curDoc == pivotDoc) m += 1
        }
        var a = 0
        while (a < m) { arr(a).next(); a += 1 }
        repair()
      } else {
        // advance ONE laggard — the highest-impact cursor below the pivot —
        // to pivotDoc; if the pivot doc ends up failing, the other laggards'
        // postings were never touched.
        var best = 0
        var m = 1
        while (m < pivotIdx && arr(m).curDoc < pivotDoc) {
          if (arr(m).termUb > arr(best).termUb) best = m
          m += 1
        }
        arr(best).advanceTo(pivotDoc)
        repair()
      }
    }
    top.results
  }
}
