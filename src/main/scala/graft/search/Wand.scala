package graft.search

import graft.core.{Bm25, ParsedQuery}
import graft.index.SegmentIndex.{Impacts, LoadedSegment, TermData}

import scala.collection.mutable

/** Top-k BM25 scorer over one loaded doc-partitioned segment: block-max
  * conjunction for AND, windowed MaxScore for OR.
  *
  * Semantics contract: identical candidate set and scores (within the 1e-9
  * tolerance) to the reference's search_scored
  * (/root/reference/src/core/search_service.cpp:196-297):
  *   - AND: doc must contain every distinct positive term — evaluated as a
  *     leapfrog conjunction of cursors (the reference's iterated sorted-merge
  *     intersection, search_service.cpp:61-86, computes the same set);
  *   - OR: union of term postings — evaluated in doc-id windows (MaxScore);
  *   - NOT terms exclude docs and never affect scores;
  *   - duplicate query terms score once per occurrence (weight = count);
  *   - ranking: rank fully, truncate last — pruning is UPPER-BOUND-SAFE with
  *     the threshold relaxed by the 1e-9 tie epsilon, so no doc that could
  *     appear in the reference's top-k (including epsilon ties) is dropped.
  *
  * Scoring reads impacts, not tf/dl: a posting scores `weight × impact`,
  * where `TermData.impacts` holds every posting's `Bm25.termPart` under the
  * query's (idf, avgdl), built once per stats change and shared by every
  * query. Bounds are the EXACT maxima of those impacts per block and per
  * term (the on-disk `partBound` metadata is the format's contract, not the
  * scorer's), so a skip rule `Σ bounds <= θ` prunes only docs that score at
  * most θ.
  *
  * Summation order: a doc's score is `0.0 + w1·p1 + w2·p2 + …` over the
  * query's distinct terms in query order (`qpos`) on every path — the AND
  * loop, the OR accumulator and therefore both tiers — so equal inputs give
  * bit-identical scores (the add-parity contract). Bound sums that gate a
  * skip are taken in the same order: float addition is monotone, so a sum
  * of bounds in qpos order dominates the sum of parts in qpos order.
  *
  * Per-segment results are merged at the driver with the reference's exact
  * epsilon comparator; `heapSlack` extra results per segment cover ties at
  * the k-th boundary.
  */
object Wand {

  final case class SegmentHit(docId: Long, score: Double)

  val HeapSlack = 64

  /** Doc ids per OR window: the accumulator's size. */
  private val Window = 4096

  /** Windows the OR loop skipped whole, and windows that ran with at least
    * one non-essential cursor: test-visible evidence that both pruning paths
    * ran (one increment per window, never per doc).
    */
  private[search] val windowsSkipped = new java.util.concurrent.atomic.LongAdder
  private[search] val windowsSplit = new java.util.concurrent.atomic.LongAdder

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

  /** One term's cursor over its block list; `curDoc == Long.MaxValue` at the
    * end. A scoring cursor reads the `Impacts` it was built with (`imps`),
    * never the term's memo again, so a stats change mid-query cannot mix two
    * generations. A NOT-term cursor (`imps == null`) reads only doc ids,
    * decoded per block on first touch. The current block's ids, its offset
    * into the flat impacts and its bound live in fields; `advanceTo` gallops
    * from the current position before it binary-searches the bracket, so
    * adjacent targets cost O(1).
    */
  private final class Cursor(val weight: Double, td: TermData, imps: Impacts, val qpos: Int) {
    private val blocks = td.blocks
    private val nBlocks = blocks.length
    /** weight × the term's exact maximum impact */
    val termBound: Double = if (imps == null) 0.0 else weight * imps.termMax
    private val imp: Array[Double] = if (imps == null) null else imps.impact
    private var bi = 0
    private var off = 0 // flat index of the current block's first posting
    private var ids: Array[Long] = _
    private var lastDoc = 0L // current block's last doc id
    private var pos = 0
    var curDoc: Long = Long.MaxValue
    /** weight × the current block's exact maximum impact (0 at end). */
    var blockBound: Double = 0.0
    if (nBlocks > 0) load(0, 0)

    private def idsOf(b: Int): Array[Long] = if (imps == null) td.docIds(b) else imps.docIds(b)

    private def load(b: Int, at: Int): Unit = {
      bi = b
      off = at
      ids = idsOf(b)
      if (imps != null) blockBound = weight * imps.blockMax(b)
      lastDoc = ids(ids.length - 1)
      pos = 0
      curDoc = ids(0)
    }

    private def finish(): Unit = { curDoc = Long.MaxValue; blockBound = 0.0; ids = null }

    /** First doc id after the current block (Long.MaxValue on the last). */
    def nextBlockBoundary: Long =
      if (curDoc == Long.MaxValue || bi + 1 >= nBlocks) Long.MaxValue else lastDoc + 1

    def next(): Unit = {
      if (curDoc == Long.MaxValue) return
      pos += 1
      if (pos < ids.length) curDoc = ids(pos)
      else if (bi + 1 < nBlocks) load(bi + 1, off + ids.length)
      else finish()
    }

    /** Advance to the first doc >= target: skip whole blocks by their
      * metadata (a skipped block is never decoded), then gallop and
      * binary-search inside the block.
      */
    def advanceTo(target: Long): Unit = {
      if (curDoc >= target) return
      if (lastDoc < target) {
        var b = bi + 1
        var at = off + ids.length
        while (b < nBlocks && blocks(b).maxDoc < target) { at += blocks(b).count; b += 1 }
        if (b >= nBlocks) { finish(); return }
        load(b, at)
        if (curDoc >= target) return
      }
      // ids(pos) < target <= ids(last)
      val a = ids
      val last = a.length - 1
      var lo = pos
      var step = 1
      var hi = lo + 1
      while (hi < last && a(hi) < target) { lo = hi; step <<= 1; hi = lo + step }
      if (hi > last) hi = last
      while (lo + 1 < hi) {
        val mid = (lo + hi) >>> 1
        if (a(mid) < target) lo = mid else hi = mid
      }
      pos = hi
      curDoc = a(hi)
    }

    def score: Double = weight * imp(off + pos)

    /** weight × the max impact over this cursor's blocks holding a doc in
      * [curDoc, end): a bound on its part of any doc in that range.
      */
    def windowBound(end: Long): Double = {
      if (curDoc >= end) return 0.0
      var m = imps.blockMax(bi)
      var b = bi + 1
      while (b < nBlocks && imps.docIds(b)(0) < end) {
        if (imps.blockMax(b) > m) m = imps.blockMax(b)
        b += 1
      }
      weight * m
    }

    /** Set the bit of each of this cursor's docs in [base, end), in place. */
    def mark(base: Long, end: Long, bits: Array[Long]): Unit = {
      if (curDoc >= end) return
      var b = bi
      var a = ids
      var p = pos
      while (true) {
        while (p < a.length) {
          val d = a(p)
          if (d >= end) return
          val o = (d - base).toInt
          bits(o >>> 6) |= 1L << o
          p += 1
        }
        b += 1
        if (b >= nBlocks) return
        a = imps.docIds(b)
        p = 0
      }
    }

    /** Add this cursor's part of each of its docs in [base, end) into `acc`
      * and set the doc's bit; stops on the first doc >= end.
      */
    def scanAdd(base: Long, end: Long, acc: Array[Double], bits: Array[Long]): Unit = {
      while (curDoc < end) {
        val o = (curDoc - base).toInt
        acc(o) += weight * imp(off + pos)
        bits(o >>> 6) |= 1L << o
        next()
      }
    }

    /** Add this cursor's part of the candidates `cand(0 until nc)` (window
      * offsets, ascending) it holds, galloping to each; then move to `end`.
      */
    def addAt(base: Long, end: Long, cand: Array[Int], nc: Int, acc: Array[Double]): Unit = {
      var j = 0
      while (j < nc && curDoc < end) {
        val o = cand(j)
        val d = base + o
        if (curDoc < d) advanceTo(d)
        if (curDoc == d) acc(o) += weight * imp(off + pos)
        j += 1
      }
      advanceTo(end)
    }
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
    * block and window skipping, tracks the kth-best ACCEPTED doc: the
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

    // distinct terms in query order; weight = occurrence count
    val distinct = pq.terms.distinct
    // AND requires every distinct term present in the CORPUS-wide postings.
    // A term absent from this segment but present globally still means no
    // local doc can match (docs are whole within a segment); a term with
    // GLOBAL df == 0 kills the query everywhere. Either way: all distinct
    // terms must have postings here for any local match.
    if (!pq.isOr && !distinct.forall(seg.terms.contains)) return Nil
    val counts =
      if (distinct.length == pq.terms.length) null
      else pq.terms.groupMapReduce(identity)(_ => 1)(_ + _)

    // NOT-term exclusion via monotone cursors: candidates are produced in
    // ascending docId order by both the conjunction and the OR windows, so
    // exclusion probes gallop instead of materializing a hash set of the
    // whole (often dense) NOT posting list per query.
    val excluded = new Excluder(
      pq.notTerms.distinct.flatMap(t => seg.terms.get(t)).map(td => new Cursor(0.0, td, null, 0)))

    val cursors = new mutable.ArrayBuffer[Cursor](distinct.length)
    var qi = 0
    distinct.foreach { t =>
      // local presence implies global df >= 1, so idfs always has the term
      seg.terms.get(t).foreach { td =>
        val w = if (counts == null) 1.0 else counts(t).toDouble
        cursors += new Cursor(w, td, td.impacts(idfs(t), avgdl), qi)
      }
      qi += 1
    }
    val top = new TopK(k, shared, accept, maxChecks)
    if (!pq.isOr) andMerge(cursors.toArray, excluded, top)
    else {
      // taken off the thread while in use and put back only on a normal
      // return: a check that throws mid-window leaves it dirty, and the
      // next call on this thread allocates a clean one
      val w = scratch.get
      if (w != null) scratch.set(null)
      val ws = if (w != null) w else new Scratch
      val r = orWindows(cursors.toArray, excluded, top, ws)
      scratch.set(ws)
      r
    }
  }

  /** Leapfrog conjunction with block-max skipping; exact scoring per
    * matched doc. Cursors stay in query order, so both the score and the
    * block-bound sum add in qpos order.
    */
  private def andMerge(cursors: Array[Cursor], excluded: Excluder, top: TopK): Seq[SegmentHit] = {
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
          while (j < n) { ubs += cursors(j).blockBound; j += 1 }
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
            while (j < n) { s += cursors(j).score; j += 1 }
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

  /** The OR loop's per-thread working set: one window's score accumulator
    * and candidate bitset (kept zeroed between windows), the candidate
    * offsets, and per-cursor bound scratch grown to the widest query seen.
    */
  private final class Scratch {
    val acc = new Array[Double](Window)
    val bits = new Array[Long](Window / 64)
    val cand = new Array[Int](Window)
    var bound = new Array[Double](16)
    var sorted = new Array[Double](16)
    var nonEssential = new Array[Boolean](16)
    def fit(n: Int): Unit = if (bound.length < n) {
      bound = new Array[Double](n); sorted = new Array[Double](n); nonEssential = new Array[Boolean](n)
    }
  }
  private val scratch = new ThreadLocal[Scratch]

  /** Disjunction as windowed MaxScore (Turtle & Flood 1995, evaluated in
    * doc-id windows as Lucene's MaxScoreBulkScorer does). Each window
    * starts at the lowest cursor doc and spans `Window` doc ids:
    *   - each cursor's window bound is weight × the max impact of its blocks
    *     that overlap the window; if their sum (qpos order) is <= θ, no doc
    *     in the window can compete and the window is skipped;
    *   - otherwise the cursors sorted by bound split at the longest prefix
    *     whose bound sum is <= θ: a doc found only in those NON-ESSENTIAL
    *     cursors cannot compete, so the candidates are the essential
    *     cursors' docs in the window;
    *   - the cursors then add `weight × impact` into the accumulator in
    *     qpos order — an essential cursor by scanning, a non-essential one
    *     by galloping to each candidate — so each doc's sum is the same
    *     `0.0 + p(q1) + p(q2) + …` the conjunction computes;
    *   - candidates go to `TopK` in ascending doc order, so `accept`, its
    *     budget and NOT exclusion see docs in doc order, as in the AND loop.
    * θ is read once per window; it only rises, so the window's split stays
    * safe for every doc in it.
    */
  private def orWindows(cursors: Array[Cursor], excluded: Excluder, top: TopK, ws: Scratch): Seq[SegmentHit] = {
    val n = cursors.length
    ws.fit(n)
    val acc = ws.acc
    val bits = ws.bits
    val cand = ws.cand
    val bound = ws.bound
    val sorted = ws.sorted
    val ne = ws.nonEssential
    while (true) {
      var base = Long.MaxValue
      var i = 0
      while (i < n) { val d = cursors(i).curDoc; if (d < base) base = d; i += 1 }
      if (base == Long.MaxValue) return top.results
      val end = base + Window
      val theta = top.threshold

      var termSum = 0.0
      var winSum = 0.0
      i = 0
      while (i < n) {
        val c = cursors(i)
        if (c.curDoc != Long.MaxValue) termSum += c.termBound
        bound(i) = c.windowBound(end)
        winSum += bound(i)
        i += 1
      }
      if (termSum <= theta) return top.results // no remaining doc can compete
      if (winSum <= theta) {
        windowsSkipped.increment()
        i = 0
        while (i < n) { cursors(i).advanceTo(end); i += 1 }
      } else {
        val nNe = splitNonEssential(n, theta, bound, sorted, ne)
        var nc = 0
        if (nNe > 0) {
          windowsSplit.increment()
          i = 0
          while (i < n) { if (!ne(i)) cursors(i).mark(base, end, bits); i += 1 }
          nc = collect(bits, cand)
        }
        i = 0
        while (i < n) {
          val c = cursors(i)
          if (nNe > 0 && ne(i)) c.addAt(base, end, cand, nc, acc)
          else c.scanAdd(base, end, acc, bits)
          i += 1
        }
        if (nNe == 0) nc = collect(bits, cand)
        else java.util.Arrays.fill(bits, 0L)

        var stop = false
        var j = 0
        while (j < nc) {
          val o = cand(j)
          val s = acc(o)
          acc(o) = 0.0
          if (!stop && !excluded.contains(base + o)) {
            top.offer(base + o, s)
            stop = top.exhausted
          }
          j += 1
        }
        if (stop) return top.results
      }
    }
    top.results
  }

  /** Mark in `ne` the longest prefix of the cursors sorted by (bound, qpos)
    * whose bound sum is <= θ; returns its size. The sum that decides is
    * re-taken over the marked cursors in qpos order, the order scores add
    * in, and the prefix shrinks until that sum is <= θ too.
    */
  private def splitNonEssential(
      n: Int, theta: Double, bound: Array[Double], sorted: Array[Double], ne: Array[Boolean]): Int = {
    java.util.Arrays.fill(ne, 0, n, false)
    if (theta == Double.NegativeInfinity) return 0
    System.arraycopy(bound, 0, sorted, 0, n)
    java.util.Arrays.sort(sorted, 0, n)
    var p = 0
    var run = 0.0
    while (p < n && run + sorted(p) <= theta) { run += sorted(p); p += 1 }
    while (p > 0) {
      val cut = sorted(p - 1)
      var below = 0
      var i = 0
      while (i < n) { if (bound(i) < cut) below += 1; i += 1 }
      var ties = p - below
      var s = 0.0
      i = 0
      while (i < n) {
        ne(i) = bound(i) < cut || (bound(i) == cut && ties > 0 && { ties -= 1; true })
        if (ne(i)) s += bound(i)
        i += 1
      }
      if (s <= theta) return p
      java.util.Arrays.fill(ne, 0, n, false)
      p -= 1
    }
    0
  }

  /** Move the set bits' offsets into `cand` in ascending order, clearing
    * `bits`; returns the count.
    */
  private def collect(bits: Array[Long], cand: Array[Int]): Int = {
    var nc = 0
    var w = 0
    while (w < bits.length) {
      var x = bits(w)
      if (x != 0L) {
        bits(w) = 0L
        while (x != 0L) {
          cand(nc) = (w << 6) + java.lang.Long.numberOfTrailingZeros(x)
          nc += 1
          x &= x - 1
        }
      }
      w += 1
    }
    nc
  }
}
