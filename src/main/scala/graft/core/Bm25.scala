package graft.core

/** BM25 constants and scalar pieces, shared by every scorer in the engine.
  *
  * Formula (/root/reference/src/core/search_service.cpp:232-285; normative
  * spec /root/reference/specs/phase3_ranking_query_engine.md:105-158):
  *
  *   idf(t)      = ln((N - df + 0.5) / (df + 0.5) + 1)
  *   norm(doc)   = 1 - b + b * dl/avgdl      (1.0 when avgdl == 0)
  *   part(t,doc) = idf(t) * tf*(k1+1) / (tf + k1*norm(doc))
  *   score(doc)  = sum over the query-term LIST in query order
  *                 (duplicate terms contribute once per occurrence)
  *
  * k1 = 1.2, b = 0.75. Terms with df == 0 are skipped; docs with missing dl
  * are skipped; NOT terms never affect the score.
  */
object Bm25 extends Serializable {
  val K1 = 1.2
  val B = 0.75

  /** Epsilon tie rule (/root/reference/src/core/score_order.h:8-21). */
  val ScoreTieEpsilon = 1e-9

  @inline def idf(n: Long, df: Long): Double =
    math.log((n - df + 0.5) / (df + 0.5) + 1.0)

  @inline def norm(dl: Double, avgdl: Double): Double =
    if (avgdl > 0.0) 1.0 - B + B * (dl / avgdl) else 1.0

  @inline def termPart(tf: Int, idf: Double, norm: Double): Double =
    idf * (tf * (K1 + 1.0)) / (tf + K1 * norm)

  /** Statistics-free block score bound. Rewrite termPart per posting p as
    *   s_p = idf*(k1+1) / (1 + k1*(1-b)/tf_p + (k1*b/avgdl) * (dl_p/tf_p)),
    * which is decreasing in 1/tf_p and in dl_p/tf_p for every avgdl > 0. So
    * with maxTf = max tf_p and minDlOverTf = min (dl_p/tf_p) over the block,
    *   idf*(k1+1) / (1 + k1*(1-b)/maxTf + (k1*b/avgdl)*minDlOverTf)
    * dominates every posting's score under ANY (idf, avgdl) — bounds baked at
    * build time stay valid after incremental corpus changes — and is exact
    * whenever one posting attains both extremes (the common case).
    */
  @inline def partBound(maxTf: Int, minDlOverTf: Double, idf: Double, avgdl: Double): Double =
    if (avgdl > 0.0)
      idf * (K1 + 1.0) / (1.0 + K1 * (1.0 - B) / maxTf + K1 * B * minDlOverTf / avgdl)
    else
      idf * (K1 + 1.0) / (1.0 + K1 / maxTf) // norm == 1 when avgdl == 0

  @inline def scoresTied(a: Double, b: Double): Boolean =
    math.abs(a - b) < ScoreTieEpsilon

  /** Reference result ordering: higher score first; |Δ| < 1e-9 is a tie,
    * broken by ascending docId. NOT a strict weak ordering (ties are
    * non-transitive) — so it must never be handed to TimSort (`.sorted`),
    * which throws "Comparison method violates its general contract" on
    * epsilon-chained inputs. Use [[sortHits]] instead; this comparator is
    * kept for pairwise comparisons and the insertion post-pass only.
    */
  val hitOrdering: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    def compare(a: (Long, Double), b: (Long, Double)): Int = {
      if (!scoresTied(a._2, b._2)) java.lang.Double.compare(b._2, a._2)
      else java.lang.Long.compare(a._1, b._1)
    }
  }

  /** Strict weak order (TimSort-safe): score desc, docId asc. */
  private val totalOrdering: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    def compare(a: (Long, Double), b: (Long, Double)): Int = {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
  }

  /** Reference-identical final sort without giving the non-transitive epsilon
    * comparator to TimSort: total-order sort first (score desc, docId asc —
    * strict weak, safe), then a stable insertion post-pass applying the
    * epsilon tie rule so epsilon-tied-but-unequal neighbours end up in
    * ascending docId order, exactly the fixpoint the reference's std::sort
    * reaches (/root/reference/src/core/score_order.h:8-21). Insertion sort is
    * crash-free under any comparator; after the total sort elements move only
    * within their epsilon chain, so the pass is near-linear in practice.
    */
  def sortHits(hits: Seq[(Long, Double)]): IndexedSeq[(Long, Double)] = {
    val arr = hits.toArray
    scala.util.Sorting.quickSort(arr)(totalOrdering)
    var i = 1
    while (i < arr.length) {
      val cur = arr(i)
      var j = i - 1
      while (j >= 0 && hitOrdering.compare(cur, arr(j)) < 0) {
        arr(j + 1) = arr(j); j -= 1
      }
      arr(j + 1) = cur
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
  }
}

/** Pure single-node reference twin of the whole engine — the oracle that the
  * distributed Spark paths are property-tested against (same role as the
  * reference's committed Python twin,
  * /root/reference/tests/phase3_ranking/fixtures/bm25_reference.py:16-116).
  * Driver-side only; never used on the data path.
  */
final class RefEngine {
  private val docText = scala.collection.mutable.LinkedHashMap[Long, String]()
  private val docLen = scala.collection.mutable.HashMap[Long, Int]()
  // term -> (docId -> tf)
  private val index =
    scala.collection.mutable.HashMap[String, scala.collection.mutable.HashMap[Long, Int]]()
  private var n: Long = 0L
  private var avgdl: Double = 0.0

  def addDocument(docId: Long, text: String): Unit = {
    val tokens = Tokenizer.tokenize(text)
    tokens.foreach { t =>
      val m = index.getOrElseUpdate(t, scala.collection.mutable.HashMap[Long, Int]())
      m(docId) = m.getOrElse(docId, 0) + 1
    }
    docText(docId) = text
    docLen(docId) = tokens.size
    n = docText.size.toLong
    avgdl = if (n == 0) 0.0 else docLen.values.map(_.toDouble).sum / n
  }

  def postings(term: String): Seq[Long] =
    index.get(term).map(_.keys.toSeq.sorted).getOrElse(Nil)

  def df(term: String): Long = index.get(term).map(_.size.toLong).getOrElse(0L)

  def searchScored(query: String): Seq[(Long, Double)] = {
    val pq = QueryParser.parse(query)
    if (pq.terms.isEmpty) return Nil

    // candidate fold in query-term order (intersection / union)
    var result: Seq[Long] = postings(pq.terms.head)
    pq.terms.tail.foreach { t =>
      val docs = postings(t)
      result =
        if (pq.isOr) (result ++ docs).distinct.sorted
        else result.filter(docs.toSet)
    }
    val excluded: Set[Long] = pq.notTerms.flatMap(postings).toSet

    val scored = result.iterator
      .filterNot(excluded)
      .flatMap { docId =>
        docLen.get(docId).map { dl =>
          val nrm = Bm25.norm(dl.toDouble, avgdl)
          var score = 0.0
          pq.terms.foreach { term => // query order; duplicates count
            val d = df(term)
            if (d > 0) index(term).get(docId).foreach { tf =>
              score += Bm25.termPart(tf, Bm25.idf(n, d), nrm)
            }
          }
          (docId, score)
        }
      }
      .toIndexedSeq
    Bm25.sortHits(scored)
  }

  def stats: (Long, Double) = (n, avgdl)
  def text(docId: Long): Option[String] = docText.get(docId)
}
