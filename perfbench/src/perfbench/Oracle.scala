package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{avg, col, count, lit}

import graft.core.Bm25
import graft.index.{IndexBuilder, IndexTables}
import graft.search.SearchEngine

/** An answer as the checker compares it: ranked hits, or dictionary rows
  * (suggest: term, "", df; did-you-mean: term, suggestion, df).
  */
sealed trait Answer
final case class Hits(hits: Seq[(Long, Double)]) extends Answer
final case class Rows(rows: Seq[(String, String, Long)]) extends Answer

/** Expected answers from the dataflow `SearchEngine` (the oracle tier) and
  * the comparison rules: top-k docIds exactly, scores within 1e-9 (both sides
  * ranked by `Bm25.sortHits`), dictionary rows exactly.
  *
  * The index tables are built once over every document the run may apply
  * and cached. The oracle for "base + the first j deltas" is the same tables
  * restricted to doc_id < bound: postings and docstore rows are per document,
  * and the df table and corpus stats are re-aggregated over the restriction
  * exactly as `IndexBuilder.build` aggregates them.
  */
final class Oracle(allDocs: DataFrame, k: Int = 10) {
  private val full = IndexBuilder.build(allDocs)
  private val postings = full.postings.cache()
  private val docstore = full.docstore.cache()
  private val dfTables = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val engines = new java.util.concurrent.ConcurrentHashMap[Long, SearchEngine]()

  private def engine(bound: Long): SearchEngine = engines.computeIfAbsent(bound, b => {
    val p = postings.filter(col("doc_id") < b)
    val d = docstore.filter(col("doc_id") < b)
    val dfTable = p.groupBy(col("term")).agg(count(lit(1)).as("df")).cache()
    dfTables.add(dfTable)
    new SearchEngine(new IndexTables(p, d, dfTable, d.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))))
  })

  private def ranked(df: DataFrame): Hits =
    Hits(Bm25.sortHits(df.select("doc_id", "score").collect().toSeq
      .map((r: Row) => (r.getLong(0), r.getDouble(1)))).take(k))

  /** The expected answer to `r` over the documents with doc_id < `bound`. */
  def expected(r: Req, bound: Long): Answer = {
    val e = engine(bound)
    r.family match {
      case "q" => ranked(e.filteredScoredDF(r.text, lang = r.lang))
      case "phrase" => Hits(e.searchPhraseScored(r.text, k))
      case "prefix" => ranked(e.prefixScoredDF(r.text))
      case "wildcard" => ranked(e.wildcardScoredDF(r.text))
      case "fuzzy" => ranked(e.fuzzyScoredDF(r.text))
      case "suggest" =>
        Rows(e.suggestDF(r.text, k).collect().toSeq.map(x => (x.getString(0), "", x.getLong(1))))
      case "didyoumean" =>
        Rows(e.didYouMeanDF(r.text).orderBy("pos").collect().toSeq
          .map(x => (x.getString(1), x.getString(2), x.getLong(3))))
    }
  }

  def close(): Unit = {
    postings.unpersist(); docstore.unpersist()
    dfTables.forEach(_.unpersist())
  }
}

object Oracle {
  private val json = new ObjectMapper()

  /** Parse a response body of request family `family`. */
  def parse(family: String, body: String): Answer = {
    val root = json.readTree(body)
    def arr(f: String): Seq[JsonNode] = {
      val a = root.get(f)
      (0 until a.size).map(a.get)
    }
    family match {
      case "suggest" => Rows(arr("suggestions").map(n => (n.get("term").asText, "", n.get("df").asLong)))
      case "didyoumean" =>
        Rows(arr("terms").map(n => (n.get("term").asText, n.get("suggestion").asText, n.get("df").asLong)))
      case _ => Hits(arr("results").map(n => (n.get("docId").asLong, n.get("score").asDouble)))
    }
  }

  def matches(got: Answer, want: Answer): Boolean = (got, want) match {
    case (Hits(g), Hits(w)) =>
      g.size == w.size && g.zip(w).forall { case ((gd, gs), (wd, ws)) => gd == wd && math.abs(gs - ws) <= 1e-9 }
    case (Rows(g), Rows(w)) => g == w
    case _ => false
  }

  /** The negative control: the same answer with its first entry perturbed. */
  def perturb(a: Answer): Answer = a match {
    case Hits(h) if h.nonEmpty => Hits((h.head._1, h.head._2 + 1e-6) +: h.tail)
    case Hits(_) => Hits(Seq((-1L, 0.0)))
    case Rows(r) if r.nonEmpty => Rows((r.head._1, r.head._2, r.head._3 + 1) +: r.tail)
    case Rows(_) => Rows(Seq(("", "", -1L)))
  }
}
