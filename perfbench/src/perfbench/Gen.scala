package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One generated document: the engine's input row (doc_id, text) plus the
  * optional `source` / `lang` metadata columns the serving filters read.
  */
final case class Doc(doc_id: Long, text: String, source: String, lang: String)

/** One request of a stream. `family` names the request family (the per-family
  * accounting key); `text` is the family's pattern (q, phrase, prefix, ...);
  * `lang` is the optional metadata filter.
  */
final case class Req(family: String, text: String, lang: Option[String]) {
  def path: String = {
    val v = URLEncoder.encode(text, StandardCharsets.UTF_8)
    val filter = lang.fold("")(l => s"&lang=$l")
    family match {
      case "suggest" => s"/suggest?k=10&q=$v"
      case "didyoumean" => s"/didyoumean?q=$v"
      case f => s"/search?k=10&$f=$v$filter"
    }
  }
}

/** Recorded statistics of a real corpus (`corpus-stats.json`, written by
  * `calibrate.py` from `sf0.1/documents.parquet`): tokens per document,
  * every term with its total count and document frequency, the lang mix and
  * the number of sources.
  */
final case class CorpusStats(
    docs: Int,
    lengths: Array[Int],
    lengthCum: Array[Double],
    terms: Array[String],
    termCum: Array[Double],
    df: Array[Long],
    langs: Array[String],
    langCum: Array[Double],
    sources: Int)

object CorpusStats {
  def load(p: Path): CorpusStats = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))
    val len = n.get("tokens_per_doc").fields().asScala.map(e => (e.getKey.toInt, e.getValue.asDouble)).toArray.sortBy(_._1)
    val terms = n.get("terms").elements().asScala.toArray
    val langs = n.get("lang").fields().asScala.map(e => (e.getKey, e.getValue.asDouble)).toArray
    CorpusStats(
      n.get("docs").asInt,
      len.map(_._1), Gen.cumulative(len.map(_._2)),
      terms.map(_.get("term").asText), Gen.cumulative(terms.map(_.get("tf").asDouble)), terms.map(_.get("df").asLong),
      langs.map(_._1), Gen.cumulative(langs.map(_._2)),
      n.get("sources").asInt)
  }
}

object Gen {
  val Families: Seq[String] = Seq("q", "phrase", "prefix", "wildcard", "fuzzy", "suggest", "didyoumean")

  /** SplitMix64 finaliser: decorrelates (seed, stream, index) triples so each
    * document and each stream gets an independent, reproducible generator.
    */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Cumulative weights, normalised to end at 1. */
  def cumulative(w: Array[Double]): Array[Double] = {
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  /** The index whose cumulative weight first reaches `u`. */
  def drawCum(cum: Array[Double], u: Double): Int = {
    var lo = 0
    var hi = cum.length - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cum(mid) < u) lo = mid + 1 else hi = mid }
    lo
  }
}

/** Seeded corpus calibrated to recorded statistics. Each document draws its
  * token count from the recorded tokens-per-document histogram, its tokens
  * from the recorded term counts, and its `lang` from the recorded mix; its
  * `source` is `src<id mod sources>`, as in the recorded file. The engine's
  * benchmarks replicate that file 32 times and append one tail token
  * `uq<doc_id mod 50021>` per document (`graft.bench.Workload.replicatedDocs`),
  * so a tail term occurs in about 3.2 documents; the tail token here uses the
  * modulus that keeps that document frequency at this corpus size.
  *
  * Every document is a pure function of (seed, doc id), so the request
  * generator and the oracle see byte-identical text.
  */
final class Corpus(val seed: Long, val stats: CorpusStats, baseDocs: Long) {
  import Gen._

  /** `Workload.replicatedDocs`: 32 replicas, tail modulus 50021. */
  val TailMod: Int = math.max(1L, math.round(50021.0 * baseDocs / (stats.docs * 32.0))).toInt

  /** Terms in at least half the recorded documents: the dense AND/OR work. */
  val dense: IndexedSeq[String] = stats.terms.indices.filter(i => stats.df(i) * 2 >= stats.docs).map(stats.terms).toIndexedSeq

  def doc(id: Long): Doc = {
    val r = new SplittableRandom(mix(seed, 1000003L + id))
    val len = stats.lengths(drawCum(stats.lengthCum, r.nextDouble()))
    val sb = new java.lang.StringBuilder(len * 7 + 8)
    var i = 0
    while (i < len) {
      sb.append(stats.terms(drawCum(stats.termCum, r.nextDouble()))).append(' ')
      i += 1
    }
    sb.append("uq").append(id % TailMod)
    val lang = stats.langs(drawCum(stats.langCum, r.nextDouble()))
    Doc(id, sb.toString, s"src${id % stats.sources}", lang)
  }

  def tokens(id: Long): IndexedSeq[String] = graft.core.Tokenizer.tokenize(doc(id).text).toIndexedSeq

  def term(r: SplittableRandom): String = dense(r.nextInt(dense.size))
  def rare(r: SplittableRandom): String = s"uq${r.nextInt(TailMod)}"
  private def termAtLeast(r: SplittableRandom, len: Int): String = {
    var w = term(r)
    while (w.length < len) w = term(r)
    w
  }
  private def typo(r: SplittableRandom, w: String): String = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val p = r.nextInt(w.length)
    var c = letters.charAt(r.nextInt(letters.length))
    while (c == w.charAt(p)) c = letters.charAt(r.nextInt(letters.length))
    w.substring(0, p) + c + w.substring(p + 1)
  }
  private def lang(r: SplittableRandom): String = stats.langs(drawCum(stats.langCum, r.nextDouble()))
  /** `uq` and 1 + `more` digits, the first in 1–5. With the tail modulus at
    * 6,253, every such stem matches 1,111, 111 or 11 tail terms by `more`
    * alone, so its cost does not depend on the digits drawn.
    */
  private def tailStem(r: SplittableRandom, more: Int): String = s"uq${1 + r.nextInt(5)}" + Seq.fill(more)(r.nextInt(10)).mkString

  /** One `q=` request. The shapes are the eight of `Workload.queries` (dense
    * AND, OR, NOT, three-way AND, and rare-term conjunctions); that function
    * cannot be called here because it draws from a fixed seed over a parquet
    * file and repeats requests. About one in eight carries a `lang=` filter.
    */
  private def mixed(r: SplittableRandom): Req = mixed(r, r.nextInt(8), r.nextInt(8) == 0)

  private def mixed(r: SplittableRandom, shape: Int, filtered: Boolean): Req = {
    val text = shape match {
      case 0 | 7 => s"${term(r)} ${term(r)}"
      case 1 => s"${term(r)} OR ${term(r)} ${term(r)}"
      case 2 => s"${term(r)} ${term(r)} -${term(r)}"
      case 3 => s"${term(r)} ${term(r)} ${term(r)}"
      case 4 => s"${rare(r)} ${term(r)}"
      case 5 => s"${rare(r)} OR ${term(r)}"
      case _ => s"${rare(r)} ${term(r)} -${term(r)}"
    }
    Req("q", text, if (filtered) Some(lang(r)) else None)
  }

  /** `count` distinct `q=` requests. `salt` separates independent streams of
    * one seed (warm-up, measure, ladder, batch), and `avoid` keeps them
    * disjoint so no request repeats within a run.
    */
  def mixedStream(salt: Long, count: Int, avoid: java.util.Set[String]): IndexedSeq[Req] = {
    val r = new SplittableRandom(mix(seed, salt))
    val out = ArrayBuffer[Req]()
    while (out.size < count) {
      val req = mixed(r)
      if (avoid.add(req.path)) out += req
    }
    out.toIndexedSeq
  }

  /** `size` distinct requests spanning every family. The request at index i
    * has family i mod 7 and a shape fixed by i / 7 (dense or tail term,
    * pattern kind, length); only the terms and digits come from the seed, so
    * every seed replays the same kinds of request. Expansions stay under the
    * server's 4,096-term cap, so the capped server and the uncapped oracle
    * agree: a tail-term pattern always carries at least one digit.
    */
  def familyPool(salt: Long, size: Int): IndexedSeq[Req] = {
    val r = new SplittableRandom(mix(seed, salt))
    val seen = new java.util.HashSet[String]()
    val out = ArrayBuffer[Req]()
    var tries = 0
    while (out.size < size) {
      val v = out.size / Families.size
      // a short shape has few distinct values; after 50 repeats the slot
      // takes the tail shape with three digits instead
      val tail = v % 2 == 1 || tries >= 50
      val more = if (tries >= 50) 2 else v / 2 % 3
      val req = Families(out.size % Families.size) match {
        case "q" => mixed(r, v % 8, v % 16 == 8)
        case "phrase" =>
          val toks = tokens((r.nextLong() & Long.MaxValue) % baseDocs).dropRight(1) // not the tail token
          val n = 2 + v % 2
          val at = r.nextInt(math.max(1, toks.length - n))
          Req("phrase", toks.slice(at, at + n).mkString(" "), None)
        case "prefix" => Req("prefix", if (tail) tailStem(r, more) else termAtLeast(r, 4).take(2), None)
        case "wildcard" =>
          // a leading `*` rides the reversed dictionary; `ab*yz` the sorted one
          if (tail) Req("wildcard", s"${tailStem(r, more)}*${r.nextInt(10)}", None)
          else {
            val w = termAtLeast(r, 4)
            if (v / 2 % 2 == 0) Req("wildcard", "*" + w.takeRight(3), None)
            else Req("wildcard", w.take(2) + "*" + w.takeRight(1), None)
          }
        case "fuzzy" =>
          if (!tail) Req("fuzzy", typo(r, termAtLeast(r, 4)), None)
          else {
            // one digit of a tail term replaced by another digit
            val d = rare(r).drop(2)
            val p = r.nextInt(d.length)
            Req("fuzzy", "uq" + d.updated(p, ('0' + (d(p) - '0' + 1 + r.nextInt(9)) % 10).toChar), None)
          }
        case "suggest" => Req("suggest", if (tail) tailStem(r, more) else termAtLeast(r, 3).take(1 + v / 2 % 2), None)
        case _ => Req("didyoumean", s"${term(r)} ${typo(r, termAtLeast(r, 4))}", None)
      }
      if (seen.add(req.path)) { out += req; tries = 0 } else tries += 1
    }
    out.toIndexedSeq
  }
}
