package graft.index

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Exporter to the reference engine's on-disk format — the other half of the
  * migration story ([[HaystackImport]] brings users in; this lets them leave,
  * or feed a graft-built index to an existing reference deployment). Writes
  * the exact layout `SearchService::save` produces
  * (/root/reference/src/core/search_service.cpp:329-395):
  *
  *   - index_meta.json : jsoncpp alphabetical keys, no indentation, no
  *     trailing newline: {"N":n,"avgdl":d,"schema_version":1}
  *   - docs.jsonl      : {"docId":n,"text":"..."} per line, docId ascending,
  *     jsoncpp escaping (\" \\ \b \f \n \r \t, \\uXXXX below 0x20)
  *   - postings.bin    : u64 termCount; per term (lexicographic) u32 len +
  *     bytes, u32 postingCount, (i32 docId, i32 tf)* docId-ascending —
  *     inverted_index.cpp:111-161's writer, byte for byte
  *
  * Round-trip contract (spec-asserted): exporting an index imported from
  * the committed demo reproduces all three files BYTE-IDENTICALLY, and a
  * natively-built index export re-imports to search parity.
  *
  * Scale shape: the heavy work (tf-payload explode, global (term, docId) sort,
  * per-term df) is distributed; only the final file write streams on the
  * driver — a single flat file is the format's own constraint, the same
  * one the import decode has. Driver memory: the df map (vocabulary-bounded
  * — the alternative, buffering a dense term's whole posting list, is
  * corpus-bounded and worse) plus one row at a time.
  */
object HaystackExport {

  /** Export `indexDir` (committed generation only). Returns (nDocs, nTerms).
    * Fails fast when a doc_id exceeds the format's i32 — the reference
    * cannot represent it.
    */
  def exportIndex(spark: SparkSession, indexDir: String, outDir: String): (Long, Long) = {
    graft.expr.TfBinExprs.register(spark)
    val meta = SegmentIndex.readMeta(indexDir)
    Files.createDirectories(Paths.get(outDir))
    val store = spark.read.parquet(s"$indexDir/docstore")
      .filter(col("bucket").isInCollection(SegmentIndex.liveBucketSet(meta)))

    val idBounds = store.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (!idBounds.isNullAt(0)) {
      val (lo, hi) = (idBounds.getLong(0), idBounds.getLong(1))
      require(lo >= Int.MinValue && hi <= Int.MaxValue,
        s"doc_id range [$lo, $hi] exceeds the reference format's i32 docId")
    }

    // ---- docs.jsonl (streamed; distributed sort upstream)
    val docsTmp = Paths.get(outDir, "docs.jsonl.tmp")
    var nDocs = 0L
    locally {
      val out = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(new FileOutputStream(docsTmp.toFile), StandardCharsets.UTF_8),
        1 << 16)
      try {
        val it = store.select(col("doc_id"), col("text")).orderBy(col("doc_id")).toLocalIterator()
        val sb = new java.lang.StringBuilder(256)
        while (it.hasNext) {
          val r = it.next()
          sb.setLength(0)
          sb.append("{\"docId\":").append(r.getLong(0)).append(",\"text\":\"")
          escJsoncpp(sb, if (r.isNullAt(1)) "" else r.getString(1))
          sb.append("\"}\n")
          out.write(sb.toString)
          nDocs += 1
        }
      } finally out.close()
    }
    require(nDocs == meta.n, s"docstore has $nDocs live docs but meta says ${meta.n}")
    Files.move(docsTmp, Paths.get(outDir, "docs.jsonl"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    // ---- postings.bin (distributed explode + sort + df agg; streamed write)
    val posts = store
      .select(col("doc_id"), explode(call_function("tfbin_to_map", col("tfbin"))).as(Seq("term", "tf")))
    val dfMap: Map[String, Int] = posts
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    val pTmp = Paths.get(outDir, "postings.bin.tmp")
    locally {
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(pTmp.toFile), 1 << 16))
      def le32(v: Long): Unit = {
        out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
        out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
      }
      try {
        le32(dfMap.size.toLong & 0xffffffffL); le32(0L) // u64 termCount (LE)
        val it = posts.orderBy(col("term"), col("doc_id")).toLocalIterator()
        var cur: String = null
        while (it.hasNext) {
          val r = it.next()
          val term = r.getString(1)
          if (term != cur) {
            cur = term
            val b = term.getBytes(StandardCharsets.UTF_8)
            le32(b.length.toLong); out.write(b)
            le32(dfMap(term).toLong)
          }
          le32(r.getLong(0) & 0xffffffffL) // i32 docId
          le32(r.getInt(2).toLong)         // i32 tf
        }
        out.flush()
      } finally out.close()
    }
    Files.move(pTmp, Paths.get(outDir, "postings.bin"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    // ---- index_meta.json (jsoncpp: alphabetical keys, no newline)
    val mTmp = Paths.get(outDir, "index_meta.json.tmp")
    Files.writeString(mTmp,
      s"""{"N":${meta.n},"avgdl":${jsoncppDouble(meta.avgdl)},"schema_version":1}""")
    Files.move(mTmp, Paths.get(outDir, "index_meta.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    (nDocs, dfMap.size.toLong)
  }

  /** jsoncpp double serialization (json_writer.cpp `valueToString`: C
    * `"%.17g"`, which strips trailing fractional zeros, then `".0"` appended
    * to integral-looking output). Scala's shortest-repr `Double.toString`
    * diverges on most non-terminating doubles (735.1 -> jsoncpp
    * "735.10000000000002" vs Scala "735.1"), which would break the
    * byte-identical export contract for reference-produced metas. Java's
    * `%.17g` keeps the trailing zeros C strips, so strip them here (in the
    * mantissa only, mirroring C `%g`).
    */
  private[index] def jsoncppDouble(v: Double): String = {
    if (v == 0.0) return "0.0"
    // NOT Java's "%.17g": Java's %g pads the SHORTEST decimal repr with
    // zeros instead of rounding the exact binary value to 17 significant
    // digits (C gives 735.1 -> "735.10000000000002"; Java -> "735.10000...0").
    // new BigDecimal(double) is the exact value; round like C, format like C %g.
    val mc = new java.math.MathContext(17, java.math.RoundingMode.HALF_EVEN)
    val bd = new java.math.BigDecimal(v).round(mc).stripTrailingZeros()
    val exp = bd.precision - bd.scale - 1 // decimal exponent of the leading digit
    if (exp < -4 || exp >= 17) { // C %g's scientific-notation rule at precision 17
      val digits = bd.unscaledValue.abs.toString
      val sign = if (bd.signum < 0) "-" else ""
      val mant = if (digits.length == 1) digits else digits.head.toString + "." + digits.tail
      val eabs = math.abs(exp)
      val estr = (if (exp < 0) "e-" else "e+") + (if (eabs < 10) "0" + eabs else eabs.toString)
      sign + mant + estr
    } else {
      val s = bd.toPlainString
      if (s.contains('.')) s else s + ".0"
    }
  }

  /** jsoncpp `valueToQuotedString` escaping: named escapes for the usual
    * controls, \\uXXXX for the rest below 0x20, UTF-8 passthrough above.
    */
  private[index] def escJsoncpp(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
  }
}
