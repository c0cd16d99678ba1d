package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused reference-tokenize + per-doc term-frequency expression: one byte
  * scan of the text yields struct<dl: int, tfmap: map<string,int>> — the two
  * columns the docstore materializes for the segment build. Replaces the
  * RefTokenize array + Scala-UDF-HashMap pair on the build hot path: no
  * intermediate token ArrayData, no UDF boundary (catalyst<->scala array and
  * map conversions per document), and `doGenCode` keeps the whole projection
  * inside whole-stage codegen. Token semantics identical to RefTokenize
  * (byte-wise ASCII alnum runs, ASCII-lowercased —
  * /root/reference/src/core/tokenizer.cpp:3-25); parity asserted in
  * RefTokenizeSpec.
  */
case class RefTokenizeTf(child: Expression) extends UnaryExpression {
  require(child.dataType == StringType, s"ref_tokenize_tf expects STRING, got ${child.dataType}")

  override def dataType: DataType = RefTokenizeTf.outType
  override def prettyName: String = "ref_tokenize_tf"

  override def nullSafeEval(input: Any): Any =
    RefTokenizeTf.tokenizeCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.RefTokenizeTf.tokenizeCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): RefTokenizeTf =
    copy(child = newChild)
}

object RefTokenizeTf {

  val outType: StructType = StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("tfmap", MapType(StringType, IntegerType, valueContainsNull = false), nullable = false)
  ))

  /** Open-addressing (term -> count) counter with insertion order, built for
    * the build hot path's allocation profile: REPEAT occurrences of a term
    * allocate NOTHING (the probe is a zero-copy UTF8String view into the
    * doc's byte array — safe because `getBytes` already gave us a private
    * copy), counts live unboxed in an int array, and only the FIRST
    * occurrence of each distinct term materializes a key copy. The previous
    * LinkedHashMap[UTF8String, Int] paid byte[]+UTF8String+boxed-Integer per
    * OCCURRENCE (~3 allocations x corpus token count — the dominant GC
    * source of build job 1 at 32 threads, measured as the stage's jvmGCTime).
    */
  private final class TfCounter {
    private var cap = 64 // power of two
    private var mask = cap - 1
    private var keys = new Array[UTF8String](cap)
    private var cnts = new Array[Int](cap)
    private var order = new Array[Int](cap) // insertion order -> slot
    var size = 0

    private def grow(): Unit = {
      val oldKeys = keys; val oldCnts = cnts; val oldOrder = order
      cap <<= 1; mask = cap - 1
      keys = new Array[UTF8String](cap)
      cnts = new Array[Int](cap)
      order = new Array[Int](cap)
      var i = 0
      while (i < size) {
        val k = oldKeys(oldOrder(i))
        val c = oldCnts(oldOrder(i))
        var idx = k.hashCode & mask
        while (keys(idx) != null) idx = (idx + 1) & mask
        keys(idx) = k; cnts(idx) = c; order(i) = idx
        i += 1
      }
    }

    private var lastIdx = 0

    /** Increment `probe`'s count if present (true); else remember the free
      * slot for an immediate [[insert]] and return false. Two-step instead
      * of one callback-taking method so the common repeat-occurrence path
      * allocates no closure.
      */
    def inc(probe: UTF8String): Boolean = {
      var idx = probe.hashCode & mask
      while (true) {
        val k = keys(idx)
        if (k == null) { lastIdx = idx; return false }
        if (k.equals(probe)) { cnts(idx) += 1; return true }
        idx = (idx + 1) & mask
      }
      false // unreachable
    }

    /** Insert a NEW key at the slot the failed [[inc]] found. */
    def insert(key: UTF8String): Unit = {
      keys(lastIdx) = key; cnts(lastIdx) = 1; order(size) = lastIdx; size += 1
      if (size * 2 > cap) grow()
    }

    def emit(): (Array[Any], Array[Any]) = {
      val ks = new Array[Any](size)
      val vs = new Array[Any](size)
      var i = 0
      while (i < size) { ks(i) = keys(order(i)); vs(i) = cnts(order(i)); i += 1 }
      (ks, vs)
    }

    /** Pack entries straight into the [[graft.index.TfBin]] layout (first-
      * occurrence order) — no intermediate boxed arrays, no MapData.
      */
    def emitBin(): Array[Byte] = {
      import graft.index.TfBin
      var bytes = 0
      var i = 0
      while (i < size) {
        val kl = keys(order(i)).numBytes
        bytes += TfBin.varintSize(kl) + kl + TfBin.varintSize(cnts(order(i)))
        i += 1
      }
      val out = new Array[Byte](bytes)
      var pos = 0
      i = 0
      while (i < size) {
        val slot = order(i)
        val k = keys(slot)
        val kl = k.numBytes
        pos = TfBin.writeVarint(out, pos, kl)
        k.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
        pos += kl
        pos = TfBin.writeVarint(out, pos, cnts(slot))
        i += 1
      }
      out
    }
  }

  /** Shared single-pass core: byte-wise reference tokenization, counting
    * term frequencies (first-occurrence key order — deterministic for a
    * given text). Returns (dl, counter).
    */
  private def countTokens(s: UTF8String): (Int, TfCounter) = {
    val bytes = s.getBytes // private copy (or sole owner) — views below are safe
    val n = bytes.length
    val counts = new TfCounter
    var dl = 0
    var start = -1
    var dirty = false // current token contains uppercase -> lowercase on slice

    @inline def flush(until: Int): Unit = {
      if (dirty) {
        // lowered copy doubles as probe and stored key
        val low = slice(bytes, start, until)
        if (!counts.inc(low)) counts.insert(low)
      } else {
        val probe = UTF8String.fromBytes(bytes, start, until - start) // zero-copy view
        if (!counts.inc(probe)) counts.insert(slice(bytes, start, until)) // copy only if new
      }
      dl += 1
      start = -1
    }

    var i = 0
    while (i < n) {
      val b = bytes(i)
      val isDigit = b >= '0' && b <= '9'
      val isLower = b >= 'a' && b <= 'z'
      val isUpper = b >= 'A' && b <= 'Z'
      if (isDigit || isLower || isUpper) {
        if (start < 0) { start = i; dirty = false }
        if (isUpper) dirty = true
      } else if (start >= 0) flush(i)
      i += 1
    }
    if (start >= 0) flush(n)
    (dl, counts)
  }

  def tokenizeCounts(s: UTF8String): InternalRow = {
    val (dl, counts) = countTokens(s)
    val (keys, vals) = counts.emit()
    new GenericInternalRow(Array[Any](
      dl,
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
    ))
  }

  /** Binary-packed twin (struct<dl, tfbin>) — the docstore build path.
    * Identical tokenization; the tf payload goes straight to the
    * [[graft.index.TfBin]] layout instead of a catalyst MapData (profiled:
    * parquet's nested-map encode/decode dominated the build stages).
    */
  def tokenizeCountsBin(s: UTF8String): InternalRow = {
    val (dl, counts) = countTokens(s)
    new GenericInternalRow(Array[Any](dl, counts.emitBin()))
  }

  private def slice(bytes: Array[Byte], from: Int, until: Int): UTF8String = {
    val len = until - from
    val tok = new Array[Byte](len)
    System.arraycopy(bytes, from, tok, 0, len)
    var j = 0
    while (j < len) {
      val b = tok(j)
      if (b >= 'A' && b <= 'Z') tok(j) = (b + 32).toByte
      j += 1
    }
    UTF8String.fromBytes(tok)
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ref_tokenize_tf",
      (exprs: Seq[Expression]) => RefTokenizeTf(exprs.head),
      "scala_udf"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ref_tokenize_tfbin",
      (exprs: Seq[Expression]) => RefTokenizeTfBin(exprs.head),
      "scala_udf"
    )
  }
}

/** Fused tokenize + tf-count emitting the packed binary payload
  * (struct<dl: int, tfbin: binary>) — the docstore build path. Same token
  * semantics as [[RefTokenizeTf]] (shared core); see
  * [[graft.index.TfBin]] for the layout and the why.
  */
case class RefTokenizeTfBin(child: Expression) extends UnaryExpression {
  require(child.dataType == StringType, s"ref_tokenize_tfbin expects STRING, got ${child.dataType}")

  override def dataType: DataType = RefTokenizeTfBin.outType
  override def prettyName: String = "ref_tokenize_tfbin"

  override def nullSafeEval(input: Any): Any =
    RefTokenizeTf.tokenizeCountsBin(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.RefTokenizeTf.tokenizeCountsBin($c)")

  override protected def withNewChildInternal(newChild: Expression): RefTokenizeTfBin =
    copy(child = newChild)
}

object RefTokenizeTfBin {
  val outType: StructType = StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("tfbin", BinaryType, nullable = false)
  ))
}
