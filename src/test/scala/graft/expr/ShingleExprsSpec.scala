package graft.expr

import graft.SparkTestBase
import graft.core.Tokenizer
import org.apache.spark.sql.functions._

/** Property tests for the row-local native sketch expressions against
  * independent plain-Scala models (string-built, no shared code with the
  * byte-wise expression implementations).
  */
class ShingleExprsSpec extends SparkTestBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def modelShingles(text: String, w: Int): Seq[String] = {
    val toks = Tokenizer.tokenize(text)
    if (toks.size < w) Nil else toks.sliding(w).map(_.mkString(" ")).toSeq
  }

  private def modelMinhash(text: String, w: Int, hashes: Int): Seq[String] = {
    val sh = modelShingles(text, w)
    if (sh.isEmpty) Nil
    else (1 to hashes).map(i => sh.map(s => md5hex(s"$i:$s").take(16)).min)
  }

  private def modelFingerprint(text: String, w: Int, k: Int): String =
    modelShingles(text, w).map(md5hex).distinct.sorted.take(k).mkString(",")

  private def modelSimhash(text: String): Long = {
    val tf = Tokenizer.tokenize(text).groupBy(identity).map { case (t, v) => t -> v.size }
    (0 until 16).map { j =>
      val sum = tf.map { case (t, c) =>
        if ("89abcdef".contains(md5hex(t).charAt(j))) c.toLong else -c.toLong
      }.sum
      if (sum > 0) 1L << j else 0L
    }.sum
  }

  test("native sketches == plain-Scala models on random corpora") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(123)
    val vocab = Vector("alpha", "Bravo", "charlie7", "d", "ee", "FOX", "1", "zz9")
    val texts = (1L to 60L).map { id =>
      id -> Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ (99L -> "") :+ (98L -> "one two") // degenerate: empty + below-w
    val df = texts.toDF("doc_id", "text")
    ShingleExprs.register(spark)
    val toks = graft.index.IndexBuilder.tokenizerCol(spark, codeAware = false)(col("text"))

    val sig = df.select(col("doc_id"), call_function("minhash_sig", toks, lit(3), lit(12)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val fp = df.select(col("doc_id"), call_function("shingle_fp", toks, lit(5), lit(4)).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sh = df.select(col("doc_id"), call_function("simhash16", toks).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    texts.foreach { case (id, text) =>
      assert(sig(id) == modelMinhash(text, 3, 12).toList, s"minhash id=$id text='$text'")
      assert(fp(id) == modelFingerprint(text, 5, 4), s"fp id=$id text='$text'")
      assert(sh(id) == modelSimhash(text), s"simhash id=$id text='$text'")
    }
  }

  test("GraftExtensions injects every native function") {
    // the injection callback must register cleanly; builders must construct
    // working expressions (evaluated directly on a literal token array)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.spark.GraftExtensions()(ext)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val toks = Literal.create(
      new GenericArrayData(Array[Any](UTF8String.fromString("alpha"), UTF8String.fromString("bravo"),
        UTF8String.fromString("charlie"))),
      ArrayType(StringType, containsNull = false))
    val sim = Simhash16(toks).eval(null).asInstanceOf[Long]
    assert(sim == modelSimhash("alpha bravo charlie"))
    val mh = MinhashSig(toks, 3, 12).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(mh.numElements() == 12)
    val fpv = ShingleFingerprint(toks, 3, 4).eval(null).toString
    assert(fpv == modelFingerprint("alpha bravo charlie", 3, 4))
  }

  test("spark.sql.extensions=graft.spark.GraftExtensions registers ref_tokenize_native") {
    // what a session does with the config value: load the named class, apply
    // it to the session's extensions, register their functions
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    val ext = new SparkSessionExtensions
    Class.forName("graft.spark.GraftExtensions").getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit](ext)
    val registry = new SimpleFunctionRegistry
    // `registerFunctions` is private to Spark's sql package
    ext.getClass.getMethod("registerFunctions", classOf[FunctionRegistry]).invoke(ext, registry)
    val fn = FunctionIdentifier("ref_tokenize_native")
    assert(registry.functionExists(fn))
    val toks = registry.lookupFunction(fn, Seq(Literal("Foo-Bar Baz"))).eval(null).asInstanceOf[ArrayData]
    assert(toks.toSeq[AnyRef](StringType).map(_.toString) == Seq("foo", "bar", "baz"))
  }
}
