package graft

import scala.util.Random

/** Seeded corpora and queries for the WAND-vs-oracle differentials: the
  * suite's bounded slice (`graft.search.WandKernelSpec`) and the manual deep
  * soak (`SoakMain`) draw from this one generator, so the soak cannot drift
  * from what the suite checks.
  *
  * Shapes (doc ids are spread so one segment spans several of the OR loop's
  * 4,096-id windows):
  *   - `Small`: 3-82 short docs, single-block posting lists;
  *   - `Dense`: every term in nearly every doc, lists of several 128-posting
  *     blocks, compressed scores — windows are rarely prunable;
  *   - `Zipf`: Zipf-skewed term frequencies and doc lengths, plus "hot"
  *     replicas (identical short docs of the rare terms at high tf, one every
  *     few hundred docs, three windows apart): once θ reaches a hot doc's
  *     score, windows without one are skipped ("alpha OR hot") and the
  *     common terms become non-essential; "hot OR" ties across segments
  *     with window bounds equal to its score.
  */
object KernelCorpus {

  sealed trait Shape
  case object Small extends Shape
  case object Dense extends Shape
  case object Zipf extends Shape
  val Shapes: Seq[Shape] = Seq(Small, Dense, Zipf)

  val Vocab: Vector[String] = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "x9", "y", "zz7")

  /** Every k the differentials rank at. */
  val Ks: Seq[Int] = Seq(1, 3, 10, Int.MaxValue)

  /** A `Zipf` hot doc: rare terms at high tf, and `hot`, a term no other doc
    * has — so a window's bound for `hot` equals a hot doc's score exactly.
    */
  val HotText = "hot india india india juliet juliet kilo"

  final case class Corpus(shape: Shape, docs: Seq[(Long, String)], vocab: Vector[String])

  def corpus(shape: Shape, rnd: Random): Corpus = shape match {
    case Small =>
      val vocab = Vocab.take(4 + rnd.nextInt(Vocab.size - 3))
      val n = 3 + rnd.nextInt(80)
      Corpus(shape, (1L to n.toLong).map { id =>
        id -> Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }, vocab)
    case Dense =>
      val vocab = Vocab.take(6)
      val n = 700 + rnd.nextInt(200)
      Corpus(shape, (0 until n).map { i =>
        (1L + i * 23L) -> Seq.fill(20 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }, vocab)
    case Zipf =>
      val vocab = Vocab
      val cdf = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.1)).scanLeft(0.0)(_ + _).tail
      def draw(): String = {
        val u = rnd.nextDouble() * cdf.last
        vocab(cdf.indexWhere(_ >= u))
      }
      val n = 900 + rnd.nextInt(300)
      Corpus(shape, (0 until n).map { i =>
        val text =
          if (i % 250 == 120) HotText
          else Seq.fill(3 + rnd.nextInt(if (rnd.nextInt(5) == 0) 120 else 30))(draw()).mkString(" ")
        (1L + i * 53L) -> text
      }, vocab)
  }

  /** Queries the shape is known to exercise, then random ones: AND, OR and
    * NOT, duplicate terms, and terms absent from the corpus.
    */
  def queries(c: Corpus, rnd: Random, n: Int): Seq[String] = {
    def term(): String =
      if (rnd.nextInt(8) == 0) "absent" + rnd.nextInt(3) else c.vocab(rnd.nextInt(c.vocab.size))
    def one(): String =
      Seq.fill(1 + rnd.nextInt(4)) {
        val t = term()
        rnd.nextInt(6) match {
          case 0 => "-" + t
          case 1 => t + " OR"
          case _ => t
        }
      }.mkString(" ")
    val fixed = c.shape match {
      case Zipf => Seq("hot OR", "alpha OR hot", "hot bravo OR", "alpha OR india", "alpha india bravo OR", "india OR juliet kilo", "alpha bravo alpha OR india")
      case Dense => Seq("alpha OR bravo charlie", "alpha bravo -charlie", "delta delta OR echo")
      case Small => Nil
    }
    fixed ++ Seq.fill(n)(one())
  }
}
