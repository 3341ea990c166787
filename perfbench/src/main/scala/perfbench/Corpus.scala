package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{TranscriptTurn, Transcripts}
import graft.search.{BoolQ, BoostQ, TermQ}

/** Seeded inputs: the transcript rows handed to the engine and the
  * query strings and registries sent to it. Everything is a pure
  * function of the seed. */
object Corpus {

  /** The 33-word English stop set the standard analyzer drops; query
    * terms are drawn from outside it so no query degenerates to
    * match-none. */
  val StopWords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such", "that",
    "the", "their", "then", "there", "these", "they", "this", "to", "was",
    "will", "with")

  /** Zipf bands of the generator's vocabulary (rank order). */
  final case class Band(name: String, lo: Int, hi: Int)
  val Hot = Band("hot", 0, 50)
  val Mid = Band("mid", 50, 950)
  val Rare = Band("rare", 950, Int.MaxValue)

  private lazy val vocab: Array[String] = Transcripts.vocabulary

  def draw(rnd: scala.util.Random, b: Band): String = {
    val hi = math.min(b.hi, vocab.length)
    var w = vocab(b.lo + rnd.nextInt(hi - b.lo))
    while (StopWords(w)) w = vocab(b.lo + rnd.nextInt(hi - b.lo))
    w
  }

  /** The band of the `n`-th rotating term slot: hot, mid, rare, … */
  def band(n: Int): Band = Seq(Hot, Mid, Rare)(n % 3)

  /** `turns` rows of the seeded synthetic corpus, collected to the
    * driver (the oracle and the checks need them there). */
  def rows(spark: SparkSession, turns: Long, seed: Long): Array[TranscriptTurn] = {
    import spark.implicits._
    Transcripts.synthetic(spark, turns, seed, partitions = 4)
      .as[TranscriptTurn].collect()
  }

  def frame(spark: SparkSession, rows: Seq[TranscriptTurn]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF()
  }

  def textBytes(rows: Iterable[TranscriptTurn]): Long =
    rows.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum

  /** The non-stop tokens of a row with their positions (the synthetic
    * text is lowercase words separated by single spaces). */
  def tokens(text: String): Array[(String, Int)] =
    text.split(' ').zipWithIndex.filter { case (w, _) => !StopWords(w) }

  /** The point-search mix, in blocks of eight: term, AND, OR, NOT, exact
    * phrase, sloppy phrase, prefix and `role:` keyword queries, in that
    * order. The term, AND, OR and role queries take their free terms from
    * the hot, mid and rare bands in rotation (query i of block b starts
    * at band i + b); phrases are cut from real rows so they match. In
    * every odd block one query repeats the same-kind query of the block
    * before. The make-up is the same for every seed, so a run's latencies
    * do not depend on which kinds or bands its seed drew most. */
  def searchMix(rows: IndexedSeq[TranscriptTurn], n: Int, seed: Long): Vector[String] = {
    val rnd = new scala.util.Random(seed * 31L + 7L)
    // exact: 2-3 consecutive raw words (stopwords keep their gap);
    // sloppy: two words 2-3 positions apart with just enough slop
    def phrase(sloppy: Boolean): String = {
      var q: String = null
      while (q == null) {
        val ws = rows(rnd.nextInt(rows.size)).text.split(' ')
        val d = if (sloppy) 2 + rnd.nextInt(2) else 1 + rnd.nextInt(2)
        if (ws.length > d) {
          val i = rnd.nextInt(ws.length - d)
          val (a, b) = (ws(i), ws(i + d))
          if (!StopWords(a) && !StopWords(b) && a != b)
            q = if (sloppy) "\"" + a + " " + b + "\"~" + (d - 1)
              else "\"" + ws.slice(i, i + d + 1).mkString(" ") + "\""
        }
      }
      q
    }
    val out = Vector.newBuilder[String]
    var made = Vector.empty[String]
    var i = 0
    while (i < n) {
      val block = i / 8
      val q =
        if (block % 2 == 1 && i % 8 == (block / 2) % 8) made(i - 8)
        else (i % 8) match {
          case 0 => draw(rnd, band(i + block))
          case 1 => s"${draw(rnd, band(i + block))} AND ${draw(rnd, Hot)}"
          case 2 => s"${draw(rnd, band(i + block))} OR " +
            s"${draw(rnd, band(i + block + 1))} OR ${draw(rnd, Rare)}"
          case 3 => s"${draw(rnd, Mid)} -${draw(rnd, Hot)}"
          case 4 => phrase(sloppy = false)
          case 5 => phrase(sloppy = true)
          case 6 => draw(rnd, if (rnd.nextBoolean()) Mid else Rare).take(3) + "*"
          case _ =>
            val role = Seq("user", "assistant", "tool", "system")(rnd.nextInt(4))
            s"+role:$role +${draw(rnd, band(i + block))}"
        }
      made :+= q
      out += q
      i += 1
    }
    out.result()
  }

  /** One registry of `size` distinct flat term-bag queries over the mid
    * band (the batched top-k shape): 3/8 single terms, 1/4 AND pairs,
    * 1/4 2-of-3, 1/8 boosted pairs. */
  def registry(size: Int, seed: Long): Seq[(String, BoolQ)] = {
    val rnd = new scala.util.Random(seed * 131L + 3L)
    def w() = draw(rnd, Mid)
    (0 until size).map { i =>
      val q = (i % 8) match {
        case 0 | 1 | 2 => BoolQ(should = Seq(TermQ(w())))
        case 3 | 4 => BoolQ(must = Seq(TermQ(w()), TermQ(w())))
        case 5 | 6 => BoolQ(should = Seq(TermQ(w()), TermQ(w()), TermQ(w())),
          minShouldMatch = 2)
        case _ => BoolQ(should = Seq(BoostQ(TermQ(w()), 2.0), TermQ(w())))
      }
      f"q$i%04d" -> q
    }
  }
}
