package perfbench

import scala.collection.mutable

import graft.model.TranscriptTurn

/** Independent scalar BM25 (k1=1.2, b=0.75) over the raw rows: its own
  * tokenizer, its own postings, its own query evaluation — nothing of
  * the engine's analysis or search code runs here. It evaluates the
  * structure the query generator intended ([[OQ]]), not the parser's
  * output, so a parse defect shows as a mismatch too. */
object Oracle {
  val K1 = 1.2
  val B = 0.75

  sealed trait OQ
  final case class OTerm(t: String) extends OQ
  final case class OBool(must: Seq[OQ], should: Seq[OQ], not: Seq[OQ]) extends OQ
  /** Terms with their analyzer positions (stopwords keep their gap). */
  final case class OPhrase(terms: Seq[(String, Int)], slop: Int) extends OQ
  final case class OPrefix(p: String) extends OQ
  final case class ORole(role: String) extends OQ

  /** Multi-term expansions above this many dictionary terms score as a
    * constant 1.0 (the Lucene 3.0 auto rewrite). */
  val AutoRewriteTermCap = 350

  /** Query string → intended structure, for the shapes
    * [[Corpus.searchMix]] emits. */
  def structure(q: String): OQ = {
    def words(s: String): Seq[(String, Int)] =
      s.split(' ').toSeq.zipWithIndex.filter { case (w, _) => !Corpus.StopWords(w) }
    if (q.startsWith("\"")) {
      val close = q.lastIndexOf('"')
      val slop = if (close + 2 <= q.length && q.drop(close + 1).startsWith("~"))
        q.drop(close + 2).toInt else 0
      OPhrase(words(q.substring(1, close)), slop)
    } else if (q.startsWith("+role:")) {
      val Array(r, t) = q.split(' ')
      OBool(Seq(ORole(r.stripPrefix("+role:")), OTerm(t.stripPrefix("+"))), Nil, Nil)
    } else if (q.endsWith("*")) OPrefix(q.dropRight(1))
    else if (q.contains(" AND ")) OBool(q.split(" AND ").toSeq.map(OTerm(_)), Nil, Nil)
    else if (q.contains(" OR ")) OBool(Nil, q.split(" OR ").toSeq.map(OTerm(_)), Nil)
    else if (q.contains(" -")) {
      val Array(a, b) = q.split(" -")
      OBool(Nil, Seq(OTerm(a)), Seq(OTerm(b)))
    } else OTerm(q)
  }
}

final class Oracle(rows: Seq[TranscriptTurn]) {
  import Oracle._

  /** docid = rank in (conv_id, turn_idx) order — the engine's stable
    * docid contract for a bulk build. */
  val docs: Array[TranscriptTurn] =
    rows.sortBy(r => (r.conv_id, r.turn_idx)).toArray
  private val n = docs.length
  private val lens = new Array[Int](n)
  /** term → (docid → positions), docids ascending. */
  private val post = mutable.HashMap.empty[String, mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Int]]]
  locally {
    var d = 0
    while (d < n) {
      val toks = Corpus.tokens(docs(d).text)
      lens(d) = toks.length
      toks.foreach { case (t, p) =>
        post.getOrElseUpdate(t, mutable.LinkedHashMap.empty)
          .getOrElseUpdate(d, mutable.ArrayBuffer.empty) += p
      }
      d += 1
    }
  }
  private val avgdl = lens.iterator.map(_.toLong).sum.toDouble / n
  private lazy val dict: Array[String] = post.keys.toArray.sorted

  private def idf(df: Long): Double = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
  private def tfNorm(tf: Double, len: Int): Double =
    (tf * (K1 + 1)) / (tf + K1 * (1.0 - B + B * len / avgdl))

  private def term(t: String): Map[Int, Double] = post.get(t) match {
    case None => Map.empty
    case Some(ps) =>
      val w = idf(ps.size.toLong)
      ps.iterator.map { case (d, pos) => d -> w * tfNorm(pos.size.toDouble, lens(d)) }.toMap
  }

  /** docid → score of every matching doc. */
  def eval(q: OQ): Map[Int, Double] = q match {
    case OTerm(t) => term(t)
    case ORole(r) =>
      (0 until n).iterator.filter(d => docs(d).role == r).map(_ -> 1.0).toMap
    case OPrefix(p) =>
      val ts = dict.filter(_.startsWith(p))
      if (ts.length > AutoRewriteTermCap)
        ts.iterator.flatMap(t => post(t).keysIterator).map(_ -> 1.0).toMap
      else {
        val acc = mutable.HashMap.empty[Int, Double]
        ts.foreach(t => term(t).foreach { case (d, s) =>
          acc(d) = acc.getOrElse(d, 0.0) + s })
        acc.toMap
      }
    case OBool(must, should, not) =>
      val ms = must.map(eval)
      val ss = should.map(eval)
      val excluded = not.map(eval).flatMap(_.keys).toSet
      val cands =
        if (ms.nonEmpty) ms.map(_.keySet).reduce(_ intersect _)
        else ss.map(_.keySet).reduce(_ union _)
      cands.iterator.filterNot(excluded).map { d =>
        d -> (ms.map(_(d)).sum + ss.flatMap(_.get(d)).sum)
      }.toMap
    case OPhrase(terms, slop) =>
      val lists = terms.map { case (t, _) => post.getOrElse(t, mutable.LinkedHashMap.empty) }
      if (lists.exists(_.isEmpty)) Map.empty
      else {
        val sumIdf = lists.map(l => idf(l.size.toLong)).sum
        val off0 = terms.head._2
        lists.head.keysIterator.filter(d => lists.forall(_.contains(d))).flatMap { d =>
          val pos0 = lists.head(d)
          val freq = pos0.iterator.map { p =>
            if (slop == 0) {
              if (terms.indices.tail.forall { k =>
                lists(k)(d).contains(p + terms(k)._2 - off0) }) 1.0 else 0.0
            } else {
              val gaps = terms.indices.tail.map { k =>
                val want = p + terms(k)._2 - off0
                val ds = lists(k)(d).iterator.map(j => math.abs(j - want))
                  .filter(_ <= slop)
                if (ds.hasNext) ds.min else Int.MaxValue
              }
              if (gaps.contains(Int.MaxValue)) 0.0
              else {
                val total = gaps.sum
                if (total <= slop) 1.0 / (total + 1.0) else 0.0
              }
            }
          }.sum
          if (freq > 0) Some(d -> sumIdf * tfNorm(freq, lens(d))) else None
        }.toMap
      }
  }

  /** Top k as (docid, score), score desc then docid asc. */
  def topK(q: OQ, k: Int): Seq[(Int, Double)] =
    eval(q).toSeq.sortBy { case (d, s) => (-s, d) }.take(k)

  /** Oracle-side tokens, for the cross-check against the engine's
    * analyzer on a sample. */
  def tokensOf(docid: Int): Seq[(String, Int)] = Corpus.tokens(docs(docid).text).toSeq
}

object Compare {
  /** Two ranked top-k lists of (key, score) agree when their scores
    * match pairwise within `tol` and each run of tied scores holds the
    * same keys; a tied run reaching the end of the list may be cut at
    * a different member, so there only the count is compared. */
  def ranked[K](expected: Seq[(K, Double)], actual: Seq[(K, Double)],
      tol: Double): Option[String] = {
    if (expected.size != actual.size)
      return Some(s"${actual.size} rows, expected ${expected.size}")
    val bad = expected.indices.find(i => math.abs(expected(i)._2 - actual(i)._2) > tol)
    if (bad.isDefined) {
      val i = bad.get
      return Some(f"rank ${i + 1}: score ${actual(i)._2}%.6f, expected ${expected(i)._2}%.6f")
    }
    val tieEps = 1e-9
    var i = 0
    while (i < expected.size) {
      var j = i + 1
      while (j < expected.size && math.abs(expected(j)._2 - expected(i)._2) <= tieEps) j += 1
      if (j < expected.size) {
        val e = expected.slice(i, j).map(_._1).toSet
        val a = actual.slice(i, j).map(_._1).toSet
        if (e != a) return Some(s"ranks ${i + 1}-$j: keys $a, expected $e")
      }
      i = j
    }
    None
  }
}
