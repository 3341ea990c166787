package graft.search

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.analysis.Analyzer
import graft.index.IndexBuilder
import graft.model.Transcripts

/** Pluggable Similarity (Similarity.cs:398-503): swapping the strategy
  * must swap every scoring site. Expected classic (DefaultSimilarity)
  * scores are recomputed HERE from the raw tokens with independent
  * arithmetic — tf = sqrt(freq), idf = 1 + ln(N/(df+1)),
  * lengthNorm = 1/sqrt(len), coord = overlap/maxOverlap
  * (DefaultSimilarity.cs:40-85) — never read back from the engine. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  // driver-side reference model of the analyzed corpus
  private lazy val fixture = {
    val t = Transcripts.synthetic(spark, 300, seed = 7L, partitions = 2)
    val idx = IndexBuilder.build(t, 2)
    val docs = idx.docs.select("docid", "text").collect()
      .map(r => r.getLong(0) -> Analyzer.fastTokenize(r.getString(1)).map(_.term))
    (idx, docs)
  }

  private def classicExpected(terms: Seq[String]): Map[Long, Map[String, Double]] = {
    val (_, docs) = fixture
    val n = docs.length.toDouble
    val df = terms.map(t => t -> docs.count(_._2.contains(t))).toMap
    docs.flatMap { case (d, toks) =>
      val len = toks.size
      val per = terms.flatMap { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) None
        else Some(t -> ((1.0 + math.log(n / (df(t) + 1)))
          * (math.sqrt(tf.toDouble) * (1.0 / math.sqrt(len.toDouble)))))
      }.toMap
      if (per.isEmpty) None else Some(d -> per)
    }.toMap
  }

  test("classic term scores match the hand formula; ranking differs from BM25 norms") {
    val (idx, _) = fixture
    val exp = classicExpected(Seq("table"))
    val got = new Searcher(idx, ClassicSim).topK(TermQ("table"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.nonEmpty)
    got.foreach { case (d, s) =>
      assert(math.abs(s - exp(d)("table")) < 1e-9, s"doc $d") }
    // the top-10 really is the global classic top-10
    val all = exp.toSeq.map { case (d, m) => (m("table"), d) }
      .sortBy { case (s, d) => (-s, d) }.take(10)
    assert(got.map(_._1).toSeq == all.map(_._2))
  }

  test("coord multiplies the SHOULD sum by overlap/maxOverlap under classic only") {
    val (idx, _) = fixture
    val terms = Seq("table", "merge", "query")
    val exp = classicExpected(terms)
    val got = new Searcher(idx, ClassicSim)
      .topK(BoolQ(should = terms.map(TermQ(_))), 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == exp.keySet) // msm floor 1 = any overlap
    exp.foreach { case (d, per) =>
      val want = per.values.sum * (per.size.toDouble / terms.size)
      assert(math.abs(got(d) - want) < 1e-9, s"doc $d") }
    // BM25 (the default) leaves the sum un-multiplied: a doc matching
    // one clause scores the plain clause score
    val bm = new Searcher(idx).topK(BoolQ(should = terms.map(TermQ(_))), 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val single = new Searcher(idx).topK(TermQ("table"), 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val only = exp.collect { case (d, per) if per.keySet == Set("table") => d }
    assert(only.nonEmpty)
    only.foreach(d => assert(math.abs(bm(d) - single(d)) < 1e-12))
  }

  test("coord reaches the compositional (non-flattenable) boolean path too") {
    val (idx, _) = fixture
    // a phrase clause is its own frame in the boolean tree fold
    val toks = fixture._2.flatMap { case (_, ts) => ts.zip(ts.drop(1)) }
      .filter(p => p._1 != p._2)
    val (a, b) = toks.groupBy(identity).maxBy(_._2.size)._1
    val q = BoolQ(should = Seq(PhraseQ(Seq(a -> 0, b -> 1)), TermQ("table")))
    val cl = new Searcher(idx, ClassicSim).topK(q, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // docs matching ONLY the term clause score termScore * 1/2
    val term = classicExpected(Seq("table"))
    val phraseDocs = fixture._2.collect {
      case (d, ts) if ts.zip(ts.drop(1)).contains((a, b)) => d }.toSet
    val termOnly = term.keySet.diff(phraseDocs).intersect(cl.keySet)
    assert(termOnly.nonEmpty)
    termOnly.foreach { d =>
      assert(math.abs(cl(d) - term(d)("table") * 0.5) < 1e-9, s"doc $d") }
  }
}
