package graft.search

import org.scalatest.funsuite.AnyFunSuite

import graft.search.TinyCorpus._

/** Scalar-oracle checks for the span family, MultiPhrase, MoreLikeThis
  * and suggest/highlight (CheckHits analog over TinyCorpus; positions
  * are the stop-gap-preserving analyzer positions). */
class SpanSpec extends AnyFunSuite {

  private def run(q: Query): Map[Long, Double] =
    new Searcher(index).score(q).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def positions(t: String, d: Int): Seq[Int] =
    docs(d).filter(_.term == t).map(_.pos)

  private def tfNorm(f: Double, d: Int): Double =
    (f * 2.2) / (f + 1.2 * (1 - 0.75 + 0.75 * lens(d) / avgdl))

  test("span first: only occurrences before `end` count") {
    // "error" at pos 0 in docs 0,3? doc 0: "error in the spark job" ->
    // error@0; doc 3: "deploy failed with error" -> error@3;
    // doc 6: "error error error error deploy" -> 0,1,2,3
    val hits = run(SpanFirstQ("error", 2))
    assert(hits.keySet == Set(0L, 6L))
    // doc 6 has two qualifying occurrences (pos 0,1) -> freq 2
    val want6 = idf("error") * tfNorm(2.0, 6)
    assert(math.abs(hits(6L) - want6) < 1e-9)
  }

  test("span near ordered vs unordered") {
    // doc 4 "quick deploy of the spark table": spark@4, table@5
    // ordered (spark, table) gap 0
    val ord = run(SpanNearQ("spark", "table", 0, inOrder = true))
    assert(ord.keySet == Set(4L, 8L)) // doc 8 "spark table merge job"
    // reversed order finds nothing at slop 0
    assert(run(SpanNearQ("table", "spark", 0, inOrder = true)).isEmpty)
    // unordered finds both directions
    val unord = run(SpanNearQ("table", "spark", 0, inOrder = false))
    assert(unord.keySet == Set(4L, 8L))
    // score: sumIdf * tfNorm(1/(1+0))
    val want = (idf("spark") + idf("table")) * tfNorm(1.0, 8)
    assert(math.abs(ord(8L) - want) < 1e-9)
  }

  test("ordered N-clause near constrains the TOTAL gap sum") {
    // doc 9 "merge the table then merge again" (stop gaps kept):
    // merge@0, table@2, merge@4, again@5. Chain (merge, table, again) =
    // 0 -> 2 -> 5 with gaps 1 and 2: each gap <= 2 but the SUM is 3 —
    // NearSpansOrdered.cs:47 matchLength semantics reject slop 2
    val q2 = SpanQ(SNear(
      Seq(STerm("merge"), STerm("table"), STerm("again")), 2))
    assert(!run(q2).contains(9L))
    // slop 3 admits it: span [0,5], freq 1/(1 + 5-0-2) = 0.25
    val q3 = SpanQ(SNear(
      Seq(STerm("merge"), STerm("table"), STerm("again")), 3))
    val hits = run(q3)
    val want = (idf("merge") + idf("table") + idf("again")) *
      tfNorm(0.25, 9)
    assert(math.abs(hits(9L) - want) < 1e-9)
  }

  test("unordered near with duplicate terms keeps scores finite") {
    // doc 6 "error error error error deploy": error@0-3, deploy@4.
    // The combination product can cover BOTH duplicate error clauses
    // with ONE occurrence, and minW counts the duplicate leaf (=2), so
    // span [3,4] has raw distance (4-3)-2 = -1 — unclamped that is a
    // zero denominator (Infinity score). Clamped: distances
    // [2,1,0,-1->0] over starts 0..3, tfp = 1/3 + 1/2 + 1 + 1.
    val hits = run(SpanQ(SNear(
      Seq(STerm("error"), STerm("error"), STerm("deploy")), 2,
      inOrder = false)))
    hits.values.foreach(v => assert(java.lang.Double.isFinite(v) && v > 0))
    val tfp = 1.0 / 3 + 1.0 / 2 + 1 + 1
    val want = (idf("error") + idf("deploy")) * tfNorm(tfp, 6)
    assert(math.abs(hits(6L) - want) < 1e-9)
  }

  test("a flat span near sums idf over both clauses, a repeated term twice") {
    // doc 6 "error error error error deploy": error@0-3. Each of 0, 1, 2
    // has the next occurrence at gap 0 (slop 1): freq 3. The flat family
    // weighs Seq(a, b) as given; SpanQ (above) sums distinct terms.
    val hits = run(SpanNearQ("error", "error", 1, inOrder = true))
    val want = 2 * idf("error") * tfNorm(3.0, 6)
    assert(math.abs(hits(6L) - want) < 1e-9)
  }

  test("span not: exclusion inside the span kills it") {
    // doc 9 "merge the table then merge again": merge@0, table@2 ->
    // ordered near (merge, table) slop 2 matches span [0,2]
    val near = run(SpanNearQ("merge", "table", 2, inOrder = true))
    assert(near.contains(9L))
    // excluding "table" inside (merge..table) spans is degenerate-true;
    // exclude "quick": doc 9 has none -> survives
    assert(run(SpanNotQ("merge", "table", 2, "quick")).contains(9L))
    // doc 4 "quick deploy of the spark table": (quick, table) slop 5
    // matches span [0,5], but "spark"@4 sits inside -> excluded
    assert(run(SpanNearQ("quick", "table", 5, inOrder = true)).contains(4L))
    assert(!run(SpanNotQ("quick", "table", 5, "spark")).contains(4L))
  }

  test("span or: union with summed tf and summed idf") {
    val ts = Seq("fox", "dog")
    val hits = run(SpanOrQ(ts))
    assert(hits.keySet == Set(2L, 7L))
    // doc 7 "fox jumps over the lazy dog": fox+dog -> tf 2
    val want7 = (idf("fox") + idf("dog")) * tfNorm(2.0, 7)
    assert(math.abs(hits(7L) - want7) < 1e-9)
  }

  test("multi-phrase: alternatives per slot") {
    // slot0 in {spark, merge}, slot1 = table, adjacent:
    // doc 4 "spark table", doc 8 "spark table", doc 9 "merge the table"? no
    // (gap 2) -> docs 4, 8
    val hits = run(MultiPhraseQ(Seq(Seq("spark", "merge") -> 0,
      Seq("table") -> 1)))
    assert(hits.keySet == Set(4L, 8L))
    // weight = sum idf over ALL alternatives
    val sumIdf = idf("spark") + idf("merge") + idf("table")
    val want8 = sumIdf * tfNorm(1.0, 8)
    assert(math.abs(hits(8L) - want8) < 1e-9)
  }

  test("more like this: source excluded, top terms drive") {
    // doc 1 "spark spark spark everywhere" -> top terms spark, everywhere
    val hits = run(MoreLikeThisQ(1L, 2))
    assert(!hits.contains(1L))
    // every doc containing spark (other than 1) must hit
    val sparkDocs = (0 until n).filter(d => d != 1 && tf("spark", d) > 0)
    assert(sparkDocs.forall(d => hits.contains(d.toLong)))
    val d = 0
    assert(math.abs(hits(0L) - bm25("spark", d)) < 1e-9)
  }

  test("suggest: trigram candidates ranked by distance then df") {
    val got = Suggest.suggest(index, "spak", 2, 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got.nonEmpty && got.head._1 == "spark")
    assert(got.forall(_._3 <= 2))
    // ranking is (dist, -df, term)
    val resorted = got.sortBy { case (t, df, d) => (d, -df, t) }
    assert(got == resorted)
  }

  test("highlight: best window marks query terms") {
    val frag = Highlight.bestFragment(
      "the quick brown fox jumps over the lazy dog", Set("fox", "dog"), 6)
    assert(frag.contains("[fox]") && frag.contains("[dog]"))
    val none = Highlight.bestFragment("alpha beta", Set("zzz"), 4)
    assert(none == "alpha beta")
  }
}
