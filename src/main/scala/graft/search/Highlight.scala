package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.InvertedIndex

/** Best-fragment highlighter (reference contrib Highlighter.cs:34 /
  * QueryScorer semantics, simplified): re-analyze each HIT's stored text,
  * slide a fixed token window, pick the window with the most query-term
  * occurrences (leftmost tie-break), wrap matched tokens in [brackets].
  *
  * Runs as a typed map over the top-k rows only (post-retrieval, the
  * reference's design too) — never over the corpus. */
object Highlight {

  val Window = 8

  def bestFragment(text: String, terms: Set[String], window: Int = Window): String = {
    val raw = Analyzer.rawTokens(text)
    bestFragmentFromPositions(text,
      raw.indices.filter(p => terms.contains(raw(p))).toSet, window)
  }

  /** Position-set variant (FastVectorHighlighter.cs:26 shape): matches
    * come from the TERM VECTORS' position lists instead of re-matching
    * token strings. Positions are raw-token coordinates (the analyzer's
    * pos counter runs over ALL word runs, stop words included), so a
    * position p marks raw token p. For non-stopword query terms the two
    * markings are identical — asserted by sharing one oracle. */
  def bestFragmentFromPositions(text: String, hits: Set[Int],
      window: Int = Window): String = {
    val raw = Analyzer.rawTokens(text)
    if (raw.isEmpty) return ""
    val hit = raw.indices.map(hits.contains)
    val n = raw.length
    val w = math.min(window, n)
    var best = 0; var bestScore = -1
    var i = 0
    var run = hit.slice(0, w).count(identity)
    while (i + w <= n) {
      if (run > bestScore) { bestScore = run; best = i }
      if (i + w < n) run += (if (hit(i + w)) 1 else 0) - (if (hit(i)) 1 else 0)
      i += 1
    }
    raw.zipWithIndex.slice(best, best + w).map { case (t, p) =>
      if (hits.contains(p)) s"[$t]" else t
    }.mkString(" ")
  }

  /** Top-N SCORED fragments (Highlighter.cs:137 GetBestFragments /
    * FastVectorHighlighter FieldFragList semantics): the token stream
    * is chunked into consecutive `window`-token fragments
    * (SimpleFragmenter shape — fragments never overlap; the last may
    * be short), each fragment scores its query-term occurrence count,
    * and the `maxFrags` best fragments with score > 0 come back
    * best-first ((score desc, position asc) — the reference sorts its
    * fragment array by score and drops zero-score fragments). Returns
    * (frag 1..N in rank order, score, bracketed snippet). */
  def topFragments(raw: Vector[String], hit: Int => Boolean,
      window: Int, maxFrags: Int): Seq[(Long, Long, String)] = {
    if (raw.isEmpty) return Seq.empty
    (0 until raw.length by window)
      .map { s =>
        val end = math.min(s + window, raw.length)
        (s, end, (s until end).count(hit))
      }
      .filter(_._3 > 0)
      .sortBy { case (s, _, sc) => (-sc, s) }
      .take(maxFrags)
      .zipWithIndex
      .map { case ((s, e, sc), fi) =>
        ((fi + 1).toLong, sc.toLong,
          (s until e).map(p =>
            if (hit(p)) s"[${raw(p)}]" else raw(p)).mkString(" "))
      }
  }

  /** IDF-WEIGHTED top-N fragments (QueryScorer semantics: fragment
    * score = Σ weight over the DISTINCT query terms present —
    * QueryScorer.cs:167-173 adds each term's weight once per fragment;
    * weight = boost × (ln(N/(df+1)) + 1), the
    * QueryTermExtractor.GetIdfWeightedTerms formula at line 70). Same
    * SimpleFragmenter chunking + (score desc, position asc) ranking as
    * [[topFragments]]; `termAt` maps a token position to its matched
    * query term (None = no match), so the re-analysis path (token
    * equality) and the term-vectors path (position sets) share one
    * scorer. Scores rounded to 4 decimals (cross-engine float guard). */
  def topFragmentsWeighted(raw: Vector[String], termAt: Int => Option[String],
      weights: Map[String, Double], window: Int,
      maxFrags: Int): Seq[(Long, Double, String)] = {
    if (raw.isEmpty) return Seq.empty
    (0 until raw.length by window)
      .map { s =>
        val end = math.min(s + window, raw.length)
        val found = (s until end).flatMap(termAt).distinct
        (s, end, found.map(weights.getOrElse(_, 0.0)).sum)
      }
      .filter(_._3 > 0.0)
      .sortBy { case (s, _, sc) => (-sc, s) }
      .take(maxFrags)
      .zipWithIndex
      .map { case ((s, e, sc), fi) =>
        ((fi + 1).toLong,
          math.rint(sc * 10000.0) / 10000.0,
          (s until e).map(p =>
            if (termAt(p).isDefined) s"[${raw(p)}]" else raw(p)).mkString(" "))
      }
  }

  /** Per-term QueryScorer weights from the index stats: boost ×
    * (ln(N/(df+1)) + 1) — QueryTermExtractor.cs:70 exactly (absent
    * terms keep df = 0, like Searcher.docFreq on an unseen term). df
    * comes from the driver-side dictionary lookup [[Searcher.dfOf]]. */
  def termWeights(idx: InvertedIndex, q: Query): Map[String, Double] = {
    val boosts = QueryAst.termBoosts(q)
    if (boosts.isEmpty) return Map.empty
    val dfs = new Searcher(idx).dfOf(boosts.keySet)
    val n = idx.numDocs.toDouble
    boosts.map { case (t, b) =>
      t -> b * (math.log(n / (dfs.getOrElse(t, 0L) + 1.0)) + 1.0)
    }
  }

  /** The query's top-k hits as (rank, docid) — the prologue every
    * highlighter shares. Rank is an explicit materialized column
    * (row_number over the mandatory (score desc, docid asc) order,
    * computed over the k hit rows): DataFrame ordering is not
    * guaranteed to survive a join or a typed map. */
  def rankedHits(searcher: Searcher, q: Query, k: Int): DataFrame =
    searcher.topK(q, k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("docid").asc)).cast("long"))
      .select(col("rank"), col("docid"))

  /** (rank, docid, text) of the hits, for the re-analysis highlighters. */
  private def hitTexts(idx: InvertedIndex, searcher: Searcher, q: Query,
      k: Int): DataFrame =
    rankedHits(searcher, q, k)
      .join(idx.docs.select(col("docid"), col("text")), Seq("docid"))
      .select(col("rank"), col("docid"), col("text"))

  /** Weighted variant of [[highlightN]]: fragments ranked by the
    * idf-weighted distinct-term score instead of raw hit count. */
  def highlightWeighted(idx: InvertedIndex, searcher: Searcher, q: Query,
      k: Int, maxFrags: Int, window: Int = Window): DataFrame = {
    val spark = idx.docs.sparkSession
    import spark.implicits._
    val weights = termWeights(idx, q)
    hitTexts(idx, searcher, q, k).as[(Long, Long, String)]
      .flatMap { case (r, d, t) =>
        val raw = Analyzer.rawTokens(t)
        topFragmentsWeighted(raw,
          p => Some(raw(p)).filter(weights.contains),
          weights, window, maxFrags)
          .map { case (f, sc, sn) => (r, d, f, sc, sn) }
      }
      .toDF("rank", "docid", "frag", "fscore", "snippet")
  }

  /** N-fragment variant of [[highlight]]: one row per (hit, fragment),
    * fragments ranked within each hit. */
  def highlightN(idx: InvertedIndex, searcher: Searcher, q: Query,
      k: Int, maxFrags: Int, window: Int = Window): DataFrame = {
    val spark = idx.docs.sparkSession
    import spark.implicits._
    val terms = QueryAst.terms(q)
    hitTexts(idx, searcher, q, k).as[(Long, Long, String)]
      .flatMap { case (r, d, t) =>
        val raw = Analyzer.rawTokens(t)
        topFragments(raw, p => terms.contains(raw(p)), window, maxFrags)
          .map { case (f, sc, sn) => (r, d, f, sc, sn) }
      }
      .toDF("rank", "docid", "frag", "fscore", "snippet")
  }

  /** (rank, docid, snippet) for the query's top-k hits. */
  def highlight(idx: InvertedIndex, searcher: Searcher, q: Query,
      k: Int): DataFrame = {
    val spark = idx.docs.sparkSession
    import spark.implicits._
    val terms = QueryAst.terms(q)
    hitTexts(idx, searcher, q, k).as[(Long, Long, String)]
      .map { case (r, d, t) => (r, d, bestFragment(t, terms)) }
      .toDF("rank", "docid", "snippet")
  }
}
