package graft.search

/** Query algebra — the reference's Query class hierarchy re-expressed as a
  * small ADT (reference: /root/reference/src/core/Search/; SURVEY.md
  * §2.5). Every node evaluates to a (docid, score) relation; composition
  * semantics follow BooleanScorer2 (BooleanQuery.cs:350-424) with the
  * coord factor dropped (BM25-era choice, documented in SURVEY.md §7.7).
  */
sealed trait Query

/** TermQuery.cs:33 — one posting list, BM25-scored. */
final case class TermQ(term: String) extends Query

/** BooleanQuery.cs:34 — MUST / SHOULD / MUST_NOT + minimumNumberShouldMatch. */
final case class BoolQ(
    must: Seq[Query] = Nil,
    should: Seq[Query] = Nil,
    mustNot: Seq[Query] = Nil,
    minShouldMatch: Int = 0) extends Query

/** PhraseQuery.cs:35 — terms at analyzer positions (stop-gap offsets kept,
  * like QueryParser's analyzed phrases); slop=0 → ExactPhraseScorer,
  * slop>0 → sloppy matching. */
final case class PhraseQ(terms: Seq[(String, Int)], slop: Int = 0) extends Query

/** MultiTermQuery rewrite modes (MultiTermQuery.cs:58-200):
  * CONSTANT_SCORE (filter-shaped, uniform 1.0), SCORING_BOOLEAN (each
  * expanded term scored, per-doc sum), and the auto heuristic — small
  * expansions (<= 350 matched terms, MultiTermQuery.cs:61-79) score like
  * a boolean, large ones fall back to constant-score (the doc-fraction
  * condition of the reference is intentionally dropped — term count is
  * the binding constraint at transcript scale). */
sealed trait MultiTermRewrite
case object ConstantScore extends MultiTermRewrite
case object ScoringBoolean extends MultiTermRewrite
case object AutoRewrite extends MultiTermRewrite

/** PrefixQuery.cs:35 (rewrite per MultiTermQuery.cs:84-114). */
final case class PrefixQ(prefix: String,
    rewrite: MultiTermRewrite = ConstantScore) extends Query

/** WildcardQuery.cs:42 — `*`/`?` glob. */
final case class WildcardQ(pattern: String,
    rewrite: MultiTermRewrite = ConstantScore) extends Query

/** TermRangeQuery.cs:40 — lexicographic term range. `collation` is
  * the reference's Collator ctor variant (TermRangeQuery.cs:96: range
  * endpoints compared with a locale collator instead of codepoint
  * order): an ICU locale tag (e.g. "de", "sv") applied to the
  * dictionary compare on BOTH engine and oracle. */
final case class TermRangeQ(lo: Option[String], hi: Option[String],
    incLo: Boolean = true, incHi: Boolean = true,
    rewrite: MultiTermRewrite = ConstantScore,
    collation: Option[String] = None) extends Query

/** FuzzyQuery.cs:41 — scoring-boolean rewrite; per-term boost =
  * 1 - dist/min(|term|,|query|) (FuzzyTermEnum.cs:135-178 similarity). */
final case class FuzzyQ(term: String, maxEdits: Int = 2) extends Query

/** MatchAllDocsQuery.cs:31 — every doc, constant score 1. */
case object MatchAllQ extends Query

/** No docs (an all-stopword query parses to this — Lucene returns zero
  * hits for an effectively-empty BooleanQuery). */
case object MatchNoneQ extends Query

/** ConstantScoreQuery.cs:29. */
final case class ConstantScoreQ(q: Query, score: Double = 1.0) extends Query

/** Query boost (Query.cs SetBoost) — multiplies the sub-score. */
final case class BoostQ(q: Query, boost: Double) extends Query

/** BoostingQuery.cs:45 analog (contrib Queries): the match set and
  * scores come from `positive` alone; docs that ALSO match `context`
  * have their score multiplied by `demote` (< 1 pushes them down the
  * ranking without excluding them — the "soft NOT"). */
final case class BoostingQ(positive: Query, context: Query,
    demote: Double) extends Query

/** DisjunctionMaxQuery.cs:40 — max + tieBreaker*(sum-max). */
final case class DisMaxQ(disjuncts: Seq[Query], tieBreaker: Double = 0.0)
  extends Query

/** Keyword-field filter (role/tool/conv_id — NOT_ANALYZED fields). Scored
  * as constant 1 when standalone; typically a MUST filter clause.
  * Reference analog: TermQuery on a NOT_ANALYZED field / TermsFilter. */
final case class KeywordQ(field: String, value: String) extends Query

/** Numeric/timestamp range on a forward column (NumericRangeQuery.cs:156 —
  * Catalyst-native predicate replaces the trie). Bounds are SQL literals. */
final case class RangeQ(field: String, loSql: Option[String],
    hiSql: Option[String]) extends Query

/** Date range over DateTools-encoded sortable keys
  * (QueryParser.GetRangeQuery, QueryParser.cs:749: date-parseable range
  * endpoints become DateTools.DateToString terms at the field's
  * configured resolution, then an ordinary lexicographic range). `lo`/
  * `hi` are the ALREADY-ENCODED keys (e.g. "20250102" at day
  * resolution); evaluation compares the encoded timestamp column —
  * lexicographic == time order by the DateTools contract. */
final case class DateRangeQ(field: String, lo: Option[String],
    hi: Option[String], resolution: String,
    includeLo: Boolean = true, includeHi: Boolean = true) extends Query

/** SpanFirstQuery.cs:31 (single-term span): term occurrences at
  * position < end; freq = matching-occurrence count (width-0 spans →
  * sloppyFreq 1 each, SpanScorer.cs:28). */
final case class SpanFirstQ(term: String, end: Int) extends Query

/** SpanNearQuery.cs:34, two single-term spans (the common SpanTermQuery
  * composition): positions within `slop` gap, ordered
  * (NearSpansOrdered.cs:47) or unordered (NearSpansUnordered.cs:32);
  * freq = Σ over driving positions of 1/(1+minGap) (SpanScorer
  * sloppyFreq over span widths). Repeated-term overlap handling is
  * simplified vs the reference (documented deviation). */
final case class SpanNearQ(a: String, b: String, slop: Int,
    inOrder: Boolean) extends Query

/** SpanNotQuery.cs:31 with the classic composition (include = ordered
  * SpanNear of two terms, exclude = a term): keep spans [pa..pb]
  * (gap ≤ slop) that contain no occurrence of `exclude`
  * ("new york" NOT containing "city"). freq = Σ 1/(1+minGap) over
  * surviving driving positions. */
final case class SpanNotQ(a: String, b: String, slop: Int,
    exclude: String) extends Query

/** SpanOrQuery.cs:32 over term spans: union of all occurrences;
  * freq = total occurrence count, weighted by the summed idf. */
final case class SpanOrQ(terms: Seq[String]) extends Query

/** MultiPhraseQuery.cs:40 — phrase with term alternatives per slot. */
final case class MultiPhraseQ(slots: Seq[(Seq[String], Int)]) extends Query

// ---------------------------------------------------------------------
// General span algebra (Spans/*.cs) — composable, one+ levels of nesting.
// A span evaluates per doc to a set of [start, end] position intervals.
// Ordered SNear constrains the TOTAL inter-clause gap sum by `slop`
// (NearSpansOrdered.cs:47 matchLength semantics); the per-start greedy
// min-end span feeds sloppyFreq.
// ---------------------------------------------------------------------
sealed trait Span
/** SpanTermQuery.cs:29 — every occurrence is a width-0 span. */
final case class STerm(term: String) extends Span
/** FieldMaskingSpanQuery.cs:72 analog: spans of a PARALLEL field
  * participate in the masked field's span algebra. Our parallel fields
  * are the keyword columns (role/tool/conv_id), projected into the text
  * position space as one width-0 span at position 0 per matching doc —
  * the aligned-parallel-field pattern the reference's own doc example
  * uses (teacher/student fields with aligned positions). Contributes no
  * idf (keyword semantics, like KeywordQ). */
final case class SMask(field: String, value: String) extends Span
/** SpanNearQuery.cs:34 over arbitrary sub-spans (nesting allowed).
  * inOrder=false with 2 clauses chains both orders (non-overlapping);
  * with N>=3 clauses it uses NearSpansUnordered.cs:32 envelope
  * semantics: one span per clause in ANY order (overlaps allowed — the
  * reference's documented quirk), result span = the envelope
  * [min start, max end], matching iff envelopeWidth - Σ clauseWidths
  * <= slop. */
final case class SNear(clauses: Seq[Span], slop: Int,
    inOrder: Boolean = true) extends Span
/** SpanFirstQuery.cs:31 — spans ending before `end`. */
final case class SFirst(s: Span, end: Int) extends Span
/** SpanNotQuery.cs:31 — include spans overlapping no exclude span. */
final case class SNot(include: Span, exclude: Span) extends Span
/** SpanOrQuery.cs:32 as a NESTABLE node: the union of the clause span
  * sets, reduced like any [[SpanQ]]'s spans (the flat [[SpanOrQ]] sums
  * tf instead). A doc matches if ANY clause matches, so none of the
  * clause leaves gates the doc set. */
final case class SOr(clauses: Seq[Span]) extends Span
/** contrib Regex/SpanRegexQuery.cs:33 — a regex multi-term span leaf.
  * The reference rewrites RegexQuery's SCORING_BOOLEAN expansion into a
  * SpanOrQuery of SpanTermQuerys; we expand the anchored pattern against
  * the term dictionary at plan time (literal-prefix pushdown, capped at
  * maxClauseCount) into exactly that [[SOr]] of [[STerm]]s. */
final case class SRegex(pattern: String) extends Span

/** A span query scored like the flat span family: freq = Σ over matched
  * starts (greedy min-end span per start) of 1/(1 + totalGap), weight =
  * summed idf of all leaf terms (SpanScorer.cs:28 sloppyFreq shape). */
final case class SpanQ(span: Span) extends Query

object Spans {
  /** A positions source for one span leaf: a text term (posting list) or
    * a masked keyword field (width-0 span at position 0). */
  sealed trait SLeaf
  final case class TermLeaf(term: String) extends SLeaf
  final case class MaskLeaf(field: String, value: String) extends SLeaf

  def leaves(s: Span): Seq[SLeaf] = s match {
    case STerm(t) => Seq(TermLeaf(t))
    case SMask(f, v) => Seq(MaskLeaf(f, v))
    case SNear(cs, _, _) => cs.flatMap(leaves)
    case SFirst(sub, _) => leaves(sub)
    case SNot(i, e) => leaves(i) ++ leaves(e)
    case SOr(cs) => cs.flatMap(leaves)
    case SRegex(_) => Nil // expanded to SOr(STerm*) before leaf collection
  }
  /** Leaves on the REQUIRED side only (an SNot's exclude side never
    * gates a doc; SOr clauses match any-of, so none of their leaves is
    * required —
    * this also keeps minW identical between the engine's expanded tree
    * and the oracle's static one). */
  def requiredLeaves(s: Span): Seq[SLeaf] = s match {
    case STerm(t) => Seq(TermLeaf(t))
    case SMask(f, v) => Seq(MaskLeaf(f, v))
    case SNear(cs, _, _) => cs.flatMap(requiredLeaves)
    case SFirst(sub, _) => requiredLeaves(sub)
    case SNot(i, _) => requiredLeaves(i)
    case SOr(_) => Nil
    case SRegex(_) => Nil
  }
  /** Terms contributing idf to the span weight (SpanWeight sums idf over
    * every scoring-side leaf term — SOr branches included, the SNot
    * exclude side not). Identical to required terms for SOr/SRegex-free
    * trees. */
  def scoringTerms(s: Span): Seq[String] = s match {
    case STerm(t) => Seq(t)
    case SMask(_, _) => Nil
    case SNear(cs, _, _) => cs.flatMap(scoringTerms)
    case SFirst(sub, _) => scoringTerms(sub)
    case SNot(i, _) => scoringTerms(i)
    case SOr(cs) => cs.flatMap(scoringTerms)
    case SRegex(_) => Nil
  }
  /** Scoring-side regex leaves (idf of their plan-time expansions). */
  def scoringRegexes(s: Span): Seq[String] = s match {
    case SRegex(p) => Seq(p)
    case SNear(cs, _, _) => cs.flatMap(scoringRegexes)
    case SFirst(sub, _) => scoringRegexes(sub)
    case SNot(i, _) => scoringRegexes(i)
    case SOr(cs) => cs.flatMap(scoringRegexes)
    case _ => Nil
  }
  /** Text terms among a leaf list (idf carriers; masks contribute 0). */
  def termsOf(ls: Seq[SLeaf]): Seq[String] =
    ls.collect { case TermLeaf(t) => t }
}

/** contrib MoreLikeThis.cs:138 — top-N tf·idf terms of a source doc
  * become a scored disjunction; the source doc is excluded. */
final case class MoreLikeThisQ(docid: Long, topTerms: Int = 10) extends Query

/** contrib FuzzyLikeThisQuery.cs:48 — FuzzyQuery × MoreLikeThis hybrid:
  * the free text is analyzed, EVERY source term is fuzzified, and the
  * globally best `maxNumTerms` variants (ranked by sim² × idf of the
  * SOURCE term) form the rewritten disjunction. The reference's key
  * scoring twist is kept: a variant scores with the source term's idf
  * folded into its boost — NOT its own idf — so rare misspellings can't
  * dominate (FuzzyLikeThisQuery.cs:41-46); per-doc contribution is
  * boost × tf-norm under the active Similarity. Variant similarity uses
  * our FuzzyQ edit-distance form (1 − dist/min-length); per-source-term
  * candidates are capped at 50 (MAX_VARIANTS_PER_TERM,
  * FuzzyLikeThisQuery.cs:56) before the global queue. */
final case class FuzzyLikeThisQ(text: String, maxEdits: Int = 1,
    maxNumTerms: Int = 24) extends Query

/** contrib RegexQuery.cs:29 — regex term expansion. Pattern is anchored
  * (whole-term match), like the reference's RegexTermEnum. */
final case class RegexQ(pattern: String,
    rewrite: MultiTermRewrite = ConstantScore) extends Query

/** Function/FieldScore query (ValueSourceQuery.cs:44, FieldScoreQuery.cs:63):
  * score = a numeric expression over the doc's forward columns, evaluated
  * for every live doc. `exprSql` is a SQL expression over docs columns
  * (identical text runs in Spark and the oracle). */
final case class FunctionQ(exprSql: String) extends Query

/** CustomScoreQuery.cs:49 — subquery score modulated by a doc-value
  * expression: score = subScore * exprSql(doc). */
final case class CustomScoreQ(q: Query, exprSql: String) extends Query

/** Per-doc reduction over a term's occurrence payloads
  * (PayloadFunction.cs:30 family: Average/Min/MaxPayloadFunction). */
sealed trait PayloadFn
case object PayAvg extends PayloadFn
case object PayMin extends PayloadFn
case object PayMax extends PayloadFn

/** PayloadTermQuery.cs:26-40: term scoring modulated by the payloads at
  * the match positions — score = bm25(term) * fn(payloads) when
  * `includeSpanScore` (the reference's IncludeSpanScore), else
  * fn(payloads) alone. Occurrences without a stored payload read as the
  * neutral 1.0. */
final case class PayloadTermQ(term: String, fn: PayloadFn = PayAvg,
    includeSpanScore: Boolean = true) extends Query

/** PayloadNearQuery.cs:52: ordered span-near of two terms whose score is
  * modulated by the payloads collected at BOTH ends of every matched
  * span — score = spanScore * fn(collected payloads) (or fn alone).
  * Span semantics match [[SpanNearQ]] ordered: per `a` occurrence, the
  * nearest qualifying `b` within slop. */
final case class PayloadNearQ(a: String, b: String, slop: Int,
    fn: PayloadFn = PayAvg, includeSpanScore: Boolean = true) extends Query

/** PayloadNearQuery.cs:52 over N term clauses (the reference accepts
  * arbitrary SpanNearQuery clause lists, ordered or not).
  *
  * Ordered (`inOrder = true`): chain semantics generalize
  * [[PayloadNearQ]]'s min-gap rule — per first-term occurrence, each
  * next clause matches its NEAREST qualifying occurrence (strictly
  * after the previous, per-gap ≤ slop); a completed chain contributes
  * sloppy freq 1/(1 + width − (N−1)) and the payloads of ALL its
  * members. For N = 2 this is exactly [[PayloadNearQ]].
  *
  * Unordered: every combination of one occurrence per clause whose
  * envelope width − (N−1) ≤ slop counts (combination counting, a
  * documented deviation from NearSpansUnordered's sliding-heap span
  * enumeration — the reference's own unordered overlap behavior is a
  * documented quirk, NearSpansUnordered.cs:32). */
final case class PayloadSpanNearQ(terms: Seq[String], slop: Int,
    fn: PayloadFn = PayAvg, includeSpanScore: Boolean = true,
    inOrder: Boolean = true) extends Query

// ---------------------------------------------------------------------
// Filter algebra (contrib Queries filter family) — pure docid-set
// combinators with NO scoring contribution, composable and cacheable
// via Searcher.cacheFilter / topKFiltered (FilteredQuery semantics:
// the filter gates, the query scores).
// ---------------------------------------------------------------------
sealed trait DocFilter

/** TermsFilter.cs:31 — the union of the posting sets of an explicit
  * (field, value) term list. Our NOT_ANALYZED fields are the keyword
  * forward columns (role/tool/conv_id), so this is a docs-table scan
  * with an OR predicate Catalyst pushes to the parquet reader. */
final case class TermsF(terms: Seq[(String, String)]) extends DocFilter

/** QueryWrapperFilter.cs:40 — any query's match set as a filter
  * (scores discarded). */
final case class QueryF(q: Query) extends DocFilter

/** DuplicateFilter.cs:29 — keep ONE doc per distinct value of `field`
  * (the first or last occurrence in docid order, KM_USE_FIRST/
  * LAST_OCCURRENCE); docs without the field are dropped, like the
  * reference's CorrectBits which only sets bits for docs carrying the
  * field. One groupBy(field) shuffle at any scale. */
final case class DuplicateF(field: String,
    keepFirst: Boolean = false) extends DocFilter

/** BooleanFilter.cs:63 + FilterClause.cs — set algebra over filters,
  * mirroring the reference's evaluation order: SHOULD clauses union
  * into the base set (if none, the base is the first MUST, or all live
  * docs when only NOTs exist — the res.Flip branch), then NOT clauses
  * subtract, then MUST clauses intersect. */
final case class BoolF(
    must: Seq[DocFilter] = Nil,
    should: Seq[DocFilter] = Nil,
    mustNot: Seq[DocFilter] = Nil) extends DocFilter

/** Filters/ChainedFilter.cs:38 link operators. */
sealed trait ChainOp
case object ChainAnd extends ChainOp
case object ChainOr extends ChainOp
case object ChainAndNot extends ChainOp
case object ChainXor extends ChainOp

/** Filters/ChainedFilter.cs:38 — a LEFT FOLD over filters with a
  * per-link set operator, the sequential cousin of [[BoolF]] (whose
  * clause algebra cannot express XOR). `(f0, [(op1,f1),(op2,f2)])`
  * evaluates `(f0 op1 f1) op2 f2`. */
final case class ChainF(first: DocFilter,
    links: Seq[(ChainOp, DocFilter)]) extends DocFilter

/** Sort key for field-sorted top-k (SortField.cs:43-101): a forward doc
  * column, or the special name "score" (SortField.FIELD_SCORE). */
final case class SortField(field: String, desc: Boolean = false)

object QueryAst {

  /** SimilarityQueries.FormSimilarQuery analog (contrib
    * Similarity/Similar/SimilarityQueries.cs:92): analyze the body,
    * dedup terms in first-occurrence order, OR them — capped at
    * maxClauseCount with the reference's keep-what-we-have fail-safe
    * (it breaks on TooManyClauses instead of throwing). */
  def similarQuery(text: String,
      kind: graft.analysis.Analyzers.Kind =
        graft.analysis.Analyzers.Standard): Query = {
    val toks = graft.analysis.Analyzers.tokenize(kind, text)
      .map(_.term).distinct.take(Searcher.MaxClauseCount)
    if (toks.isEmpty) MatchNoneQ else BoolQ(should = toks.map(TermQ(_)))
  }
  /** Leaf text terms with their effective boost (nested boosts
    * multiply; a term reached twice keeps its HIGHEST weight — the
    * QueryScorer "always use the highest scoring Weight" rule,
    * QueryScorer.cs:120-127). Feeds the idf-weighted highlighter. */
  def termBoosts(q: Query, b: Double = 1.0): Map[String, Double] = q match {
    case TermQ(t) => Map(t -> b)
    case BoostQ(s, bb) => termBoosts(s, b * bb)
    case ConstantScoreQ(s, _) => termBoosts(s, b)
    case BoolQ(m, s, _, _) => // NOT clauses never highlight
      (m ++ s).map(termBoosts(_, b))
        .foldLeft(Map.empty[String, Double]) { (acc, mm) =>
          mm.foldLeft(acc) { case (a, (t, w)) =>
            a.updated(t, math.max(a.getOrElse(t, 0.0), w))
          }
        }
    case DisMaxQ(ds, _) => ds.map(termBoosts(_, b))
      .foldLeft(Map.empty[String, Double]) { (acc, mm) =>
        mm.foldLeft(acc) { case (a, (t, w)) =>
          a.updated(t, math.max(a.getOrElse(t, 0.0), w))
        }
      }
    case PhraseQ(ts, _) => ts.map(_._1 -> b).toMap
    case _ => terms(q).map(_ -> b).toMap
  }

  /** Collect every analyzed text term mentioned by leaf queries (for the
    * broadcast dictionary lookup at plan time). */
  def terms(q: Query): Set[String] = q match {
    case TermQ(t) => Set(t)
    case BoolQ(m, s, n, _) => (m ++ s ++ n).flatMap(terms).toSet
    case PhraseQ(ts, _) => ts.map(_._1).toSet
    case ConstantScoreQ(s, _) => terms(s)
    case BoostQ(s, _) => terms(s)
    case BoostingQ(p, c, _) => terms(p) ++ terms(c)
    case DisMaxQ(ds, _) => ds.flatMap(terms).toSet
    case PayloadTermQ(t, _, _) => Set(t)
    case PayloadNearQ(a, b, _, _, _) => Set(a, b)
    case PayloadSpanNearQ(ts, _, _, _, _) => ts.toSet
    case _ => Set.empty
  }
}
