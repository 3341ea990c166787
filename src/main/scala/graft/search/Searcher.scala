package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.InvertedIndex

/** Query execution: AST → (docid, score) DataFrame plans.
  *
  * The reference's scorer tree (doc-at-a-time merges over sorted docID
  * iterators, /root/reference/src/core/Search/Scorer.cs:41) maps onto
  * joins + hash aggregations on docid (SURVEY.md §2.5):
  *   AND  → groupBy(docid) count-filter        (ConjunctionScorer.cs:25)
  *   OR   → groupBy(docid) sum + minShouldMatch (DisjunctionSumScorer.cs:28)
  *   NOT  → left anti join                      (ReqExclScorer.cs:30)
  *   req+opt → left outer join + coalesce       (ReqOptSumScorer.cs:28)
  * Scoring is a pluggable [[Similarity]] strategy (Similarity.cs:398-503):
  * BM25 by default (coord intentionally dropped, BM25-era Lucene drops it;
  * SURVEY §7.7), the reference's classic TF-IDF with coord via
  * [[ClassicSim]].
  *
  * Determinism: clause scores are summed in sorted clause order via
  * aggregate(sort_array(collect_list(...))) — float addition order is
  * fixed regardless of shuffle layout, so scores are bit-stable run to run
  * (SURVEY §7 hard-part #1).
  */
final class Searcher(idx: InvertedIndex, sim: Similarity = Bm25Sim) {

  /** Per-(term, docid) BM25 partial scores for a set of query terms.
    * df is resolved on the driver by the memoized [[dfOf]] (the
    * TermInfosReader lookup, SURVEY §4.2) and enters the plan through
    * [[dfCol]], so the plan scans postings only: no dictionary scan,
    * aggregate or broadcast. Terms absent from the dictionary have no
    * postings and are left out of the scan. */
  def termScores(terms: Set[String]): DataFrame = {
    val dfs = dfOf(terms)
    idx.postingsForScoring(dfs.keys.toSeq.sorted)
      .select(col("term"), col("docid"),
        sim.score(idx.numDocs, idx.avgdl, dfCol(dfs), col("tf"), col("len"))
          .as("tscore"))
  }

  /** The df of a posting row's `term` as a plan column, for terms whose
    * df the driver already holds: a literal for one term; for term sets
    * a hash-map lookup captured in the task closure — O(1) per posting,
    * where `element_at` over a map literal scans its keys and a
    * broadcast of a local relation costs a job per query. df stays a
    * column so idf is computed in-plan exactly as before. */
  private def dfCol(dfs: Map[String, Long]): Column =
    if (dfs.size <= 1) lit(dfs.values.headOption.getOrElse(0L))
    else Searcher.lookup(dfs, col("term"))

  /** `scored` (which has a `term` column) with one row per posting and
    * clause its term sits in, the clause fields as columns `names`. The
    * clause rows, keyed by term, ride in a hash map captured in the task
    * closure and are exploded per posting: a broadcast join of the same
    * driver-built rows would cost a job per query. */
  private def perClause[C <: Product: scala.reflect.runtime.universe.TypeTag](
      scored: DataFrame, clauses: Seq[(String, C)],
      names: String*): DataFrame = {
    val byTerm = clauses.groupMap(_._1)(_._2)
    scored
      .select(col("*"), explode(Searcher.lookup(byTerm, col("term"))).as("__c"))
      .select(scored.columns.map(col).toSeq ++ names.zipWithIndex.map {
        case (n, i) => col("__c").getField(s"_${i + 1}").as(n)
      }: _*)
  }

  /** The deterministic-fold aggregate shared by every multi-part scorer:
    * collect the group's (ord, score) pairs, sort by ord, left-fold —
    * fixed float addition order regardless of shuffle layout, so scores
    * are bit-stable run to run (SURVEY §7 hard-part #1). */
  private def ordSumAgg: Column =
    aggregate(
      sort_array(collect_list(struct(col("ord"), col("score")))),
      lit(0.0), (acc, x) => acc + x.getField("score"))

  /** Deterministic per-doc sum over clause frames; returns
    * (docid, score, cnt). */
  private def detSum(parts: Seq[DataFrame]): DataFrame = {
    val u = parts.reduce(_ unionByName _)
    u.groupBy(col("docid")).agg(
      ordSumAgg.as("score"), count(lit(1)).as("cnt"))
  }

  private def withOrd(df: DataFrame, ord: String): DataFrame =
    df.select(col("docid"), col("score"), lit(ord).as("ord"))

  /** TermQ, possibly boost-wrapped — the "simple" clause shape the
    * single-scan boolean path handles. */
  private def asSimpleTerm(q: Query): Option[(String, Double)] = q match {
    case TermQ(t) => Some((t, 1.0))
    case BoostQ(sub, b) => asSimpleTerm(sub).map { case (t, b0) => (t, b0 * b) }
    case _ => None
  }

  /** Ordered fold of occur-tagged clause contributions — THE shared
    * scoring algebra of [[groupedBool]] and [[topKBatch]] (one
    * definition so the batch-equals-single contract cannot drift):
    * sum the `tag` entries of a sorted (…, ord, occur, score) struct
    * array in array order. */
  private def occSum(arr: Column, tag: String): Column =
    aggregate(filter(arr, x => x.getField("occur") === tag),
      lit(0.0), (acc, x) => acc + x.getField("score"))

  /** Count of `tag` entries of the same struct array. */
  private def occCnt(arr: Column, tag: String): Column =
    size(filter(arr, x => x.getField("occur") === tag)).cast("long")

  /** One flattened clause-group of a boolean tree: a simple term clause
    * is a trivial group (nMust=1); a pure-term sub-BoolQ keeps its own
    * inner (nMust, nShould, msm) algebra evaluated per doc from the same
    * single scan. */
  private final case class FlatGroup(gid: String, outerOccur: String,
      nMust: Int, nShould: Int, msm: Int)

  /** Flatten a BoolQ whose clauses are all simple terms or PURE-TERM
    * sub-BoolQs into (rows = (term, gid, ord, occur, boost), groups).
    * Ord/gid keys are %04d so lexicographic order == clause order all
    * the way to MaxClauseCount (1024) — the sorted fold's order
    * contract.
    * Deeper nesting returns None (the compositional path then recurses,
    * and each one-level-flattenable subtree still gets a single scan). */
  private def flattenBool(q: BoolQ)
      : Option[(Seq[(String, String, String, String, Double)], Seq[FlatGroup])] = {
    def subRows(q2: BoolQ, gid: String)
        : Option[Seq[(String, String, String, String, Double)]] = {
      val cl =
        q2.must.map(c => (c, "m")) ++ q2.should.map(c => (c, "s")) ++
          q2.mustNot.map(c => (c, "n"))
      require(cl.size <= Searcher.MaxClauseCount,
        s"too many boolean clauses (maxClauseCount=${Searcher.MaxClauseCount})")
      val simple = cl.zipWithIndex.map { case ((c, oc), i) =>
        asSimpleTerm(c).map { case (t, b) => (t, gid, f"$oc$i%04d", oc, b) }
      }
      if (simple.forall(_.isDefined)) Some(simple.map(_.get)) else None
    }
    val outer =
      q.must.map(c => (c, "m")) ++ q.should.map(c => (c, "s")) ++
        q.mustNot.map(c => (c, "n"))
    require(q.must.nonEmpty || q.should.nonEmpty, "empty BooleanQuery")
    require(outer.size <= Searcher.MaxClauseCount,
      s"too many boolean clauses (maxClauseCount=${Searcher.MaxClauseCount})")
    val parts = outer.zipWithIndex.map { case ((c, oc), i) =>
      val gid = f"$oc$i%04d"
      asSimpleTerm(c) match {
        case Some((t, b)) =>
          Some((Seq((t, gid, "m0000", "m", b)), FlatGroup(gid, oc, 1, 0, 0)))
        case None => c match {
          case sub: BoolQ if sub.must.nonEmpty || sub.should.nonEmpty =>
            subRows(sub, gid).map(rs =>
              (rs, FlatGroup(gid, oc, sub.must.size, sub.should.size,
                sub.minShouldMatch)))
          case _ => None
        }
      }
    }
    if (parts.forall(_.isDefined))
      Some((parts.flatMap(_.get._1), parts.map(_.get._2)))
    else None
  }

  /** Single-scan grouped boolean: ONE postings scan for EVERY term leaf
    * of a (possibly one-level-nested) boolean tree — the round-2 plan
    * re-scanned blocks once per nested sub-query. Clause membership is
    * recovered via [[perClause]] (a term in several clauses yields
    * several rows); one hash agg per doc collects the rows
    * sorted by (gid, ord), then per-GROUP inner boolean algebra and the
    * outer algebra are pure column expressions over that array
    * (BooleanScorer2 algebra, BooleanQuery.cs:350-424). Scores sum in
    * (gid, ord) order — deterministic run to run. */
  private def groupedBool(
      rows: Seq[(String, String, String, String, Double)],
      groups: Seq[FlatGroup], outerMsm: Int): DataFrame = {
    val scored = perClause(termScores(rows.map(_._1).toSet),
        rows.map { case (t, g, o, oc, b) => (t, (g, o, oc, b)) },
        "gid", "ord", "occur", "boost")
      .select(col("docid"), col("gid"), col("ord"), col("occur"),
        (col("tscore") * col("boost")).as("score"))
    val allSorted = sort_array(collect_list(
      struct(col("gid"), col("ord"), col("occur"), col("score"))))
    def garr(g: FlatGroup): Column =
      filter(col("all"), x => x.getField("gid") === g.gid)
    def sumOf(a: Column, tag: String): Column = occSum(a, tag)
    def cntOf(a: Column, tag: String): Column = occCnt(a, tag)
    val agg = scored.groupBy(col("docid")).agg(allSorted.as("all"))
    // per-group matched flag + score as derived columns (small, driver-
    // enumerated group list — clause count is capped at MaxClauseCount),
    // all in ONE projection: each withColumn would re-analyze the plan
    val groupCols = groups.flatMap { g =>
      val a = garr(g)
      val inner =
        if (g.nMust > 0) {
          val base = cntOf(a, "m") === g.nMust
          if (g.nShould > 0) base && cntOf(a, "s") >= g.msm else base
        } else cntOf(a, "s") >= math.max(1, g.msm)
      val matched = inner && cntOf(a, "n") === 0L
      val gscore = sim.applyCoord(
        if (g.nMust > 0) sumOf(a, "m") + sumOf(a, "s") else sumOf(a, "s"),
        cntOf(a, "m") + cntOf(a, "s"), g.nMust + g.nShould)
      Seq(matched.as(s"${g.gid}_ok"),
        when(matched, gscore).otherwise(lit(0.0)).as(s"${g.gid}_sc"))
    }
    val withG = agg.select(col("docid") +: groupCols: _*)
    val (mustG, shouldG, notG) = (groups.filter(_.outerOccur == "m"),
      groups.filter(_.outerOccur == "s"), groups.filter(_.outerOccur == "n"))
    def okCnt(gs: Seq[FlatGroup]): Column =
      gs.map(g => when(col(s"${g.gid}_ok"), lit(1)).otherwise(lit(0)))
        .reduceOption(_ + _).getOrElse(lit(0))
    def scSum(gs: Seq[FlatGroup]): Column =
      gs.map(g => col(s"${g.gid}_sc")).reduceOption(_ + _).getOrElse(lit(0.0))
    val minShould = if (mustG.isEmpty) math.max(1, outerMsm) else outerMsm
    val keep = Seq(Some(okCnt(notG) === 0),
      Option.when(mustG.nonEmpty)(okCnt(mustG) === mustG.size),
      Option.when(shouldG.nonEmpty && minShould > 0)(
        okCnt(shouldG) >= minShould))
    withG.filter(keep.flatten.reduce(_ && _)).select(col("docid"),
      sim.applyCoord(scSum(mustG) + scSum(shouldG),
        okCnt(mustG) + okCnt(shouldG), mustG.size + shouldG.size)
        .as("score"))
  }

  /** Evaluate to one row per matching doc: (docid: long, score: double). */
  def score(q: Query): DataFrame = q match {
    case TermQ(t) =>
      termScores(Set(t)).select(col("docid"), col("tscore").as("score"))

    // flattenBool is evaluated ONCE per query: grouped single-scan plan
    // when the clause tree allows, per-clause compositional joins
    // otherwise
    case bq: BoolQ => flattenBool(bq) match {
      case Some((rows, groups)) =>
        groupedBool(rows, groups, bq.minShouldMatch)
      case None =>
      val BoolQ(must, should, mustNot, msm) = bq
      require(must.nonEmpty || should.nonEmpty, "empty BooleanQuery")
      require(must.size + should.size + mustNot.size <= Searcher.MaxClauseCount,
        s"too many boolean clauses (maxClauseCount=${Searcher.MaxClauseCount})")
      val mustD =
        if (must.isEmpty) None
        else Some(detSum(must.zipWithIndex.map { case (c, i) =>
          withOrd(score(c), f"m$i%04d") })
          .filter(col("cnt") === must.size)
          .select(col("docid"), col("score").as("mscore")))
      val shouldD =
        if (should.isEmpty) None
        else Some(detSum(should.zipWithIndex.map { case (c, i) =>
          withOrd(score(c), f"s$i%04d") })
          .select(col("docid"), col("score").as("sscore"),
            col("cnt").as("scnt")))
      val combined = (mustD, shouldD) match {
        case (Some(m), Some(s)) =>
          m.join(s, Seq("docid"), "left")
            .filter(coalesce(col("scnt"), lit(0L)) >= msm)
            .select(col("docid"),
              sim.applyCoord(
                col("mscore") + coalesce(col("sscore"), lit(0.0)),
                lit(must.size.toLong) + coalesce(col("scnt"), lit(0L)),
                must.size + should.size).as("score"))
        case (Some(m), None) =>
          m.select(col("docid"), col("mscore").as("score"))
        case (None, Some(s)) =>
          s.filter(col("scnt") >= math.max(1, msm))
            .select(col("docid"),
              sim.applyCoord(col("sscore"), col("scnt"), should.size)
                .as("score"))
        case _ => sys.error("unreachable")
      }
      if (mustNot.isEmpty) combined
      else {
        val excl = mustNot.map(score(_).select(col("docid")))
          .reduce(_ unionByName _).distinct()
        combined.join(excl, Seq("docid"), "left_anti")
      }
    }

    case p: PhraseQ => phrase(p)

    case PrefixQ(p, rw) =>
      multiTerm(col("term").startsWith(p), rw)

    case RegexQ(pat, rw) =>
      // whole-term match (RegexTermEnum anchors the pattern); a literal
      // pattern prefix becomes a startsWith pre-filter — a range scan on
      // a term-sorted dictionary instead of a full regex scan (the
      // WildcardTermEnum.cs:32 prefix-seek analog)
      val rx = col("term").rlike("^(?:" + pat + ")$")
      val pfx = Searcher.regexLiteralPrefix(pat)
      multiTerm(
        if (pfx.nonEmpty) col("term").startsWith(pfx) && rx else rx, rw)

    case FunctionQ(e) =>
      // ValueSourceQuery: every live doc, score = f(forward columns)
      idx.docs.select(col("docid"), expr(e).cast("double").as("score"))

    case CustomScoreQ(sub, e) =>
      score(sub)
        .join(idx.docs.select(col("docid"),
          expr(e).cast("double").as("__cs")), Seq("docid"))
        .select(col("docid"), (col("score") * col("__cs")).as("score"))

    case PayloadTermQ(t, fn, includeSpan) =>
      // PayloadTermQuery.cs:26-40 — one payload-materializing postings
      // scan; payloads reduce per doc IN STORED (position) ORDER, so the
      // float fold is deterministic
      val payD = col("payloads").cast("array<double>")
      val payScore = fn match {
        case PayAvg =>
          aggregate(payD, lit(0.0), (a, x) => a + x) /
            size(col("payloads")).cast("double")
        case PayMin => array_min(payD)
        case PayMax => array_max(payD)
      }
      val base =
        if (includeSpan)
          sim.score(idx.numDocs, idx.avgdl, dfCol(dfOf(Set(t))), col("tf"),
            col("len"))
        else lit(1.0)
      idx.postingsForPay(Seq(t))
        .select(col("docid"), (base * payScore).as("score"))

    case PayloadNearQ(a, b, slop, fn, includeSpan) =>
      // PayloadNearQuery.cs:52 — ordered 2-term span-near (SpanNearQ
      // min-gap semantics), payloads of BOTH span ends collected per
      // matched span in posA order (deterministic fold)
      val dfs = dfOf(Set(a, b))
      val sumIdf = Seq(a, b)
        .map(t => sim.idf(idx.numDocs, dfs.getOrElse(t, 0L))).sum
      val pa = idx.postingsForPay(Seq(a))
        .select(col("docid"), col("positions").as("posA"),
          col("payloads").as("payA"), col("len"))
      val pb = idx.postingsForPay(Seq(b))
        .select(col("docid"), col("positions").as("posB"),
          col("payloads").as("payB"))
      val mapB = map_from_arrays(col("posB"), col("payB"))
      def qual(p: Column): Column =
        filter(col("posB"), q => q > p && (q - p - 1) <= slop)
      val spans = filter(
        zip_with(col("posA"), col("payA"), (p, w) =>
          struct(p.as("p"), array_min(qual(p)).as("q"), w.as("w"))),
        s => s.getField("q").isNotNull)
      val tfp = aggregate(col("spans"), lit(0.0), (acc, s) =>
        acc + lit(1.0) /
          (s.getField("q") - s.getField("p")).cast("double"))
      val pays = flatten(transform(col("spans"), s =>
        array(s.getField("w").cast("double"),
          element_at(mapB, s.getField("q")).cast("double"))))
      val payScore = fn match {
        case PayAvg =>
          aggregate(col("pays"), lit(0.0), (acc, x) => acc + x) /
            size(col("pays")).cast("double")
        case PayMin => array_min(col("pays"))
        case PayMax => array_max(col("pays"))
      }
      val base =
        if (includeSpan)
          lit(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl)
        else lit(1.0)
      pa.join(pb, Seq("docid"))
        .withColumn("spans", spans)
        .withColumn("tfp", tfp)
        .withColumn("pays", pays)
        .filter(col("tfp") > 0)
        .select(col("docid"), (base * payScore).as("score"))

    case PayloadSpanNearQ(ts, slop, fn, includeSpan, inOrder) =>
      require(ts.size >= 2, "payload span-near needs >= 2 clauses")
      val n = ts.size
      val dfs = dfOf(ts.toSet)
      if (!ts.forall(dfs.contains))
        return idx.docs.select(col("docid"), lit(1.0).as("score"))
          .filter(lit(false))
      val sumIdf = ts.map(t => sim.idf(idx.numDocs, dfs(t))).sum
      // one payload-postings frame per clause (duplicate terms get their
      // own aliased columns); the first carries len
      val joined = ts.zipWithIndex.map { case (t, i) =>
        val base = idx.postingsForPay(Seq(t))
          .select(col("docid"), col("positions").as(s"pos$i"),
            col("payloads").as(s"pay$i"), col("len"))
        if (i == 0) base else base.drop("len")
      }.reduce((a, b) => a.join(b, Seq("docid")))
      // ordered: min-chain per first-clause occurrence, struct(ok, last,
      // ms); unordered: every qualifying combination's envelope,
      // struct(lo, hi, ms) — in both, `ms` holds one member position per
      // clause in clause order and (hi|last) − (lo|ms[1]) is the width
      val chains =
        if (inOrder) {
          // TOTAL-gap constraint across the chain (NearSpansOrdered
          // semantics — the struct's g accumulates Σ gaps); greedy min
          // next-occurrence stays exact: the smallest qualifying
          // position minimizes both this gap and every later one
          val chained = (1 until n).foldLeft(
            transform(col("pos0"), p =>
              struct(lit(true).as("ok"), p.as("lo"), p.as("hi"),
                array(p).as("ms"), lit(0).as("g")))) {
            (acc, k) =>
              transform(acc, c => {
                val q = array_min(filter(col(s"pos$k"), x =>
                  x > c.getField("hi") &&
                    c.getField("g") + (x - c.getField("hi") - 1) <= slop))
                struct((c.getField("ok") && q.isNotNull).as("ok"),
                  c.getField("lo").as("lo"),
                  coalesce(q, lit(Int.MaxValue)).as("hi"),
                  when(q.isNotNull,
                    concat(c.getField("ms"), array(q)))
                    .otherwise(c.getField("ms")).as("ms"),
                  when(q.isNotNull,
                    c.getField("g") + q - c.getField("hi") - 1)
                    .otherwise(c.getField("g")).as("g"))
              })
          }
          filter(chained, c => c.getField("ok"))
        } else {
          val combined = (1 until n).foldLeft(
            transform(col("pos0"), p =>
              struct(lit(true).as("ok"), p.as("lo"), p.as("hi"),
                array(p).as("ms")))) {
            (acc, k) =>
              flatten(transform(acc, c =>
                transform(col(s"pos$k"), x => struct(
                  lit(true).as("ok"),
                  least(c.getField("lo"), x).as("lo"),
                  greatest(c.getField("hi"), x).as("hi"),
                  concat(c.getField("ms"), array(x)).as("ms")))))
          }
          filter(combined, c =>
            c.getField("hi") - c.getField("lo") + lit(1) - lit(n) <= slop)
        }
      // sloppy freq per chain/combination over total width (for ordered
      // N=2: 1/(q-p), the PayloadNearQ formula). The distance is clamped
      // at 0: duplicate query terms let an unordered combination reuse
      // one occurrence for two clauses, making envelope − (n−1) negative
      // — unclamped that is a zero/negative denominator (Infinity or
      // negative scores). Ordered chains are strictly increasing and
      // never need the clamp.
      val tfp = aggregate(chains, lit(0.0), (acc, c) =>
        acc + lit(1.0) / (lit(1.0) +
          greatest(lit(0.0), (c.getField("hi") - c.getField("lo") -
            lit(n - 1)).cast("double"))))
      // payloads of every chain member, via per-clause pos→pay maps
      val pays = flatten(transform(chains, c =>
        array((0 until n).map { k =>
          element_at(map_from_arrays(col(s"pos$k"), col(s"pay$k")),
            element_at(c.getField("ms"), k + 1)).cast("double")
        }: _*)))
      val payScore = fn match {
        case PayAvg =>
          aggregate(col("pays"), lit(0.0), (acc, x) => acc + x) /
            size(col("pays")).cast("double")
        case PayMin => array_min(col("pays"))
        case PayMax => array_max(col("pays"))
      }
      val base =
        if (includeSpan)
          lit(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl)
        else lit(1.0)
      joined
        .withColumn("tfp", tfp)
        .withColumn("pays", pays)
        .filter(col("tfp") > 0)
        .select(col("docid"), (base * payScore).as("score"))

    case WildcardQ(pat, rw) =>
      // constant-prefix pushdown (WildcardTermEnum.cs:32: the enum seeks
      // to the literal prefix before matching): `spark*`-style patterns
      // become a dictionary RANGE predicate + residual regex, not a full
      // dictionary regex scan
      val rx = col("term").rlike(Searcher.globToRegex(pat))
      val pfx = pat.takeWhile(c => c != '*' && c != '?')
      multiTerm(
        if (pfx.nonEmpty) col("term").startsWith(pfx) && rx else rx, rw)

    case TermRangeQ(lo, hi, il, ih, rw, coll) =>
      // collated variant (TermRangeQuery.cs:96): the dictionary compare
      // runs under the ICU locale collation — native in Spark 4
      // (collate() stays inside codegen), so the range is still a
      // dictionary-scan predicate, never a driver loop
      val t = coll.map(c => collate(col("term"), c)).getOrElse(col("term"))
      val conds = Seq(
        lo.map(v => if (il) t >= v else t > v),
        hi.map(v => if (ih) t <= v else t < v)).flatten
      multiTerm(conds.reduceOption(_ && _).getOrElse(lit(true)), rw)

    case FuzzyQ(t, maxEdits) =>
      // scoring-boolean rewrite with similarity boost (FuzzyTermEnum):
      // boost = 1 - dist / min(|candidate|, |query|). Candidate
      // generation uses the pigeonhole filter (Navarro's partition
      // lemma): split the query into maxEdits+1 contiguous pieces — any
      // term within maxEdits edits contains >=1 piece EXACTLY, so the
      // pre-filter has guaranteed recall and the expensive levenshtein
      // DP runs once per surviving candidate, not per dictionary term.
      // Results are therefore identical to a full scan. When the index
      // carries a persisted trigram table (SpellChecker.cs:60 shape) and
      // every piece is >= 3 chars, candidates come from a BOUNDED
      // gram-range scan of that table (a contained piece implies its
      // first trigram is shared) instead of a full-dictionary contains()
      // scan — the 10^9-term path.
      // boost <= 0 (dist >= min length) means "not similar at all": the
      // reference's FuzzyTermEnum never yields such terms (its
      // similarity threshold is positive), so they are EXCLUDED, not
      // scored negatively
      val cand = fuzzyCandidates(t, maxEdits)
        .withColumn("dist", levenshtein(col("term"), lit(t)))
        .filter(col("dist") <= maxEdits)
        .withColumn("boost", lit(1.0) - col("dist").cast("double") /
          least(length(col("term")), lit(t.length)).cast("double"))
        .filter(col("boost") > 0)
        .select(col("term"), col("df"), col("boost"))
      val scored = idx.postingsForTermSetScoring(cand.select("term"))
        .join(broadcast(cand), Seq("term"))
        .select(col("docid"), col("term").as("ord"),
          (sim.score(idx.numDocs, idx.avgdl, col("df"), col("tf"),
            col("len")) * col("boost")).as("score"))
      scored.groupBy(col("docid")).agg(ordSumAgg.as("score"))

    case FuzzyLikeThisQ(text, maxEdits, maxNumTerms) =>
      // FuzzyLikeThisQuery.cs:190-318. Per analyzed source term:
      // candidates within maxEdits (bounded trigram/pigeonhole scan, as
      // FuzzyQ), similarity = 1 - dist/min-length; the source term's df
      // (or, when absent from the dictionary, the INTEGER average of the
      // variants' dfs — FuzzyLikeThisQuery.cs:236-240) feeds ONE shared
      // idf, so vscore = sim² × idf(df_eff). Top 50 variants per source
      // term, then the globally best maxNumTerms across all terms, each
      // scoring docs as vscore × tf-norm — the variant's own idf is
      // deliberately NOT applied (the reference's FuzzyTermQuery forces
      // idf=1 because the source idf already sits in the boost).
      val srcTerms =
        graft.analysis.Analyzer.analyzeQuery(text).distinct
      // stopword-only / empty text matches nothing (the MatchNoneQ
      // convention the parser uses for the same input)
      if (srcTerms.isEmpty)
        return idx.docs.select(col("docid"), lit(1.0).as("score"))
          .filter(lit(false))
      require(srcTerms.size <= Searcher.MaxClauseCount,
        s"too many fuzzified terms (maxClauseCount=${Searcher.MaxClauseCount})")
      // sim <= 0 variants are excluded (not scored): squaring would
      // otherwise turn "maximally dissimilar" into "exact match" — and
      // the reference's enum never yields sub-threshold terms
      val cand = srcTerms
        .map(t => fuzzyCandidates(t, maxEdits).withColumn("src", lit(t)))
        .reduce(_ unionByName _)
        .withColumn("dist", levenshtein(col("term"), col("src")))
        .filter(col("dist") <= maxEdits)
        .withColumn("sim", lit(1.0) - col("dist").cast("double") /
          least(length(col("term")), length(col("src"))).cast("double"))
        .filter(col("sim") > 0)
      // the candidate set is small (bounded per-term scans), so the
      // per-source-term windows shuffle a tiny table, never postings
      val bySrc = Window.partitionBy("src")
      val sel = cand
        .withColumn("src_df",
          max(when(col("term") === col("src"), col("df"))).over(bySrc))
        .withColumn("df_eff", coalesce(col("src_df"),
          floor(sum(col("df")).over(bySrc).cast("double") /
            count(lit(1)).over(bySrc)).cast("long")))
        .withColumn("vscore", col("sim") * col("sim") *
          sim.idfCol(idx.numDocs, col("df_eff")))
        .withColumn("vrank", row_number().over(Window.partitionBy("src")
          .orderBy(col("sim").desc, col("term").asc)))
        .filter(col("vrank") <= Searcher.MaxVariantsPerTerm)
        .orderBy(col("vscore").desc, col("term").asc, col("src").asc)
        .limit(maxNumTerms)
        .select(col("term"), col("src"), col("vscore"))
      // the selection is <= maxNumTerms rows: collect it (the reference
      // rewrite materializes the chosen variants the same way) so the
      // final postings scan gets LITERAL term predicates — parquet
      // pushdown + block pruning — instead of a join-filtered full
      // block-table read. Per-(src, term) rows are kept (a term chosen
      // for two source terms contributes twice, like the reference's
      // separate FuzzyTermQuery instances) and the fold order (ord =
      // src|term) is unchanged.
      val selRows = sel.collect()
        .map(r => (r.getString(1), r.getString(0), r.getDouble(2)))
      if (selRows.isEmpty)
        idx.docs.select(col("docid"), lit(1.0).as("score"))
          .filter(lit(false))
      else {
        val spark = idx.docs.sparkSession
        import spark.implicits._
        val selDf = selRows.toSeq.toDF("src", "term", "vscore")
        idx.postingsForScoring(selRows.map(_._2).distinct.toSeq)
          .join(broadcast(selDf), Seq("term"))
          .select(col("docid"),
            concat(col("src"), lit("|"), col("term")).as("ord"),
            (col("vscore") *
              sim.tfNorm(col("tf"), col("len"), idx.avgdl)).as("score"))
          .groupBy(col("docid")).agg(ordSumAgg.as("score"))
      }

    case MatchAllQ =>
      idx.docs.select(col("docid"), lit(1.0).as("score"))

    case MatchNoneQ =>
      idx.docs.select(col("docid"), lit(1.0).as("score")).filter(lit(false))

    case KeywordQ(field, value) =>
      idx.docs.filter(col(field) === value)
        .select(col("docid"), lit(1.0).as("score"))

    case RangeQ(field, lo, hi) =>
      val conds = Seq(lo.map(v => col(field) >= expr(v)),
        hi.map(v => col(field) < expr(v))).flatten
      idx.docs.filter(conds.reduceOption(_ && _).getOrElse(lit(true)))
        .select(col("docid"), lit(1.0).as("score"))

    case DateRangeQ(field, lo, hi, res, il, ih) =>
      // the parser's GetRangeQuery date path (QueryParser.cs:749):
      // compare the DateTools-encoded key. The filter is on a
      // date_format() expression, which Parquet statistics cannot see,
      // so it is NOT pushed to the scan and prunes nothing: every docs
      // row is read. The key is monotone in the timestamp, so exact
      // native `ts` bounds could be derived on the driver and pushed
      // down instead (ROADMAP direction 2)
      val key = graft.model.DateTools.dateToString(col(field), res)
      val conds = Seq(
        lo.map(v => if (il) key >= v else key > v),
        hi.map(v => if (ih) key <= v else key < v)).flatten
      idx.docs.filter(conds.reduceOption(_ && _).getOrElse(lit(true)))
        .select(col("docid"), lit(1.0).as("score"))

    case ConstantScoreQ(sub, s) =>
      score(sub).select(col("docid"), lit(s).as("score"))

    case BoostQ(sub, b) =>
      score(sub).select(col("docid"), (col("score") * b).as("score"))

    case BoostingQ(pos, ctx, demote) =>
      // match set = positive's; context only demotes (soft NOT) — a
      // left join against the context docid set, never an anti join
      score(pos).join(
          score(ctx).select(col("docid")).distinct()
            .withColumn("__ctx", lit(true)),
          Seq("docid"), "left")
        .select(col("docid"),
          when(col("__ctx").isNotNull, col("score") * demote)
            .otherwise(col("score")).as("score"))

    case SpanFirstQ(t, end) =>
      val idf = sim.idf(idx.numDocs, dfOf(Set(t)).getOrElse(t, 0L))
      idx.postingsFor(Seq(t))
        .withColumn("tfp",
          size(filter(col("positions"), p => p < end)).cast("double"))
        .filter(col("tfp") > 0)
        .select(col("docid"),
          (lit(idf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
            .as("score"))

    case SpanNearQ(a, b, slop, inOrder) =>
      val dfs = dfOf(Set(a, b))
      val sumIdf = Seq(a, b)
        .map(t => sim.idf(idx.numDocs, dfs.getOrElse(t, 0L))).sum
      val pa = idx.postingsFor(Seq(a))
        .select(col("docid"), col("positions").as("posA"), col("len"))
      val pb = idx.postingsFor(Seq(b))
        .select(col("docid"), col("positions").as("posB"))
      // per occurrence of a: min gap to a qualifying b; Σ 1/(1+gap)
      val gaps: Column => Column = p =>
        if (inOrder)
          transform(
            filter(col("posB"), q => q > p && (q - p - 1) <= slop),
            q => q - p - 1)
        else
          transform(
            filter(col("posB"),
              q => q =!= p && (abs(q - p) - 1) <= slop),
            q => abs(q - p) - 1)
      val tfp = aggregate(col("posA"), lit(0.0), (acc, p) =>
        acc + coalesce(
          lit(1.0) / (array_min(gaps(p)).cast("double") + lit(1.0)),
          lit(0.0)))
      pa.join(pb, Seq("docid"))
        .withColumn("tfp", tfp)
        .filter(col("tfp") > 0)
        .select(col("docid"),
          (lit(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
            .as("score"))

    case SpanNotQ(a, b, slop, exc) =>
      val dfs = dfOf(Set(a, b))
      val sumIdf = Seq(a, b)
        .map(t => sim.idf(idx.numDocs, dfs.getOrElse(t, 0L))).sum
      val pa = idx.postingsFor(Seq(a))
        .select(col("docid"), col("positions").as("posA"), col("len"))
      val pb = idx.postingsFor(Seq(b))
        .select(col("docid"), col("positions").as("posB"))
      val pe = idx.postingsFor(Seq(exc))
        .select(col("docid"), col("positions").as("posE"))
      // qualifying b after p: ordered, gap<=slop, and no exclude
      // occurrence inside the [p, q] span
      val gaps: Column => Column = p =>
        transform(
          filter(col("posB"), q => q > p && (q - p - 1) <= slop &&
            !coalesce(exists(col("posE"), e => e >= p && e <= q),
              lit(false))),
          q => q - p - 1)
      val tfp = aggregate(col("posA"), lit(0.0), (acc, p) =>
        acc + coalesce(
          lit(1.0) / (array_min(gaps(p)).cast("double") + lit(1.0)),
          lit(0.0)))
      pa.join(pb, Seq("docid"))
        .join(pe, Seq("docid"), "left")
        .withColumn("tfp", tfp)
        .filter(col("tfp") > 0)
        .select(col("docid"),
          (lit(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
            .as("score"))

    case SpanOrQ(ts) =>
      val dfs = dfOf(ts.toSet)
      val sumIdf = ts.distinct
        .map(t => sim.idf(idx.numDocs, dfs.getOrElse(t, 0L))).sum
      idx.postingsFor(ts)
        .groupBy(col("docid"))
        .agg(sum(col("tf")).cast("double").as("tfp"),
          max(col("len")).as("len"))
        .select(col("docid"),
          (lit(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
            .as("score"))

    case SpanQ(sp) => spanQuery(sp)

    case mp: MultiPhraseQ => multiPhrase(mp)

    case MoreLikeThisQ(src, topN) => moreLikeThis(src, topN)

    case DisMaxQ(ds, tie) if ds.forall(asSimpleTerm(_).isDefined) =>
      // single-scan variant of the general case below (one postings scan
      // for all disjuncts, same deterministic ord-sorted sum)
      val cl = ds.zipWithIndex.map { case (c, i) =>
        val (t, b) = asSimpleTerm(c).get; (t, (f"d$i%04d", b)) }
      val rows = perClause(termScores(cl.map(_._1).toSet), cl, "ord", "boost")
        .select(col("docid"), col("ord"),
          (col("tscore") * col("boost")).as("score"))
      rows.groupBy(col("docid")).agg(
        max(col("score")).as("mx"), ordSumAgg.as("sm"))
        .select(col("docid"),
          (col("mx") + lit(tie) * (col("sm") - col("mx"))).as("score"))

    case DisMaxQ(ds, tie) =>
      val u = ds.zipWithIndex.map { case (c, i) => withOrd(score(c), f"d$i%04d") }
        .reduce(_ unionByName _)
      u.groupBy(col("docid")).agg(
        max(col("score")).as("mx"), ordSumAgg.as("sm"))
        .select(col("docid"),
          (col("mx") + lit(tie) * (col("sm") - col("mx"))).as("score"))
  }

  /** Multi-term rewrite dispatch (MultiTermQuery.cs:58-200). The auto
    * heuristic enumerates the matched dictionary terms at PLAN time, as
    * the reference's term enum walk does at rewrite time: one bounded
    * collect decides scoring vs constant and, when scoring, is also the
    * literal term set of the postings scan. */
  private def multiTerm(dictPred: Column, rw: MultiTermRewrite): DataFrame =
    rw match {
      case ConstantScore => constantOverTerms(dictPred)
      case ScoringBoolean => scoredOverTerms(dictMatches(dictPred, None).get)
      case AutoRewrite =>
        dictMatches(dictPred, Some(Searcher.AutoRewriteTermCap)) match {
          case Some(terms) => scoredOverTerms(terms)
          case None => constantOverTerms(dictPred)
        }
    }

  /** Every dictionary term matching `pred`, with its df memoized for
    * [[dfOf]]; None once more than `cap` distinct terms match. One
    * single-stage scan of the per-segment dictionaries, summed on the
    * driver; each partition stops reading once it alone has shown more
    * than `cap` distinct terms, so at most (cap + 1) × segments rows per
    * partition reach the driver. */
  private def dictMatches(pred: Column, cap: Option[Int]): Option[Set[String]] = {
    val spark = idx.docs.sparkSession
    import spark.implicits._
    val rows = idx.dictRows.filter(pred).select(col("term"), col("df"))
      .as[(String, Long)]
    val got = Searcher.sumDf(cap match {
      case Some(c) =>
        rows.mapPartitions { it =>
          val seen = scala.collection.mutable.HashSet.empty[String]
          it.takeWhile { case (t, _) =>
            val more = seen.size <= c
            if (more) seen += t
            more
          }
        }.collect()
      case None => rows.collect()
    })
    if (cap.exists(got.size > _)) None
    else {
      got.foreach { case (t, df) => dfMemo.put(t, Some(df)) }
      Some(got.keySet)
    }
  }

  /** Fuzzy candidate (term, df) set for one query term — the pigeonhole
    * filter (Navarro's partition lemma) with the persisted-trigram
    * bounded-scan fast path; shared by FuzzyQ and FuzzyLikeThisQ. The
    * candidate set is a SUPERSET of the true dist<=maxEdits matches (the
    * caller applies the exact levenshtein filter), with guaranteed
    * recall. */
  private def fuzzyCandidates(t: String, maxEdits: Int): DataFrame = {
    val pieces = Searcher.pigeonPieces(t, maxEdits)
    idx.trigrams match {
      case Some(tg) if pieces.forall(_.length >= 3) =>
        val grams = pieces.map(_.substring(0, 3)).distinct
        tg.filter(col("gram").isin(grams: _*))
          .select(col("term"), col("df")).distinct()
      case _ =>
        idx.termDict
          .filter(pieces.map(p => col("term").contains(p)).reduce(_ || _))
          .select(col("term"), col("df"))
    }
  }

  /** Constant-score multi-term rewrite (MultiTermQuery.cs:84-114): match
    * the dictionary predicate, semi-join into postings, dedup docs. */
  private def constantOverTerms(dictPred: Column): DataFrame =
    idx.postingsWhereTermScoring(dictPred)
      .select(col("docid")).distinct()
      .select(col("docid"), lit(1.0).as("score"))

  /** Scoring-boolean multi-term rewrite (MultiTermQuery.cs:117-151)
    * over the expanded term set: every term is BM25-scored; per-doc sum
    * in sorted term order (deterministic float fold, same as FuzzyQ). */
  private def scoredOverTerms(terms: Set[String]): DataFrame =
    termScores(terms)
      .select(col("docid"), col("term").as("ord"), col("tscore").as("score"))
      .groupBy(col("docid")).agg(ordSumAgg.as("score"))

  /** Phrase scoring. Exact (slop=0): n-way docid join of the term posting
    * rows, then count aligned start positions with array expressions
    * (positions stay packed — no row explosion). tf_phrase feeds the BM25
    * tf slot with the SUMMED idf of all phrase terms (PhraseWeight
    * semantics, PhraseQuery.cs:35). Sloppy (slop>0, 2 terms): freq =
    * sum over driving positions of 1/(minDist+1) (DefaultSimilarity
    * SloppyFreq, DefaultSimilarity.cs:69; greedy-repeat handling of the
    * reference is intentionally simplified — documented deviation). */
  private def phrase(p: PhraseQ): DataFrame = {
    require(p.terms.nonEmpty, "empty phrase")
    val dfs = dfOf(p.terms.map(_._1).toSet)
    // a term absent from the dictionary makes the n-way join empty anyway;
    // its idf contribution uses df=0 (irrelevant — no rows survive)
    val sumIdf = p.terms
      .map { case (t, _) => sim.idf(idx.numDocs, dfs.getOrElse(t, 0L)) }.sum

    val slots = p.terms.zipWithIndex.map { case ((t, _), i) =>
      val base = idx.postingsFor(Seq(t))
      if (i == 0)
        base.select(col("docid"), col("positions").as(s"pos$i"), col("len"))
      else base.select(col("docid"), col("positions").as(s"pos$i"))
    }
    val joined = slots.reduce((a, b) => a.join(b, Seq("docid")))
    val off0 = p.terms.head._2

    val tfp: Column =
      if (p.slop == 0) {
        // count p in pos0 s.t. every slot k has (p + offk - off0) in posk
        val pred: Column => Column = pp =>
          p.terms.zipWithIndex.tail.map { case ((_, offk), k) =>
            array_contains(col(s"pos$k"), pp + lit(offk - off0))
          }.reduceOption(_ && _).getOrElse(lit(true))
        size(filter(col("pos0"), pred)).cast("double")
      } else {
        // N-term sloppy (generalizes the reference's 2-term common case;
        // repeated terms allowed — each slot matches independently
        // against its term's positions, a documented simplification of
        // SloppyPhraseScorer.cs:26-120 repeat handling): per driving
        // position of slot 0, each other slot contributes its minimal
        // |displacement| (candidates pre-filtered to <= slop); the doc
        // accrues 1/(totalDist+1) when every slot has a candidate and
        // the summed displacement stays within slop.
        val total: Column => Column = pp =>
          p.terms.zipWithIndex.tail.map { case ((_, offk), k) =>
            val gap = offk - off0
            array_min(transform(
              filter(col(s"pos$k"), j => abs(j - pp - lit(gap)) <= p.slop),
              j => abs(j - pp - lit(gap)))).cast("double")
          }.reduce(_ + _)
        aggregate(col("pos0"), lit(0.0), (acc, pp) =>
          acc + coalesce(
            when(total(pp) <= p.slop, lit(1.0) / (total(pp) + lit(1.0))),
            lit(0.0)))
      }

    joined
      .withColumn("tfp", tfp)
      .filter(col("tfp") > 0)
      .select(col("docid"),
        (lit(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
          .as("score"))
  }

  /** General span-algebra evaluation (SpanQ): per doc, every sub-span
    * evaluates to a packed array of [s, e] intervals built with array
    * expressions over the joined position columns — no row explosion,
    * nesting is plain expression composition. Spans are deduped, sorted,
    * and reduced greedily (per start keep the min end — the "driving
    * position" rule of the flat span family); freq = Σ 1/(1 + totalGap)
    * where totalGap = e - s - (#leaf positions - 1). */
  /** SpanRegexQuery.cs:33 rewrite: each regex leaf becomes the SOr of
    * the dictionary terms matching the anchored pattern (literal-prefix
    * pushdown bounds the dictionary scan, maxClauseCount bounds the
    * expansion — the reference's BooleanQuery.maxClauseCount guard on
    * multi-term rewrites applies to the span form too). */
  private def expandSpanRegexes(s: Span): Span = s match {
    case SRegex(p) =>
      val rx = col("term").rlike("^(?:" + p + ")$")
      val pfx = Searcher.regexLiteralPrefix(p)
      val pred = if (pfx.nonEmpty) col("term").startsWith(pfx) && rx else rx
      val ts = dictMatches(pred, Some(Searcher.MaxClauseCount))
      require(ts.isDefined,
        s"span regex '$p' expands past maxClauseCount=${Searcher.MaxClauseCount}")
      SOr(ts.get.toSeq.sorted.map(STerm))
    case SNear(cs, sl, io) => SNear(cs.map(expandSpanRegexes), sl, io)
    case SFirst(sub, e) => SFirst(expandSpanRegexes(sub), e)
    case SNot(i, e) => SNot(expandSpanRegexes(i), expandSpanRegexes(e))
    case SOr(cs) => SOr(cs.map(expandSpanRegexes))
    case leaf => leaf
  }

  private def spanQuery(sp0: Span): DataFrame = {
    import Spans.{MaskLeaf, SLeaf, TermLeaf}
    val sp = expandSpanRegexes(sp0)
    val req = Spans.requiredLeaves(sp)
    // term leaves first: the head leaf's posting rows carry `len` for
    // tfNorm without a docLens join (masks have no len column)
    val reqD = req.distinct.sortBy { case TermLeaf(_) => 0; case _ => 1 }
    val excl = (Spans.leaves(sp).distinct.toSet -- reqD.toSet).toSeq
      .sortBy(_.toString)
    val reqTerms = Spans.termsOf(reqD)
    // scoring terms ⊇ required terms: SOr branch terms carry idf too
    // (SpanWeight sums idf over every scoring-side leaf); absent
    // OPTIONAL terms just contribute nothing
    val scoringTs = Spans.scoringTerms(sp).distinct
    val dfs = dfOf((reqTerms ++ scoringTs).toSet)
    if (!reqTerms.forall(dfs.contains))
      return idx.docs.select(col("docid"), lit(1.0).as("score"))
        .filter(lit(false))
    // masked keyword leaves contribute no idf (keyword semantics)
    val sumIdf = scoringTs.filter(dfs.contains)
      .map(t => sim.idf(idx.numDocs, dfs(t))).sum

    // one position column per distinct leaf; required leaves inner-join,
    // exclude-only leaves left-join (missing -> empty array)
    val colOf: Map[SLeaf, String] =
      (reqD ++ excl).zipWithIndex.map { case (l, i) => l -> s"pos$i" }.toMap
    def sourceOf(l: SLeaf): DataFrame = l match {
      case TermLeaf(t) => idx.postingsFor(Seq(t))
        .select(col("docid"), col("positions").as(colOf(l)), col("len"))
      case MaskLeaf(f, v) => idx.docs.filter(col(f) === v)
        .select(col("docid"),
          array(lit(0)).cast("array<int>").as(colOf(l)))
    }
    // no required leaf at all (a pure SOr tree) = a disjunction: every
    // live doc is a candidate (tfp > 0 prunes), like BoolQ(should)
    val based =
      if (reqD.isEmpty) idx.docLens
      else {
        val base = reqD.zipWithIndex.map { case (l, i) =>
          val src = sourceOf(l)
          if (i == 0) src else src.drop("len")
        }.reduce((a, b) => a.join(b, Seq("docid")))
        // an all-mask required set has no len column: fall back to docLens
        if (reqD.headOption.exists(_.isInstanceOf[TermLeaf])) base
        else base.join(idx.docLens, Seq("docid"))
      }
    val joined = excl.foldLeft(based) { (acc, l) =>
      acc.join(sourceOf(l).drop("len"), Seq("docid"), "left")
        .withColumn(colOf(l),
          coalesce(col(colOf(l)), array().cast("array<int>")))
    }

    // ordered chaining with TOTAL-gap semantics (NearSpansOrdered.cs:47
    // shrinkToAfterShortestMatch: matchLength = Σ inter-clause gaps ≤
    // slop, not each gap separately): the accumulator carries the gap
    // sum so far, which also prunes dead chains early. For 2 clauses
    // this is identical to the per-gap rule.
    def chainG(a: Column, b: Column, slop: Int): Column =
      flatten(transform(a, x =>
        transform(
          filter(b, y => y.getField("s") > x.getField("e") &&
            x.getField("g") + y.getField("s") - x.getField("e") - 1 <= slop),
          y => struct(x.getField("s").as("s"), y.getField("e").as("e"),
            (x.getField("g") + y.getField("s") - x.getField("e") - 1)
              .as("g")))))
    def withG(a: Column): Column =
      transform(a, x => struct(x.getField("s").as("s"),
        x.getField("e").as("e"), lit(0).as("g")))
    def dropG(a: Column): Column =
      array_distinct(transform(a, x =>
        struct(x.getField("s").as("s"), x.getField("e").as("e"))))

    def spansOf(s: Span): Column = s match {
      case STerm(t) =>
        transform(col(colOf(TermLeaf(t))), p => struct(p.as("s"), p.as("e")))
      case SMask(f, v) =>
        transform(col(colOf(MaskLeaf(f, v))), p => struct(p.as("s"), p.as("e")))
      case SOr(cs) =>
        // nestable SpanOrQuery: union of clause span sets
        cs.map(spansOf).reduceOption((a, b) => array_distinct(concat(a, b)))
          .getOrElse(array().cast("array<struct<s:int,e:int>>"))
      case SRegex(p) =>
        sys.error(s"unexpanded span regex '$p'") // rewritten at entry
      case SNear(cs, slop, true) =>
        dropG(cs.tail.foldLeft(withG(spansOf(cs.head))) {
          (acc, c) => chainG(acc, spansOf(c), slop)
        })
      case SNear(Seq(a, b), slop, false) =>
        array_distinct(concat(
          dropG(chainG(withG(spansOf(a)), spansOf(b), slop)),
          dropG(chainG(withG(spansOf(b)), spansOf(a), slop))))
      case SNear(cs, slop, false) =>
        // NearSpansUnordered.cs:32 envelope semantics for N>=3: one span
        // per clause in any order (overlap allowed — the reference's
        // documented quirk), envelope [min s, max e], match iff
        // envelopeWidth - Σ clauseWidths <= slop. Combination product
        // over per-clause span arrays — per-doc occurrence counts are
        // small (position arrays), never a row explosion.
        val init = transform(spansOf(cs.head), x =>
          struct(x.getField("s").as("s"), x.getField("e").as("e"),
            (x.getField("e") - x.getField("s") + lit(1)).as("cov")))
        val combined = cs.tail.foldLeft(init) { (acc, c) =>
          flatten(transform(acc, a => transform(spansOf(c), y =>
            struct(least(a.getField("s"), y.getField("s")).as("s"),
              greatest(a.getField("e"), y.getField("e")).as("e"),
              (a.getField("cov") + y.getField("e") - y.getField("s") +
                lit(1)).as("cov")))))
        }
        array_distinct(transform(
          filter(combined, z =>
            z.getField("e") - z.getField("s") + lit(1) - z.getField("cov")
              <= slop),
          z => struct(z.getField("s").as("s"), z.getField("e").as("e"))))
      case SFirst(sub, end) =>
        filter(spansOf(sub), x => x.getField("e") < end)
      case SNot(inc, exc) =>
        filter(spansOf(inc), a =>
          !exists(spansOf(exc), b =>
            b.getField("s") <= a.getField("e") &&
              b.getField("e") >= a.getField("s")))
    }

    val minW = req.size - 1
    val spans = sort_array(array_distinct(spansOf(sp)))
    // width − minW clamped at 0: minW counts DUPLICATE leaves too, and
    // an unordered combination may cover duplicate clauses with one
    // occurrence, driving the raw distance negative (zero/negative
    // sloppy-freq denominator → Infinity / negative scores)
    val tfp = aggregate(spans,
      struct(lit(-1).as("ls"), lit(0.0).as("acc")),
      (st, x) => when(x.getField("s") === st.getField("ls"), st)
        .otherwise(struct(x.getField("s").as("ls"),
          (st.getField("acc") + lit(1.0) /
            (lit(1.0) + greatest(lit(0.0),
              (x.getField("e") - x.getField("s") - lit(minW))
                .cast("double")))).as("acc"))),
      st => st.getField("acc"))
    joined
      .withColumn("tfp", tfp)
      .filter(col("tfp") > 0)
      .select(col("docid"),
        (lit(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
          .as("score"))
  }

  /** MultiPhraseQuery: per slot, union the alternatives' occurrences
    * (merged position arrays per doc), then the exact-phrase position
    * intersect; weight = summed idf over every alternative term
    * (MultiPhraseQuery.cs:40 weight semantics). */
  private def multiPhrase(mp: MultiPhraseQ): DataFrame = {
    require(mp.slots.nonEmpty, "empty multi-phrase")
    val allTerms = mp.slots.flatMap(_._1)
    val dfs = dfOf(allTerms.toSet)
    val sumIdf = allTerms
      .map(t => sim.idf(idx.numDocs, dfs.getOrElse(t, 0L))).sum
    val slots = mp.slots.zipWithIndex.map { case ((ts, _), i) =>
      val agg = idx.postingsFor(ts)
        .groupBy(col("docid"))
        .agg(sort_array(array_distinct(flatten(collect_list(col("positions")))))
          .as(s"pos$i"), max(col("len")).as(s"len$i"))
      if (i == 0) agg.select(col("docid"), col(s"pos$i"), col(s"len$i").as("len"))
      else agg.select(col("docid"), col(s"pos$i"))
    }
    val joined = slots.reduce((a, b) => a.join(b, Seq("docid")))
    val off0 = mp.slots.head._2
    val pred: Column => Column = pp =>
      mp.slots.zipWithIndex.tail.map { case ((_, offk), k) =>
        array_contains(col(s"pos$k"), pp + lit(offk - off0))
      }.reduceOption(_ && _).getOrElse(lit(true))
    joined
      .withColumn("tfp", size(filter(col("pos0"), pred)).cast("double"))
      .filter(col("tfp") > 0)
      .select(col("docid"),
        (lit(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
          .as("score"))
  }

  /** MoreLikeThis: the source doc's text is fetched (one stored-fields
    * row — the term-vector analog since we keep forward data), analyzed
    * driver-side, its terms ranked by tf·idf (ties → term asc), and the
    * top N become a scored disjunction excluding the source doc
    * (MoreLikeThis.cs:138 CreateQueue semantics, simplified thresholds). */
  private def moreLikeThis(src: Long, topN: Int): DataFrame = {
    val text = idx.docs.filter(col("docid") === src)
      .select(col("text")).collect()
      .headOption.map(_.getString(0)).getOrElse("")
    val tfMap = graft.analysis.Analyzer.tokenize(text)
      .groupBy(_.term).map { case (t, xs) => t -> xs.size.toLong }
    val dfs = dfOf(tfMap.keySet)
    val ranked = tfMap.toSeq.map { case (t, tf) =>
      (t, tf * sim.idf(idx.numDocs, dfs.getOrElse(t, 0L)))
    }.sortBy { case (t, w) => (-w, t) }.take(topN).map(_._1)
    if (ranked.isEmpty)
      return idx.docs.select(col("docid"), lit(1.0).as("score"))
        .filter(lit(false))
    termScores(ranked.toSet)
      .filter(col("docid") =!= src)
      .groupBy(col("docid")).agg(
        aggregate(
          sort_array(collect_list(struct(col("term"), col("tscore")))),
          lit(0.0), (acc, x) => acc + x.getField("tscore")).as("score"))
  }

  /** Driver-side dictionary lookup (TermInfosReader analog — tiny:
    * |query terms| × segments rows), memoized per Searcher like the
    * reference's per-thread TermInfo cache (TermInfosReader.cs:203-224):
    * one query evaluation may resolve the same terms from several
    * sub-plans (the WAND planner + its devolved disjunction, nested
    * boolean groups), and each uncached call is a driver-side job. The
    * miss path is one single-stage scan of the per-segment dictionaries
    * with the term set pushed down as `In`; per-term sums across
    * segments happen here on the driver. Every df the query layer
    * scores with comes from this memo. */
  private val dfMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
  def dfOf(terms: Set[String]): Map[String, Long] = {
    val missing = terms.filter(t => !dfMemo.containsKey(t))
    if (missing.nonEmpty) {
      val got = Searcher.sumDf(idx.dictRows
        .filter(col("term").isin(missing.toSeq.sorted: _*))
        .select(col("term"), col("df")).collect()
        .map(r => (r.getString(0), r.getLong(1))))
      missing.foreach(t => dfMemo.put(t, got.get(t)))
    }
    terms.flatMap(t => dfMemo.get(t).map(t -> _)).toMap
  }

  /** Top-k with the mandatory (score desc, docid asc) tie-break
    * (TopScoreDocCollector.cs:56-64,90). Catalyst compiles orderBy.limit
    * to TakeOrderedAndProject: per-partition heaps merged at the driver —
    * exactly the reference's MultiSearcher merge. */
  def topK(q: Query, k: Int): DataFrame =
    score(q).orderBy(col("score").desc, col("docid").asc).limit(k)

  /** Batched multi-query top-k: ONE postings scan over the union of a
    * query registry's terms scores EVERY query at once — the query-set
    * replay shape at cluster scale (N queries amortize the dominant
    * cost, the scan, the way the percolator amortizes analysis; the
    * reference replays its query set one IndexSearcher.Search at a
    * time, one dictionary+postings walk EACH).
    *
    * Registry queries must be flat term-bag booleans (every clause a
    * possibly boosted TermQ — the [[groupedBool]] single-scan shape);
    * per-doc algebra and the ordered score fold replicate the
    * single-query flat path exactly, so each query's rows are rank-
    * and score-identical to its own topK run.
    *
    * Output (qid, rank, docid, score) ordered by (qid, rank). The
    * per-query rank is a window partitioned by qid — one sort shuffle
    * over all candidates of all queries; size the registry per job run
    * accordingly (the scan amortization is the win, the window is the
    * bound). */
  def topKBatch(queries: Seq[(String, BoolQ)], k: Int): DataFrame = {
    val spark = idx.docs.sparkSession
    import spark.implicits._
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids in the batch registry")
    val rows = Seq.newBuilder[(String, String, String, String, Double)]
    val metas = Seq.newBuilder[(String, Int, Int, Int)]
    queries.foreach { case (qid, q) =>
      require(q.must.nonEmpty || q.should.nonEmpty,
        s"empty BooleanQuery: $qid")
      val cl = q.must.map((_, "m")) ++ q.should.map((_, "s")) ++
        q.mustNot.map((_, "n"))
      require(cl.size <= Searcher.MaxClauseCount,
        s"too many boolean clauses (maxClauseCount=${Searcher.MaxClauseCount})")
      cl.zipWithIndex.foreach { case ((c, oc), i) =>
        val (t, b) = asSimpleTerm(c).getOrElse(sys.error(
          s"topKBatch requires flat term-bag queries; clause $i of " +
            s"'$qid' is not a (boosted) TermQ"))
        rows += ((t, qid, f"$oc$i%04d", oc, b))
      }
      metas += ((qid, q.must.size, q.should.size, q.minShouldMatch))
    }
    val rs = rows.result()
    val meta = metas.result().toDF("qid", "n_must", "n_should", "msm")
    val scored = perClause(termScores(rs.map(_._1).toSet),
        rs.map { case (t, qid, o, oc, b) => (t, (qid, o, oc, b)) },
        "qid", "ord", "occur", "boost")
      .select(col("qid"), col("docid"), col("ord"), col("occur"),
        (col("tscore") * col("boost")).as("score"))
    def sumOf(tag: String): Column = occSum(col("all"), tag)
    def cntOf(tag: String): Column = occCnt(col("all"), tag)
    val agg = scored.groupBy(col("qid"), col("docid"))
      .agg(sort_array(collect_list(struct(col("ord"), col("occur"),
        col("score")))).as("all"))
      .join(broadcast(meta), Seq("qid"))
    // per-query boolean algebra — the groupedBool inner shape with the
    // group constants as columns
    val matched =
      when(col("n_must") > 0,
        cntOf("m") === col("n_must") &&
          (col("n_should") === lit(0) || cntOf("s") >= col("msm")))
        .otherwise(cntOf("s") >= greatest(lit(1), col("msm"))) &&
        cntOf("n") === 0L
    val scoredDocs = agg.filter(matched)
      .select(col("qid"), col("docid"),
        sim.applyCoordCol(sumOf("m") + sumOf("s"), cntOf("m") + cntOf("s"),
          col("n_must") + col("n_should")).as("score"))
    scoredDocs
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("docid").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("docid"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Build a reusable cached filter (CachingWrapperFilter.cs:33 /
    * Filter.GetDocIdSet analog): the matching docid set is computed
    * ONCE and persisted (MEMORY_AND_DISK — spills, never recomputes),
    * then restricts any number of queries via [[topKFiltered]] without
    * re-deriving the set per query. Scores are NOT affected by the
    * filter (FilteredQuery semantics: the filter gates, the query
    * scores). Call [[Searcher.CachedFilter.release]] when done. */
  def cacheFilter(q: Query): Searcher.CachedFilter = {
    val bits = score(q).select("docid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bits.count() // materialize so every consumer hits the cache
    Searcher.CachedFilter(bits)
  }

  /** Top-k of `q` restricted to a cached filter's docid set. The join is
    * a left-semi on the persisted bits — auto-broadcast when small,
    * shuffled when a filter matches a large fraction (both scale). */
  def topKFiltered(q: Query, f: Searcher.CachedFilter, k: Int): DataFrame =
    score(q).join(f.bits, Seq("docid"), "left_semi")
      .orderBy(col("score").desc, col("docid").asc).limit(k)

  /** Evaluate a [[DocFilter]] to its docid set (contrib Queries filter
    * family: TermsFilter.cs:52, QueryWrapperFilter.cs:40,
    * DuplicateFilter.cs:75, BooleanFilter.cs:63). Pure set algebra,
    * no scores; wrap with [[cacheFilter]]+[[topKFiltered]] to gate a
    * scoring query, mirroring ChainedFilter/FilteredQuery use. */
  def filterBits(f: DocFilter): DataFrame = f match {
    case QueryF(q) => score(q).select("docid")

    case TermsF(ts) =>
      // one docs scan; the OR-of-equalities predicate pushes to parquet
      idx.docs
        .filter(ts.map { case (fld, v) => col(fld) === lit(v) }
          .reduceOption(_ || _).getOrElse(lit(false)))
        .select("docid")

    case DuplicateF(field, keepFirst) =>
      // one shuffle on the dedup key (uniform group count ⇒ no skew
      // concern: each group reduces to a single min/max)
      val pick = if (keepFirst) min(col("docid")) else max(col("docid"))
      idx.docs.filter(col(field).isNotNull)
        .groupBy(col(field)).agg(pick.as("docid"))
        .select("docid")

    case BoolF(m, sh, n) =>
      // reference evaluation order (BooleanFilter.GetDocIdSet): shoulds
      // union; base falls back to the first MUST, or to ALL live docs
      // when only NOTs exist (the res.Flip branch); NOTs subtract;
      // remaining MUSTs intersect. Semi/anti joins auto-broadcast small
      // sets and shuffle large ones — both survive scale-up.
      val base =
        if (sh.nonEmpty) sh.map(filterBits).reduce(_.union(_)).distinct()
        else if (m.nonEmpty) filterBits(m.head)
        else idx.docs.select(col("docid"))
      val remainingMusts = if (sh.nonEmpty) m else m.drop(1)
      val afterNot = n.foldLeft(base)((acc, nf) =>
        acc.join(filterBits(nf), Seq("docid"), "left_anti"))
      remainingMusts.foldLeft(afterNot)((acc, mf) =>
        acc.join(filterBits(mf), Seq("docid"), "left_semi"))

    case ChainF(first, links) =>
      // sequential fold (ChainedFilter.GetDocIdSet): each link is one
      // semi/anti join (or union+anti for XOR) — small sets broadcast,
      // large ones shuffle; no driver-side set materialization
      links.foldLeft(filterBits(first)) { case (acc, (op, f)) =>
        val b = filterBits(f)
        op match {
          case ChainAnd => acc.join(b, Seq("docid"), "left_semi")
          case ChainOr => acc.union(b).distinct()
          case ChainAndNot => acc.join(b, Seq("docid"), "left_anti")
          case ChainXor =>
            // (acc ∪ b) − (acc ∩ b)
            acc.union(b).distinct()
              .join(acc.join(b, Seq("docid"), "left_semi"),
                Seq("docid"), "left_anti")
        }
      }
  }

  /** Persisted [[DocFilter]] (CachingWrapperFilter over the filter
    * algebra — same reuse contract as the Query overload). */
  def cacheFilter(f: DocFilter): Searcher.CachedFilter = {
    val bits = filterBits(f)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bits.count()
    Searcher.CachedFilter(bits)
  }

  /** Field-sorted top-k (TopFieldCollector.cs:35 + Sort.cs:100 +
    * FieldComparator.cs:83-960): sort keys are forward doc columns (the
    * columnar docs table IS the FieldCache — no un-inversion), with
    * "score" as the SortField.FIELD_SCORE special key and docid asc as
    * the final tie-break. Same TakeOrderedAndProject shape as topK. */
  def topKSorted(q: Query, sorts: Seq[SortField], k: Int): DataFrame = {
    val fieldCols = sorts.map(_.field).filter(_ != "score").distinct
    val base = score(q)
      .join(idx.docs.select(col("docid") +: fieldCols.map(col): _*),
        Seq("docid"))
    base.orderBy(Searcher.sortOrder(sorts): _*).limit(k)
  }

  private val PartsType = "array<struct<part:string,value:double>>"

  /** Structural score decomposition for an ARBITRARY query tree — the
    * Explanation analog (Explanation.cs; CheckHits.cs:41,349 asserts
    * Explain().Value == hit score for every query shape; ExplainSpec
    * sweeps every gate TopK query with the same tolerance). Returns
    * (docid, parts, value): `parts` are leaf contributions whose sum IS
    * `value`, and `value` must equal score(q) on every doc matching q.
    * Boolean trees are decomposed COMPOSITIONALLY (per-clause join +
    * msm/not algebra re-derived here), so the invariant cross-checks the
    * optimized single-scan boolean paths against an independent
    * evaluation; non-decomposable scorers (phrase, span, dismax,
    * function) are single leaves carrying their full score. */
  def explain(q: Query): DataFrame =
    explainParts(q).select(col("docid"), col("parts"),
      aggregate(col("parts"), lit(0.0),
        (a, x) => a + x.getField("value")).as("value"))

  private def leafParts(label: String, scored: DataFrame): DataFrame =
    scored.select(col("docid"),
      array(struct(lit(label).as("part"), col("score").as("value")))
        .as("parts"))

  private def explainParts(q: Query): DataFrame = q match {
    case TermQ(t) =>
      termScores(Set(t)).select(col("docid"),
        array(struct(lit(s"weight($t)").as("part"),
          col("tscore").as("value"))).as("parts"))

    case BoostQ(sub, b) =>
      explainParts(sub).select(col("docid"),
        transform(col("parts"), x =>
          struct(concat(x.getField("part"), lit(s"×$b")).as("part"),
            (x.getField("value") * lit(b)).as("value"))).as("parts"))

    case BoolQ(must, should, mustNot, msm) =>
      require(must.nonEmpty || should.nonEmpty, "empty BooleanQuery")
      def tagged(i: Int, c: Query): DataFrame =
        explainParts(c).select(col("docid"), col("parts").as(s"p$i"))
      val mustJ = must.zipWithIndex
        .map { case (c, i) => tagged(i, c) }
        .reduceOption((a, b) => a.join(b, Seq("docid")))
      val shouldJ = should.zipWithIndex
        .map { case (c, i) => tagged(must.size + i, c) }
        .reduceOption((a, b) => a.join(b, Seq("docid"), "full_outer"))
      val joined = (mustJ, shouldJ) match {
        case (Some(m), Some(s)) => m.join(s, Seq("docid"), "left")
        case (Some(m), None) => m
        case (None, Some(s)) => s
        case _ => sys.error("unreachable: empty BooleanQuery")
      }
      val shouldCols = should.indices.map(i => col(s"p${must.size + i}"))
      val scnt = shouldCols.map(c => when(c.isNotNull, 1).otherwise(0))
        .reduceOption(_ + _).getOrElse(lit(0))
      val floor = if (must.isEmpty) math.max(1, msm) else msm
      val gated =
        if (should.nonEmpty && floor > 0) joined.filter(scnt >= floor)
        else joined
      val anti = mustNot.foldLeft(gated) { (acc, c) =>
        acc.join(score(c).select("docid"), Seq("docid"), "left_anti")
      }
      val allParts = (0 until must.size + should.size)
        .map(i => coalesce(col(s"p$i"), array().cast(PartsType)))
      // coord as an additive correction part (the parts contract is a
      // sum): raw*(coord-1), so Σ parts == applyCoord(raw) — identity
      // (and no extra part) under Bm25Sim, the overlap/maxOverlap
      // factor under ClassicSim, keeping Explain==Score for EVERY
      // Similarity (the scoring paths coord at lines 154/174/212)
      val rawParts = flatten(array(allParts: _*))
      val rawSum = aggregate(rawParts, lit(0.0),
        (a, x) => a + x.getField("value"))
      val overlap = lit(must.size.toLong) + scnt.cast("long")
      val maxOverlap = must.size + should.size
      val coorded = sim.applyCoord(rawSum, overlap, maxOverlap)
      anti.select(col("docid"),
        when(coorded === rawSum, rawParts)
          .otherwise(concat(rawParts, array(struct(
            concat(lit("coord("), overlap.cast("string"),
              lit(s"/$maxOverlap)")).as("part"),
            (coorded - rawSum).as("value"))))).as("parts"))

    case ConstantScoreQ(sub, sc) =>
      leafParts(s"ConstantScore($sc)", score(q))

    case other =>
      // non-decomposable scorer: one leaf carrying the full score
      leafParts(other.getClass.getSimpleName, score(other))
  }

  /** Per-posting score breakdown for one term — the Explain() analog
    * (the reference asserts Explain == Score, CheckHits.cs:41,349; our
    * spec asserts idf * tfnorm == score the same way). */
  def explainTerm(t: String): DataFrame = {
    val df = dfCol(dfOf(Set(t)))
    idx.postingsForScoring(Seq(t))
      .select(col("docid"), col("term"), col("tf"), col("len"), df.as("df"),
        sim.idfCol(idx.numDocs, df).as("idf"),
        sim.tfNorm(col("tf"), col("len"), idx.avgdl).as("tfnorm"),
        sim.score(idx.numDocs, idx.avgdl, df, col("tf"), col("len"))
          .as("score"))
  }
}

object Searcher {
  /** A persisted docid set usable across many queries — the
    * CachingWrapperFilter analog (see [[Searcher.cacheFilter]]). */
  final case class CachedFilter(bits: DataFrame) {
    def release(): Unit = bits.unpersist()
  }

  /** BooleanQuery.maxClauseCount (BooleanQuery.cs:76). */
  val MaxClauseCount = 1024

  /** FuzzyLikeThisQuery.MAX_VARIANTS_PER_TERM (FuzzyLikeThisQuery.cs:56):
    * fuzzy variants considered per source term before the global queue. */
  val MaxVariantsPerTerm = 50

  /** Auto-rewrite term-count cutoff (MultiTermQuery.cs:61-79). */
  val AutoRewriteTermCap = 350

  /** Per-term df sums over per-segment dictionary rows. */
  private[search] def sumDf(rows: Array[(String, Long)]): Map[String, Long] =
    rows.groupMapReduce(_._1)(_._2)(_ + _)

  /** `m(key)` as a column: a hash lookup in the task closure. */
  private[search] def lookup[V: scala.reflect.runtime.universe.TypeTag](
      m: Map[String, V], key: Column): Column =
    udf((k: String) => m(k)).apply(key)

  /** Sort columns for a SortField spec + the mandatory docid tie-break. */
  def sortOrder(sorts: Seq[SortField]): Seq[Column] =
    sorts.map { s =>
      val c = if (s.field == "score") col("score") else col(s.field)
      if (s.desc) c.desc else c.asc
    } :+ col("docid").asc

  /** Split q into k+1 near-equal contiguous pieces (pigeonhole candidate
    * filter for edit distance <= k). An empty piece (q shorter than k+1)
    * degrades to contains("") == full scan — still correct. */
  def pigeonPieces(q: String, k: Int): Seq[String] = {
    val n = k + 1
    val cuts = (0 to n).map(i => i * q.length / n)
    (0 until n).map(i => q.substring(cuts(i), cuts(i + 1))).distinct
  }

  /** True iff the pattern has an alternation at nesting depth 0 — such
    * a pattern has NO required literal prefix (`table|merge` matches
    * "merge"), so prefix pushdown must stand down entirely. Bracketed
    * alternations (`tab(le|by)`) don't escape the scanned prefix. */
  private def hasTopLevelAlternation(pat: String): Boolean = {
    var depth = 0
    var inClass = false
    var i = 0
    while (i < pat.length) {
      pat(i) match {
        case '\\' => i += 1 // skip the escaped char
        case '[' if !inClass => inClass = true
        case ']' if inClass => inClass = false
        case '(' if !inClass => depth += 1
        case ')' if !inClass => depth -= 1
        case '|' if !inClass && depth == 0 => return true
        case _ =>
      }
      i += 1
    }
    false
  }

  /** Longest literal prefix of a regex: stops at the first metachar and
    * before any quantified atom (`ab*c` → "a" — the b is optional);
    * empty when a top-level alternation means no prefix is required at
    * all (`table|merge` — the scanned "table" is only one branch). Used
    * to turn anchored dictionary regex scans into range predicates. */
  def regexLiteralPrefix(pat: String): String = {
    if (hasTopLevelAlternation(pat)) return ""
    val meta = "\\^$.|?*+()[]{}"
    val sb = new StringBuilder
    var i = 0
    var done = false
    while (i < pat.length && !done) {
      val c = pat(i)
      if (meta.indexOf(c) >= 0) done = true
      else if (i + 1 < pat.length && "?*+{".indexOf(pat(i + 1)) >= 0) done = true
      else { sb += c; i += 1 }
    }
    sb.toString
  }

  def globToRegex(glob: String): String =
    "^" + glob.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    } + "$"
}
