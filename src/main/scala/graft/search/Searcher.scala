package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.api.java.{UDF0, UDF1}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.InvertedIndex

/** Query execution: AST → (docid, score) DataFrame plans.
  *
  * The reference scores every clause mix with one scorer tree
  * (BooleanScorer2, BooleanQuery.cs:350-424; DisjunctionMaxQuery as a
  * second fold over the same sub-scorers). Here that tree is one per-doc
  * clause array ([[clauseArray]]): every clause of a boolean or DisMax
  * node is a group of rows — (boosted) terms and one-level pure-term
  * sub-booleans from one shared postings scan, every other clause from
  * its own [[score]] frame — collected by one hash aggregate per doc.
  * One group algebra ([[boolFold]], a higher-order fold driven by the
  * node's group meta) gives each sub-boolean group's (ok, score); a
  * clause that is one row per matching doc is its own result. The
  * boolean fold (must/should/not counts, minShouldMatch, coord) or the
  * DisMax fold (max + tie·(sum − max)) consumes them. [[topKBatch]]
  * builds the same array for many queries, keyed by (qid, docid).
  * Scoring is a pluggable [[Similarity]] strategy (Similarity.cs:398-503):
  * BM25 by default (coord intentionally dropped, BM25-era Lucene drops it;
  * SURVEY §7.7), the reference's classic TF-IDF with coord via
  * [[ClassicSim]].
  *
  * Determinism: multi-part scores are summed in sorted clause order
  * (sort_array(collect_list(...)) then an ordered fold) — float addition
  * order is fixed regardless of shuffle layout, so scores are bit-stable
  * run to run (SURVEY §7 hard-part #1).
  *
  * Per-query fixed cost: a point query ([[topK]] of a term, boolean,
  * phrase, prefix or keyword-and-term query) is one Spark job with no
  * exchange. df and prefix expansions come from the index's resident
  * dictionary and deletes from its resident delete set (no dictionary
  * or delete-set job), a query that reads at most
  * [[Searcher.SingleTaskRows]] estimated rows folds in one task
  * ([[Searcher.oneTask]]), and per-query numbers (df, idf sums) reach the
  * generated code as lookups and parameters, not literals, so a
  * same-shape query compiles nothing new.
  */
final class Searcher(idx: InvertedIndex, sim: Similarity = Bm25Sim) {
  import Searcher.{oneTask, param}

  /** Per-(term, docid) BM25 partial scores for a set of query terms.
    * df is resolved on the driver by [[dfOf]] (the TermInfosReader
    * lookup, SURVEY §4.2) and enters the plan through [[dfCol]], so the
    * plan scans postings only: no dictionary scan, aggregate or
    * broadcast. Terms absent from the dictionary have no postings and
    * are left out of the scan. df gets a projection of its own: idf
    * reads it twice, and a lookup read twice in one expression is a
    * common subexpression whose place in the generated code follows the
    * closure's identity hash, so same-shape queries would compile
    * different classes. */
  def termScores(terms: Set[String]): DataFrame = {
    val dfs = dfOf(terms)
    idx.postingsForScoring(dfs.keys.toSeq.sorted)
      .select(col("term"), col("docid"), col("tf"), col("len"),
        dfCol(dfs).as("df"))
      .select(col("term"), col("docid"),
        sim.score(idx.numDocs, idx.avgdl, col("df"), col("tf"), col("len"))
          .as("tscore"))
  }

  /** The df of a posting row's `term` as a plan column, for terms whose
    * df the driver already holds: a hash-map lookup captured in the task
    * closure — O(1) per posting, where `element_at` over a map literal
    * scans its keys and a broadcast of a local relation costs a job per
    * query. Never a literal, even for one term: a literal df is inlined
    * into the generated code, so every distinct df would compile a new
    * class. df stays a column so idf is computed in-plan exactly as
    * before. */
  private def dfCol(dfs: Map[String, Long]): Column =
    Searcher.lookup(dfs, col("term"), LongType)

  /** `scored` (which has a `term` column) with one row per posting and
    * clause its term sits in, the clause fields as columns `names`. The
    * clause rows, keyed by term, ride in a hash map captured in the task
    * closure and are exploded per posting: a broadcast join of the same
    * driver-built rows would cost a job per query. */
  private def perClause(scored: DataFrame,
      clauses: Seq[(String, (String, Int, Int, String, Double))],
      names: String*): DataFrame = {
    val byTerm = clauses.groupMap(_._1)(_._2)
    scored
      .select(col("*"), explode(Searcher.lookup(byTerm, col("term"),
        Searcher.ClauseRowsType)).as("__c"))
      .select(scored.columns.map(col).toSeq ++ names.zipWithIndex.map {
        case (n, i) => col("__c").getField(s"_${i + 1}").as(n)
      }: _*)
  }

  /** The deterministic-fold aggregate shared by the multi-term scorers:
    * collect the group's (ord, score) pairs, sort by ord, left-fold —
    * fixed float addition order regardless of shuffle layout, so scores
    * are bit-stable run to run (SURVEY §7 hard-part #1). */
  private def ordSumAgg: Column =
    aggregate(
      sort_array(collect_list(struct(col("ord"), col("score")))),
      lit(0.0), (acc, x) => acc + x.getField("score"))

  /** TermQ, possibly boost-wrapped — the clause shape the shared scan of
    * [[clauseArray]] reads. */
  private def asSimpleTerm(q: Query): Option[(String, Double)] = q match {
    case TermQ(t) => Some((t, 1.0))
    case BoostQ(sub, b) => asSimpleTerm(sub).map { case (t, b0) => (t, b0 * b) }
    case _ => None
  }

  /** A BoolQ's clauses tagged m/s/n, in (must, should, mustNot) order. */
  private def clausesOf(q: BoolQ): Seq[(Query, String)] = {
    require(q.must.nonEmpty || q.should.nonEmpty, "empty BooleanQuery")
    val cl = q.must.map((_, "m")) ++ q.should.map((_, "s")) ++
      q.mustNot.map((_, "n"))
    require(cl.size <= Searcher.MaxClauseCount,
      s"too many boolean clauses (maxClauseCount=${Searcher.MaxClauseCount})")
    cl
  }

  /** The term rows (term, ord, occur, boost) and (nMust, nShould, msm)
    * of a clause the shared scan can read: a (boosted) term — one must
    * row — or a boolean whose clauses all are (boosted) terms. */
  private def scanClause(c: Query)
      : Option[(Seq[(String, Int, String, Double)], (Int, Int, Int))] =
    asSimpleTerm(c).map { case (t, b) => (Seq((t, 0, "m", b)), (1, 0, 0)) }
      .orElse(c match {
        case sub: BoolQ if sub.must.nonEmpty || sub.should.nonEmpty =>
          val rows = clausesOf(sub).zipWithIndex.map { case ((x, oc), j) =>
            asSimpleTerm(x).map { case (t, b) => (t, j, oc, b) }
          }
          Option.when(rows.forall(_.isDefined))((rows.flatten,
            (sub.must.size, sub.should.size, sub.minShouldMatch)))
        case _ => None
      })

  /** The per-doc clause array of one node per `qid`, each node a list of
    * occur-tagged clauses. Clause i is group `gid` = i, and a
    * sub-boolean's clause j is its row `ord` = j, so (gid, ord) order is
    * clause order. A group's term rows come from ONE [[termScores]] scan
    * over every node's terms, exploded per clause with [[perClause]] (a
    * term in several clauses yields several rows); any other clause is
    * its own [[score]] frame, unioned in as one must row. One hash
    * aggregate per docid — or (qid, docid) when `keyed` — collects the
    * rows sorted by (gid, ord); [[membersOf]] then folds each group. An
    * unkeyed array that reads few rows is built in one task
    * ([[Searcher.oneTask]]), so the aggregate needs no exchange.
    * Returns the array frame (key…, all), each node's group meta, and
    * whether every node is flat: no clause is a sub-boolean, so every
    * group is one row per matching doc. */
  private def clauseArray(nodes: Seq[(String, Seq[(Query, String)])],
      keyed: Boolean)
      : (DataFrame, Map[String, Seq[Searcher.Group]], Boolean) = {
    val key = if (keyed) Seq("qid", "docid") else Seq("docid")
    val flat = nodes.forall(_._2.forall { case (c, _) =>
      asSimpleTerm(c).isDefined || scanClause(c).isEmpty })
    val terms = Seq.newBuilder[(String, (String, Int, Int, String, Double))]
    val frames = Seq.newBuilder[DataFrame]
    val groups = nodes.map { case (qid, cl) =>
      qid -> cl.zipWithIndex.map { case ((c, oc), gid) =>
        val (nMust, nShould, msm) = scanClause(c) match {
          case Some((rows, shape)) =>
            // a flat node's rows are its members: they carry its occur
            rows.foreach { case (t, o, occ, b) =>
              terms += ((t, (qid, gid, o, if (flat) oc else occ, b))) }
            shape
          case None =>
            frames += score(c).select(lit(qid).as("qid"), col("docid"),
              lit(gid).as("gid"), lit(0).as("ord"),
              lit(if (flat) oc else "m").as("occur"), col("score"))
            (1, 0, 0)
        }
        Searcher.Group(gid, oc, nMust, nShould, msm)
      }
    }.toMap
    val ts = terms.result()
    val scanned = Option.when(ts.nonEmpty)(
      perClause(termScores(ts.map(_._1).toSet), ts,
        "qid", "gid", "ord", "occur", "boost")
        .select(col("qid"), col("docid"), col("gid"), col("ord"),
          col("occur"), (col("tscore") * col("boost")).as("score")))
    val rows = (scanned.toSeq ++ frames.result()).reduce(_ unionByName _)
    val arr = (if (keyed) rows
        else oneTask(rows,
          nodes.flatMap(_._2).map { case (c, _) => estRows(c) }.sum))
      .groupBy(key.map(col): _*)
      .agg(sort_array(collect_list(struct(col("gid"), col("ord"),
        col("occur"), col("score")))).as("all"))
    (arr, groups, flat)
  }

  /** BooleanScorer2's algebra (BooleanQuery.cs:350-424) as one ordered
    * pass over a node's members `xs` (occur, score), of which `present`
    * picks the node's own: every must member and at least msm should
    * members (at least one when there is no must) present, no must-not
    * member; the score adds the musts, then the shoulds, each in member
    * order, and applies coord. `g` carries the node's (nMust, nShould,
    * msm); `finish` maps (ok, score) to the result. One pass and a
    * finish lambda, so nothing is evaluated twice per doc. */
  private def boolFold(xs: Column, present: Column => Column, g: Column)(
      finish: (Column, Column) => Column): Column = {
    val zero = struct(lit(0).as("m"), lit(0).as("s"), lit(0).as("n"),
      lit(0.0).as("sm"), lit(0.0).as("ss"), g.as("g"))
    aggregate(xs, zero, (a, x) => {
      def add(f: String, tag: String, v: Column): Column =
        when(x.getField("occur") === tag, a.getField(f) + v)
          .otherwise(a.getField(f)).as(f)
      when(present(x), struct(add("m", "m", lit(1)), add("s", "s", lit(1)),
        add("n", "n", lit(1)), add("sm", "m", x.getField("score")),
        add("ss", "s", x.getField("score")), a.getField("g").as("g")))
        .otherwise(a)
    }, a => {
      val (m, s, n) = (a.getField("m"), a.getField("s"), a.getField("n"))
      val node = a.getField("g")
      val (nMust, nShould, msm) = (node.getField("nMust"),
        node.getField("nShould"), node.getField("msm"))
      val ok = when(nMust > 0, m === nMust && (nShould === 0 || s >= msm))
        .otherwise(s >= greatest(lit(1), msm)) && n === 0
      finish(ok, sim.applyCoord(a.getField("sm") + a.getField("ss"), m + s,
        nMust + nShould))
    })
  }

  /** A node's fold members, each with an occur and a score, in clause
    * order, and which of them are present. A flat node's rows are its
    * members, all present; otherwise every group of `node` (a
    * [[Searcher.Node]] column) is folded over its rows by [[boolFold]]
    * to (occur, ok, score), present when ok. */
  private def membersOf(node: Column,
      flat: Boolean): (Column, Column => Column) =
    if (flat) (col("all"), _ => lit(true))
    else (transform(node.getField("groups"), g =>
      boolFold(col("all"), _.getField("gid") === g.getField("gid"), g)(
        (ok, sc) => struct(g.getField("occur").as("occur"), ok.as("ok"),
          sc.as("score")))), _.getField("ok"))

  /** The boolean fold of a node's members: (key…, score) per matching
    * doc — a non-matching doc folds to an empty array, which `explode`
    * drops. */
  private def boolOf(arr: DataFrame, key: Seq[String], node: Column,
      flat: Boolean): DataFrame = {
    val (members, present) = membersOf(node, flat)
    arr.select(key.map(col) :+ explode(
      boolFold(members, present, node)((ok, sc) =>
        when(ok, array(sc)).otherwise(array().cast("array<double>"))))
      .as("score"): _*)
  }

  /** Evaluate to one row per matching doc: (docid: long, score: double). */
  def score(q: Query): DataFrame = q match {
    case TermQ(t) =>
      oneTask(termScores(Set(t)), estRows(q))
        .select(col("docid"), col("tscore").as("score"))

    case bq: BoolQ =>
      val (arr, groups, flat) =
        clauseArray(Seq("" -> clausesOf(bq)), keyed = false)
      boolOf(arr, Seq("docid"), Searcher.nodeLit(Searcher.Node(bq.must.size,
        bq.should.size, bq.minShouldMatch, groups(""))), flat)

    case p: PhraseQ => phrase(p)

    case PrefixQ(p, rw) =>
      multiTerm(col("term").startsWith(p), rw, Some((p, None)))

    case RegexQ(pat, rw) =>
      // whole-term match (RegexTermEnum anchors the pattern); a literal
      // pattern prefix becomes a startsWith pre-filter — a range scan on
      // a term-sorted dictionary instead of a full regex scan (the
      // WildcardTermEnum.cs:32 prefix-seek analog)
      val (pred, local) = Searcher.regexMatch(pat)
      multiTerm(pred, rw, Some(local))

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
          param(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl)
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
          param(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl)
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
      val rx = Searcher.globToRegex(pat)
      val pfx = pat.takeWhile(c => c != '*' && c != '?')
      val pred = col("term").rlike(rx)
      multiTerm(if (pfx.nonEmpty) col("term").startsWith(pfx) && pred else pred,
        rw, Some((pfx, Some(rx))))

    case TermRangeQ(lo, hi, il, ih, rw, coll) =>
      // collated variant (TermRangeQuery.cs:96): the dictionary compare
      // runs under the ICU locale collation — native in Spark 4
      // (collate() stays inside codegen), so the range is still a
      // dictionary-scan predicate, never a driver loop
      val t = coll.map(c => collate(col("term"), c)).getOrElse(col("term"))
      val conds = Seq(
        lo.map(v => if (il) t >= v else t > v),
        hi.map(v => if (ih) t <= v else t < v)).flatten
      multiTerm(conds.reduceOption(_ && _).getOrElse(lit(true)), rw, None)

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
      // compare the DateTools-encoded key. A date_format() expression
      // is invisible to Parquet statistics, so conservative bounds on
      // the timestamp itself, derived on the driver, go first as plain
      // comparisons the scan can push down; the exact key predicate
      // stays on top and decides, so the answer does not change. Only
      // timestamps in key order are bounded (see DateTools.keyBounds)
      import graft.model.DateTools
      val ts = col(field)
      val key = DateTools.dateToString(ts, res)
      val conds = Seq(
        lo.map(v => if (il) key >= v else key > v),
        hi.map(v => if (ih) key <= v else key < v)).flatten
      val timestamp = idx.docs.schema.exists(f =>
        f.name == field && f.dataType == TimestampType)
      val native = if (!timestamp) Nil else Seq(
        lo.flatMap(DateTools.keyBounds(_, res)).map { case (from, _) =>
          ts >= lit(from) || ts < lit(DateTools.KeyOrderFrom) },
        hi.flatMap(DateTools.keyBounds(_, res)).map { case (_, until) =>
          ts < lit(until) || ts >= lit(DateTools.KeyOrderUntil) }).flatten
      idx.docs.filter((native ++ conds).reduceOption(_ && _)
          .getOrElse(lit(true)))
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
          (param(idf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
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
          (param(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
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
          (param(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
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
          (param(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
            .as("score"))

    case SpanQ(sp) => spanQuery(sp)

    case mp: MultiPhraseQ => multiPhrase(mp)

    case MoreLikeThisQ(src, topN) => moreLikeThis(src, topN)

    case DisMaxQ(ds, tie) =>
      // DisjunctionMaxQuery over the same clause array: the max of the
      // matching disjuncts plus tie × the rest, summed in clause order
      require(ds.nonEmpty, "empty DisjunctionMaxQuery")
      val (arr, groups, flat) =
        clauseArray(Seq("" -> ds.map((_, "s"))), keyed = false)
      val (members, present) =
        membersOf(Searcher.nodeLit(Searcher.Node(0, 0, 0, groups(""))), flat)
      val zero = struct(lit(0).as("n"), lit(null).cast("double").as("mx"),
        lit(0.0).as("sm"))
      arr.select(col("docid"), explode(aggregate(members, zero,
        (a, x) => when(present(x), struct(
          (a.getField("n") + 1).as("n"),
          greatest(a.getField("mx"), x.getField("score")).as("mx"),
          (a.getField("sm") + x.getField("score")).as("sm")))
          .otherwise(a),
        a => when(a.getField("n") > 0, array(a.getField("mx") +
          lit(tie) * (a.getField("sm") - a.getField("mx"))))
          .otherwise(array().cast("array<double>")))).as("score"))
  }

  /** Multi-term rewrite dispatch (MultiTermQuery.cs:58-200). The auto
    * heuristic enumerates the matched dictionary terms at PLAN time, as
    * the reference's term enum walk does at rewrite time: the matches
    * decide scoring vs constant and, when scoring, are also the literal
    * term set of the postings scan. `local` is `dictPred` as a literal
    * prefix plus an optional whole-term regex; with it the matches are a
    * range of the resident dictionary ([[dictRange]]) and cost no job. */
  private def multiTerm(dictPred: Column, rw: MultiTermRewrite,
      local: Option[(String, Option[String])]): DataFrame =
    dictRange(local) match {
      case Some(ms) =>
        if (rw == ScoringBoolean ||
            rw == AutoRewrite && ms.size <= Searcher.AutoRewriteTermCap)
          scoredOverTerms(ms.keySet)
        else constantOverTerms(dictPred, ms.values.sum)
      case None => rw match {
        case ConstantScore => constantOverTerms(dictPred, Long.MaxValue)
        case ScoringBoolean =>
          scoredOverTerms(dictMatches(dictPred, None).get)
        case AutoRewrite =>
          dictMatches(dictPred, Some(Searcher.AutoRewriteTermCap)) match {
            case Some(terms) => scoredOverTerms(terms)
            case None => constantOverTerms(dictPred, Long.MaxValue)
          }
      }
    }

  /** The terms (with df) of the resident dictionary that start with a
    * literal prefix and, when a regex is given, match it as a whole
    * (java.util.regex, the engine `rlike` uses): a contiguous range of
    * the sorted terms walked on the driver. None when the index holds no
    * resident dictionary or there is no prefix form. */
  private def dictRange(local: Option[(String, Option[String])])
      : Option[Map[String, Long]] =
    for (d <- idx.dictionary; (prefix, rx) <- local) yield {
      val m = rx.map(java.util.regex.Pattern.compile(_).matcher(""))
      d.withPrefix(prefix)
        .filter { case (t, _) => m.forall(_.reset(t).find(0)) }.toMap
    }

  /** Every dictionary term matching `pred`, with its df memoized for
    * [[dfOf]]; None once more than `cap` distinct terms match. The path
    * of an index without a resident dictionary: one single-stage scan of
    * the per-segment dictionaries, summed on the driver; each partition
    * stops reading once it alone has shown more than `cap` distinct
    * terms, so at most (cap + 1) × segments rows per partition reach the
    * driver. */
  private def dictMatches(pred: Column, cap: Option[Int]): Option[Set[String]] = {
    val rows = idx.dictRows.filter(pred).select(col("term"), col("df"))
      .as(Searcher.TermDfEnc)
    val got = Searcher.sumDf(cap match {
      case Some(c) =>
        rows.mapPartitions { it =>
          val seen = scala.collection.mutable.HashSet.empty[String]
          it.takeWhile { case (t, _) =>
            val more = seen.size <= c
            if (more) seen += t
            more
          }
        }(Searcher.TermDfEnc).collect()
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
    * recall. Without trigrams the pieces filter runs over the resident
    * dictionary on the driver (a local relation), or over the aggregated
    * dictionary table when none is held. */
  private def fuzzyCandidates(t: String, maxEdits: Int): DataFrame = {
    val pieces = Searcher.pigeonPieces(t, maxEdits)
    (idx.trigrams, idx.dictionary) match {
      case (Some(tg), _) if pieces.forall(_.length >= 3) =>
        val grams = pieces.map(_.substring(0, 3)).distinct
        tg.filter(col("gram").isin(grams: _*))
          .select(col("term"), col("df")).distinct()
      case (_, Some(d)) =>
        val rows = d.withPrefix("")
          .collect { case (x, df) if pieces.exists(x.contains) => Row(x, df) }
        idx.blockTable.sparkSession.createDataFrame(rows.toSeq.asJava,
          StructType(Seq(StructField("term", StringType),
            StructField("df", LongType))))
      case _ =>
        idx.termDict
          .filter(pieces.map(p => col("term").contains(p)).reduce(_ || _))
          .select(col("term"), col("df"))
    }
  }

  /** Constant-score multi-term rewrite (MultiTermQuery.cs:84-114): match
    * the dictionary predicate, semi-join into postings, dedup docs — in
    * one task when the matched terms' postings (`rows`) are few. */
  private def constantOverTerms(dictPred: Column, rows: Long): DataFrame =
    oneTask(idx.postingsWhereTermScoring(dictPred), rows)
      .select(col("docid")).distinct()
      .select(col("docid"), lit(1.0).as("score"))

  /** Scoring-boolean multi-term rewrite (MultiTermQuery.cs:117-151)
    * over the expanded term set: every term is BM25-scored; per-doc sum
    * in sorted term order (deterministic float fold, same as FuzzyQ). */
  private def scoredOverTerms(terms: Set[String]): DataFrame =
    oneTask(termScores(terms), dfOf(terms).values.sum)
      .select(col("docid"), col("term").as("ord"), col("tscore").as("score"))
      .groupBy(col("docid")).agg(ordSumAgg.as("score"))

  /** The rows a query's plan reads, estimated for [[Searcher.oneTask]]:
    * Σ df of its terms from [[dfOf]] (a phrase reads each slot's
    * postings), the matched terms' df for a prefix on the resident
    * dictionary, and numDocs for any frame the dictionary cannot bound. */
  private def estRows(q: Query): Long = q match {
    case TermQ(t) => dfOf(Set(t)).getOrElse(t, 0L)
    case BoostQ(sub, _) => estRows(sub)
    case b: BoolQ => (b.must ++ b.should ++ b.mustNot).map(estRows).sum
    case DisMaxQ(ds, _) => ds.map(estRows).sum
    case PhraseQ(ts, _) =>
      val dfs = dfOf(ts.map(_._1).toSet)
      ts.map { case (t, _) => dfs.getOrElse(t, 0L) }.sum
    case PrefixQ(p, _) =>
      dictRange(Some((p, None))).fold(idx.numDocs)(_.values.sum)
    case _ => idx.numDocs
  }

  /** Phrase scoring. Exact (slop=0): gather each doc's position arrays
    * of every slot (one aggregate over the slots' posting rows), then
    * count aligned start positions with array expressions
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

    // slot k's positions as `posk` for each doc holding every slot: one
    // aggregate over the slots' posting rows, in one task when they are
    // few. Not an n-way join: Spark shuffles a join of single-partition
    // children once their estimated sizes, multiplied by each join,
    // pass its single-partition limit
    val n = p.terms.size
    val rows = p.terms.zipWithIndex.map { case ((t, _), i) =>
      idx.postingsFor(Seq(t))
        .select(col("docid"), lit(i).as("slot"), col("positions"), col("len"))
    }.reduce(_ unionByName _)
    val joined = oneTask(rows, estRows(p))
      .groupBy(col("docid"))
      .agg(sort_array(collect_list(struct(col("slot"), col("positions"))))
        .as("__slots"), max(col("len")).as("len"))
      .filter(size(col("__slots")) === n)
      .select(col("docid") +: col("len") +: (0 until n).map(k =>
        col("__slots")(k).getField("positions").as(s"pos$k")): _*)
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
        (param(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
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
      val (pred, local) = Searcher.regexMatch(p)
      val ts = dictRange(Some(local)) match {
        case Some(ms) =>
          Option.when(ms.size <= Searcher.MaxClauseCount)(ms.keySet)
        case None => dictMatches(pred, Some(Searcher.MaxClauseCount))
      }
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
        (param(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
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
        (param(sumIdf) * sim.tfNorm(col("tfp"), col("len"), idx.avgdl))
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
    scoredOverTerms(ranked.toSet).filter(col("docid") =!= src)
  }

  /** Driver-side dictionary lookup (TermInfosReader analog, SURVEY
    * §4.2): every df the query layer scores with comes from here. It
    * reads the index's resident dictionary ([[InvertedIndex.dictionary]],
    * loaded once per commit point and shared by every Searcher), so a
    * lookup runs no job. An index whose dictionary is too large to hold
    * falls back to one single-stage scan of the per-segment dictionaries
    * with the term set pushed down as `In`, summed per term here and
    * memoized per Searcher like the reference's per-thread TermInfo cache
    * (TermInfosReader.cs:203-224). */
  private val dfMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
  def dfOf(terms: Set[String]): Map[String, Long] = idx.dictionary match {
    case Some(d) => terms.flatMap(t => d.df(t).map(t -> _)).toMap
    case None =>
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
    * possibly boosted TermQ, so every query reads the one shared scan).
    * The registry is one [[clauseArray]] keyed by (qid, docid), each
    * query's group meta looked up by qid in the task closure, and the
    * same boolean fold as [[score]] — so each query's rows are rank-
    * and score-identical to its own topK run.
    *
    * Output (qid, rank, docid, score) ordered by (qid, rank). The
    * per-query rank is a window partitioned by qid — one sort shuffle
    * over all candidates of all queries; size the registry per job run
    * accordingly (the scan amortization is the win, the window is the
    * bound). */
  def topKBatch(queries: Seq[(String, BoolQ)], k: Int): DataFrame = {
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids in the batch registry")
    val nodes = queries.map { case (qid, q) =>
      val cl = clausesOf(q)
      cl.zipWithIndex.foreach { case ((c, _), i) =>
        require(asSimpleTerm(c).isDefined,
          s"topKBatch requires flat term-bag queries; clause $i of " +
            s"'$qid' is not a (boosted) TermQ")
      }
      qid -> cl
    }
    // every clause is a term, so the array is flat and a query's meta
    // needs no groups
    val (arr, _, flat) = clauseArray(nodes, keyed = true)
    val meta = queries.map { case (qid, q) =>
      qid -> Searcher.Node(q.must.size, q.should.size, q.minShouldMatch, Nil)
    }.toMap
    // the meta lookup in a projection of its own (see termScores)
    boolOf(arr.withColumn("__node",
        Searcher.lookup(meta, col("qid"), Searcher.NodeType)),
      Seq("qid", "docid"), col("__node"), flat)
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
    * clause-array fold of [[score]] against an independent
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
      // Similarity (the scoring path coords in boolFold)
      val rawParts = flatten(array(allParts: _*))
      val rawSum = aggregate(rawParts, lit(0.0),
        (a, x) => a + x.getField("value"))
      val overlap = lit(must.size.toLong) + scnt.cast("long")
      val maxOverlap = must.size + should.size
      val coorded = sim.applyCoord(rawSum, overlap, lit(maxOverlap))
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

  /** One clause of a boolean or DisMax node as a group of the per-doc
    * clause array: its occur in the node (m/s/n) and its own boolean
    * algebra (nMust, nShould, msm) — (1, 0, 0) for a clause that is one
    * row per matching doc. */
  private[search] final case class Group(gid: Int, occur: String,
      nMust: Int, nShould: Int, msm: Int)

  /** A node's own (nMust, nShould, msm) and its groups in gid order. */
  private[search] final case class Node(nMust: Int, nShould: Int, msm: Int,
      groups: Seq[Group])

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

  /** Estimated rows at or below which a point query runs in one task
    * ([[oneTask]]): the measured crossover. On 4 local cores, one task
    * against the parallel plan for OR, AND and phrase folds was 6–20%
    * faster up to about 4k rows, about even from 5k to 16k, and slower
    * from 32k (by 3–14%) to 512k rows (by 2.3x), on stores of 12k and
    * 300k synthetic turns. */
  val SingleTaskRows: Long = 1L << 14

  /** `df` on one partition when the query reads at most
    * [[SingleTaskRows]] rows (`rows`, an estimate): the fold above it
    * then runs in the scan's task — one partition satisfies every
    * clustered distribution, so no exchange is planned, and a
    * point query is one job of one task instead of a shuffle-map job
    * plus a result job. Larger reads keep the parallel scan and its
    * exchange. */
  private[search] def oneTask(df: DataFrame, rows: Long): DataFrame =
    if (rows <= SingleTaskRows) df.coalesce(1) else df

  /** `m(key)` as a column of type `dt`: a hash lookup in the task
    * closure. A Java UDF with its type given, so building one derives
    * no encoder by reflection. */
  private[search] def lookup[V](m: Map[String, V], key: Column,
      dt: DataType): Column =
    udf(new UDF1[String, Any] { def call(k: String): Any = m(k) }, dt)
      .apply(key)

  /** A per-query number (an idf or an idf sum) as a plan parameter. A
    * literal would be inlined into the generated Java source, so each
    * distinct value would compile a class of its own; this is a
    * non-foldable call that returns `v`, and same-shape queries share
    * one compiled plan. Marked nondeterministic only so the optimizer
    * does not fold it back into a literal. */
  private[search] def param(v: Double): Column =
    udf(new UDF0[java.lang.Double] { def call(): java.lang.Double = v },
      DoubleType)
      .asNondeterministic().apply()

  /** A [[Node]] (whose groups are never empty) as a struct literal
    * built from column literals — no reflection per call, unlike
    * `typedLit`. */
  private[search] def nodeLit(n: Node): Column = {
    val groups = n.groups.map(g => struct(lit(g.gid).as("gid"),
      lit(g.occur).as("occur"), lit(g.nMust).as("nMust"),
      lit(g.nShould).as("nShould"), lit(g.msm).as("msm")))
    struct(lit(n.nMust).as("nMust"), lit(n.nShould).as("nShould"),
      lit(n.msm).as("msm"), array(groups: _*).as("groups"))
  }

  private[search] lazy val NodeType: StructType = Encoders.product[Node].schema

  /** Type of a term's clause rows in `perClause`. */
  private[search] lazy val ClauseRowsType: DataType = ArrayType(
    Encoders.product[(String, Int, Int, String, Double)].schema)

  private[search] lazy val TermDfEnc = Encoders.product[(String, Long)]

  /** A whole-term regex as (dictionary predicate, (literal prefix,
    * regex)): the prefix is a startsWith pre-filter — a range on a
    * term-sorted dictionary — and the regex is anchored, as
    * RegexTermEnum matches whole terms. */
  private[search] def regexMatch(pat: String)
      : (Column, (String, Option[String])) = {
    val rx = "^(?:" + pat + ")$"
    val pfx = regexLiteralPrefix(pat)
    val pred = col("term").rlike(rx)
    (if (pfx.nonEmpty) col("term").startsWith(pfx) && pred else pred,
      (pfx, Some(rx)))
  }

  /** Sort columns for a SortField spec + the mandatory docid tie-break. */
  def sortOrder(sorts: Seq[SortField]): Seq[Column] =
    sorts.map { s =>
      val c = if (s.field == "score") col("score") else col(s.field)
      if (s.desc) c.desc else c.asc
    } :+ col("docid").asc

  /** Split q into k+1 near-equal contiguous pieces (pigeonhole candidate
    * filter for edit distance <= k). An empty piece (q shorter than k+1)
    * degrades to contains("") == full scan — still correct, so at most
    * q.length + 1 pieces are cut. */
  def pigeonPieces(q: String, k: Int): Seq[String] = {
    val n = math.min(k, q.length) + 1
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
