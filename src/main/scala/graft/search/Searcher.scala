package graft.search

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{BlockRow, Codec, InvertedIndex}

/** Query execution: AST → (docid, score) DataFrame plans.
  *
  * The reference scores a document at a time in compiled scorers
  * (BooleanScorer2, BooleanQuery.cs:350-424; DisjunctionMaxQuery as a
  * second fold over the same sub-scorers; the exact and sloppy
  * PhraseScorers, SpanScorer and the payload scorers walking position
  * iterators). Here each of them is one typed per-doc fold
  * ([[Searcher.perDoc]]): a `mapPartitions` over posting blocks that
  * decodes each block, gathers each doc's postings in a hash map and
  * folds them in plain Scala, a posting scoring [[Similarity.scoreD]].
  *  - Boolean and DisMax trees ([[Searcher.Fold]]): every (boosted) term
  *    leaf, at any depth, is read by one scan of the terms' blocks, and
  *    every other leaf is its own [[score]] frame, unioned into the
  *    fold's input as one-doc rows. Leaves are slots numbered in
  *    clause order, and one walk of the tree over a doc's slots applies
  *    the boolean algebra (must/should/not counts, minShouldMatch, coord)
  *    or the DisMax one (max + tie·(sum − max)), nested nodes
  *    recursively. [[topKBatch]] folds many queries' trees over one scan.
  *  - A phrase, span or payload query ([[positions]]) reads the block
  *    table once for its distinct terms (decoding payloads only for the
  *    payload family), and scores each doc's view — its positions per
  *    leaf and its length — with a scalar function: the phrase freq, the
  *    flat span freqs, the span algebra's (start, end) intervals, the
  *    payload functions. No position query joins posting frames.
  *  - An ordered sum (the scoring multi-term rewrites, the fuzzy queries)
  *    adds a doc's term scores in Spark's string order.
  * Scoring is a pluggable [[Similarity]] strategy (Similarity.cs:398-503):
  * BM25 by default (coord intentionally dropped, BM25-era Lucene drops it;
  * SURVEY §7.7), the reference's classic TF-IDF with coord via
  * [[ClassicSim]].
  *
  * Determinism: every fold adds in a fixed order — a boolean's musts,
  * then its shoulds, each in clause order; a sloppy phrase over its first
  * slot's positions; a span query over its starts, ascending; an ordered
  * sum by term — whatever the partition layout, so scores are bit-stable
  * run to run (SURVEY §7 hard-part #1).
  *
  * Per-query fixed cost: a point query ([[topK]] of a term, boolean,
  * phrase, prefix or keyword-and-term query) on an index whose block
  * files fit [[InvertedIndex.RoutedBytes]] runs no Spark job: it folds
  * on the driver over the blocks the index holds
  * ([[InvertedIndex.heldBlocks]]) and returns a local relation. On a
  * larger index it is one Spark job with no exchange. df, prefix and
  * range expansions come from the index's
  * resident dictionary and deletes from its resident delete set (no
  * dictionary or delete-set job). A keyword leaf of a boolean or DisMax
  * tree tests a string field's doc sets, which the index holds once per
  * commit point ([[InvertedIndex.keywordDocs]], up to its resident rows):
  * the reference's FieldCache.StringIndex, which FieldCacheTermsFilter
  * matches docs against instead of reading stored fields
  * (FieldCacheTermsFilter.cs:97, FieldCache.cs:375-589). Such a leaf
  * estimates its value's docs, and in a fold of at most
  * [[Searcher.SingleTaskRows]] estimated rows its docs are emitted in the
  * fold's own task, so no task carries more docids than that; above it,
  * and for a field not held, the leaf stays a frame of the docs table.
  * A single-task fold of term blocks and held keyword leaves — a term,
  * boolean or DisMax of terms and keywords, a scored or constant
  * multi-term rewrite, a fuzzy query, a phrase, span or payload query
  * without masks — is served without planning. An index whose block
  * files together fit [[InvertedIndex.RoutedBytes]] holds its blocks on
  * the driver, read with the dictionary once per commit point: the fold
  * runs there, over its terms' held blocks, and its rows are a local
  * relation whose collect starts no job (the reference's RAMDirectory,
  * RAMDirectory.cs). A larger index holds its block
  * table as one prepared scan ([[InvertedIndex.preparedBlocks]], planned
  * once per commit point) and, read with the dictionary, which of that
  * scan's partitions hold each term ([[InvertedIndex.partitionsOf]]), the
  * analog of the reference's TermInfo file pointers
  * (TermInfosReader.cs:178-224: term → df and where its postings start).
  * The query prunes the scan to its terms' partitions, coalesces them
  * into one task that drops other terms' rows, decodes and folds its own
  * and keeps a bounded heap of the k best docs, and returns a DataFrame
  * over that RDD: no analysis, optimization, codegen or
  * Hadoop-configuration broadcast of a scan per query. The prepared scan
  * reads its partitions whole, so a fold whose terms' partitions hold
  * more than [[InvertedIndex.RoutedBytes]] plans its scan instead, and
  * Parquet skips the row groups its term filter excludes. That, and a
  * single-task fold with frames (keywords not held, range and function
  * frames, span masks), is one planned block scan feeding one
  * `mapPartitions`: a filtered scan, `coalesce(1)`, one
  * `DeserializeToObject`, the fold, and nothing after it — no aggregate,
  * exchange, adaptive wrapper or TakeOrderedAndProject (whose
  * `takeOrdered` sends closures through Spark's ClosureCleaner on every
  * query). Per-query numbers (df and idf, boosts, held docids) live in
  * the fold's closure, never in literals, so a same-shape query compiles
  * nothing new.
  */
final class Searcher(idx: InvertedIndex, sim: Similarity = Bm25Sim) {
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

  /** TermQ, possibly boost-wrapped — the leaf shape the shared scan of
    * [[foldTrees]] reads. */
  private def asSimpleTerm(q: Query): Option[(String, Double)] = q match {
    case TermQ(t) => Some((t, 1.0))
    case BoostQ(sub, b) => asSimpleTerm(sub).map { case (t, b0) => (t, b0 * b) }
    case _ => None
  }

  /** A BoolQ's clauses tagged m/s/n, in (must, should, mustNot) order. */
  private def clausesOf(q: BoolQ): Seq[(Query, Char)] = {
    require(q.must.nonEmpty || q.should.nonEmpty, "empty BooleanQuery")
    val cl = q.must.map((_, 'm')) ++ q.should.map((_, 's')) ++
      q.mustNot.map((_, 'n'))
    require(cl.size <= Searcher.MaxClauseCount,
      s"too many boolean clauses (maxClauseCount=${Searcher.MaxClauseCount})")
    cl
  }

  /** The per-doc fold of boolean and DisMax trees, query `qi` the i-th
    * of `queries`, as (qi, docid, score) for every query a doc satisfies
    * — with `k`, each query's k best ([[Searcher.perDoc]]). BoolQ and
    * DisMaxQ nodes recurse; every other clause is a leaf taking its
    * query's next slot, so slots follow clause order, depth first. The
    * term leaves of every tree are read by ONE scan of their blocks, each
    * posting scored by [[Similarity.scoreD]]. The fold runs in one task
    * when the leaves read few rows, unless `parallel`; there a keyword
    * leaf whose docs the index holds ([[held]]) adds them in that task,
    * and every other leaf is its own [[score]] frame unioned in as
    * one-doc rows. */
  private def foldTrees(queries: Seq[Query], parallel: Boolean,
      k: Option[Int]): DataFrame = {
    val terms = Seq.newBuilder[(String, (Int, Int, Double))]
    val others = ArrayBuffer.empty[(Int, Int, Query)]
    var est = 0L
    val trees = queries.zipWithIndex.map { case (q, qi) =>
      var slots = 0
      def treeOf(c: Query): Searcher.Fold = c match {
        case b: BoolQ =>
          Searcher.BoolNode(b.must.size, b.should.size, b.minShouldMatch,
            clausesOf(b).map { case (x, occur) => (occur, treeOf(x)) })
        case DisMaxQ(ds, tie) =>
          require(ds.nonEmpty, "empty DisjunctionMaxQuery")
          Searcher.MaxNode(tie, ds.map(treeOf))
        case _ =>
          val slot = slots
          slots += 1
          asSimpleTerm(c) match {
            case Some((t, b)) => terms += ((t, (qi, slot, b)))
            case None => others += ((qi, slot, c))
          }
          est += estRows(c)
          Searcher.Leaf(slot)
      }
      treeOf(q)
    }
    // a non-term leaf, numbered in `others`, is held docs in a one-task
    // fold, else a frame; no task carries more than SingleTaskRows docids
    val one = !parallel && est <= Searcher.SingleTaskRows
    val (heldLeaves, frames) = others.toSeq.zipWithIndex.partitionMap {
      case ((_, _, c), leaf) =>
        (if (one) held(c) else None) match {
          case Some((docs, sc)) => Left((leaf, docs, sc))
          case None => Right(score(c).select(col("docid"),
            lit(leaf).as("leaf"), col("score"), lit(-1L).as("len")))
        }
    }
    // a term posting scores idf × tfNorm(tf, len) (Similarity.scoreD),
    // times the boost of each (qi, slot, boost) leaf of the term; a
    // non-term row is the (qi, slot) leaf `others` numbers it
    val dfs = dfOf(terms.result().map(_._1).toSet)
    val byTerm = terms.result().groupMap(_._1)(_._2).collect {
      case (t, ls) if dfs.contains(t) =>
        t -> (sim.idfColD(idx.numDocs, dfs(t)), ls.toArray) }
    val (s, avgdl, fold) = (sim, idx.avgdl, trees.toArray)
    val at = others.map { case (qi, slot, _) => (qi, slot) }.toArray
    Searcher.perDoc[ArrayBuffer[(Int, Double)]](idx,
        Searcher.Blocks.of(byTerm.keys.toSeq.sorted), frames,
        if (parallel) Long.MaxValue else est, Searcher.Freqs, k,
        queries.size, heldLeaves)(() => ArrayBuffer.empty) { (h, hits) =>
      if (h.term == null) {
        val (qi, slot) = at(h.leaf)
        hits(Searcher.DocKey(qi, h.docid)) += ((slot, h.score))
      } else {
        val (idf, ls) = byTerm(h.term)
        val x = idf * s.tfNormD(h.tf.toDouble, h.len, avgdl)
        ls.foreach { case (qi, slot, b) =>
          hits(Searcher.DocKey(qi, h.docid)) += ((slot, x * b)) }
      }
    } { (key, hits) =>
      val e = new Searcher.Eval(s, hits.sortBy(_._1))
      Option.when(e(fold(key.qi)))(e.score)
    }
  }

  /** Evaluate to one row per matching doc: (docid: long, score: double). */
  def score(q: Query): DataFrame = folded(q, None).getOrElse(q match {
    case FunctionQ(e) =>
      // ValueSourceQuery: every live doc, score = f(forward columns)
      idx.docs.select(col("docid"), expr(e).cast("double").as("score"))

    case CustomScoreQ(sub, e) =>
      score(sub)
        .join(idx.docs.select(col("docid"),
          expr(e).cast("double").as("__cs")), Seq("docid"))
        .select(col("docid"), (col("score") * col("__cs")).as("score"))

    case MatchAllQ =>
      idx.docs.select(col("docid"), lit(1.0).as("score"))

    case MatchNoneQ => noDocs

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

    case MoreLikeThisQ(src, topN) => moreLikeThis(src, topN)

    case other => sys.error(s"unsupported query: $other")
  })

  /** No doc, as (docid, score). */
  private def noDocs: DataFrame =
    idx.docs.select(col("docid"), lit(1.0).as("score")).filter(lit(false))

  /** A query the per-doc fold scores — terms, booleans and DisMax, the
    * position queries, the multi-term and fuzzy queries — as (docid,
    * score) for every match or, with `k`, the k best in (score desc,
    * docid asc) order ([[Searcher.perDoc]]); None for any other query. */
  private def folded(q: Query, k: Option[Int]): Option[DataFrame] = q match {
    case _: TermQ | _: BoolQ | _: DisMaxQ =>
      Some(foldTrees(Seq(q), parallel = false, k).select("docid", "score"))

    case _: PhraseQ | _: MultiPhraseQ | _: SpanFirstQ | _: SpanNearQ |
        _: SpanNotQ | _: SpanOrQ | _: SpanQ | _: PayloadTermQ |
        _: PayloadNearQ | _: PayloadSpanNearQ =>
      Some(positions(q, None, k))

    case PrefixQ(p, rw) =>
      Some(multiTerm(col("term").startsWith(p), rw, Some(_.withPrefix(p)), k))

    case RegexQ(pat, rw) =>
      // whole-term match (RegexTermEnum anchors the pattern); a literal
      // pattern prefix becomes a startsWith pre-filter — a range scan on
      // a term-sorted dictionary instead of a full regex scan (the
      // WildcardTermEnum.cs:32 prefix-seek analog)
      val (pred, local) = Searcher.regexMatch(pat)
      Some(multiTerm(pred, rw, Some(local), k))

    case WildcardQ(pat, rw) =>
      // constant-prefix pushdown (WildcardTermEnum.cs:32: the enum seeks
      // to the literal prefix before matching): `spark*`-style patterns
      // become a dictionary RANGE predicate + residual regex, not a full
      // dictionary regex scan
      val rx = Searcher.globToRegex(pat)
      val pfx = pat.takeWhile(c => c != '*' && c != '?')
      val pred = col("term").rlike(rx)
      Some(multiTerm(
        if (pfx.nonEmpty) col("term").startsWith(pfx) && pred else pred,
        rw, Some(Searcher.matching(pfx, Some(rx))), k))

    case TermRangeQ(lo, hi, il, ih, rw, coll) =>
      // an uncollated range is one slice of the resident dictionary,
      // which keeps Spark's string order. The collated variant
      // (TermRangeQuery.cs:96) compares under the ICU locale collation —
      // native in Spark 4 (collate() stays inside codegen), so that range
      // is a dictionary-scan predicate, never a driver loop
      val t = coll.map(c => collate(col("term"), c)).getOrElse(col("term"))
      val conds = Seq(
        lo.map(v => if (il) t >= v else t > v),
        hi.map(v => if (ih) t <= v else t < v)).flatten
      Some(multiTerm(conds.reduceOption(_ && _).getOrElse(lit(true)), rw,
        Option.when(coll.isEmpty)(_.range(lo, hi, il, ih)), k))

    case FuzzyQ(t, maxEdits) => Some(fuzzy(t, maxEdits, k))

    case FuzzyLikeThisQ(text, maxEdits, maxNumTerms) =>
      Some(fuzzyLikeThis(text, maxEdits, maxNumTerms, k))

    case _ => None
  }

  /** FuzzyQ: the terms within `maxEdits` edits of `t`, each scoring its
    * postings times its similarity boost, summed in term order. */
  private def fuzzy(t: String, maxEdits: Int, k: Option[Int]): DataFrame = {
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
    // scored negatively. The candidates are few (bounded scans):
    // collected, they are the literal term set of one block scan
    val cand = fuzzyCandidates(t, maxEdits)
      .withColumn("dist", levenshtein(col("term"), lit(t)))
      .filter(col("dist") <= maxEdits)
      .withColumn("boost", lit(1.0) - col("dist").cast("double") /
        least(length(col("term")), lit(t.length)).cast("double"))
      .filter(col("boost") > 0)
      .select(col("term"), col("df"), col("boost")).collect()
    ordSum(cand.toSeq.map(r => (r.getString(0), r.getString(0),
      sim.idfColD(idx.numDocs, r.getLong(1)), r.getDouble(2))),
      idx.numDocs, k)
  }

  /** FuzzyLikeThisQ: the best fuzzy variants of the analyzed `text`'s
    * terms, each scoring its postings with its source term's weight. */
  private def fuzzyLikeThis(text: String, maxEdits: Int, maxNumTerms: Int,
    k: Option[Int]): DataFrame = {
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
    if (srcTerms.isEmpty) return noDocs
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
    // separate FuzzyTermQuery instances), each adding vscore ×
    // tfNorm in the order of its ord, src|term.
    val selRows = sel.collect()
    if (selRows.isEmpty) noDocs
    else ordSum(selRows.toSeq.map(r => (r.getString(0),
      r.getString(1) + "|" + r.getString(0), r.getDouble(2), 1.0)),
      idx.numDocs, k)
  }

  /** Each doc's sum from 0.0 of its postings' contributions in the order
    * of their ords, Spark's string order ([[InvertedIndex.Utf8Order]]) as
    * `sort_array` orders a string: a (term, ord, w, f) entry adds
    * (w × tfNorm(tf, len)) × f for each posting of the term. `est` is the
    * rows the fold reads. */
  private def ordSum(entries: Seq[(String, String, Double, Double)],
      est: Long, k: Option[Int]): DataFrame = {
    val byTerm = entries.groupMap(_._1) { case (_, ord, w, f) => (ord, w, f) }
      .map { case (t, es) => t -> es.toArray }
    val (s, avgdl) = (sim, idx.avgdl)
    Searcher.perDoc[ArrayBuffer[(String, Double)]](idx,
        Searcher.Blocks.of(byTerm.keys.toSeq.sorted), Nil, est,
        Searcher.Freqs, k)(() => ArrayBuffer.empty) { (h, docs) =>
      val tfn = s.tfNormD(h.tf.toDouble, h.len, avgdl)
      val xs = docs(Searcher.DocKey(0, h.docid))
      byTerm(h.term).foreach { case (ord, w, f) => xs += ((ord, w * tfn * f)) }
    } { (_, xs) =>
      Some(xs.sortBy(_._1)(InvertedIndex.Utf8Order).foldLeft(0.0)(_ + _._2))
    }.select("docid", "score")
  }

  /** Multi-term rewrite dispatch (MultiTermQuery.cs:58-200). The auto
    * heuristic enumerates the matched dictionary terms at PLAN time, as
    * the reference's term enum walk does at rewrite time: the matches
    * decide scoring vs constant and, when scoring, are also the literal
    * term set of the postings scan. `local` is `dictPred` as a walk of
    * the resident dictionary; with it the matches cost no job. */
  private def multiTerm(dictPred: Column, rw: MultiTermRewrite,
      local: Option[Searcher.Local], k: Option[Int]): DataFrame =
    dictRange(local) match {
      case Some(ms) =>
        if (rw == ScoringBoolean ||
            rw == AutoRewrite && ms.size <= Searcher.AutoRewriteTermCap)
          scoredOverTerms(ms.keySet, k)
        else constantOverTerms(
          Searcher.Blocks(Some(ms.keys.toSeq.sorted), dictPred),
          ms.values.sum, k)
      case None => rw match {
        case ConstantScore =>
          constantOverTerms(Searcher.Blocks(None, dictPred), Long.MaxValue, k)
        case ScoringBoolean =>
          scoredOverTerms(dictMatches(dictPred, None).get, k)
        case AutoRewrite =>
          dictMatches(dictPred, Some(Searcher.AutoRewriteTermCap)) match {
            case Some(terms) => scoredOverTerms(terms, k)
            case None => constantOverTerms(Searcher.Blocks(None, dictPred),
              Long.MaxValue, k)
          }
      }
    }

  /** The terms (with df) a [[Searcher.Local]] walk finds in the
    * resident dictionary, on the driver. None when the index holds no
    * resident dictionary or the query has no local form. */
  private def dictRange(local: Option[Searcher.Local])
      : Option[Map[String, Long]] =
    for (d <- idx.dictionary; walk <- local) yield walk(d).toMap

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

  /** Constant-score multi-term rewrite (MultiTermQuery.cs:84-114): the
    * blocks of the matched terms — the term set a resident dictionary
    * lists, else the dictionary predicate as a pushed-down scan filter —
    * one row per doc at score 1.0; in one task when the matched terms'
    * postings (`rows`) are few. */
  private def constantOverTerms(blocks: Searcher.Blocks, rows: Long,
      k: Option[Int]): DataFrame =
    Searcher.perDoc[AnyRef](idx, blocks, Nil, rows, Searcher.Freqs, k)(
        () => None) { (h, docs) =>
      docs(Searcher.DocKey(0, h.docid))
    } { (_, _) => Some(1.0) }.select("docid", "score")

  /** Scoring-boolean multi-term rewrite (MultiTermQuery.cs:117-151)
    * over the expanded term set: every posting scored as a term query's
    * ([[Similarity.scoreD]]); per-doc sum in term order (deterministic
    * float fold, same as FuzzyQ). */
  private def scoredOverTerms(terms: Set[String], k: Option[Int])
      : DataFrame = {
    val dfs = dfOf(terms)
    ordSum(dfs.toSeq.map { case (t, df) =>
      (t, t, sim.idfColD(idx.numDocs, df), 1.0) }, dfs.values.sum, k)
  }

  /** The rows a query's plan reads, estimated for [[Searcher.oneTask]]:
    * Σ df of its terms from [[dfOf]] (a phrase reads each distinct term
    * once), the matched terms' df for a prefix on the resident
    * dictionary, a held keyword's docs ([[held]]), and numDocs for any
    * other frame. */
  private def estRows(q: Query): Long = q match {
    case TermQ(t) => dfOf(Set(t)).getOrElse(t, 0L)
    case KeywordQ(_, _) => held(q).fold(idx.numDocs)(_._1.length.toLong)
    case BoostQ(sub, _) => estRows(sub)
    case b: BoolQ => (b.must ++ b.should ++ b.mustNot).map(estRows).sum
    case DisMaxQ(ds, _) => ds.map(estRows).sum
    case PhraseQ(ts, _) => dfOf(ts.map(_._1).toSet).values.sum
    case MultiPhraseQ(slots) => dfOf(slots.flatMap(_._1).toSet).values.sum
    case PrefixQ(p, _) =>
      dictRange(Some(_.withPrefix(p))).fold(idx.numDocs)(_.values.sum)
    case _ => idx.numDocs
  }

  /** A keyword leaf, possibly boost-wrapped, whose docs the index holds
    * with its delete set ([[InvertedIndex.keywordDocs]]): its docids,
    * deleted ones still in, and its score, 1.0 times each boost inside
    * out, as its [[score]] frame computes it. None for any other leaf. */
  private def held(q: Query): Option[(Array[Long], Double)] = q match {
    case KeywordQ(f, v) if idx.deletedIds.isDefined =>
      idx.keywordDocs(f).map(ds => (ds(v), 1.0))
    case BoostQ(sub, b) => held(sub).map { case (ds, sc) => (ds, sc * b) }
    case _ => None
  }

  /** The phrase, span and payload families (PhraseQuery.cs, SpanScorer.cs:28,
    * NearSpansOrdered.cs:47, NearSpansUnordered.cs:32,
    * PayloadNearQuery.cs:52), each a scalar function of one doc's view
    * ([[Searcher.LeafDoc]]: its positions per leaf, payloads in a payload
    * query, and its length) in one per-doc fold ([[positional]]). A doc
    * whose freq is positive scores idfSum × tfNorm(freq, len), times the
    * payload function in a payload query (or that alone, without
    * includeSpanScore). The flat and payload queries sum idf over their
    * clauses as given, a repeated term each time; `est` overrides the
    * fold's estimated rows, and with `k` only the k best docs are kept. */
  private[search] def positions(q: Query, est: Option[Long] = None,
      k: Option[Int] = None): DataFrame = {
    import Spans.TermLeaf
    def payWeighted(idf: Double, fn: PayloadFn, inc: Boolean) =
      Searcher.payWeighted(sim, idf, idx.avgdl, fn, inc) _
    q match {
      case PhraseQ(ts, slop) =>
        require(ts.nonEmpty, "empty phrase")
        phrase(ts.map { case (t, off) => (Seq(t), off) }, slop, est, k)
      case MultiPhraseQ(slots) =>
        require(slots.nonEmpty, "empty multi-phrase")
        phrase(slots, 0, est, k)
      case SpanFirstQ(t, end) =>
        positional(Seq(TermLeaf(t)), est, k)(weighted(idfOf(Seq(t)))(
          _.pos(0).count(_ < end).toDouble))
      case SpanNearQ(a, b, slop, inOrder) =>
        positional(Seq(a, b).map(TermLeaf), est, k)(weighted(idfOf(Seq(a, b)))(
          d => Searcher.nearFreq(d.pos(0), d.pos(1), slop, inOrder,
            Array.emptyIntArray)))
      case SpanNotQ(a, b, slop, exc) =>
        positional(Seq(a, b, exc).map(TermLeaf), est, k)(
          weighted(idfOf(Seq(a, b)))(d => Searcher.nearFreq(d.pos(0), d.pos(1), slop, true, d.pos(2))))
      case SpanOrQ(ts) =>
        // SpanOrQuery's freq: the summed tf of its distinct terms
        positional(ts.distinct.map(TermLeaf), est, k)(weighted(idfOf(ts.distinct))(
          _.pos.map(_.length.toLong).sum.toDouble))
      case SpanQ(sp) => spanQuery(sp, est, k)
      case PayloadTermQ(t, fn, inc) =>
        // PayloadTermQuery.cs:26-40: the term's bm25 times fn of its
        // payloads, in position order, weighted with the plan's idf
        // (StrictMath's log, which can differ from the driver's idf in
        // the last bit)
        val idf = sim.idfColD(idx.numDocs, dfOf(Set(t)).getOrElse(t, 0L))
        positional(Seq(TermLeaf(t)), est, k, pay = true)(
          payWeighted(idf, fn, inc)(d =>
            (d.pos(0).length.toDouble, d.pay(0).map(_.toDouble))))
      case PayloadNearQ(a, b, slop, fn, inc) =>
        // the ordered two-clause PayloadSpanNearQ
        positional(Seq(a, b).map(TermLeaf), est, k, pay = true)(
          payWeighted(idfOf(Seq(a, b)), fn, inc)(d =>
            Searcher.payNear(d.pos, d.pay, slop, inOrder = true)))
      case PayloadSpanNearQ(ts, slop, fn, inc, inOrder) =>
        require(ts.size >= 2, "payload span-near needs >= 2 clauses")
        positional(ts.map(TermLeaf), est, k, pay = true)(
          payWeighted(idfOf(ts), fn, inc)(d =>
            Searcher.payNear(d.pos, d.pay, slop, inOrder)))
      case other => sys.error(s"not a position query: $other")
    }
  }

  /** idfSum × tfNorm(freq, len) of each doc whose `freq` is positive. */
  private def weighted(idfSum: Double) =
    Searcher.weighted(sim, idfSum, idx.avgdl) _

  /** Σ idf of `ts` in order; a term absent from the dictionary adds
    * idf(df = 0). */
  private def idfOf(ts: Seq[String]): Double = {
    val dfs = dfOf(ts.toSet)
    ts.map(t => sim.idf(idx.numDocs, dfs.getOrElse(t, 0L))).sum
  }

  /** The per-doc fold of a position query over `leaves`: ONE read of the
    * block table for their distinct terms (positions decoded, payloads
    * too when `pay`), and, unioned in, a row at position 0 for each doc a
    * mask leaf matches — its length from docLens when `maskLens`, as a
    * doc matched through masks alone may hold none of the terms. Leaf i
    * is index i of each doc's [[Searcher.LeafDoc]] (a term listed twice
    * fills both); `score` gives a doc's score or none, and with `k` only
    * the k best docs are kept. The rows estimate is Σ df of the terms
    * plus numDocs for each mask. */
  private def positional(leaves: Seq[Spans.SLeaf], est: Option[Long],
      k: Option[Int], pay: Boolean = false, maskLens: Boolean = false)(
      score: Searcher.LeafDoc => Option[Double]): DataFrame = {
    import Spans.{MaskLeaf, TermLeaf}
    val terms = leaves.collect { case TermLeaf(t) => t }.distinct
    val masks = leaves.zipWithIndex.collect { case (MaskLeaf(f, v), i) =>
      val docs = idx.docs.filter(col(f) === v).select("docid")
      (if (maskLens) docs.join(idx.docLens, Seq("docid"))
        else docs.withColumn("len", lit(-1L)))
        .select(col("docid"), lit(i).as("leaf"), lit(0.0).as("score"),
          col("len"))
    }
    val leafOf = leaves.zipWithIndex.collect { case (TermLeaf(t), i) => t -> i }
      .groupMap(_._1)(_._2).map { case (t, is) => t -> is.toArray }
    val n = leaves.size
    Searcher.perDoc[Searcher.LeafDoc](idx, Searcher.Blocks.of(terms), masks,
        est.getOrElse(dfOf(terms.toSet).values.sum + masks.size * idx.numDocs),
        if (pay) Searcher.Payloads else Searcher.Positions, k)(
        () => new Searcher.LeafDoc(n)) { (h, docs) =>
      val doc = docs(Searcher.DocKey(0, h.docid))
      (if (h.term == null) Array(h.leaf) else leafOf(h.term))
        .foreach { l => doc.pos(l) = h.positions; doc.pay(l) = h.payloads }
      if (h.len >= 0) doc.len = h.len
    } { (_, doc) => score(doc) }.select("docid", "score")
  }

  /** Phrase scoring (PhraseQuery.cs; ExactPhraseScorer and
    * SloppyPhraseScorer; MultiPhraseQuery): each slot's positions — the
    * union of its terms' — matched against the first slot's
    * ([[Searcher.phraseFreq]]). tf_phrase feeds the tf slot of the
    * [[Similarity]] with the SUMMED idf of every slot term (PhraseWeight
    * semantics, PhraseQuery.cs:35; MultiPhraseQuery.cs:40). A slot none
    * of whose terms a doc holds rules the doc out. */
  private def phrase(slots: Seq[(Seq[String], Int)], slop: Int,
      est: Option[Long], k: Option[Int]): DataFrame = {
    val all = slots.flatMap(_._1)
    val terms = all.distinct
    val off0 = slots.head._2
    val ks = slots.map { case (ts, off) =>
      (ts.map(terms.indexOf).toArray, off - off0) }.toArray
    positional(terms.map(Spans.TermLeaf), est, k)(weighted(idfOf(all)) { d =>
      Searcher.phraseFreq(ks.map { case (ts, off) =>
        (ts.flatMap(d.pos(_)).distinct.sorted, off) }, slop)
    })
  }

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

  /** SpanQ: a doc's distinct spans of the regex-expanded tree
    * ([[Searcher.spanSet]]) reduce to its freq ([[Searcher.spanFreq]]),
    * weighted by the summed idf of the distinct scoring terms (SpanWeight
    * sums idf over every scoring-side leaf — SOr branches included, the
    * SNot exclude side and masked keyword leaves not); a term absent from
    * the dictionary adds none. */
  private def spanQuery(sp0: Span, est: Option[Long], k: Option[Int])
      : DataFrame = {
    val sp = expandSpanRegexes(sp0)
    val leaves = Spans.leaves(sp).distinct
    val at = leaves.zipWithIndex.toMap
    val req = Spans.requiredLeaves(sp)
    val scoring = Spans.scoringTerms(sp).distinct
    // a doc matches only if it holds every required leaf, so masks need
    // their own length only when no term is required
    positional(leaves, est, k,
        maskLens = !req.exists(_.isInstanceOf[Spans.TermLeaf]))(
      weighted(idfOf(scoring.filter(dfOf(scoring.toSet).contains))) { d =>
        Searcher.spanFreq(Searcher.spanSet(sp, d, at), req.size - 1)
      })
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
    if (ranked.isEmpty) noDocs
    else scoredOverTerms(ranked.toSet, None).filter(col("docid") =!= src)
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
    * (TopScoreDocCollector.cs:56-64,90), best first. A query the per-doc
    * fold scores keeps a bounded heap of its k best docs as it folds —
    * the reference's TopScoreDocCollector — so a single-task fold's rows
    * are the answer as they come, and above the single-task limit each
    * partition's k best are merged by one TakeOrderedAndProject (the
    * reference's MultiSearcher merge). Any other query is scored in full
    * and ordered the same way. */
  def topK(q: Query, k: Int): DataFrame =
    folded(q, Some(k)).getOrElse(
      score(q).orderBy(col("score").desc, col("docid").asc).limit(k))

  /** Batched multi-query top-k: ONE postings scan over the union of a
    * query registry's terms scores EVERY query at once — the query-set
    * replay shape at cluster scale (N queries amortize the dominant
    * cost, the scan, the way the percolator amortizes analysis; the
    * reference replays its query set one IndexSearcher.Search at a
    * time, one dictionary+postings walk EACH).
    *
    * Registry queries must be flat term-bag booleans (every clause a
    * possibly boosted TermQ, so every query reads the one shared scan).
    * The registry is one [[foldTrees]] of every query's tree, its rows
    * partitioned by docid and keyed by (query, docid) in the fold — the
    * same fold as [[score]], so each query's rows are rank- and
    * score-identical to its own topK run. Each partition's fold keeps
    * only each query's k best docs.
    *
    * Output (qid, rank, docid, score) ordered by (qid, rank). The
    * per-query rank is a window partitioned by query — one sort shuffle
    * over at most k × partitions rows per query. */
  def topKBatch(queries: Seq[(String, BoolQ)], k: Int): DataFrame = {
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids in the batch registry")
    queries.foreach { case (qid, q) =>
      clausesOf(q).zipWithIndex.foreach { case ((c, _), i) =>
        require(asSimpleTerm(c).isDefined,
          s"topKBatch requires flat term-bag queries; clause $i of " +
            s"'$qid' is not a (boosted) TermQ")
      }
    }
    val qids = queries.map(_._1).zipWithIndex.map(_.swap).toMap
    foldTrees(queries.map(_._2), parallel = true, Some(k))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qi"))
        .orderBy(col("score").desc, col("docid").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(Searcher.lookup(qids, col("qi"), StringType).as("qid"),
        col("rank"), col("docid"), col("score"))
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
    * per-doc tree fold of [[score]] against an independent
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
      // Similarity (the scoring path coords in the tree fold)
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

  /** Estimated rows at or below which a point query runs in one task
    * ([[oneTask]]): the measured crossover. On 4 local cores, one task
    * against the parallel plan for OR, AND and phrase folds was 6–20%
    * faster up to about 4k rows, about even from 5k to 16k, and slower
    * from 32k (by 3–14%) to 512k rows (by 2.3x), on stores of 12k and
    * 300k synthetic turns. */
  val SingleTaskRows: Long = 1L << 14

  /** `ds` on one partition when the query reads at most
    * [[SingleTaskRows]] rows (`rows`, an estimate), so the fold above it
    * runs in the scan's task and a point query is one job of one task;
    * else `ds` partitioned by docid, one exchange. */
  private[search] def oneTask[T](ds: Dataset[T], rows: Long): Dataset[T] =
    if (rows <= SingleTaskRows) ds.coalesce(1)
    else ds.repartition(col("docid"))

  /** The posting blocks a fold reads: those of the terms `pred` matches,
    * which are `terms` when the driver knows them. */
  private[search] final case class Blocks(terms: Option[Seq[String]],
      pred: Column)

  private[search] object Blocks {
    def of(terms: Seq[String]): Blocks =
      Blocks(Some(terms), col("term").isin(terms: _*))
  }

  /** A fold's input: `blocks`, and unioned in, the (docid, leaf, score,
    * len) rows of its non-term leaves. */
  private[search] def foldInput(blocks: DataFrame,
      leaves: Seq[DataFrame] = Nil): Dataset[FoldIn] =
    (blocks.select(col("term"), col("n"), col("min_docid").as("docid"),
        col("sum_tf"), col("docs"), col("lens"), col("pos"),
        lit(-1).as("leaf"), lit(0.0).as("score"), lit(-1L).as("len")) +:
      leaves.map(_.select(lit(null).cast("string").as("term"),
        lit(0).as("n"), col("docid"), lit(0L).as("sum_tf"),
        lit(null).cast("binary").as("docs"),
        lit(null).cast("binary").as("lens"),
        lit(null).cast("binary").as("pos"), col("leaf"), col("score"),
        col("len"))))
      .reduce(_ unionByName _).as(FoldInEnc)

  /** One row of a fold's input ([[perDoc]]): a posting block of a query
    * term, `docid` its first docid and `sum_tf` its tfs' sum; or, `term`
    * null, one doc of a non-term leaf numbered `leaf` — a keyword, range
    * or function frame with its `score`, or a span mask with the doc's
    * length `len` when known (else -1). */
  final case class FoldIn(term: String, n: Int, docid: Long, sum_tf: Long,
      docs: Array[Byte], lens: Array[Byte], pos: Array[Byte], leaf: Int,
      score: Double, len: Long)

  /** One decoded row of a fold: a term's posting (`leaf` -1; positions
    * and payloads when the fold decodes them, else null), or a non-term
    * leaf's doc at position 0. */
  final case class Hit(docid: Long, term: String, tf: Long, len: Long,
      positions: Array[Int], payloads: Array[Float], leaf: Int,
      score: Double)

  /** What a fold decodes of each posting: tf and length, positions too,
    * or positions and payloads. */
  private[search] sealed trait Decode extends Serializable
  private[search] case object Freqs extends Decode
  private[search] case object Positions extends Decode
  private[search] case object Payloads extends Decode

  /** The hits of one fold input row; a posting of a doc in the sorted
    * delete set `deleted` is skipped. */
  private def hitsOf(r: FoldIn, what: Decode, deleted: Array[Long])
      : Iterator[Hit] =
    if (r.term == null)
      Iterator.single(Hit(r.docid, null, 1L, r.len, Array(0), null, r.leaf,
        r.score))
    else blockHits(BlockRow(r.term, r.n, r.docid, 0L, 0L, 0L, r.sum_tf,
      r.docs, r.lens, r.pos), what, deleted)

  /** The hits of one posting block, decoded as `what` asks, skipping the
    * docs of the sorted delete set `deleted`. */
  private def blockHits(b: BlockRow, what: Decode, deleted: Array[Long])
      : Iterator[Hit] = {
    val all = what match {
      case Freqs => Codec.decodeScoring(b).map { case (d, tf, len) =>
        Hit(d, b.term, tf, len, null, null, -1, 0.0) }
      case Positions => Codec.decode(b).map(p =>
        Hit(p.docid, b.term, p.tf, p.len, p.positions, null, -1, 0.0))
      case Payloads => Codec.decodePay(b).map(p => Hit(p.docid, b.term,
        p.tf, p.len, p.positions, p.payloads, -1, 0.0))
    }
    if (deleted.isEmpty) all
    else all.filter(h => java.util.Arrays.binarySearch(deleted, h.docid) < 0)
  }

  /** The one per-doc evaluator of the query layer. Its input is the
    * posting `blocks` and, unioned in, the one-doc rows of its non-term
    * `leaves` ([[foldInput]]). Each row is decoded to hits ([[Hit]]),
    * skipping deleted docs; each hit goes to `add` with the state of any
    * key, made by `init` in a hash map per partition; then `fold` turns
    * each key's state into its score or none. Returns (qi, docid,
    * score); with `k`, only each query's k best docs (score desc, docid
    * asc), kept in a bounded heap as they come.
    *
    * At most [[SingleTaskRows]] estimated rows (`est`) fold in the task
    * that reads the blocks, which decodes each block as it folds, and
    * with `k` the rows come out best first: the answer. In that task the
    * `held` leaves — (leaf, sorted docids, score), a keyword's docs the
    * index holds — add a hit per live doc, as a frame's rows would. A
    * fold of term blocks and held leaves alone over a resident
    * dictionary and delete set runs on the driver when the index holds
    * its blocks ([[InvertedIndex.heldBlocks]]), over its terms' blocks,
    * and its rows are a local relation: no job. Otherwise, when its
    * terms' partitions hold at most [[InvertedIndex.RoutedBytes]], it
    * reads the index's prepared scan
    * ([[InvertedIndex.preparedBlocks]]) pruned to those partitions,
    * coalesced into its one task (an empty one when held leaves point to
    * no partition), and is returned as a DataFrame over that RDD: no
    * plan of the scan is made for the query. Any other single-task fold
    * is a filtered scan and `coalesce(1)`. Above the limit, a typed
    * decode step feeds `repartition(docid)`, each partition folds its
    * docs, and a single query's (`queries` 1) k best of every partition
    * are merged by TakeOrderedAndProject. A delete set too large to hold is anti-joined
    * with the decoded hits instead. */
  private[search] def perDoc[S <: AnyRef](idx: InvertedIndex,
      blocks: Blocks, leaves: Seq[DataFrame], est: Long, what: Decode,
      k: Option[Int], queries: Int = 1,
      held: Seq[(Int, Array[Long], Double)] = Nil)(init: () => S)(
      add: (Hit, DocKey => S) => Unit)(
      fold: (DocKey, S) => Option[Double]): DataFrame = {
    val run: Iterator[Hit] => Iterator[(Int, Long, Double)] = it => {
      val docs = new java.util.HashMap[DocKey, S]()
      val state: DocKey => S = key => {
        val s = docs.get(key)
        if (s != null) s else { val n = init(); docs.put(key, n); n }
      }
      it.foreach(add(_, state))
      val scored = docs.entrySet.iterator.asScala.flatMap(e =>
        fold(e.getKey, e.getValue).map((e.getKey.qi, e.getKey.docid, _)))
      k.fold(scored)(best(_, scored))
    }
    val one = est <= SingleTaskRows
    require(one || held.isEmpty, "held leaves fold in one task")
    // a held leaf's live docs, as hitsOf makes a frame's rows
    val heldHits: Array[Long] => Iterator[Hit] = ids =>
      held.iterator.flatMap { case (leaf, docs, sc) =>
        docs.iterator.filter(d => java.util.Arrays.binarySearch(ids, d) < 0)
          .map(d => Hit(d, null, 1L, -1L, Array(0), null, leaf, sc))
      }
    val spark = idx.blockTable.sparkSession
    val routed = (blocks.terms, idx.dictionary, idx.deletedIds) match {
      case (Some(terms), Some(dict), Some(ids)) if one && leaves.isEmpty =>
        // a term the dictionary lacks has no blocks: it reads nothing
        val present = terms.filter(dict.df(_).isDefined).distinct
        idx.heldBlocks match {
          case Some(resident) =>
            val rows = run(present.iterator.flatMap(resident(_))
              .flatMap(blockHits(_, what, ids)) ++ heldHits(ids))
            Some(spark.createDataFrame(rows.map { case (qi, docid, score) =>
              Row(qi, docid, score) }.toSeq.asJava, OutSchema))
          case None =>
            val parts = idx.partitionsOf(present)
            val wanted = present.map(UTF8String.fromString).toSet
            // held leaves need their task even when no partition is
            // pointed to
            val scan =
              if (parts.isEmpty && held.nonEmpty)
                spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
              else PartitionPruningRDD.create(idx.preparedBlocks, parts.toSet)
                .coalesce(1)
            Option.when(idx.bytesOf(parts) <= idx.routedBytes)(
              spark.createDataFrame(new FoldRDD(scan, it => run(
                  it.filter(r => wanted(r.getUTF8String(0))).flatMap(r =>
                    blockHits(InvertedIndex.blockOf(r), what, ids)) ++
                    heldHits(ids))),
                OutSchema))
        }
      case _ => None
    }
    lazy val in = foldInput(idx.blockTable.filter(blocks.pred), leaves)
    val rows = routed.getOrElse(idx.deletedIds match {
      case Some(ids) if one =>
        in.coalesce(1).mapPartitions(it =>
          run(it.flatMap(hitsOf(_, what, ids)) ++ heldHits(ids)))(OutEnc)
          .toDF("qi", "docid", "score")
      case ids =>
        val decoded = in.mapPartitions(_.flatMap(hitsOf(_, what,
          ids.getOrElse(Array.emptyLongArray))))(HitEnc)
        oneTask(if (ids.isDefined) decoded
          else idx.live(decoded.toDF()).as(HitEnc), est)
          .mapPartitions(run)(OutEnc).toDF("qi", "docid", "score")
    })
    k match {
      case Some(n) if !one && queries == 1 =>
        rows.orderBy(col("score").desc, col("docid").asc).limit(n)
      case _ => rows
    }
  }

  /** Each query's k best of `rows` (qi, docid, score), best first: a
    * heap per query holding its k best so far, its worst at the head. */
  private def best(k: Int, rows: Iterator[(Int, Long, Double)])
      : Iterator[(Int, Long, Double)] = {
    val heaps = new java.util.HashMap[Int,
      java.util.PriorityQueue[(Int, Long, Double)]]()
    if (k > 0) rows.foreach { r =>
      var h = heaps.get(r._1)
      if (h == null) {
        h = new java.util.PriorityQueue(k, Ranked.reverse)
        heaps.put(r._1, h)
      }
      if (h.size < k) h.add(r)
      else if (Ranked.lt(r, h.peek)) { h.poll(); h.add(r) }
    }
    heaps.values.iterator.asScala.flatMap(_.asScala.toArray.sorted(Ranked))
  }

  /** (score desc, docid asc), scores compared as Spark's sort compares
    * doubles (-0.0 equals 0.0, NaN above every number). */
  private val Ranked: Ordering[(Int, Long, Double)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(b._3, a._3)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }

  /** `fold` over each partition of `prev`, as (qi, docid, score) rows of
    * [[OutSchema]]: a `mapPartitions` whose function skips Spark's
    * closure cleaner, which parses the class file that defines a closure
    * each time it is handed one — for a point query, on every query. */
  private final class FoldRDD(prev: RDD[InternalRow],
      fold: Iterator[InternalRow] => Iterator[(Int, Long, Double)])
      extends RDD[Row](prev) {
    override protected def getPartitions: Array[Partition] = prev.partitions
    override def compute(split: Partition, ctx: TaskContext): Iterator[Row] =
      fold(prev.iterator(split, ctx)).map { case (qi, docid, score) =>
        Row(qi, docid, score) }
  }

  private val OutSchema = StructType(Seq(StructField("qi", IntegerType, false),
    StructField("docid", LongType, false),
    StructField("score", DoubleType, false)))

  private lazy val FoldInEnc = Encoders.product[FoldIn]
  private lazy val HitEnc = Encoders.product[Hit]
  private lazy val OutEnc = Encoders.tuple(Encoders.scalaInt,
    Encoders.scalaLong, Encoders.scalaDouble)

  /** A boolean or DisMax tree over one query's leaf slots. */
  private[search] sealed trait Fold extends Serializable

  /** A leaf: the doc's row at `slot`, if it has one. */
  private[search] final case class Leaf(slot: Int) extends Fold

  /** BooleanScorer2's algebra (BooleanQuery.cs:350-424) over members
    * tagged m/s/n, in clause order. */
  private[search] final case class BoolNode(nMust: Int, nShould: Int,
      msm: Int, members: Seq[(Char, Fold)]) extends Fold

  /** DisjunctionMaxQuery: the max of the matching members plus tie × the
    * rest. */
  private[search] final case class MaxNode(tie: Double, members: Seq[Fold])
      extends Fold

  /** A fold's key: query `qi` of the fold (0 for a point query), one
    * doc. */
  private[search] final case class DocKey(qi: Int, docid: Long) {
    override def hashCode: Int = java.lang.Long.hashCode(docid) * 31 + qi
  }

  /** One walk of a tree over a doc's (slot, score) rows sorted by slot
    * (a doc has each slot at most once): leaves are visited in slot
    * order, so a cursor finds each leaf's row. `apply` tells whether a
    * node matches and leaves its score in `score`; a node adds its
    * members' scores in clause order, from 0.0 — a boolean its musts and
    * its shoulds apart, then their sum times coord. */
  private[search] final class Eval(sim: Similarity,
      rows: collection.IndexedSeq[(Int, Double)]) {
    private var at = 0
    var score = 0.0

    def apply(f: Fold): Boolean = f match {
      case Leaf(slot) =>
        val hit = at < rows.size && rows(at)._1 == slot
        if (hit) { score = rows(at)._2; at += 1 }
        hit
      case BoolNode(nMust, nShould, msm, members) =>
        var (m, s, n, sm, ss) = (0, 0, 0, 0.0, 0.0)
        members.foreach { case (occur, c) =>
          if (apply(c)) occur match {
            case 'm' => m += 1; sm += score
            case 's' => s += 1; ss += score
            case _ => n += 1
          }
        }
        score = (sm + ss) * sim.coordD(m + s, nMust + nShould)
        n == 0 && (if (nMust > 0) m == nMust && (nShould == 0 || s >= msm)
          else s >= math.max(1, msm))
      case MaxNode(tie, members) =>
        var (n, mx, sm) = (0, 0.0, 0.0)
        members.foreach { c =>
          if (apply(c)) {
            if (n == 0 || score > mx) mx = score
            sm += score
            n += 1
          }
        }
        score = mx + tie * (sm - mx)
        n > 0
    }
  }

  /** One doc's view in a position query's fold ([[Searcher.positions]]):
    * each leaf's ascending positions (empty when the doc lacks it), their
    * payloads in a payload query, and the doc's length. */
  private[search] final class LeafDoc(leaves: Int) {
    val pos: Array[Array[Int]] = Array.fill(leaves)(Array.emptyIntArray)
    val pay = new Array[Array[Float]](leaves)
    var len = 0L
  }

  /** idfSum × tfNorm(freq, len) for a doc whose `freq` is positive. */
  private[search] def weighted(sim: Similarity, idfSum: Double,
      avgdl: Double)(freq: LeafDoc => Double): LeafDoc => Option[Double] =
    d => Some(freq(d)).filter(_ > 0)
      .map(f => idfSum * sim.tfNormD(f, d.len, avgdl))

  /** A payload query's score of a doc whose freq, from `spans` with its
    * payloads, is positive: fn of the payloads (PayloadFunction.cs:30),
    * times idfSum × tfNorm(freq, len) when `includeSpan`. */
  private[search] def payWeighted(sim: Similarity, idfSum: Double,
      avgdl: Double, fn: PayloadFn, includeSpan: Boolean)(
      spans: LeafDoc => (Double, Array[Double])): LeafDoc => Option[Double] =
    d => {
      val (f, pays) = spans(d)
      Option.when(f > 0)(
        (if (includeSpan) idfSum * sim.tfNormD(f, d.len, avgdl) else 1.0) *
          (fn match {
            case PayAvg => pays.foldLeft(0.0)(_ + _) / pays.length
            case PayMin => pays.reduceLeft((m, x) => if (x < m) x else m)
            case PayMax => pays.reduceLeft((m, x) => if (x > m) x else m)
          }))
    }

  /** The flat SpanNearQ and SpanNotQ freq: Σ over `a`'s positions p of
    * 1/(g + 1), g the least gap to a `b` position within `slop` — after p
    * when `inOrder`, whose span [p, q] then holds no `exc` position; else
    * on either side of p. */
  private[search] def nearFreq(a: Array[Int], b: Array[Int], slop: Int,
      inOrder: Boolean, exc: Array[Int]): Double =
    a.foldLeft(0.0) { (f, p) =>
      b.iterator.collect {
        case q if inOrder && q > p && q - p - 1 <= slop &&
            !exc.exists(e => e >= p && e <= q) => q - p - 1
        case q if !inOrder && q != p && math.abs(q - p) - 1 <= slop =>
          math.abs(q - p) - 1
      }.minOption.fold(f)(g => f + 1.0 / (g.toDouble + 1.0))
    }

  /** PayloadSpanNearQ's (freq, payloads) from each clause's positions and
    * payloads. Ordered: per first-clause position, the chain of each next
    * clause's least position after the last whose total gap stays within
    * `slop` (NearSpansOrdered semantics). Unordered: every combination
    * of one position per clause, first clause slowest, whose envelope
    * width − (n − 1) ≤ slop. Each match adds 1/(1 + max(0, width −
    * (n − 1))) — the clamp for one occurrence a repeated term covers
    * twice — and its members' payloads in clause order. */
  private[search] def payNear(pos: Array[Array[Int]],
      pay: Array[Array[Float]], slop: Int,
      inOrder: Boolean): (Double, Array[Double]) = {
    val n = pos.length
    // a match is one position index per clause
    val matches: Seq[Vector[Int]] =
      if (inOrder) pos(0).indices.flatMap { i =>
        val lo = pos(0)(i)
        (1 until n).foldLeft(Option(Vector(i))) { (m, k) =>
          m.flatMap { ms =>
            val hi = pos(k - 1)(ms.last)
            // the gaps so far sum to hi − lo − (k − 1)
            Some(pos(k).indexWhere(x => x > hi && x - lo - k <= slop))
              .filter(_ >= 0).map(ms :+ _)
          }
        }
      }
      else (1 until n).foldLeft(pos(0).indices.map(Vector(_))) { (ms, k) =>
        // an envelope only widens: a partial one past slop stays past it
        ms.flatMap(m => pos(k).indices.map(m :+ _)).filter { m =>
          val ps = m.indices.map(c => pos(c)(m(c)))
          ps.max - ps.min + 1 - n <= slop
        }
      }
    (matches.foldLeft(0.0) { (f, m) =>
      val ps = m.indices.map(c => pos(c)(m(c)))
      f + 1.0 / (1.0 + math.max(0.0, (ps.max - ps.min - (n - 1)).toDouble))
    }, matches.flatMap(m => m.indices.map(c => pay(c)(m(c)).toDouble)).toArray)
  }

  /** A doc's distinct (start, end) spans of `s` over its view, leaf `l`
    * at index `at(l)`. A term or a mask is a width-0 span per position;
    * SOr is the union; an ordered SNear chains spans that start after the
    * last one's end with a TOTAL gap within slop (NearSpansOrdered.cs:47
    * matchLength); a two-clause unordered SNear takes both orders; N ≥ 3
    * unordered is the envelope of one span per clause in any order,
    * overlaps allowed, whose width minus the summed clause widths is
    * within slop (NearSpansUnordered.cs:32); SFirst keeps spans ending
    * before `end`; SNot keeps include spans overlapping no exclude span. */
  private[search] def spanSet(s: Span, d: LeafDoc,
      at: Map[Spans.SLeaf, Int]): Set[(Int, Int)] = {
    def of(x: Span): Set[(Int, Int)] = x match {
      case STerm(t) => d.pos(at(Spans.TermLeaf(t))).map(p => (p, p)).toSet
      case SMask(f, v) =>
        d.pos(at(Spans.MaskLeaf(f, v))).map(p => (p, p)).toSet
      case SOr(cs) => cs.flatMap(of).toSet
      case SRegex(p) => sys.error(s"unexpanded span regex '$p'")
      case SNear(cs, slop, true) =>
        // each span's least total gap: it admits whatever a larger one does
        cs.tail.foldLeft(of(cs.head).map(_ -> 0).toMap) { (acc, c) =>
          val next = of(c)
          acc.toSeq.flatMap { case ((s0, e), g) =>
            next.collect { case (s1, e1) if s1 > e && g + s1 - e - 1 <= slop =>
              ((s0, e1), g + s1 - e - 1) }
          }.groupMapReduce(_._1)(_._2)(math.min)
        }.keySet
      case SNear(Seq(a, b), slop, false) =>
        of(SNear(Seq(a, b), slop)) ++ of(SNear(Seq(b, a), slop))
      case SNear(cs, slop, false) =>
        // each envelope's greatest summed clause width: it admits
        // whatever a smaller one does
        cs.tail.foldLeft(of(cs.head).map { case (s0, e) =>
            (s0, e) -> (e - s0 + 1) }.toMap) { (acc, c) =>
          val next = of(c)
          acc.toSeq.flatMap { case ((s0, e), w) =>
            next.toSeq.map { case (s1, e1) =>
              ((math.min(s0, s1), math.max(e, e1)), w + e1 - s1 + 1) }
          }.groupMapReduce(_._1)(_._2)(math.max)
        }.filter { case ((s0, e), w) => e - s0 + 1 - w <= slop }.keySet
      case SFirst(sub, end) => of(sub).filter(_._2 < end)
      case SNot(inc, exc) =>
        val ex = of(exc)
        of(inc).filter { case (s0, e) =>
          !ex.exists { case (s1, e1) => s1 <= e && e1 >= s0 } }
    }
    of(s)
  }

  /** SpanQ's freq of a doc's spans: Σ over starts s, ascending, of
    * 1/(1 + max(0, e − s − minW)) for the least end e at s (the
    * flat span family's driving-position rule). The clamp: minW counts
    * a repeated leaf each time, and an unordered match may cover it with
    * one occurrence. */
  private[search] def spanFreq(spans: Set[(Int, Int)], minW: Int): Double =
    spans.groupMapReduce(_._1)(_._2)(math.min).toSeq.sorted
      .foldLeft(0.0) { case (f, (s, e)) =>
        f + 1.0 / (1.0 + math.max(0.0, (e - s - minW).toDouble))
      }

  /** A doc's phrase freq from each slot's (ascending positions, offset
    * from slot 0): Σ over slot 0's positions p of 1/(d + 1), where d sums
    * each other slot's least displacement |j − p − offset| and counts
    * only when every slot has one within `slop` and d ≤ slop. Exact
    * (slop 0), that is the count of aligned starts; sloppy, it is
    * DefaultSimilarity's SloppyFreq (DefaultSimilarity.cs:69) over N
    * terms. Each slot matches its term's positions on its own, so a
    * repeated term may reuse one occurrence — a documented
    * simplification of SloppyPhraseScorer.cs:26-120 repeat handling. */
  private[search] def phraseFreq(slots: Array[(Array[Int], Int)],
      slop: Int): Double =
    slots(0)._1.foldLeft(0.0) { (freq, p) =>
      slots.iterator.drop(1).map { case (pos, off) =>
        val i = java.util.Arrays.binarySearch(pos, p + off)
        val j = if (i >= 0) i else -i - 1
        Seq(j - 1, j).filter(pos.indices.contains)
          .map(x => math.abs(pos(x) - p - off)).minOption.filter(_ <= slop)
      }.foldLeft(Option(0.0))((d, x) => d.zip(x).map { case (a, b) => a + b })
        .filter(_ <= slop).fold(freq)(d => freq + 1.0 / (d + 1.0))
    }

  /** A multi-term query's matches as a walk of the resident dictionary:
    * a prefix, a prefix and a regex, or a range. */
  private[search] type Local = InvertedIndex.Dictionary => Iterator[(String, Long)]

  /** The dictionary terms that start with a literal prefix and, when a
    * regex is given, match it as a whole (java.util.regex, the engine
    * `rlike` uses): a contiguous range of the sorted terms. */
  private[search] def matching(prefix: String, rx: Option[String]): Local =
    d => {
      val m = rx.map(java.util.regex.Pattern.compile(_).matcher(""))
      d.withPrefix(prefix).filter { case (t, _) => m.forall(_.reset(t).find(0)) }
    }

  /** `m(key)` as a column of type `dt`: a hash lookup in the task
    * closure. A Java UDF with its type given, so building one derives
    * no encoder by reflection. */
  private[search] def lookup[K, V](m: Map[K, V], key: Column,
      dt: DataType): Column =
    udf(new UDF1[K, Any] { def call(k: K): Any = m(k) }, dt).apply(key)

  private[search] lazy val TermDfEnc = Encoders.product[(String, Long)]

  /** A whole-term regex as (dictionary predicate, dictionary walk): the
    * literal prefix is a startsWith pre-filter — a range on a term-sorted
    * dictionary — and the regex is anchored, as RegexTermEnum matches
    * whole terms. */
  private[search] def regexMatch(pat: String): (Column, Local) = {
    val rx = "^(?:" + pat + ")$"
    val pfx = regexLiteralPrefix(pat)
    val pred = col("term").rlike(rx)
    (if (pfx.nonEmpty) col("term").startsWith(pfx) && pred else pred,
      matching(pfx, Some(rx)))
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
