package graft.search

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate,
  ArrayFilter, ArrayTransform, Expression, MapFromArrays, ZipWith}
import org.apache.spark.sql.execution.{FileSourceScanExec,
  LocalTableScanExec, RDDScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec,
  ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  Exchange}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.{array, col, date_format, element_at,
  lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.index.{IndexBuilder, InvertedIndex, SegmentStore}
import graft.model.Transcripts

/** Plan shape of the query layer on a segmented store. Every df a query
  * scores with comes from the index's resident dictionary
  * ([[Searcher.dfOf]]), deletes are a lookup in its resident delete set,
  * a small point query folds in one task, and per-query numbers are plan
  * parameters: a point query is one job with no exchange, aggregate or
  * adaptive wrapper, reads no dictionary table, and a same-shape query
  * compiles no new class. A point query of term blocks and held keyword
  * docs folds on the driver over the index's held blocks when its block
  * files fit the routed bytes, with no job; on a store past them it
  * reads the index's prepared block scan, pruned to the partitions its
  * terms' pointers name, in one task. */
class QueryPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkFixture.spark

  // three segments, so a df is a sum over per-segment dictionary rows
  private lazy val idx = {
    val root = Files.createTempDirectory("graft_plan_").toString
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 1500, seed = 11L, partitions = 6), root,
      numBatches = 3, numPartitions = 4)
    SegmentStore.open(spark, root)
  }

  /** Jobs started and physical plans executed while `body` runs
    * ([[SparkFixture.record]]). */
  private def record(body: => Unit): (Int, Seq[SparkPlan]) = {
    val r = SparkFixture.record(body)
    (r.jobs, r.plans)
  }

  /** The summed length of `index`'s block files. */
  private def blockBytes(index: InvertedIndex): Long =
    index.blockTable.inputFiles
      .map(f => new java.io.File(new java.net.URI(f)).length).sum

  /** `index` with its routed bytes one below its block files' total: it
    * holds no blocks, and a point query whose terms' partitions are
    * fewer than all reads the prepared scan. */
  private def prepared(index: InvertedIndex): InvertedIndex =
    index.copy(routedBytes = blockBytes(index) - 1)

  private def isDictScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.getName == "dict")
    case _ => false
  }

  private def dictAggOrBroadcast(plans: Seq[SparkPlan]): Seq[String] =
    plans.flatMap(p => collect(p) {
      case n @ (_: BaseAggregateExec | _: BroadcastExchangeExec)
          if find(n)(isDictScan).isDefined => n.nodeName
    })

  private def exchanges(plans: Seq[SparkPlan]): Seq[String] =
    plans.flatMap(p => collect(p) { case e: Exchange => e.nodeName })

  /** Analyzed (term, position) runs of stored turns, for phrases that
    * match. */
  private lazy val runs: Seq[Seq[(String, Int)]] =
    idx.docs.select("text").orderBy("docid").limit(200).collect().toSeq
      .map(r => graft.analysis.Analyzer.tokenize(r.getString(0))
        .map(t => t.term -> t.pos))
      .filter(_.size >= 4)

  /** The first `n` analyzed tokens of a stored turn as a phrase. */
  private def phraseOf(doc: Int, n: Int, slop: Int = 0): PhraseQ =
    PhraseQ(runs(doc).take(n), slop)

  /** One query of every shape in the benchmark's point-query mix. */
  private def pointQueries: Seq[Query] = Seq(
    TermQ("error"),
    BoolQ(must = Seq(TermQ("error"), TermQ("deploy"))),
    BoolQ(should = Seq(TermQ("error"), TermQ("deploy"), TermQ("merge"))),
    BoolQ(must = Seq(TermQ("spark")), mustNot = Seq(TermQ("error"))),
    phraseOf(0, 2),
    phraseOf(1, 3),
    phraseOf(2, 2, slop = 2),
    PrefixQ("de", AutoRewrite), // expands to a scored term set
    PrefixQ("de", ConstantScore),
    BoolQ(must = Seq(KeywordQ("role", "assistant"), TermQ("error"))))

  /** The index terms a point query of the mix reads. */
  private def termsOf(q: Query, index: InvertedIndex): Set[String] = q match {
    case TermQ(t) => Set(t)
    case b: BoolQ => (b.must ++ b.should ++ b.mustNot).flatMap(termsOf(_, index)).toSet
    case PhraseQ(ts, _) => ts.map(_._1).toSet
    case PrefixQ(p, _) => index.dictionary.get.withPrefix(p).map(_._1).toSet
    case _ => Set.empty
  }

  /** Each partition of the index's prepared block scan: its rows and the
    * terms it holds, by a full scan. */
  private def partitionTerms(index: InvertedIndex): Array[(Long, Set[String])] =
    index.preparedBlocks.mapPartitions { it =>
      val ts = scala.collection.mutable.Set.empty[String]
      var n = 0L
      it.foreach { r => n += 1; ts += r.getUTF8String(0).toString }
      Iterator.single((n, ts.toSet))
    }.collect()

  private def fileScans(plans: Seq[SparkPlan]): Int =
    plans.map(p => collect(p) { case f: FileSourceScanExec => f }.size).sum

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** On a fresh Searcher over `index` (its resident dictionary, delete
    * set and role docs already read), every point query of the mix is
    * one job of one task that reads the prepared scan's partitions its
    * terms' pointers name — a superset of those holding its terms — and
    * no file scan of a plan of its own, compiling no class once one
    * routed query has run. Returns how many queries read fewer
    * partitions than all. */
  private def assertRouted(index: InvertedIndex): Int = {
    index.dictionary; index.deletedIds; index.keywordDocs("role")
    val full = partitionTerms(index)
    new Searcher(index).topK(TermQ("error"), 10).collect()
    pointQueries.count { q =>
      val s = new Searcher(index)
      val before = compiles
      val r = SparkFixture.record(
        assert(s.topK(q, 10).collect().nonEmpty, s"$q"))
      assert(r.jobs == 1, s"$q\n${r.plans.mkString("\n")}")
      assert(r.plans.nonEmpty && exchanges(r.plans).isEmpty,
        s"$q: ${exchanges(r.plans)}")
      assert(compiles == before, s"$q compiled a class")
      assert(r.tasks == 1 && fileScans(r.plans) == 0,
        s"$q: ${r.tasks} tasks\n${r.plans.mkString("\n")}")
      val terms = termsOf(q, index)
      val parts = index.partitionsOf(terms)
      assert(full.indices.filter(p => full(p)._2.exists(terms))
        .forall(parts.contains), s"$q: ${parts.toSeq}")
      assert(r.recordsRead == parts.map(full(_)._1).sum, s"$q")
      parts.length < full.length
    }
  }

  /** (docid, score bits) rows, best first. */
  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0),
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toSeq

  /** score(q)'s k best, ordered by Catalyst. */
  private def scoreTop(s: Searcher, q: Query, k: Int) =
    s.score(q).orderBy(col("score").desc, col("docid").asc).limit(k)

  private lazy val idxP = prepared(idx)

  /** The same corpus in one segment. */
  private lazy val oneSegment = {
    val root = Files.createTempDirectory("graft_plan_one_").toString
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 1500, seed = 11L, partitions = 6), root,
      numBatches = 1, numPartitions = 4)
    SegmentStore.open(spark, root)
  }

  /** Turns that repeat four texts in two segments: every doc that
    * matches a query ties with about a quarter of the corpus or more. */
  private lazy val tied = {
    val root = Files.createTempDirectory("graft_plan_tied_").toString
    val texts = Seq("error deploy spark merge table", "spark table query error",
      "deploy merge error error", "the spark table deploy error builds")
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 400, seed = 5L, partitions = 2)
        .withColumn("text", element_at(array(texts.map(lit): _*),
          (col("turn_idx") % 4 + 1).cast("int"))),
      root, numBatches = 2, numPartitions = 2)
    SegmentStore.open(spark, root)
  }

  private lazy val tiedP = prepared(tied)

  /** Every shape of the benchmark's point-query mix on the tied corpus. */
  private def tiedQueries: Seq[Query] = Seq(
    TermQ("error"),
    BoolQ(must = Seq(TermQ("error"), TermQ("deploy"))),
    BoolQ(should = Seq(TermQ("error"), TermQ("deploy"), TermQ("query"))),
    BoolQ(must = Seq(TermQ("spark")), mustNot = Seq(TermQ("query"))),
    PhraseQ(Seq("spark" -> 0, "table" -> 1)),
    PhraseQ(Seq("deploy" -> 0, "merge" -> 1, "error" -> 2)),
    PhraseQ(Seq("error" -> 0, "table" -> 1), 3),
    PrefixQ("de", AutoRewrite),
    PrefixQ("de", ConstantScore),
    BoolQ(must = Seq(KeywordQ("role", "assistant"), TermQ("error"))))

  test("a point query's topK is its fold's k best, as score's top k") {
    val k = 10
    // every tied shape folds the held blocks too; the tied corpus's OR
    // reads every partition, past any routed bytes that hold no blocks,
    // so only its other shapes can take the prepared scan
    val tiedRouted = tiedQueries.filter(q => tiedP.bytesOf(
      tiedP.partitionsOf(termsOf(q, tiedP))) <= tiedP.routedBytes)
    assert(tiedRouted.size >= tiedQueries.size / 2, s"$tiedRouted")
    val cases = Seq(oneSegment, idx, deleted).map(prepared).flatMap(i =>
      pointQueries.map(i -> _)) ++ tiedRouted.map(tiedP -> _) ++
      tiedQueries.map(tied -> _)
    var tiedAtK = 0
    cases.foreach { case (index, q) =>
      index.dictionary; index.deletedIds
      val s = new Searcher(index)
      val top = s.topK(q, k)
      val plan = top.queryExecution.executedPlan
      assert(exchanges(Seq(plan)).isEmpty, s"$q\n$plan")
      assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.isEmpty,
        s"$q\n$plan")
      // a DataFrame over the pruned prepared scan or the held blocks'
      // fold: no plan of its own
      val leaf = collect(plan) {
        case r: RDDScanExec if index.heldBlocks.isEmpty => r
        case l: LocalTableScanExec if index.heldBlocks.isDefined => l
      }
      assert(leaf.size == 1 && fileScans(Seq(plan)) == 0, s"$q\n$plan")
      val got = ranked(top)
      assert(got.nonEmpty && got == ranked(scoreTop(s, q, k)), s"$q")
      // a tie at the k-th score that the docid order breaks
      val all = s.score(q).collect().map(_.getDouble(1))
      if (((index eq tied) || (index eq tiedP)) && got.size == k &&
          all.count(_ == java.lang.Double.longBitsToDouble(got.last._2)) >
            got.count(_._2 == got.last._2)) tiedAtK += 1
    }
    assert(tiedAtK >= (tiedQueries.size + tiedRouted.size) / 2, s"$tiedAtK")
  }

  /** explain's k best of `q`, as (docid, score bits). */
  private def explainTop(s: Searcher, q: Query, k: Int): Seq[(Long, Long)] =
    explained(s, q).toSeq.sortBy { case (d, v) => (-v, d) }.take(k)
      .map { case (d, v) => (d, java.lang.Double.doubleToRawLongBits(v)) }

  test("a store within its routed bytes folds every point query on the driver, with no job") {
    Seq((idx, idxP, pointQueries), (deleted, prepared(deleted), pointQueries),
        (tied, tiedP, tiedQueries)).foreach { case (index, prep, queries) =>
      index.dictionary; index.deletedIds; index.keywordDocs("role")
      assert(blockBytes(index) <= index.routedBytes)
      assert(index.heldBlocks.isDefined && prep.heldBlocks.isEmpty)
      queries.foreach { q =>
        val s = new Searcher(index)
        var plan: SparkPlan = null
        var got = Seq.empty[(Long, Long)]
        val r = SparkFixture.record {
          val top = s.topK(q, 10)
          plan = top.queryExecution.executedPlan
          got = ranked(top)
        }
        assert(r.jobs == 0 && r.tasks == 0, s"$q: ${r.jobs} jobs, ${r.tasks} tasks")
        // a local relation: no scan of a file or of an RDD
        assert(collect(plan) { case l: LocalTableScanExec => l }.size == 1 &&
          collect(plan) { case x: RDDScanExec => x }.isEmpty &&
          fileScans(Seq(plan)) == 0, s"$q\n$plan")
        assert(got.nonEmpty, s"$q")
        assert(got == ranked(new Searcher(prep).topK(q, 10)), s"$q")
        assert(got == explainTop(s, q, 10), s"$q")
      }
    }
  }

  test("a resident commit point after an append and a delete serves the new docs, none deleted") {
    val root = Files.createTempDirectory("graft_plan_held_").toString
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 400, seed = 7L, partitions = 2), root,
      numBatches = 2, numPartitions = 2)
    val before = SegmentStore.open(spark, root)
    val q = TermQ("error")
    def docs(index: InvertedIndex): Map[Long, Double] =
      new Searcher(index).score(q).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val old = docs(before)
    val base = SegmentStore.latest(root).get.maxDocid + 1
    IndexBuilder.appendSegment(spark,
      Transcripts.synthetic(spark, 200, seed = 9L, partitions = 2), root,
      numPartitions = 2)
    IndexBuilder.deleteByKeyword(spark, root, "role", "tool")
    val after = SegmentStore.open(spark, root)
    assert(after.heldBlocks.isDefined && after.deletedIds.exists(_.nonEmpty))
    val got = docs(after)
    val gone = after.storedDocs.filter(col("role") === "tool").select("docid")
      .collect().map(_.getLong(0)).toSet
    assert(got.keys.exists(_ >= base) && !got.keys.exists(gone), s"$got")
    // the scan and anti-join path answers the same, bit for bit
    assert(got == docs(after.copy(residentRows = 0)))
    // the earlier commit point still serves what it held
    assert(docs(before) == old && old.keys.forall(_ < base))
    // a copy is a commit point of its own: one job reads its blocks again
    val copy = after.copy()
    assert(SparkFixture.record(copy.heldBlocks).jobs == 1)
    assert(!(copy.heldBlocks.get eq after.heldBlocks.get))
    assert(docs(copy) == got)
  }

  test("a warm term query runs one job, a warm two-term boolean two") {
    val s = new Searcher(idxP)
    val term = TermQ("error")
    val bool = BoolQ(should = Seq(TermQ("error"), TermQ("deploy")))
    // the first run resolves df; the second is what a repeat costs
    Seq(term, bool).foreach(q => assert(s.topK(q, 10).collect().nonEmpty))
    val (termJobs, _) = record(s.topK(term, 10).collect())
    assert(termJobs == 1)
    val (boolJobs, _) = record(s.topK(bool, 10).collect())
    assert(boolJobs <= 2)
  }

  test("a routed point query is one job of one task over its terms' partitions") {
    val pruned = assertRouted(idxP)
    assert(pruned == pointQueries.size, s"$pruned")
  }

  private val gone = Transcripts.vocabulary(40)

  /** The same corpus with every doc holding `gone` deleted. */
  private lazy val deleted = {
    val root = Files.createTempDirectory("graft_plan_del_").toString
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 1500, seed = 11L, partitions = 6), root,
      numBatches = 3, numPartitions = 4)
    IndexBuilder.deleteByTerm(spark, root, gone)
    SegmentStore.open(spark, root)
  }

  test("on a store with deletes every point query still runs one job") {
    assert(deleted.deletedIds.exists(_.nonEmpty))
    assertRouted(prepared(deleted))
    // the delete set is applied
    assert(new Searcher(deleted).topK(TermQ(gone), 10).collect().isEmpty)
  }

  test("the resident read holds exactly up to its limit, in <= 2 jobs") {
    val dictRows = deleted.dictRows.count()
    val delRows = deleted.deleted.get.count()
    assert(dictRows > delRows && delRows > 0)
    val all = deleted.dictionary.get.withPrefix("").toSeq
    // at the limit both fit; a partition above its share of the limit
    // (limit / partitions) is re-read by a second job
    val (atJobs, _) = record {
      val at = deleted.copy(residentRows = dictRows.toInt)
      assert(at.dictionary.get.withPrefix("").toSeq == all)
      assert(at.deletedIds.get.toSeq == deleted.deletedIds.get.toSeq)
    }
    assert(atJobs >= 1 && atJobs <= 2)
    // one row past it a side is not held; a side that fits still is
    val past = deleted.copy(residentRows = delRows.toInt)
    assert(past.dictionary.isEmpty)
    assert(past.deletedIds.get.toSeq == deleted.deletedIds.get.toSeq)
    val none = deleted.copy(residentRows = delRows.toInt - 1)
    assert(none.dictionary.isEmpty && none.deletedIds.isEmpty)
  }

  test("above the resident limit, dictionary scans and delete anti-joins") {
    def isDeleteScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.getName.startsWith("del_v"))
      case _ => false
    }
    def top(s: Searcher, q: Query) =
      s.topK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Seq(idx, deleted).foreach { index =>
      val scan = index.copy(residentRows = 0)
      assert(scan.dictionary.isEmpty)
      assert(scan.deletedIds.isEmpty == index.deleted.isDefined)
      val queries = pointQueries ++ Seq(
        PrefixQ("de", ScoringBoolean), // every match, no cap
        RegexQ("de.*", AutoRewrite), // matches up to the cap
        FuzzyQ("eror", 1)) // candidates from the aggregated dictionary
      queries.foreach { q =>
        val want = top(new Searcher(index), q)
        val s = new Searcher(scan)
        val (_, plans) = record(assert(top(s, q) == want, s"$q"))
        // the lookups read the dictionary table (a constant-score
        // prefix looks up no df) ...
        val looksUp = q != PrefixQ("de", ConstantScore)
        assert(plans.exists(find(_)(isDictScan).isDefined) == looksUp, s"$q")
        // ... as plain scans, but for the fuzzy candidates' aggregate
        if (!q.isInstanceOf[FuzzyQ])
          assert(dictAggOrBroadcast(plans).isEmpty, s"$q")
        assert(plans.exists(find(_)(isDeleteScan).isDefined) ==
          index.deleted.isDefined, s"$q")
        // a repeat finds its df memoized on the Searcher
        if (q.isInstanceOf[TermQ]) {
          val (_, again) = record(assert(top(s, q) == want, s"$q"))
          assert(!again.exists(find(_)(isDictScan).isDefined), s"$q")
        }
      }
    }
  }

  test("a same-shape query on other terms compiles no class") {
    val s = new Searcher(idx)
    val pairs: Seq[(Query, Query)] = Seq(
      TermQ("error") -> TermQ("deploy"),
      BoolQ(must = Seq(TermQ("error"), TermQ("spark"))) ->
        BoolQ(must = Seq(TermQ("deploy"), TermQ("merge"))),
      phraseOf(3, 2) -> phraseOf(4, 2),
      phraseOf(5, 3) -> phraseOf(6, 3),
      phraseOf(7, 2, slop = 1) -> phraseOf(8, 2, slop = 1),
      BoolQ(must = Seq(KeywordQ("role", "user"), TermQ("error"))) ->
        BoolQ(must = Seq(KeywordQ("role", "tool"), TermQ("model"))))
    def compiles(q: Query): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(s.topK(q, 10).collect().nonEmpty, s"$q")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    pairs.foreach { case (first, second) =>
      // warm the shape: the code cache's LRU is approximate, so one run
      // may evict some of its own classes; three runs settle it
      assert((1 to 3).exists(_ => compiles(first) == 0), s"$first")
      assert(compiles(second) == 0, s"$second compiled a class")
    }
  }

  test("above the single-task row limit the fold keeps its exchange") {
    val scored = new Searcher(idx).termScores(Set("error", "deploy"))
    def folded(rows: Long) = exchanges(Seq(
      Searcher.oneTask(scored, rows).groupBy(col("docid")).count()
        .queryExecution.executedPlan))
    assert(folded(Searcher.SingleTaskRows).isEmpty)
    assert(folded(Searcher.SingleTaskRows + 1).nonEmpty)
  }

  test("no query reads a dictionary table") {
    // the detector works: the dictionary rows are a dict table scan
    assert(find(idx.dictRows.queryExecution.executedPlan)(isDictScan).isDefined)
    idx.dictionary
    val queries = pointQueries ++ Seq(
      BoolQ(must = Seq(TermQ("spark")), should = Seq(TermQ("table")),
        mustNot = Seq(TermQ("merge"))),
      PrefixQ("s", AutoRewrite),
      PrefixQ("", AutoRewrite), // past the cap: constant score
      PrefixQ("de", ScoringBoolean),
      RegexQ("de.*", AutoRewrite),
      WildcardQ("sp?rk*", AutoRewrite))
    queries.foreach { q =>
      // a fresh Searcher: any df lookup it made would be recorded
      val s = new Searcher(idx)
      val (_, plans) =
        record(assert(s.topK(q, 10).collect().nonEmpty, s"$q"))
      assert(plans.nonEmpty && !plans.exists(find(_)(isDictScan).isDefined),
        s"$q")
    }
  }

  test("a date range pushes conservative ts bounds to the docs scan") {
    val s = new Searcher(idx)
    // the corpus's turns are a minute apart from 2025-01-01T00:00Z
    val q = DateRangeQ("ts", Some("2025010105"), Some("2025010110"), "hour")
    val got = s.score(q)
    val scans = collect(got.queryExecution.executedPlan) {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "docs") => f
    }
    assert(scans.nonEmpty)
    scans.foreach { f =>
      val pushed = f.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("GreaterThanOrEqual(ts") &&
        pushed.contains("LessThan(ts"), pushed)
    }
    // the answer is the key predicate's alone
    val key = date_format(col("ts"), "yyyyMMddHH")
    val want = idx.docs.filter(key >= "2025010105" && key <= "2025010110")
      .select("docid").collect().map(_.getLong(0)).toSet
    assert(want.size == 6 * 60)
    assert(got.select("docid").collect().map(_.getLong(0)).toSet == want)
  }

  test("topK scores equal explain values exactly on random queries") {
    val s = new Searcher(idx)
    val rnd = new Random(2024)
    val words = Seq("error", "warning", "query", "table", "spark", "index",
      "merge", "batch", "stream", "agent", "tool", "model", "deploy") ++
      Transcripts.vocabulary.slice(40, 80)
    def term(): Query = {
      val t = TermQ(words(rnd.nextInt(words.size)))
      if (rnd.nextBoolean()) t else BoostQ(t, 0.5 + rnd.nextInt(4))
    }
    // phrases of two hot words, so most of them match somewhere
    val hot = Transcripts.vocabulary.take(6)
    def phrase(): Query = PhraseQ(Seq(hot(rnd.nextInt(hot.length)) -> 0,
      hot(rnd.nextInt(hot.length)) -> 1), rnd.nextInt(3))
    def role(): Query =
      KeywordQ("role", Seq("user", "assistant", "tool")(rnd.nextInt(3)))
    // shapes whose tree fold adds clause scores in the same
    // order as explain's compositional sum (musts, then shoulds; at most
    // one should beside a must; a nested boolean first in its node), so
    // equality is exact. Every shape after the third mixes term clauses
    // with clauses that are their own frames in the tree fold.
    val shapes: Seq[() => Query] = Seq(
      () => term(),
      () => BoolQ(should = Seq.fill(2 + rnd.nextInt(3))(term())),
      () => BoolQ(must = Seq(term()), should = Seq(term()),
        mustNot = Seq.fill(rnd.nextInt(2))(term())),
      () => BoolQ(should = Seq(term(), phrase())),
      () => BoolQ(must = Seq(role(), term()), mustNot = Seq(phrase())),
      () => BoolQ(must = Seq(PrefixQ(hot(rnd.nextInt(3)).take(2),
        AutoRewrite)), should = Seq(term())),
      // two levels: a pure-term boolean inside a mixed one inside this
      () => BoolQ(must = Seq(BoolQ(should = Seq(
          BoolQ(should = Seq(term(), term())), phrase()))),
        should = Seq(term())),
      () => DisMaxQ(Seq(term(), phrase(),
        BoolQ(must = Seq(term()), should = Seq(term()))), 0.3))
    val classic = new Searcher(idx, ClassicSim)
    // under coord an explain adds a correction part (raw + (coorded -
    // raw) need not round to coorded), so ClassicSim gets shapes whose
    // every clause must match: coord is 1 and no part is added
    val classicShapes: Seq[() => Query] = Seq(
      () => BoolQ(must = Seq(term(), phrase())),
      () => BoolQ(must = Seq(role(), term())),
      () => BoolQ(must = Seq(BoolQ(must = Seq(term(), term())), role())))
    val queries =
      (0 until 40).map(i => s -> shapes(i % shapes.size)()) ++
        (0 until 9).map(i => classic -> classicShapes(i % classicShapes.size)())
    var compared = 0
    queries.foreach { case (sr, q) =>
      val ex = sr.explain(q).select("docid", "value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      sr.topK(q, 10).collect().foreach { r =>
        assert(ex.get(r.getLong(0)).contains(r.getDouble(1)),
          s"$q doc ${r.getLong(0)}: score ${r.getDouble(1)} explain " +
            ex.get(r.getLong(0)))
        compared += 1
      }
    }
    assert(compared > 300)
  }

  test("a mixed DisMaxQ is max + tie * (sum - max) of its disjuncts' scores") {
    val s = new Searcher(idx)
    val hot = Transcripts.vocabulary.take(6)
    val ds = Seq(TermQ("error"), PhraseQ(Seq(hot(0) -> 0, hot(1) -> 1), 1),
      BoolQ(must = Seq(TermQ(hot(2))), should = Seq(TermQ("deploy"))),
      KeywordQ("role", "tool"))
    val tie = 0.25
    val each = ds.map(d => s.score(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    val got = s.score(DisMaxQ(ds, tie)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == each.flatMap(_.keySet).toSet)
    got.foreach { case (d, v) =>
      val xs = each.flatMap(_.get(d))
      val (mx, sm) = (xs.max, xs.foldLeft(0.0)(_ + _))
      assert(v == mx + tie * (sm - mx), s"doc $d")
    }
  }

  test("a boolean of two terms and a phrase reads the blocks twice") {
    idxP.dictionary
    val s = new Searcher(idxP)
    def reads(q: Query): (Int, Int) = {
      val plan = s.topK(q, 10).queryExecution.executedPlan
      (collect(plan) {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.getName == "blocks") => f
      }.size, collect(plan) { case r: RDDScanExec => r }.size)
    }
    // a keyword the index holds is no read: one read of the prepared scan
    val role = BoolQ(must = Seq(KeywordQ("role", "user"), TermQ("error")))
    assert(reads(role) == (0, 1))
    // a planned read of the block table is one scan per segment
    // both terms in one planned scan; the phrase, a frame of its own,
    // reads the prepared scan
    assert(reads(BoolQ(should = Seq(TermQ("error"), TermQ("deploy"),
      PhraseQ(Seq("spark" -> 0, "table" -> 1))))) == (3, 1))
    // a phrase alone, a repeated term too, is one read of the prepared scan
    assert(reads(PhraseQ(Seq("spark" -> 0, "table" -> 1, "spark" -> 2))) ==
      (0, 1))
  }

  /** The same corpus with every `tool` turn deleted. */
  private lazy val noTool = {
    val root = Files.createTempDirectory("graft_plan_notool_").toString
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 1500, seed = 11L, partitions = 6), root,
      numBatches = 3, numPartitions = 4)
    IndexBuilder.deleteByKeyword(spark, root, "role", "tool")
    SegmentStore.open(spark, root)
  }

  /** explain's (docid, value) of every doc `q` matches. */
  private def explained(s: Searcher, q: Query): Map[Long, Double] =
    s.explain(q).select("docid", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Scans of the docs table in a plan. */
  private def docsScans(plan: SparkPlan): Int = collect(plan) {
    case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.getName == "docs") => f
  }.size

  test("a held keyword leaf scores as its explained frame, in one routed task") {
    def kw(v: String) = KeywordQ("role", v)
    def shapes(v: String, t: String): Seq[Query] = Seq(
      BoolQ(must = Seq(kw(v), TermQ(t))),
      BoolQ(should = Seq(kw(v), TermQ(t))),
      // an absent term points to no partition
      BoolQ(should = Seq(kw(v), TermQ("zzabsent"))),
      BoolQ(must = Seq(TermQ(t)), mustNot = Seq(kw(v))),
      BoolQ(should = Seq(BoostQ(kw(v), 2.0), TermQ(t))),
      DisMaxQ(Seq(TermQ(t), kw(v)), 0.25),
      BoolQ(must = Seq(kw("nobody"), TermQ(t))),
      BoolQ(must = Seq(kw("tool"), TermQ(t))))
    // explain's k best: a DisMax explains as one leaf, its own fold, so
    // its value is max + tie * (sum - max) of its disjuncts' explains
    def expected(s: Searcher, q: Query): Seq[(Long, Long)] = {
      val values = q match {
        case DisMaxQ(ds, tie) =>
          val each = ds.map(explained(s, _))
          each.flatMap(_.keySet).distinct.map { d =>
            val xs = each.flatMap(_.get(d))
            d -> (xs.max + tie * (xs.foldLeft(0.0)(_ + _) - xs.max))
          }.toMap
        case _ => explained(s, q)
      }
      values.toSeq.sortBy { case (d, v) => (-v, d) }.take(10)
        .map { case (d, v) => (d, java.lang.Double.doubleToRawLongBits(v)) }
    }
    val noToolP = prepared(noTool)
    Seq(idxP, prepared(oneSegment), prepared(deleted), noToolP).foreach { index =>
      // a fresh commit point reads the role docs once, in one job
      val fresh = index.copy()
      fresh.dictionary; fresh.deletedIds
      assert(record(fresh.keywordDocs("role"))._1 == 1)
      assert(record(fresh.keywordDocs("role"))._1 == 0)
      val s = new Searcher(fresh)
      shapes("user", "error").zip(shapes("assistant", "deploy")).foreach {
        case (q, other) =>
          val top = s.topK(q, 10)
          val plan = top.queryExecution.executedPlan
          assert(collect(plan) { case r: RDDScanExec => r }.size == 1 &&
            fileScans(Seq(plan)) == 0, s"$q\n$plan")
          var got = Seq.empty[(Long, Long)]
          val r = SparkFixture.record { got = ranked(top) }
          assert(r.jobs == 1 && r.tasks == 1, s"$q: ${r.jobs} jobs, ${r.tasks} tasks")
          // a same-shape query on another value and term compiles nothing
          val before = compiles
          s.topK(other, 10).collect()
          assert(compiles == before, s"$other compiled a class")
          assert(got == expected(s, q), s"$q")
          q match {
            case BoolQ(Seq(KeywordQ(_, "nobody"), _), _, _, _) =>
              assert(got.isEmpty, s"$q")
            case BoolQ(Seq(KeywordQ(_, "tool"), _), _, _, _) =>
              assert(got.isEmpty == (index eq noToolP), s"$q")
            case BoolQ(_, Seq(_, TermQ("zzabsent")), _, _) =>
              assert(got.size == 10 && r.recordsRead == 0, s"$q")
            case _ => assert(got.nonEmpty, s"$q")
          }
      }
    }
  }

  test("keyword leaves the index does not hold keep the frame's answers") {
    val s = new Searcher(idx)
    // a non-string column keeps Spark's cast equality, through the frame
    assert(idx.keywordDocs("turn_idx").isEmpty)
    val turn = BoolQ(must = Seq(KeywordQ("turn_idx", "3"), TermQ("error")))
    val top = s.topK(turn, 10)
    assert(docsScans(top.queryExecution.executedPlan) > 0)
    val got = ranked(top)
    assert(got.nonEmpty && got == explained(s, turn).toSeq
      .sortBy { case (d, v) => (-v, d) }.take(10)
      .map { case (d, v) => (d, java.lang.Double.doubleToRawLongBits(v)) })
    val third = idx.docs.filter(col("turn_idx") === 3).select("docid")
      .collect().map(_.getLong(0)).toSet
    assert(got.forall(g => third(g._1)))
    // an unknown field fails as its bare frame does
    assert(idx.keywordDocs("nosuch").isEmpty)
    val bare = intercept[AnalysisException](
      s.score(KeywordQ("nosuch", "x")).collect())
    val inFold = intercept[AnalysisException](s.topK(BoolQ(must =
      Seq(KeywordQ("nosuch", "x"), TermQ("error"))), 10).collect())
    assert(inFold.getCondition == bare.getCondition &&
      inFold.getMessage == bare.getMessage, inFold.getMessage)
    // below the field's row count the docs are not held: the frame path
    val rows = idx.storedDocs.filter(col("role").isNotNull).count().toInt
    val at = idx.copy(residentRows = rows)
    val below = idx.copy(residentRows = rows - 1)
    assert(at.keywordDocs("role").isDefined && below.keywordDocs("role").isEmpty)
    val q = BoolQ(must = Seq(KeywordQ("role", "user"), TermQ("error")))
    val held = new Searcher(at).topK(q, 10)
    val framed = new Searcher(below).topK(q, 10)
    assert(docsScans(held.queryExecution.executedPlan) == 0)
    assert(docsScans(framed.queryExecution.executedPlan) > 0)
    assert(ranked(held).nonEmpty && ranked(framed) == ranked(held))
  }

  test("term pointers name every partition of a term, none for an absent term") {
    // three segments with deletes; four texts, so every term fills
    // blocks and a hot term's blocks cross a partition boundary
    val root = Files.createTempDirectory("graft_plan_ptr_").toString
    val texts = Seq("error deploy spark merge table", "spark table query error",
      "deploy merge error error", "the spark table deploy error builds")
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 1500, seed = 3L, partitions = 6)
        .withColumn("text", element_at(array(texts.map(lit): _*),
          (col("turn_idx") % 4 + 1).cast("int"))),
      root, numBatches = 3, numPartitions = 4)
    IndexBuilder.deleteByKeyword(spark, root, "role", "tool")
    val index = prepared(SegmentStore.open(spark, root))
    val dict = index.dictionary.get.withPrefix("").map(_._1).toSeq
    assert(index.deletedIds.exists(_.nonEmpty))
    // one partition per block file
    val files = index.blockTable.inputFiles.length
    assert(index.preparedBlocks.getNumPartitions == files && files == 12)
    val full = partitionTerms(index)
    val holding = dict.map(t => t -> full.indices.filter(full(_)._2(t))).toMap
    assert(holding.values.exists(_.size > 3), s"$holding")
    dict.foreach { t =>
      val parts = index.partitionsOf(Seq(t))
      assert(holding(t).forall(parts.contains), s"$t: ${parts.toSeq}")
    }
    // a term set's partitions are its terms' partitions, in any order
    val some = new Random(5).shuffle(dict).take(dict.size / 3) ++ dict.take(2)
    assert(index.partitionsOf(some).toSeq ==
      some.flatMap(t => index.partitionsOf(Seq(t))).distinct.sorted)
    // a term absent from the dictionary reads no partition, even one that
    // sorts inside a partition's run
    val s = new Searcher(index)
    Seq("errors", "sparkle", "zzz").foreach { t =>
      val r = SparkFixture.record(assert(s.topK(TermQ(t), 10).collect().isEmpty))
      assert(r.tasks == 0 && r.recordsRead == 0, s"$t")
    }
    val r = SparkFixture.record(s.topK(BoolQ(should =
      Seq(TermQ("errors"), TermQ("merge"))), 10).collect())
    assert(r.recordsRead ==
      index.partitionsOf(Seq("merge")).map(full(_)._1).sum)
  }

  test("past its routed bytes a point query plans its scan, with the same rows") {
    idx.dictionary; idx.deletedIds
    // a partition's bytes are its block file's length
    val all = Array.range(0, idx.preparedBlocks.getNumPartitions)
    assert(idx.bytesOf(all) == idx.blockTable.inputFiles
      .map(f => new java.io.File(new java.net.URI(f)).length).sum)
    def planned(index: InvertedIndex, q: Query) = {
      val top = new Searcher(index).topK(q, 10)
      val plan = top.queryExecution.executedPlan
      (fileScans(Seq(plan)) > 0, collect(plan) { case r: RDDScanExec => r }.size,
        ranked(top))
    }
    pointQueries.foreach { q =>
      val bytes = idxP.bytesOf(idxP.partitionsOf(termsOf(q, idxP)))
      assert(bytes > 0, s"$q")
      val (_, scans, rows) = planned(idxP, q)
      assert(scans == 1 && rows.nonEmpty, s"$q")
      // at the bound the prepared scan, past it a planned one
      assert(planned(idxP.copy(routedBytes = bytes), q) == ((false, 1, rows)),
        s"$q")
      assert(planned(idxP.copy(routedBytes = bytes - 1), q) == ((true, 0, rows)),
        s"$q")
    }
  }

  test("a store under a root with a space and a percent sign serves routed queries") {
    // "%20" in the name, not a space: the per-file reads must neither
    // escape the root a second time nor unescape it
    val root = Files.createTempDirectory("graft plan 100%20 ").toString
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 400, seed = 7L, partitions = 2), root,
      numBatches = 2, numPartitions = 2)
    IndexBuilder.deleteByKeyword(spark, root, "role", "tool")
    val index = prepared(SegmentStore.open(spark, root))
    assert(index.deletedIds.exists(_.nonEmpty) && index.dictionary.nonEmpty)
    // one partition per block file: the per-file reads, not the fallback
    assert(index.preparedBlocks.getNumPartitions ==
      index.blockTable.inputFiles.length)
    val s = new Searcher(index)
    Seq(TermQ("error"), BoolQ(should = Seq(TermQ("error"), TermQ("deploy"))),
        PrefixQ("de", AutoRewrite), PrefixQ("de", ConstantScore)).foreach { q =>
      val top = s.topK(q, 10)
      assert(collect(top.queryExecution.executedPlan) {
        case r: RDDScanExec => r }.size == 1, s"$q")
      val got = ranked(top)
      assert(got.nonEmpty && got == ranked(scoreTop(s, q, 10)), s"$q")
    }
  }

  test("no single-task point query plans an object aggregate or AQE") {
    idx.dictionary
    pointQueries.foreach { q =>
      val (_, plans) = record(new Searcher(idx).topK(q, 10).collect())
      assert(plans.nonEmpty, s"$q")
      plans.foreach { p =>
        assert(!p.exists(n => n.isInstanceOf[AdaptiveSparkPlanExec] ||
          n.isInstanceOf[ObjectHashAggregateExec]), s"$q\n$p")
      }
    }
  }

  test("ClassicSim coord below 1 equals explain exactly") {
    val s = new Searcher(idx, ClassicSim)
    val rnd = new Random(7)
    val words = Seq("error", "warning", "query", "table", "spark", "index",
      "merge", "batch", "deploy") ++ Transcripts.vocabulary.slice(40, 60)
    def term(): Query = {
      val t = TermQ(words(rnd.nextInt(words.size)))
      if (rnd.nextBoolean()) t else BoostQ(t, 0.5 + rnd.nextInt(4))
    }
    // overlap / maxOverlap stays >= 1/2, so explain's correction part
    // (coorded - raw) is exact (Sterbenz) and raw + it rounds to coorded
    val shapes: Seq[() => Query] = Seq(
      () => BoolQ(should = Seq(term(), term())),
      () => BoolQ(should = Seq(term(), term(), term()), minShouldMatch = 2),
      () => BoolQ(must = Seq(term()), should = Seq(term())))
    var coorded = 0
    (0 until 12).foreach { i =>
      val q = shapes(i % shapes.size)()
      val ex = s.explain(q).collect().map(r => r.getLong(0) -> (r.getDouble(2),
        r.getSeq[Row](1).exists(_.getString(0).startsWith("coord(")))).toMap
      s.topK(q, 10).collect().foreach { r =>
        val (value, coord) = ex(r.getLong(0))
        assert(value == r.getDouble(1), s"$q doc ${r.getLong(0)}")
        if (coord) coorded += 1
      }
    }
    assert(coorded > 10)
  }

  test("above the single-task rows the partitioned fold equals one task") {
    val s = new Searcher(idx)
    val sloppy = phraseOf(12, 3, slop = 2)
    val queries = Seq(
      BoolQ(must = Seq(BoolQ(should = Seq(
          BoolQ(should = Seq(TermQ("error"), TermQ("deploy"))),
          phraseOf(10, 2, slop = 1)))),
        should = Seq(TermQ("spark"))),
      DisMaxQ(Seq(TermQ("error"), phraseOf(11, 2, slop = 1),
        BoolQ(must = Seq(TermQ("spark")), should = Seq(TermQ("deploy"))),
        KeywordQ("role", "tool")), 0.25),
      sloppy)
    // must-not clauses that match nothing, each a frame the index does
    // not hold, estimated at numDocs rows: they lift the estimate past the
    // limit and leave the score bits alone (a lone must is 0.0 + score,
    // times a coord of 1)
    val pads = Seq.fill((Searcher.SingleTaskRows / idx.numDocs + 1).toInt)(
      RangeQ("turn_idx", Some("0"), Some("0")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    queries.foreach { q =>
      val one = s.score(q)
      val padded = BoolQ(must = Seq(q), mustNot = pads)
      val wide = s.score(padded)
      assert(exchanges(Seq(one.queryExecution.executedPlan)).isEmpty, s"$q")
      assert(exchanges(Seq(wide.queryExecution.executedPlan)).nonEmpty, s"$q")
      val want = rows(one)
      assert(want.nonEmpty && rows(wide) == want, s"$q")
      // each partition keeps its 10 best, merged by TakeOrderedAndProject
      val top = s.topK(padded, 10)
      assert(collect(top.queryExecution.executedPlan) {
        case t: TakeOrderedAndProjectExec => t }.size == 1, s"$q")
      assert(ranked(top) == ranked(scoreTop(s, q, 10)), s"$q")
    }
    // each position fold itself, one task against partitioned by docid
    val Seq(a, b, c) = runs(13).take(3).map(_._1)
    Seq(sloppy,
      SpanQ(SNear(Seq(SNear(Seq(STerm(a), STerm(b)), 1), STerm(c)), 3)),
      SpanNotQ(a, c, 3, "error"),
      PayloadSpanNearQ(Seq(a, b, c), 4, PayMax, inOrder = false)).foreach { q =>
      val wide = s.positions(q, Some(Long.MaxValue))
      assert(exchanges(Seq(wide.queryExecution.executedPlan)).nonEmpty, s"$q")
      val want = rows(s.positions(q, Some(0L)))
      assert(want.nonEmpty && rows(wide) == want, s"$q")
      assert(ranked(s.positions(q, Some(Long.MaxValue), Some(10))) ==
        ranked(s.positions(q, Some(0L)).orderBy(col("score").desc,
          col("docid").asc).limit(10)), s"$q")
    }
  }

  test("every span and payload query is one job, with no join or array lambda") {
    idxP.dictionary
    val Seq(a, b, c) = runs(13).take(3).map(_._1)
    val queries = Seq(
      SpanFirstQ(a, 8),
      SpanNearQ(a, b, 2, inOrder = true),
      SpanNearQ(a, b, 2, inOrder = false),
      SpanNotQ(a, c, 3, "error"),
      SpanOrQ(Seq(a, b, "error")),
      SpanQ(SNear(Seq(SNear(Seq(STerm(a), STerm(b)), 2), STerm(c)), 3)),
      SpanQ(SNot(SNear(Seq(STerm(a), STerm(b)), 3), STerm("error"))),
      SpanQ(SNear(Seq(STerm(a), STerm(b), STerm(c)), 6, inOrder = false)),
      SpanQ(SNear(Seq(SMask("role", "assistant"), STerm("error")), 30)),
      SpanQ(SNear(Seq(SRegex(a.take(2) + ".*"), STerm(b)), 4)),
      PayloadTermQ(a),
      PayloadNearQ(a, b, 2),
      PayloadSpanNearQ(Seq(a, b, c), 4),
      PayloadSpanNearQ(Seq(a, b, c), 4, inOrder = false))
    def lambda(e: Expression): Boolean = e match {
      case _: ArrayTransform | _: ArrayFilter | _: ArrayAggregate |
          _: ZipWith | _: MapFromArrays => true
      case _ => false
    }
    queries.foreach { q =>
      val s = new Searcher(idxP)
      val (jobs, plans) =
        record(assert(s.topK(q, 10).collect().nonEmpty, s"$q"))
      assert(jobs == 1, s"$q\n${plans.mkString("\n")}")
      val nodes = plans.flatMap(collect(_) { case n => n })
      assert(nodes.nonEmpty && !nodes.exists(_.isInstanceOf[BaseJoinExec]),
        s"$q\n${plans.mkString("\n")}")
      assert(!nodes.exists(_.expressions.exists(_.exists(lambda))),
        s"$q\n${plans.mkString("\n")}")
    }
  }

  test("the resident dictionary keeps Spark's string order") {
    import spark.implicits._
    // U+FFFD sorts before a supplementary character in UTF-8, after its
    // surrogates in UTF-16
    val terms = Seq("a", "\uFFFD", "\uD83D\uDE00", "\uFF21b", "ab", "\u00E9")
    val d = graft.index.InvertedIndex.Dictionary(terms.map(_ -> 1L).toArray)
    val sorted = terms.toDF("t").orderBy("t").as[String].collect().toSeq
    assert(d.withPrefix("").map(_._1).toSeq == sorted)
    assert(d.range(Some("\uFFFD"), None, false, true).map(_._1).toSeq ==
      Seq("\uD83D\uDE00"))
  }

  test("an uncollated term range runs one job, as the dictionary scan answers") {
    idx.dictionary
    def top(s: Searcher, q: Query) =
      s.topK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scan = idx.copy(residentRows = 0)
    val hits = Seq(
      TermRangeQ(Some("de"), Some("dz"), true, true, AutoRewrite, None),
      TermRangeQ(Some("deploy"), Some("dog"), false, false, ScoringBoolean,
        None),
      TermRangeQ(Some("sp"), Some("sq"), true, true, ConstantScore, None),
      TermRangeQ(None, Some("ab"), true, false, AutoRewrite, None)).map { q =>
      val s = new Searcher(idxP)
      var got = Seq.empty[(Long, Double)]
      val (jobs, _) = record { got = top(s, q) }
      assert(jobs == 1, s"$q")
      assert(got == top(new Searcher(scan), q), s"$q")
      got.size
    }
    assert(hits.take(3).forall(_ > 0), s"$hits")
  }
}
