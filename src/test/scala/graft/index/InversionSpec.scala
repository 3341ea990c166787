package graft.index

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.analysis.{Analyzers, Payloads}
import graft.model.Transcripts

/** The one inversion loop (`PostingBlocks.buildFromDocs`, behind every
  * build flavor) against a scalar reference written here: each doc
  * tokenized alone by `Analyzers.tokenize(kind, text)` and grouped by
  * term in token order. Postings, payloads, dictionary and doc lengths
  * must match row for row, for every (analyzer, assigner) pair in memory
  * and for the persisted flavors (bulk segments, and an appended store
  * after a delete and a merge), whose manifest numDocs and sumLen must
  * match too. */
class InversionSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private lazy val turns = Transcripts.synthetic(spark, 400, seed = 13L,
    partitions = 3).cache()

  private val boost = Payloads.positionBoost(3, 2.0f)

  /** (term, docid, tf, len, positions, payloads) per posting, by brute
    * force; a missing payload reads as 1.0f. */
  private def reference(docs: Seq[(Long, String)], kind: Analyzers.Kind,
      assigner: Option[Payloads.Assigner]) =
    docs.flatMap { case (docid, text) =>
      val toks = Analyzers.tokenize(kind, text)
      toks.groupBy(_.term).toSeq.map { case (term, occ) =>
        val ps = occ.map(_.pos)
        val pays = ps.map { p =>
          val w = assigner.fold(Float.NaN)(a => a(term, p))
          if (w.isNaN) 1.0f else w
        }
        (term, docid, occ.size.toLong, toks.size.toLong, ps.toList,
          pays.toList)
      }
    }

  private def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq.map { case s: Seq[_] => s.toList; case x => x }).toSeq

  private def check(kind: Analyzers.Kind,
      assigner: Option[Payloads.Assigner]): Unit =
    check(IndexBuilder.build(turns, 3, kind, assigner), kind, assigner)

  /** A store's index, checked as [[check]] checks an in-memory one, and
    * its manifest's numDocs and sumLen against the same reference. */
  private def checkStore(root: String, kind: Analyzers.Kind,
      assigner: Option[Payloads.Assigner]): Unit = {
    val idx = SegmentStore.open(spark, root)
    check(idx, kind, assigner)
    val m = SegmentStore.latest(root).get
    val lens = idx.docs.select("text").collect()
      .map(r => Analyzers.tokenize(kind, r.getString(0)).size.toLong)
    assert(m.numDocs == lens.length)
    assert(m.sumLen == lens.sum)
  }

  private def tmp(): String =
    Files.createTempDirectory("graft_inversion_").toString

  private def check(idx: InvertedIndex, kind: Analyzers.Kind,
      assigner: Option[Payloads.Assigner]): Unit = {
    val docs = idx.docs.select("docid", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val want = reference(docs, kind, assigner)
    assert(want.nonEmpty)
    val key = (r: Seq[Any]) => (r(0).asInstanceOf[String], r(1).asInstanceOf[Long])

    assert(rows(idx.postings, "term", "docid", "tf", "len", "positions")
      .sortBy(key) ==
      want.map(w => Seq(w._1, w._2, w._3, w._4, w._5)).sortBy(key))
    val terms = want.map(_._1).distinct
    assert(rows(idx.postingsForPay(terms), "term", "docid", "positions",
      "payloads").sortBy(key) ==
      want.map(w => Seq(w._1, w._2, w._5, w._6)).sortBy(key))

    // dictionary and doc lengths derive from the same block table
    val dict = want.groupBy(_._1).map { case (t, ps) =>
      Seq(t, ps.size.toLong, ps.map(_._3).sum) }.toSeq
    assert(rows(idx.termDict, "term", "df", "cf").sortBy(_.mkString("|")) ==
      dict.sortBy(_.mkString("|")))
    val lens = docs.map { case (d, text) =>
      Seq(d, Analyzers.tokenize(kind, text).size.toLong) }
    assert(rows(idx.docLens, "docid", "len").sortBy(_.mkString("|")) ==
      lens.sortBy(_.mkString("|")))
    assert(idx.numDocs == docs.size)
    assert(idx.avgdl == want.map(_._3).sum.toDouble / docs.size)
  }

  test("Standard analyzer, no payloads") {
    check(Analyzers.Standard, None)
  }

  test("Shingles(2) analyzer, no payloads") {
    check(Analyzers.Shingles(2), None)
  }

  test("Standard analyzer with positionBoost payloads") {
    check(Analyzers.Standard, Some(boost))
  }

  test("Shingles(2) analyzer with positionBoost payloads") {
    check(Analyzers.Shingles(2), Some(boost))
  }

  test("buildSegments, one batch") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, numBatches = 1,
      numPartitions = 3)
    checkStore(root, Analyzers.Standard, None)
  }

  test("buildSegments, three batches, Shingles(2) with payloads") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, numBatches = 3,
      numPartitions = 3, assigner = Some(boost), kind = Analyzers.Shingles(2),
      payTag = "boost")
    checkStore(root, Analyzers.Shingles(2), Some(boost))
  }

  test("appendSegment, deleteByTerm, then forceMerge") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns.filter(col("conv_id") < "c000030"),
      root, numBatches = 2, numPartitions = 3)
    IndexBuilder.appendSegment(spark,
      turns.filter(col("conv_id") >= "c000030"), root, numPartitions = 3)
    IndexBuilder.deleteByTerm(spark, root, "deploy")
    IndexBuilder.forceMerge(spark, root, numPartitions = 3)
    val m = SegmentStore.latest(root).get
    assert(m.segments.size == 1 && m.deletes.isEmpty)
    checkStore(root, Analyzers.Standard, None)
  }
}
