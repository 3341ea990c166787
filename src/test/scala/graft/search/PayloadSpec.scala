package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.analysis.{Analyzer, Payloads}
import graft.index.{Codec, IndexBuilder, SegmentStore}
import graft.model.Transcripts

/** Payload family invariants (PayloadTermQuery.cs:26-40,
  * PayloadFunction.cs:30, FormatPostingsPositionsWriter.cs:56-78):
  * payloads round-trip through the codec's payload bit, flow verbatim
  * through block encoding, and modulate — never replace — membership. */
class PayloadSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("codec: positions+payloads round-trip; absence reads as 1.0") {
    val pos = Array(1, 4, 9, 10, 300)
    val pay = Array(2.5f, Float.NaN, 0.25f, Float.NaN, 7f)
    // one posting whose position blob is `blob`, through the block codec
    def block(blob: Array[Byte]) = Codec.encodeRaw("t", Iterator.single(
      Codec.RawPosting("t", 3L, pos.length.toLong, 9L, blob))).next()
    val b = block(Codec.encodePosPay(pos, pay))
    val Seq(p) = Codec.decodePay(b).toSeq
    assert(p.positions.toSeq == pos.toSeq)
    assert(p.payloads.toSeq == Seq(2.5f, 1.0f, 0.25f, 1.0f, 7f))
    // payload-skipping decode sees the same positions
    assert(Codec.decode(b).next().positions.toSeq == pos.toSeq)
    // payload-free encoding decodes identically through BOTH paths
    val b0 = block(Codec.encodePositions(pos))
    assert(Codec.decode(b0).next().positions.toSeq == pos.toSeq)
    val p0 = Codec.decodePay(b0).next()
    assert(p0.positions.toSeq == pos.toSeq && p0.payloads.forall(_ == 1.0f))
  }

  test("delimited tokenizer: term|weight split with float payloads") {
    val toks = Payloads.delimitedTokenize("Quick|2.5 brown fox|0.5 x|oops")
    assert(toks.map(t => (t.term, t.pos)) ==
      Vector(("quick", 0), ("brown", 1), ("fox", 2), ("x", 3)))
    assert(toks(0).payload == 2.5f)
    assert(toks(1).payload.isNaN) // no delimiter -> no payload
    assert(toks(2).payload == 0.5f)
    assert(toks(3).payload.isNaN) // unparseable weight -> no payload
  }

  test("payload query: mem and persisted flavors agree and match brute force") {
    val t = Transcripts.synthetic(spark, 600, seed = 7L, partitions = 4)
    val assigner = Payloads.positionBoost(3, 2.0f)
    val mem = IndexBuilder.build(t, 4, assigner = Some(assigner))

    // the same payload build persisted as segments and re-opened (the
    // payload blobs flow verbatim through the shuffle and parquet)
    val root = java.nio.file.Files.createTempDirectory("graft_paymem_").toString
    IndexBuilder.buildSegments(spark, t, root, numBatches = 2,
      numPartitions = 4, assigner = Some(assigner))
    val blk = SegmentStore.open(spark, root)

    val term = "error"
    for (fn <- Seq(PayAvg: PayloadFn, PayMin, PayMax)) {
      val q = PayloadTermQ(term, fn)
      val gotMem = new Searcher(mem).topK(q, 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val gotBlk = new Searcher(blk).topK(q, 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(gotMem.toSeq == gotBlk.toSeq, s"mem != persisted for $fn")

      // brute force from raw text + the assigner definition
      val docs = mem.docs.select("docid", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      val n = mem.numDocs
      val df = mem.termDict.filter(col("term") === term)
        .select("df").collect()(0).getLong(0)
      val brute = docs.toSeq.flatMap { case (docid, text) =>
        val toks = Analyzer.fastTokenize(text)
        val occ = toks.filter(_.term == term)
        if (occ.isEmpty) None
        else {
          val pays = occ.map(o => if (o.pos < 3) 2.0 else 1.0)
          val payScore = fn match {
            case PayAvg => pays.sum / pays.size
            case PayMin => pays.min
            case PayMax => pays.max
          }
          val tf = occ.size.toDouble
          val len = toks.size.toDouble
          val bm = Bm25.idf(n, df) * (tf * 2.2) /
            (tf + 1.2 * (1 - 0.75 + 0.75 * len / mem.avgdl))
          Some(docid -> bm * payScore)
        }
      }.sortBy { case (d, s) => (-s, d) }.take(20)
      brute.zip(gotMem).foreach { case ((bd, bs), (gd, gs)) =>
        assert(bd == gd && math.abs(bs - gs) < 1e-9, s"fn=$fn")
      }
    }
  }

  test("payloads survive the persisted segment store (build → parquet → open)") {
    val t = Transcripts.synthetic(spark, 400, seed = 11L, partitions = 4)
    val assigner = Payloads.positionBoost(3, 2.0f)
    val mem = IndexBuilder.build(t, 4, assigner = Some(assigner))
    val root = java.nio.file.Files.createTempDirectory("graft_payseg_").toString
    IndexBuilder.buildSegments(spark, t, root, numBatches = 3,
      numPartitions = 4, assigner = Some(assigner))
    val seg = SegmentStore.open(spark, root)
    for (fn <- Seq(PayAvg: PayloadFn, PayMin, PayMax)) {
      val q = PayloadTermQ("error", fn)
      val gotMem = new Searcher(mem).topK(q, 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val gotSeg = new Searcher(seg).topK(q, 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(gotMem == gotSeg, s"mem != persisted seg for $fn")
      assert(gotMem.nonEmpty)
    }
    // non-payload queries over the payload-carrying store are unchanged:
    // the payload bit is skipped in-stream by the plain decode
    val root2 = java.nio.file.Files.createTempDirectory("graft_plainseg_").toString
    IndexBuilder.buildSegments(spark, t, root2, numBatches = 3,
      numPartitions = 4)
    val plain = SegmentStore.open(spark, root2)
    val a = new Searcher(seg).topK(TermQ("error"), 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = new Searcher(plain).topK(TermQ("error"), 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("payload span-near: N=2 equals PayloadNearQ; N=3 matches brute force") {
    val t = Transcripts.synthetic(spark, 500, seed = 9L, partitions = 2)
    val idx = IndexBuilder.build(t, 2,
      assigner = Some(Payloads.positionBoost(3, 2.0f)))
    val sr = new Searcher(idx)
    val docsTerms = idx.docs.select("docid", "text").collect()
      .map(r => r.getLong(0) ->
        graft.analysis.Analyzer.fastTokenize(r.getString(1)))
    // a frequent ordered pair for the N=2 equivalence
    val (a, b) = docsTerms.flatMap { case (_, ts) =>
      ts.map(_.term).zip(ts.map(_.term).drop(1)).filter(p => p._1 != p._2)
    }.groupBy(identity).maxBy(_._2.size)._1
    for (fn <- Seq(PayAvg: PayloadFn, PayMin, PayMax)) {
      val two = sr.score(PayloadNearQ(a, b, 8, fn)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val gen = sr.score(PayloadSpanNearQ(Seq(a, b), 8, fn)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(two.keySet == gen.keySet && two.nonEmpty, s"fn=$fn")
      two.foreach { case (d, s) =>
        assert(math.abs(s - gen(d)) < 1e-9, s"doc $d fn=$fn") }
    }
    // N=3: brute-force min-chains from raw analyzed text
    val (x, y, z) = docsTerms.flatMap { case (_, ts) =>
      val terms = ts.map(_.term)
      terms.lazyZip(terms.drop(1)).lazyZip(terms.drop(2)).toVector
        .filter { case (p, q, r) => p != q && q != r && p != r }
    }.groupBy(identity).maxBy(_._2.size)._1
    val slop = 6
    val dfs = Seq(x, y, z).map(tm => tm ->
      docsTerms.count(_._2.exists(_.term == tm)).toLong).toMap
    val sumIdf = Seq(x, y, z).map(tm => Bm25.idf(idx.numDocs, dfs(tm))).sum
    def payOf(p: Int): Double = if (p < 3) 2.0 else 1.0
    val brute = docsTerms.flatMap { case (docid, ts) =>
      def occ(tm: String) = ts.filter(_.term == tm).map(_.pos)
      val chains = occ(x).flatMap { p1 =>
        occ(y).filter(q => q > p1 && q - p1 - 1 <= slop).minOption.flatMap {
          q2 => occ(z).filter(r => r > q2 && r - q2 - 1 <= slop).minOption
            .map(q3 => (p1, q2, q3))
        }
      }
      if (chains.isEmpty) None
      else {
        val tfp = chains.map { case (p1, _, q3) =>
          1.0 / (1.0 + q3 - p1 - 2.0) }.sum
        val pays = chains.flatMap { case (p1, q2, q3) =>
          Seq(payOf(p1), payOf(q2), payOf(q3)) }
        val len = ts.size.toDouble
        val bm = sumIdf * (tfp * 2.2) /
          (tfp + 1.2 * (1 - 0.75 + 0.75 * len / idx.avgdl))
        Some(docid -> bm * (pays.sum / pays.size))
      }
    }.toMap
    val got = sr.score(PayloadSpanNearQ(Seq(x, y, z), slop)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == brute.keySet && got.nonEmpty)
    brute.foreach { case (d, s) =>
      assert(math.abs(s - got(d)) < 1e-9, s"doc $d") }

    // unordered: combination-envelope brute force; clause order must
    // not matter
    val bruteU = docsTerms.flatMap { case (docid, ts) =>
      def occ(tm: String) = ts.filter(_.term == tm).map(_.pos)
      val combos = for {
        p1 <- occ(x); q2 <- occ(y); q3 <- occ(z)
        w = Seq(p1, q2, q3).max - Seq(p1, q2, q3).min
        if w + 1 - 3 <= slop
      } yield (p1, q2, q3, w)
      if (combos.isEmpty) None
      else {
        val tfp = combos.map { case (_, _, _, w) => 1.0 / (1.0 + w - 2.0) }.sum
        val pays = combos.flatMap { case (p1, q2, q3, _) =>
          Seq(payOf(p1), payOf(q2), payOf(q3)) }
        val len = ts.size.toDouble
        val bm = sumIdf * (tfp * 2.2) /
          (tfp + 1.2 * (1 - 0.75 + 0.75 * len / idx.avgdl))
        Some(docid -> bm * (pays.sum / pays.size))
      }
    }.toMap
    for (ts3 <- Seq(Seq(x, y, z), Seq(z, x, y))) {
      val gotU = sr.score(PayloadSpanNearQ(ts3, slop, inOrder = false))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(gotU.keySet == bruteU.keySet && gotU.nonEmpty, s"order $ts3")
      bruteU.foreach { case (d, s) =>
        assert(math.abs(s - gotU(d)) < 1e-9, s"doc $d order $ts3") }
    }
    // the ordered chains are a subset of the unordered matches
    assert(got.keySet.subsetOf(bruteU.keySet))
  }

  test("payload near: span-matched docs only, payloads from both ends") {
    val t = Transcripts.synthetic(spark, 500, seed = 5L, partitions = 2)
    val idx = IndexBuilder.build(t, 2,
      assigner = Some(Payloads.positionBoost(3, 2.0f)))
    val sr = new Searcher(idx)
    // pick an ORDERED pair (a before b) that co-occurs in this corpus:
    // scan raw analyzed docs for adjacent-ish term pairs
    val docsTerms = idx.docs.select("text").collect().map(r =>
      graft.analysis.Analyzer.fastTokenize(r.getString(0)).map(_.term))
    val (a, b) = docsTerms.flatMap(ts =>
      ts.zip(ts.drop(1)).filter { case (x, y) => x != y })
      .groupBy(identity).maxBy(_._2.size)._1
    val near = sr.score(PayloadNearQ(a, b, 50)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val span = sr.score(SpanNearQ(a, b, 50, inOrder = true)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // same matched doc set as the plain ordered span-near
    assert(near.keySet == span.keySet && near.nonEmpty)
    // payload factor is bounded by [1, boost]: near/span within [1, 2]
    near.foreach { case (d, s) =>
      val ratio = s / span(d)
      assert(ratio >= 1.0 - 1e-9 && ratio <= 2.0 + 1e-9,
        s"doc $d ratio $ratio")
    }
    // includeSpanScore=false → the pure payload factor, same ratio
    val pure = sr.score(PayloadNearQ(a, b, 50, PayAvg,
      includeSpanScore = false)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pure.foreach { case (d, p) =>
      assert(math.abs(p - near(d) / span(d)) < 1e-9)
    }
  }

  test("includeSpanScore=false scores by payload function alone") {
    val t = Transcripts.synthetic(spark, 300, seed = 11L, partitions = 2)
    val idx = IndexBuilder.build(t, 2,
      assigner = Some(Payloads.positionBoost(3, 2.0f)))
    val got = new Searcher(idx)
      .topK(PayloadTermQ("error", PayMax, includeSpanScore = false), 1000)
      .collect().map(_.getDouble(1)).toSet
    // every match scores exactly 2.0 (an early occurrence) or 1.0
    assert(got.nonEmpty && got.subsetOf(Set(1.0, 2.0)))
  }
}
