package graft.index

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.model.Transcripts

/** `CheckIndex.verify` over a healthy store and over one whose stored
  * blocks the codec rejects: a damaged store gets a report that names
  * each bad block, not an exception. */
class CheckIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private lazy val turns = Transcripts.synthetic(spark, 200, seed = 13L,
    partitions = 2).cache()

  test("a healthy store reports no violations") {
    val root = Files.createTempDirectory("graft_check_").toString
    IndexBuilder.buildSegments(spark, turns, root, numBatches = 2,
      numPartitions = 2)
    val r = CheckIndex.verify(spark, root)
    assert(r.segments == 2 && r.ok, r.violations)
  }

  test("a truncated and a corrupt-tf block are named, not thrown") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_check_").toString
    IndexBuilder.buildSegments(spark, turns, root, numBatches = 2,
      numPartitions = 2)
    val seg = SegmentStore.latest(root).get.segments.head.id
    val rows = SegmentStore.readTable(spark, root, seg, "blocks")
      .as[BlockRow].collect().toSeq.sortBy(r => (r.term, r.min_docid))
    // a two-posting block loses its last docs byte; a one-posting block
    // claims a tf far above its sum_tf
    val cut = rows.find(_.n >= 2).get
    val tf = rows.find(r => r.n == 1 && r != cut).get
    val bigTf = new Codec.Bytes
    Codec.writeVLong(bigTf, 0L) // gap 0, tf follows
    Codec.writeVLong(bigTf, 1L << 20)
    val damaged = rows.map {
      case `cut` => cut.copy(docs = cut.docs.dropRight(1))
      case `tf` => tf.copy(docs = bigTf.toArray)
      case r => r
    }
    SegmentStore.writeTable(root, seg, "blocks", damaged.toDS().toDF())

    val r = CheckIndex.verify(spark, root)
    assert(!r.ok)
    Seq(cut, tf).foreach { b =>
      val name = s"corrupt posting block term=${b.term} min_docid=${b.min_docid}"
      assert(r.violations.exists(_.contains(name)), s"$name in ${r.violations}")
    }

    // served from the blocks the index holds on the driver, a query of
    // a damaged block fails there with the codec's error; the same
    // Searcher still answers a query on other terms
    val idx = SegmentStore.open(spark, root)
    assert(idx.heldBlocks.isDefined)
    val s = new graft.search.Searcher(idx)
    Seq(cut, tf).foreach { b =>
      val e = intercept[IllegalArgumentException](
        s.topK(graft.search.TermQ(b.term), 10).collect())
      assert(e.getMessage.contains(
        s"corrupt posting block term=${b.term} min_docid=${b.min_docid}"),
        e.getMessage)
    }
    val other = rows.map(_.term).find(t => t != cut.term && t != tf.term).get
    assert(s.topK(graft.search.TermQ(other), 10).collect().nonEmpty)
  }
}
