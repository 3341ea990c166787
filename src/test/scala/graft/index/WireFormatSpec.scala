package graft.index

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.analysis.Payloads
import graft.model.Transcripts

/** The stored posting bytes, pinned: a SHA-256 over every column of a
  * store's block rows, sorted by (term, min_docid), for three stores of
  * InversionSpec's corpus. A change to the codec or to the build's
  * chunking that alters one byte of any block changes its digest.
  *
  * The stores are built into one partition. With more, a range
  * shuffle's bounds come from a sample whose seed is the id of its RDD,
  * so the docid at which a hot term's run is cut between two reducers,
  * and with it the term's blocks, would follow the number of RDDs the
  * JVM made before: the digest would depend on which specs ran first. */
class WireFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private lazy val turns = Transcripts.synthetic(spark, 400, seed = 13L,
    partitions = 3).cache()

  private def tmp(): String =
    Files.createTempDirectory("graft_wire_").toString

  /** The hex SHA-256 of a store's block rows: each row's term (length
    * first), its six stats and its three streams (each length first). */
  private def digest(root: String): String = {
    import spark.implicits._
    val rows = SegmentStore.open(spark, root).blockTable.as[BlockRow]
      .collect().sortBy(r => (r.term, r.min_docid))
    val md = MessageDigest.getInstance("SHA-256")
    def long(v: Long): Unit =
      md.update(ByteBuffer.allocate(8).putLong(v).array())
    def bytes(b: Array[Byte]): Unit = { long(b.length.toLong); md.update(b) }
    rows.foreach { r =>
      bytes(r.term.getBytes(UTF_8))
      Seq(r.n.toLong, r.min_docid, r.max_docid, r.max_tf, r.min_len,
        r.sum_tf).foreach(long)
      bytes(r.docs); bytes(r.lens); bytes(r.pos)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("Standard store") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, numBatches = 1,
      numPartitions = 1)
    assert(digest(root) ==
      "66085af140183cd8bc8eeae1153d30a6afe14bb5ba5e6e12521320e61f97dc01")
  }

  test("store with positionBoost payloads") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, numBatches = 1,
      numPartitions = 1, assigner = Some(Payloads.positionBoost(3, 2.0f)),
      payTag = "boost")
    assert(digest(root) ==
      "ad776339a6726c470c247c1d7befacfa3b2efe1bce46c6c6448598dbac432c62")
  }

  test("three segments after forceMerge") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, numBatches = 3,
      numPartitions = 1)
    IndexBuilder.forceMerge(spark, root, numPartitions = 1)
    assert(SegmentStore.latest(root).get.segments.size == 1)
    // merged through fromRaw, it holds the one-batch build's bytes
    assert(digest(root) ==
      "66085af140183cd8bc8eeae1153d30a6afe14bb5ba5e6e12521320e61f97dc01")
  }
}
