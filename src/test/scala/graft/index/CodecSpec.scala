package graft.index

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** Codec laws — decode(encode(xs)) == xs over arbitrary posting shapes
  * (SURVEY.md §5: ScalaCheck round-trip properties; generators driven
  * with fixed seeds — no scalatest/scalacheck bridge in the offline
  * cache), plus wire-format spot checks against the reference's
  * documented encoding (FormatPostingsDocsWriter.cs:72-110,
  * IndexOutput.cs:79-110). */
class CodecSpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("VLong round-trip") {
    samples(Gen.chooseNum(0L, Long.MaxValue), 500).foreach { v =>
      val buf = new ArrayBuffer[Byte]
      Codec.writeVLong(buf, v)
      val (got, n) = Codec.readVLong(buf.toArray, 0)
      assert(got == v && n == buf.size, s"v=$v")
    }
  }

  test("VLong wire format: 7-bit groups, low first, continuation bit") {
    // IndexOutput.cs:79-87 semantics
    def enc(v: Long): Seq[Int] = {
      val b = new ArrayBuffer[Byte]; Codec.writeVLong(b, v)
      b.toSeq.map(_ & 0xff)
    }
    assert(enc(0) == Seq(0x00))
    assert(enc(127) == Seq(0x7f))
    assert(enc(128) == Seq(0x80, 0x01))
    assert(enc(16384) == Seq(0x80, 0x80, 0x01))
  }

  private val postingGen: Gen[Codec.Posting] = for {
    docid <- Gen.chooseNum(0L, 1L << 40)
    tf <- Gen.chooseNum(1, 40)
    len <- Gen.chooseNum(1L, 10000L)
    positions <- Gen.listOfN(tf, Gen.chooseNum(0, 9999))
  } yield Codec.Posting(docid, tf.toLong, len,
    positions.sorted.toArray)

  private val listGen: Gen[List[Codec.Posting]] =
    Gen.resize(300, Gen.nonEmptyListOf(postingGen)).map { ps =>
      // dedup docids + ascending (the encoder's contract)
      ps.groupBy(_.docid).map(_._2.head).toList.sortBy(_.docid)
    }

  test("block encode/decode round-trip (property)") {
    samples(listGen, 200).foreach { ps =>
      val blocks = Codec.encode("t", ps.iterator).toList
      val back = blocks.iterator.flatMap(Codec.decode).toList
      assert(back.map(_.docid) == ps.map(_.docid))
      assert(back.map(_.tf) == ps.map(_.tf))
      assert(back.map(_.len) == ps.map(_.len))
      assert(back.map(_.positions.toSeq) == ps.map(_.positions.toSeq))
    }
  }

  test("block stats bound their contents; blocks sized <= 128") {
    samples(listGen, 100).foreach { ps =>
      val blocks = Codec.encode("t", ps.iterator).toList
      assert(blocks.map(_.n).sum == ps.size)
      blocks.foreach { b =>
        assert(b.n <= Codec.BlockSize)
        val decoded = Codec.decode(b).toList
        assert(b.minDocid == decoded.head.docid)
        assert(b.maxDocid == decoded.last.docid)
        assert(b.maxTf == decoded.map(_.tf).max)
        assert(b.minLen == decoded.map(_.len).min)
        assert(b.sumTf == decoded.map(_.tf).sum)
      }
      // block ranges are disjoint and ascending
      blocks.sliding(2).foreach {
        case List(a, b) => assert(a.maxDocid < b.minDocid)
        case _ =>
      }
    }
  }

  test("tf==1 postings take the 1-VLong fast path") {
    // FormatPostingsDocsWriter.cs:83: (gap<<1|1) when tf==1
    val one = Codec.Posting(5L, 1L, 3L, Array(7))
    val b = Codec.encode("t", Iterator(one)).next()
    assert(b.docs.length == 1) // gap 0<<1|1 = 1 byte, no separate tf
    val p = Codec.decode(b).next()
    assert(p.tf == 1L && p.docid == 5L && p.positions.toSeq == Seq(7))
  }

  test("raw round-trip: encodeRaw(decodeRaw) == identity; doclens-only decode") {
    samples(listGen, 100).foreach { ps =>
      val blocks = Codec.encode("t", ps.iterator).toList
      val raw = blocks.iterator.flatMap(Codec.decodeRaw).toList
      assert(raw.map(_.docid) == ps.map(_.docid))
      assert(raw.map(_.tf) == ps.map(_.tf))
      // re-encode from raw must reproduce identical postings
      val back = Codec.encodeRaw("t", raw.iterator)
        .flatMap(Codec.decode).toList
      assert(back.map(_.docid) == ps.map(_.docid))
      assert(back.map(_.positions.toSeq) == ps.map(_.positions.toSeq))
      // lens-only decode agrees
      val lens = blocks.iterator.flatMap(Codec.decodeDocLens).toList
      assert(lens == ps.map(p => (p.docid, p.len)))
    }
  }

  test("positions blob round-trip") {
    samples(Gen.listOf(Gen.chooseNum(0, 99999)), 200).foreach { raw =>
      val ps = raw.sorted.toArray
      val b = Codec.encodeRaw("t", Iterator.single(Codec.RawPosting("t", 0L,
        ps.length.toLong, 1L, Codec.encodePositions(ps)))).next()
      assert(Codec.decode(b).next().positions.toSeq == ps.toSeq)
    }
  }

  /** A one-posting block whose docs stream claims `tf`, over a
    * three-byte position stream; `sumTf` as the block row records it. */
  private def corrupt(tf: Long, sumTf: Long = 3L): Codec.Block = {
    val docs = new ArrayBuffer[Byte]
    Codec.writeVLong(docs, 0L) // gap 0, tf follows
    Codec.writeVLong(docs, tf)
    Codec.Block("hot", 1, 4242L, 4242L, 3L, 5L, sumTf, docs.toArray,
      Array[Byte](5), Codec.encodePositions(Array(1, 2, 3)))
  }

  private val decoders: Seq[(String, Codec.Block => Iterator[Any])] = Seq(
    "decode" -> Codec.decode, "decodePay" -> Codec.decodePay,
    "decodeRaw" -> Codec.decodeRaw, "decodeScoring" -> Codec.decodeScoring)

  test("a corrupt tf fails every decoder cleanly, naming the block") {
    Seq((1L << 31) - 1, 1L << 28, (1L << 32) + 5).foreach { tf =>
      decoders.foreach { case (name, dec) =>
        val e = intercept[IllegalArgumentException](dec(corrupt(tf)).toList)
        assert(e.getMessage.contains("term=hot") &&
          e.getMessage.contains("min_docid=4242"), s"$name tf=$tf: $e")
      }
    }
    // the sound block decodes; tfs that fall short of sum_tf do not
    decoders.foreach { case (name, dec) =>
      assert(dec(corrupt(3L)).size == 1, name)
    }
    val e = intercept[IllegalArgumentException](
      Codec.decodeScoring(corrupt(2L)).toList)
    assert(e.getMessage.contains("sum_tf 3"), e.getMessage)
  }

  test("a corrupt block fails its Spark task, not the JVM") {
    val sc = graft.SparkFixture.spark.sparkContext
    val bad = corrupt((1L << 31) - 1)
    decoders.foreach { case (name, dec) =>
      val e = intercept[org.apache.spark.SparkException](
        sc.parallelize(Seq(0, 1), 2)
          .map(i => if (i == 1) dec(bad).size else 0).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains("term=hot min_docid=4242")), s"$name: $e")
    }
    // the context still runs jobs
    assert(sc.parallelize(1 to 4, 2).map(_ * 2).sum() == 20)
  }

  test("compression: dense tf=1 lists cost ~1 byte per posting") {
    val ps = (0L until 1000L).map(d => Codec.Posting(d, 1L, 10L, Array(0)))
    val blocks = Codec.encode("t", ps.iterator).toList
    val docBytes = blocks.map(_.docs.length).sum
    assert(docBytes <= 1100, s"docBytes=$docBytes for 1000 dense postings")
  }
}
