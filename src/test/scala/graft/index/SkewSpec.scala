package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** North-rule skew clause, proven structurally: the build's range
  * shuffle keys on (term, min_docid), so a hot term — one present in
  * EVERY input partition — must land on multiple reducers whenever its
  * run count exceeds a reducer's row share, instead of melting a single
  * task (SURVEY §4 "verify plans have no single-reducer stage"; the
  * reference's single-process build has no analog — skew is the part
  * Spark adds). The split must also be invisible: re-assembling the
  * split blocks yields exactly the postings a single reducer would have
  * produced. */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val nDocs = 2048L
  private val inputParts = 64
  private val reducers = 128

  /** Every doc holds the hot term plus one unique term: run rows are
    * 64 for "hot" (one per input partition) and 1 per unique term —
    * the stopword-vs-tail row profile of a real Zipf corpus. */
  private lazy val blocks = {
    val s = spark
    import s.implicits._
    val docs = spark.range(0, nDocs, 1, inputParts)
      .select(col("id").as("docid"),
        concat(lit("hot u"), col("id")).as("text"))
    PostingBlocks.buildFromDocs(docs, reducers)
      .toDF()
      .withColumn("pid", spark_partition_id())
      .cache()
  }

  test("a hot term's postings split across multiple reducers") {
    // 64 hot rows vs ~2112/128 ≈ 17 rows per reducer: the range
    // partitioner must cut inside the hot key range
    val hotPids = blocks.filter(col("term") === "hot")
      .select("pid").distinct().count()
    assert(hotPids >= 2, s"hot term landed on $hotPids reducer(s)")
    // and no reducer melts: the largest posting share of any single
    // partition stays well under the whole hot list
    val perPid = blocks.filter(col("term") === "hot")
      .groupBy("pid").agg(sum("n").as("n")).collect().map(_.getLong(1))
    assert(perPid.max < nDocs, "one reducer held the entire hot list")
  }

  test("the split is lossless and docid-disjoint") {
    val hot = blocks.filter(col("term") === "hot").collect()
      .sortBy(r => r.getAs[Long]("min_docid"))
    assert(hot.map(_.getAs[Int]("n").toLong).sum == nDocs)
    var prevMax = -1L
    val decoded = hot.flatMap { r =>
      assert(r.getAs[Long]("min_docid") > prevMax,
        "block ranges overlap across reducers")
      prevMax = r.getAs[Long]("max_docid")
      Codec.decode(BlockRow(r.getAs[String]("term"),
        r.getAs[Int]("n"), r.getAs[Long]("min_docid"),
        r.getAs[Long]("max_docid"), r.getAs[Long]("max_tf"),
        r.getAs[Long]("min_len"), r.getAs[Long]("sum_tf"),
        r.getAs[Array[Byte]]("docs"), r.getAs[Array[Byte]]("lens"),
        r.getAs[Array[Byte]]("pos")))
    }
    assert(decoded.map(_.docid).toSeq == (0L until nDocs),
      "reassembled hot postings are not the full ascending docid list")
    assert(decoded.forall(p => p.tf == 1L && p.len == 2L))
  }

  test("the tail terms survive alongside the split head") {
    val tail = blocks.filter(col("term") =!= "hot")
    assert(tail.count() == nDocs) // one block per unique term
    assert(tail.select("term").distinct().count() == nDocs)
  }
}
