package graft.index

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.analysis.{Analyzer, Payloads}
import graft.model.Transcripts

/** The shape of a segment write: a warm bulk build is at most 12 Spark
  * jobs and compiles no class, a segment's numDocs and sumLen cost no job
  * of their own, and no write leaves a cached Dataset or a persisted RDD
  * behind. */
class BuildShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private lazy val turns = {
    val t = Transcripts.synthetic(spark, 1200, seed = 23L, partitions = 4)
      .cache()
    t.count()
    t
  }

  private def tmp(): String =
    Files.createTempDirectory("graft_shape_").toString

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def bulk(): Unit =
    IndexBuilder.buildSegments(spark, turns, tmp(), numBatches = 1,
      numPartitions = 4)

  test("a warm bulk build runs at most 12 jobs and compiles no class") {
    // warm the build: the code cache's LRU is approximate, so one build
    // may evict some of its own classes; three settle it
    assert((1 to 3).exists(_ => compiles(bulk()) == 0))
    val r = SparkFixture.record(bulk())
    assert(r.jobs <= 12, s"${r.jobs} jobs: ${r.actions.mkString(", ")}")
    assert(compiles(bulk()) == 0)
  }

  test("a merge that expunges deletes counts docs and sums lengths as it writes") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, numBatches = 3,
      numPartitions = 4)
    IndexBuilder.deleteByTerm(spark, root, "deploy")
    val live = SegmentStore.open(spark, root).docs.select("text").collect()
      .map(_.getString(0))
    val r = SparkFixture.record(IndexBuilder.forceMerge(spark, root, 4))
    // every query the merge ran is a table write: no count, no collect
    assert(r.actions.nonEmpty && r.actions.forall(_ == "command"),
      r.actions.mkString(", "))
    val m = SegmentStore.latest(root).get
    assert(m.segments.size == 1 && m.deletes.isEmpty)
    assert(m.numDocs == live.length)
    assert(m.sumLen == live.map(Analyzer.tokenize(_).size.toLong).sum)
  }

  test("a bulk build tokenizes each turn once") {
    // the payload assigner runs once per token of every tokenization
    val calls = spark.sparkContext.longAccumulator("assigner calls")
    val counting: Payloads.Assigner = (_, _) => { calls.add(1); Float.NaN }
    IndexBuilder.buildSegments(spark, turns, tmp(), numBatches = 1,
      numPartitions = 4, assigner = Some(counting), payTag = "counting")
    val tokens = turns.select("text").collect()
      .map(r => Analyzer.tokenize(r.getString(0)).size.toLong).sum
    assert(tokens > 0 && calls.value == tokens)
  }

  /** Persisted RDDs the body made that are still registered when it
    * returns. */
  private def leftPinned(body: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    (sc.getPersistentRDDs.keySet -- before).toSet
  }

  test("no write leaves a cached Dataset or a persisted RDD behind") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // Scala-private to Spark's sql package, public in the bytecode
    def cached = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val entries = cached
    val root = tmp()
    val old = turns.filter(col("conv_id") < "c000100")
    val added = turns.filter(col("conv_id") >= "c000100")
    val writes = Seq[(String, () => Unit)](
      "buildSegments" -> (() =>
        IndexBuilder.buildSegments(spark, old, root, numBatches = 2,
          numPartitions = 4)),
      "appendSegment" -> (() =>
        IndexBuilder.appendSegment(spark, added, root, numPartitions = 4)),
      "updateByKeyword" -> (() =>
        IndexBuilder.updateByKeyword(spark, root, "conv_id", "c000003",
          old.filter(col("conv_id") === "c000003"), numPartitions = 4)),
      "forceMerge" -> (() =>
        IndexBuilder.forceMerge(spark, root, numPartitions = 4)))
    writes.foreach { case (what, write) =>
      assert(leftPinned(write()).isEmpty, what)
      assert(cached == entries, what)
    }
    assert(SegmentStore.latest(root).get.segments.size == 1)
  }
}
