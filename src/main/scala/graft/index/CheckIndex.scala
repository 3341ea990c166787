package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standalone index verifier — the CheckIndex job
  * (/root/reference/src/core/Index/CheckIndex.cs:42), re-expressed as
  * distributed assertions over the segment tables. Each check returns a
  * violation count computed by an aggregation (never a driver-side
  * row loop); `verify` runs them all and reports.
  *
  * Checks: (1) every manifest segment has a matching lineage marker;
  * (2) per-block stats (n, min/max docid, max_tf, min_len, sum_tf)
  * equal the decoded content and docids are strictly increasing inside
  * a block; (3) the persisted dictionary equals the one recomputed from
  * block stats; (4) docs docids are unique and within the watermark;
  * (5) postings carry one row per (term, docid).
  */
object CheckIndex {

  final case class Report(
      segments: Int,
      numDocs: Long,
      numTerms: Long,
      violations: Seq[String]) {
    def ok: Boolean = violations.isEmpty
  }

  def verify(spark: SparkSession, root: String): Report = {
    import spark.implicits._
    val m = SegmentStore.latest(root)
      .getOrElse(return Report(0, 0, 0, Seq("no committed manifest")))
    val v = scala.collection.mutable.ArrayBuffer.empty[String]

    m.segments.foreach { seg =>
      if (!SegmentStore.readLineage(root, seg.id).contains(seg))
        v += s"lineage marker missing/mismatched for ${seg.id}"
    }

    val idx = SegmentStore.open(spark, root)
    val blocks = idx.blockTable

    // (2) block stats vs decoded content — one pass, partition-local
    val badBlocks = blocks.as[BlockRow].flatMap { r =>
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      // a block the codec rejects is named, not thrown
      val ps = try Codec.decode(r.block).toVector
        catch { case e: IllegalArgumentException =>
          errs += e.getMessage; Vector.empty }
      if (ps.size != r.n && errs.isEmpty) errs += s"${r.term}: n"
      if (ps.nonEmpty) {
        if (ps.head.docid != r.min_docid) errs += s"${r.term}: min_docid"
        if (ps.last.docid != r.max_docid) errs += s"${r.term}: max_docid"
        if (ps.map(_.tf).max != r.max_tf) errs += s"${r.term}: max_tf"
        if (ps.map(_.len).min != r.min_len) errs += s"${r.term}: min_len"
        if (ps.map(_.tf).sum != r.sum_tf) errs += s"${r.term}: sum_tf"
        if (ps.sliding(2).exists(w => w.size == 2 &&
            w(1).docid <= w(0).docid)) errs += s"${r.term}: docid order"
        if (ps.exists(p => p.positions.size != p.tf))
          errs += s"${r.term}: positions/tf"
      }
      errs
    }.take(5)
    if (badBlocks.nonEmpty)
      v += s"block stat violations: ${badBlocks.mkString("; ")}"

    // (3) dictionary == aggregate of block stats
    val recomputed = PostingBlocks.dictFromBlocks(blocks)
    val dictDiff = idx.termDict.join(recomputed, Seq("term"), "full")
      .filter(idx.termDict("df") =!= recomputed("df") ||
        idx.termDict("cf") =!= recomputed("cf") ||
        idx.termDict("df").isNull || recomputed("df").isNull)
      .count()
    if (dictDiff != 0) v += s"dict mismatch rows: $dictDiff"

    // (4) docs docid uniqueness + watermark bound
    val docsDup = idx.docs.groupBy("docid").count()
      .filter(col("count") > 1).count()
    if (docsDup != 0) v += s"duplicate docids in docs: $docsDup"
    val outOfRange = idx.docs
      .filter(col("docid") < 0 || col("docid") > m.maxDocid).count()
    if (outOfRange != 0) v += s"docids beyond watermark: $outOfRange"

    // (5) postings (term, docid) uniqueness
    val postDup = idx.postings.groupBy("term", "docid").count()
      .filter(col("count") > 1).count()
    if (postDup != 0) v += s"duplicate (term, docid) postings: $postDup"

    Report(m.segments.size, idx.docs.count(), idx.termDict.count(), v.toSeq)
  }

  /** Gate-shaped single-row report. */
  def reportDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val r = verify(spark, root)
    Seq((r.numDocs, r.numTerms, r.violations.size.toLong))
      .toDF("num_docs", "num_terms", "violations")
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(sys.error("usage: CheckIndex <root>"))
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = verify(spark, root)
    println(s"segments=${r.segments} numDocs=${r.numDocs} " +
      s"numTerms=${r.numTerms} violations=${r.violations.size}")
    r.violations.foreach(x => println(s"  VIOLATION: $x"))
    spark.stop()
    if (!r.ok) sys.exit(1)
  }
}
