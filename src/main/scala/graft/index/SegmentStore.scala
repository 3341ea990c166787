package graft.index

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** One committed segment: a self-contained mini-index (docs + compressed
  * posting blocks + doclens + term dict), immutable once referenced by a
  * manifest. Reference analog: SegmentInfo
  * (/root/reference/src/core/Index/SegmentInfo.cs). docids stored are
  * GLOBAL (assigned once at ingest over the stable (conv_id, turn_idx)
  * order); appends re-base new batches past maxDoc — the
  * MergeDocIDRemapper analog lives at append time, so merge itself needs
  * no remap. */
final case class SegmentMeta(
    id: String,
    ord: Long,
    numDocs: Long,
    sumLen: Long,
    lineage: String,
    /** Highest docid present when the segment was WRITTEN (inclusive).
      * Appends re-base past max over live segments of this watermark —
      * NOT past numDocs: a merge that expunges deleted docs shrinks
      * numDocs but the surviving docids keep their original values, so a
      * numDocs-based re-base would hand out colliding docids. */
    maxDocid: Long)

/** A commit point: generation-numbered manifest listing live segments
  * plus the live delete sets (the .del side-bitmap analog — docid
  * parquet dirs applied as anti-joins at read time).
  * Reference analog: segments_N + segments.gen
  * (/root/reference/src/core/Index/SegmentInfos.cs:68-127), deletes per
  * BitVector/.del (/root/reference/src/core/Util/BitVector.cs:36-202).
  * Like the reference, collection stats (numDocs/avgdl/df/cf) do NOT
  * discount deleted docs until a merge expunges them. */
final case class Manifest(version: Long, segments: Seq[SegmentMeta],
    deletes: Seq[String] = Nil) {
  def numDocs: Long = segments.map(_.numDocs).sum
  def sumLen: Long = segments.map(_.sumLen).sum
  /** Docid watermark: appends start at maxDocid + 1. */
  def maxDocid: Long = segments.map(_.maxDocid).maxOption.getOrElse(-1L)
}

/** Iceberg-style segment store: immutable segment directories + JSON
  * manifest with two-phase commit (write everything, then atomically
  * rename `vN.json.tmp` → `vN.json`; readers resolve max N). Swapping in
  * a real Iceberg catalog is a config change, not a design change
  * (SURVEY.md §7). The two-phase protocol mirrors
  * IndexWriter.PrepareCommit/Commit
  * (/root/reference/src/core/Index/IndexWriter.cs:3987,4023).
  */
object SegmentStore {

  private def manifestDir(root: String) = Paths.get(root, "manifest")
  private def segDir(root: String, id: String) = Paths.get(root, id).toString

  // ---- manifest JSON (hand-rolled: fixed shape, no extra deps) ----

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  private def segJson(s: SegmentMeta): String =
    s"""{"id":"${esc(s.id)}","ord":${s.ord},"numDocs":${s.numDocs},""" +
      s""""sumLen":${s.sumLen},"maxDocid":${s.maxDocid},""" +
      s""""lineage":"${esc(s.lineage)}"}"""

  /** On-disk codec format version, stamped into every manifest and
    * REQUIRED to match on open (the reference's SegmentInfos.FORMAT
    * version gate, SegmentInfos.cs:69-118): the block codec is not
    * self-describing, so a silent format change (e.g. format 2's
    * delta<<1|payload position packing) would decode an older store's
    * blobs into garbage positions instead of failing loudly.
    *   1 = raw VLong position deltas; 2 = (delta<<1 | payload bit). */
  val FormatVersion = 2

  def toJson(m: Manifest): String = {
    val segs = m.segments.map(segJson).mkString(",")
    val dels = m.deletes.map(d => s""""${esc(d)}"""").mkString(",")
    s"""{"format":$FormatVersion,"version":${m.version},""" +
      s""""segments":[$segs],"deletes":[$dels]}"""
  }

  // number fields are captured loosely and parsed by [[longField]], so a
  // mistyped or out-of-range number is named rather than unmatched
  private val SegRe =
    ("""\{"id":"((?:[^"\\]|\\.)*)","ord":([^,]*),"numDocs":([^,]*),""" +
      """"sumLen":([^,]*),"maxDocid":([^,]*),"lineage":"((?:[^"\\]|\\.)*)"\}""").r

  private def unesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  private val DelRe = """"((?:[^"\\]|\\.)*)"""".r

  private val FmtRe = """"format":([^,}]*)""".r

  /** The whole manifest, as [[toJson]] writes it: anything shorter (a
    * truncated file) or shaped otherwise does not match. Strings inside
    * are escaped, so `],"deletes":[` can only end the segment list. */
  private val ManifestRe =
    """(?s)\{"format":[^,]*,"version":([^,]*),"segments":\[(.*)\],"deletes":\[(.*)\]\}""".r

  private def bad(what: String): Nothing =
    throw new IllegalArgumentException(s"bad manifest: $what")

  /** A manifest number field: a decimal 64-bit integer, else an error
    * that names the field. */
  private def longField(field: String, raw: String): Long =
    Option.when(raw.matches("-?\\d+"))(raw.toLongOption).flatten
      .getOrElse(bad(s"field $field is not a 64-bit integer: ${raw.take(40)}"))

  /** One segment object matched by [[SegRe]]. */
  private def segOf(m: scala.util.matching.Regex.Match): SegmentMeta = {
    val id = unesc(m.group(1))
    def num(i: Int, field: String) = longField(s"$field of segment $id", m.group(i))
    SegmentMeta(id, num(2, "ord"), num(3, "numDocs"), num(4, "sumLen"),
      unesc(m.group(6)), num(5, "maxDocid"))
  }

  /** Parse a manifest. A codec format other than [[FormatVersion]], a
    * truncated or malformed manifest, and a number field that is not a
    * 64-bit integer are each an IllegalArgumentException naming what is
    * wrong. */
  def fromJson(json: String): Manifest = {
    val fmt = FmtRe.findFirstMatchIn(json)
      .map(m => longField("format", m.group(1))).getOrElse(0L)
    if (fmt != FormatVersion)
      bad(s"segment store codec format $fmt != supported " +
        s"$FormatVersion — refusing to open (rebuild the store; a " +
        s"mismatched position codec would silently decode garbage)")
    val (ver, segsJson, delsJson) = json.trim match {
      case ManifestRe(v, ss, ds) => (v, ss, ds)
      case _ => bad(s"truncated or malformed: ${json.take(200)}")
    }
    val version = longField("version", ver)
    val segs = SegRe.findAllMatchIn(segsJson).map(segOf).toSeq.sortBy(_.ord)
    // parse-completeness guard: a manifest written by an older/newer
    // format (e.g. missing maxDocid) would match ZERO segment objects and
    // silently read as an empty store — appendSegment would then re-base
    // docids at 0 and commit a manifest dropping every prior segment.
    // Count raw `"id":"..."` keys inside the segments array and fail
    // loudly on any mismatch (loud format error > silent data loss).
    // (a bare `"id":"` can only open a segment object: strings inside the
    // manifest are escaped, so an embedded quote is always `\"`)
    val rawIds = """"id":"""".r.findAllMatchIn(segsJson).size
    if (rawIds != segs.size)
      bad(s"format mismatch: $rawIds segment ids present but only " +
        s"${segs.size} parsed — refusing to open (json: ${json.take(200)})")
    Manifest(version, segs,
      DelRe.findAllMatchIn(delsJson).map(x => unesc(x.group(1))).toSeq)
  }

  // ---- commit protocol ----

  /** Latest committed manifest, or None for an empty/new store. */
  def latest(root: String): Option[Manifest] = {
    val dir = manifestDir(root)
    if (!Files.isDirectory(dir)) return None
    val versions = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq
    if (versions.isEmpty) None
    else Some(fromJson(Files.readString(
      dir.resolve(s"v${versions.max}.json"))))
  }

  /** Two-phase commit: stage the manifest, fsync-equivalent, atomic
    * rename. Segment data must already be fully written — a crash before
    * this rename leaves the previous commit point intact. */
  def commit(root: String, m: Manifest): Unit = {
    val dir = manifestDir(root)
    Files.createDirectories(dir)
    val target = dir.resolve(s"v${m.version}.json")
    // optimistic-concurrency guard: ATOMIC_MOVE REPLACES an existing
    // target on POSIX, so two writers committing the same next version
    // (append vs out-of-band compaction) would silently drop one commit.
    // The check-then-move is not itself atomic — the store's contract is
    // one writer at a time — but it turns the common race loud.
    if (Files.exists(target))
      sys.error(s"concurrent commit: $target already exists — " +
        "re-read latest() and retry at the next version")
    val tmp = dir.resolve(s"v${m.version}.json.tmp")
    Files.writeString(tmp, toJson(m))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- segment I/O ----

  /** True iff segment `id` has fully-written data + lineage marker —
    * the per-partition checkpoint record the resume path consults (north
    * rule: a failed build resumes without re-tokenizing completed
    * batches). */
  def segmentComplete(root: String, id: String): Boolean =
    Files.exists(Paths.get(segDir(root, id), "_LINEAGE.json"))

  def readLineage(root: String, id: String): Option[SegmentMeta] = {
    val p = Paths.get(segDir(root, id), "_LINEAGE.json")
    if (!Files.exists(p)) None
    else SegRe.findFirstMatchIn(Files.readString(p)).map(segOf)
  }

  /** Write one table of a segment-in-progress. */
  def writeTable(root: String, id: String, sub: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"${segDir(root, id)}/$sub")

  def readTable(spark: SparkSession, root: String, id: String,
      sub: String): DataFrame =
    spark.read.parquet(s"${segDir(root, id)}/$sub")

  /** A segment's block table, read with its known schema: no job infers it. */
  private[index] def readBlocks(spark: SparkSession, root: String,
      id: String): DataFrame =
    spark.read.schema(PostingBlocks.BlockEnc.schema)
      .parquet(s"${segDir(root, id)}/blocks")

  /** A segment's (term, df, cf) dictionary, read with its known schema. */
  private def readDict(spark: SparkSession, root: String,
      id: String): DataFrame =
    spark.read.schema(DictSchema).parquet(s"${segDir(root, id)}/dict")

  private val DictSchema = StructType(Seq(StructField("term", StringType),
    StructField("df", LongType), StructField("cf", LongType)))

  /** A committed delete set's (docid) rows, read with their known schema. */
  private[index] def readDeletes(spark: SparkSession, root: String,
      dir: String): DataFrame =
    spark.read.schema(StructType(Seq(StructField("docid", LongType))))
      .parquet(s"$root/$dir")

  /** The lineage marker is written LAST, after every table, so a crash
    * mid-write leaves an incomplete (ignored, re-buildable) dir. */
  def markComplete(root: String, meta: SegmentMeta): Unit =
    Files.writeString(Paths.get(segDir(root, meta.id), "_LINEAGE.json"),
      segJson(meta))

  /** The per-segment DataFrames of one opened segment — the
    * SegmentReader analog. Immutable once committed, so a later commit
    * can REUSE the view (and any cache state hanging off its lineage)
    * for every segment it did not touch. */
  final case class SegmentView(docs: DataFrame, blocks: DataFrame,
      dict: DataFrame)

  /** A reopenable commit-point view (IndexReader + its sub-readers). */
  final case class OpenIndex(version: Long,
      views: Seq[(String, SegmentView)], index: InvertedIndex)

  /** Open the latest commit point as a logical InvertedIndex. Collection
    * stats (numDocs, avgdl) come from the manifest — no scan. The blocks
    * handle is kept so term lookups prune blocks BEFORE decoding
    * (predicate pushdown can't cross the decode flatMap). Blocks,
    * dictionaries and delete sets are read with their known schemas, so
    * only each segment's docs table (whose columns follow the ingested
    * turns) runs a schema-inference job. */
  def open(spark: SparkSession, root: String): InvertedIndex =
    reopen(spark, root, None).index

  /** Incremental reopen (IndexReader.Reopen,
    * /root/reference/src/core/Index/IndexReader.cs:403-432): if the
    * commit point is unchanged, returns `prev` itself; otherwise builds
    * a new view REUSING the per-segment DataFrames of every segment id
    * the new manifest shares with `prev` — segment dirs are immutable,
    * so identity-reuse is sound, and a micro-batch reader that persisted
    * a segment's DataFrames keeps its cache across commits instead of
    * re-reading every segment from parquet (the round-2 behavior). */
  def reopen(spark: SparkSession, root: String,
      prev: Option[OpenIndex]): OpenIndex = {
    val m = latest(root).getOrElse(sys.error(s"no committed manifest in $root"))
    require(m.segments.nonEmpty, s"empty manifest in $root")
    prev.filter(_.version == m.version).getOrElse {
      val prevViews: Map[String, SegmentView] =
        prev.map(_.views.toMap).getOrElse(Map.empty)
      val views = m.segments.map { s =>
        s.id -> prevViews.getOrElse(s.id, {
          val d = segDir(root, s.id)
          SegmentView(spark.read.parquet(s"$d/docs"),
            readBlocks(spark, root, s.id), readDict(spark, root, s.id))
        })
      }
      OpenIndex(m.version, views, assemble(spark, root, m, views.map(_._2)))
    }
  }

  private def assemble(spark: SparkSession, root: String, m: Manifest,
      views: Seq[SegmentView]): InvertedIndex = {
    val docs0 = views.map(_.docs).reduce(_ unionByName _)
    val blocks = views.map(_.blocks).reduce(_ unionByName _)
    // global dict: docid spaces are disjoint → df/cf add across segments.
    // The query layer's resident dictionary reads the un-aggregated
    // union instead (one single-stage scan, per-term sums on the
    // driver); the aggregate only runs for whole-dictionary consumers.
    val segDicts = views.map(_.dict).reduce(_ unionByName _)
    val dict = segDicts.groupBy("term")
      .agg(sum("df").as("df"), sum("cf").as("cf"))
    // live delete set (SegmentTermDocs skipping deleted docs), held on
    // the driver by the opened index and read on first use; stats/df
    // stay un-discounted until a merge expunges — exactly the
    // reference's behavior.
    val deleted: Option[DataFrame] =
      if (m.deletes.isEmpty) None
      else Some(m.deletes.map(readDeletes(spark, root, _))
        .reduce(_ unionByName _))
    InvertedIndex.ofBlocks(docs0, blocks, dict, m.numDocs, m.sumLen,
      deleted, segmentDicts = Some(segDicts))
  }

  /** Drop segment directories not referenced by the latest manifest
    * (ref-counted GC analog, IndexFileDeleter
    * /root/reference/src/core/Index/IndexFileDeleter.cs). Also prunes all
    * but the newest `keepManifests` commit files. */
  def gc(root: String, keepManifests: Int = 2): Seq[String] = {
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return Nil
    val mdir = manifestDir(root)
    // prune old manifests FIRST, then compute liveness as the UNION over
    // every manifest that survives: the retained rollback commits still
    // reference their segments, so latest-only liveness would delete
    // dirs a kept vN.json points at (rollback read → missing parquet)
    val kept: Seq[java.nio.file.Path] =
      if (!Files.isDirectory(mdir)) Nil
      else {
        val vs = Files.list(mdir).iterator().asScala
          .filter(_.getFileName.toString.matches("v\\d+\\.json")).toSeq
          .sortBy(p => p.getFileName.toString.stripPrefix("v")
            .stripSuffix(".json").toLong)
        vs.dropRight(keepManifests).foreach(Files.delete)
        vs.takeRight(keepManifests)
      }
    val live = kept.map(p => fromJson(Files.readString(p)))
      .flatMap(m => m.segments.map(_.id) ++ m.deletes).toSet
    val dropped = Files.list(rootP).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        (p.getFileName.toString.startsWith("seg_") ||
          p.getFileName.toString.startsWith("del_")))
      .filterNot(p => live.contains(p.getFileName.toString))
      .map { p => deleteRec(p); p.getFileName.toString }
      .toSeq
    dropped
  }

  private def deleteRec(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRec)
    Files.deleteIfExists(p)
  }
}
