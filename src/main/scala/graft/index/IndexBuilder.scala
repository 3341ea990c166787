package graft.index

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation,
  SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Project, Union}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Logical (table-agnostic) inverted index.
  *
  * One table per concern, mirroring the reference's per-segment files
  * (/root/reference/src/core/Index/IndexFileNames.cs:29-97) as columnar
  * DataFrames:
  *  - docs       — forward/stored fields (.fdt/.fdx analog), live docs
  *                 only ([[storedDocs]] minus the delete set)
  *  - blockTable — the posting lists (.frq/.prx analog): delta+VByte
  *                 blocks of ≤128 postings per term with skip/WAND
  *                 stats. The ONLY posting form: an in-memory build
  *                 caches it, a SegmentStore reads it from parquet — the
  *                 reference's RAMDirectory holds the same segment files
  *                 as FSDirectory, only the Directory differs.
  *  - termDict   — (term, df, cf), one row per term (.tis/.tii analog):
  *                 the whole-dictionary view for suggest, trigrams and
  *                 CheckIndex. Query-time df lookups read the resident
  *                 [[dictionary]] instead (Searcher.dfOf).
  *  - docLens    — exact per-doc token counts (exact-int replacement for
  *                 the lossy norm byte, Similarity.cs:398-413 — BM25
  *                 wants exact lengths)
  * The logical (term, docid, tf, len, positions) view, [[postings]], is
  * one decode of the block table.
  *
  * One value is one commit point: its [[dictionary]] and delete set are
  * read once, on first use, and held on the driver (the reference keeps
  * the term index and the deleted-docs BitVector in RAM per open
  * reader, TermInfosReader.cs / BitVector.cs), so every Searcher,
  * Highlight and Wand over it shares them. When its block table is
  * plain files of at most [[routedBytes]] together, the same job reads
  * every block too, and the commit point holds them on the driver by
  * term ([[heldBlocks]]): the reference's RAMDirectory holds the same
  * segment files as FSDirectory, and a point query folds there with no
  * Spark job. A larger commit point instead
  * holds the block table as one prepared scan ([[preparedBlocks]]:
  * planned, its Hadoop configuration broadcast, once) and, read by the
  * same job as the dictionary, which of that scan's partitions hold each
  * term ([[partitionsOf]]). Together they are the reference's TermInfo
  * file pointers: TermInfosReader maps a term to its df and to where its
  * postings start, and a point query seeks there instead of being
  * planned (TermInfosReader.cs:178-224). It also holds, per string
  * keyword field a query tests, each value's docids ([[keywordDocs]]):
  * the reference's FieldCache.StringIndex, un-inverted once per reader
  * and held in RAM for FieldCacheTermsFilter (FieldCache.cs:375-589,
  * FieldCacheTermsFilter.cs:97), bounded like the dictionary by
  * [[residentRows]]. A reopen after a write is a new value and reads
  * them afresh.
  */
final case class InvertedIndex(
    storedDocs: DataFrame,
    blockTable: DataFrame,
    termDict: DataFrame,
    docLens: DataFrame,
    numDocs: Long,
    avgdl: Double,
    deleted: Option[DataFrame] = None,
    /** Optional persisted (gram, term, df) dictionary trigram index
      * ([[Trigrams]]) — bounds fuzzy/suggest candidate scans. */
    trigrams: Option[DataFrame] = None,
    /** Per-segment (term, df, cf) rows NOT aggregated across segments
      * (a segmented store's union of its segment dict tables), so a
      * term appears once per segment that holds it; None when
      * `termDict` already has one row per term. */
    segmentDicts: Option[DataFrame] = None,
    /** Rows above which the dictionary, the delete set or a keyword
      * field's doc sets are not held on the driver:
      * [[InvertedIndex.ResidentRows]]; a spec lowers it to run the scan,
      * anti-join and keyword-frame fallbacks on a small corpus. */
    private[graft] val residentRows: Int = InvertedIndex.ResidentRows,
    /** Bytes of block files at or below which the index holds its
      * blocks ([[heldBlocks]]), and of pointed-to block partitions above
      * which a point query plans its scan instead of reading
      * [[preparedBlocks]]: [[InvertedIndex.RoutedBytes]]; a spec lowers
      * it. */
    private[graft] val routedBytes: Long = InvertedIndex.RoutedBytes) {

  /** [[blockTable]] as an Option; kept only for the benchmark program
    * (perfbench), which reads `blocks.get`. */
  def blocks: Option[DataFrame] = Some(blockTable)

  /** Dictionary rows for df lookups: a single-stage scan with no
    * aggregate or shuffle, so an `In` filter on it pushes down to every
    * segment's dict table; callers sum df per term on the driver
    * (TermInfosReader.Get over each segment's .tis,
    * TermInfosReader.cs:178-224). The fallback of a dictionary too large
    * to hold ([[dictionary]] is None). */
  def dictRows: DataFrame = segmentDicts.getOrElse(termDict)

  /** The term dictionary held on the driver: every term with its df
    * summed over segments, sorted. None when it has more than
    * [[residentRows]] per-segment rows; callers then scan [[dictRows]]. */
  lazy val dictionary: Option[InvertedIndex.Dictionary] = resident.dict

  /** The live delete set held on the driver, sorted: Some(empty) when
    * nothing is deleted, None when the set has more than
    * [[residentRows]] rows (then [[live]] anti-joins [[deleted]]). */
  lazy val deletedIds: Option[Array[Long]] =
    if (deleted.isEmpty) Some(Array.emptyLongArray) else resident.deletes

  /** The block table's posting blocks held on the driver, by term, when
    * the table is plain files of at most [[routedBytes]] together: read
    * by the job that reads the [[dictionary]], in place of the term runs
    * behind [[partitionsOf]], each block's term the dictionary's own
    * string. A point query then folds on the driver and plans no scan
    * ([[graft.search.Searcher.perDoc]]): the reference's RAMDirectory,
    * which holds the same segment files as FSDirectory (RAMDirectory.cs).
    * None for a larger or an in-memory table, or past [[residentRows]]
    * blocks; such an index reads [[preparedBlocks]]. */
  def heldBlocks: Option[InvertedIndex.HeldBlocks] = resident.blocks

  /** The block table as one prepared scan, planned on first use and
    * shared by every query of this commit point: a point query prunes it
    * to the partitions that hold its terms ([[partitionsOf]]) and folds
    * them in one task, so it pays for no analysis, optimization, codegen
    * or broadcast of the scan. It has no term filter: a task reads its
    * partitions whole. Its rows are the [[BlockRow]] columns as Spark's
    * internal rows, so a task reads each row's term in place and builds a
    * block ([[InvertedIndex.blockOf]]) only for its own terms. */
  @transient lazy val preparedBlocks: RDD[InternalRow] = prepared._1

  @transient private lazy val prepared = scanFiles(identity)

  /** The bytes of the partitions `parts` of [[preparedBlocks]]: their
    * block files' lengths, a file's shared evenly by its splits; 0 when
    * the scan is not per file (an in-memory table). */
  private[graft] def bytesOf(parts: Array[Int]): Long =
    prepared._2.fold(0L)(b => parts.iterator.map(b(_)).sum)

  /** `project` of the block table's [[BlockRow]] columns, as one RDD with
    * one partition per block file (or per split of a file too large for
    * one) when the table is a union of plain file scans, else as the
    * table's own scan. A file scan would pack small files into one
    * partition, and a task would read files none of whose terms it needs.
    * Each file is planned on its own, so every file's generated scan code
    * is the same class: in one plan each would be a codegen stage of its
    * own, a class per file that Spark's code cache can evict. With the
    * per-file scan, each partition's bytes. */
  private def scanFiles(project: DataFrame => DataFrame)
      : (RDD[InternalRow], Option[Array[Long]]) = {
    def rows(df: DataFrame) = project(InvertedIndex.blockColumns(df))
      .queryExecution.toRdd
    val spark = blockTable.sparkSession
    blockFiles.filter(_.nonEmpty) match {
      case None => (rows(blockTable), None)
      case Some(files) =>
        val scans = files.map(f => rows(spark.read
          .schema(PostingBlocks.BlockEnc.schema).parquet(f.getPath.toString)))
        (spark.sparkContext.union(scans), Some(files.zip(scans).flatMap {
          case (f, r) =>
            val n = r.getNumPartitions
            Seq.fill(n)(f.getLen / n)
        }.toArray))
    }
  }

  /** The block table's files in path order, when the table is a union of
    * plain file scans. Their Hadoop paths, not `inputFiles`, whose URIs
    * are escaped: read back as paths they would be escaped twice. */
  private lazy val blockFiles: Option[Seq[FileStatus]] = {
    val plan = blockTable.queryExecution.analyzed
    val listed = plan.collect { case l: LogicalRelation => l.relation match {
      case HadoopFsRelation(f: PartitioningAwareFileIndex, _, _, _, _, _) =>
        Some(f.allFiles())
      case _ => None
    } }
    val plain = !plan.exists {
      case _: Union | _: LogicalRelation => false
      case p: Project => !p.projectList.forall(_.isInstanceOf[Attribute])
      case _ => true
    }
    if (!plain || listed.contains(None)) None
    else Some(listed.flatten.flatten.sortBy(_.getPath.toString))
  }

  /** The partitions of [[preparedBlocks]] that hold blocks of any of
    * `terms`, ascending: those whose recorded term runs cover a term.
    * Every partition when the runs were not held (more than
    * [[residentRows]] of them, or the job read the blocks instead) or
    * were read over another partition layout. A term absent from the
    * index may still fall inside a run, so callers drop terms the
    * dictionary lacks first. */
  private[graft] def partitionsOf(terms: Iterable[String]): Array[Int] = {
    val parts = preparedBlocks.getNumPartitions
    resident.runs.filter(_.parts == parts)
      .fold(Array.range(0, parts))(_.partitionsOf(terms))
  }

  /** The block table is plain files of at most [[routedBytes]] together:
    * its blocks are held ([[heldBlocks]]). */
  private def holdsBlocks: Boolean =
    blockFiles.exists(fs => fs.nonEmpty && fs.map(_.getLen).sum <= routedBytes)

  /** The (term, df) dictionary rows, the (null, docid) delete rows and
    * either every block row ([[holdsBlocks]]) or the block partitions'
    * term runs ([[InvertedIndex.runsOf]] over a term-only scan laid out
    * in the same partitions as [[preparedBlocks]]: a file scan splits by
    * file size, not by the columns it reads), read together by one job
    * on first use of any. Neither scan is kept: each runs once. */
  private lazy val resident: InvertedIndex.Resident = {
    import InvertedIndex.{HeldBlocks, Dictionary, TermRuns, pairs}
    type Read = Either[(String, Long), BlockRow]
    def left(r: RDD[(String, Long)]): RDD[Read] = r.map(Left(_))
    val runs = Option.unless(holdsBlocks)(
      InvertedIndex.runsOf(scanFiles(_.select(col("term")))._1))
    val blocks: RDD[Read] = runs.fold(
      InvertedIndex.blockColumns(blockTable).queryExecution.toRdd
        .map(r => Right(InvertedIndex.blockOf(r)): Read))(left)
    val got = InvertedIndex.collectBounded(
      Seq(left(pairs(dictRows.select(col("term"), col("df")))), blocks) ++
        deleted.toSeq.map(d => left(pairs(
          d.select(lit(null).cast("string"), col("docid"))))),
      residentRows)
    def lefts(i: Int) = got.lift(i).flatten.map(_.collect { case Left(p) => p })
    val dict = lefts(0).map(Dictionary(_))
    InvertedIndex.Resident(dict,
      for (d <- dict; bs <- got(1) if runs.isEmpty)
        yield HeldBlocks(bs.collect { case Right(b) => b }, d),
      for (r <- runs; rs <- lefts(1)) yield TermRuns(rs, r.getNumPartitions),
      lefts(2).map(_.map(_._2).distinct.sorted))
  }

  /** Drop the rows of deleted docs (deleted docs are skipped at
    * iteration, stats stay stale until merge — SegmentTermDocs.Next /
    * BufferedDeletes semantics): a lookup in the resident delete set,
    * captured in the task closure, or an anti-join when the set is too
    * large to hold. */
  private[graft] def live(df: DataFrame): DataFrame = deletedIds match {
    case Some(ids) if ids.isEmpty => df
    case Some(_) => df.filter(notDeleted)
    case None => withoutDeleted(df)
  }

  /** `df` anti-joined with the delete set: the fallback of [[live]], and
    * the write paths' view, which need no resident read. */
  private[index] def withoutDeleted(df: DataFrame): DataFrame =
    deleted.fold(df)(df.join(_, Seq("docid"), "left_anti"))

  private lazy val notDeleted: Column =
    InvertedIndex.notIn(deletedIds.get)

  /** A string keyword field's docids per value, held on the driver: read
    * on the field's first use by one job over [[storedDocs]] (the
    * (value, docid) pairs of its non-null values), so deleted docs are
    * still in it, as they are in the blocks. A fold emits a value's docs
    * in its own task only when it runs in one task
    * ([[graft.search.Searcher.SingleTaskRows]] estimated rows, a value's
    * docs counted), so no task carries more docids than that. None when
    * `field` is not a string column of [[storedDocs]] or has more than
    * [[residentRows]] non-null values; a query then tests the field with
    * a frame. */
  private[graft] def keywordDocs(field: String)
      : Option[InvertedIndex.KeywordDocs] =
    keywords.getOrElseUpdate(field, {
      val string = storedDocs.schema.fields
        .exists(f => f.name == field && f.dataType == StringType)
      if (!string) None
      else InvertedIndex.collectBounded(Seq(InvertedIndex.pairs(
          storedDocs.filter(col(field).isNotNull)
            .select(col(field), col("docid")))), residentRows)
        .head.map(InvertedIndex.KeywordDocs(_))
    })

  @transient private lazy val keywords =
    scala.collection.concurrent.TrieMap
      .empty[String, Option[InvertedIndex.KeywordDocs]]

  /** Live stored documents. */
  lazy val docs: DataFrame = live(storedDocs)

  /** The logical postings view: (term, docid, tf, len, positions) for
    * every live posting — TermVectors, CheckIndex and the gate dumps read
    * it; queries use the term-restricted accessors below. */
  def postings: DataFrame = live(PostingBlocks.toPostings(blockTable))

  /** Postings restricted to a fixed term set. The term predicate is
    * applied to the BLOCK table (a plain Parquet filter → pushdown +
    * row-group pruning) and only surviving blocks are decoded — the
    * decode flatMap is a pushdown barrier, so filtering after decode
    * would read every block (TermInfosReader seek analog,
    * /root/reference/src/core/Index/TermInfosReader.cs:178-196). */
  def postingsFor(terms: Seq[String]): DataFrame =
    live(PostingBlocks.toPostings(blocksFor(terms)))

  /** The block rows of a fixed term set, undecoded and with deleted docs
    * still in them: a plain Parquet filter, pushed down to the scan. */
  def blocksFor(terms: Seq[String]): DataFrame =
    blockTable.filter(col("term").isin(terms: _*))

  /** Scoring-only postings for a fixed term set: (term, docid, tf, len),
    * positions never decoded (TermDocs semantics — SegmentTermDocs.cs:30
    * reads .frq without .prx): the column-form term scores and explain
    * read it. */
  def postingsForScoring(terms: Seq[String]): DataFrame =
    live(PostingBlocks.toScoring(blocksFor(terms)))
}

object InvertedIndex {

  /** Rows above which the per-segment dictionary (about 100 MB of terms
    * and dfs) or the delete set (8 MB of docids in every task closure) is
    * not held on the driver. */
  val ResidentRows: Int = 1 << 20

  /** Bytes of block files at or below which an index holds its blocks
    * on the driver ([[InvertedIndex.heldBlocks]]), read once per commit
    * point, and a point query folds there with no job; and bytes of
    * pointed-to block partitions at or below which a point query of a
    * larger index reads the prepared scan
    * ([[InvertedIndex.preparedBlocks]]), which reads its partitions
    * whole; above, it plans a scan whose term filter Parquet applies to
    * row-group statistics. The measured crossover, on
    * 4 local cores and a 300k-turn synthetic store of 16 block files of
    * about 3.7 MB each: written with 256 KB row groups, an OR of 1, 2
    * and 4 terms in as many files took 88, 108 and 153 ms (medians of 3
    * alternated runs, each the median of 18 queries) reading 4.0, 7.3 and
    * 14.4 MB through the prepared scan, against 146, 149 and 158 ms for
    * the planned scan reading 1.1, 1.5 and 2.2 MB of row groups: the
    * prepared scan costs about 6 ms more per MB and, extrapolated, loses
    * from about 16 MB (an OR of more terms passes
    * [[graft.search.Searcher.SingleTaskRows]] there). With one row group
    * per file the planned scan reads whole files too, and the prepared
    * one won at every size (63, 80 and 116 against 147, 150 and 169 ms,
    * one run each). */
  val RoutedBytes: Long = 16L << 20

  /** A term dictionary on the driver: distinct terms in Spark's string
    * order ([[Utf8Order]]), each with its df summed over segments, so a
    * prefix and a term range are each one contiguous slice. */
  final class Dictionary private (private[index] val terms: Array[String],
      dfs: Array[Long]) {
    /** `t`'s index in [[terms]], or a negative insertion point. */
    private[index] def indexOf(t: String): Int =
      java.util.Arrays.binarySearch(terms, t, Utf8Order)

    def df(t: String): Option[Long] = {
      val i = indexOf(t)
      if (i >= 0) Some(dfs(i)) else None
    }

    /** Every (term, df) whose term starts with `prefix`, in term order. */
    def withPrefix(prefix: String): Iterator[(String, Long)] =
      from(prefix, inclusive = true).takeWhile(_._1.startsWith(prefix))

    /** Every (term, df) between the bounds, in term order, comparing as
      * Spark compares a term column with a string literal: a bound is
      * first converted to UTF-8 as Spark converts it. */
    def range(lo: Option[String], hi: Option[String], incLo: Boolean,
        incHi: Boolean): Iterator[(String, Long)] = {
      def utf8(v: String) = UTF8String.fromString(v).toString
      val top = hi.map(utf8)
      lo.fold(from("", inclusive = true))(v => from(utf8(v), incLo))
        .takeWhile { case (t, _) => top.forall { v =>
          val c = Utf8Order.compare(t, v)
          c < 0 || incHi && c == 0
        } }
    }

    /** The terms from `t` on (past it unless `inclusive`). */
    private def from(t: String, inclusive: Boolean): Iterator[(String, Long)] = {
      val i = indexOf(t)
      Iterator.range(if (i < 0) -i - 1 else if (inclusive) i else i + 1,
        terms.length).map(j => (terms(j), dfs(j)))
    }
  }

  object Dictionary {
    def apply(rows: Array[(String, Long)]): Dictionary = {
      val summed = rows.groupMapReduce(_._1)(_._2)(_ + _)
      val terms = summed.keys.toArray
      java.util.Arrays.sort(terms, Utf8Order)
      new Dictionary(terms, terms.map(summed))
    }
  }

  /** Posting blocks on the driver, each term's ascending by first docid,
    * indexed by the [[Dictionary]] they were read with: `from(i)` until
    * `from(i + 1)` are the blocks of its i-th term, whose string they
    * share. */
  final class HeldBlocks private (dict: Dictionary, from: Array[Int],
      blocks: Array[BlockRow]) {
    /** The blocks of `t`; none for a term the dictionary lacks. */
    def apply(t: String): Iterator[BlockRow] = {
      val i = dict.indexOf(t)
      if (i < 0) Iterator.empty else Iterator.range(from(i), from(i + 1)).map(blocks)
    }
  }

  object HeldBlocks {
    def apply(rows: Array[BlockRow], dict: Dictionary): HeldBlocks = {
      val sorted = rows.sorted(Ordering.by((b: BlockRow) => (b.term, b.min_docid))(
        Ordering.Tuple2(Utf8Order, Ordering.Long)))
      val terms = dict.terms
      val from = new Array[Int](terms.length + 1)
      val held = ArrayBuffer.empty[BlockRow]
      var j = 0
      terms.indices.foreach { i =>
        // a block of a term the dictionary lacks is never asked for
        while (j < sorted.length && Utf8Order.lt(sorted(j).term, terms(i))) j += 1
        from(i) = held.size
        while (j < sorted.length && sorted(j).term == terms(i)) {
          held += sorted(j).copy(term = terms(i))
          j += 1
        }
      }
      from(terms.length) = held.size
      new HeldBlocks(dict, from, held.toArray)
    }
  }

  /** What the resident job of an index read: its dictionary, held
    * blocks, term runs and delete set, each None when not held. */
  private[index] final case class Resident(dict: Option[Dictionary],
      blocks: Option[HeldBlocks], runs: Option[TermRuns],
      deletes: Option[Array[Long]])

  /** A keyword field's docids per value, each sorted ascending. */
  final class KeywordDocs private (docs: Map[String, Array[Long]]) {
    /** The docids whose value equals `value` as Spark compares a string
      * column with a string literal: the literal first converted to
      * UTF-8 as Spark converts it. */
    def apply(value: String): Array[Long] = docs.getOrElse(
      UTF8String.fromString(value).toString, Array.emptyLongArray)
  }

  object KeywordDocs {
    def apply(rows: Array[(String, Long)]): KeywordDocs =
      new KeywordDocs(rows.groupMap(_._1)(_._2).map { case (v, ds) =>
        v -> ds.sorted })
  }

  /** Spark's string order, UTF-8 bytes — code point order — over Java
    * strings. `String.compareTo` orders UTF-16 units instead, which
    * differs only where a surrogate meets a unit in U+E000–U+FFFF: code
    * point order puts the surrogate (a supplementary character) last. */
  val Utf8Order: Ordering[String] = new Ordering[String] {
    private def unit(c: Char): Int =
      if (c < 0xd800) c else if (c < 0xe000) c + 0x2000 else c - 0x800
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i < n) unit(a.charAt(i)) - unit(b.charAt(i))
      else a.length - b.length
    }
  }

  /** The block partitions' term runs: partition `part(i)` holds only
    * terms from `lo(i)` to `hi(i)`, in Spark's string order, and every
    * term a partition holds lies in one of its runs. */
  private[index] final class TermRuns private (lo: Array[String],
      hi: Array[String], part: Array[Int], val parts: Int) {
    /** A run holds a term iff the least of `terms` at or above its first
      * term is at or below its last: a binary search per run. */
    def partitionsOf(terms: Iterable[String]): Array[Int] = {
      val ts = terms.toArray.sorted(Utf8Order)
      lo.indices.filter { i =>
        val at = java.util.Arrays.binarySearch(ts, lo(i), Utf8Order)
        val j = if (at >= 0) at else -at - 1
        j < ts.length && Utf8Order.lteq(ts(j), hi(i))
      }.map(part).distinct.sorted.toArray
    }
  }

  private[index] object TermRuns {
    /** From [[InvertedIndex.runsOf]]'s rows, in partition order. */
    def apply(rows: Array[(String, Long)], parts: Int): TermRuns = {
      val runs = rows.grouped(2).map { case Array((a, p), (b, _)) =>
        (a, b, (p / 2).toInt) }.toArray
      new TermRuns(runs.map(_._1), runs.map(_._2), runs.map(_._3), parts)
    }
  }

  /** Per partition of a term-only block scan, each run of ascending
    * terms as a (first term, 2p) and a (last term, 2p + 1) row. Blocks
    * are written sorted by (term, min_docid), so a partition holds one
    * run per block file or file split it reads. */
  private def runsOf(terms: RDD[InternalRow]): RDD[(String, Long)] =
    terms.mapPartitionsWithIndex { (p, rows) =>
      val out = ArrayBuffer.empty[(String, Long)]
      var first: UTF8String = null
      var last: UTF8String = null
      def close(): Unit = if (first != null) {
        out += ((first.toString, 2L * p))
        out += ((last.toString, 2L * p + 1))
      }
      rows.foreach { r =>
        val t = r.getUTF8String(0)
        if (last == null || t.compareTo(last) < 0) {
          close()
          first = t.clone()
        }
        last = t.clone()
      }
      close()
      out.iterator
    }

  /** A block table's [[BlockRow]] columns, in order. */
  private def blockColumns(df: DataFrame): DataFrame =
    df.select(PostingBlocks.BlockEnc.schema.fieldNames.toSeq.map(col): _*)

  /** A row of [[InvertedIndex.preparedBlocks]] as its block. */
  private[graft] def blockOf(r: InternalRow): BlockRow =
    BlockRow(r.getUTF8String(0).toString, r.getInt(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getBinary(7),
      r.getBinary(8), r.getBinary(9))

  /** A frame's first two columns, a string and a long, as pairs. */
  private def pairs(df: DataFrame): RDD[(String, Long)] =
    df.rdd.map(r => (r.getString(0), r.getLong(1)))

  /** Each RDD's rows on the driver, in partition order, or None for an
    * RDD with more than `cap` rows. One job reads every RDD: a task
    * ships at most its share of `cap` (cap / the RDD's partitions) and
    * counts the rest, stopping once it alone has passed `cap`, so the
    * driver receives at most about `cap` rows per RDD. An RDD that
    * fits but had a partition above its share re-reads just those
    * partitions in a second job. */
  private[index] def collectBounded[T: ClassTag](rdds: Seq[RDD[T]], cap: Int)
      : Seq[Option[Array[T]]] = {
    val all = rdds.head.sparkContext.union(rdds)
    // UnionRDD lays out each frame's partitions in turn
    val owner =
      rdds.indices.flatMap(i => Seq.fill(rdds(i).getNumPartitions)(i))
    val share = owner.map(i => cap / rdds(i).getNumPartitions).toArray
    def read(parts: Seq[Int], keep: Array[Int]) =
      all.sparkContext.runJob(all,
        (ctx: TaskContext, it: Iterator[T]) => {
          val k = keep(ctx.partitionId)
          val rows = ArrayBuffer.empty[T]
          var n = 0L
          while (n <= cap && it.hasNext) {
            val r = it.next()
            n += 1
            if (n <= k) rows += r
          }
          (rows.toArray, n)
        }, parts)
    val first = read(owner.indices, share)
    val fits = rdds.indices.map(i =>
      owner.indices.filter(owner(_) == i).map(first(_)._2).sum <= cap)
    val over = owner.indices
      .filter(p => fits(owner(p)) && first(p)._2 > share(p))
    // no job for an empty partition list: Spark would still post one
    val again: Map[Int, (Array[T], Long)] =
      if (over.isEmpty) Map.empty
      else over.zip(read(over, Array.fill(owner.size)(cap))).toMap
    rdds.indices.map(i => Option.when(fits(i))(owner.indices
      .filter(owner(_) == i).flatMap(p => again.getOrElse(p, first(p))._1)
      .toArray))
  }

  /** docid is not in the sorted set `ids`: a binary search in the task
    * closure. */
  private def notIn(ids: Array[Long]): Column =
    udf(new UDF1[java.lang.Long, java.lang.Boolean] {
      def call(d: java.lang.Long): java.lang.Boolean =
        java.util.Arrays.binarySearch(ids, d.longValue) < 0
    }, BooleanType).apply(col("docid"))

  /** An index over a block table — the one derivation shared by the
    * in-memory build and [[SegmentStore]]: doc lengths are a lens-only
    * decode of the blocks padded with the zero-length docs of `docs`,
    * avgdl = sumLen / numDocs, and [[InvertedIndex.docs]] drops the
    * live delete set (stats stay un-discounted, the reference's
    * behavior). */
  def ofBlocks(docs: DataFrame, blocks: DataFrame, termDict: DataFrame,
      numDocs: Long, sumLen: Long, deleted: Option[DataFrame] = None,
      segmentDicts: Option[DataFrame] = None): InvertedIndex =
    InvertedIndex(docs, blocks, termDict,
      PostingBlocks.docLensFromBlocks(blocks, docs),
      numDocs, sumLen.toDouble / numDocs, deleted,
      segmentDicts = segmentDicts)
}

object IndexBuilder {

  /** In-memory build (tests / small interactive sessions): the same
    * tokenize → invert → encode pass [[buildSegments]] writes, kept as a
    * cached block table instead of parquet (RAMDirectory analog). `kind`
    * selects the analyzer chain for the whole index (the
    * IndexWriter-takes-Analyzer contract, IndexWriter.cs:334); with
    * `assigner` set every occurrence carries its payload in the position
    * stream, for the payload queries. */
  def build(transcripts: DataFrame, numPartitions: Int = 32,
      kind: graft.analysis.Analyzers.Kind = graft.analysis.Analyzers.Standard,
      assigner: Option[graft.analysis.Payloads.Assigner] = None)
      : InvertedIndex = {
    val assigned = DocIds.assign(transcripts,
      Seq(col("conv_id"), col("turn_idx")), numPartitions)
    val docs = assigned.docs.cache()
    val (built, releaseRuns) =
      PostingBlocks.invert(docs, numPartitions, assigner, kind)
    val blocks = built.toDF().cache()
    val termDict = PostingBlocks.dictFromBlocks(blocks).cache()

    // count() materializes the docs cache (MEMORY_AND_DISK — eviction
    // spills, never recomputes), so the inner range-shuffled base can go
    val n = docs.count()
    assigned.release()
    require(n > 0, "empty input: refusing to build an index with no docs" +
      " (avgdl would be NaN and BM25 scores would silently propagate it)")
    // sumLen = Σ tf over postings ≡ Σ len over docs (integer arithmetic —
    // exactly reproducible across engines); the scan fills the blocks
    // cache, so the runs can go
    val sumLen = blocks.agg(coalesce(sum(col("sum_tf")), lit(0L)))
      .collect()(0).getLong(0)
    releaseRuns()
    val idx = InvertedIndex.ofBlocks(docs, blocks, termDict, n, sumLen)
    idx.docLens.cache()
    idx
  }

  /** Segmented, resumable build into a SegmentStore.
    *
    * docids are assigned ONCE over the stable (conv_id, turn_idx) global
    * order; segment b owns the contiguous docid range
    * [b·span, (b+1)·span) — so the segmented index is docid-identical to
    * a direct build. Each batch writes a self-contained segment with a
    * lineage marker; a re-run SKIPS completed segments (no re-tokenize —
    * the north rule's checkpoint-resume), then commits one manifest
    * listing all segments (all-or-nothing visibility).
    */
  def buildSegments(spark: SparkSession, transcripts: DataFrame,
      root: String, numBatches: Int = 4, numPartitions: Int = 32,
      assigner: Option[graft.analysis.Payloads.Assigner] = None,
      kind: graft.analysis.Analyzers.Kind = graft.analysis.Analyzers.Standard,
      // stamped into lineage alongside the analyzer kind: assigners are
      // bare functions with no stable identity, so a resume under a
      // DIFFERENT assigner can only be detected if the caller names it
      payTag: String = ""): Manifest = {
    // assign() pins its sorted base; `docs` is a cheap projection of it
    val assigned = DocIds.assign(transcripts,
      Seq(col("conv_id"), col("turn_idx")), numPartitions)
    val docs = assigned.docs
    val total = assigned.total
    val span = math.max(1L, (total + numBatches - 1) / numBatches)
    val metas = (0 until numBatches).flatMap { b =>
      val lo = b * span
      val hi = math.min(total, (b + 1) * span)
      if (lo >= total) None
      else {
        val id = f"seg_b$b%05d"
        // payload/analyzer builds carry a distinct lineage so a resumed
        // run never reuses a segment analyzed differently
        val src = (if (assigner.isDefined)
            "ingest-pay" + (if (payTag.nonEmpty) s":$payTag" else "")
          else "ingest") +
          (if (kind != graft.analysis.Analyzers.Standard) s" analyzer=$kind"
           else "")
        val lineage = s"batch=$b/$numBatches docids=[$lo,$hi) src=$src"
        SegmentStore.readLineage(root, id) match {
          case Some(m) if m.lineage == lineage => Some(m) // resume: skip
          case _ =>
            val slice = docs.filter(col("docid") >= lo && col("docid") < hi)
            // one tokenize per turn, its compressed runs pinned only until
            // the blocks are written; stats come from the segment as it is
            // written, doc lengths from its blocks on demand (Lucene's shape)
            Some(writeSegment(spark, root, id, slice,
                PostingBlocks.invert(slice, numPartitions, assigner, kind)) {
              (n, sumLen) => SegmentMeta(id, b.toLong, n, sumLen, lineage,
                maxDocid = hi - 1)
            })
        }
      }
    }
    assigned.release()
    val version = SegmentStore.latest(root).map(_.version + 1).getOrElse(1L)
    val m = Manifest(version, metas)
    SegmentStore.commit(root, m)
    m
  }

  /** Write (but do NOT commit) one appended segment re-based past the
    * store watermark. Returns None for an empty batch. Shared by
    * [[appendSegment]] and [[updateByKeyword]] — the latter folds the
    * new segment and a delete set into ONE manifest commit. */
  private def writeAppendedSegment(spark: SparkSession, turns: DataFrame,
      root: String, prev: Option[Manifest], numPartitions: Int,
      lineageTag: String): Option[SegmentMeta] = {
    // re-base past the docid WATERMARK, not numDocs: after a merge
    // expunges deletes, numDocs shrinks but surviving docids keep their
    // values — a numDocs base would collide (delete → merge → append).
    val base = prev.map(_.maxDocid).getOrElse(-1L) + 1
    val nextOrd = prev.flatMap(_.segments.map(_.ord).maxOption)
      .getOrElse(-1L) + 1
    // the id carries the COMMIT VERSION (like merge ids) so directory
    // names are globally unique across history: ords alone repeat after
    // a merge lowers max(ord) (merge keeps ord = min), and an ord-only
    // id would overwrite a dir still referenced by a retained rollback
    // manifest — and poison reopen's reuse-by-id of unchanged segments
    val nextVer = prev.map(_.version + 1).getOrElse(1L)
    val local = DocIds.assign(turns,
      Seq(col("conv_id"), col("turn_idx")), numPartitions)
    val n = local.total
    if (n == 0) {
      // empty batch (streaming micro-batch with no rows, or an empty
      // conv slice): do not write a zero-doc segment — its empty blocks
      // parquet cannot be schema-inferred on re-read.
      local.release()
      return None
    }
    val docs = local.docs.withColumn("docid", col("docid") + lit(base))
    val id = f"seg_a$nextVer%04d_$nextOrd%05d"
    val meta = writeSegment(spark, root, id, docs,
        PostingBlocks.invert(docs, numPartitions, None,
          graft.analysis.Analyzers.Standard)) { (_, sumLen) =>
      SegmentMeta(id, nextOrd, n, sumLen,
        s"$lineageTag ord=$nextOrd docids=[$base,${base + n})",
        maxDocid = base + n - 1)
    }
    local.release()
    Some(meta)
  }

  /** Append a new batch of turns as one segment, re-basing its docids
    * past the store's current maxDoc — the MergeDocIDRemapper.cs analog;
    * also the streaming-sink unit (one micro-batch = one segment,
    * SURVEY.md §2.8). */
  def appendSegment(spark: SparkSession, turns: DataFrame, root: String,
      numPartitions: Int = 32, lineageTag: String = "append"): Manifest = {
    val prev = SegmentStore.latest(root)
    writeAppendedSegment(spark, turns, root, prev, numPartitions,
        lineageTag) match {
      case None => prev.getOrElse(Manifest(0L, Nil))
      case Some(meta) =>
        // the live delete sets carry forward: appended docids sit past
        // every deleted one, so the old sets hide exactly what they did
        val m = Manifest(prev.map(_.version + 1).getOrElse(1L),
          prev.map(_.segments).getOrElse(Nil) :+ meta,
          prev.map(_.deletes).getOrElse(Nil))
        SegmentStore.commit(root, m)
        m
    }
  }

  /** ATOMIC update-by-key (IndexWriter.UpdateDocument,
    * /root/reference/src/core/Index/IndexWriter.cs:2479 — delete +
    * add under one commit): the delete set for `field = value` and the
    * appended replacement segment land in the SAME manifest version, so
    * readers see either the old conv or the new one — never both, never
    * neither. A crash before the commit leaves the old manifest intact
    * (both staged artifacts are unreferenced and GC-able). */
  def updateByKeyword(spark: SparkSession, root: String, field: String,
      value: String, newTurns: DataFrame,
      numPartitions: Int = 32): Manifest = {
    val m = SegmentStore.latest(root).getOrElse(sys.error("empty store"))
    val idx = SegmentStore.open(spark, root)
    val dir = f"del_v${m.version + 1}%05d"
    idx.withoutDeleted(idx.storedDocs.filter(col(field) === value))
      .select("docid")
      .write.mode("overwrite").parquet(s"$root/$dir")
    val meta = writeAppendedSegment(spark, newTurns, root, Some(m),
      numPartitions, s"update $field=$value")
    val next = Manifest(m.version + 1, m.segments ++ meta.toSeq,
      m.deletes :+ dir)
    SegmentStore.commit(root, next)
    next
  }

  /** Geometric compaction (LogDocMergePolicy semantics: group segments
    * into log_mergeFactor(numDocs) levels, merge any run of ≥ mergeFactor
    * same-level segments — /root/reference/src/core/Index/LogMergePolicy.cs:50-55,289-296).
    * Merge = union segment tables → range-shuffle re-encode (the
    * SegmentMerger sort-merge, SegmentMerger.cs:676-848, expressed as a
    * shuffle). Global docids make re-basing a no-op here. Returns the new
    * manifest if a merge ran. */
  def compact(spark: SparkSession, root: String, mergeFactor: Int = 10,
      numPartitions: Int = 32): Option[Manifest] = {
    val m = SegmentStore.latest(root).getOrElse(return None)
    if (m.segments.size < 2) return None
    // integer log: floor(ln(n)/ln(f)) mis-bins exact powers by float
    // rounding (ln(1000)/ln(10) = 2.9999999999999996 -> level 2)
    def level(s: SegmentMeta): Int = {
      var l = 0
      var x = s.numDocs
      while (x >= mergeFactor) { x /= mergeFactor; l += 1 }
      l
    }
    val byLevel = m.segments.groupBy(level).toSeq.sortBy(-_._1)
    byLevel.collectFirst { case (_, segs) if segs.size >= mergeFactor =>
      doMerge(spark, root, m, segs.sortBy(_.ord).take(mergeFactor),
        numPartitions)
    }
  }

  /** Merge ALL live segments into one (IndexWriter.Optimize analog). */
  def forceMerge(spark: SparkSession, root: String,
      numPartitions: Int = 32): Option[Manifest] = {
    val m = SegmentStore.latest(root).getOrElse(return None)
    if (m.segments.size < 2) return None
    Some(doMerge(spark, root, m, m.segments, numPartitions))
  }

  /** Delete every doc containing the analyzed `term`
    * (IndexWriter.DeleteDocuments(Term) analog,
    * /root/reference/src/core/Index/IndexWriter.cs:2479): the matching
    * docids are written as a delete-set parquet and the manifest commit
    * makes them invisible atomically. Stats stay stale until a merge
    * expunges (reference behavior). */
  def deleteByTerm(spark: SparkSession, root: String, term: String): Manifest = {
    val idx = SegmentStore.open(spark, root)
    deleteDocids(spark, root, idx.withoutDeleted(PostingBlocks.toScoring(
      idx.blockTable.filter(col("term") === term)).select("docid").distinct()),
      s"term=$term")
  }

  /** Delete by a NOT_ANALYZED keyword column (e.g. conv_id) — the
    * update-by-key building block: delete old conv, append new turns. */
  def deleteByKeyword(spark: SparkSession, root: String, field: String,
      value: String): Manifest = {
    val idx = SegmentStore.open(spark, root)
    deleteDocids(spark, root,
      idx.withoutDeleted(idx.storedDocs.filter(col(field) === value))
        .select("docid"),
      s"$field=$value")
  }

  private def deleteDocids(spark: SparkSession, root: String,
      docids: DataFrame, what: String): Manifest = {
    val m = SegmentStore.latest(root).getOrElse(sys.error("empty store"))
    val dir = f"del_v${m.version + 1}%05d"
    docids.write.mode("overwrite").parquet(s"$root/$dir")
    val next = m.copy(version = m.version + 1, deletes = m.deletes :+ dir)
    SegmentStore.commit(root, next)
    next
  }

  /** Write one segment, then its lineage marker: the one write of bulk
    * builds, appends and merges (a segment flushed in one pass,
    * FreqProxTermsWriter.cs:70-157). Blocks are written observing Σ sum_tf
    * (the sumLen), then `blocks`' release runs; the dictionary aggregates
    * the written blocks; docs are written observing their count, which
    * with the sumLen makes the marker (`meta`). No stat costs a job. */
  private def writeSegment(spark: SparkSession, root: String, id: String,
      docs: DataFrame, blocks: (Dataset[BlockRow], () => Unit))
      (meta: (Long, Long) => SegmentMeta): SegmentMeta = {
    def observed(df: DataFrame, sub: String, stat: Column): Long = {
      val o = Observation()
      SegmentStore.writeTable(root, id, sub, df.observe(o, stat.as("v")))
      o.get("v").asInstanceOf[Long]
    }
    val sumLen = observed(blocks._1.toDF(), "blocks",
      coalesce(sum(col("sum_tf")), lit(0L)))
    blocks._2()
    SegmentStore.writeTable(root, id, "dict", PostingBlocks.dictFromBlocks(
      SegmentStore.readBlocks(spark, root, id)))
    val done = meta(observed(docs, "docs", count(lit(1))), sumLen)
    SegmentStore.markComplete(root, done)
    done
  }

  private def doMerge(spark: SparkSession, root: String, m: Manifest,
      toMerge: Seq[SegmentMeta], numPartitions: Int): Manifest = {
    import spark.implicits._
    def unionOf(read: String => DataFrame): DataFrame =
      toMerge.map(s => read(s.id)).reduce(_ unionByName _)
    val del: Option[DataFrame] =
      if (m.deletes.isEmpty) None
      else Some(m.deletes.map(SegmentStore.readDeletes(spark, root, _))
        .reduce(_ unionByName _).distinct())
    def live(df: DataFrame): DataFrame = del match {
      case Some(d) => df.join(d, Seq("docid"), "left_anti")
      case None => df
    }
    // decode to raw (position blobs sliced, not materialized) →
    // expunge deletes → range-shuffle → re-encode: the SegmentMerger
    // sort-merge with deletion squeeze (SegmentMerger.cs:800-847)
    val raw = live(PostingBlocks.toRaw(
        unionOf(SegmentStore.readBlocks(spark, root, _))).toDF())
      .as[Codec.RawPosting]
    val newOrd = toMerge.map(_.ord).min
    val id = f"seg_m${m.version + 1}%04d_$newOrd%05d"
    // streamBatch markers must SURVIVE merges: the streaming sink's
    // replay check scans lineages for `streamBatch=<id>`, and a
    // compaction that rewrote lineage before the stream checkpoint
    // committed would make a crash-replay re-index the whole batch
    val carried = toMerge
      .flatMap(_.lineage.split(' ').filter(_.startsWith("streamBatch=")))
      .distinct
    val meta = writeSegment(spark, root, id,
        live(unionOf(SegmentStore.readTable(spark, root, _, "docs"))),
        (PostingBlocks.fromRaw(raw, numPartitions), () => ())) {
      (n, sumLen) => SegmentMeta(id, newOrd, n, sumLen,
        s"merged=[${toMerge.map(_.id).mkString(",")}]" +
          (if (del.isDefined) " expunged-deletes" else "") +
          (if (carried.isEmpty) "" else carried.mkString(" ", " ", "")),
        // the watermark NEVER shrinks on expunge: surviving docids keep
        // their original values, so appends must still re-base past the
        // pre-merge ceiling
        maxDocid = toMerge.map(_.maxDocid).max)
    }
    val merged = toMerge.map(_.id).toSet
    val mergedAll = merged == m.segments.map(_.id).toSet
    val next = Manifest(m.version + 1,
      (m.segments.filterNot(s => merged.contains(s.id)) :+ meta)
        .sortBy(_.ord),
      // a full merge expunged everything; partial merges keep the list
      // (global docids: already-expunged ids simply match nothing)
      if (mergedAll) Nil else m.deletes)
    SegmentStore.commit(root, next)
    next
  }
}
