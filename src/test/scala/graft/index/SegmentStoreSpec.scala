package graft.index

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.model.Transcripts
import graft.search.{BoolQ, Searcher, TermQ, Wand}

/** Storage-layer invariants: the compressed block store, manifest commit
  * protocol, checkpoint-resume, compaction, and append re-basing must all
  * be invisible to the logical index (reference analog: CheckIndex +
  * TestBackwardsCompatibility golden-corpus style, SURVEY.md §5). */
class SegmentStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def tmp(): String =
    Files.createTempDirectory("graft_store_").toString

  private lazy val turns = Transcripts.synthetic(spark, 1500, seed = 7L,
    partitions = 6).cache()
  private lazy val direct = IndexBuilder.build(turns, 4)

  private def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map {
        case s: Seq[_] => s.toList
        case x => x
      }).toSeq.sortBy(_.mkString("|"))

  test("manifest JSON round-trips") {
    val m = Manifest(3L, Seq(
      SegmentMeta("seg_b00000", 0, 10, 55, "batch=0/4 docids=[0,10) src=ingest", 9),
      SegmentMeta("seg_m0004_00001", 1, 20, 99, """merged=[a,b] with "quote"""", 31)),
      deletes = Seq("del_v00002", "del_v00003"))
    assert(SegmentStore.fromJson(SegmentStore.toJson(m)) == m)
    assert(m.maxDocid == 31)
    val empty = Manifest(1L, Seq(SegmentMeta("s", 0, 1, 2, "l", 0)))
    assert(SegmentStore.fromJson(SegmentStore.toJson(empty)) == empty)
  }

  test("delete-by-term hides docs until merge expunges them") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, 4, 4)
    val before = SegmentStore.open(spark, root)
    val beforeDocs = before.docs.count()
    val delDocs = before.postingsFor(Seq("deploy")).select("docid")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(delDocs.nonEmpty)

    IndexBuilder.deleteByTerm(spark, root, "deploy")
    val after = SegmentStore.open(spark, root)
    assert(SegmentStore.latest(root).get.deletes.size == 1)
    // hidden from docs + every query path
    assert(after.docs.count() == beforeDocs - delDocs.size)
    assert(new Searcher(after).score(TermQ("deploy")).count() == 0)
    val errHits = new Searcher(after).score(TermQ("error")).collect()
      .map(_.getLong(0)).toSet
    assert(errHits.intersect(delDocs).isEmpty)
    // stats stay stale until merge (reference behavior)
    assert(after.numDocs == before.numDocs)

    // merge expunges: stats recomputed, delete list cleared, gc drops dirs
    IndexBuilder.forceMerge(spark, root, 4)
    assert(SegmentStore.latest(root).get.deletes.isEmpty)
    val merged = SegmentStore.open(spark, root)
    assert(merged.numDocs == before.numDocs - delDocs.size)
    assert(merged.postings.filter(col("term") === "deploy").count() == 0)
    // keepManifests=2 (default) retains the pre-merge manifest, whose
    // delete dir must SURVIVE gc (rollback safety); keepManifests=1
    // drops the rollback commit and with it the del_ dir
    import scala.jdk.CollectionConverters._
    SegmentStore.gc(root)
    assert(Files.list(Paths.get(root)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("del_")))
    SegmentStore.gc(root, keepManifests = 1)
    assert(!Files.list(Paths.get(root)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("del_")))

    // delete-by-keyword: drop one whole conversation, docs disappear
    val root2 = tmp()
    IndexBuilder.buildSegments(spark, turns, root2, 2, 4)
    val conv = turns.select("conv_id").orderBy("conv_id").first().getString(0)
    val convSize = turns.filter(col("conv_id") === conv).count()
    IndexBuilder.deleteByKeyword(spark, root2, "conv_id", conv)
    val afterK = SegmentStore.open(spark, root2)
    assert(afterK.docs.filter(col("conv_id") === conv).count() == 0)
    assert(afterK.docs.count() == beforeDocs - convSize)
  }

  test("segmented build round-trips the whole index through disk") {
    val root = tmp()
    val m = IndexBuilder.buildSegments(spark, turns, root, numBatches = 4,
      numPartitions = 4)
    assert(m.segments.size == 4)
    val opened = SegmentStore.open(spark, root)
    assert(opened.numDocs == direct.numDocs)
    assert(math.abs(opened.avgdl - direct.avgdl) < 1e-12)
    assert(rows(opened.docs, "docid", "conv_id", "turn_idx", "text") ==
      rows(direct.docs, "docid", "conv_id", "turn_idx", "text"))
    assert(rows(opened.postings, "term", "docid", "tf", "len", "positions") ==
      rows(direct.postings, "term", "docid", "tf", "len", "positions"))
    assert(rows(opened.termDict, "term", "df", "cf") ==
      rows(direct.termDict, "term", "df", "cf"))
  }

  test("resume skips completed segments and commits the full manifest") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, 4, 4)
    // simulate a crash AFTER two segments were written but BEFORE commit:
    // drop the manifest and two segment dirs entirely
    deleteRec(Paths.get(root, "manifest"))
    deleteRec(Paths.get(root, "seg_b00002"))
    deleteRec(Paths.get(root, "seg_b00003"))
    val kept0 = Files.getLastModifiedTime(
      Paths.get(root, "seg_b00000", "_LINEAGE.json"))
    assert(SegmentStore.latest(root).isEmpty)

    val m = IndexBuilder.buildSegments(spark, turns, root, 4, 4)
    assert(m.segments.size == 4)
    // completed segment untouched (not re-tokenized/re-written)
    assert(Files.getLastModifiedTime(
      Paths.get(root, "seg_b00000", "_LINEAGE.json")) == kept0)
    val opened = SegmentStore.open(spark, root)
    assert(rows(opened.postings, "term", "docid", "tf") ==
      rows(direct.postings, "term", "docid", "tf"))
  }

  test("forceMerge + gc preserve the index; old segments dropped") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, 4, 4)
    val before = SegmentStore.open(spark, root)
    val q = BoolQ(must = Seq(TermQ("error")), should = Seq(TermQ("deploy")))
    val hitsBefore = rows(new Searcher(before).topK(q, 20), "docid", "score")

    val merged = IndexBuilder.forceMerge(spark, root, 4).get
    assert(merged.segments.size == 1)
    // default gc keeps 2 manifests: the retained pre-merge commit still
    // references the old segments, so they must survive (rollback
    // reads); pruning to 1 manifest releases them
    assert(SegmentStore.gc(root).isEmpty)
    val dropped = SegmentStore.gc(root, keepManifests = 1)
    assert(dropped.toSet == Set("seg_b00000", "seg_b00001", "seg_b00002",
      "seg_b00003"))
    val after = SegmentStore.open(spark, root)
    assert(after.numDocs == before.numDocs)
    assert(rows(after.postings, "term", "docid", "tf", "len") ==
      rows(direct.postings, "term", "docid", "tf", "len"))
    assert(rows(new Searcher(after).topK(q, 20), "docid", "score") ==
      hitsBefore)
  }

  test("geometric compact merges only when >= mergeFactor peers exist") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, 4, 4)
    // mergeFactor 10 > 4 segments → no-op
    assert(IndexBuilder.compact(spark, root, mergeFactor = 10, 4).isEmpty)
    // mergeFactor 3 → merges the 3 oldest same-level segments
    val m = IndexBuilder.compact(spark, root, mergeFactor = 3, 4)
    assert(m.isDefined && m.get.segments.size == 2)
    val opened = SegmentStore.open(spark, root)
    assert(rows(opened.postings, "term", "docid", "tf") ==
      rows(direct.postings, "term", "docid", "tf"))
  }

  test("ordered appends re-base docids to match the one-shot build") {
    val root = tmp()
    val convs = turns.select("conv_id").distinct().orderBy("conv_id")
      .collect().map(_.getString(0))
    val cut = convs(convs.length / 2)
    IndexBuilder.appendSegment(spark, turns.filter(col("conv_id") < cut),
      root, 4)
    IndexBuilder.appendSegment(spark, turns.filter(col("conv_id") >= cut),
      root, 4)
    val opened = SegmentStore.open(spark, root)
    assert(rows(opened.docs, "docid", "conv_id", "turn_idx", "text") ==
      rows(direct.docs, "docid", "conv_id", "turn_idx", "text"))
    assert(rows(opened.termDict, "term", "df", "cf") ==
      rows(direct.termDict, "term", "df", "cf"))
  }

  test("delete -> merge-expunge -> append never reuses docids") {
    val root = tmp()
    val convs = turns.select("conv_id").distinct().orderBy("conv_id")
      .collect().map(_.getString(0))
    val cut = convs(convs.length / 2)
    val first = turns.filter(col("conv_id") < cut)
    IndexBuilder.buildSegments(spark, first, root, 2, 4)
    val watermark = SegmentStore.latest(root).get.maxDocid
    // delete some docs, then merge (numDocs shrinks, docids keep values)
    IndexBuilder.deleteByTerm(spark, root, "deploy")
    IndexBuilder.forceMerge(spark, root, 4)
    val m = SegmentStore.latest(root).get
    assert(m.numDocs < watermark + 1, "expected the delete to expunge docs")
    assert(m.maxDocid == watermark, "expunge must not shrink the watermark")
    // append: new docids must start past the ORIGINAL ceiling
    IndexBuilder.appendSegment(spark, turns.filter(col("conv_id") >= cut),
      root, 4)
    val opened = SegmentStore.open(spark, root)
    val ids = opened.docs.select("docid").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "colliding docids after append")
    assert(opened.postings.groupBy("term", "docid").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("delete -> append -> reopen keeps deleted docs hidden until merge") {
    val root = tmp()
    val convs = turns.select("conv_id").distinct().orderBy("conv_id")
      .collect().map(_.getString(0))
    val cut = convs(convs.length / 2)
    IndexBuilder.buildSegments(spark, turns.filter(col("conv_id") < cut),
      root, 2, 4)
    val watermark = SegmentStore.latest(root).get.maxDocid
    val deleted = SegmentStore.open(spark, root).postingsFor(Seq("deploy"))
      .select("docid").distinct().collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty)
    IndexBuilder.deleteByTerm(spark, root, "deploy")
    IndexBuilder.appendSegment(spark, turns.filter(col("conv_id") >= cut),
      root, 4)
    assert(SegmentStore.latest(root).get.deletes.size == 1,
      "the append must carry the delete list forward")
    val reopened = SegmentStore.open(spark, root)
    val live = reopened.docs.select("docid").collect().map(_.getLong(0)).toSet
    assert(live.intersect(deleted).isEmpty)
    // only the appended half's "deploy" docs match
    val hits = new Searcher(reopened).score(TermQ("deploy")).collect()
      .map(_.getLong(0)).toSet
    assert(hits.nonEmpty && hits.forall(_ > watermark))
    // a full merge expunges exactly the hidden docs
    IndexBuilder.forceMerge(spark, root, 4)
    assert(SegmentStore.latest(root).get.deletes.isEmpty)
    val merged = SegmentStore.open(spark, root)
    assert(merged.numDocs == live.size)
    assert(rows(merged.docs, "docid", "conv_id", "turn_idx", "text") ==
      rows(reopened.docs, "docid", "conv_id", "turn_idx", "text"))
  }

  test("updateByKeyword replaces a conv atomically (one commit)") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, 2, 4)
    val v0 = SegmentStore.latest(root).get.version
    val conv = turns.select("conv_id").orderBy("conv_id").first().getString(0)
    val updated = turns.filter(col("conv_id") === conv)
      .withColumn("text", concat(col("text"), lit(" freshly updated")))
    IndexBuilder.updateByKeyword(spark, root, "conv_id", conv, updated, 4)
    val m = SegmentStore.latest(root).get
    assert(m.version == v0 + 1, "delete + append must be ONE commit")
    assert(m.deletes.size == 1 && m.segments.size == 3)
    val idx = SegmentStore.open(spark, root)
    // old docids gone, new content searchable, text carries the marker
    val convDocs = idx.docs.filter(col("conv_id") === conv)
      .select("docid", "text").collect()
    assert(convDocs.nonEmpty)
    assert(convDocs.forall(_.getString(1).endsWith(" freshly updated")))
    assert(convDocs.forall(_.getLong(0) > SegmentStore.latest(root).get
      .segments.init.map(_.maxDocid).max - 1))
    val hits = new Searcher(idx).score(TermQ("freshly")).collect()
      .map(_.getLong(0)).toSet
    assert(hits == convDocs.map(_.getLong(0)).toSet)
  }

  test("appending an empty batch is a no-op on the manifest") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, 2, 4)
    val before = SegmentStore.latest(root).get
    IndexBuilder.appendSegment(spark,
      turns.filter(col("conv_id") === "no_such_conv"), root, 4)
    assert(SegmentStore.latest(root).get == before)
  }

  test("WAND pruned disjunction == unpruned (scores + ranks)") {
    val root = tmp()
    IndexBuilder.buildSegments(spark, turns, root, 4, 4)
    val idx = SegmentStore.open(spark, root)
    val terms = Seq("error", "deploy", "the")
    // force the pruned plan (the adaptive planner would devolve at this
    // corpus size) — the invariant must hold regardless of cutoff
    val pruned = Wand.topKDisjunctionPruned(idx, terms, 10).collect()
    val full = new Searcher(direct)
      .topK(BoolQ(should = terms.map(TermQ(_))), 10).collect()
    assert(pruned.map(_.getLong(0)).toSeq == full.map(_.getLong(0)).toSeq)
    pruned.zip(full).foreach { case (p, f) =>
      assert(math.abs(p.getDouble(1) - f.getDouble(1)) < 1e-9)
    }
    val (total, kept) = Wand.pruneStats(idx, terms, 10)
    assert(total >= kept && kept > 0)
  }

  test("incremental reopen reuses unchanged segments' views (IndexReader.Reopen)") {
    val root = tmp()
    val convs = turns.select("conv_id").distinct().orderBy("conv_id")
      .collect().map(_.getString(0))
    val cut = convs(convs.length / 2)
    IndexBuilder.buildSegments(spark, turns.filter(col("conv_id") < cut),
      root, 3, 4)
    val h1 = SegmentStore.reopen(spark, root, None)
    // unchanged commit → the SAME handle instance (Reopen's same-reader
    // contract)
    assert(SegmentStore.reopen(spark, root, Some(h1)) eq h1)

    IndexBuilder.appendSegment(spark, turns.filter(col("conv_id") >= cut),
      root, 4)
    val h2 = SegmentStore.reopen(spark, root, Some(h1))
    assert(h2.version > h1.version)
    assert(h2.views.size == h1.views.size + 1)
    // every carried-over segment reuses the previous view BY IDENTITY
    // (so cache state on those DataFrames survives the reopen)
    val prevViews = h1.views.toMap
    h2.views.foreach { case (id, v) =>
      prevViews.get(id).foreach(pv => assert(v eq pv))
    }
    assert(h2.views.count { case (id, _) => prevViews.contains(id) }
      == h1.views.size)

    // the reopened view answers exactly like a cold open
    val cold = SegmentStore.open(spark, root)
    val a = new Searcher(h2.index).topK(TermQ("error"), 10).collect()
    val b = new Searcher(cold).topK(TermQ("error"), 10).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq)
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x.getDouble(1) - y.getDouble(1)) < 1e-12)
    }
  }

  test("WAND prunes on a tf-skewed corpus and the probe devolves on a uniform one") {
    import spark.implicits._
    // skewed: "jackpot" tf=8 in 96 short docs (one contiguous conv run →
    // 1-2 posting blocks), tf=1 in 6000 LONG docs, absent from 2000 more
    // (so idf stays real). Per-block upper bounds idf·tfNorm(max_tf,
    // min_len) then split ~2.4× apart (t0≈0.59 from the tf=8 docs vs
    // ub≈0.25 for the tf=1 long-doc blocks), so the tf=1 blocks — the
    // overwhelming majority — are certified unreachable and pruned
    // before decode. The purest case is the single-term top-k (the
    // block-max skip of a TermScorer); a multi-term OR can additionally
    // prune only when the OTHER terms' global maxima stay below t0
    // (here: filler idf≈0.01), the fundamental looseness of the
    // sum-of-gmax bound.
    val ts = new java.sql.Timestamp(1735689600000L)
    val rich = (0 until 96).map { i =>
      graft.model.TranscriptTurn(f"c_rich${i / 16}%04d", i % 16, "user",
        ("jackpot " * 8).trim, None, ts)
    }
    val dilute = (0 until 6000).map { i =>
      graft.model.TranscriptTurn(f"c_dilute${i / 16}%05d", i % 16, "user",
        "jackpot " + ("filler " * 120).trim, None, ts)
    }
    val quiet = (0 until 2000).map { i =>
      graft.model.TranscriptTurn(f"c_quiet${i / 16}%05d", i % 16, "user",
        ("filler " * 10).trim, None, ts)
    }
    val root = tmp()
    IndexBuilder.buildSegments(spark, (rich ++ dilute ++ quiet).toDF(),
      root, 2, 4)
    val idx = SegmentStore.open(spark, root)
    val (total, kept) = Wand.pruneStats(idx, Seq("jackpot"), 10)
    assert(total > 20, s"corpus too small to block up: $total")
    assert(kept < total / 4,
      s"expected the tf=1 blocks pruned, kept $kept of $total")
    // exactness under real pruning, multi-term (filler's gmax≈0.03 stays
    // below t0 so jackpot's weak blocks still prune)
    val terms = Seq("jackpot", "filler")
    val (t2, k2) = Wand.pruneStats(idx, terms, 10)
    assert(k2 < t2, s"expected some pruning on the OR, kept $k2 of $t2")
    val pruned = Wand.topKDisjunctionPruned(idx, terms, 10).collect()
    val full = new Searcher(idx)
      .topK(BoolQ(should = terms.map(TermQ(_))), 10).collect()
    assert(pruned.map(_.getLong(0)).toSeq == full.map(_.getLong(0)).toSeq)
    pruned.zip(full).foreach { case (p, f) =>
      assert(math.abs(p.getDouble(1) - f.getDouble(1)) < 1e-9)
    }
    // uniform corpus: the stat probe must report near-zero prunability
    // (the adaptive path then devolves to the single-scan disjunction)
    val rootU = tmp()
    IndexBuilder.buildSegments(spark, turns, rootU, 2, 4)
    val idxU = SegmentStore.open(spark, rootU)
    val (tU, kU) = Wand.pruneStats(idxU, Seq("error", "the"), 10)
    assert(kU.toDouble / tU > Wand.PruneWorthFraction,
      s"uniform corpus should keep ~all blocks, kept $kU of $tU")
  }

  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRec)
    Files.deleteIfExists(p)
  }
}
