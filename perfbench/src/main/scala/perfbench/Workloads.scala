package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index._
import graft.model.TranscriptTurn
import graft.search._

/** What a workload hands back: its timed calls, the store its end-to-end
  * numbers describe, and the sections of the layer sweep it covered. */
final case class Out(
    setupEnd: Host.Mark,
    /** Each untraced timed call, and each traced one. */
    calls: Seq[Call],
    traced: Seq[Call],
    /** Items (turns or queries) processed by the `work` calls: the
      * timed calls themselves, except for ingest, whose items are the
      * turns its write calls wrote. */
    items: Double,
    work: Seq[Call],
    /** The store the run ends with, and the text bytes it indexes. */
    storeRoot: String,
    storeTextBytes: Long,
    /** A bulk-built store of `rows`, for the layer sweep. */
    bulkRoot: String,
    rows: Array[TranscriptTurn],
    covers: Set[String],
    record: Map[String, Any])

object Workloads {

  /** Turns in the bulk corpus (a multiple of 16: whole conversations). */
  val Turns = 12000L
  /** Queries per topKBatch registry. */
  val Registry = 256

  val byName: Map[String, Ctx => Out] = Map(
    "build" -> build, "search" -> search, "batch" -> batch, "ingest" -> ingest)

  /** The rows as a cached DataFrame, materialized here so a timed build
    * does not pay for shipping them. */
  private def frame(c: Ctx, rows: Seq[TranscriptTurn]): DataFrame = {
    val df = Corpus.frame(c.spark, rows).cache()
    df.count()
    df
  }

  private val Keys = Seq(col("conv_id"), col("turn_idx"))

  def bulkBuild(c: Ctx, df: DataFrame, root: String): Manifest =
    IndexBuilder.buildSegments(c.spark, df, root, numBatches = 1,
      numPartitions = c.parts)

  /** The bulk build spelled out through the public index functions, one
    * span per layer (the same steps `buildSegments` takes for one batch).
    * [[checkCopy]] holds it to what `buildSegments` writes. */
  def tracedBuild(c: Ctx, df: DataFrame, root: String): Manifest = {
    val t = c.trace
    t.span("index.build") {
      val assigned = t.span("index.assign") {
        DocIds.assign(df, Keys, c.parts)
      }
      val n = assigned.total
      val id = "seg_b00000"
      t.span("index.invert_encode") {
        SegmentStore.writeTable(root, id, "blocks",
          PostingBlocks.buildFromDocs(assigned.docs, c.parts).toDF())
      }
      val m = t.span("index.dict_docs_write") {
        val blocks = SegmentStore.readTable(c.spark, root, id, "blocks")
        SegmentStore.writeTable(root, id, "dict", PostingBlocks.dictFromBlocks(blocks))
        SegmentStore.writeTable(root, id, "docs", assigned.docs)
        val sumLen = blocks.agg(coalesce(sum(col("sum_tf")), lit(0L)))
          .collect()(0).getLong(0)
        val meta = SegmentMeta(id, 0L, n, sumLen,
          s"batch=0/1 docids=[0,$n) src=ingest", maxDocid = n - 1)
        SegmentStore.markComplete(root, meta)
        val m = Manifest(1L, Seq(meta))
        SegmentStore.commit(root, m)
        m
      }
      assigned.release()
      m
    }
  }

  /** The spelled-out build must write what `buildSegments` writes for
    * the same rows: the same manifest, the same decoded postings,
    * dictionary and docs in every segment (compared as row count plus
    * the sum of row hashes, one job per table), and a store CheckIndex
    * passes. (Block boundaries follow the sampled range partitions, so
    * two builds of the same rows may cut blocks differently.) */
  private def checkCopy(c: Ctx, copy: String, engine: String): Unit = {
    c.check("traced build = buildSegments") {
      val (a, b) = (SegmentStore.latest(copy), SegmentStore.latest(engine))
      def digest(root: String, id: String, t: String): Row = {
        val df = SegmentStore.readTable(c.spark, root, id, if (t == "postings") "blocks" else t)
        val rows = if (t == "postings") PostingBlocks.toPostings(df) else df
        rows.agg(count(lit(1)),
          sum(xxhash64(rows.columns.map(col): _*).cast("decimal(38,0)")))
          .collect()(0)
      }
      if (a != b) Some(s"manifest $a, buildSegments $b")
      else a.toSeq.flatMap(_.segments).flatMap { m =>
        Seq("postings", "dict", "docs")
          .filter(t => digest(copy, m.id, t) != digest(engine, m.id, t))
          .map(t => s"${m.id}/$t differs")
      }.headOption
    }
    c.check("CheckIndex.verify (traced build)") {
      val r = CheckIndex.verify(c.spark, copy)
      if (r.ok) None else Some(r.violations.take(3).mkString("; "))
    }
  }

  /** Store shape: postings, blocks and bytes on disk. */
  private def storeCounts(c: Ctx, root: String): Unit = {
    val idx = SegmentStore.open(c.spark, root)
    val r = idx.blocks.get.agg(count(lit(1)), sum(col("n"))).collect()(0)
    c.gauge("index.blocks", r.getLong(0).toDouble)
    c.gauge("index.postings", r.getLong(1).toDouble)
    c.gauge("index.bytes_written", Main.storeBytes(root).toDouble)
  }

  // ---------------------------------------------------------------- build

  /** Bulk `buildSegments` of the corpus, repeated, at least four times
    * (four outlast the time limit, so the count and with it the median
    * do not vary with the host's speed); the warm-up builds before them
    * are untimed and paid in set-up. A traced run times the spelled-out
    * build instead, traced and untraced, so both sides of
    * `trace.overhead_frac` run the same code. */
  def build(c: Ctx): Out = {
    val rows = c.phase("corpus")(Corpus.rows(c.spark, Turns, c.args.seed))
    val df = c.phase("cache rows")(frame(c, rows.toSeq))
    // two warm-up builds: after one, the next three still ran 20-30%
    // faster each in turn as the JIT kept compiling; the builds after
    // two still speed up a little, which the fixed count of timed
    // builds keeps the same in every run
    c.phase("warm-up builds")((1 to 2).foreach { _ =>
      val warm = c.newRoot("warm")
      c.op("warm-up build")(bulkBuild(c, df, warm))
      Main.deleteTree(java.nio.file.Paths.get(warm))
    })
    val setupEnd = Host.mark()

    val calls, traced = mutable.ArrayBuffer.empty[Call]
    var last: String = null
    c.loop(min = 4) { (_, tr) =>
      val root = c.newRoot("build")
      val (ok, t) = Host.call(c.op("build")(
        if (c.args.traced) tracedBuild(c, df, root) else bulkBuild(c, df, root)))
      if (ok.isDefined) {
        (if (tr) traced else calls) += t
        if (last != null) Main.deleteTree(java.nio.file.Paths.get(last))
        last = root
      }
    }
    checkBuild(c, last, rows)
    if (c.args.traced && last != null) {
      storeCounts(c, last)
      val engine = c.newRoot("engine")
      c.op("build")(bulkBuild(c, df, engine))
      checkCopy(c, last, engine)
      Main.deleteTree(java.nio.file.Paths.get(engine))
    }
    Out(setupEnd, calls.toSeq, traced.toSeq, rows.length.toDouble * calls.size,
      calls.toSeq, last, Corpus.textBytes(rows), last, rows, Set("build"), Map.empty)
  }

  /** CheckIndex, doc count, and per-turn text equality by key. */
  private def checkBuild(c: Ctx, root: String, rows: Array[TranscriptTurn]): Unit = {
    if (root == null) { c.fail("build", "no build completed"); return }
    c.check("CheckIndex.verify") {
      val r = CheckIndex.verify(c.spark, root)
      if (r.ok) None else Some(r.violations.take(3).mkString("; "))
    }
    c.check("numDocs") {
      val n = SegmentStore.latest(root).map(_.numDocs).getOrElse(-1L)
      if (n == rows.length) None else Some(s"numDocs $n, expected ${rows.length}")
    }
    c.check("text by (conv_id, turn_idx)") {
      val stored = SegmentStore.open(c.spark, root).docs
        .select("conv_id", "turn_idx", "text").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
      val bad = rows.count(r => !stored.get((r.conv_id, r.turn_idx)).contains(r.text))
      if (bad == 0 && stored.size == rows.length) None
      else Some(s"$bad of ${rows.length} turns differ; ${stored.size} stored")
    }
  }

  // --------------------------------------------------------------- search

  /** One point query, timed from parse to collected rows. */
  private def runQuery(c: Ctx, s: Searcher, q: String): Array[Row] = {
    val t = c.trace
    t.span("search.query") {
      val parsed = t.span("search.parse")(QueryParser.parse(q))
      val plan = t.span("search.plan")(s.topK(parsed, c.k))
      t.span("search.exec")(plan.collect())
    }
  }

  private def setupStore(c: Ctx, rows: Array[TranscriptTurn]): (String, Searcher) = {
    val root = c.newRoot("store")
    bulkBuild(c, Corpus.frame(c.spark, rows.toSeq), root)
    (root, new Searcher(SegmentStore.open(c.spark, root)))
  }

  /** Closed loop, one client: parse + topK(q, 10) + collect on a bulk
    * store, all queries sharing one Searcher. The first two blocks of
    * the mix are the warm-up (after one block the next ran about 25%
    * faster); the timed loop runs whole blocks, at least three. The
    * queries still get faster over the first blocks, so a run whose time
    * limit let a varying number of blocks in would shift its median with
    * the block count; three blocks outlast the limit. (With two, the
    * seed-to-seed spread of the median was about twice as wide.) */
  def search(c: Ctx): Out = {
    val rows = c.phase("corpus")(Corpus.rows(c.spark, Turns, c.args.seed))
    val (root, s) = c.phase("store build")(setupStore(c, rows))
    val mix = Corpus.searchMix(rows.toIndexedSeq, 8 * 64, c.args.seed)
    c.phase("warm-up queries")(
      mix.take(16).foreach(q => c.op("warm-up query")(runQuery(c, s, q))))
    val setupEnd = Host.mark()

    val calls, traced = mutable.ArrayBuffer.empty[Call]
    val seen = mutable.LinkedHashMap.empty[String, Array[Row]]
    c.loop(min = 3, interleaved = true) { (b, _) =>
      mix.slice(8 * (2 + b % 62), 8 * (3 + b % 62)).zipWithIndex.foreach { case (q, j) =>
        val tr = c.tracedCall(b, j)
        val (got, t) = Host.call(c.op(s"query $q")(runQuery(c, s, q)))
        got.foreach { r =>
          (if (tr) traced else calls) += t
          if (!seen.contains(q)) seen(q) = r
        }
      }
    }
    checkSearch(c, rows, seen.toSeq)
    Out(setupEnd, calls.toSeq, traced.toSeq, calls.size.toDouble,
      calls.toSeq, root, Corpus.textBytes(rows), root, rows,
      Set("search"), Map("distinct_queries" -> seen.size))
  }

  /** Every distinct query's rows against the scalar BM25 oracle, and the
    * oracle's tokenizer against the engine's analyzer on a sample. */
  private def checkSearch(c: Ctx, rows: Array[TranscriptTurn],
      results: Seq[(String, Array[Row])]): Unit = {
    val oracle = new Oracle(rows.toSeq)
    results.foreach { case (q, got) =>
      c.check(s"oracle: $q") {
        val want = oracle.topK(Oracle.structure(q), c.k).map { case (d, s) => d.toLong -> s }
        Compare.ranked(want, got.toSeq.map(r => r.getLong(0) -> r.getDouble(1)), 1e-4)
      }
    }
    c.check("oracle tokenizer = Analyzer.tokenize") {
      val bad = (0 until math.min(200, rows.length)).find { d =>
        oracle.tokensOf(d) != Analyzer.tokenize(oracle.docs(d).text).map(t => (t.term, t.pos))
      }
      bad.map(d => s"doc $d tokenizes differently")
    }
  }

  // ---------------------------------------------------------------- batch

  /** topKBatch over fresh registries of 256 distinct flat term-bag
    * queries on a bulk store. */
  def batch(c: Ctx): Out = {
    val rows = Corpus.rows(c.spark, Turns, c.args.seed)
    val (root, s) = setupStore(c, rows)
    def registry(i: Int) = Corpus.registry(Registry, c.args.seed * 1000L + i)
    c.op("warm-up batch")(s.topKBatch(registry(0), c.k).collect())
    val setupEnd = Host.mark()

    val calls, traced = mutable.ArrayBuffer.empty[Call]
    val kept = mutable.ArrayBuffer.empty[(Seq[(String, BoolQ)], Array[Row])]
    c.loop(min = 3) { (i, tr) =>
      val reg = registry(i + 1)
      val (got, t) = Host.call(c.op("topKBatch")(
        c.trace.span("search.batch")(s.topKBatch(reg, c.k).collect())))
      got.foreach { r =>
        (if (tr) traced else calls) += t
        if (kept.size < 2) kept += ((reg, r))
      }
    }
    // each sampled qid's batch rows equal its own topK
    val rnd = new scala.util.Random(c.args.seed)
    kept.foreach { case (reg, got) =>
      (0 until 2).foreach { _ =>
        val (qid, q) = reg(rnd.nextInt(reg.size))
        c.check(s"batch $qid = topK") {
          val want = s.topK(q, c.k).collect().toSeq.map(r => r.getLong(0) -> r.getDouble(1))
          val mine = got.toSeq.filter(_.getString(0) == qid)
            .map(r => r.getLong(2) -> r.getDouble(3))
          if (want == mine) None else Some(s"batch $mine, topK $want")
        }
      }
    }
    Out(setupEnd, calls.toSeq, traced.toSeq, Registry.toDouble * calls.size,
      calls.toSeq, root, Corpus.textBytes(rows), root, rows, Set("batch"), Map.empty)
  }

  // --------------------------------------------------------------- ingest

  /** Turns appended per round (whole conversations). */
  val AppendTurns = 1024
  /** Queries in the search burst after each round. */
  val Burst = 4

  /** Rows of the live index, mirrored on the driver. */
  private final class Live(base: Seq[TranscriptTurn]) {
    val rows = mutable.LinkedHashMap.empty[(String, Int), TranscriptTurn]
    base.foreach(r => rows((r.conv_id, r.turn_idx)) = r)
    def conv(id: String): Seq[TranscriptTurn] = rows.valuesIterator.filter(_.conv_id == id).toSeq
  }

  private final class Ingest(c: Ctx, root: String, extra: IndexedSeq[TranscriptTurn],
      live: Live, mix: Vector[String]) {
    var open: SegmentStore.OpenIndex = SegmentStore.reopen(c.spark, root, None)
    var searcher = new Searcher(open.index)
    private var nextAppend = 0
    private var nextQuery = 0
    val rnd = new scala.util.Random(c.args.seed * 17L + 1L)
    val queries, tracedQueries = mutable.ArrayBuffer.empty[Call]

    /** append → update → (every third round) delete → reopen → compact
      * when due → a burst of queries. Returns the write calls and the
      * turns they wrote. */
    def round(r: Int, traced: Boolean): (Seq[Call], Long) = {
      val t = c.trace
      val writes = mutable.ArrayBuffer.empty[Call]
      var turns = 0L
      val chunk = extra.slice(nextAppend, nextAppend + AppendTurns)
      nextAppend += AppendTurns
      if (chunk.nonEmpty) {
        val df = Corpus.frame(c.spark, chunk)
        val (ok, d) = Host.call(c.op("appendSegment")(t.span("index.append")(
          IndexBuilder.appendSegment(c.spark, df, root, c.parts))))
        if (ok.isDefined) {
          writes += d; turns += chunk.size
          chunk.foreach(x => live.rows((x.conv_id, x.turn_idx)) = x)
        }
      }
      val convs = live.rows.valuesIterator.map(_.conv_id).toIndexedSeq.distinct
      val conv = convs(rnd.nextInt(convs.size))
      val repl = live.conv(conv).map(x => x.copy(text = x.text + " " +
        Corpus.draw(rnd, Corpus.Mid) + " " + Corpus.draw(rnd, Corpus.Rare)))
      val (ok, d) = Host.call(c.op("updateByKeyword")(t.span("index.update")(
        IndexBuilder.updateByKeyword(c.spark, root, "conv_id", conv,
          Corpus.frame(c.spark, repl), c.parts))))
      if (ok.isDefined) {
        writes += d; turns += repl.size
        live.rows.filterInPlace((_, x) => x.conv_id != conv)
        repl.foreach(x => live.rows((x.conv_id, x.turn_idx)) = x)
      }
      if (r % 3 == 2) {
        val term = Corpus.draw(rnd, Corpus.Rare)
        val (ok, d) = Host.call(c.op("deleteByTerm")(t.span("index.delete")(
          IndexBuilder.deleteByTerm(c.spark, root, term))))
        if (ok.isDefined) {
          writes += d
          live.rows.filterInPlace((_, x) => !Corpus.tokens(x.text).exists(_._1 == term))
        }
      }
      reopen()
      c.op("compact")(t.span("index.compact_due")(
        IndexBuilder.compact(c.spark, root, mergeFactor = 4, numPartitions = c.parts)))
        .flatten.foreach(_ => reopen())
      (0 until Burst).foreach { _ =>
        val q = mix(nextQuery % mix.size)
        nextQuery += 1
        val (got, t) = Host.call(c.op(s"query $q")(runQuery(c, searcher, q)))
        if (got.isDefined) (if (traced) tracedQueries else queries) += t
      }
      (writes.toSeq, turns)
    }

    def reopen(): Unit = c.op("reopen")(c.trace.span("index.open") {
      open = SegmentStore.reopen(c.spark, root, Some(open))
      searcher = new Searcher(open.index)
    })
  }

  /** Writes beside reads: rounds of append, update-by-conv_id, delete
    * and reopen on a bulk store, each followed by a burst of queries. */
  def ingest(c: Ctx): Out = {
    // enough whole conversations for the warm-up round and every timed one
    val extraConvs = 64 * (3 + (c.args.seconds / 2).toInt)
    val all = Corpus.rows(c.spark, Turns + 16L * extraConvs, c.args.seed)
    val base = all.take(Turns.toInt)
    val extra = all.drop(Turns.toInt).toIndexedSeq
    val (root, _) = setupStore(c, base)
    val mix = Corpus.searchMix(base.toIndexedSeq, 2000, c.args.seed)
    val live = new Live(base.toSeq)
    val in = new Ingest(c, root, extra, live, mix)
    in.round(0, traced = false)
    in.queries.clear()
    val setupEnd = Host.mark()

    val writes = mutable.ArrayBuffer.empty[Call]
    var turns = 0L
    c.loop(min = 1) { (i, tr) =>
      val (w, n) = in.round(i + 1, tr)
      if (!tr) { writes ++= w; turns += n }
    }
    if (c.args.traced) segmentGauges(c, root)
    val fresh = checkIngest(c, root, live, mix)
    val rows = live.rows.values.toArray
    Out(setupEnd, in.queries.toSeq, in.tracedQueries.toSeq, turns.toDouble,
      writes.toSeq, root, Corpus.textBytes(rows), fresh, rows, Set("ingest"),
      Map("writes" -> writes.map(Metrics.callRecord)))
  }

  private def segmentGauges(c: Ctx, root: String): Unit = {
    SegmentStore.latest(root).foreach { m =>
      c.gauge("index.segments_live", m.segments.size.toDouble)
      val del = m.deletes.map(d => c.spark.read.parquet(s"$root/$d"))
        .reduceOption(_ unionByName _).map(_.select("docid").distinct().count())
        .getOrElse(0L)
      c.gauge("index.deleted_docs", del.toDouble)
    }
  }

  /** After a final forceMerge, top-10 lists by key must equal those of a
    * fresh bulk build of the surviving rows. Returns the fresh store. */
  private def checkIngest(c: Ctx, root: String, live: Live, mix: Vector[String]): String = {
    val t = c.trace
    t.active = c.args.traced
    c.op("forceMerge")(t.span("index.compact")(
      IndexBuilder.forceMerge(c.spark, root, c.parts)))
    t.active = false
    if (c.args.traced) bytesRewritten(c, root)
    val fresh = c.newRoot("fresh")
    val df = frame(c, live.rows.values.toSeq)
    c.op("fresh build")(bulkBuild(c, df, fresh))
    df.unpersist(blocking = true)
    def keyed(root: String, q: Query): Seq[((String, Int), Double)] = {
      val idx = SegmentStore.open(c.spark, root)
      new Searcher(idx).topK(q, c.k)
        .join(idx.docs.select("docid", "conv_id", "turn_idx"), "docid")
        .orderBy(col("score").desc, col("docid")).collect().toSeq
        .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r.getAs[Double]("score"))
    }
    c.check("merged docs = surviving rows") {
      val stored = SegmentStore.open(c.spark, root).docs
        .select("conv_id", "turn_idx", "text").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2))
      val want = live.rows.map { case (k, r) => k -> r.text }.toMap
      if (stored.length == want.size && stored.toMap == want) None
      else Some(s"${stored.length} docs stored, ${want.size} expected, " +
        s"${stored.toSet.diff(want.toSet).size} not among them")
    }
    c.check("merged stats = fresh stats") {
      val (m, f) = (SegmentStore.latest(root).get, SegmentStore.latest(fresh).get)
      if ((m.numDocs, m.sumLen) == (f.numDocs, f.sumLen)) None
      else Some(s"merged (numDocs, sumLen) = ${(m.numDocs, m.sumLen)}, " +
        s"fresh ${(f.numDocs, f.sumLen)}")
    }
    mix.take(5).foreach { q =>
      c.check(s"merged = fresh: $q") {
        val parsed = QueryParser.parse(q)
        Compare.ranked(keyed(fresh, parsed), keyed(root, parsed), 1e-6)
      }
    }
    fresh
  }

  // ----------------------------------------------------------- layer sweep

  /** In a traced run, exercise the layers the workload itself did not,
    * so every traced run reports every per-layer metric. */
  def sweep(c: Ctx, out: Out): Unit = {
    val t = c.trace
    t.active = true
    try {
      val root =
        if (out.covers("build")) out.bulkRoot
        else {
          val r = c.newRoot("sweep")
          val df = frame(c, out.rows.toSeq)
          c.op("traced build")(tracedBuild(c, df, r))
          df.unpersist(blocking = true)
          checkCopy(c, r, out.bulkRoot)
          storeCounts(c, r)
          r
        }
      tokenizeRate(c, out.rows)
      val idx = c.op("open")(t.span("index.open")(SegmentStore.open(c.spark, root)))
      idx.foreach { idx =>
        val s = new Searcher(idx)
        val mix = Corpus.searchMix(out.rows.toIndexedSeq, 8, c.args.seed + 1)
        if (!out.covers("search"))
          mix.foreach(q => c.op(s"query $q")(runQuery(c, s, q)))
        searchLayers(c, idx, mix)
        if (!out.covers("batch"))
          c.op("topKBatch")(t.span("search.batch")(
            s.topKBatch(Corpus.registry(Registry, c.args.seed + 1), c.k).collect()))
      }
      if (!out.covers("ingest")) {
        val extra = Corpus.rows(c.spark, Turns + 16L * 64, c.args.seed)
          .drop(Turns.toInt).toIndexedSeq
        val live = new Live(out.rows.toSeq)
        val in = new Ingest(c, root, extra, live, Corpus.searchMix(out.rows.toIndexedSeq, 8, c.args.seed))
        in.round(2, traced = true)
        segmentGauges(c, root)
        c.op("forceMerge")(t.span("index.compact")(IndexBuilder.forceMerge(c.spark, root, c.parts)))
        bytesRewritten(c, root)
      }
    } finally t.active = false
  }

  /** Bytes the last compaction wrote per byte the writes since the bulk
    * build added. */
  private def bytesRewritten(c: Ctx, root: String): Unit = {
    SegmentStore.latest(root).foreach { m =>
      val merged = m.segments.filter(_.id.startsWith("seg_m")).lastOption
      val appendedBytes = java.nio.file.Files.list(java.nio.file.Paths.get(root))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.startsWith("seg_a"))
        .map(p => Main.treeBytes(p.toString)).sum
      merged.foreach { s =>
        val written = Main.treeBytes(s"$root/${s.id}")
        if (appendedBytes > 0) c.gauge("index.bytes_rewritten_per_byte_appended",
          written.toDouble / appendedBytes)
      }
    }
  }

  private def tokenizeRate(c: Ctx, rows: Array[TranscriptTurn]): Unit = {
    val texts = rows.take(2000).map(_.text)
    val bytes = texts.map(_.getBytes("UTF-8").length.toLong).sum
    var done = 0L
    var sink = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) {
      texts.foreach(x => sink += Analyzer.tokenize(x).size)
      done += bytes
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (sink >= 0) c.gauge("analysis.tokenize_mb_per_s", done / 1e6 / sec)
  }

  /** Dictionary lookup, term scores, candidates per result and WAND
    * block pruning for the sweep's queries. */
  private def searchLayers(c: Ctx, idx: InvertedIndex, mix: Vector[String]): Unit = {
    val t = c.trace
    mix.foreach { q =>
      val parsed = QueryParser.parse(q)
      val terms = termsOf(parsed)
      if (terms.nonEmpty) {
        c.op("dfOf")(t.span("search.dict_lookup")(new Searcher(idx).dfOf(terms)))
        val s = new Searcher(idx)
        c.op("termScores")(t.span("search.term_scores")(s.termScores(terms).count()))
          .foreach(n => c.gauge("search.postings_scored", n.toDouble))
      }
      val s = new Searcher(idx)
      for {
        cand <- c.op("score count")(t.span("search.candidates")(s.score(parsed).count()))
        got <- c.op("topK")(s.topK(parsed, c.k).count())
        if got > 0
      } c.gauge("search.candidates_per_result", cand.toDouble / got)
      parsed match {
        case BoolQ(Nil, should, Nil, _) if should.size > 1 && should.forall(_.isInstanceOf[TermQ]) =>
          val ts = should.collect { case TermQ(x) => x }
          c.op("Wand.pruneStats")(t.span("search.wand")(Wand.pruneStats(idx, ts, c.k)))
            .foreach { case (total, kept) =>
              if (total > 0) c.gauge("search.wand_blocks_kept_frac", kept.toDouble / total) }
        case _ =>
      }
    }
  }

  private def termsOf(q: Query): Set[String] = q match {
    case TermQ(x) => Set(x)
    case BoolQ(m, s, n, _) => (m ++ s ++ n).flatMap(termsOf).toSet
    case PhraseQ(ts, _) => ts.map(_._1).toSet
    case BoostQ(x, _) => termsOf(x)
    case _ => Set.empty
  }
}
