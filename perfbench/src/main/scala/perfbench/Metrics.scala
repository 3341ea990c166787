package perfbench

/** The printed metrics: end-to-end ones from untraced calls, per-layer
  * ones from the trace. Names and units match BENCHMARK.json. */
object Metrics {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def callRecord(x: Call): Map[String, Any] = Map("wall_ms" -> x.wallMs,
    "net_ms" -> x.netMs, "cpu_ms" -> x.cpuMs, "busy_ticks" -> x.busyTicks, "steal_ticks" -> x.stealTicks)

  def endToEnd(c: Ctx, o: Out, setupS: Double, host: Host): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("call_p50_ms", median(o.calls.map(_.netMs)), "ms"),
    ("items_per_s", o.items / (o.work.map(_.netMs).sum / 1000.0), "1/s"),
    ("retained_heap_mb", c.heapMarksMb.maxOption.getOrElse(Double.NaN), "MB"),
    ("index_bytes_per_text_byte",
      Main.storeBytes(o.storeRoot).toDouble / o.storeTextBytes, "B/B"))

  def perLayer(c: Ctx, o: Out, host: Host): Seq[(String, Double, String)] = {
    val t = c.trace
    def spanMed(name: String, scale: Double): Double =
      median(t.named(name).map(s => (s.endNs - s.startNs) / scale))
    def s(name: String): Double = spanMed(name, 1e9)
    def ms(name: String): Double = spanMed(name, 1e6)
    def g(name: String): Double = {
      val xs = c.gauges.getOrElse(name, Nil).toSeq
      if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    }
    def perSpan(name: String)(f: Trace.TagStats => Double): Double = {
      val ss = t.named(name)
      if (ss.isEmpty) Double.NaN else ss.map(x => f(t.stats(x))).sum / ss.size
    }
    def last(name: String)(f: Trace.TagStats => Double): Double =
      t.named(name).lastOption.map(x => f(t.stats(x))).getOrElse(Double.NaN)
    val overhead = median(o.traced.map(_.wallMs)) / median(o.calls.map(_.wallMs)) - 1.0
    Seq(
      ("index.assign_s", s("index.assign"), "s"),
      ("index.invert_encode_s", s("index.invert_encode"), "s"),
      ("index.dict_docs_write_s", s("index.dict_docs_write"), "s"),
      ("index.shuffle_write_bytes", last("index.build")(_.shuffleWrite.toDouble), "B"),
      ("index.spill_bytes", last("index.build")(_.spill.toDouble), "B"),
      ("index.task_skew", last("index.invert_encode")(_.skew), "ratio"),
      ("index.postings", g("index.postings"), "count"),
      ("index.blocks", g("index.blocks"), "count"),
      ("index.bytes_written", g("index.bytes_written"), "B"),
      ("index.open_ms", ms("index.open"), "ms"),
      ("index.segments_live", g("index.segments_live"), "count"),
      ("index.deleted_docs", g("index.deleted_docs"), "count"),
      ("index.append_s", s("index.append"), "s"),
      ("index.update_s", s("index.update"), "s"),
      ("index.delete_s", s("index.delete"), "s"),
      ("index.compact_s", s("index.compact"), "s"),
      ("index.bytes_rewritten_per_byte_appended",
        g("index.bytes_rewritten_per_byte_appended"), "ratio"),
      ("search.parse_ms", ms("search.parse"), "ms"),
      ("search.plan_ms", ms("search.plan"), "ms"),
      ("search.exec_ms", ms("search.exec"), "ms"),
      ("search.jobs_per_query", perSpan("search.query")(_.jobs.toDouble), "count"),
      ("search.tasks_per_query", perSpan("search.query")(_.tasks.toDouble), "count"),
      ("search.dict_lookup_ms", ms("search.dict_lookup"), "ms"),
      ("search.term_scores_s", s("search.term_scores"), "s"),
      ("search.postings_scored", g("search.postings_scored"), "count"),
      ("search.batch_shuffle_bytes", perSpan("search.batch")(_.shuffleWrite.toDouble), "B"),
      ("search.batch_task_skew", last("search.batch")(_.skew), "ratio"),
      ("search.scan_bytes_read", perSpan("search.batch")(_.bytesRead.toDouble), "B"),
      ("search.candidates_per_result", g("search.candidates_per_result"), "ratio"),
      ("search.wand_blocks_kept_frac", g("search.wand_blocks_kept_frac"), "ratio"),
      ("analysis.tokenize_mb_per_s", g("analysis.tokenize_mb_per_s"), "MB/s"),
      ("jvm.gc_ms", host.gcMs - c.forcedGcMs, "ms"),
      ("host.steal_frac", host.stealFrac, "ratio"),
      ("host.nproc", host.nproc.toDouble, "count"),
      ("trace.overhead_frac", overhead, "ratio"))
  }
}
