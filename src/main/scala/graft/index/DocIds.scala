package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** Dense docID assignment over a stable key ordering.
  *
  * Reference analog: per-segment dense int docIDs assigned in arrival
  * order (/root/reference/src/core/Index/DocumentsWriter.cs:103-137),
  * re-based on merge. Ours are assigned by the stable (conv_id, turn_idx)
  * global order (north rule).
  *
  * Scale note: a naive `row_number() OVER (ORDER BY ...)` collapses the
  * whole table into ONE partition — a non-starter at 10^12 rows. Instead:
  * range-shuffle on the key (globally ordered partition ranges), count
  * rows per partition (tiny agg → driver), then add each row's partition
  * offset, looked up in a literal array, to its partition-local index.
  * The local index comes from monotonically_increasing_id (partition
  * ordinal in the upper bits, consecutive row ordinal in the low 33) —
  * everything stays in Tungsten rows / codegen, no per-row Row
  * materialization.
  */
object DocIds {

  private val MonoMask = (1L << 33) - 1

  /** Assigned docids + total row count + the handle of the pinned inner
    * dataset. Callers MUST call release() once every downstream consumer
    * of `docs` has materialized (unpersisting only a DERIVED DataFrame
    * is a no-op on the inner cache — each un-released assign() would
    * leak one pinned dataset per call, unbounded under a streaming
    * sink). `total` comes free from the offsets pass — callers need no
    * count() job of their own. */
  final case class Assigned(docs: DataFrame, total: Long, release: () => Unit)

  def assign(df: DataFrame, keys: Seq[Column], numPartitions: Int): Assigned = {
    val spark = df.sparkSession
    // ONE materialization: the sorted, range-shuffled base with
    // partition-local ranks is pinned; the counts job below both
    // populates that cache and yields the per-partition offsets.
    // Pinning matters for correctness, not just speed: a recompute of
    // the range shuffle would re-sample partition bounds (the sampler
    // seed depends on the physical plan instance) and could disagree
    // with the counts pass — docids must come from exactly ONE
    // partitioning.
    //
    // Two pinning strategies:
    //  - DISK_ONLY persist (default): serialized columnar cache on the
    //    executors' local dirs; survives executor loss via recompute of
    //    OTHER cached data — the multi-executor-cluster-safe choice.
    //  - localCheckpoint (spark.graft.assign.localCheckpoint=true): pins
    //    raw rows without the columnar-cache build (~40% cheaper here);
    //    lost blocks are NOT recomputable, so this is for single-JVM
    //    runs (bench) — a whole-job retry is covered by the segment
    //    resume path anyway.
    val sorted = df
      .repartitionByRange(numPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lrank",
        monotonically_increasing_id().bitwiseAND(lit(MonoMask)))
    val useLc = spark.conf
      .getOption("spark.graft.assign.localCheckpoint").contains("true")
    val (marked, release) =
      if (useLc) {
        val lc = sorted.localCheckpoint(true)
        // the checkpointed RDD is unpersisted by the ContextCleaner once
        // the plan becomes unreachable
        (lc, () => ())
      } else {
        val p = sorted.persist(StorageLevel.DISK_ONLY)
        (p, () => { p.unpersist(blocking = false); () })
      }
    // one count per range partition; driver-side scan is O(numPartitions)
    val counts = marked.groupBy(col("__pid")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets =
      (0 until numPartitions).map(counts.getOrElse(_, 0L)).scanLeft(0L)(_ + _)
    // docid = the partition's offset, looked up by __pid in a literal
    // array, + the local rank: a LAZY projection over the pinned base
    val out = marked
      .withColumn("docid", element_at(typedLit(offsets.dropRight(1).toArray),
        col("__pid") + 1) + col("__lrank"))
      .select(col("docid") +: df.columns.map(col): _*)
    Assigned(out, counts.values.sum, release)
  }

  /** Small-data variant (tests / oracle parity checks): the classic
    * single-partition window — correct, not scalable. */
  def assignWindow(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.withColumn("docid",
      row_number().over(Window.orderBy(keys: _*)).cast("long") - 1L)
      .select(col("docid") +: df.columns.map(col).toSeq: _*)
}
