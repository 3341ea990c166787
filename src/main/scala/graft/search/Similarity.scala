package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pluggable scoring strategy — the reference exposes tf / idf /
  * length-norm / coord / sloppy-freq as an overridable `Similarity`
  * (/root/reference/src/core/Search/Similarity.cs:398-503) selected per
  * searcher. The Searcher composes those slots as Catalyst column
  * expressions where a plan scores postings (term queries, multi-term
  * rewrites, MLT) and as their scalar twins in its per-doc folds
  * (booleans, DisMax, phrases, spans, payloads); swapping the strategy
  * swaps every scoring site at once.
  *
  * Two published instances:
  *   - [[Bm25Sim]] — the engine default (SURVEY §1.1 chose BM25 over the
  *     reference's TF-IDF; formulas in [[Bm25]]). No coord — BM25-era
  *     Lucene drops it.
  *   - [[ClassicSim]] — the reference's DefaultSimilarity
  *     (/root/reference/src/core/Search/DefaultSimilarity.cs:40-85):
  *     tf = sqrt(freq), idf = 1 + ln(N/(df+1)), lengthNorm = 1/sqrt(len),
  *     coord = overlap/maxOverlap. Two documented deviations, both
  *     rank-preserving: queryNorm (1/sqrt(sum of squared weights),
  *     Similarity.cs:442-460) is dropped — it rescales every hit of a
  *     query by the same constant and cannot reorder anything (modern
  *     Lucene removed it for the same reason) — and the length norm uses
  *     the exact integer length, not the SmallFloat byte (the codec
  *     itself lives in [[graft.index.SmallFloat]]; same exact-length
  *     decision as BM25, SURVEY §1.1).
  *
  * Serializable: the Searcher's per-doc folds run the scalar twins
  * ([[tfNormD]], [[coordD]]) in tasks.
  */
trait Similarity extends Serializable {

  /** Per-term inverse document frequency (driver-side, for weights
    * folded into literals). */
  def idf(numDocs: Long, df: Long): Double

  /** Column twin of [[idf]] for in-plan df columns. */
  def idfCol(numDocs: Long, df: Column): Column

  /** Term-frequency × length-norm factor. `tf` may be fractional
    * (sloppy-phrase freq = sum 1/(distance+1), SloppyPhraseScorer.cs /
    * DefaultSimilarity.cs:69). */
  def tfNorm(tf: Column, len: Column, avgdl: Double): Column

  /** Full per-posting partial score. */
  final def score(numDocs: Long, avgdl: Double, df: Column, tf: Column,
      len: Column): Column =
    idfCol(numDocs, df) * tfNorm(tf, len, avgdl)

  /** Boolean overlap multiplier (DefaultSimilarity.Coord:81). Identity
    * under BM25 — kept OUT of the plan entirely then, so the default
    * strategy's physical plans are byte-identical to the pre-strategy
    * engine. */
  def applyCoord(score: Column, overlap: Column, maxOverlap: Int): Column

  /** Scalar twin of [[tfNorm]] for the plain-Scala evaluators (the
    * MemoryIndex single-doc scorer, the Searcher's per-doc folds) — MUST
    * mirror the column form's operand order exactly. */
  def tfNormD(tf: Double, len: Long, avgdl: Double): Double

  /** Scalar twin of [[applyCoord]] (same evaluators). */
  def coordD(overlap: Int, maxOverlap: Int): Double
}

/** BM25 (k1=1.2, b=0.75) — the engine default; formulas in [[Bm25]]. */
object Bm25Sim extends Similarity {
  def idf(numDocs: Long, df: Long): Double = Bm25.idf(numDocs, df)
  def idfCol(numDocs: Long, df: Column): Column = Bm25.idfCol(numDocs, df)
  def tfNorm(tf: Column, len: Column, avgdl: Double): Column =
    Bm25.tfNorm(tf, len, avgdl)
  def applyCoord(score: Column, overlap: Column, maxOverlap: Int): Column =
    score
  def tfNormD(tf: Double, len: Long, avgdl: Double): Double =
    (tf * (Bm25.K1 + 1)) /
      (tf + Bm25.K1 * (1.0 - Bm25.B + Bm25.B * len / avgdl))
  def coordD(overlap: Int, maxOverlap: Int): Double = 1.0
}

/** The reference's DefaultSimilarity (classic TF-IDF). Operand order is
  * kept identical to the DuckDB oracle SQL (graft.OracleSql /
  * SparkEntry ft_classic_* gates) so both engines produce the same
  * doubles bar 1-ulp libm differences. */
object ClassicSim extends Similarity {
  def idf(numDocs: Long, df: Long): Double =
    1.0 + math.log(numDocs.toDouble / (df + 1))
  def idfCol(numDocs: Long, df: Column): Column =
    lit(1.0) + log(lit(numDocs.toDouble) / (df + lit(1)))
  /** sqrt(tf) × 1/sqrt(len); avgdl unused (classic norms are
    * collection-independent). */
  def tfNorm(tf: Column, len: Column, avgdl: Double): Column =
    sqrt(tf) * (lit(1.0) / sqrt(len))
  def applyCoord(score: Column, overlap: Column, maxOverlap: Int): Column =
    score * (overlap.cast("double") / lit(maxOverlap.toDouble))
  def tfNormD(tf: Double, len: Long, avgdl: Double): Double =
    math.sqrt(tf) * (1.0 / math.sqrt(len.toDouble))
  def coordD(overlap: Int, maxOverlap: Int): Double =
    overlap.toDouble / maxOverlap.toDouble
}
