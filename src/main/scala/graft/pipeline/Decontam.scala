package graft.pipeline

import graft.agg.GraftFunctions._
import graft.pipeline.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Train/eval decontamination — the curation step every LLM training
 * pipeline runs before the data ships: find (and drop) training
 * documents that share word n-grams with a protected evaluation set,
 * so benchmark answers don't leak into the training corpus.
 *
 * This is the reference's production pattern (a bloom filter guarding
 * an expensive lookup, `csrc/bloomd` served exactly this shape) as a
 * first-class relational operator:
 *
 *   1. the PROTECTED set is summarized once: distinct eval n-grams →
 *      one scalable-bloom sketch (`sbf_agg`, so the summary sizes
 *      itself to the eval corpus — no capacity guess);
 *   2. the training side explodes to n-grams and probes the sketch
 *      through a broadcast handle (`sbf_contains` over `sketch_ref`,
 *      codegen'd, row-local — ships once per executor, NO join against
 *      the full eval inventory and no shuffle of the clean majority);
 *   3. only the surviving candidates (true overlaps + the sketch's
 *      ~p false positives) reach the exact semi-join verify, which
 *      kills the false positives.
 *
 * Bloom filters have no false negatives, so the result is EXACT —
 * identical to the plain n-gram intersection the oracle computes —
 * while the expensive exchange handles only the contaminated
 * fraction. At 10^12 training sequences the prefilter is the whole
 * game: the eval set (and its sketch) is tiny and fixed, the training
 * scan is embarrassingly parallel, and the verify join's input is
 * proportional to actual contamination, not corpus size.
 */
object Decontam {

  /** Per-training-doc overlap with the eval set, as
    * (doc_id, n_overlap, keep): `n_overlap` = distinct word n-grams
    * shared with ANY eval document, keep = n_overlap <= maxOverlap.
    * Exact by construction (see class doc). */
  def overlap(train: DataFrame, test: DataFrame, n: Int = 3,
              maxOverlap: Long = 0, initialCapacity: Long = 100000L,
              p: Double = 1e-4): DataFrame = {
    def sh(d: DataFrame) = d.select(
      col("doc_id").cast("long").as("doc_id"),
      shingles(words(col("text")), n).as("sh"))
    // the eval gram set is read twice — by the sketch build (an eager
    // driver action) and by the exact verify semi-join — materialize
    // it once (the streaming operator stages the same side to scratch
    // parquet for the same reason)
    val testG = evalGrams(test, n).localCheckpoint(true)
    scrubShingled(sh(train), evalSketch(testG, initialCapacity, p), testG, maxOverlap)
  }

  /** The protected set's distinct n-grams. */
  def evalGrams(test: DataFrame, n: Int = 3): DataFrame =
    test.select(explode(shingles(words(col("text")), n)).as("g")).distinct()

  /** The eval summary: one scalable-bloom over the distinct eval
    * n-grams. One small driver round-trip for the sketch BYTES (not
    * row data), broadcast once; probe plans read it through the
    * returned handle ([[graft.agg.SketchRef]]), like q_bloom_prejoin. */
  def evalSketch(evalGramsDf: DataFrame, initialCapacity: Long = 100000L,
                 p: Double = 1e-4): Column =
    sketch_ref(evalGramsDf.sparkSession, evalGramsDf
      .agg(sbf_agg(col("g"), initialCapacity, p, 4, 0.9).as("s"))
      .head().getAs[Array[Byte]]("s"))

  /** The scrub core SHARED by the batch and streaming operators (the
    * keep rule must stay answer-identical between them): shingled
    * docs (doc_id, sh) -> (doc_id, n_overlap, keep) via sketch
    * prefilter, exact semi-join verify, per-doc distinct counts. */
  private[graft] def scrubShingled(docsSh: DataFrame, sketch: Column,
                                   evalGramsDf: DataFrame, maxOverlap: Long): DataFrame = {
    val counts = docsSh
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .filter(sbf_contains(sketch, col("g")))
      .join(evalGramsDf, Seq("g"), "left_semi") // exact verify: FPs die here
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_overlap"))
    // NO distinct: one output row per input doc row (a duplicated
    // doc_id stays duplicated — exactly what the oracle's plain
    // left join replays), and no aggregation exchange over every id
    docsSh.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) <= maxOverlap).as("keep"))
  }

  /** The kept training documents (doc_id, text, ...): overlap() as a
    * filter — the composable form `Curation`-style pipelines chain. */
  def decontaminate(train: DataFrame, test: DataFrame, n: Int = 3,
                    maxOverlap: Long = 0): DataFrame = {
    val kept = overlap(train, test, n, maxOverlap)
      .filter(col("keep")).select(col("doc_id").as("kept_id"))
    train.join(kept, train("doc_id").cast("long") === kept("kept_id"), "left_semi")
  }
}
