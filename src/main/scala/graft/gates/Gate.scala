package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One driver-contract gate (SURVEY.md §7): `build` runs the operator
 * over the parquet tables in a scale-factor directory, and `oracle`,
 * where SQL can state the answer, is the DuckDB query over the same
 * tables that the result must equal row for row.
 *
 * Oracle philosophy: every deterministic value (ids, counts, hashes,
 * metadata, double-precision similarity computed with an identical
 * left-fold) is re-derived independently by DuckDB; probabilistic
 * internals (LSH bucketing, SimHash bands) are verified through their
 * CONTRACT — the verified output pairs equal the exact-similarity
 * pairs — plus boolean invariants computed Spark-side. Sketch gates
 * expose their probabilistic guarantees as BOOLEAN columns (no false
 * negatives, fp within bound, estimate within published error), so
 * the oracle can assert them exactly.
 */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Every gate, one file per operator family. */
object Gates {
  val all: Seq[Gate] =
    SketchGates.all ++ CatalogGates.all ++ RelationalGates.all ++ TextGates.all ++
      DedupGates.all ++ CurationGates.all ++ LayoutGates.all ++ SearchGates.all ++
      MultimodalGates.all ++ StreamingGates.all ++ TemporalGates.all
}
