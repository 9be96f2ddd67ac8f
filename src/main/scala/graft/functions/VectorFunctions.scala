package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>` columns, built from Spark's
  * codegen'd higher-order functions (no UDFs in the hot path).
  *
  * Mirrors the reference's cosine-space retrieval (log-vector
  * `index.py:434` declares `{"hnsw:space":"cosine"}`;
  * `ask.py:200-203` consumes ascending cosine distance).
  *
  * Determinism contract (DuckDB-oracle parity): every fold is a
  * sequential left-to-right accumulation in DOUBLE precision, the
  * same order DuckDB's `list_sum(list_transform(...))` uses, so
  * results are bit-identical across engines before rounding.
  */
object VectorFunctions {

  /** Sequential-fold dot product in double precision — native
    * codegen'd `FloatDotProduct` (no per-row array allocation). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.FloatVectorFunctions.floatDot(a, b)

  /** Reference HOF form of [[dot]] — kept as the executable spec the
    * native expression is asserted bit-identical against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** L2 norm, sequential fold in double precision. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; NULL when either vector has zero norm
    * (`try_divide` under Spark 4 ANSI mode — callers exclude NULL
    * per SURVEY quirk Q4 fix). */
  def cosineSim(a: Column, b: Column): Column =
    try_divide(dot(a, b), l2norm(a) * l2norm(b))

  /** Cosine distance = 1 − similarity (reference's retrieval key) —
    * fused single-pass native expression; NULL for zero-norm inputs
    * exactly like the composed `1 - try_divide(...)` form it
    * replaces (bit-parity asserted in VectorFunctionsSpec). */
  def cosineDist(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.FloatVectorFunctions.floatCosineDistance(a, b)

  /** Composed reference form of [[cosineDist]] (executable spec). */
  def cosineDistHof(a: Column, b: Column): Column =
    lit(1.0) - cosineSim(a, b)

  /** Oracle-safe rounding: 6 decimals, then `+ 0.0` to collapse
    * IEEE `-0.0` to `+0.0` (DuckDB's round can emit -0.0 where
    * Spark emits 0.0; the driver hash-compares bit patterns). */
  def r6(c: Column): Column = round(c, 6) + lit(0.0)
}
