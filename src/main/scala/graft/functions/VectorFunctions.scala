package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column functions over `array<float>` columns, computed
  * in double precision via Catalyst higher-order functions (zip_with /
  * aggregate) — no UDF, no VectorUDT dependency, streaming-safe.
  *
  * The sequential left-fold of `aggregate` gives bit-reproducible sums for
  * a fixed element order, which is what makes the DuckDB oracle compare
  * exact for similarity thresholds.
  */
object VectorFunctions {

  def toDoubleVec(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd fused cosine (graft.expressions.CosineSimilarity): one
    * generated loop computing dot and both norms. Bit-identical to
    * `cosine` (same accumulation order), ~10× faster in O(n²) pair loops
    * because HOF lambdas evaluate interpreted. Prefer this in any join
    * hot path. */
  def cosineFast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftglue.GraftGlue
    GraftGlue.column(graft.expressions.CosineSimilarity(
      GraftGlue.expression(a), GraftGlue.expression(b)))
  }

  /** Fixed-point quantization of a float/double vector: round(v·scale) as
    * long, element-wise. One narrow pass per vector (the interpreted HOF
    * cost is amortized over the O(n·k·d·iters) integer distance loop it
    * enables); all downstream k-means arithmetic is exact integer math, so
    * centroids and assignments are bit-reproducible across partitionings
    * AND across engines (the DuckDB oracle re-derives them). */
  def toFixedVec(v: Column, scale: Double): Column =
    transform(v, x => round(x.cast("double") * scale).cast("long"))

  /** Codegen'd integer squared-L2 distance over fixed-point vectors
    * (graft.expressions.FixedSqDist) — the k-means hot loop. */
  def sqDistFixed(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftglue.GraftGlue
    GraftGlue.column(graft.expressions.FixedSqDist(
      GraftGlue.expression(a), GraftGlue.expression(b)))
  }

  /** Codegen'd element-wise difference of fixed-point vectors
    * (graft.expressions.FixedVecSub) — the IVF-PQ residual step, exact
    * integer math so residual codebooks stay oracle-hashable. */
  def vecSubFixed(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftglue.GraftGlue
    GraftGlue.column(graft.expressions.FixedVecSub(
      GraftGlue.expression(a), GraftGlue.expression(b)))
  }

  /** Sign-LSH bucket: an integer whose bit i is set iff v[offset+i] > 0,
    * over `bits` consecutive dimensions. A data-derived random-hyperplane
    * sketch (dimensions of a whitened embedding behave as random
    * projections); bucket-equality prunes candidate pairs by ~2^bits.
    * Different offsets give independent hash tables for OR-amplified
    * multi-table LSH (recall 1-(1-p^bits)^tables). */
  def signBucket(v: Column, bits: Int, offset: Int = 0): Column =
    // try_element_at: dimensions past the vector's end contribute 0
    // instead of throwing under ANSI mode (e.g. multi-table LSH asking
    // for more offset slices than the embedding has dims)
    aggregate(sequence(lit(1), lit(bits)), lit(0L),
      (acc, i) => acc + when(try_element_at(v, i + offset) > 0,
        pow(lit(2.0), i.cast("double") - 1).cast("long")).otherwise(lit(0L)))
}
