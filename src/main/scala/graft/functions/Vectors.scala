package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector kernels over Array[Float]/Array[Double] columns. The dot product
  * is a native codegen'd Catalyst expression (graft.expressions.DotProduct)
  * with left-to-right accumulation — bit-identical to the higher-order
  * `aggregate(zip_with(...))` encoding and to DuckDB's list_inner_product,
  * but a tight compiled loop instead of two lambdas per element.
  * No UDF, no driver-side math.
  */
object Vectors {

  /** Cast an Array[Float] column to Array[Double] for stable math. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Σ aᵢ·bᵢ in index order (native codegen kernel). */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.dot(a, b)

  /** ‖v‖₂ */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Banded hyperplane-LSH band codes (native codegen kernel):
    * array of `bands` Longs, each packing `bits` sign bits.
    */
  def hyperplaneBands(v: Column, seed: Long, bands: Int, bits: Int): Column =
    graft.expressions.VectorExpressions.hyperplaneSig(v, seed, bands, bits)

  /** Argmax-cosine centroid id against a driver-local codebook (native
    * codegen kernel) — IVF coarse assignment as a narrow projection,
    * no join, no Exchange. `cents` is the row-major flattened k×dim
    * centroid matrix aligned with `cids`/`cnorms`.
    */
  def nearestCentroid(v: Column, cids: Array[Long], cents: Array[Double],
      cnorms: Array[Double]): Column =
    graft.expressions.VectorExpressions.nearestCentroid(v, cids, cents, cnorms)

  /** Top-p centroid ids by cosine, rank-ordered (multi-probe assignment
    * for the k-NN graph build) — element 0 equals [[nearestCentroid]].
    */
  def nearestCentroids(v: Column, cids: Array[Long], cents: Array[Double],
      cnorms: Array[Double], p: Int): Column =
    graft.expressions.VectorExpressions.nearestCentroids(v, cids, cents, cnorms, p)

  /** Packed 64-bit product-quantization code (native codegen kernel):
    * m subspaces, ksub sub-centroids each, nearest-L2 assignment per
    * subspace, 8 bits per code field. `cents` is the flat [m][ksub][dsub]
    * sub-codebook matrix.
    */
  def pqEncode(v: Column, cents: Array[Double], m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expressions.PqEncode(
      ColumnBridge.expression(v), cents, m, ksub))
  }

  /** Per-query ADC lookup table (m·ksub inner products with every
    * sub-centroid) — built once per query row, then every corpus code
    * scores with m adds ([[pqAdc]]).
    */
  def pqLut(q: Column, cents: Array[Double], m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expressions.PqLut(
      ColumnBridge.expression(q), cents, m, ksub))
  }

  /** Asymmetric-distance score Σ_s lut[s·ksub + code_s] ≈ ⟨q, x⟩. */
  def pqAdc(code: Column, lut: Column, m: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expressions.PqAdc(
      ColumnBridge.expression(code), ColumnBridge.expression(lut), m))
  }
}
