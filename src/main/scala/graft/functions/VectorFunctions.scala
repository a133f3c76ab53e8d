package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, built from
  * codegen'd higher-order functions (`zip_with` / `aggregate`) — no UDFs,
  * so whole-stage codegen keeps the similarity hot loop fused with the
  * surrounding scan/join.
  *
  * All math is done in double precision regardless of the storage type
  * (parquet embeddings are float32): sequential left-to-right summation,
  * which makes results reproducible across engines for oracle checks.
  */
object VectorFunctions {

  private def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    // cosine(0, x) := 0, matching [[graft.plans.CosineSimilarity]] —
    // 0/0 = NaN would ride Spark's NaN-is-greatest comparisons past
    // every threshold (embeddings-fuzz catch)
    when(dot(a, a) === 0.0 || dot(b, b) === 0.0, lit(0.0))
      .otherwise(dot(a, b) / (norm(a) * norm(b)))

  /** Native-Expression cosine ([[graft.plans.CosineSimilarity]], fused
    * codegen loop, bit-identical to [[cosine]]). Requires the
    * `graft_cosine` function registered — [[graft.GraftSession]] does —
    * fall back to [[cosine]] in vanilla sessions.
    */
  def cosineNative(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Native L2-normalize to `array<double>` ([[graft.plans.L2Normalize]]
    * — fused two-pass loop, zero vector → zeros). Registered by
    * GraftSession as `graft_l2norm`.
    */
  def l2Normalize(v: Column): Column = call_function("graft_l2norm", v)

  /** Native symmetric int8 quantization to `struct(scale, q)`
    * ([[graft.plans.QuantizeInt8]]): `scale = 127/max|x|`,
    * `q_i = clamp(round_half_away(x_i*scale), ±127)`. Registered by
    * GraftSession as `graft_quantize_i8`.
    */
  def quantizeInt8(v: Column): Column = call_function("graft_quantize_i8", v)

  /** Euclidean (L2) distance. */
  def l2(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))
}
