package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Embedding compression for vector stores: symmetric per-vector int8
  * quantization — the standard 4× shrink applied before a 100 TB
  * embedding corpus goes into an ANN index (each float32 → one signed
  * byte plus one float scale per vector). No reference implementation
  * (SURVEY.md §7.4 LLM-pipeline category).
  *
  * Semantics (symmetric absmax, the faiss/ScaNN default):
  *   scale = max_i |v_i| / 127;  q_i = round(v_i / scale) ∈ [-127, 127];
  *   dequant error |q_i·scale − v_i| ≤ scale/2.
  * A zero vector has scale 0 and quantizes to all zeros (error 0) — the
  * degenerate case is defined, not NaN (division guarded).
  *
  * Everything is pure map-side Column expressions over the array — no
  * shuffle, no UDF; arithmetic is forced to double BEFORE any op so the
  * result is engine-portable (float32 intermediates would diverge from
  * any oracle computing in double).
  */
object Quantize {

  private def asDouble(vec: Column): Column = transform(vec, _.cast("double"))

  /** max_i |v_i| / 127 (0.0 for an all-zero or empty vector). */
  def absmaxScale(vec: Column): Column =
    coalesce(array_max(transform(asDouble(vec), x => abs(x))), lit(0.0)) / 127.0

  /** Signed-byte codes: round-half-up(v_i / scale), all zeros when scale=0. */
  def quantizeInt8(vec: Column): Column = {
    val s = absmaxScale(vec)
    transform(asDouble(vec), x =>
      when(s === 0.0, lit(0)).otherwise(round(x / s)).cast("int"))
  }

  /** Largest |dequant − original| over the vector (0.0 when empty). */
  def maxAbsError(vec: Column): Column = {
    val s = absmaxScale(vec)
    coalesce(array_max(zip_with(quantizeInt8(vec), asDouble(vec),
      (q, x) => abs(q.cast("double") * s - x))), lit(0.0))
  }

  /** Quantization report: (id, scale, q_sum, q_l1, max_err) — the codes
    * reduced to portable scalars (sum + L1 norm pin every element's value
    * tightly enough for an engine-vs-oracle hash compare without shipping
    * the int array through a string format). Runs on the fused native
    * kernel ([[graft.expressions.QuantizeInt8Stats]]): one JIT'd scan
    * instead of 4 interpreted higher-order lambdas that each re-evaluate
    * the embedded `array_max` scale per element. QuantizeSpec pins
    * kernel ≡ declarative on random vectors.
    */
  def quantizeReport(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    df.select(col(idCol), GraftFunctions.call("quantize_int8_stats", col(vecCol)).as("__q"))
      .select(col(idCol), col("__q.scale").as("scale"), col("__q.q_sum").as("q_sum"),
        col("__q.q_l1").as("q_l1"), col("__q.max_err").as("max_err"))
  }

  /** The declarative form of [[quantizeReport]] — higher-order Column
    * expressions only, kept as the kernel's executable specification.
    * The scale is staged as a projected column so it is
    * computed once per row, not once per element inside each lambda.
    */
  def quantizeReportDeclarative(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val staged = df.select(col(idCol), asDouble(col(vecCol)).as("__v"),
      absmaxScale(col(vecCol)).as("scale"))
    val s = col("scale")
    val q = transform(col("__v"), x =>
      when(s === 0.0, lit(0)).otherwise(round(x / s)).cast("int"))
    staged.select(col(idCol), s,
      aggregate(q, lit(0L), (acc, x) => acc + x.cast("long")).as("q_sum"),
      aggregate(q, lit(0L), (acc, x) => acc + abs(x.cast("long"))).as("q_l1"),
      coalesce(array_max(zip_with(q, col("__v"),
        (qi, x) => abs(qi.cast("double") * s - x))), lit(0.0)).as("max_err"))
  }
}
