package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>` columns using builtin
  * higher-order functions — codegen'd, no UDF, no MLlib dependency.
  * All accumulation is an explicit sequential double fold so results
  * are deterministic and reproducible in the DuckDB oracle.
  */
object Vectors {

  /** Cast array<float> → array<double> before any arithmetic: each
    * float widens exactly, and double accumulation keeps oracle parity.
    */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double arrays. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Fused-kernel variant over raw `array<float>` columns: resolves to
    * the native graft_dot expression (graft.plans.FusedDotProduct,
    * registered by GraftExtensions) — one multiply-add loop, no
    * intermediate products array, ~9× the HOF throughput at 200k rows.
    * Identical sequential accumulation ⇒ bit-equal to dot
    * above and to the DuckDB oracle folds.
    */
  def dotFused(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Exact integer dot over two `array<bigint>` columns → DECIMAL(38,0)
    * (graft.plans.DotDecimal): the array-local form of the exploded
    * `sum(CAST(a AS DECIMAL(38,0)) * b)` aggregate the embedding-audit
    * family scores with — long fast path, exact BigInteger fallback on
    * overflow, null on mismatch/null-element/38-digit overflow. */
  def dotDec(a: Column, b: Column): Column = call_function("graft_dot_dec", a, b)

  /** Declarative forms over raw `array<float>` columns: widen + HOF
    * fold — pure builtin Spark, runs correctly on ANY session. On a
    * session with GraftExtensions, `FuseDotProductRule` rewrites each
    * dot to the native kernel (bit-equal by construction), so query
    * modules write THESE and the session supplies the performance;
    * [[dotFused]] remains for callers that must fail loudly
    * when the extension is absent. */
  def dotDecl(a: Column, b: Column): Column = dot(toDouble(a), toDouble(b))
  def normDecl(a: Column): Column = sqrt(dotDecl(a, a))
  def cosineDecl(a: Column, b: Column): Column =
    dotDecl(a, b) / (normDecl(a) * normDecl(b))

  /** Sign-LSH bucket key: the sign bits of the first `bits` dimensions
    * as a '0'/'1' string (random-hyperplane LSH with coordinate-axis
    * planes). Vectors on the same side of all sampled axes share a
    * bucket; an equality join on the key replaces the all-pairs scan.
    * Engine-independent (string compare + float sign only).
    * try_element_at: a truncated vector must bucket as '0' bits (the
    * NULL comparison falls to the otherwise branch — same as DuckDB's
    * out-of-bounds NULL through CASE), not ANSI-crash the query.
    */
  def signKey(v: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(try_element_at(v, lit(i)) >= 0, lit("1")).otherwise(lit("0"))): _*)
}
