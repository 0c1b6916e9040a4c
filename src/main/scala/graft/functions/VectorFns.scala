package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT/DOUBLE>` embedding columns. The dot
  * product is a native codegen'd Catalyst expression
  * ([[graft.plans.DotProduct]] — a tight primitive loop inside whole-stage
  * codegen), registered on the session by [[graft.GraftSession.tune]]
  * (which every session from `GraftSession.get` has been through). Sums fold left-to-right in
  * array order, matching DuckDB's list functions, which keeps cosine
  * values engine-portable bit-for-bit.
  */
object VectorFns {

  /** Cast a float array to double before arithmetic (float inputs are
    * exactly representable; all math then happens in double). */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine as dot/(‖a‖·‖b‖). When norms are precomputed per row (the
    * batch-efficient shape), prefer `dot(a,b) / (na * nb)` directly. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The ZERO-NORM convention, one definition for every cosine operator:
    * a zero embedding carries no direction, so it participates in no
    * similarity result — filtered out of pair/candidate generation
    * (cluster-shaped outputs still list it, as a singleton). Without the
    * guard the norm product is 0 and ANSI mode turns the first zero
    * vector in a real corpus into a DIVIDE_BY_ZERO crash (found by
    * tools/fuzz_oracle.py, which plants one). The oracles filter with
    * the same test, `list_dot_product(e, e) > 0`. */
  def nonZero(e: Column): Column = dot(e, e) > 0
}
