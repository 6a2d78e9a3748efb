package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column math over `array<double>` (embeddings), built from
  * Spark's higher-order functions (`zip_with` + `aggregate`) — codegen'd,
  * no UDFs. `aggregate` folds left sequentially, so a dot product is a
  * deterministic function of the array order (no reassociation), which the
  * oracle gate relies on.
  *
  * Cast float embeddings with `.cast("array<double>")` first: every float
  * widens exactly, after which all arithmetic is double on both engines.
  */
object Vectors {

  /** Codegen'd native loop ([[org.apache.spark.sql.graftx.DotProduct]]);
    * bit-identical to the composable `aggregate(zip_with(...))` fold but
    * ~100× cheaper per pair — the difference between an all-pairs
    * similarity join finishing or not.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftx.DotProduct.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null when either norm is zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b) / (norm(a) * norm(b))
    when(norm(a) > 0 && norm(b) > 0, d)
  }

  /** Cosine given precomputed norms (avoids recomputing per candidate pair
    * in a top-k join — the norms are computed once per row, not once per
    * pair: O(n·d) instead of O(n²·d) extra work).
    */
  def cosinePrenormed(dotAB: Column, normA: Column, normB: Column): Column =
    when(normA > 0 && normB > 0, dotAB / (normA * normB))
}
