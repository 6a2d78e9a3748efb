package graft

import graft.functions.Text
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The composable-built-ins forms of the engine's native text and vector
  * expressions: the reference semantics each native form must match, which
  * TextSpec and SimilaritySpec assert. Only those specs use them; the
  * engine calls the native forms.
  */
object ReferenceForms {

  /** [[Text.shingles]] from `slice` + `zip_with` + `array_distinct`: ~40×
    * slower, since HOFs evaluate interpreted with intermediate arrays per
    * step. `zip_with` over shifted slices, not indexing inside a
    * `transform` lambda, which would re-run `split` per element.
    */
  def shinglesComposable(text: Column, n: Int = 3): Column = {
    val toks = Text.tokens(text)
    val m    = greatest(size(toks) - (n - 1), lit(0))
    val base = slice(toks, lit(1), m)
    val grams = (1 until n).foldLeft(base) { (acc, o) =>
      zip_with(acc, slice(toks, lit(1 + o), m), (a, b) => concat(a, lit(" "), b))
    }
    when(size(toks) >= n, array_distinct(grams)).otherwise(array().cast("array<string>"))
  }

  /** [[Text.wordListHits]] from `filter` + `array_contains`. */
  def wordListHitsComposable(toks: Column, words: Seq[String]): Column = {
    val w = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(w, t))).cast(LongType)
  }

  /** [[graft.functions.Vectors.dot]] as the `aggregate(zip_with(...))`
    * left fold.
    */
  def dotComposable(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
}
