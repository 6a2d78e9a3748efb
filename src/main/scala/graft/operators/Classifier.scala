package graft.operators

import graft.functions.Exact.e9
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Model-based quality classification at corpus scale — the fastText-shape
  * path the round-7 verdict called out: a TRAINED linear scorer applied
  * scan-locally over hashed bag-of-words features (q103's featurizer),
  * distilled from a labeled subset (here: the q33 heuristic on the q61
  * train split) and graded downstream with the q120 confusion-matrix
  * evaluator.
  *
  * The model is multinomial Naive Bayes in log-odds form — the classic
  * closed-form linear text classifier (add-one smoothing; see e.g.
  * Manning et al., IIR ch.13): per feature dimension d,
  *
  *   w_d = ln((cnt⁺_d + 1)/(tot⁺ + D)) − ln((cnt⁻_d + 1)/(tot⁻ + D))
  *   b   = ln(n⁺_docs / n⁻_docs)
  *   score(doc) = b + Σ_d hits_d(doc) · w_d ,  predict ⊕ iff score > 0
  *
  * Why closed-form and not SGD: the fit is ONE distributed aggregate
  * (partial+final integer count sums — map-side combine, no iteration,
  * no driver-side gradient loop), and every input to every weight is an
  * exact integer, so the model is bit-reproducible on any engine — the
  * property that lets the whole train→apply path hash-gate.
  *
  * Determinism discipline (q78/q102 quantized-ln folds): each ln() is
  * computed ONCE per dimension from exact integer counts and quantized
  * to integer 1e-9 units ([[graft.functions.Exact.e9]]); the per-document
  * score is then a pure integer dot product — associative, order-free, exact.
  *
  * 100 TB shape: the fit aggregates the train slice down to a ≤D-row
  * weight table (D = hash dims, bounded by construction); apply is that
  * table BROADCAST onto one scan of the feature stream + a per-doc
  * partial+final integer sum. The corpus is never shuffled by the model;
  * the only corpus-wide exchange is the (doc, dim) feature aggregation
  * the featurizer itself pays.
  */
object Classifier {

  /** Fit a NB log-odds scorer on `feats` rows whose doc is in `trainIds`,
    * then score EVERY doc in `docs`.
    *
    * @param docs     (doc_id) — one row per corpus document
    * @param feats    (doc_id, dim, n_hits) — hashed BoW counts (q103 shape)
    * @param labels   (doc_id, label: boolean) — training target
    * @param trainIds (doc_id) — the labeled subset to fit on; must contain
    *                 at least one positive and one negative doc
    * @param dims     hash-space size D (smoothing denominator)
    * @return (doc_id, label, in_train, score_e9, predicted) — score in
    *         integer 1e-9 ln-units; all-exact, hash-gateable
    */
  def nbLogOddsScore(docs: DataFrame, featsRaw: DataFrame, labels: DataFrame,
                     trainIds: DataFrame, dims: Int): DataFrame = {
    // the feature frame feeds FOUR consumers (doc totals, dim spine,
    // train counts, apply-time dot product) — materialize it once or
    // every branch re-runs the featurizer's corpus scan + aggregation
    // (the q119/q35 miner discipline; the frame is ≤ dims rows per doc,
    // far smaller than the corpus)
    val feats = graft.core.Materialize.cut(featsRaw, "classifier_feats")
    val train = feats
      .join(trainIds.select(col("doc_id")), Seq("doc_id"))
      .join(labels, Seq("doc_id"))
    // one aggregate per dimension: positive/negative hit mass (integers).
    // The spine is every dim observed in the CORPUS, not just the train
    // slice — a dim unseen in training still gets its smoothed weight
    // ln(1/(tot+D)) rather than silently dropping its hits at apply time.
    val trainCounts = train.groupBy(col("dim")).agg(
      sum(when(col("label"), col("n_hits")).otherwise(lit(0L))).as("cp0"),
      sum(when(!col("label"), col("n_hits")).otherwise(lit(0L))).as("cn0"))
    val dimCounts = feats.select(col("dim")).distinct()
      .join(trainCounts, Seq("dim"), "left")
      .select(col("dim"),
              coalesce(col("cp0"), lit(0L)).as("cp"),
              coalesce(col("cn0"), lit(0L)).as("cn"))
    // class totals + doc counts: ONE row (exact integer sums). totals
    // feeds the weight table, the bias AND the precondition check below —
    // cut the 1-row frame so the train-slice aggregation runs exactly once
    val totals = graft.core.Materialize.cutLocal(trainIds.join(labels, Seq("doc_id"))
      .join(feats.groupBy(col("doc_id")).agg(sum(col("n_hits")).as("doc_hits")),
            Seq("doc_id"), "left")
      .agg(
        sum(when(col("label"), coalesce(col("doc_hits"), lit(0L))).otherwise(lit(0L))).as("tp"),
        sum(when(!col("label"), coalesce(col("doc_hits"), lit(0L))).otherwise(lit(0L))).as("tn"),
        sum(when(col("label"), 1L).otherwise(0L)).as("npos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("nneg")))
    // The fit REQUIRES at least one positive and one negative train doc:
    // with zero of either, bias_q = e9(ln(npos/nneg)) would silently become
    // floor(±Infinity) → Long.MIN/MAX on the Spark side while the DuckDB
    // oracle ERRORS on the Infinity cast — a divergent failure instead
    // of a loud one. totals is one row, so the check is free.
    val totalsRow = totals.head()
    def classCount(f: String): Long = {
      val i = totalsRow.fieldIndex(f)
      if (totalsRow.isNullAt(i)) 0L else totalsRow.getLong(i)
    }
    require(classCount("npos") >= 1 && classCount("nneg") >= 1,
      s"Classifier.fit needs >=1 positive and >=1 negative labeled train doc; " +
        s"got npos=${classCount("npos")} nneg=${classCount("nneg")}")
    // ≤D-row weight table: quantized log-odds per dimension
    val weights = dimCounts.crossJoin(broadcast(totals))
      .select(col("dim"),
        (e9(log((col("cp") + 1).cast("double") / (col("tp") + dims).cast("double"))) -
         e9(log((col("cn") + 1).cast("double") / (col("tn") + dims).cast("double"))))
          .as("wq"))
    val bias = totals.select(
      e9(log(col("npos").cast("double") / col("nneg").cast("double"))).as("bias_q"))
    // apply: broadcast weights onto the feature stream, integer dot product
    val dot = feats.join(broadcast(weights), Seq("dim"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_hits") * col("wq")).as("dot_q"))
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .join(trainIds.select(col("doc_id"), lit(true).as("in_train")),
            Seq("doc_id"), "left")
      .join(dot, Seq("doc_id"), "left")
      .crossJoin(broadcast(bias))
      .select(col("doc_id"), col("label"),
              coalesce(col("in_train"), lit(false)).as("in_train"),
              (coalesce(col("dot_q"), lit(0L)) + col("bias_q")).as("score_e9"))
      .withColumn("predicted", col("score_e9") > 0)
  }

  /** The confusion matrix of `rows` by (`actual`, `predicted`): each
    * cell's n_docs with its row and column marginals (n_labeled,
    * n_predicted) and the recall and precision components n_docs over
    * each; a diagonal cell's components are its class recall and
    * precision. The ≤ |classes|² cell counts are cut, so the two
    * marginals do not re-scan `rows`, and the marginals join back by
    * broadcast.
    */
  def confusion(rows: DataFrame, actual: String, predicted: String): DataFrame = {
    val cells = graft.core.Materialize.cutLocal(rows
      .groupBy(col(actual), col(predicted))
      .agg(count(lit(1)).as("n_docs"))) // ≤|classes|² rows, consumed by 3 margins below
    val rt = cells.groupBy(col(actual)).agg(sum(col("n_docs")).as("n_labeled"))
    val ct = cells.groupBy(col(predicted)).agg(sum(col("n_docs")).as("n_predicted"))
    cells.join(broadcast(rt), Seq(actual))
      .join(broadcast(ct), Seq(predicted))
      .select(col(actual), col(predicted), col("n_docs"),
              col("n_labeled"), col("n_predicted"),
              (col("n_docs").cast(DoubleType) / col("n_labeled").cast(DoubleType))
                .as("recall_component"),
              (col("n_docs").cast(DoubleType) / col("n_predicted").cast(DoubleType))
                .as("precision_component"))
  }
}
