package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Precision/recall of a found `(a_id, b_id)` list against an exact
  * truth list on the same corpus — the score row shared by the q191,
  * q218, q223 and q224 audits. */
object Audit {

  /** One row: `n_truth, n_found, tp, fp, fn, precision_micro,
    * recall_micro` (the ratios ×10^6, integer-divided).
    *
    * Truth keys must be unique (ranked kNN pairs, mutual edges, exact
    * join pairs and per-vector agreement rows all are), so a LEFT join
    * marks true positives without changing found's cardinality: tp and
    * n_found come out of ONE aggregation (round 15 — the semi-join shape
    * cost an extra agg, an extra crossJoin, and their AQE stages). */
  def score(truth: DataFrame, found: DataFrame): DataFrame = {
    val tp = found
      .join(truth.withColumn("__t", lit(1L)), Seq("a_id", "b_id"), "left")
      .agg(coalesce(sum(col("__t")), lit(0L)).as("tp"),
        count(lit(1)).as("n_found"))
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    tp.crossJoin(nT)
      .select(col("n_truth"), col("n_found"), col("tp"),
        (col("n_found") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        expr("CASE WHEN n_found = 0 THEN 0 ELSE (tp * 1000000) div n_found END")
          .as("precision_micro"),
        expr("CASE WHEN n_truth = 0 THEN 0 ELSE (tp * 1000000) div n_truth END")
          .as("recall_micro"))
  }

  /** [[score]] led by a `method` column, for audits that union the
    * scores of several found lists. */
  def score(method: String, truth: DataFrame, found: DataFrame): DataFrame =
    score(truth, found).select(lit(method).as("method"), col("*"))
}
