package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.EraRank

/** Scoring macros (M2/M3, `metrics.py`): era-ranked Spearman + quartic
  * mean error for a prediction column, as single-pass aggregates.
  */
object Scoring {

  /** `spearman_rank` + `quartic_mean_error` in one aggregate row:
    * (spearman, qme). `metrics.py:5-33`. Truth is rank-normalized the
    * same way the reference's quantized targets are in [0,1]. */
  def scores(df: DataFrame, era: Column, pred: Column, truth: Column,
             truthScale: Double, tie: Column*): DataFrame =
    EraRank.withPctRankFirst(df, "graft_r", Seq(era), pred, tie: _*)
      .agg(
        round(corr(truth, col("graft_r")), 6).as("spearman"),
        round(avg(pow(truth / truthScale - col("graft_r"), 4)), 6).as("qme"))
}
