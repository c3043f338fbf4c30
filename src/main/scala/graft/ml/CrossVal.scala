package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Folds

/** M4 `kfold_dask` (`tuners.py:100-146`): era-grouped k-fold
  * cross-validation of an arbitrary fit/predict pair.
  *
  * The reference scatters fold blocks to pinned workers and gathers
  * scores; here each fold's train/test split is a broadcast-join
  * filter against the fold-assignment relation (the fact table is
  * scanned, never collected), the model fit is whatever Spark jobs the
  * caller's `fit` launches (MLlib estimators distribute themselves),
  * and per-fold scores are unioned into one small result relation.
  *
  * `fit`: train-DataFrame => (test-DataFrame => DataFrame with a
  * `pred` column). Mirrors the reference's "any sklearn estimator"
  * contract (`tuners.py:14`) with MLlib models as the JVM twins.
  */
object CrossVal {

  def kfoldScores(df: DataFrame, eraCol: String, k: Int,
                  fit: DataFrame => (DataFrame => DataFrame),
                  score: DataFrame => DataFrame): DataFrame =
    kfoldScoresFull(df, eraCol, k, fit, (_, _, scored) => score(scored))

  /** [[kfoldScores]] whose score callback also sees the fold's TRAIN
    * and TEST frames — for invariant-emitting consumers (`q_cv_rf`)
    * that report split coverage (row/era counts, id disjointness)
    * alongside the model's score bounds, so the driver oracle can
    * recompute every emitted value without reproducing the model. */
  def kfoldScoresFull(df: DataFrame, eraCol: String, k: Int,
                      fit: DataFrame => (DataFrame => DataFrame),
                      score: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val folds = Folds.foldAssignment(df.select(col(eraCol)).distinct(), eraCol, k)
    // persisted: every fold branch re-reads the same fact+fold join
    val withFold = df.join(broadcast(folds), eraCol).transform(graft.QueryScope.persist)
    kfoldCore(withFold, k, fit, score)
  }

  /** The fold-fit/score loop of [[kfoldScores]] over a frame that
    * already carries its `fold` column. Callers that score MANY
    * candidates against the SAME fold split (the reduction-tune k
    * scan) join and persist the fold assignment ONCE and call this
    * per candidate — the per-candidate [[kfoldScores]] form re-built
    * and re-persisted an identical fold-join plan per candidate
    * (CacheManager dedups the storage but warns, and each candidate
    * paid the fold-assignment aggregate again). */
  def kfoldScoresPrejoined(withFold: DataFrame, k: Int,
                           fit: DataFrame => (DataFrame => DataFrame),
                           score: DataFrame => DataFrame): DataFrame =
    kfoldCore(withFold, k, fit, (_, _, scored) => score(scored))

  private def kfoldCore(withFold: DataFrame, k: Int,
                        fit: DataFrame => (DataFrame => DataFrame),
                        score: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    // folds fit concurrently: `fit` runs its MLlib jobs eagerly, and
    // the k fits are independent
    val perFold = graft.Pools.inOrder(k)((0 until k).map { f => () =>
      val train = withFold.filter(col("fold") =!= f).drop("fold")
      val test = withFold.filter(col("fold") === f).drop("fold")
      val predict = fit(train)
      score(train, test, predict(test)).withColumn("fold", lit(f.toLong))
    })
    val all = perFold.reduce(_ unionByName _)
    val metrics = all.columns.filterNot(_ == "fold")
    all.select((col("fold") +: metrics.map(col)): _*).orderBy(col("fold"))
  }
}
