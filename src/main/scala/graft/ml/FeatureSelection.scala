package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.functions._

import graft.operators.{EraRank, Folds}

/** M7 `mean_decrease_accuracy` (`feature_selection_numerai.py:13-154`):
  * permutation feature importance under era-grouped CV.
  *
  * Reference shape: fit per fold → baseline score → per feature,
  * shuffle that column (driver-side numpy, re-scattered) → re-score →
  * normalized drop. Spark shape: the model is fit once per fold
  * (MLlib distributes the fit), the permutation is the era-local
  * two-ordering join ([[Folds.permuteManyWithinEra]]) executed on the
  * executors, and every re-score is one lazy plan — the driver never
  * touches row data (SURVEY §3.1).
  */
object FeatureSelection {

  /** MLlib RandomForest fitter (the sklearn-RF twin, SURVEY §2.11).
    * Returns a closure usable as [[CrossVal.kfoldScores]]'s `fit`. */
  def rfFitter(featCols: Seq[String], targetCol: String, numTrees: Int,
               maxDepth: Int, seed: Long): DataFrame => (DataFrame => DataFrame) = {
    train => {
      val va = new VectorAssembler()
        .setInputCols(featCols.toArray).setOutputCol("graft_fv")
      val rf = new RandomForestRegressor()
        .setFeaturesCol("graft_fv").setLabelCol(targetCol)
        .setPredictionCol("pred").setNumTrees(numTrees)
        .setMaxDepth(maxDepth).setSeed(seed)
      val model = rf.fit(va.transform(train))
      test => model.transform(va.transform(test)).drop("graft_fv")
    }
  }

  /** MDA: per-feature normalized importance (acc−shuff)/(1−shuff)
    * (`feature_selection_numerai.py:54-55`), averaged over k era folds,
    * descending. Deterministic given `seed`.
    *
    * After the k fold fits, ONE Spark action scores every fold and
    * every variant: one within-era permutation deals all folds at once
    * (its key is `CASE fold WHEN f THEN permKeyFor(f)`; folds partition
    * eras, so each era's deal is its fold's deal), one broadcast tag
    * cross join projects the baseline and each feature's permuted
    * variant, each fold's predictor scores its own fold's rows, and
    * one rank over (variant, era) feeds one corr per (fold, variant).
    * The fold mean, its HALF_UP rounding and the sort run on the
    * driver over those k × (features+1) numbers, and the result is a
    * sorted local relation. With a fitter that runs no job, the whole
    * call is two Spark actions: the fold table and the scoring.
    */
  def mda(df: DataFrame, eraCol: String, featCols: Seq[String],
          targetCol: String, idCols: Seq[String], k: Int, seed: Long,
          fit: DataFrame => (DataFrame => DataFrame),
          permKeyFor: Option[Int => Column] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // permKeyFor lets the deterministic-fitter oracle twin swap the
    // xxhash64 deal for an ANSI-SQL-expressible arithmetic hash
    val keyFor = permKeyFor.getOrElse((f: Int) =>
      xxhash64(idCols.map(col) :+ lit(seed + f): _*))
    // the scoring collect finishes before the split is released
    val sp = Folds.withFoldSplit(df, eraCol, k) { (withFold, maxEraRows) =>
      // the fold fits are independent jobs, so they overlap
      val predictors = graft.Pools.inOrder(k)((0 until k).map { f => () =>
        fit(withFold.filter(col("fold") =!= f).drop("fold"))
      })
      val testCols = withFold.columns.filterNot(_ == "fold")
      val permKey = (1 until k).foldLeft(when(col("fold") === 0, keyFor(0))) {
        (c, f) => c.when(col("fold") === f, keyFor(f))
      }
      val permuted = Folds.permuteManyWithinEra(withFold, featCols, eraCol,
        idCols, permKey)
      val tags = ("__base__" +: featCols).toDF("graft_feat")
      val variants = permuted.crossJoin(broadcast(tags)).select(
        (col("fold") +: testCols.map(c =>
          if (featCols.contains(c))
            when(col("graft_feat") === c, col(s"${c}_perm")).otherwise(col(c)).as(c)
          else col(c)) :+ col("graft_feat")): _*)
      // each predictor sees its own fold's rows without `fold`, as
      // `fit`'s contract promises; the tag is re-added after
      val scored = predictors.zipWithIndex.map { case (predict, f) =>
        predict(variants.filter(col("fold") === f).drop("fold"))
          .withColumn("fold", lit(f.toLong))
      }.reduce(_ unionByName _)
      // every (variant, era) rank partition is one era of one fold, so
      // the largest era is the dispatch statistic; past the ceiling the
      // two-pass form keys on (variant, era) — bit-identical values
      val ranked =
        if (EraRank.onePass(withFold, maxEraRows))
          EraRank.withPctRankFirst(scored, "graft_r",
            Seq(col("graft_feat"), col(eraCol)), col("pred"), idCols.map(col): _*)
        else
          EraRank.withPctRankFirstTwoPass(scored, "graft_r", 32,
            struct(col("graft_feat"), col(eraCol)), col("pred"), idCols.map(col): _*)
      ranked.groupBy(col("fold"), col("graft_feat"))
        .agg(corr(col(targetCol), col("graft_r")).as("spearman"))
        .collect().map(r => (r.getLong(0).toInt, r.getString(1)) -> r.getDouble(2)).toMap
    }
    // the fold mean sums in fold order, as a sequential loop would, and
    // rounds with Spark's own `round` so the values match the SQL form
    featCols.map { feat =>
      val imps = (0 until k).map { f =>
        val (base, shuff) = (sp((f, "__base__")), sp((f, feat)))
        if (shuff >= 1.0) 0.0 else (base - shuff) / (1.0 - shuff)
      }
      feat -> Round(Literal(imps.foldLeft(0.0)(_ + _) / k), Literal(6))
        .eval().asInstanceOf[Double]
    }.sortWith { case ((fa, a), (fb, b)) =>
      // importance descending (NaN first, as Spark sorts it), then feature
      val c = java.lang.Double.compare(b, a)
      if (c != 0) c < 0 else fa < fb
    }.toDF("feature", "importance")
  }

  /** M9 selector: top-n features by importance (`feature_selection_
    * numerai.py:249-268`) — a driver-side take on the tiny result. */
  def selectTop(importances: DataFrame, n: Int): Seq[String] = {
    val spark = importances.sparkSession
    import spark.implicits._
    importances.orderBy(col("importance").desc, col("feature"))
      .select(col("feature")).as[String].take(n).toSeq
  }
}
