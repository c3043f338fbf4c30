package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.{Column, DataFrame}
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
    * Per fold, the baseline and every per-feature permuted variant are
    * unioned into ONE tagged relation, model-transformed once, and
    * scored with a single grouped aggregate (rank window partitioned by
    * (variant, era) → corr per variant) — one Spark action per fold
    * instead of features+1, and the variant fan-out runs fully on the
    * executors.
    */
  def mda(df: DataFrame, eraCol: String, featCols: Seq[String],
          targetCol: String, idCols: Seq[String], k: Int, seed: Long,
          fit: DataFrame => (DataFrame => DataFrame),
          permKeyFor: Option[Int => Column] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // every action finishes before this returns (the result is a local
    // relation), so the fold split and each fold's persists are
    // released here, each fold's as soon as that fold is scored
    val rows = Folds.withFoldSplit(df, eraCol, k) { withFold =>
      // ONE upfront aggregate replaces a per-fold maxEraRows action (the
      // dispatch statistic below) AND materializes the persisted base
      // before the fold threads start — two concurrent first-touch
      // actions would otherwise both compute it (guide §1.2)
      val maxEraByFold = withFold.groupBy(col("fold"), col(eraCol))
        .agg(count(lit(1)).as("graft_n"))
        .groupBy(col("fold")).agg(max(col("graft_n")).as("graft_m"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // per-fold fit + permutation scoring run concurrently: each fold's
      // fit and collect are independent jobs
      def foldRows(f: Int): Seq[(String, Long, Double)] = graft.QueryScope.run {
        val train = withFold.filter(col("fold") =!= f).drop("fold")
        val test = withFold.filter(col("fold") === f).drop("fold")
          .transform(graft.QueryScope.persist)
        // one permutation join yields every feature's permuted copy;
        // per-feature variants are then pure projections over it.
        // permKeyFor lets the deterministic-fitter oracle twin swap the
        // xxhash64 deal for an ANSI-SQL-expressible arithmetic hash.
        val permKey = permKeyFor.map(_(f))
          .getOrElse(xxhash64(idCols.map(col) :+ lit(seed + f): _*))
        val permuted = Folds.permuteManyWithinEra(test, featCols, eraCol, idCols,
          permKey).transform(graft.QueryScope.persist)
        val predict = fit(train)
        val variants = ("__base__", test) +: featCols.map { ft =>
          ft -> permuted.select(test.columns.map(c =>
            if (c == ft) col(s"${ft}_perm").as(ft) else col(c)): _*)
        }
        val tagged = variants.map { case (tag, fr) =>
          fr.select(test.columns.map(col): _*).withColumn("graft_feat", lit(tag))
        }.reduce(_ unionByName _)
        val scored = predict(tagged)
        // r14: era-size-adaptive rank dispatch on the test frame's
        // largest era (the upfront statistic, no extra job) — the
        // variant tag multiplies window-partition COUNT by features+1
        // while each (variant, era) partition stays one era of test
        // rows. Past the ceiling, the rank rides the two-pass form with
        // a composite (variant, era) key — bit-identical values.
        val ranked =
          if (EraRank.onePass(test, maxEraByFold.getOrElse(f.toLong, 0L)))
            EraRank.withPctRankFirst(scored, "graft_r",
              Seq(col("graft_feat"), col(eraCol)), col("pred"), idCols.map(col): _*)
          else
            EraRank.withPctRankFirstTwoPass(scored, "graft_r", 32,
              struct(col("graft_feat"), col(eraCol)), col("pred"), idCols.map(col): _*)
        val sp = ranked
          .groupBy(col("graft_feat"))
          .agg(corr(col(targetCol), col("graft_r")).as("spearman"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val base = sp("__base__")
        featCols.map { feat =>
          val shuff = sp(feat)
          val imp = if (shuff >= 1.0) 0.0 else (base - shuff) / (1.0 - shuff)
          (feat, f.toLong, imp)
        }
      }
      graft.Pools.inOrder(k)((0 until k).map(f => () => foldRows(f))).flatten
    }
    rows.toDF("feature", "fold", "importance")
      .groupBy(col("feature"))
      .agg(round(avg(col("importance")), 6).as("importance"))
      .orderBy(col("importance").desc, col("feature"))
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
