package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{CrossVal, FeatureSelection, Scoring}

/** M7/M8/M9: MDA importances + forward selection on a synthetic frame
  * with one planted informative feature. */
class SelectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 300 rows, 6 eras; f_good drives the target, f_noise is noise.
  private lazy val df = {
    val rnd = new scala.util.Random(11)
    (1L to 300L).map { i =>
      val good = rnd.nextDouble()
      val noise = rnd.nextDouble()
      (i, i % 6, good, noise, good * 10 + rnd.nextDouble() * 0.5)
    }.toDF("id", "era", "f_good", "f_noise", "target")
  }

  private def meanFitter(feats: Seq[String]): org.apache.spark.sql.DataFrame =>
      (org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    // closed-form "model": pred = sum of selected features (enough to
    // carry signal through the spearman scorer)
    _ => test => test.withColumn("pred", feats.map(col).reduce(_ + _))
  }

  test("MDA ranks the informative feature first") {
    val imps = FeatureSelection.mda(df, "era", Seq("f_good", "f_noise"),
      "target", Seq("id"), k = 2, seed = 5, fit = meanFitter(Seq("f_good", "f_noise")))
    val rows = imps.collect()
    assert(rows.head.getString(0) == "f_good")
    assert(rows.head.getDouble(1) > rows.last.getDouble(1))
    assert(FeatureSelection.selectTop(imps, 1) == Seq("f_good"))
  }

  test("MDA's adaptive rank dispatch: forced two-pass is value-identical") {
    // r14: MDA's (variant, era) rank windows dispatch on the test
    // frame's largest era; force the two-pass branch via the session
    // ceiling and pin that the importances match the one-pass default
    // exactly (the ranks are bit-identical by construction)
    val key = "spark.graft.rank.onePassMaxEraRows"
    val one = FeatureSelection.mda(df, "era", Seq("f_good", "f_noise"),
      "target", Seq("id"), k = 2, seed = 5,
      fit = meanFitter(Seq("f_good", "f_noise"))).collect().toSeq
    val old = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "0")
      val two = FeatureSelection.mda(df, "era", Seq("f_good", "f_noise"),
        "target", Seq("id"), k = 2, seed = 5,
        fit = meanFitter(Seq("f_good", "f_noise"))).collect().toSeq
      assert(one == two)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("kfoldScores: informative model scores higher than noise model") {
    def scoreOf(feats: Seq[String]): Double =
      CrossVal.kfoldScores(df, "era", 3, meanFitter(feats),
        sc => Scoring.scores(sc, col("era"), col("pred"), col("target"), 10.0, col("id")))
        .agg(avg("spearman")).as[Double].head()
    assert(scoreOf(Seq("f_good")) > scoreOf(Seq("f_noise")) + 0.3)
  }

  test("forward selection over n: best single feature wins round 1") {
    // M8 driver loop: evaluate top-n prefixes, pick argmax
    val imps = FeatureSelection.mda(df, "era", Seq("f_good", "f_noise"),
      "target", Seq("id"), k = 2, seed = 5, fit = meanFitter(Seq("f_good", "f_noise")))
    val ranked = FeatureSelection.selectTop(imps, 2)
    val scores = (1 to 2).map { n =>
      val feats = ranked.take(n)
      n -> CrossVal.kfoldScores(df, "era", 2, meanFitter(feats),
        sc => Scoring.scores(sc, col("era"), col("pred"), col("target"), 10.0, col("id")))
        .agg(avg("spearman")).as[Double].head()
    }
    assert(scores.maxBy(_._2)._1 == 1) // adding noise does not help
  }

  test("MDA releases every frame it persists: q_mda_ols leaves the cache empty") {
    val cache = spark.sharedState.cacheManager
    // start from an empty cache; nothing clears it after the query
    spark.catalog.clearCache()
    assert(cache.isEmpty)
    val rows = queries.MlPack.qMdaOls(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(cache.isEmpty)
  }
}
