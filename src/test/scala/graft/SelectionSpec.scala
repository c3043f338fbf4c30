package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerDrain
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{CrossVal, FeatureSelection, Scoring}
import graft.operators.{EraRank, Folds}

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

  // the same rows with two more features: a blend and an id step
  private lazy val df4 = df
    .withColumn("f_mix", col("f_good") * 0.5 + col("f_noise"))
    .withColumn("f_step", (col("id") % 7) / 7.0)

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

  /** `body`'s result and the number of SQL executions (Spark actions)
    * the session ran while it ran. */
  private def executions[A](body: => A): (A, Int) = {
    val n = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = n.incrementAndGet()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val a = body
      ListenerDrain.drain(spark.sparkContext)
      (a, n.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("MDA runs two Spark actions (fold table + scoring) for any k and feature count") {
    for (k <- Seq(2, 3); feats <- Seq(Seq("f_good", "f_noise"),
        Seq("f_good", "f_noise", "f_mix", "f_step"))) {
      val (imps, n) = executions(FeatureSelection.mda(df4, "era", feats,
        "target", Seq("id"), k, seed = 5, fit = meanFitter(feats)))
      assert(n == 2, s"k=$k, ${feats.size} features")
      assert(imps.collect().map(_.getString(0)).toSet == feats.toSet)
    }
  }

  /** The per-fold MDA loop `mda` replaced, as the reference: per fold,
    * its own permutation deal, variant union, rank and scoring
    * collect; Spark averages, rounds and sorts the fold importances. */
  private def mdaPerFold(feats: Seq[String], k: Int, seed: Long): Seq[Row] = {
    val folds = Folds.foldAssignment(df4.select(col("era")).distinct(), "era", k)
    val withFold = df4.join(broadcast(folds), "era")
    val perFold = (0 until k).flatMap { f =>
      val test = withFold.filter(col("fold") === f).drop("fold")
      val predict = meanFitter(feats)(withFold.filter(col("fold") =!= f).drop("fold"))
      val permuted = Folds.permuteManyWithinEra(test, feats, "era", Seq("id"),
        xxhash64(col("id"), lit(seed + f)))
      val tagged = (("__base__", test) +: feats.map(ft => ft -> permuted.select(
        test.columns.map(c => if (c == ft) col(s"${ft}_perm").as(ft) else col(c)): _*)))
        .map { case (tag, fr) =>
          fr.select(test.columns.map(col): _*).withColumn("graft_feat", lit(tag))
        }.reduce(_ unionByName _)
      val sp = EraRank.withPctRankFirst(predict(tagged), "graft_r",
          Seq(col("graft_feat"), col("era")), col("pred"), col("id"))
        .groupBy(col("graft_feat")).agg(corr(col("target"), col("graft_r")))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      feats.map { ft =>
        val shuff = sp(ft)
        (ft, f.toLong, if (shuff >= 1.0) 0.0 else (sp("__base__") - shuff) / (1.0 - shuff))
      }
    }
    perFold.toDF("feature", "fold", "importance")
      .groupBy(col("feature")).agg(round(avg(col("importance")), 6).as("importance"))
      .orderBy(col("importance").desc, col("feature")).collect().toSeq
  }

  test("MDA at k=3 equals the per-fold loop, one-pass and forced two-pass") {
    val feats = Seq("f_good", "f_noise", "f_mix", "f_step")
    val expected = mdaPerFold(feats, k = 3, seed = 5)
    def run(): Seq[Row] = FeatureSelection.mda(df4, "era", feats, "target",
      Seq("id"), k = 3, seed = 5, fit = meanFitter(feats)).collect().toSeq
    assert(run() == expected)
    val key = "spark.graft.rank.onePassMaxEraRows"
    val old = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "0")
      assert(run() == expected)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(expected.size == feats.size)
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
