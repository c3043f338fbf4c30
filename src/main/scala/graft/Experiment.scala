package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml._
import graft.queries.InfoPack

/** The reference notebook's driver workflow end to end
  * (`Numerai_example_notebook.ipynb`: load → baseline CV → tune →
  * feature-select → re-evaluate → append to the leaderboard CSV,
  * `#cell-6..#cell-55`), re-expressed on the engine's macros over the
  * embeddings fixture. Usage: runMain graft.Experiment [sfDir] [outDir]
  *
  * Each leaderboard row mirrors `redux_race`'s shape
  * (technique, spearman, qme, runtime_s — FIXTURES.md §A).
  */
object Experiment {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_race").toString)
    val spark = Sessions.create(Sessions.conf())
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // 1. load: embeddings as the feature matrix (#cell-4/#cell-6 analogue)
    val featCols = (0 until 8).map(i => s"e_$i")
    val df = Tables.embeddings(spark, sfDir).select(
      (col("vec_id") +: (col("vec_id") % 10).as("era")
        +: col("label").cast("double").as("target")
        +: (0 until 8).map(i => col("embedding").getItem(i).cast("double").as(s"e_$i"))): _*)
      .transform(QueryScope.persist)

    def score(scored: DataFrame): DataFrame =
      Scoring.scores(scored, col("era"), col("pred"), col("target"), 9.0, col("vec_id"))

    def evalRf(feats: Seq[String], trees: Int, depth: Int): (Double, Double) = {
      val perFold = CrossVal.kfoldScores(df, "era", 3,
        FeatureSelection.rfFitter(feats, "target", trees, depth, 42), score)
      val r = perFold.agg(avg("spearman"), avg("qme")).head()
      (r.getDouble(0), r.getDouble(1))
    }

    def row(technique: String, t0: Long, s: Double, q: Double) =
      (technique, math.rint(s * 1e6) / 1e6, math.rint(q * 1e6) / 1e6,
        math.rint((System.nanoTime() - t0) / 1e7) / 1e2)

    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double)]

    // 2. baseline CV (#cell-22/23)
    var t0 = System.nanoTime()
    val (bs, bq) = evalRf(featCols, trees = 10, depth = 4)
    rows += row("baseline_rf", t0, bs, bq)

    // 3. LHS hyperparameter tuning (#cell-19, tune_kfold_dask)
    t0 = System.nanoTime()
    val trials = Tuning.lhsSearch(Seq(
      Tuning.Param("trees", 5, 20, isInt = true),
      Tuning.Param("depth", 2, 6, isInt = true)), n = 4, seed = 42) { c =>
      evalRf(featCols, c("trees").toInt, c("depth").toInt)._1
    }
    val best = trials.head.config
    rows += row(s"lhs_rf_t${best("trees").toInt}_d${best("depth").toInt}",
      t0, trials.head.score, Double.NaN)

    // 4. MDA feature selection + re-evaluate on top-4 (#cell-27..55)
    t0 = System.nanoTime()
    val imps = FeatureSelection.mda(df, "era", featCols, "target",
      Seq("vec_id"), k = 2, seed = 42,
      fit = FeatureSelection.rfFitter(featCols, "target", 10, 4, 42))
    val top4 = FeatureSelection.selectTop(imps, 4)
    val (ms, mq) = evalRf(top4, trees = 10, depth = 4)
    rows += row(s"mda_top4_${top4.mkString("+")}", t0, ms, mq)

    // 5. feature clustering (#cell-117..122): corr-distance + silhouette
    t0 = System.nanoTime()
    val edges = InfoPack.qPairwiseCorr(spark, sfDir).collect()
    val dist = Array.fill(8, 8)(0.0)
    edges.foreach { r =>
      val (i, j) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1)
      val dv = 1.0 - math.abs(r.getDouble(2))
      dist(i)(j) = dv; dist(j)(i) = dv
    }
    val (k, labels, sil) = Clustering.optimalClusters(dist, Seq(2, 3, 4))
    rows += row(s"clusters_k${k}_sil", t0, sil, Double.NaN)

    // 6. leaderboard append (#cell-22's to_csv(mode='a'))
    val lb = rows.toSeq.toDF("technique", "spearman", "qme", "runtime_s")
    lb.coalesce(1).write.mode("append").option("header", "true").csv(outDir)
    println(s"[experiment] leaderboard -> $outDir")
    lb.show(truncate = false)
    println(s"[experiment] cluster labels: ${labels.mkString(",")}")
    spark.stop()
  }
}
