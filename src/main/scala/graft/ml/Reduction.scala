package graft.ml

import org.apache.spark.ml.feature.{PCA, PCAModel, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M11/M12 with a real reducer (`utils.py:132-167` fit_transform_dask,
  * `tuners.py:149-252` tune_reduction_dask): MLlib PCA as the JVM twin
  * of the reference's sklearn reductions (SURVEY §2.11 — PCA is the
  * one with a first-class MLlib twin; Isomap/UMAP/LLE stay
  * caller-supplied, mirroring the reference's "any sklearn object").
  *
  * Fit runs on a bounded deterministic head sample (the reference fits
  * on `num_fit_rows`), the fitted model broadcasts with the plan, and
  * the transform is a distributed projection — the manual
  * `num_splits` chunking evaporates into Spark partitioning.
  */
object Reduction {

  /** Fit PCA(k) on the first `nFit` rows (ordered by `orderCol`), then
    * transform the WHOLE frame; appends `pc_0..pc_{k-1}`. */
  def pcaFitTransformOnHead(df: DataFrame, featCols: Seq[String], k: Int,
                            nFit: Int, orderCol: String): (DataFrame, PCAModel) = {
    val va = new VectorAssembler().setInputCols(featCols.toArray)
      .setOutputCol("graft_fv")
    val head = va.transform(df.orderBy(col(orderCol)).limit(nFit))
    val model = new PCA().setInputCol("graft_fv").setOutputCol("graft_pc")
      .setK(k).fit(head)
    val out = model.transform(va.transform(df))
      .withColumn("graft_pc_arr",
        org.apache.spark.ml.functions.vector_to_array(col("graft_pc")))
    val withPcs = (0 until k).foldLeft(out) { (acc, i) =>
      acc.withColumn(s"pc_$i", col("graft_pc_arr").getItem(i))
    }.drop("graft_pc_arr")
    (withPcs.drop("graft_fv", "graft_pc"), model)
  }

  /** F8 — thin SVD of the deterministic head sample
    * (`Numerai_example_notebook.ipynb#cell-14,92`: `np.linalg.svd` on
    * a row sample, EDA-only in the reference). Spark-first shape: the
    * sample stays an RDD-backed RowMatrix and the decomposition runs
    * off its k×k Gramian (one distributed pass to form AᵀA, local
    * eigendecomposition of the tiny matrix) — the same bounded-sample
    * contract as [[pcaFitTransformOnHead]]. Returns the decomposition
    * (singular values + right singular vectors) and the sample row
    * count. */
  def svdOnHead(df: DataFrame, featCols: Seq[String], nFit: Int,
                orderCol: String):
      (org.apache.spark.mllib.linalg.SingularValueDecomposition[
         org.apache.spark.mllib.linalg.distributed.RowMatrix,
         org.apache.spark.mllib.linalg.Matrix], Long) = {
    val rows = df.orderBy(col(orderCol)).limit(nFit)
      .select(featCols.map(c => col(c).cast("double")): _*)
      .rdd.map(r => org.apache.spark.mllib.linalg.Vectors.dense(
        Array.tabulate(featCols.length)(i => r.getDouble(i))))
    val rm = new org.apache.spark.mllib.linalg.distributed.RowMatrix(rows)
    // rCond = 0: keep the full spectrum so Σσ² = ‖A‖²_F holds exactly
    // (the default 1e-9 relative cutoff could drop a near-null
    // direction and silently break the Frobenius identity)
    (rm.computeSVD(featCols.length, computeU = false, rCond = 0.0), rm.numRows())
  }

  /** M12 tune_reduction: scan component counts, score each reduced
    * representation with era-fold CV of the supplied fitter, return the
    * leaderboard best-first (`tuners.py:149-252`'s loop with Spark jobs
    * per candidate instead of scattered tasks).
    *
    * PCA components are NESTED (the first k eigenvectors of the
    * covariance do not depend on how many more are computed), so the
    * scan fits ONCE at max(ks) and each candidate k just reads the
    * first k projection columns — one fit and one data pass instead of
    * |ks| of each, the difference between a scan and |ks| scans at
    * 100 TB. The projected frame is persisted across the fold loops
    * and released on exit. */
  def tuneReduction(df: DataFrame, featCols: Seq[String], eraCol: String,
                    ks: Seq[Int], nFit: Int, orderCol: String, folds: Int,
                    fitterFor: Seq[String] => DataFrame => (DataFrame => DataFrame),
                    score: DataFrame => DataFrame,
                    metric: String = "spearman"): Seq[(Int, Double)] = {
    if (ks.isEmpty) return Seq.empty
    val (reduced, _) = pcaFitTransformOnHead(df, featCols, ks.max, nFit, orderCol)
    tuneOverKs(reduced, k => (0 until k).map(i => s"pc_$i"), ks, eraCol,
      folds, fitterFor, score, metric)
  }

  /** [[tuneOverKs]] for NESTED candidates scored by a fitter whose
    * per-feature statistics are SUBSET-INDEPENDENT (the additive
    * univariate-OLS family: each feature's beta/mean never depends on
    * which other features are in the model). Fits ONCE per fold over
    * `colsFor(max k)` and derives every candidate k's predictor from
    * that one fitted row, and folds every (k, fold) score into ONE
    * leaderboard action — the per-candidate form paid |ks| × folds
    * fit collects plus one collect per candidate (q_reduction_tune:
    * 42 Spark jobs for a sub-second query, mostly driver latency).
    * Values are identical by construction: each aggregate expression
    * accumulates independently of its siblings, the predictor folds
    * the same prefix literals in the same order, and the per-k mean
    * is over the same `folds` doubles (addition is commutative, and
    * the leaderboard sort is stable on the ks order, exactly like the
    * sequential loop). */
  def tuneOverKsSharedFit(reduced: DataFrame, colsFor: Int => Seq[String],
                          ks: Seq[Int], eraCol: String, folds: Int,
                          fitAllFor: Seq[String] => DataFrame => (Seq[String] => DataFrame => DataFrame),
                          score: DataFrame => DataFrame,
                          metric: String = "spearman"): Seq[(Int, Double)] = {
    if (ks.isEmpty) return Seq.empty
    graft.operators.Folds.withFoldSplit(reduced, eraCol, folds) { (cached, _) =>
      val fitAll = fitAllFor(colsFor(ks.max))
      // one fit per fold (each collects its model row at the driver
      // edge); the fold fits are independent, so they overlap
      val predictors = graft.Pools.inOrder(folds)((0 until folds).map { f => () =>
        fitAll(cached.filter(col("fold") =!= f).drop("fold"))
      })
      // candidates still score concurrently (one action per k over the
      // shared persisted frame — a single all-k union action was
      // measured ~0.5 s slower at fixture scale than the overlapped
      // per-k actions, despite fewer jobs); the win kept here is the
      // 6 fit collects folded into `folds`
      graft.Pools.inOrder(ks.length)(ks.map { k => () =>
        val perFold = (0 until folds).map { f =>
          val test = cached.filter(col("fold") === f).drop("fold")
          score(predictors(f)(colsFor(k))(test))
        }.reduce(_ unionByName _)
        k -> perFold.agg(avg(col(metric))).head().getDouble(0)
      }).sortBy(-_._2)
    }
  }

  /** The candidate-scan/CV/leaderboard loop of [[tuneReduction]],
    * decoupled from the PCA step: score `colsFor(k)` for each k by
    * era-fold CV of the supplied fitter, return the leaderboard
    * best-first. With an identity "reducer" (`colsFor = featCols.take`)
    * every stage is ANSI-recomputable, which is what lets
    * `q_reduction_tune_ols` put this exact loop under the DuckDB
    * oracle while `q_reduction_tune` runs it on the PCA projection
    * (the seeded-ANN-twin pattern). The frame is persisted across the
    * fold loops and released on exit. */
  def tuneOverKs(reduced: DataFrame, colsFor: Int => Seq[String],
                 ks: Seq[Int], eraCol: String, folds: Int,
                 fitterFor: Seq[String] => DataFrame => (DataFrame => DataFrame),
                 score: DataFrame => DataFrame,
                 metric: String = "spearman"): Seq[(Int, Double)] = {
    if (ks.isEmpty) return Seq.empty
    // the fold split is k-independent, so join it ONCE and share the
    // persisted fold-carrying frame across every candidate — the
    // per-candidate kfoldScores form re-derived the fold-assignment
    // aggregate and re-persisted an identical join plan per candidate
    // (one redundant pass per k, plus a CacheManager warn per extra)
    graft.operators.Folds.withFoldSplit(reduced, eraCol, folds) { (cached, _) =>
      // candidates score concurrently over the shared persisted frame,
      // each running its own fold pool inside kfoldScoresPrejoined
      graft.Pools.inOrder(ks.length)(ks.map { k => () =>
        val perFold = CrossVal.kfoldScoresPrejoined(cached, folds,
          fitterFor(colsFor(k)), score)
        k -> perFold.agg(avg(col(metric))).head().getDouble(0)
      }).sortBy(-_._2)
    }
  }
}
