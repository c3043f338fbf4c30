package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, QueryScope, Tables}
import graft.ml.{Clustering, CrossVal, FeatureSelection, Scoring, Transform, TreeShap}

/** The compound ML macros (SURVEY §2.9) surfaced as driver-checkable
  * queries. MLlib-model results are rows-only checked (a DuckDB oracle
  * cannot re-fit a RandomForest); the fit-on-head standardizer is
  * fully oracle-checked.
  */
object MlPack extends QueryPack {

  /** Embeddings as a feature-matrix relation: era (synthetic time
    * bucket), id, 8 feature columns, target (FIXTURES.md §B mapping). */
  private def featureFrame(s: SparkSession, d: String): DataFrame = {
    val feats = (0 until 8).map(i => col("embedding").getItem(i).cast("double").as(s"e_$i"))
    Tables.embeddings(s, d).select(
      (col("vec_id") +: (col("vec_id") % 10).as("era")
        +: col("label").cast("double").as("target") +: feats): _*)
  }

  private val featCols = (0 until 8).map(i => s"e_$i")

  /** M4 — era-grouped 3-fold CV of an MLlib RandomForest (the
    * `kfold_dask` twin, `tuners.py:100-146`), emitting INVARIANTS the
    * driver oracle recomputes without the model (r14, the
    * `q_shap_local_accuracy` treatment): per fold, the train/test
    * row + era coverage counts, the train∩test vec_id overlap (must
    * be 0 — the folds partition eras), `n_scored` = test rows the
    * FITTED RF actually returned a non-null prediction for (the
    * oracle equates it to the test count, so a dropped or null-scored
    * row is a driver-visible failure), and the score bounds
    * (|spearman| ≤ 1, qme ∈ [0,1] for rank-vs-[0,1]-scaled truth).
    * The fit → predict → era-rank → score dataflow runs in full; only
    * the engine-specific score VALUES stay out of the hash (their
    * oracle-green dataflow twins: `q_cv_group_mean`, `q_cv_summary`). */
  def qCvRf(s: SparkSession, d: String): DataFrame =
    CrossVal.kfoldScoresFull(featureFrame(s, d), "era", 3,
      FeatureSelection.rfFitter(featCols, "target", numTrees = 10,
        maxDepth = 4, seed = 42),
      (train, test, scored) => {
        val sc = Scoring.scores(scored, col("era"), col("pred"), col("target"),
          9.0, col("vec_id"))
        train.agg(count(lit(1)).as("n_train"),
            countDistinct(col("era")).as("eras_train"))
          .crossJoin(test.agg(count(lit(1)).as("n_test"),
            countDistinct(col("era")).as("eras_test")))
          .crossJoin(train.select(col("vec_id"))
            .join(test.select(col("vec_id")), "vec_id")
            .agg(count(lit(1)).as("n_overlap")))
          .crossJoin(scored.agg(
            count(when(col("pred").isNotNull, 1)).as("n_scored")))
          .crossJoin(sc.select(
            (abs(col("spearman")) <= 1.0).as("spearman_ok"),
            (col("qme") >= 0.0 && col("qme") <= 1.0).as("qme_ok")))
      })

  /** M7 — MDA permutation importance under 2-fold era CV
    * (`feature_selection_numerai.py:13-154`). Rows-only check. */
  def qMdaRf(s: SparkSession, d: String): DataFrame =
    FeatureSelection.mda(featureFrame(s, d), "era", featCols, "target",
      Seq("vec_id"), k = 2, seed = 42,
      fit = FeatureSelection.rfFitter(featCols, "target", numTrees = 10,
        maxDepth = 4, seed = 42))

  /** M7's oracle-green twin (the `q_reduction_tune_ols` /
    * `q_successive_halving` treatment): the FULL MDA dataflow —
    * fold fit → baseline per-era spearman → batched T5 permute →
    * re-score every variant → `(acc-shuff)/(1-shuff)` normalize →
    * fold-average rank (`feature_selection_numerai.py:13-154`) —
    * driven with the deterministic additive-OLS fitter and an
    * arithmetic permutation deal, so every stage unrolls to ANSI SQL.
    * `q_mda_rf` stays as the RF rows-only sibling. */
  def qMdaOls(s: SparkSession, d: String): DataFrame =
    FeatureSelection.mda(featureFrame(s, d), "era", featCols, "target",
      Seq("vec_id"), k = 2, seed = 42,
      fit = olsFitter(featCols, "target"),
      permKeyFor = Some(f =>
        (col("vec_id") * lit(2654435761L) + lit(42L + f) * lit(40503L))
          % lit(999999937L)))

  /** M10 — TreeSHAP feature ranking (`feature_selection_numerai
    * .py:271-288`: `shap.TreeExplainer(model, data=train_x[:1000])`
    * then mean-|SHAP| per feature, descending). The RF fit is
    * distributed (MLlib); the explainer runs driver-side over the same
    * bounded 1000-row sample the reference caps at, with the sample
    * doubling as the background data exactly as the reference passes
    * it. Rows-only check (RF split structure is engine-specific);
    * [[graft.ml.TreeShap]] itself is pinned by TreeShapSpec against a
    * brute-force subset-enumeration Shapley and model-prediction
    * additivity. */
  /** The ONE RF fit both SHAP queries explain (the reference's
    * 1000-row capped sample as both fit data and background): factored
    * so `q_shap_rf` and its oracle twin `q_shap_local_accuracy` can
    * never drift apart on sample cap, seed, or tree shape — the
    * twin's oracle contract is that it checks THIS fit's explainer. */
  private def shapFit(s: SparkSession, d: String): (Array[(Long, Array[Double])], org.apache.spark.ml.regression.RandomForestRegressionModel) =
    // both SHAP queries run per bench sweep, and the fit is
    // deterministic (seeded): one RF fit per fixture generation. The
    // memoized VALUE is session-independent (the collected 1000-row
    // sample + the fitted model, both plain driver objects) — an
    // earlier version cached the sample DataFrame, which a
    // restarted/second SparkSession would have choked on
    Memo(s, "shap_fit", s"$d/embeddings.parquet") {
      import org.apache.spark.ml.feature.VectorAssembler
      import org.apache.spark.ml.regression.RandomForestRegressor
      val ff = featureFrame(s, d).orderBy(col("vec_id")).limit(1000)
      // single bounded collect keeps ids and feature rows aligned
      val rows = ff.select((col("vec_id").cast("long") +: featCols.map(col)): _*)
        .collect()
        .map(r => (r.getLong(0), Array.tabulate(featCols.length)(i => r.getDouble(i + 1))))
      val va = new VectorAssembler()
        .setInputCols(featCols.toArray).setOutputCol("graft_fv")
      val model = new RandomForestRegressor()
        .setFeaturesCol("graft_fv").setLabelCol("target")
        .setNumTrees(10).setMaxDepth(4).setSeed(42)
        .fit(va.transform(ff))
      (rows, model)
    }

  def qShapRf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (rows, model) = shapFit(s, d)
    val sample = rows.map(_._2)
    val (phis, base) = TreeShap.forestShap(model, sample, sample, featCols.length)
    featCols.indices.map { i =>
      val score = phis.map(p => math.abs(p(i))).sum / phis.length
      (featCols(i), math.rint(score * 1e6) / 1e6, math.rint(base * 1e6) / 1e6)
    }.toDF("feature", "score", "base_value")
      .orderBy(col("score").desc, col("feature"))
  }

  /** M10's oracle-green twin (the last `no_oracle` query to get one):
    * TreeSHAP local accuracy under the driver's DuckDB gate. The same
    * RF fit + explainer run as [[qShapRf]], but what's emitted is the
    * per-row additivity residual `(Σφ + base) − f(x)` scaled to an
    * integer at 1e-6 (the `q_cluster_silhouette` integer-emission
    * convention): TreeSHAP's defining invariant (Lundberg et al. 2018,
    * local accuracy) makes every residual exactly 0 up to float noise
    * orders of magnitude below the scale, so the oracle can enumerate
    * the expected rows — the 1000 lowest vec_ids, residual 0 — from
    * the embeddings table alone, with no model on the DuckDB side. A
    * regression anywhere in the flatten/cover/attribution pipeline
    * breaks additivity for some row and fails the hash; the |SHAP|
    * ranking itself stays rows-only in `q_shap_rf` (RF split structure
    * is engine-specific) with the brute-force-Shapley fuzz in
    * `TreeShapSpec` pinning the values. */
  def qShapLocalAccuracy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (rows, model) = shapFit(s, d)
    val sample = rows.map(_._2)
    val (phis, base) = TreeShap.forestShap(model, sample, sample, featCols.length)
    rows.zip(phis).map { case ((id, x), phi) =>
      val pred = model.predict(org.apache.spark.ml.linalg.Vectors.dense(x))
      (id, math.rint((phi.sum + base - pred) * 1e6).toLong)
    }.toSeq.toDF("vec_id", "resid")
      .orderBy(col("vec_id"))
  }

  /** M14+M15 — pairwise corr-distance over 8 embedding components
    * (distributed agg) → driver-side agglomerative clustering with
    * silhouette scan over k=2..4 (`feature_clustering.py:39-132`).
    * Deterministic; rows-only check (clustering is not ANSI SQL). The
    * ≤ 4 cluster rows are grouped and sorted on the driver and emitted
    * as a local relation (no grouping or sorting job after the edge
    * collect). */
  def qFeatureClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = InfoPack.pairwiseCorrEdges(s, d)
      .select(col("pa"), col("pb"), (lit(1.0) - abs(col("c"))).as("dist"))
      .collect()
    val n = 8
    val dist = Array.fill(n, n)(0.0)
    edges.foreach { r =>
      val (i, j, dv) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1, r.getDouble(2))
      dist(i)(j) = dv; dist(j)(i) = dv
    }
    val (algo, k, labels, sil) = Clustering.optimalClustersScan(dist, Seq(2, 3, 4))
    labels.zipWithIndex.groupBy(_._1).toSeq.sortBy(_._1).map { case (lbl, ms) =>
      (lbl.toLong, ms.map(m => s"e_${m._2}").sorted.mkString(","), ms.length.toLong,
        k.toLong, algo, sil)
    }.toDF("label", "members", "n", "k", "algorithm", "graft_sil")
      .select(col("label"), col("members"), col("n"), col("k"), col("algorithm"),
        round(col("graft_sil"), 6).as("silhouette"))
  }

  /** M15's oracle-green twin (the seeded-ANN-twin pattern): k-medoids
    * BUILD seeding + nearest-medoid assignment + per-feature
    * silhouette terms over the SAME corr-distance matrix
    * `qFeatureClusters` clusters — every stage recomputed by the
    * DuckDB oracle from the embeddings table. Distances are exact
    * integers in 1e-5 units (derived from the round-5 corr matrix the
    * oracle already matches hash-exactly), so the BUILD argmin/argmax,
    * the assignment, and the silhouette numerators/denominators are
    * all integer arithmetic on both engines; only the final score
    * `s = (b-a)/max(a,b)` divides, and it divides identical integers.
    * The library functions themselves ([[Clustering.buildInit]],
    * [[Clustering.silhouetteTerms]]) produce the emitted values, so a
    * seeding or silhouette regression fails the hash check — the
    * agglomerative/HDBSCAN merge logic that stays driver-only is
    * pinned by `ClusteringMultimodalSpec`. The 28-edge collect is the
    * bounded matrix edge (8 features); the 8 rows are sorted on the
    * driver and emitted as a local relation. */
  def qClusterSilhouette(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = InfoPack.pairwiseCorrEdges(s, d).collect()
    val n = 8
    val de5 = Array.fill(n, n)(0L)
    edges.foreach { r =>
      val (i, j) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1)
      val dv = 100000L - math.round(math.abs(r.getDouble(2)) * 100000.0)
      de5(i)(j) = dv; de5(j)(i) = dv
    }
    val dist = de5.map(_.map(_.toDouble))
    val medoids = Clustering.buildInit(dist, 2)
    // zero-distance medoids would collapse the assignment to one
    // cluster (every tie resolves to the lower medoid): the engine
    // would then throw from silhouetteTerms while the oracle renders
    // NULLs — fail loudly and identically-diagnosably instead. Two
    // features must be |corr| = 1 at 5 decimals to trip this.
    require(de5(medoids(0))(medoids(1)) != 0L,
      s"degenerate corr-distance matrix: BUILD medoids ${medoids.mkString(",")} coincide")
    val labels = Array.tabulate(n)(j => medoids.minBy(m => (dist(j)(m), m)))
    val terms = Clustering.silhouetteTerms(dist, labels)
    val rows = (0 until n).map { i =>
      val own = (0 until n).filter(j => j != i && labels(j) == labels(i))
      val oth = (0 until n).filter(j => labels(j) != labels(i))
      (s"e_$i", (labels(i) + 1).toLong,
        own.map(de5(i)).sum, own.size.toLong,
        oth.map(de5(i)).sum, oth.size.toLong, terms(i)._3)
    }
    rows.sortBy(_._1)
      .toDF("feature", "medoid_pos", "a_num", "a_den", "b_num", "b_den", "s_raw")
      .select(col("feature"), col("medoid_pos"), col("a_num"), col("a_den"),
        col("b_num"), col("b_den"), round(col("s_raw"), 6).as("s"))
  }

  /** M12's oracle-green twin:
    * [[graft.ml.Reduction.tuneOverKsSharedFit]] — the exact
    * candidate-scan/CV/leaderboard loop `q_reduction_tune` runs
    * on the PCA projection — driven with the identity reducer
    * (first-k raw features), which makes every stage ANSI SQL: the
    * round-robin era folds, the additive univariate-OLS fitter's
    * cov/var/mean model, the within-era pct-rank (method=first), and
    * the rank-vs-target Pearson. Emitted sorted by k with the score
    * carrying the ranking (the float-boundary row-order rule
    * `q_reduction_tune` itself follows). */
  def qReductionTuneOls(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.ml.{Reduction, Scoring}
    // shared-fit nested scan (r18): one OLS aggregate per fold serves
    // all three k prefixes, one action collects the leaderboard —
    // identical values to the per-candidate tuneOverKs loop
    // (ReductionSpec pins the leaderboards equal)
    val lb = Reduction.tuneOverKsSharedFit(featureFrame(s, d),
      k => featCols.take(k),
      Seq(2, 4, 6), "era", 2,
      pcs => olsFitterNested(pcs, "target"),
      sc => Scoring.scores(sc, col("era"), col("pred"), col("target"),
        9.0, col("vec_id")))
    lb.sortBy(_._1)
      .toDF("k", "spearman_raw")
      .select(col("k").cast("long").as("k"),
        round(col("spearman_raw"), 6).as("spearman"))
  }

  /** M11 — fit-on-head standardizer applied distributed
    * (`utils.py:132-167`), fully oracle-checked: stats from the first
    * 500 orders by key become plan literals. */
  def qStandardize(s: SparkSession, d: String): DataFrame =
    Transform.standardizeOnHead(Tables.orders(s, d), Seq("o_totalprice"),
        nFit = 500, orderCol = "o_orderkey")
      .select(col("o_orderkey"), col("o_totalprice_z"))
      .orderBy(col("o_orderkey"))

  /** M5/J4 — a hyperparameter sweep as ONE relational plan: the
    * params x folds grid (`tuners.py:70-77`) is a literal alpha grid
    * cross-joined against the fold'd fact; the "model" is the
    * shrunken group mean pred = m + alpha*(gm - m) fit on each fold
    * complement; the leaderboard ranks alphas by held-out RMSE. The
    * reference launches tasks per (param, fold); here the whole sweep
    * is a single Catalyst plan with broadcast model stats. */
  def qParamSweep(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select((Tables.eraOfTs(col("ts")) % 2).as("fold"),
        col("event_type"), col("value"))
    val folds = s.range(0, 2).select(col("id").as("f"))
    val train = ev.join(broadcast(folds), col("fold") =!= col("f"))
    val global = train.groupBy(col("f").as("fg")).agg(avg(col("value")).as("m"))
    val group = train.groupBy(col("f"), col("event_type").as("et"))
      .agg(avg(col("value")).as("gm"))
    val alphas = s.range(0, 5).select((col("id") * 0.25).as("alpha"))
    ev.join(broadcast(group), col("fold") === col("f") && col("event_type") === col("et"))
      .join(broadcast(global), col("f") === col("fg"))
      .crossJoin(broadcast(alphas))
      .withColumn("pred", col("m") + col("alpha") * (col("gm") - col("m")))
      .groupBy(col("alpha"), col("fold"))
      .agg(sqrt(avg(pow(col("value") - col("pred"), 2))).as("rmse_f"))
      .groupBy(col("alpha"))
      .agg(round(avg(col("rmse_f")), 4).as("rmse"))
      .orderBy(col("rmse"), col("alpha"))
  }

  /** M6 — Hyperband end to end (`tuners.py:376-509`) with real Spark
    * evaluations: successive halving over the shrinkage parameter of
    * the group-mean model, each rung training on a head-fraction of
    * events (`tuners.py:439-440`'s ratio) against a held-out fold.
    *
    * r14: emits the OBSERVED rung schedule instead of the RNG-config
    * leaderboard, so the driver oracle can hash-check it (the config
    * values come from the JVM RNG and are inherently un-oracle-able;
    * the leaderboard surface stays hash-green via the deterministic
    * twin `q_successive_halving`). Per evaluateBatch call, in call
    * order: the rung's config count and resource fraction as the
    * engine actually issued them, the score count the engine got
    * back, the survivor count the halving rule then keeps
    * (max(1, n/eta) — rung i+1's emitted n_configs re-checks it), and
    * whether every score came back finite. The oracle recomputes the
    * whole schedule from the published hyperband arithmetic
    * (R=4, eta=2 → brackets s=2,1,0; n_i = max(1, ⌊n0/eta^i⌋),
    * frac_i = min(1, r0·eta^i/R)) — any drift in the engine's bracket
    * loop, rung sizing, or halving rule is a driver-visible hash
    * failure. */
  def qHyperband(s: SparkSession, d: String): DataFrame = QueryScope.run {
    import s.implicits._
    import graft.ml.Tuning
    val ev = Tables.events(s, d)
      .select(col("event_id"), (Tables.eraOfTs(col("ts")) % 2).as("fold"),
        col("event_type"), col("value"))
      .transform(QueryScope.persist)
    // ONE Spark action per RUNG: the rung's alpha configs become a
    // broadcast literal relation cross-joined into a single scored
    // plan (the q_param_sweep shape) instead of a job per config —
    // at 100x data each rung is one scan of the fraction filter, not
    // |configs| sequential re-scans.
    def evaluateBatch(configs: Seq[Map[String, Double]], frac: Double): Seq[Double] = {
      val head = hashFraction(ev, "event_id", frac)
      val train = head.filter(col("fold") === 0)
      val test = head.filter(col("fold") === 1)
      val gm = train.groupBy(col("event_type").as("et")).agg(avg(col("value")).as("gm"))
      val gmean = train.agg(avg(col("value")).as("m"))
      val alphas = configs.zipWithIndex
        .map { case (c, i) => (i, c("alpha")) }.toDF("cfg", "alpha")
      val rows = test.join(broadcast(gm), col("event_type") === col("et"))
        .crossJoin(broadcast(gmean))
        .crossJoin(broadcast(alphas))
        .groupBy(col("cfg"))
        .agg(sqrt(avg(pow(col("value")
          - (col("m") + col("alpha") * (col("gm") - col("m"))), 2))).as("rmse"))
        .collect()
      val scoreOf = rows.flatMap(r =>
        if (r.isNullAt(1)) None else Some(r.getInt(0) -> r.getDouble(1))).toMap
      // a degenerate rung (train or test empty after the fraction
      // filter → missing group / null rmse) scores worst, not a crash
      configs.indices.map(i => scoreOf.get(i) match {
        case Some(r) if !r.isNaN => -r // higher is better
        case _ => Double.NegativeInfinity
      })
    }
    // observe the schedule the bracket loop actually issues: one
    // record per evaluateBatch call, keyed by (bracket s, rung) so the
    // canonical sequential call order reconstructs even though the
    // brackets execute CONCURRENTLY (r17 — brackets are independent;
    // the tagged callback exists exactly so this audit stays exact)
    val calls = scala.collection.concurrent.TrieMap
      .empty[(Int, Int), (Int, Double, Int, Boolean)]
    def instrumented(s0: Int, rung: Int, configs: Seq[Map[String, Double]],
                     frac: Double): Seq[Double] = {
      val scores = evaluateBatch(configs, frac)
      calls((s0, rung)) = ((configs.length, frac, scores.length,
        scores.forall(x => !x.isNaN && !x.isInfinite)))
      scores
    }
    val trials = Tuning.hyperbandBatchTagged(Seq(Tuning.Param("alpha", 0.0, 1.0)),
      maxResource = 4, eta = 2, seed = 42)(instrumented)
    require(trials.nonEmpty && trials.head.score >= trials.last.score,
      "hyperband returned an unsorted or empty leaderboard")
    // sequential call order = brackets s descending, rungs ascending
    calls.toSeq.sortBy { case ((s0, rung), _) => (-s0, rung) }
      .map(_._2).zipWithIndex.map { case ((n, frac, ns, fin), i) =>
      (i + 1L, n.toLong, math.rint(frac * 1e4) / 1e4, ns.toLong,
        math.max(1L, n.toLong / 2), fin)
    }.toDF("call", "n_configs", "frac", "n_scored", "n_survivors", "all_finite")
  }

  /** M6, ORACLE-CHECKED twin of [[qHyperband]] — successive halving
    * with a deterministic alpha grid ((i+0.5)/8, no RNG) and the
    * md5-hash60 rung fraction (engine-portable, unlike xxhash64), so
    * every rung's scores, cuts, and the final leaderboard reproduce
    * exactly in ANSI SQL. Mechanics are the hyperband rung loop:
    * fractions 1/4 → 1/2 → 1 with keeps 4 → 2, ranked by
    * (rmse, alpha); one Spark action per rung, configs broadcast as a
    * literal relation into a single cross-joined scoring plan. The
    * LHS-sampled [[qHyperband]] stays as the reference-faithful API
    * (JVM-RNG configs are inherently rows-only). */
  def qSuccessiveHalving(s: SparkSession, d: String): DataFrame = QueryScope.run {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("event_id"), (Tables.eraOfTs(col("ts")) % 2).as("fold"),
        col("event_type"), col("value"),
        pmod(graft.operators.TextOps.hash60(
          concat_ws("#", lit("rung"), col("event_id"))), lit(10000L)).as("coin"))
      .transform(QueryScope.persist)
    def rung(alphas: Seq[Double], frac: Double): Seq[(Double, Double)] = {
      val head = if (frac >= 1.0) ev
                 else ev.filter(col("coin") < lit((frac * 10000).toLong))
      val train = head.filter(col("fold") === 0)
      val test = head.filter(col("fold") === 1)
      val gm = train.groupBy(col("event_type")).agg(avg(col("value")).as("gm"))
      val gmean = train.agg(avg(col("value")).as("m"))
      test.join(broadcast(gm), Seq("event_type"))
        .crossJoin(broadcast(gmean))
        .crossJoin(broadcast(alphas.toDF("alpha")))
        .groupBy(col("alpha"))
        .agg(sqrt(avg(pow(col("value")
          - (col("m") + col("alpha") * (col("gm") - col("m"))), 2))).as("rmse"))
        .collect()
        // a degenerate rung (train/test emptied by the fraction
        // filter) yields null/NaN rmse rows in Spark and NO rows in
        // the oracle's group-by — dropping them keeps the two engines
        // aligned and the cut well-defined instead of NPEing
        .flatMap(r =>
          if (r.isNullAt(1) || r.getDouble(1).isNaN) None
          else Some((r.getDouble(0), r.getDouble(1))))
        .toSeq.sortBy(t => (t._2, t._1))
    }
    var configs: Seq[Double] = (0 until 8).map(i => (i + 0.5) / 8.0)
    var board: Seq[(Double, Double)] = Nil
    for ((frac, keep) <- Seq((0.25, 4), (0.5, 2), (1.0, 2))) {
      board = rung(configs, frac)
      configs = board.take(keep).map(_._1)
    }
    board.zipWithIndex.map { case ((a, r), i) =>
      (i + 1L, a, math.rint(r * 1e4) / 1e4)
    }.toDF("rank", "alpha", "rmse")
  }

  /** M8 — forward selection (`feature_selection_numerai.py:157-246`,
    * `mean_decrease_accuracy_tune`): features ranked by a univariate
    * importance (the feat_score input), then for n = 1..7 the top-n
    * subset is scored under 2-fold era CV and the leaderboard is
    * sorted by held-out score — the reference's (n, spearman, qme)
    * output shape. The "model" is the deterministic additive
    * univariate-OLS pred = my + Σ beta_f (x_f - mx_f) fit on the fold
    * complement (the q_cv_group_mean precedent), so the whole loop is
    * ONE Catalyst plan and fully oracle-checkable.
    *
    * Scale shape: the reference scatters per-(n, fold) matrix copies
    * to workers; here the n x folds grid is a broadcast (ranks, betas,
    * ns are tiny), the fact is scanned once through the unpivot, and
    * the only wide shuffle is the groupBy on (n_feats, fold, vec_id).
    */
  def qForwardSelect(s: SparkSession, d: String): DataFrame = {
    val stackExpr = "stack(8, " +
      (0 until 8).map(i => s"'e_$i', e_$i").mkString(", ") + ") AS (feat, x)"
    // unpivot: one scan feeds every (feature, row) variant
    val long = featureFrame(s, d)
      .selectExpr("vec_id", "era % 2 AS fold", "target", stackExpr)
    // feat_score: univariate |corr| ranking (the MDA-score stand-in)
    val ranked = long.groupBy(col("feat"))
      .agg(abs(corr(col("x"), col("target"))).as("imp"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("imp").desc, col("feat"))).cast("long"))
      .select(col("feat"), col("rank"))
    val folds = s.range(0, 2).select(col("id").as("f"))
    val beta = long.join(broadcast(folds), col("fold") =!= col("f"))
      .groupBy(col("f"), col("feat").as("bfeat"))
      .agg((covar_samp(col("x"), col("target")) / var_samp(col("x"))).as("beta"),
        avg(col("x")).as("mx"), avg(col("target")).as("my"))
    val ns = s.range(1, 8).select(col("id").as("n_feats"))
    val contrib = long
      .join(broadcast(beta), col("fold") === col("f") && col("feat") === col("bfeat"))
      .join(broadcast(ranked), "feat")
      .crossJoin(broadcast(ns))
      .filter(col("rank") <= col("n_feats"))
    val preds = contrib
      .groupBy(col("n_feats"), col("fold"), col("vec_id"))
      .agg(max(col("target")).as("y"),
        (max(col("my")) + sum(col("beta") * (col("x") - col("mx")))).as("pred"))
    preds
      .groupBy(col("n_feats"), col("fold"))
      .agg(corr(col("y"), col("pred")).as("sc"),
        avg(pow(col("y") - col("pred"), 4)).as("qme_f"))
      .groupBy(col("n_feats"))
      .agg(round(avg(col("sc")), 6).as("score"),
        round(avg(col("qme_f")), 6).as("qme"))
      // ordered by the deterministic integer key, NOT the float score:
      // a 1-ulp cross-engine difference at a rounding boundary would
      // flip a score-ordered leaderboard and spuriously fail the
      // oracle's row-order hash (the score column itself still carries
      // the ranking information)
      .orderBy(col("n_feats"))
  }

  /** Deterministic univariate-OLS additive fitter (the q_cv_group_mean
    * / q_forward_select model family as a CrossVal-contract fitter):
    * per-feature beta/mean plus the target mean collected at the
    * driver edge (one tiny agg row per fold — |feats| numbers, the
    * legitimate collect edge), prediction a codegen'd expression. The
    * full-feature case of [[olsFitterNested]]. */
  def olsFitter(feats: Seq[String], target: String)
               (train: DataFrame): DataFrame => DataFrame =
    olsFitterNested(feats, target)(train)(feats)

  /** [[olsFitter]] for NESTED candidate scans
    * ([[graft.ml.Reduction.tuneOverKsSharedFit]]): each feature's
    * beta/mean is univariate — independent of which other features are
    * in the model — so ONE train aggregate over the full feature list
    * serves every prefix (each aggregate expression accumulates
    * independently of its siblings, so the collected values are the
    * per-subset fits'). */
  def olsFitterNested(feats: Seq[String], target: String)
                     (train: DataFrame): Seq[String] => DataFrame => DataFrame = {
    val aggs = feats.flatMap(f => Seq(
      (covar_samp(col(f), col(target)) / var_samp(col(f))).as(s"b_$f"),
      avg(col(f)).as(s"mx_$f"))) :+ avg(col(target)).as("my")
    val r = train.agg(aggs.head, aggs.tail: _*).head()
    // a zero-variance (constant) feature makes covar_samp/var_samp
    // NULL; treat the null beta as an explicit 0.0 (the feature
    // carries no signal) instead of relying on getAs[Double]'s silent
    // null-unboxing
    def num(name: String): Double = {
      val v = r.getAs[java.lang.Double](name)
      if (v == null) 0.0 else v.doubleValue()
    }
    val my = num("my")
    // fold starting from my (my + t0 + t1 + …), matching the DuckDB
    // oracle's left-to-right evaluation order exactly: double addition
    // is non-associative, and a (Σ terms) + my grouping can differ by
    // ulps, flipping a (pred, vec_id) row_number at a float boundary
    subset => test => test.withColumn("pred",
      subset.foldLeft(lit(my): org.apache.spark.sql.Column)((acc, f) =>
        acc + lit(num(s"b_$f")) * (col(f) - lit(num(s"mx_$f")))))
  }

  /** M12 — `tune_reduction_dask` (`tuners.py:149-252`, `:255-373`) as a
    * driver query: PCA component-count grid, each k fit on a
    * deterministic head sample, the projected data scored by 2-fold
    * era CV of the deterministic additive-OLS model (the reference
    * tunes "any sklearn reducer + estimator"; the OLS twin keeps the
    * whole loop deterministic). Rows-only check (PCA eigenvector
    * sign/order is engine-specific). Leaderboard rows are keyed by k;
    * `spearman` carries the ranking. */
  def qReductionTune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.ml.{Reduction, Scoring}
    // PCA components are nested (tuneReduction's one-fit-at-max(ks)
    // argument), and the additive-OLS fitter's per-component stats are
    // subset-independent — so the whole scan rides the shared-fit
    // nested loop: one PCA fit, one OLS aggregate per fold, one
    // leaderboard action (r18; was a fit per (k, fold) plus a collect
    // per k)
    val (reduced, _) = Reduction.pcaFitTransformOnHead(featureFrame(s, d),
      featCols, Seq(2, 4, 6).max, nFit = 500, orderCol = "vec_id")
    val lb = Reduction.tuneOverKsSharedFit(reduced,
      k => (0 until k).map(i => s"pc_$i"),
      Seq(2, 4, 6), "era", 2,
      pcs => olsFitterNested(pcs, "target"),
      sc => Scoring.scores(sc, col("era"), col("pred"), col("target"),
        9.0, col("vec_id")))
    // sort by k, not tuneReduction's score-descending order: raw
    // double score ties would make row order float-boundary-unstable
    // (the q_forward_select precedent)
    lb.sortBy(_._1)
      .map { case (k, sc) => (k.toLong, math.rint(sc * 1e6) / 1e6) }
      .toDF("k", "spearman")
  }

  /** Deterministic hash-fraction sample — the scale-safe rung subset
    * for qHyperband: a scan-local codegen'd predicate with no global
    * sort, no single-partition GlobalLimit funnel, and no extra
    * count() action (the orderBy+limit head form degenerates to a
    * driver-side pull at scale). Exposed for plan-shape tests. */
  def hashFraction(df: DataFrame, keyCol: String, frac: Double): DataFrame =
    if (frac >= 1.0) df
    else df.filter(pmod(xxhash64(col(keyCol)), lit(10000L))
      < lit(math.max(1L, (frac * 10000).toLong)))

  /** M11/M12 — PCA (the reference's reduction family) fit on a
    * deterministic head sample, transform distributed, emitted as
    * ORACLE-CHECKABLE spectrum invariants (the q_ace_corr twin
    * pattern, but folded into the query itself): at full rank the
    * projection is a rotation, so
    *
    *  - `fit_trace`   = Σᵢ var(pcᵢ) over the fit rows = trace(C), and
    *  - `fit_trace_sq`= Σᵢ var(pcᵢ)² = Σᵢ λᵢ² = trace(C²)
    *    (per-component fit-row variances ARE the eigenvalues — this
    *    pins the whole spectrum's first two power sums), and
    *  - `full_trace`  = Σᵢ var(pcᵢ) over the FULL distributed
    *    transform = Σᵢ var(eᵢ) (rotation preserves total variance,
    *    centering-free since variance is translation-invariant),
    *
    * all of which DuckDB recomputes from the 8-dim Gram/covariance
    * matrix with no eigendecomposition; `ortho_resid` = max|VᵀV−I|
    * from the k×k loading matrix driver-side pins orthonormality
    * (oracle: literal 0.0). Eigenvector sign/order — the part that is
    * engine-specific — cancels out of every emitted column. The k<d
    * reduction path stays exercised by q_reduction_tune. */
  def qPcaReduce(s: SparkSession, d: String): DataFrame = {
    import graft.ml.Reduction
    val k = featCols.length
    val (reduced, model) = Reduction.pcaFitTransformOnHead(
      featureFrame(s, d), featCols, k = k, nFit = 500, orderCol = "vec_id")
    val pcVars = (0 until k).map(i => var_samp(col(s"pc_$i")))
    val fit = reduced.orderBy(col("vec_id")).limit(500).agg(
      round(pcVars.reduce(_ + _), 5).as("fit_trace"),
      round(pcVars.map(v => v * v).reduce(_ + _), 5).as("fit_trace_sq"))
    val full = reduced.agg(
      round(pcVars.reduce(_ + _), 5).as("full_trace"),
      count(lit(1)).as("n"))
    val pc = model.pc
    var resid = 0.0
    for (i <- 0 until k; j <- 0 until k) {
      var dot = 0.0
      for (r <- 0 until pc.numRows) dot += pc(r, i) * pc(r, j)
      resid = math.max(resid, math.abs(dot - (if (i == j) 1.0 else 0.0)))
    }
    // two 1-row aggregates — the bounded-crossJoin shape
    fit.crossJoin(full).withColumn("ortho_resid", round(lit(resid), 6))
  }

  /** F8 — the singular-value spectrum of the 500-row head sample
    * (`#cell-14`/`#cell-92`'s `np.linalg.svd` EDA), descending.
    * Rows-only: σ has no closed-form ANSI recomputation. Its
    * correctness is pinned twice — SvdSpec checks σᵢ²/(n−1) of the
    * centered sample against the PCA eigenvalues, and
    * [[qSvdInvariants]] puts the Frobenius/orthonormality identities
    * under the DuckDB oracle. Only singular VALUES are emitted, so
    * the singular-vector sign ambiguity never reaches the output. */
  def qSvdTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (svd, _) = graft.ml.Reduction.svdOnHead(
      featureFrame(s, d), featCols, nFit = 500, orderCol = "vec_id")
    svd.s.toArray.zipWithIndex
      .map { case (sg, i) => (i.toLong, math.rint(sg * 1e4) / 1e4) }
      .toSeq.toDF("component", "sigma")
  }

  /** F8's oracle-green half: full-rank SVD invariants. Σσ² equals the
    * sample's squared Frobenius norm (DuckDB: plain sum of squares —
    * no eigendecomposition needed), σ comes out descending, and the
    * right singular vectors are orthonormal (driver-side k×k
    * residual, oracle literal 0.0). */
  def qSvdInvariants(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (svd, n) = graft.ml.Reduction.svdOnHead(
      featureFrame(s, d), featCols, nFit = 500, orderCol = "vec_id")
    val sg = svd.s.toArray
    val v = svd.V
    var resid = 0.0
    for (i <- 0 until v.numCols; j <- 0 until v.numCols) {
      var dot = 0.0
      for (r <- 0 until v.numRows) dot += v(r, i) * v(r, j)
      resid = math.max(resid, math.abs(dot - (if (i == j) 1.0 else 0.0)))
    }
    val desc = sg.zip(sg.drop(1)).forall { case (a, b) => a >= b }
    Seq((math.rint(sg.map(x => x * x).sum * 1e4) / 1e4,
      if (desc) 1L else 0L,
      math.rint(resid * 1e6) / 1e6, n))
      .toDF("sum_sigma_sq", "sigma_desc", "v_ortho_resid", "n")
  }

  /** A14 — the `timer` futures poller (`utils.py:58-86`) driver-checked
    * (r14; previously test-only): a real aggregation job runs under
    * [[graft.ml.Progress.tracked]] (SparkListener task tally), and the
    * emitted relation carries BOTH the job's answer (per-status order
    * counts — the oracle recomputes them) and the poller's invariants:
    * `tasks_ran` (the listener saw >= 1 finished task — a dead
    * listener emits FALSE and fails the hash) and `n_failed` (the
    * exact failed-task tally, pinned to 0). The 3-row collect is the
    * tracked body's own result, the A14 contract. */
  def qProgressPoll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (rows, fin, fail) = graft.ml.Progress.tracked(s) {
      Tables.orders(s, d).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n")).orderBy(col("o_orderstatus")).collect()
    }
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), fin > 0, fail))
      .toDF("o_orderstatus", "n", "tasks_ran", "n_failed")
      .orderBy(col("o_orderstatus"))
  }

  val queries: Map[String, Q] = Map(
    "q_progress_poll"    -> qProgressPoll,
    "q_forward_select"   -> qForwardSelect,
    "q_pca_reduce"       -> qPcaReduce,
    "q_svd_topk"         -> qSvdTopk,
    "q_svd_invariants"   -> qSvdInvariants,
    "q_reduction_tune"   -> qReductionTune,
    "q_hyperband"        -> qHyperband,
    "q_successive_halving" -> qSuccessiveHalving,
    "q_param_sweep"      -> qParamSweep,
    "q_cv_rf"            -> qCvRf,
    "q_mda_rf"           -> qMdaRf,
    "q_mda_ols"          -> qMdaOls,
    "q_shap_rf"          -> qShapRf,
    "q_shap_local_accuracy" -> qShapLocalAccuracy,
    "q_feature_clusters" -> qFeatureClusters,
    "q_cluster_silhouette" -> qClusterSilhouette,
    "q_reduction_tune_ols" -> qReductionTuneOls,
    "q_standardize"      -> qStandardize,
  )

  val oracles: Map[String, String] = Map(
    // A14 driver-checked: the tracked job's answer recomputed from
    // parquet; the listener invariants pinned (>=1 task finished, 0
    // failed)
    "q_progress_poll" ->
      """SELECT o_orderstatus, count(*) AS n, TRUE AS tasks_ran,
        |  CAST(0 AS BIGINT) AS n_failed
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // r14: q_cv_rf emits model-independent split/score invariants —
    // the oracle recomputes fold membership (rank-mod-3 over distinct
    // eras), coverage counts, and the train∩test overlap from the
    // parquet alone, equates n_scored to the test count (the RF must
    // score every row, non-null), and pins the score bounds TRUE
    // r14: q_hyperband emits the observed rung schedule; the oracle
    // regenerates it from the published hyperband arithmetic with
    // R=4, eta=2 (brackets s=2,1,0; n_i = max(1, n0 // eta^i);
    // frac_i = min(1, r0 * eta^i / R)) and pins all-finite scores
    "q_hyperband" ->
      """WITH br AS (SELECT CAST(s AS BIGINT) AS s FROM generate_series(2, 0, -1) t(s)),
        |rg AS (SELECT br.s, CAST(g.i AS BIGINT) AS rung
        |       FROM br, generate_series(0, 2) g(i) WHERE g.i <= br.s),
        |c AS (SELECT s, rung,
        |        greatest(1, CAST(ceil(3.0 / (s + 1) * power(2, s)) AS BIGINT)
        |                    // CAST(power(2, rung) AS BIGINT)) AS n_configs,
        |        least(1.0, 4 * power(2.0, -s) * power(2.0, rung) / 4) AS frac
        |      FROM rg)
        |SELECT row_number() OVER (ORDER BY s DESC, rung) AS call,
        |  n_configs, round(frac, 4) AS frac, n_configs AS n_scored,
        |  greatest(1, n_configs // 2) AS n_survivors, TRUE AS all_finite
        |FROM c ORDER BY call""".stripMargin,
    "q_cv_rf" ->
      """WITH e AS (SELECT DISTINCT vec_id % 10 AS era FROM embeddings),
        |f AS (SELECT era, CAST((row_number() OVER (ORDER BY era) - 1) % 3 AS BIGINT) AS fold
        |      FROM e),
        |m AS (SELECT emb.vec_id, f.era, f.fold
        |      FROM embeddings emb JOIN f ON emb.vec_id % 10 = f.era),
        |k AS (SELECT DISTINCT fold FROM f)
        |SELECT k.fold,
        |  (SELECT count(*) FROM m WHERE m.fold <> k.fold) AS n_train,
        |  (SELECT count(DISTINCT era) FROM m WHERE m.fold <> k.fold) AS eras_train,
        |  (SELECT count(*) FROM m WHERE m.fold = k.fold) AS n_test,
        |  (SELECT count(DISTINCT era) FROM m WHERE m.fold = k.fold) AS eras_test,
        |  (SELECT count(*) FROM m a JOIN m b ON a.vec_id = b.vec_id
        |     AND a.fold <> k.fold AND b.fold = k.fold) AS n_overlap,
        |  (SELECT count(*) FROM m WHERE m.fold = k.fold) AS n_scored,
        |  TRUE AS spearman_ok, TRUE AS qme_ok
        |FROM k ORDER BY fold""".stripMargin,
    // TreeSHAP local accuracy: (Σφ + base) − f(x) is identically 0,
    // so the oracle enumerates the explained sample (the 1000 lowest
    // vec_ids) with a literal-zero residual; any additivity break in
    // the engine's flatten/cover/attribution path fails the hash
    "q_shap_local_accuracy" ->
      """SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS resid
        |FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 1000)
        |ORDER BY vec_id""".stripMargin,
    // PAM BUILD (min total distance, then max cost reduction, ties by
    // index) + nearest-medoid assignment + silhouette terms, all on
    // the 1e-5-integer corr-distance matrix: every argmin/argmax and
    // every numerator/denominator is BIGINT arithmetic; only the
    // final s divides, and it divides identical integers
    "q_cluster_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |f AS (SELECT vec_id, pos, x FROM e WHERE pos <= 8),
        |cp AS (SELECT a.pos AS pa, b.pos AS pb, round(corr(a.x, b.x), 5) AS c
        |       FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.pos < b.pos
        |       GROUP BY 1, 2),
        |dm AS (SELECT pa AS i, pb AS j,
        |         CAST(100000 - round(abs(c) * 100000, 0) AS BIGINT) AS dv FROM cp
        |       UNION ALL
        |       SELECT pb, pa, CAST(100000 - round(abs(c) * 100000, 0) AS BIGINT) FROM cp
        |       UNION ALL
        |       SELECT DISTINCT pos, pos, CAST(0 AS BIGINT) FROM f),
        |tot AS (SELECT i, sum(dv) AS t FROM dm GROUP BY 1),
        |m1 AS (SELECT i AS m FROM tot ORDER BY t, i LIMIT 1),
        |nr AS (SELECT dm.i AS j, dm.dv AS nd FROM dm JOIN m1 ON dm.j = m1.m),
        |red AS (SELECT dm.i AS c, sum(greatest(0, nr.nd - dm.dv)) AS r
        |        FROM dm JOIN nr ON dm.j = nr.j
        |        WHERE dm.i <> (SELECT m FROM m1) GROUP BY 1),
        |m2 AS (SELECT c AS m FROM red ORDER BY r DESC, c LIMIT 1),
        |md AS (SELECT m1.m AS ma, m2.m AS mb FROM m1, m2),
        |asg AS (SELECT dm.i,
        |          max(CASE WHEN dm.j = md.ma THEN dm.dv END) AS d1,
        |          max(CASE WHEN dm.j = md.mb THEN dm.dv END) AS d2,
        |          any_value(md.ma) AS ma, any_value(md.mb) AS mb
        |        FROM dm, md WHERE dm.j IN (md.ma, md.mb) GROUP BY 1),
        |lab AS (SELECT i, CASE WHEN d1 < d2 THEN ma WHEN d2 < d1 THEN mb
        |                       ELSE least(ma, mb) END AS medoid_pos FROM asg),
        |sil AS (SELECT d.i, l.medoid_pos,
        |          CAST(COALESCE(sum(CASE WHEN lo.medoid_pos = l.medoid_pos
        |                                  AND d.j <> d.i THEN d.dv END), 0)
        |               AS BIGINT) AS a_num,
        |          count(CASE WHEN lo.medoid_pos = l.medoid_pos
        |                      AND d.j <> d.i THEN 1 END) AS a_den,
        |          CAST(sum(CASE WHEN lo.medoid_pos <> l.medoid_pos
        |                        THEN d.dv END) AS BIGINT) AS b_num,
        |          count(CASE WHEN lo.medoid_pos <> l.medoid_pos THEN 1 END) AS b_den
        |        FROM dm d JOIN lab l ON d.i = l.i JOIN lab lo ON d.j = lo.i
        |        GROUP BY 1, 2)
        |SELECT 'e_' || CAST(i - 1 AS VARCHAR) AS feature, medoid_pos,
        |  a_num, a_den, b_num, b_den,
        |  CASE WHEN a_den = 0 THEN 0.0
        |       ELSE round((CAST(b_num AS DOUBLE)/b_den - CAST(a_num AS DOUBLE)/a_den)
        |            / greatest(CAST(b_num AS DOUBLE)/b_den,
        |                       CAST(a_num AS DOUBLE)/a_den), 6)
        |  END AS s
        |FROM sil ORDER BY feature""".stripMargin,
    // the identity-reducer leaderboard: round-robin era folds,
    // additive univariate-OLS model (cov/var slope + means on the
    // train complement), within-era pct-rank method=first, Pearson of
    // rank vs target, fold-mean per k — generated per (k, fold)
    // the FULL MDA loop with the deterministic OLS fitter, unrolled
    // per fold: train-complement cov/var model → the two-row_number
    // positional permutation join on the test fold (same arithmetic
    // deal as the Spark side) → base + per-feature variant preds →
    // within-era pct-rank (method=first) → pooled Pearson per variant
    // → (base−shuff)/(1−shuff) normalize → fold average, rank desc
    "q_mda_ols" -> {
      val nf = 8
      val featsSel = (0 until nf)
        .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE) AS e_$i").mkString(", ")
      def mdl(f: Int): String = {
        val aggs = (0 until nf).map(i =>
          s"covar_samp(e_$i, target)/var_samp(e_$i) AS b_$i, avg(e_$i) AS mx_$i")
          .mkString(", ")
        s"mdl_$f AS (SELECT avg(target) AS my, $aggs FROM d WHERE fold <> $f)"
      }
      def perm(f: Int): String = {
        val es = (0 until nf).map(i => s"e_$i").mkString(", ")
        val ea = (0 until nf).map(i => s"a.e_$i").mkString(", ")
        val pb = (0 until nf).map(i => s"b.e_$i AS p_$i").mkString(", ")
        s"""ta_$f AS (SELECT era, vec_id, target, $es,
           |  row_number() OVER (PARTITION BY era ORDER BY vec_id) AS rn
           |  FROM d WHERE fold = $f),
           |tb_$f AS (SELECT era, $es,
           |  row_number() OVER (PARTITION BY era ORDER BY
           |    (vec_id * 2654435761 + ${42 + f} * 40503) % 999999937, vec_id) AS rn
           |  FROM d WHERE fold = $f),
           |tp_$f AS (SELECT a.era, a.vec_id, a.target, $ea, $pb
           |  FROM ta_$f a JOIN tb_$f b ON a.era = b.era AND a.rn = b.rn)""".stripMargin
      }
      // pred term order matches olsFitter's left-to-right fold from my
      def predExpr(permIdx: Int): String =
        "m.my + " + (0 until nf).map { i =>
          val x = if (i == permIdx) s"p_$i" else s"e_$i"
          s"($x - m.mx_$i) * COALESCE(m.b_$i, 0)"
        }.mkString(" + ")
      def pv(f: Int): String = {
        val base = s"SELECT '__base__' AS feat, era, vec_id, target, " +
          s"${predExpr(-1)} AS pred FROM tp_$f, mdl_$f m"
        val vars = (0 until nf).map(j =>
          s"SELECT 'e_$j', era, vec_id, target, ${predExpr(j)} FROM tp_$f, mdl_$f m")
        s"pv_$f AS (${(base +: vars).mkString("\nUNION ALL\n")})"
      }
      def sp(f: Int): String =
        s"""sp_$f AS (SELECT feat, corr(target, r) AS sp FROM (
           |  SELECT feat, target,
           |    CAST(row_number() OVER (PARTITION BY feat, era ORDER BY pred, vec_id) AS DOUBLE)
           |      / count(*) OVER (PARTITION BY feat, era) AS r
           |  FROM pv_$f)
           |  GROUP BY feat)""".stripMargin
      def imp(f: Int): String =
        s"""imp_$f AS (SELECT v.feat AS feature,
           |  CASE WHEN v.sp >= 1.0 THEN 0.0 ELSE (b.sp - v.sp)/(1.0 - v.sp) END AS imp
           |  FROM sp_$f v, (SELECT sp FROM sp_$f WHERE feat = '__base__') b
           |  WHERE v.feat <> '__base__')""".stripMargin
      val ctes = (0 until 2).flatMap(f => Seq(mdl(f), perm(f), pv(f), sp(f), imp(f)))
      s"""WITH e0 AS (SELECT vec_id, CAST(vec_id % 10 AS BIGINT) AS era,
         |    CAST(label AS DOUBLE) AS target, $featsSel
         |  FROM embeddings),
         |folds AS (SELECT era, CAST((row_number() OVER (ORDER BY era) - 1) % 2 AS BIGINT) AS fold
         |          FROM (SELECT DISTINCT era FROM e0)),
         |d AS (SELECT e0.*, f.fold FROM e0 JOIN folds f USING (era)),
         |${ctes.mkString(",\n")}
         |SELECT feature, round(avg(imp), 6) AS importance
         |FROM (SELECT * FROM imp_0 UNION ALL SELECT * FROM imp_1)
         |GROUP BY feature ORDER BY importance DESC, feature""".stripMargin
    },
    "q_reduction_tune_ols" -> {
      val ks = Seq(2, 4, 6)
      def mdl(k: Int, f: Int): String = {
        val aggs = (0 until k).map(i =>
          s"covar_samp(e_$i, target)/var_samp(e_$i) AS b_$i, avg(e_$i) AS mx_$i")
          .mkString(", ")
        s"mdl_${k}_$f AS (SELECT avg(target) AS my, $aggs FROM d WHERE fold <> $f)"
      }
      def pr(k: Int, f: Int): String = {
        val terms = (0 until k).map(i =>
          s"(d.e_$i - m.mx_$i) * COALESCE(m.b_$i, 0)").mkString(" + ")
        s"pr_${k}_$f AS (SELECT d.era, d.target, d.vec_id, m.my + $terms AS pred " +
          s"FROM d, mdl_${k}_$f m WHERE d.fold = $f)"
      }
      def sc(k: Int, f: Int): String =
        s"sc_${k}_$f AS (SELECT round(corr(target, r), 6) AS sp FROM (" +
          "SELECT target, CAST(row_number() OVER (PARTITION BY era ORDER BY pred, vec_id) AS DOUBLE)" +
          s" / count(*) OVER (PARTITION BY era) AS r FROM pr_${k}_$f))"
      val ctes = ks.flatMap(k => Seq(mdl(k, 0), mdl(k, 1), pr(k, 0), pr(k, 1), sc(k, 0), sc(k, 1)))
      val arms = ks.map(k =>
        s"SELECT CAST($k AS BIGINT) AS k, round((a.sp + b.sp)/2, 6) AS spearman " +
          s"FROM sc_${k}_0 a, sc_${k}_1 b")
      val feats = (0 until 8).map(i => s"CAST(embedding[${i + 1}] AS DOUBLE) AS e_$i").mkString(", ")
      s"""WITH e0 AS (SELECT vec_id, CAST(vec_id % 10 AS BIGINT) AS era,
         |    CAST(label AS DOUBLE) AS target, $feats
         |  FROM embeddings),
         |folds AS (SELECT era, CAST((row_number() OVER (ORDER BY era) - 1) % 2 AS BIGINT) AS fold
         |          FROM (SELECT DISTINCT era FROM e0)),
         |d AS (SELECT e0.*, f.fold FROM e0 JOIN folds f USING (era)),
         |${ctes.mkString(",\n")}
         |${arms.mkString("\nUNION ALL\n")}
         |ORDER BY k""".stripMargin
    },
    // PCA spectrum invariants: trace(C) / trace(C^2) over the 500-row
    // fit head, trace over the full table, all eigendecomposition-free
    // (power sums of the eigenvalues come straight from the covariance
    // entries); ortho_resid pinned at literal 0.0
    "q_pca_reduce" ->
      """WITH h AS (SELECT vec_id, embedding FROM embeddings
        |           ORDER BY vec_id LIMIT 500),
        |e0 AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM h),
        |e AS (SELECT * FROM e0 WHERE pos <= 8),
        |ft AS (SELECT sum(v) AS t FROM
        |       (SELECT var_samp(x) AS v FROM e GROUP BY pos)),
        |cv AS (SELECT a.pos AS pa, b.pos AS pb, covar_samp(a.x, b.x) AS c
        |       FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |fts AS (SELECT sum(c * c) AS t2 FROM cv),
        |ef0 AS (SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |ef AS (SELECT * FROM ef0 WHERE pos <= 8),
        |fl AS (SELECT sum(v) AS t FROM
        |       (SELECT var_samp(x) AS v FROM ef GROUP BY pos)),
        |nn AS (SELECT count(*) AS n FROM embeddings)
        |SELECT round(ft.t, 5) AS fit_trace, round(fts.t2, 5) AS fit_trace_sq,
        |  round(fl.t, 5) AS full_trace, nn.n AS n, 0.0 AS ortho_resid
        |FROM ft, fts, fl, nn""".stripMargin,
    // SVD invariants: the squared Frobenius norm of the head sample is
    // the full spectrum's Σσ² — a plain sum of squares in SQL
    "q_svd_invariants" ->
      """WITH h AS (SELECT vec_id, embedding FROM embeddings
        |           ORDER BY vec_id LIMIT 500),
        |e AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos FROM h),
        |ss AS (SELECT round(sum(x * x), 4) AS s FROM e WHERE pos <= 8),
        |nn AS (SELECT count(*) AS n FROM h)
        |SELECT ss.s AS sum_sigma_sq, CAST(1 AS BIGINT) AS sigma_desc,
        |  0.0 AS v_ortho_resid, nn.n AS n
        |FROM ss, nn""".stripMargin,
    // the full successive-halving bracket unrolled: rung fractions
    // 1/4 -> 1/2 -> 1 with keeps 4 -> 2, ranked by (rmse, alpha) —
    // deterministic because configs are a grid and the rung subset is
    // the md5-hash60 coin
    "q_successive_halving" ->
      """WITH ev AS (SELECT
        |    CAST(date_part('day', ts) AS BIGINT) % 2 AS fold, event_type, value,
        |    ('0x'||substr(md5('rung#'||event_id),1,15))::BIGINT % 10000 AS coin
        |  FROM events),
        |alphas AS (SELECT (unnest(generate_series(0, 7)) + 0.5) / 8 AS alpha),
        |h0 AS (SELECT * FROM ev WHERE coin < 2500),
        |gm0 AS (SELECT event_type, avg(value) AS gm FROM h0 WHERE fold = 0 GROUP BY 1),
        |m0 AS (SELECT avg(value) AS m FROM h0 WHERE fold = 0),
        |r0 AS (SELECT alpha,
        |         sqrt(avg(pow(value - (m + alpha * (gm - m)), 2))) AS rmse
        |       FROM h0 JOIN gm0 USING (event_type) CROSS JOIN m0 CROSS JOIN alphas
        |       WHERE fold = 1 GROUP BY 1),
        |k0 AS (SELECT alpha FROM r0 ORDER BY rmse, alpha LIMIT 4),
        |h1 AS (SELECT * FROM ev WHERE coin < 5000),
        |gm1 AS (SELECT event_type, avg(value) AS gm FROM h1 WHERE fold = 0 GROUP BY 1),
        |m1 AS (SELECT avg(value) AS m FROM h1 WHERE fold = 0),
        |r1 AS (SELECT alpha,
        |         sqrt(avg(pow(value - (m + alpha * (gm - m)), 2))) AS rmse
        |       FROM h1 JOIN gm1 USING (event_type) CROSS JOIN m1 CROSS JOIN k0
        |       WHERE fold = 1 GROUP BY 1),
        |k1 AS (SELECT alpha FROM r1 ORDER BY rmse, alpha LIMIT 2),
        |gm2 AS (SELECT event_type, avg(value) AS gm FROM ev WHERE fold = 0 GROUP BY 1),
        |m2 AS (SELECT avg(value) AS m FROM ev WHERE fold = 0),
        |r2 AS (SELECT alpha,
        |         sqrt(avg(pow(value - (m + alpha * (gm - m)), 2))) AS rmse
        |       FROM ev JOIN gm2 USING (event_type) CROSS JOIN m2 CROSS JOIN k1
        |       WHERE fold = 1 GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY rmse, alpha) AS BIGINT) AS rank,
        |  alpha, round(rmse, 4) AS rmse
        |FROM r2 ORDER BY rank""".stripMargin,
    "q_forward_select" -> {
      val feats = (0 until 8).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) AS e_$i").mkString(", ")
      val cases = (0 until 8).map(i =>
        s"WHEN 'e_$i' THEN e_$i").mkString(" ")
      val vals = (0 until 8).map(i => s"('e_$i')").mkString(", ")
      s"""WITH ff AS (SELECT vec_id, vec_id % 10 AS era,
         |    CAST(label AS DOUBLE) AS target, $feats FROM embeddings),
         |long AS (SELECT vec_id, era % 2 AS fold, target, fe.feat,
         |    CASE fe.feat $cases END AS x
         |  FROM ff, (VALUES $vals) fe(feat)),
         |ranked AS (SELECT feat,
         |    row_number() OVER (ORDER BY abs(corr(x, target)) DESC, feat) AS rank
         |  FROM long GROUP BY feat),
         |folds AS (SELECT unnest(generate_series(0, 1)) AS f),
         |beta AS (SELECT f, feat AS bfeat,
         |    covar_samp(x, target) / var_samp(x) AS beta,
         |    avg(x) AS mx, avg(target) AS my
         |  FROM long, folds WHERE fold != f GROUP BY 1, 2),
         |ns AS (SELECT unnest(generate_series(1, 7)) AS n_feats),
         |contrib AS (SELECT n_feats, l.fold, l.vec_id, l.target, b.my,
         |    b.beta * (l.x - b.mx) AS c
         |  FROM long l JOIN beta b ON l.fold = b.f AND l.feat = b.bfeat
         |       JOIN ranked r ON l.feat = r.feat
         |       CROSS JOIN ns
         |  WHERE r.rank <= n_feats),
         |preds AS (SELECT n_feats, fold, vec_id, max(target) AS y,
         |    max(my) + sum(c) AS pred
         |  FROM contrib GROUP BY 1, 2, 3),
         |scores AS (SELECT n_feats, fold, corr(y, pred) AS sc,
         |    avg(pow(y - pred, 4)) AS qme_f
         |  FROM preds GROUP BY 1, 2)
         |SELECT n_feats, round(avg(sc), 6) AS score, round(avg(qme_f), 6) AS qme
         |FROM scores GROUP BY 1 ORDER BY n_feats""".stripMargin
    },
    "q_param_sweep" ->
      """WITH ev AS (SELECT CAST(date_part('day', ts) AS BIGINT) % 2 AS fold,
        |    event_type, value FROM events),
        |folds AS (SELECT unnest(generate_series(0, 1)) AS f),
        |train AS (SELECT f, event_type, value FROM ev, folds WHERE fold != f),
        |gstats AS (SELECT f AS fg, avg(value) AS m FROM train GROUP BY 1),
        |grp AS (SELECT f, event_type AS et, avg(value) AS gm FROM train GROUP BY 1, 2),
        |alphas AS (SELECT unnest(generate_series(0, 4)) * 0.25 AS alpha),
        |scored AS (
        |  SELECT alpha, fold,
        |    sqrt(avg(pow(value - (m + alpha * (gm - m)), 2))) AS rmse_f
        |  FROM ev JOIN grp ON ev.fold = grp.f AND ev.event_type = grp.et
        |          JOIN gstats ON grp.f = gstats.fg
        |          CROSS JOIN alphas
        |  GROUP BY 1, 2)
        |SELECT alpha, round(avg(rmse_f), 4) AS rmse FROM scored
        |GROUP BY 1 ORDER BY rmse, alpha""".stripMargin,
    "q_standardize" ->
      """WITH head AS (SELECT o_totalprice FROM orders ORDER BY o_orderkey LIMIT 500),
        |stats AS (SELECT avg(o_totalprice) AS m, stddev_samp(o_totalprice) AS sd FROM head)
        |SELECT o_orderkey, round((o_totalprice - m) / sd, 4) AS o_totalprice_z
        |FROM orders, stats ORDER BY o_orderkey""".stripMargin,
  )
}
