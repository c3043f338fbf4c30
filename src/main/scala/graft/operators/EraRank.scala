package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Era-partitioned rank/score operators — the scoring heart of the
  * reference (`metrics.py:5-33`).
  *
  * W1 (`metrics.py:19`): pandas `groupby('era').rank(pct=True,
  * method="first")`. `method="first"` breaks ties by order of
  * appearance, so the Spark equivalent is `row_number` over a
  * deterministic tie-broken ordering divided by the era row count —
  * NOT SQL `percent_rank()` (which is `(rank-1)/(n-1)` with shared
  * ranks for ties).
  *
  * Scale: the one-pass window partitions by era — each era's rows
  * hash to one shuffle partition, fine at <= a few M rows/era. Past
  * that, [[withPctRankFirstTwoPass]] is the implemented mitigation:
  * sketch-bucketed offsets + (era, bucket) windows, bit-identical
  * output, no window partition ever spans an era.
  */
object EraRank {

  /** Adds `out` = per-era percentile rank of `pred`, ties broken by
    * `tie` columns (the reference relies on pandas row order; an
    * explicit key makes it deterministic and oracle-stable).
    */
  def withPctRankFirst(df: DataFrame, out: String, era: Column,
                       pred: Column, tie: Column*): DataFrame = {
    val order = Window.partitionBy(era).orderBy((pred +: tie).map(_.asc): _*)
    val whole = Window.partitionBy(era)
    df.withColumn(out,
      row_number().over(order).cast("double") / count(lit(1)).over(whole))
  }

  /** TWO-PASS form of [[withPctRankFirst]] — the 100 TB scale path for
    * W1 (`metrics.py:19`), eliminating the single-reducer-per-era
    * hazard of `Window.partitionBy(era)` (one era = one task in the
    * one-pass form; at 100 TB an era is billions of rows).
    *
    * Same sketch-CDF decomposition [[graft.queries.SimilarityPack
    * .qQuantileNorm]] ships per-dimension, here per-era:
    *  1. a partial+final sketch aggregate fits `buckets-1` coarse CDF
    *     edges of `pred` per era plus the exact era row count
    *     (accuracy is irrelevant — only monotonicity is used);
    *  2. each row buckets by `#edges < pred` — a pure function of the
    *     VALUE, so ties on `pred` always co-bucket and bucketing is
    *     monotone (every row in a lower bucket has strictly smaller
    *     `pred`). Crucially the bucket does not depend on physical
    *     partitioning, so the two passes can never disagree;
    *  3. bucket counts cumsum into exclusive offsets over a tiny
    *     (#eras × buckets) relation, broadcast back;
    *  4. `row_number` over (pred, tie…) within (era, bucket) — each
    *     window partition now holds ~1/buckets of an era, and the
    *     fan-out widens with `buckets` as eras grow.
    * offset + local row_number is EXACTLY the global per-era
    * row_number: ties on `pred` co-bucket (so the tie columns order
    * them within one window partition) and strictly-smaller values are
    * fully counted by the offset. Emitted values are bit-identical to
    * the one-pass form (EraRankTwoPassSpec pins row equality on
    * adversarial tie/null data and that no row_number window
    * partitions on the era alone).
    */
  def withPctRankFirstTwoPass(df: DataFrame, out: String, buckets: Int,
                              era: Column, pred: Column, tie: Column*): DataFrame = {
    val keep = df.columns.map(col)
    twoPassRank(df, buckets, era, pred, tie)
      .withColumn(out, col("graft_rn").cast("double") / col("graft_n"))
      .select((keep :+ col(out)): _*)
  }

  /** [[graft.Frozen.copy]] — every consumer provably shares one value
    * set. Only for calendar-bounded relations (the per-era edge
    * arrays: #eras x (buckets-1) doubles). */
  private def frozenCopy(df: DataFrame): DataFrame = graft.Frozen.copy(df)

  /** BOTH orderings' global per-era row numbers in ONE shared pass —
    * the positional-permutation cost cut (VERDICT r11 measured the
    * two independent single-ordering two-pass rankings at ~8x the
    * one-pass form; they re-derived the same base once per ordering
    * across sketch, offset, and rank stages). Here: one fused sketch
    * aggregate fits both orderings' edges (the B sketch rides the A
    * value-hash sample — bias is irrelevant, only edge monotonicity
    * is used), the double-bucketed base is persisted ONCE and shared
    * by both offset aggregates and both rank windows, and the frozen
    * edges make every recompute path consistent by construction.
    * Returns the pair (rankedA, rankedB): each is df's columns plus
    * `out` = the global per-era row number over its ordering, each
    * window computed exactly ONCE (no diamond), both bit-identical to
    * the row number of an independent single-ordering two-pass rank
    * (the integer core of [[withPctRankFirstTwoPass]]; FoldsSpec pins the
    * permutation built on this against the one-pass form
    * row-for-row). The base registers to the caller's
    * [[graft.QueryScope]] and lives until that scope closes. */
  def withRowNumberTwoPassPair(df: DataFrame, out: String, buckets: Int,
                               era: Column,
                               predA: Column, tieA: Seq[Column],
                               predB: Column, tieB: Seq[Column])
      : (DataFrame, DataFrame) = {
    require(buckets >= 2, s"need >=2 buckets, got $buckets")
    val keep = df.columns.map(col)
    val base = df.withColumn("graft_e", era)
    val pcts = array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)
    val sampled = base.filter(pmod(xxhash64(predA), lit(10)) === 0)
    val edges = frozenCopy(sampled.groupBy(col("graft_e")).agg(
      percentile_approx(predA, pcts, lit(100)).as("graft_edges_a"),
      percentile_approx(predB, pcts, lit(100)).as("graft_edges_b")))
    val bucketed = base.join(broadcast(edges), Seq("graft_e"), "left")
      .withColumn("graft_bkt_a",
        coalesce(size(filter(col("graft_edges_a"), ed => ed < predA)), lit(0)))
      .withColumn("graft_bkt_b",
        coalesce(size(filter(col("graft_edges_b"), ed => ed < predB)), lit(0)))
      .drop("graft_edges_a", "graft_edges_b")
      // persisted, unlike the single form's rescan diamond: FOUR
      // consumers (two offset aggregates + the two ranked frames) tip
      // the persist-vs-rescan wash the probe measured for two.
      // Recompute after eviction stays consistent: bucketing is a
      // pure function of values and frozen literals.
      .transform(graft.QueryScope.persist)
    // BOTH orderings' exclusive offsets in ONE pass over the cached
    // base (r18): the two per-ordering groupBy(e, bkt) aggregates fold
    // into a single GROUPING SETS aggregate — one exchange instead of
    // two — whose cumsum window runs once partitioned by (grouping id,
    // era). The tiny result (#eras × buckets × 2 rows, exact integer
    // counts) is frozen to plan literals like the edges, so each rank
    // branch broadcasts a LocalRelation slice instead of re-running
    // its own aggregate pipeline over the base.
    // gid bits over (e, bkt_a, bkt_b): the A set omits bkt_b -> 1,
    // the B set omits bkt_a -> 2.
    val cumW = Window
      .partitionBy(col("graft_gid"), col("graft_e"))
      .orderBy(coalesce(col("graft_bkt_a"), col("graft_bkt_b")))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsAll = frozenCopy(bucketed
      .groupingSets(
        Seq(Seq(col("graft_e"), col("graft_bkt_a")),
          Seq(col("graft_e"), col("graft_bkt_b"))),
        col("graft_e"), col("graft_bkt_a"), col("graft_bkt_b"))
      .agg(count(lit(1)).as("graft_nb"), grouping_id().as("graft_gid"))
      .withColumn("graft_off",
        coalesce(sum(col("graft_nb")).over(cumW), lit(0L)))
      .select(col("graft_gid"), col("graft_e"),
        coalesce(col("graft_bkt_a"), col("graft_bkt_b")).as("graft_bkt"),
        col("graft_off")))
    def ranked(gid: Int, bkt: String, pred: Column, tie: Seq[Column]): DataFrame = {
      val offs = offsAll.filter(col("graft_gid") === gid)
        .select(col("graft_e"), col("graft_bkt").as(bkt), col("graft_off"))
      bucketed.join(broadcast(offs), Seq("graft_e", bkt))
        .withColumn(out, col("graft_off") + row_number().over(
          Window.partitionBy(col("graft_e"), col(bkt))
            .orderBy((pred +: tie).map(_.asc): _*)))
        .select((keep :+ col(out)): _*)
    }
    (ranked(1, "graft_bkt_a", predA, tieA), ranked(2, "graft_bkt_b", predB, tieB))
  }

  private def twoPassRank(df: DataFrame, buckets: Int, era: Column,
                          pred: Column, tie: Seq[Column]): DataFrame = {
    require(buckets >= 2, s"need >=2 buckets, got $buckets")
    val base = df.withColumn("graft_e", era)
    val pcts = array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)
    // the sketch pass runs on a ~10% value-hash sample: ONLY the
    // monotonicity of the edges is used (exactness comes from the
    // offset/rank phase), so ANY edge set — even from a biased sample —
    // yields exactly correct ranks; sampling just trades bucket-size
    // balance for a 10x cheaper sketch pass (at 100 TB, sketching a
    // sample vs the corpus). Hashing the VALUE keeps the sample
    // deterministic under any partitioning; an era missed entirely by
    // the sample degrades to one bucket (the null-edges path below),
    // never to a wrong answer
    val sampled = base.filter(pmod(xxhash64(pred), lit(10)) === 0)
    val edgesAgg = sampled.groupBy(col("graft_e")).agg(
      percentile_approx(pred, pcts, lit(100)).as("graft_edges"))
    // edges FROZEN at build time: the GK sketch's merge is
    // shuffle-fetch-order-sensitive, so re-instantiating this subtree
    // in both the offset aggregate and the final join could compute
    // DIFFERENT boundaries wherever exchange reuse is off or plan
    // canonicalization diverges — and inconsistent edges drop rows at
    // the inner (era, bucket) offset join. Collecting the tiny
    // (#eras x buckets-1) relation and re-literalizing it makes the
    // boundaries plan CONSTANTS: every consumer provably sees the
    // same edges, with no exchange-reuse or cache reliance. #eras is
    // calendar-bounded — the same cardinality assumption that lets
    // `offs` broadcast. (Exactness never depended on WHICH edges:
    // any internally-consistent set yields the exact ranks.)
    val edges = frozenCopy(edgesAgg)
    // LEFT join: an era the sample missed has no edges row and must
    // keep its rows (single-bucket era), not lose them
    val bucketed = base.join(broadcast(edges), Seq("graft_e"), "left")
      // coalesce: null pred rows (filter lambda yields null), all-null
      // eras (sketch yields a null edge array), and sample-missed eras
      // (no edges row at all) all co-bucket at 0, where NULLS FIRST
      // ordering already places the null preds — without it a null
      // bucket key would silently drop rows at the offset join
      .withColumn("graft_bkt",
        coalesce(size(filter(col("graft_edges"), ed => ed < pred)), lit(0)))
      .drop("graft_edges")
    // deliberately NOT persisted: both the offset aggregate and the
    // final join consume `bucketed`, so Catalyst re-expands the
    // diamond into repeated scans — but those are columnar,
    // column-pruned, embarrassingly parallel reads, LINEAR in the
    // data. The 100x probe measured persist-vs-rescan as a wash in
    // wall time (28.0 s vs 29.9 s at 100x — by then the cached
    // relation outgrows storage memory and spills), and the rescan
    // form holds ZERO storage memory, so it composes with whatever
    // else a real pipeline has cached. (Recomputation is CORRECT
    // regardless: bucketing is a pure function of values, never of
    // physical layout.) Cost profile vs the one-pass window: ~2x at
    // every size where one era still fits one task — the two-pass
    // form is the ceiling-remover you switch to when it does not,
    // not a free speedup.
    // the tiny (#eras x buckets) relation carries the exclusive offset
    // AND the exact per-era total (summed from the exact bucket counts
    // — the sketch pass never needs to count)
    val offs = bucketed.groupBy(col("graft_e"), col("graft_bkt"))
      .agg(count(lit(1)).as("graft_nb"))
      .withColumn("graft_off", coalesce(
        sum(col("graft_nb")).over(Window.partitionBy(col("graft_e"))
          .orderBy(col("graft_bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("graft_n",
        sum(col("graft_nb")).over(Window.partitionBy(col("graft_e"))))
      .select(col("graft_e"), col("graft_bkt"), col("graft_off"), col("graft_n"))
    bucketed.join(broadcast(offs), Seq("graft_e", "graft_bkt"))
      .withColumn("graft_rn",
        col("graft_off") + row_number().over(
          Window.partitionBy(col("graft_e"), col("graft_bkt"))
            .orderBy((pred +: tie).map(_.asc): _*)))
  }

  /** Rows in the LARGEST era above which the one-pass era window (one
    * shuffle partition — one task — per era) is dispatched to the
    * two-pass sketch-bucketed form. The measured crossover (SCALE.md
    * permutation pair): one-pass wins while an era fits one task (the
    * two-pass runs a whole extra rank pipeline, ~2× at small eras) and
    * loses hard once it doesn't (23.7× vs 5.5× wall at 100× data,
    * ~700k rows/era on the probe box). 1M rows ≈ the point where a
    * single sort task stops being comfortable on a default executor;
    * override per session via `spark.graft.rank.onePassMaxEraRows`. */
  val DefaultOnePassMaxEraRows: Long = 1000000L

  private def resolveOnePassCeiling(df: DataFrame, explicit: Long): Long =
    if (explicit >= 0) explicit
    else df.sparkSession.conf
      .get("spark.graft.rank.onePassMaxEraRows", DefaultOnePassMaxEraRows.toString)
      .toLong

  /** The session's resolved one-pass ceiling (conf or default) — for
    * callers that dispatch on a statistic they compute themselves
    * (MDA measures its per-fold TEST frame: the variant tag multiplies
    * window-partition COUNT, not size, so the test frame's largest era
    * is the honest dispatch statistic for the 9×-tagged union). */
  def onePassCeiling(df: DataFrame): Long = resolveOnePassCeiling(df, -1L)

  /** Rows in the largest era — the dispatch statistic. One
    * column-pruned count aggregate (era column only reaches the scan),
    * a price worth paying once per pipeline to avoid running the wrong
    * rank form at 100×. Callers that already know their era sizes (or
    * have catalog stats) should call the specific form directly. */
  def maxEraRows(df: DataFrame, era: Column): Long = {
    val r = df.groupBy(era).agg(count(lit(1)).as("graft_n"))
      .agg(max(col("graft_n"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Era-size-ADAPTIVE pct-rank: measures the largest era and picks
    * the one-pass window below the task-size crossover, the two-pass
    * sketch-bucketed form above it. Both forms emit bit-identical
    * values (EraRankTwoPassSpec), so the dispatch is a pure plan
    * choice — the default entry point for callers that don't know
    * their era sizes in advance. `onePassMaxEraRows`: -1 resolves the
    * session conf / [[DefaultOnePassMaxEraRows]]; an explicit 0 forces
    * the two-pass form (how the driver's `q_*_two_pass` rows keep the
    * ceiling-remover machinery oracle-checked through the dispatcher). */
  def withPctRankFirstAdaptive(df: DataFrame, out: String, era: Column,
                               pred: Column, tie: Seq[Column],
                               buckets: Int = 32,
                               onePassMaxEraRows: Long = -1L): DataFrame = {
    // ceiling 0 = two-pass unconditionally: skip the dispatch count
    // aggregate (a full column-pruned scan) whose answer cannot change
    // the branch — every era with >=1 row exceeds 0, and on an empty
    // relation both forms emit the identical empty result
    val ceiling = resolveOnePassCeiling(df, onePassMaxEraRows)
    if (ceiling > 0L && maxEraRows(df, era) <= ceiling)
      withPctRankFirst(df, out, era, pred, tie: _*)
    else
      withPctRankFirstTwoPass(df, out, buckets, era, pred, tie: _*)
  }

  /** [[spearmanByEra]] through the adaptive rank dispatch. */
  def spearmanByEraAdaptive(df: DataFrame, era: Column, pred: Column,
                            truth: Column, tie: Seq[Column],
                            onePassMaxEraRows: Long = -1L): DataFrame =
    withPctRankFirstAdaptive(df, "graft_r", era, pred, tie,
        onePassMaxEraRows = onePassMaxEraRows)
      .agg(round(corr(truth, col("graft_r")), 6).as("spearman"))

  /** M2 `spearman_rank` (`metrics.py:5-22`): per-era pct-rank the
    * predictions, then Pearson-correlate the ranks with the truth over
    * ALL rows — one global aggregate, one row out.
    */
  def spearmanByEra(df: DataFrame, era: Column, pred: Column, truth: Column,
                    tie: Column*): DataFrame = {
    withPctRankFirst(df, "graft_r", era, pred, tie: _*)
      .agg(round(corr(truth, col("graft_r")), 6).as("spearman"))
  }

  /** [[spearmanByEra]] on the [[withPctRankFirstTwoPass]] rank path —
    * same answer (the rank column is bit-identical), scale-safe window
    * fan-out. This is the form to run when any single era outgrows one
    * task. */
  def spearmanByEraTwoPass(df: DataFrame, era: Column, pred: Column,
                           truth: Column, tie: Column*): DataFrame = {
    withPctRankFirstTwoPass(df, "graft_r", 32, era, pred, tie: _*)
      .agg(round(corr(truth, col("graft_r")), 6).as("spearman"))
  }

  /** Per-era Spearman variant (the notebook's per-era diagnostics):
    * one correlation row per era.
    */
  def spearmanPerEra(df: DataFrame, era: Column, pred: Column, truth: Column,
                     tie: Column*): DataFrame = {
    withPctRankFirst(df.withColumn("graft_era", era), "graft_r",
        col("graft_era"), pred, tie: _*)
      .groupBy(col("graft_era").as("era"))
      .agg(round(corr(truth, col("graft_r")), 6).as("spearman"))
  }

  /** P8 payout clip (`utils.py:55`): ((s-0)/0.2) clamped to [-1, 1]. */
  def payoutClip(score: Column): Column =
    least(lit(1.0), greatest(lit(-1.0), score / 0.2))
}
