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
  * [[bucketed]] offsets + (era, bucket) windows, bit-identical
  * output, no window partition ever spans an era; [[onePass]] is the
  * one dispatch between the two.
  */
object EraRank {

  /** Adds `out` = per-era percentile rank of `pred`, ties broken by
    * `tie` columns (the reference relies on pandas row order; an
    * explicit key makes it deterministic and oracle-stable). `era` is
    * the window's partition key: one era column, or several (MDA ranks
    * within (variant, era)).
    */
  def withPctRankFirst(df: DataFrame, out: String, era: Seq[Column],
                       pred: Column, tie: Column*): DataFrame = {
    val order = Window.partitionBy(era: _*).orderBy((pred +: tie).map(_.asc): _*)
    val whole = Window.partitionBy(era: _*)
    df.withColumn(out,
      row_number().over(order).cast("double") / count(lit(1)).over(whole))
  }

  /** TWO-PASS form of [[withPctRankFirst]] — the 100 TB scale path for
    * W1 (`metrics.py:19`), eliminating the single-reducer-per-era
    * hazard of `Window.partitionBy(era)` (one era = one task in the
    * one-pass form; at 100 TB an era is billions of rows): [[bucketed]]
    * offsets + a row_number over (era, bucket). Emitted values are
    * bit-identical to the one-pass form (EraRankTwoPassSpec pins row
    * equality on adversarial tie/null data and that no row_number
    * window partitions on the era alone). Cost profile vs the one-pass
    * window: ~2x at every size where one era still fits one task — the
    * ceiling-remover [[onePass]] switches to when it does not, not a
    * free speedup.
    */
  def withPctRankFirstTwoPass(df: DataFrame, out: String, buckets: Int,
                              era: Column, pred: Column, tie: Column*): DataFrame = {
    val keep = df.columns.map(col)
    bucketed(df.withColumn("graft_e", era), Seq("graft_e"), Seq(pred), buckets).head
      .withColumn(out, rowNumber("", pred, tie).cast("double") / col("graft_n"))
      .select((keep :+ col(out)): _*)
  }

  /** BOTH orderings' global per-era row numbers in ONE shared pass —
    * the positional-permutation cost cut (VERDICT r11 measured the
    * two independent single-ordering two-pass rankings at ~8x the
    * one-pass form; they re-derived the same base once per ordering).
    * One [[bucketed]] call fits both orderings' edges, persists the
    * double-bucketed base ONCE (read by the offsets aggregate and both
    * rank windows) and takes both orderings' offsets from one GROUPING
    * SETS pass. Returns the pair (rankedA,
    * rankedB): each is df's columns plus `out` = the global per-era
    * row number over its ordering, each window computed exactly ONCE,
    * both bit-identical to the one-pass row number (FoldsSpec pins
    * the permutation built on this against the one-pass form
    * row-for-row). The base registers to the caller's
    * [[graft.QueryScope]] and lives until that scope closes. */
  def withRowNumberTwoPassPair(df: DataFrame, out: String, buckets: Int,
                               era: Column,
                               predA: Column, tieA: Seq[Column],
                               predB: Column, tieB: Seq[Column])
      : (DataFrame, DataFrame) = {
    val keep = df.columns.map(col)
    val both = bucketed(df.withColumn("graft_e", era), Seq("graft_e"),
      Seq(predA, predB), buckets, persist = true)
    def ranked(i: Int, sfx: String, pred: Column, tie: Seq[Column]): DataFrame =
      both(i).withColumn(out, rowNumber(sfx, pred, tie)).select((keep :+ col(out)): _*)
    (ranked(0, "_a", predA, tieA), ranked(1, "_b", predB, tieB))
  }

  /** Global per-era row number on a [[bucketed]] frame: the exclusive
    * offset plus the row_number within (era, bucket). */
  private def rowNumber(sfx: String, pred: Column, tie: Seq[Column]): Column =
    col(s"graft_off$sfx") + row_number().over(
      Window.partitionBy(col("graft_e"), col(s"graft_bkt$sfx"))
        .orderBy((pred +: tie).map(_.asc): _*))

  /** The EXACT sketch-bucketed decomposition behind every scale form of
    * a per-group rank or running sum (this file's two-pass ranks,
    * [[ExactPercentile.grouped]]'s bucketed cum-count, and
    * `q_quantile_norm`'s per-dimension min-rank). It removes the one
    * task per group that a `Window.partitionBy(group)` costs:
    *  1. one sketch aggregate fits `buckets-1` coarse CDF edges of each
    *     ordering's `values` per group, on a ~10% value-hash sample of
    *     the first ordering. Only the monotonicity of the edges is
    *     used, so ANY edge set yields exact answers; the sample just
    *     trades bucket balance for a 10x cheaper sketch. Hashing the
    *     VALUE keeps it deterministic under any partitioning. The edges
    *     are FROZEN to plan literals ([[graft.Frozen]]): the sketch's
    *     merge is shuffle-fetch-order-sensitive, and two consumers
    *     seeing different edges would drop rows at the offset join;
    *  2. each row buckets by `#edges < value` — a pure function of the
    *     value, so ties always co-bucket and every row in a lower
    *     bucket has a strictly smaller value. Null values, all-null
    *     groups (a null edge array) and groups the sample missed (no
    *     edges row: the join is LEFT) all coalesce to bucket 0, where
    *     NULLS FIRST ordering already puts the nulls;
    *  3. per-(group, bucket) exact sums of `weight` cumsum into
    *     exclusive offsets, plus the group total, over a tiny
    *     #groups x buckets relation broadcast back. With several
    *     orderings all offsets come from ONE GROUPING SETS aggregate
    *     (one exchange, r18), frozen so each consumer reads literals.
    * The caller then runs its own window over (keys, bucket) ordered
    * by the ordering: offset + local `row_number`, `rank` or running
    * sum of `weight` is EXACTLY the global one, since strictly smaller
    * values are fully counted by the offset.
    *
    * Returns one frame per ordering: `df`'s columns plus every
    * ordering's bucket `graft_bkt<s>`, this ordering's offset
    * `graft_off<s>` and `graft_n`, the group's `weight` total (suffix
    * `s` is empty for one ordering and `_a`, `_b`, … for several).
    * `keys` name group columns of `df`; the edge arrays are #groups x
    * (buckets-1) values, so groups must be calendar-bounded (eras,
    * dimensions, percentile groups). `persist` shares the bucketed base
    * through the caller's [[graft.QueryScope]] — worth it for the
    * pair's three readers; for two (offsets + one rank) the 100x probe
    * measured persist-vs-rescan as a wash, and the rescan holds no
    * storage memory. Re-deriving is consistent, since bucketing is a pure
    * function of values and frozen literals.
    */
  def bucketed(df: DataFrame, keys: Seq[String], values: Seq[Column],
               buckets: Int = 32, weight: Column = lit(1L),
               persist: Boolean = false): Seq[DataFrame] = {
    require(buckets >= 2, s"need >=2 buckets, got $buckets")
    val ks = keys.map(col)
    val m = values.size
    val sfx = if (m == 1) Seq("") else values.indices.map(i => s"_${('a' + i).toChar}")
    val bkts = sfx.map(s => col(s"graft_bkt$s"))
    val pcts = array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)
    val sketches = values.zip(sfx).map { case (v, s) =>
      percentile_approx(v, pcts, lit(100)).as(s"graft_edges$s")
    }
    val edges = graft.Frozen.copy(df.filter(pmod(xxhash64(values.head), lit(10)) === 0)
      .groupBy(ks: _*).agg(sketches.head, sketches.tail: _*))
    val base = values.zip(sfx).foldLeft(df.join(broadcast(edges), keys, "left")) {
      case (f, (v, s)) => f.withColumn(s"graft_bkt$s",
        coalesce(size(filter(col(s"graft_edges$s"), ed => ed < v)), lit(0)))
    }.drop(sfx.map(s => s"graft_edges$s"): _*)
    val shared = if (persist) base.transform(graft.QueryScope.persist) else base
    // grouping-id bits run over (keys, bkts): ordering i's set omits
    // every other bucket column
    def gid(i: Int): Int = (1 << m) - 1 - (1 << (m - 1 - i))
    val part = Window.partitionBy((col("graft_gid") +: ks): _*)
    val offs = shared.groupingSets(bkts.map(ks :+ _), (ks ++ bkts): _*)
      .agg(sum(weight).as("graft_nb"), grouping_id().as("graft_gid"))
      .select((ks :+ col("graft_gid") :+ coalesce(bkts: _*).as("graft_bkt")
        :+ col("graft_nb")): _*)
      .withColumn("graft_off", coalesce(sum(col("graft_nb")).over(part
        .orderBy(col("graft_bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("graft_n", sum(col("graft_nb")).over(part))
      .transform(o => if (m > 1) graft.Frozen.copy(o) else o)
    // the offset join is null-safe on the group keys: a null key is one
    // group, as it is to the one-pass window's partitionBy
    val on = keys.indices.map(j => s"graft_k$j")
    sfx.zipWithIndex.map { case (s, i) =>
      val b = s"graft_bkt$s"
      val slice = offs.filter(col("graft_gid") === gid(i)).select((ks.zip(on)
        .map { case (k, j) => k.as(j) } :+ col("graft_bkt").as("graft_kb") :+
        col("graft_off").as(s"graft_off$s") :+ col("graft_n")): _*)
      val cond = keys.zip(on).map { case (k, j) => col(k) <=> col(j) }
        .foldLeft(col(b) === col("graft_kb"))(_ && _)
      shared.join(broadcast(slice), cond).drop(("graft_kb" +: on): _*)
    }
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

  /** The one era-size dispatch: true runs the one-pass era window,
    * false the two-pass form. Compares `maxEraRows` (the rows in the
    * largest era, evaluated only when needed) against the session's
    * `spark.graft.rank.onePassMaxEraRows` (default
    * [[DefaultOnePassMaxEraRows]]). A ceiling of 0 forces the two-pass
    * and skips the statistic, whose answer could not change the branch
    * (every era with >=1 row exceeds 0; both forms emit the identical
    * empty result on an empty relation). Callers that already hold the
    * statistic pass it (MDA: its per-fold TEST frame's largest era —
    * the variant tag multiplies window-partition COUNT, not size). */
  def onePass(df: DataFrame, maxEraRows: => Long): Boolean = {
    val ceiling = df.sparkSession.conf
      .get("spark.graft.rank.onePassMaxEraRows", DefaultOnePassMaxEraRows.toString)
      .toLong
    ceiling > 0L && maxEraRows <= ceiling
  }

  /** Rows in the largest era — the dispatch statistic. One
    * column-pruned count aggregate (era column only reaches the scan),
    * a price worth paying once per pipeline to avoid running the wrong
    * rank form at 100×. */
  def maxEraRows(df: DataFrame, era: Column): Long = {
    val r = df.groupBy(era).agg(count(lit(1)).as("graft_n"))
      .agg(max(col("graft_n"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Era-size-ADAPTIVE pct-rank: the [[onePass]] dispatch between the
    * one-pass window and the two-pass form. Both forms emit
    * bit-identical values (EraRankTwoPassSpec), so the dispatch is a
    * pure plan choice — the default entry point for callers that
    * don't know their era sizes in advance. */
  def withPctRankFirstAdaptive(df: DataFrame, out: String, era: Column,
                               pred: Column, tie: Seq[Column]): DataFrame =
    if (onePass(df, maxEraRows(df, era)))
      withPctRankFirst(df, out, Seq(era), pred, tie: _*)
    else
      withPctRankFirstTwoPass(df, out, 32, era, pred, tie: _*)

  /** [[spearmanByEra]] through the adaptive rank dispatch. */
  def spearmanByEraAdaptive(df: DataFrame, era: Column, pred: Column,
                            truth: Column, tie: Seq[Column]): DataFrame =
    withPctRankFirstAdaptive(df, "graft_r", era, pred, tie)
      .agg(round(corr(truth, col("graft_r")), 6).as("spearman"))

  /** M2 `spearman_rank` (`metrics.py:5-22`): per-era pct-rank the
    * predictions, then Pearson-correlate the ranks with the truth over
    * ALL rows — one global aggregate, one row out.
    */
  def spearmanByEra(df: DataFrame, era: Column, pred: Column, truth: Column,
                    tie: Column*): DataFrame = {
    withPctRankFirst(df, "graft_r", Seq(era), pred, tie: _*)
      .agg(round(corr(truth, col("graft_r")), 6).as("spearman"))
  }

  /** Per-era Spearman variant (the notebook's per-era diagnostics):
    * one correlation row per era.
    */
  def spearmanPerEra(df: DataFrame, era: Column, pred: Column, truth: Column,
                     tie: Column*): DataFrame = {
    withPctRankFirst(df.withColumn("graft_era", era), "graft_r",
        Seq(col("graft_era")), pred, tie: _*)
      .groupBy(col("graft_era").as("era"))
      .agg(round(corr(truth, col("graft_r")), 6).as("spearman"))
  }

  /** P8 payout clip (`utils.py:55`): ((s-0)/0.2) clamped to [-1, 1]. */
  def payoutClip(score: Column): Column =
    least(lit(1.0), greatest(lit(-1.0), score / 0.2))
}
