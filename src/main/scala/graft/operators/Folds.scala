package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Era-grouped fold machinery (`utils.py:11-48` `kfold_era`) and the
  * column-permutation primitive behind MDA (`feature_selection_numerai
  * .py:127-129`).
  *
  * The reference shuffles the distinct eras on the driver and splits
  * them into k blocks; rows follow their era. Spark form: a tiny
  * fold-assignment relation (one row per era) broadcast-joined back to
  * the fact — the join IS the `era.isin(fold_eras)` semi-join
  * (`utils.py:34`). At 100 TB the fact side never moves: the fold
  * table is a broadcast, so fold selection is a map-side filter.
  */
object Folds {

  /** M1 deterministic variant: fold = (rank of era) mod k. Stable across
    * engines, so oracle-checkable; use for reproducible CV splits. */
  def foldAssignment(distinctEras: DataFrame, eraCol: String, k: Int): DataFrame =
    distinctEras
      .withColumn("fold",
        ((row_number().over(Window.orderBy(col(eraCol))) - 1) % k).cast("long"))

  /** Scoped fold split. The fold table — [[foldAssignment]] over a
    * per-era row-count aggregate, so there is still one fold rule — is
    * collected once and joined back to `df` as a broadcast local
    * relation (literal rows, so no consumer re-derives it). The
    * joined frame is persisted, handed to `body`
    * with the largest era's row count (the [[EraRank.onePass]]
    * dispatch statistic, read off the same collect), and released
    * with `body`'s own [[graft.QueryScope]] when `body` returns or
    * throws. Every fold branch (and every candidate scored against the
    * same split) re-reads the one persisted join. `body` must finish
    * every action on the frame before it returns. */
  def withFoldSplit[A](df: DataFrame, eraCol: String, k: Int)(
      body: (DataFrame, Long) => A): A =
    graft.QueryScope.run {
      val eras = foldAssignment(
        df.groupBy(col(eraCol)).agg(count(lit(1)).as("graft_n")), eraCol, k)
        .collect()
      val schema = StructType(Seq(df.schema(eraCol), StructField("fold", LongType)))
      val folds = df.sparkSession.createDataFrame(
        eras.map(r => Row(r.get(0), r.getLong(2))).toSeq.asJava, schema)
      val maxEraRows = eras.map(_.getLong(1)).maxOption.getOrElse(0L)
      body(df.join(broadcast(folds), eraCol).transform(graft.QueryScope.persist),
        maxEraRows)
    }

  /** M1 seeded-random variant (`utils.py:26-29`: np.random.shuffle of
    * unique eras + array_split). Distinct eras are few by construction
    * (they are time buckets), so the shuffle runs driver-side on the
    * collected era list — same as the reference — and returns a small
    * assignment relation to broadcast.
    */
  def eraKFoldRandom(distinctEras: DataFrame, eraCol: String, k: Int,
                     seed: Long): DataFrame = {
    val spark = distinctEras.sparkSession
    import spark.implicits._
    val eras = distinctEras.select(col(eraCol).cast("long")).as[Long].collect().sorted
    val rnd = new scala.util.Random(seed)
    val shuffled = rnd.shuffle(eras.toVector)
    // np.array_split semantics: first (n % k) folds get one extra era.
    val n = shuffled.size
    val base = n / k; val extra = n % k
    val assigned = Iterator.unfold((0, 0)) { case (f, off) =>
      if (f >= k) None
      else {
        val sz = base + (if (f < extra) 1 else 0)
        Some((shuffled.slice(off, off + sz).map(e => (e, f.toLong)), (f + 1, off + sz)))
      }
    }.flatten.toSeq
    assigned.toDF(eraCol, "fold")
  }

  /** M1/T3 hash-shuffled variant, oracle-checkable: the "shuffle" is a
    * deterministic md5-hash ordering of the eras (the `q_split_assign`
    * md5-hash60 trick — reproducible in any engine, stable under
    * repartitioning), then np.array_split block sizing over the hash
    * order: the first (n % k) folds get one extra era. Unlike
    * [[eraKFoldRandom]] this never collects — position and fold are
    * window/arithmetic columns — though the era relation is tiny
    * either way (eras are time buckets; the single-task global window
    * is over #eras rows, not the fact). */
  def eraKFoldHashed(distinctEras: DataFrame, eraCol: String, k: Int,
                     salt: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // Column./ is DOUBLE division; all fold arithmetic is exact
    // non-negative integer math, so floor-divide explicitly
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val h = TextOps.hash60(concat_ws("#", lit(salt), col(eraCol)))
    val pos = (row_number().over(Window.orderBy(h, col(eraCol))) - 1).cast("long")
    val n = count(lit(1)).over(Window.partitionBy())
    val base = idiv(n, lit(k))  // era count per small fold
    val extra = n % k           // first `extra` folds take base+1 eras
    val cut = (base + 1) * extra
    // base can be 0 when n < k: every era is then in the first-`extra`
    // region (cut = n), so the otherwise-branch division never runs on 0
    val fold = when(pos < cut, idiv(pos, base + 1))
      .otherwise(extra + idiv(pos - cut, base))
    distinctEras.withColumn("fold", fold.cast("long"))
  }

  /** T5 batched form: permute SEVERAL columns in one two-ordering join
    * (all receive the same re-deal). Adds `<col>_perm` columns. Used by
    * MDA, where per-feature variants then become pure projections —
    * one shuffle for the whole feature set instead of one per feature.
    */
  def permuteManyWithinEra(df: DataFrame, valueCols: Seq[String], eraCol: String,
                           idCols: Seq[String], orderKey: Column): DataFrame = {
    val ids = idCols.map(col)
    val wId = Window.partitionBy(col(eraCol)).orderBy(ids.map(_.asc): _*)
    val wKey = Window.partitionBy(col(eraCol))
      .orderBy((orderKey +: ids).map(_.asc): _*)
    val a = df.withColumn("graft_rn", row_number().over(wId))
    val b = df.withColumn("graft_rn", row_number().over(wKey))
      .select((col(eraCol).as("graft_era_b") +: col("graft_rn").as("graft_rn_b")
        +: valueCols.map(c => col(c).as(s"${c}_perm"))): _*)
    a.join(b, a(eraCol) === col("graft_era_b") &&
        col("graft_rn") === col("graft_rn_b"))
      .drop("graft_rn", "graft_rn_b", "graft_era_b")
  }

  /** TWO-PASS form of [[permuteWithinEra]] — the 100x-scale path the
    * probe motivated: one-pass `q_permute_era` measured 23x wall for
    * 100x data because BOTH its ranking windows partition by era
    * alone (one task per era, the W1 hazard again). Here both
    * orderings' per-era row numbers come from
    * [[EraRank.withRowNumberTwoPassPair]] ([[EraRank.bucketed]]
    * offsets + (era, bucket) windows — no window partition ever spans
    * an era), and the positional join keys on (era, rn), which is
    * unique per era — no skew. Requires numeric id-head and orderKey columns
    * (they feed the bucket sketch). Row-identical to the one-pass
    * form (FoldsSpec pins it): the ranks themselves are bit-equal.
    */
  def permuteWithinEraTwoPass(df: DataFrame, valueCol: String, eraCol: String,
                              idCols: Seq[String], orderKey: Column,
                              buckets: Int = 32): DataFrame = {
    val ids = idCols.map(col)
    val keep = df.columns.filterNot(_ == valueCol).map(col)
    // SHARED-pass form (r12, VERDICT task 7): both orderings' ranks
    // come from ONE fused sketch aggregate and ONE persisted bucketed
    // base ([[EraRank.withRowNumberTwoPassPair]]) instead of
    // two independent two-pass pipelines — the prior form re-derived
    // the same base per ordering and measured ~8x the one-pass at
    // sizes where an era fits one task. Each rank window still
    // computes exactly once. Like the rank form, this is the CEILING
    // REMOVER for eras that outgrow a task, not the small-era default.
    val (ra, rb) = EraRank.withRowNumberTwoPassPair(
      df, "graft_rn", buckets, col(eraCol), ids.head, ids.tail, orderKey, ids)
    val a = ra.select((keep :+ col("graft_rn")): _*)
    val b = rb.select(col(eraCol).as("graft_era_b"),
      col("graft_rn").as("graft_rn_b"), col(valueCol))
    a.join(b, a(eraCol) === col("graft_era_b") &&
        col("graft_rn") === col("graft_rn_b"))
      .drop("graft_rn", "graft_rn_b", "graft_era_b")
  }

  /** Era-size-ADAPTIVE permutation: [[EraRank.onePass]] on the
    * largest era ([[EraRank.maxEraRows]] — one column-pruned count
    * aggregate) picks the one-pass window form below the task-size
    * crossover, the shared-pass two-pass form above it. The two forms
    * are row-identical by construction (FoldsSpec pins it), so the
    * dispatch is a pure plan choice; SCALE.md's permutation pair
    * measured the stakes (one-pass 23.7× wall at 100× data vs the
    * two-pass 5.5× — and the reverse ~2× penalty for running the
    * two-pass on task-sized eras). */
  def permuteWithinEraAdaptive(df: DataFrame, valueCol: String, eraCol: String,
                               idCols: Seq[String], orderKey: Column): DataFrame =
    if (EraRank.onePass(df, EraRank.maxEraRows(df, col(eraCol))))
      permuteWithinEra(df, valueCol, eraCol, idCols, orderKey)
    else
      permuteWithinEraTwoPass(df, valueCol, eraCol, idCols, orderKey)

  /** T5: permute `valueCol` within each era by re-ordering on `orderKey`
    * — the "two independent orderings joined on row position" form.
    * Deterministic given a deterministic `orderKey` (pass an arithmetic
    * hash of the row id for oracle-checkable runs, or
    * `xxhash64(id, lit(seed))` for production).
    *
    * Scale: both windows partition by era, so ranking is per-era local;
    * the positional join shuffles on (era, rn) — no global ordering
    * bottleneck. This mirrors destroying one feature's signal while
    * keeping its marginal distribution per fold (MDA's core trick).
    */
  def permuteWithinEra(df: DataFrame, valueCol: String, eraCol: String,
                       idCols: Seq[String], orderKey: Column): DataFrame = {
    val ids = idCols.map(col)
    val wId = Window.partitionBy(col(eraCol)).orderBy(ids.map(_.asc): _*)
    val wKey = Window.partitionBy(col(eraCol))
      .orderBy((orderKey +: ids).map(_.asc): _*)
    val keep = df.columns.filterNot(_ == valueCol).map(col)
    // BOTH rankings ride ONE era exchange (r18, guide §2.4): the two
    // windows share hashpartitioning(era), so computing them as two
    // columns of one frame exchanges the input once (plus an
    // in-partition re-sort for the second ordering) instead of once
    // per ordering — and the persisted ranked base lets the
    // positional self-join's two sides read it instead of re-running
    // a window each (differently-pruned projections defeat exchange
    // reuse otherwise). Ranks are unchanged: each row_number sees the
    // same per-era row set and the same deterministic tie-broken
    // order.
    val ranked = df
      .withColumn("graft_rn", row_number().over(wId))
      .withColumn("graft_rn_b", row_number().over(wKey))
      .transform(graft.QueryScope.persist)
    val a = ranked.select((keep :+ col("graft_rn")): _*)
    val b = ranked.select(col(eraCol).as("graft_era_b"),
      col("graft_rn_b"), col(valueCol))
    a.join(b, a(eraCol) === col("graft_era_b") &&
        col("graft_rn") === col("graft_rn_b"))
      .drop("graft_rn", "graft_rn_b", "graft_era_b")
  }
}
