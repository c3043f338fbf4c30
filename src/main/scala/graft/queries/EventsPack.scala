package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Memo, QueryScope, Tables}

/** Event-table coverage: JSON props (F-json), date bucketing (the era
  * generalization, SURVEY §1.1), tumbling windows (§2.10 batch form),
  * one-hot pivots (F6), and a fully relational era-fold CV round (M4:
  * per-fold group-mean model → held-out scoring).
  */
object EventsPack extends QueryPack {

  /** F-json/F2 — JSON field extraction + grouped integer sum. */
  def qJsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** F-date — per-day rollup (date_trunc + DATE output for oracle
    * parity; raw timestamps are never emitted). */
  def qDateAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("d"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("d"))

  /** §2.10 — 6-hour tumbling window aggregation (batch twin of the
    * Structured Streaming query in graft.streaming; epoch-aligned, so
    * the window start is floor(epoch/21600)*21600). */
  def qTumblingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"),
        round(avg(col("value")), 4).as("avg_value"))
      .select(col("w.start").cast("long").as("wstart"), col("n"),
        col("sum_value"), col("avg_value"))
      .orderBy(col("wstart"))

  /** OHLC DOWNSAMPLING — the time-series warehouse staple: compress
    * the purchase `value` series into 6-hour bars of (open, high,
    * low, close, volume), where open/close are the bar's first/last
    * values under a total (event-time, event_id) order — the
    * tie-break that makes first/last well-defined when timestamps
    * collide, which raw `first()`/`last()` aggregates are NOT (they
    * are partition-order-dependent, the classic Spark trap). Two rank
    * windows over ONE bar-keyed shuffle; bars are epoch-aligned by
    * the same arithmetic as the tumbling windows. At 100 TB this is
    * the standard OLAP rollup: per-bar groups are bounded by the bar
    * width, and the bar key partitions freely. */
  def qOhlcBars(s: SparkSession, d: String): DataFrame = {
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("es"), col("value"))
      .withColumn("wstart",
        (floor(col("es") / lit(21600000000L)) * 21600).cast("long"))
    val wa = Window.partitionBy(col("wstart")).orderBy(col("es"), col("event_id"))
    val wd = Window.partitionBy(col("wstart"))
      .orderBy(col("es").desc, col("event_id").desc)
    p.withColumn("ra", row_number().over(wa))
      .withColumn("rd", row_number().over(wd))
      .groupBy(col("wstart"))
      .agg(count(lit(1)).as("n"),
        max(when(col("ra") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rd") === 1, col("value"))).as("close"),
        round(sum(col("value")), 2).as("volume"))
      .orderBy(col("wstart"))
  }

  /** F6 — one-hot / pivot: per-user event-type counts as columns. */
  def qOnehotCounts(s: SparkSession, d: String): DataFrame = {
    def cnt(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"))
      .orderBy(col("user_id"))
  }

  /** M4 — a fully relational era-fold CV round (`tuners.py:100-146`):
    * fold = day mod 3; model = per-event_type mean of `value` fit on
    * the other two folds; score each held-out fold. The params x folds
    * grid of the reference becomes a 3-row broadcast joined against the
    * fact — at scale the fact is scanned once, never collected.
    */
  def qCvGroupMean(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select((Tables.eraOfTs(col("ts")) % 3).as("fold"),
        col("event_type"), col("value"))
    val folds = s.range(0, 3).select(col("id").as("f"))
    val model = ev.join(broadcast(folds), col("fold") =!= col("f"))
      .groupBy(col("f"), col("event_type").as("et"))
      .agg(avg(col("value")).as("pred"))
    ev.join(broadcast(model),
        col("fold") === col("f") && col("event_type") === col("et"))
      .groupBy(col("fold"))
      .agg(round(corr(col("value"), col("pred")), 6).as("score"),
        round(sqrt(avg(pow(col("value") - col("pred"), 2))), 4).as("rmse"))
      .orderBy(col("fold"))
  }

  /** As-of join (engine-new temporal operator, SURVEY §2.3): each
    * event joined to the user's most recent signup at-or-before it.
    * Union+window composition (`operators.AsOf`); the per-key
    * sort-merge variant (`plans.AsOfMerge`) is regression-tested
    * equal. Oracle: deterministic last_value-ignore-nulls SQL (same
    * construction — DuckDB's native ASOF JOIN breaks ties
    * unspecified, so the oracle mirrors the construction instead). */
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val signups = ev.filter(col("event_type") === "signup")
    graft.operators.AsOf.asOfJoin(ev, signups, "user_id", "ts", "event_id", "event_id")
      .select(col("event_id"), col("event_id_asof"))
      .orderBy(col("event_id"))
  }

  /** The r15 merge_asof surface — direction NEAREST with a 24 h
    * tolerance: every event matched to its temporally closest signup
    * (before OR after, ties to backward), nulled when the closest is
    * more than a day away. Times ride as epoch micros (the numeric
    * contract of [[graft.operators.AsOf.asOfJoinDirectional]]); the
    * oracle replays the same two-direction window construction in
    * SQL, so the pick and tolerance arithmetic must be exact. */
  def qAsofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"),
        col("event_id"))
    val signups = Tables.events(s, d)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), expr("unix_micros(ts)").as("t"),
        col("event_id"))
    graft.operators.AsOf.asOfJoinDirectional(
        ev, signups, "user_id", "t", "event_id", "event_id",
        direction = "nearest", tolerance = 86400000000L)
      .select(col("event_id"), col("event_id_asof"))
      .orderBy(col("event_id"))
  }

  /** The same as-of semantics through the FULL custom Catalyst path —
    * `AsOfJoinNode` logical node, `AsOfStrategy` planner rule,
    * `AsOfJoinExec` physical operator (required distribution/ordering
    * + streaming two-pointer merge), `PushFilterThroughAsOf` optimizer
    * rule — driver-checked by the identical oracle as the
    * composition-based `q_asof_join`. */
  def qAsofCustom(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val signups = ev.filter(col("event_type") === "signup")
    graft.plans.AsOfApi
      .asOfJoinPlanned(ev, signups, "user_id", "ts", "event_id", "event_id")
      .select(col("event_id"), col("event_id_asof"))
      .orderBy(col("event_id"))
  }

  /** A3/A4 summary over the relational CV's per-fold scores
    * (`tuners.py:144-145`: mean + exact quartile CI bounds), plus the
    * mean fold RMSE. */
  def qCvSummary(s: SparkSession, d: String): DataFrame = {
    val perFold = qCvGroupMean(s, d)
    perFold.agg(
      round(avg(col("score")), 6).as("mean_score"),
      round(expr("percentile(score, 0.25)"), 6).as("q25_score"),
      round(expr("percentile(score, 0.75)"), 6).as("q75_score"),
      round(avg(col("rmse")), 4).as("mean_rmse"))
  }

  /** Sliding windows (6h length, 3h slide): every event lands in two
    * overlapping windows; oracle enumerates the two slide offsets. */
  def qSlidingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").cast("long").as("wstart"), col("n"), col("sum_value"))
      .orderBy(col("wstart"))

  /** Offset windows (engine-new; SURVEY §2.5 notes the reference has
    * none): per-user lag/lead deltas over the event stream. */
  def qLagLead(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select(col("event_id"), col("user_id"),
        round(col("value") - col("prev_value"), 2).as("delta_prev"),
        col("next_type"))
      .orderBy(col("event_id"))
  }

  /** Frame specs (engine-new): running per-user sum and count with an
    * explicit ROWS UNBOUNDED PRECEDING frame. */
  def qRunningSum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(w), 2).as("running_value"),
        count(lit(1)).over(w).as("running_n"))
      .orderBy(col("event_id"))
  }

  /** Range join (engine-new, prompt §custom-operators): every error
    * event matched into the 2-hour window opened by each purchase
    * event, counted per window. Built on the bucketized
    * `RangeJoin.pointInInterval` — bin equi-join + residual filter,
    * never a nested-loop theta join (plan shape pinned in PlanSpec).
    * The axis is epoch micros, matching DuckDB's epoch_us. */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val twoHoursUs = 7200000000L
    val points = ev.filter(col("event_type") === "error")
      .select(unix_micros(col("ts")).as("p"), col("value"))
    val intervals = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("win_id"), unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) + twoHoursUs).as("hi"))
    graft.operators.RangeJoin
      .pointInInterval(points, "p", intervals, "lo", "hi", binWidth = twoHoursUs)
      .groupBy(col("win_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("win_id"))
  }

  /** Band self-join (engine-new): unordered purchase-event pairs whose
    * `value`s differ by at most 0.05, aggregated per day of the lower-
    * id event. `RangeJoin.bandPairs` bins at delta width so the
    * replicate factor is a constant 3x regardless of data size. */
  def qBandJoin(s: SparkSession, d: String): DataFrame = {
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("value"))
    graft.operators.RangeJoin.bandPairs(purchases, "event_id", "value", 0.05)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("d"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(abs(col("value") - col("value_b"))), 4).as("avg_gap"))
      .orderBy(col("d"))
  }

  /** Stratified deterministic sample (T4 at pipeline realism): each
    * event_type stratum keeps its own Bernoulli fraction — rare
    * strata oversampled, dominant strata thinned — selected by the
    * engine-portable md5 hash trick (same key hashes identically in
    * any engine, so the EXACT sampled multiset is oracle-checkable,
    * unlike rand()-based sampling). Scan-local predicate: no shuffle
    * until the audit aggregation. */
  def qStratifiedSample(s: SparkSession, d: String): DataFrame = {
    val per10k = Map("click" -> 500L, "view" -> 200L, "purchase" -> 2000L,
      "signup" -> 5000L, "error" -> 1000L)
    val h = graft.operators.TextOps.hash60(col("event_id").cast("string")) % 10000L
    val thresh = per10k.foldLeft(lit(0L)) { case (acc, (t, f)) =>
      when(col("event_type") === t, lit(f)).otherwise(acc)
    }
    Tables.events(s, d)
      .filter(h < thresh)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** FUNNEL analysis — ordered-stage conversion (signup → click →
    * purchase), each stage strictly after the user's previous stage.
    * Three filtered min-aggregates chained by user_id joins: at scale
    * each stage relation is per-user (orders of magnitude smaller than
    * the event log), so every join after the first is stage ⋈ stage,
    * never a second pass over the log. Delays are date-granularity
    * (exact in any engine; sub-second epochs are not portable) and
    * emitted as INTEGER day-sums plus the user count, never a float
    * mean — a float mean of integers is the rounding-boundary class
    * the oracle policy forbids (the qAttribution convention). */
  def qFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("t1")).as("t1"), min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("t1")).as("t1"), min(col("ts")).as("t3"))
    val r1 = s1.agg(count(lit(1)).as("n_users"))
      .select(lit("1_signup").as("stage"), col("n_users"), lit(0L).as("sum_days"))
    val r2 = s2.agg(count(lit(1)).as("n_users"),
        sum(datediff(to_date(col("t2")), to_date(col("t1")))).cast("long").as("sum_days"))
      .select(lit("2_click").as("stage"), col("n_users"), col("sum_days"))
    val r3 = s3.agg(count(lit(1)).as("n_users"),
        sum(datediff(to_date(col("t3")), to_date(col("t1")))).cast("long").as("sum_days"))
      .select(lit("3_purchase").as("stage"), col("n_users"), col("sum_days"))
    r1.unionByName(r2).unionByName(r3).orderBy(col("stage"))
  }

  /** COHORT retention — users grouped by first-activity day, counted
    * as retained at each day offset 0..7 they were active again. One
    * first-touch aggregate joined back to the log (per-user relation,
    * broadcast-able at most scales), distinct (user, cohort, offset),
    * then the cohort×offset rollup. */
  def qCohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val first = ev.groupBy(col("user_id")).agg(to_date(min(col("ts"))).as("cohort"))
    ev.join(first, "user_id")
      .select(col("user_id"), col("cohort"),
        datediff(to_date(col("ts")), col("cohort")).cast("long").as("dd"))
      .filter(col("dd") <= 7)
      .distinct()
      .groupBy(col("cohort"), col("dd")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("dd"))
  }

  /** Rolling-window DISTINCT users — DAU and trailing-7-day WAU per
    * day, plus the DAU/WAU stickiness ratio. The event log reduces to
    * a distinct (day, user) relation first (per-user-day scale);
    * the trailing window is a broadcast join against the tiny day
    * grid — never a self-join of the log. At much larger user counts
    * the same shape swaps exact distinct for mergeable HLL sketches
    * per day, merged across the 7-day window (the `q_sketch_distinct`
    * path). */
  def qRollingActive(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = daily.select(col("day").as("d")).distinct()
    val wau = daily.join(broadcast(days),
        datediff(col("d"), col("day")).between(0, 6))
      .groupBy(col("d")).agg(countDistinct(col("user_id")).as("wau"))
    val dau = daily.groupBy(col("day").as("d"))
      .agg(count(lit(1)).as("dau"))
    dau.join(wau, Seq("d"))
      .select(col("d"), col("dau"), col("wau"),
        round(col("dau") / col("wau"), 6).as("stickiness"))
      .orderBy(col("d"))
  }

  /** SCD2 interval build — collapse each user's event stream into
    * [valid_from, valid_to) intervals of constant event_type (the
    * slowly-changing-dimension table a warehouse derives from a change
    * log). Classic gaps-and-islands: change flag via lag, version =
    * running sum of changes, interval close via lead. One window
    * partition per user — per-user state is O(1) and parallelism is
    * the user count at any log size. */
  def qScd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byVer = Window.partitionBy(col("user_id")).orderBy(col("ver"))
    Tables.events(s, d)
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTs).isNull ||
          lag(col("event_type"), 1).over(byTs) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("ver", sum(col("chg")).over(byTs))
      .groupBy(col("user_id"), col("ver"), col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVer))
      .select(col("user_id"), col("ver"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"))
      .orderBy(col("user_id"), col("ver"))
  }

  /** MERGE-style upsert — apply a change-set to a base snapshot
    * (MERGE INTO semantics composed from a full outer join: matched →
    * update, unmatched-source → insert, unmatched-target → keep).
    * Base = per-user value total of the first 20 days; delta = the
    * rest. The join shuffles on the upsert key exactly once; both
    * legs are pre-aggregated so the merge input is one row per key. */
  def qUpsert(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), dayofmonth(col("ts")).as("day"), col("value"))
    val base = ev.filter(col("day") <= 20).groupBy(col("user_id"))
      .agg(round(sum(col("value")), 2).as("base_total"))
    val delta = ev.filter(col("day") > 20).groupBy(col("user_id"))
      .agg(round(sum(col("value")), 2).as("delta_total"))
    base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("base_total").isNotNull && col("delta_total").isNotNull, "update")
          .when(col("base_total").isNull, "insert").otherwise("keep").as("action"),
        round(coalesce(col("base_total"), lit(0.0)) +
          coalesce(col("delta_total"), lit(0.0)), 2).as("merged_total"))
      .orderBy(col("user_id"))
  }

  /** Per-user anomaly flags — z-score of each event's value against
    * the user's own mean/stddev (the monitoring primitive over a
    * metric stream). Two window aggregates per user partition, then a
    * per-user rollup of the |z| > 2 count; single-event users have an
    * undefined z and report zero anomalies. */
  def qZscoreEvents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = Window.partitionBy(col("user_id"))
    val z = (col("value") - avg(col("value")).over(u)) /
      stddev_samp(col("value")).over(u)
    Tables.events(s, d)
      .withColumn("z", when(z.isNaN, lit(null)).otherwise(z))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(abs(col("z")) > 2.0, 1L).otherwise(0L)).as("n_anomalies"),
        round(max(abs(col("z"))), 4).as("max_abs_z"))
      .orderBy(col("user_id"))
  }

  /** Recency-decayed engagement score — half-life-weighted value sum
    * per user (weight halves every 7 days from the newest event in
    * the log). The reference time is a one-row broadcast aggregate,
    * so the scoring pass is scan-local: one scan, one groupBy on the
    * user key at any scale. */
  def qDecayScore(s: SparkSession, d: String): DataFrame = {
    val ref = Tables.events(s, d).agg(max(col("ts").cast("long")).as("ref"))
    val w = pow(lit(0.5), (col("ref") - col("ts").cast("long")) / lit(604800.0))
    Tables.events(s, d)
      .crossJoin(broadcast(ref))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") * w), 4).as("decayed_score"))
      .orderBy(col("user_id"))
  }

  /** Markov transition counts — (previous event_type → event_type)
    * frequencies per user stream, with the conditional probability per
    * source state (the next-event model product analytics fits). One
    * lag window over the user key, one bounded groupBy (|types|²
    * keys), one tiny window for the row-conditional normalization. */
  def qTransitionCounts(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byPrev = Window.partitionBy(col("prev"))
    Tables.events(s, d)
      .withColumn("prev", lag(col("event_type"), 1).over(byTs))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(byPrev), 6))
      .orderBy(col("prev"), col("event_type"))
  }

  /** Time-to-conversion — latency from each user's first signup to
    * their first subsequent purchase, with exact p50/p90 over the
    * converter population. The signup relation is per-user (tiny
    * next to the log); the purchase probe joins on the user key. At
    * extreme scale the exact percentile swaps for the mergeable
    * quantile sketch (`q_sketch_quantile` path). */
  def qConversionLag(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t0"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tp"))
    su.join(pu, Seq("user_id"))
      .filter(col("tp") >= col("t0"))
      .groupBy(col("user_id"), col("t0"))
      .agg(min(col("tp")).as("tp1"))
      .select((col("tp1") - col("t0")).as("lag_us"),
        ((col("tp1") - col("t0")) / 1e6).as("lag_sec"))
      .agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(lag_sec, 0.5)"), 2).as("p50_sec"),
        round(expr("percentile(lag_sec, 0.9)"), 2).as("p90_sec"),
        // exact integer-microsecond sum, not a rounded float mean —
        // order-independent across both engines' parallel merges
        sum(col("lag_us")).as("sum_lag_us"))
  }

  /** Time-series GAP-FILL — resample each user's value stream to an
    * hourly grid and linearly interpolate missing hours. SPAN form:
    * one `lead` window pairs each observation with its successor, and
    * the [obs, next) hour span explodes scan-local with the
    * interpolation computed per exploded hour. Equivalent to the
    * grid-join form it replaced (grid = [min(t), max(t)], so every
    * missing hour lies strictly between two observations and the
    * consecutive-obs spans tile the grid exactly — a boundary-carry
    * branch can never fire), but with ONE window pass instead of two
    * opposite-order sorts, and no grid build + grid↔obs join: the r13
    * quiet bench measured 3.1 → ~1.2 s, and the saved work (a second
    * full-grid sort + a 1M-row join) scales with the grid. Per-series
    * state is one lookahead row; parallelism is (series × spans) —
    * strictly finer-grained than the grid form's per-series sort. */
  def qGapfill(s: SparkSession, d: String): DataFrame =
    gapfill(Tables.events(s, d))

  /** [[qGapfill]] over an explicit events relation — split out so the
    * null-semantics spec can drive synthetic input (all-null hours,
    * null boundary hours, all-null users) against the two-window
    * reference form. ANCHORS are the non-null observation hours: a
    * null-`v` hour (an hour whose every event value is null) is a
    * grid point to FILL, exactly as the ignoreNulls windows treated
    * it, while grid BOUNDS come from all observation hours. The grid
    * tiles as [t0, firstAnchor) carry-back ∪ anchor spans
    * (interpolate; last anchor carries forward to t1] ∪, for a user
    * with no anchors at all, an all-null [t0, t1]. */
  private[graft] def gapfill(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // obs feeds the boundary aggregate AND the anchor window; marks
    // feeds three branches (anchor spans, head carry-back, no-anchor
    // users) — persist both so the events scan + hourly aggregation
    // run once per execution, not once per branch (guide §1.2)
    val obs = events
      .select(col("user_id"), expr("unix_micros(ts) div 3600000000").as("t"),
        col("value"))
      .groupBy(col("user_id"), col("t")).agg(avg(col("value")).as("v"))
      .transform(QueryScope.persist)
    // ONE tiny per-user aggregate carries every boundary fact: grid
    // bounds over ALL observation hours, plus the first anchor as a
    // null-skipping struct-min (t unique per user, so the struct min
    // IS the earliest non-null hour; null iff the user has no anchors)
    // — re-deriving these per branch would re-run the hourly
    // aggregation once per consumer
    val marks = obs.groupBy(col("user_id"))
      .agg(min(col("t")).as("t0"), max(col("t")).as("t1"),
        min(when(col("v").isNotNull,
          struct(col("t").as("fa_t"), col("v").as("fa_v")))).as("fa"))
      .transform(QueryScope.persist)
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
    val anchors = obs.filter(col("v").isNotNull)
      .withColumn("nt", lead(col("t"), 1).over(w))
      .withColumn("nv", lead(col("v"), 1).over(w))
      .join(marks.select(col("user_id"), col("t1")), Seq("user_id"))
    // fill formula kept OPERATION-IDENTICAL to the two-window form
    // (pv + (nv - pv) * (t - pt) / (nt - pt), same IEEE op order), so
    // the per-row e4-rounded checksum is bit-equal to the old plan
    val main = anchors
      .select(col("user_id"), col("t").as("pt"), col("v").as("pv"),
        col("nt"), col("nv"),
        explode(sequence(col("t"),
          coalesce(col("nt") - 1, col("t1")))).as("t"))
      .select(col("user_id"), col("t"),
        when(col("t") === col("pt"), col("pv")).as("v"),
        when(col("t") === col("pt"), col("pv"))
          .when(col("nt").isNotNull,
            col("pv") + (col("nv") - col("pv")) *
              (col("t") - col("pt")) / (col("nt") - col("pt")))
          .otherwise(col("pv")).as("filled"))
    val head = marks
      .filter(col("fa").isNotNull && col("t0") < col("fa.fa_t"))
      .select(col("user_id"),
        explode(sequence(col("t0"), col("fa.fa_t") - 1)).as("t"),
        lit(null).cast("double").as("v"), col("fa.fa_v").as("filled"))
      .select(col("user_id"), col("t"), col("v"), col("filled"))
    val none = marks.filter(col("fa").isNull)
      .select(col("user_id"), explode(sequence(col("t0"), col("t1"))).as("t"),
        lit(null).cast("double").as("v"), lit(null).cast("double").as("filled"))
    val filled = main.unionByName(head).unionByName(none)
    // the checksum is an ORDER-INDEPENDENT integer sum: each filled
    // value is bitwise-identical across engines (same IEEE formula),
    // but a float aggregate's merge order is not — DuckDB's parallel
    // avg flipped a 4-decimal rounding boundary run-to-run. Per-row
    // scaled rounding then an integer sum is stable everywhere.
    filled.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_observed"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_filled"),
        sum(round(col("filled") * 10000).cast("long")).as("sum_filled_e4"))
      .orderBy(col("user_id"))
  }

  /** Top event paths — the most frequent 3-step event-type sequences
    * across user streams (product-analytics "top paths"; the order-2
    * extension of the transition matrix). Two lag windows over one
    * user-key shuffle, a |types|³-bounded groupBy, and a top-k that
    * plans as TakeOrderedAndProject. */
  def qEventPaths(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("e2", lag(col("event_type"), 1).over(byTs))
      .withColumn("e3", lag(col("event_type"), 2).over(byTs))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("e3"), col("e2"), col("event_type")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** Conversion ATTRIBUTION — for each purchase, the user's first-
    * and last-touch click strictly before it (the marketing
    * attribution join). The click⋈purchase pairing shuffles on the
    * user key only; per-user pair volume is bounded by the per-user
    * event count, never the log size. Summarized per user. Lags emit
    * as exact integer-microsecond SUMS (plus the count), not rounded
    * means — a rounded mean of grid values is the half-boundary class
    * that flips under parallel float merge order. */
  def qAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), unix_micros(col("ts")).as("tc"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tp"))
    // the before-purchase predicate rides the join so an unattributed
    // purchase (clicks only after it) still keeps its null row
    purchases.join(clicks,
        col("user_id") === col("cu") && col("tc") < col("tp"), "left_outer")
      .groupBy(col("user_id"), col("event_id"), col("tp"))
      .agg(min(col("tc")).as("first_tc"), max(col("tc")).as("last_tc"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("last_tc").isNotNull, 1L).otherwise(0L)).as("n_attributed"),
        sum(col("tp") - col("last_tc")).as("sum_lag_last_us"),
        sum(col("tp") - col("first_tc")).as("sum_lag_first_us"))
      .orderBy(col("user_id"))
  }

  /** A/B TEST analysis — Welch's two-sample t over a deterministic
    * hash split of users (the experiment-analysis query): group
    * sums/counts/variances are one partial+final hash agg each, the
    * t statistic and Welch–Satterthwaite df fold from the two
    * aggregate rows. Group sums emit grid-exact (2-decimal inputs);
    * t/df/lift are generic irrationals, safe at round 4. */
  def qAbTest(s: SparkSession, d: String): DataFrame = {
    val g = pmod(graft.operators.TextOps.hash60(
      concat_ws("#", lit("ab"), col("user_id"))), lit(2L))
    val stats = Tables.events(s, d)
      .select(g.as("grp"), col("value"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("double").as("n"),
        avg(col("value")).as("m"),
        var_samp(col("value")).as("v"),
        round(sum(col("value")), 2).as("total"))
    val a = stats.filter(col("grp") === 0)
      .select(col("n").as("n0"), col("m").as("m0"), col("v").as("v0"),
        col("total").as("total_a"))
    val b = stats.filter(col("grp") === 1)
      .select(col("n").as("n1"), col("m").as("m1"), col("v").as("v1"),
        col("total").as("total_b"))
    a.crossJoin(broadcast(b))
      .withColumn("se2", col("v0") / col("n0") + col("v1") / col("n1"))
      .select(
        col("n0").cast("long").as("n_a"), col("n1").cast("long").as("n_b"),
        col("total_a"), col("total_b"),
        round((col("m1") - col("m0")) / sqrt(col("se2")), 4).as("t_stat"),
        round(pow(col("se2"), 2) /
          (pow(col("v0") / col("n0"), 2) / (col("n0") - 1) +
           pow(col("v1") / col("n1"), 2) / (col("n1") - 1)), 4).as("welch_df"),
        round(col("m1") / col("m0") - 1.0, 4).as("lift"))
  }

  /** Partition-PRUNED scan — the directory-level complement of
    * `q_zorder_scan`'s row-group pruning, and the single most
    * important scan optimization at 100 TB (a day-partitioned event
    * lake answers a one-day query by listing one directory, not
    * scanning the fleet). The events table is written ONCE per dir
    * partitioned by day ([[Memo.table]]), then scanned with a
    * `day = 5` filter that Catalyst resolves against the partition
    * column — zero data files outside `day=5` are opened
    * (`PartitionPruneSpec` asserts it from `inputFiles`). The oracle runs the same day filter on the
    * original table, so layout changes can never change answers. */
  private[graft] def dayPartitionedEvents(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Memo.table(s, "daypart", s"$d/events.parquet") { out =>
      Tables.events(s, d)
        // no cast on the partition column: partitionBy stores values
        // in directory names and read-back inference yields int
        // regardless, so a declared long would only mislead readers
        .select(col("user_id").cast("long").as("user_id"),
          col("event_type"), col("value"),
          dayofmonth(col("ts")).as("day"))
        .write.partitionBy("day").mode("overwrite").parquet(out)
    })

  def qPartitionScan(s: SparkSession, d: String): DataFrame =
    dayPartitionedEvents(s, d)
      .filter(col("day") === 5)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))

  /** DYNAMIC partition pruning — the star-schema form of
    * [[qPartitionScan]]'s static prune, and the scan reducer that
    * makes dim-filtered fact queries viable at 100 TB: the partition
    * column appears only in the JOIN, the selective filter lives on
    * the dim side, and Catalyst injects a runtime dynamicpruning
    * subquery that reuses the dim broadcast to list the surviving
    * partitions BEFORE the fact scan starts — the fact never lists
    * (let alone reads) the out-of-filter days. `PartitionPruneSpec`
    * pins both the `dynamicpruning` expression in the scan's
    * partition filters and the file count. The dim here is the
    * early-calendar day set derived from orders, so the oracle
    * rebuilds the exact join relationally. */
  def qDppJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.orders(s, d)
      .select(dayofmonth(col("o_orderdate")).as("day")).distinct()
      .filter(col("day") <= 5)
    dayPartitionedEvents(s, d)
      .join(dim, "day")
      // the partition column reads back as int (directory-name
      // inference); emit BIGINT for oracle type parity
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("day"))
  }

  val queries: Map[String, Q] = Map(
    "q_partition_scan" -> qPartitionScan,
    "q_dpp_join" -> qDppJoin,
    "q_ab_test"        -> qAbTest,
    "q_attribution"    -> qAttribution,
    "q_event_paths"    -> qEventPaths,
    "q_gapfill"        -> qGapfill,
    "q_transition_counts" -> qTransitionCounts,
    "q_conversion_lag" -> qConversionLag,
    "q_scd2"           -> qScd2,
    "q_upsert"         -> qUpsert,
    "q_zscore_events"  -> qZscoreEvents,
    "q_decay_score"    -> qDecayScore,
    "q_rolling_active" -> qRollingActive,
    "q_funnel"         -> qFunnel,
    "q_cohort_retention" -> qCohortRetention,
    "q_stratified_sample" -> qStratifiedSample,
    "q_range_join"     -> qRangeJoin,
    "q_band_join"      -> qBandJoin,
    "q_lag_lead"       -> qLagLead,
    "q_running_sum"    -> qRunningSum,
    "q_cv_summary"     -> qCvSummary,
    "q_sliding_window" -> qSlidingWindow,
    "q_asof_join"      -> qAsofJoin,
    "q_asof_custom"    -> qAsofCustom,
    "q_asof_nearest"   -> qAsofNearest,
    "q_json_extract"   -> qJsonExtract,
    "q_date_agg"       -> qDateAgg,
    "q_tumbling_window" -> qTumblingWindow,
    "q_ohlc_bars"       -> qOhlcBars,
    "q_onehot_counts"  -> qOnehotCounts,
    "q_cv_group_mean"  -> qCvGroupMean,
  )

  val oracles: Map[String, String] = Map(
    // the partitioned copy is a LAYOUT of events; the oracle runs the
    // identical day filter on the original table
    "q_partition_scan" ->
      """SELECT event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events WHERE day(ts) = 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the partitioned fact joined to the filtered day dim — the
    // oracle rebuilds the identical join over the original tables
    "q_dpp_join" ->
      """WITH dim AS (SELECT DISTINCT day(o_orderdate) AS day
        |             FROM orders WHERE day(o_orderdate) <= 5)
        |SELECT e.day, count(*) AS n, round(sum(e.value), 2) AS sum_value
        |FROM (SELECT day(ts) AS day, value FROM events) e
        |JOIN dim USING (day)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ab_test" ->
      """WITH t AS (SELECT
        |    ('0x' || substr(md5('ab#' || user_id),1,15))::BIGINT % 2 AS grp,
        |    value FROM events),
        |s AS (SELECT grp, count(*) * 1.0 AS n, avg(value) AS m,
        |      var_samp(value) AS v, round(sum(value), 2) AS total
        |  FROM t GROUP BY 1),
        |a AS (SELECT n AS n0, m AS m0, v AS v0, total AS total_a FROM s
        |      WHERE grp = 0),
        |b AS (SELECT n AS n1, m AS m1, v AS v1, total AS total_b FROM s
        |      WHERE grp = 1)
        |SELECT CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
        |  total_a, total_b,
        |  round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 4) AS t_stat,
        |  round(pow(v0 / n0 + v1 / n1, 2) /
        |    (pow(v0 / n0, 2) / (n0 - 1) + pow(v1 / n1, 2) / (n1 - 1)), 4)
        |    AS welch_df,
        |  round(m1 / m0 - 1.0, 4) AS lift
        |FROM a, b""".stripMargin,
    "q_attribution" ->
      """WITH c AS (SELECT user_id AS cu, epoch_us(ts) AS tc FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS tp FROM events
        |      WHERE event_type = 'purchase'),
        |a AS (SELECT user_id, event_id, tp,
        |    min(tc) AS first_tc, max(tc) AS last_tc
        |  FROM p LEFT JOIN c ON user_id = cu AND tc < tp
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, count(*) AS n_purchases,
        |  CAST(sum(CASE WHEN last_tc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_attributed,
        |  CAST(sum(tp - last_tc) AS BIGINT) AS sum_lag_last_us,
        |  CAST(sum(tp - first_tc) AS BIGINT) AS sum_lag_first_us
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_event_paths" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |  lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS e2,
        |  lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS e3
        |  FROM events)
        |SELECT e3 || '>' || e2 || '>' || event_type AS path, count(*) AS n
        |FROM o WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "q_gapfill" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS t, value
        |            FROM events),
        |obs AS (SELECT user_id, t, avg(value) AS v FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, min(t) AS t0, max(t) AS t1 FROM obs
        |         GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(t0, t1)) AS t
        |         FROM span),
        |g AS (SELECT grid.user_id, grid.t, obs.v FROM grid
        |      LEFT JOIN obs ON grid.user_id = obs.user_id AND grid.t = obs.t),
        |f AS (SELECT user_id, t, v,
        |  last_value(CASE WHEN v IS NOT NULL
        |      THEN struct_pack(pt := t, pv := v) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |  first_value(CASE WHEN v IS NOT NULL
        |      THEN struct_pack(nt := t, nv := v) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY t
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
        |  FROM g),
        |fl AS (SELECT user_id, v,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN p IS NOT NULL AND nx IS NOT NULL
        |       THEN p.pv + (nx.nv - p.pv) * (t - p.pt) / (nx.nt - p.pt)
        |       ELSE coalesce(p.pv, nx.nv) END AS filled
        |  FROM f)
        |SELECT user_id, count(*) AS n_points,
        |  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_observed,
        |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_filled,
        |  CAST(sum(CAST(round(filled * 10000) AS BIGINT)) AS BIGINT)
        |    AS sum_filled_e4
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_transition_counts" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type, count(*) AS n FROM o
        |      WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, event_type, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY prev), 6) AS p
        |FROM c ORDER BY prev, event_type""".stripMargin,
    "q_conversion_lag" ->
      """WITH su AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT user_id, epoch_us(ts) AS tp FROM events
        |       WHERE event_type = 'purchase'),
        |conv AS (SELECT su.user_id, min(tp) - t0 AS lag_us,
        |           (min(tp) - t0) / 1e6 AS lag_sec
        |         FROM su JOIN pu ON su.user_id = pu.user_id AND tp >= t0
        |         GROUP BY su.user_id, t0)
        |SELECT count(*) AS n_converted,
        |  round(quantile_cont(lag_sec, 0.5), 2) AS p50_sec,
        |  round(quantile_cont(lag_sec, 0.9), 2) AS p90_sec,
        |  CAST(sum(lag_us) AS BIGINT) AS sum_lag_us
        |FROM conv""".stripMargin,
    "q_scd2" ->
      """WITH o AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, event_id, event_type, t,
        |    CASE WHEN prev IS NULL OR prev != event_type THEN 1 ELSE 0 END AS chg
        |  FROM o),
        |v AS (SELECT user_id, event_type, t,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS ver
        |  FROM c),
        |g AS (SELECT user_id, ver, event_type,
        |    CAST(min(t) AS BIGINT) AS valid_from,
        |    count(*) AS n_events
        |  FROM v GROUP BY 1, 2, 3)
        |SELECT user_id, CAST(ver AS BIGINT) AS ver, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY ver) AS valid_to,
        |  n_events
        |FROM g ORDER BY user_id, ver""".stripMargin,
    "q_upsert" ->
      """WITH base AS (SELECT user_id, round(sum(value), 2) AS bt FROM events
        |              WHERE day(ts) <= 20 GROUP BY 1),
        |delta AS (SELECT user_id, round(sum(value), 2) AS dt FROM events
        |          WHERE day(ts) > 20 GROUP BY 1)
        |SELECT coalesce(base.user_id, delta.user_id) AS user_id,
        |  CASE WHEN bt IS NOT NULL AND dt IS NOT NULL THEN 'update'
        |       WHEN bt IS NULL THEN 'insert' ELSE 'keep' END AS action,
        |  round(coalesce(bt, 0) + coalesce(dt, 0), 2) AS merged_total
        |FROM base FULL OUTER JOIN delta ON base.user_id = delta.user_id
        |ORDER BY 1""".stripMargin,
    "q_zscore_events" ->
      """WITH z AS (SELECT user_id,
        |    (value - avg(value) OVER (PARTITION BY user_id)) /
        |      stddev_samp(value) OVER (PARTITION BY user_id) AS z
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN abs(z) > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_anomalies,
        |  round(max(abs(z)), 4) AS max_abs_z
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_decay_score" ->
      """WITH ref AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS r FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  round(sum(value * pow(0.5,
        |    (r - CAST(floor(epoch(ts)) AS BIGINT)) / 604800.0)), 4)
        |    AS decayed_score
        |FROM events, ref GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rolling_active" ->
      """WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |               FROM events),
        |days AS (SELECT DISTINCT day AS d FROM daily),
        |wau AS (SELECT d, count(DISTINCT user_id) AS wau
        |        FROM days JOIN daily ON datediff('day', daily.day, days.d)
        |                                BETWEEN 0 AND 6
        |        GROUP BY 1),
        |dau AS (SELECT day AS d, count(*) AS dau FROM daily GROUP BY 1)
        |SELECT d, dau, wau, round(dau * 1.0 / wau, 6) AS stickiness
        |FROM dau JOIN wau USING (d) ORDER BY d""".stripMargin,
    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type='signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(t1) AS t1, min(ts) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE event_type='click' AND ts > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(t1) AS t1, min(ts) AS t3
        |       FROM events e JOIN s2 USING (user_id)
        |       WHERE event_type='purchase' AND ts > t2 GROUP BY 1)
        |SELECT '1_signup' AS stage, count(*) AS n_users, CAST(0 AS BIGINT) AS sum_days FROM s1
        |UNION ALL
        |SELECT '2_click', count(*),
        | CAST(sum(datediff('day', CAST(t1 AS DATE), CAST(t2 AS DATE))) AS BIGINT) FROM s2
        |UNION ALL
        |SELECT '3_purchase', count(*),
        | CAST(sum(datediff('day', CAST(t1 AS DATE), CAST(t3 AS DATE))) AS BIGINT) FROM s3
        |ORDER BY 1""".stripMargin,
    "q_cohort_retention" ->
      """WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort
        |           FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, f.cohort,
        |      CAST(datediff('day', f.cohort, CAST(e.ts AS DATE)) AS BIGINT) AS dd
        |      FROM events e JOIN f USING (user_id))
        |SELECT cohort, dd, count(*) AS n_users FROM a
        |WHERE dd <= 7 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stratified_sample" ->
      """WITH s AS (SELECT event_type, value,
        |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS h
        |  FROM events)
        |SELECT event_type, count(*) AS n_sampled,
        | round(sum(value), 2) AS sum_value
        |FROM s
        |WHERE h < CASE event_type
        |  WHEN 'click' THEN 500 WHEN 'view' THEN 200
        |  WHEN 'purchase' THEN 2000 WHEN 'signup' THEN 5000
        |  WHEN 'error' THEN 1000 ELSE 0 END
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_range_join" ->
      """WITH p AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS lo
        |           FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t, value
        |      FROM events WHERE event_type = 'error')
        |SELECT p.event_id AS win_id, count(*) AS n,
        | round(sum(e.value), 2) AS sum_value
        |FROM p JOIN e ON e.t >= p.lo AND e.t < p.lo + 7200000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_band_join" ->
      """WITH x AS (SELECT event_id, ts, value FROM events
        |           WHERE event_type = 'purchase')
        |SELECT CAST(date_trunc('day', a.ts) AS DATE) AS d,
        | count(*) AS n_pairs,
        | round(avg(abs(a.value - b.value)), 4) AS avg_gap
        |FROM x a JOIN x b
        |  ON a.event_id < b.event_id AND abs(a.value - b.value) <= 0.05
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_lag_lead" ->
      """SELECT event_id, user_id,
        | round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta_prev,
        | lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |FROM events ORDER BY event_id""".stripMargin,
    "q_running_sum" ->
      """SELECT event_id, user_id,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
        | count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
        |FROM events ORDER BY event_id""".stripMargin,
    "q_cv_summary" ->
      """WITH ev AS (
        |  SELECT CAST(date_part('day', ts) AS BIGINT) % 3 AS fold, event_type, value
        |  FROM events),
        |folds AS (SELECT unnest(generate_series(0, 2)) AS f),
        |model AS (
        |  SELECT f, event_type, avg(value) AS pred
        |  FROM ev, folds WHERE fold != f GROUP BY 1, 2),
        |perfold AS (
        |  SELECT fold, round(corr(value, pred), 6) AS score,
        |    round(sqrt(avg(pow(value - pred, 2))), 4) AS rmse
        |  FROM ev JOIN model ON ev.fold = model.f AND ev.event_type = model.event_type
        |  GROUP BY fold)
        |SELECT round(avg(score), 6) AS mean_score,
        |  round(quantile_cont(score, 0.25), 6) AS q25_score,
        |  round(quantile_cont(score, 0.75), 6) AS q75_score,
        |  round(avg(rmse), 4) AS mean_rmse
        |FROM perfold""".stripMargin,
    "q_sliding_window" ->
      """WITH k AS (SELECT unnest(generate_series(0, 1)) AS k),
        |w AS (SELECT CAST(floor(epoch(ts) / 10800) * 10800 - k * 10800 AS BIGINT) AS wstart,
        |    value
        |  FROM events, k)
        |SELECT wstart, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_asof_join" ->
      """WITH sign AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup'),
        |u AS (
        |  SELECT user_id, epoch_us(ts) AS t, 0 AS tag, event_id, event_id AS ref FROM sign
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts) AS t, 1 AS tag, event_id, NULL AS ref FROM events),
        |w AS (SELECT user_id, tag, event_id,
        |    last_value(ref IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, tag, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS event_id_asof
        |  FROM u)
        |SELECT event_id, event_id_asof FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin,
    // nearest + 24h tolerance: both direction windows replayed in SQL
    // (backward = last ref at-or-before in (t, tag, id) order; forward
    // = first ref at-or-after with probes sorted before equal-time
    // refs), matched time and payload picked by the SAME condition so
    // they can never come from different rows; ties to backward
    "q_asof_nearest" ->
      """WITH sign AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup'),
        |u AS (
        |  SELECT user_id, epoch_us(ts) AS t, 0 AS tag, event_id, event_id AS ref FROM sign
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts) AS t, 1 AS tag, event_id, NULL AS ref FROM events),
        |w AS (SELECT user_id, tag, event_id, t,
        |    last_value(CASE WHEN tag = 0 THEN t END IGNORE NULLS) OVER wb AS bt,
        |    last_value(CASE WHEN tag = 0 THEN ref END IGNORE NULLS) OVER wb AS bp,
        |    first_value(CASE WHEN tag = 0 THEN t END IGNORE NULLS) OVER wf AS ft,
        |    first_value(CASE WHEN tag = 0 THEN ref END IGNORE NULLS) OVER wf AS fp
        |  FROM u
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY t, tag, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY t, tag DESC, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |p AS (SELECT event_id, t,
        |    CASE WHEN bt IS NULL THEN ft WHEN ft IS NULL THEN bt
        |         WHEN t - bt <= ft - t THEN bt ELSE ft END AS pick_t,
        |    CASE WHEN bt IS NULL THEN fp WHEN ft IS NULL THEN bp
        |         WHEN t - bt <= ft - t THEN bp ELSE fp END AS pick_p
        |  FROM w WHERE tag = 1)
        |SELECT event_id,
        |  CASE WHEN pick_t IS NOT NULL AND abs(t - pick_t) <= 86400000000
        |       THEN pick_p END AS event_id_asof
        |FROM p ORDER BY event_id""".stripMargin,
    // identical oracle as q_asof_join: the custom physical operator
    // must reproduce the composition's answer exactly
    "q_asof_custom" ->
      """WITH sign AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup'),
        |u AS (
        |  SELECT user_id, epoch_us(ts) AS t, 0 AS tag, event_id, event_id AS ref FROM sign
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts) AS t, 1 AS tag, event_id, NULL AS ref FROM events),
        |w AS (SELECT user_id, tag, event_id,
        |    last_value(ref IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, tag, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS event_id_asof
        |  FROM u)
        |SELECT event_id, event_id_asof FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_date_agg" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tumbling_window" ->
      """SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS wstart,
        | count(*) AS n, round(sum(value), 2) AS sum_value,
        | round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // first/last replayed as rank-1 rows under the same total
    // (event-time micros, event_id) order; open/high/low/close are
    // raw fixture doubles (bit-exact both engines), volume rounded 2
    "q_ohlc_bars" ->
      """WITH p AS (SELECT event_id, epoch_us(ts) AS es, value,
        |    CAST(floor(epoch_us(ts) / 21600000000) * 21600 AS BIGINT) AS wstart
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY wstart
        |        ORDER BY es, event_id) AS ra,
        |      row_number() OVER (PARTITION BY wstart
        |        ORDER BY es DESC, event_id DESC) AS rd FROM p)
        |SELECT wstart, count(*) AS n,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  round(sum(value), 2) AS volume
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_onehot_counts" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cv_group_mean" ->
      """WITH ev AS (
        |  SELECT CAST(date_part('day', ts) AS BIGINT) % 3 AS fold, event_type, value
        |  FROM events),
        |folds AS (SELECT unnest(generate_series(0, 2)) AS f),
        |model AS (
        |  SELECT f, event_type, avg(value) AS pred
        |  FROM ev, folds WHERE fold != f GROUP BY 1, 2)
        |SELECT fold, round(corr(value, pred), 6) AS score,
        | round(sqrt(avg(pow(value - pred, 2))), 4) AS rmse
        |FROM ev JOIN model ON ev.fold = model.f AND ev.event_type = model.event_type
        |GROUP BY fold ORDER BY fold""".stripMargin,
  )
}
