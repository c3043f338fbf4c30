package graft.queries
// (round-6 additions at the bottom: winsorize, chi-square)

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryScope, Tables}

/** Higher-order statistics + parsing coverage: era-string parsing
  * (F1), distance correlation on a bounded sample (A11), closed-form
  * OLS with per-feature contribution decomposition (the linear-model
  * stand-in for SHAP's additive attributions, M10), and session
  * windows over events.
  */
object StatsPack extends QueryPack {

  /** F1 — `era.map(lambda x: int(x.lstrip('era')))` (`#cell-6`):
    * strings like "era7" parsed back to ints. The fixture has no era
    * strings, so synthesize then parse — the parse is what's tested. */
  def qEraParse(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(concat(lit("era"), month(col("o_orderdate"))).as("era_str"))
      .select(regexp_replace(col("era_str"), "^era", "").cast("long").as("era"))
      .groupBy(col("era")).agg(count(lit(1)).as("n"))
      .orderBy(col("era"))

  /** F3 — string→array parse (the CSV-ingestion path: arrays arrive
    * as delimited strings when the source format has no native
    * arrays). The fixtures store arrays natively, so the op
    * round-trips: stringify each vector (F7), split + cast every
    * element back (F3), and count elementwise-exact reconstructions.
    * Each engine formats and parses ITS OWN shortest-roundtrip text —
    * the emitted counts, not the string bytes, are the cross-engine
    * contract (lossless double↔string round-trip on both sides).
    * Scan-local per row: no shuffle beyond the 1-row final agg. */
  def qStrToArray(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("str",
        array_join(transform(col("v"), _.cast("string")), ","))
      .withColumn("p", transform(split(col("str"), ","), _.cast("double")))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("p") === col("v"), 1L).otherwise(0L)).as("n_roundtrip_exact"),
        sum(when(size(col("p")) === size(col("v")), 1L).otherwise(0L)).as("n_len_ok"))

  /** A11 — distance correlation (`distance_func.py:38-74`) of quantity
    * vs extendedprice on a deterministic 100-row head sample: the
    * O(n^2) double-centering runs on the bounded sample (SURVEY A11),
    * expressed relationally as a self cross join + window means. */
  def qDcor(s: SparkSession, d: String): DataFrame = {
    // FROZEN 100-row sample (the reference's own bounded-cap pattern,
    // `distance_func.py`): the corpus-wide sort-limit would otherwise
    // re-execute once per consuming branch (both cross-join sides +
    // the window base) — Catalyst expands diamonds, it does not
    // memoize them
    val base = graft.Frozen.copy(Tables.lineitem(s, d)
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .limit(100)
      .select(row_number().over(Window.orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))).as("i"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y")))
    val a = base.select(col("i"), col("x"), col("y"))
    val b = base.select(col("i").as("j"), col("x").as("xj"), col("y").as("yj"))
    val pairs = a.crossJoin(b)
      .select(col("i"), col("j"),
        abs(col("x") - col("xj")).as("ax"), abs(col("y") - col("yj")).as("ay"))
    val wi = Window.partitionBy(col("i"))
    val wj = Window.partitionBy(col("j"))
    val wAll = Window.partitionBy()
    val centered = pairs
      .withColumn("cax", col("ax") - avg(col("ax")).over(wi)
        - avg(col("ax")).over(wj) + avg(col("ax")).over(wAll))
      .withColumn("cay", col("ay") - avg(col("ay")).over(wi)
        - avg(col("ay")).over(wj) + avg(col("ay")).over(wAll))
    // dcor = sqrt(dcov2_xy) / (dcov2_xx * dcov2_yy)^(1/4)
    //      = sqrt( avg(cax*cay) / sqrt(avg(cax^2) * avg(cay^2)) )
    // (distance_func.py:62's A^1/2/(BC)^1/4, bounded by 1)
    centered.agg(
      round(sqrt(
        avg(col("cax") * col("cay"))
          / sqrt(avg(col("cax") * col("cax")) * avg(col("cay") * col("cay")))
      ), 6).as("dcor"))
  }

  /** A11 `pval=True` arm — permutation p-value for distance correlation
    * (`distance_func.py:63-71`: shuffle y, recompute dcor, p = share of
    * permuted dcor STRICTLY greater than observed; the reference runs
    * 500 np.random shuffles, here K=20 DETERMINISTIC md5-hash
    * permutations so the whole test is reproducible in any engine).
    * All 21 statistics (observed + 20 permuted) ride ONE plan: the
    * permutation id k is just another partition key on the pair
    * relation, so Spark evaluates the k=0..20 double-centerings as a
    * single windowed scan of 21·n² bounded-sample rows — the
    * distributed analogue of the reference's driver loop. */
  def qDcorPval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    // frozen for the same reason as [[qDcor]] — this plan consumes the
    // sample in FOUR branches (perm ids, x side, y side, k=0 arm)
    val base = graft.Frozen.copy(Tables.lineitem(s, d)
      .orderBy(ord: _*).limit(100)
      .select(row_number().over(Window.orderBy(ord: _*)).as("i"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y")))
    val ks = (1 to 20).toDF("k")
    // permutation k sends position i to the rank of md5(k_i) — a
    // deterministic Fisher-Yates substitute both engines agree on
    val perm = base.select(col("i")).crossJoin(broadcast(ks))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("k"))
        .orderBy(md5(concat_ws("_", col("k"), col("i"))), col("i"))))
    val shuffled = perm
      .join(base.select(col("i"), col("x")), "i")
      .join(base.select(col("i").as("iy"), col("y")), col("rnk") === col("iy"))
      .select(col("k"), col("i"), col("x"), col("y"))
    val all = base.select(lit(0).as("k"), col("i"), col("x"), col("y"))
      .unionByName(shuffled)
    val b = all.select(col("k").as("k2"), col("i").as("j"),
      col("x").as("xj"), col("y").as("yj"))
    val pairs = all.join(b, col("k") === col("k2"))
      .select(col("k"), col("i"), col("j"),
        abs(col("x") - col("xj")).as("ax"), abs(col("y") - col("yj")).as("ay"))
    val wi = Window.partitionBy(col("k"), col("i"))
    val wj = Window.partitionBy(col("k"), col("j"))
    val wK = Window.partitionBy(col("k"))
    val centered = pairs
      .withColumn("cax", col("ax") - avg(col("ax")).over(wi)
        - avg(col("ax")).over(wj) + avg(col("ax")).over(wK))
      .withColumn("cay", col("ay") - avg(col("ay")).over(wi)
        - avg(col("ay")).over(wj) + avg(col("ay")).over(wK))
    val dcors = centered.groupBy(col("k"))
      .agg(sqrt(avg(col("cax") * col("cay"))
        / sqrt(avg(col("cax") * col("cax")) * avg(col("cay") * col("cay")))).as("dc"))
    val obs = dcors.filter(col("k") === 0).select(col("dc").as("obs"))
    dcors.filter(col("k") > 0).crossJoin(broadcast(obs))
      .agg(round(max(col("obs")), 6).as("dcor"),
        sum(when(col("dc") > col("obs"), 1L).otherwise(0L)).as("n_greater"),
        count(lit(1)).as("n_perm"))
      .withColumn("pval", col("n_greater").cast("double") / col("n_perm"))
  }

  /** M10-shaped additive attribution for a closed-form model: OLS
    * y ~ x1 + x2 fit AS AGGREGATION (normal equations from var/cov
    * aggregates — the "fit" is itself a relational query), then
    * per-feature mean |contribution| (`feature_selection_numerai
    * .py:286`'s mean-|SHAP| shape, exact for linear models). */
  def qOlsContrib(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_quantity").as("x1"), col("l_discount").as("x2"),
        col("l_extendedprice").as("y"))
    val stats = li.agg(
      var_samp(col("x1")).as("v1"), var_samp(col("x2")).as("v2"),
      covar_samp(col("x1"), col("x2")).as("c12"),
      covar_samp(col("x1"), col("y")).as("c1y"),
      covar_samp(col("x2"), col("y")).as("c2y"),
      avg(col("x1")).as("m1"), avg(col("x2")).as("m2"))
    val withB = li.crossJoin(broadcast(stats))
      .withColumn("det", col("v1") * col("v2") - col("c12") * col("c12"))
      .withColumn("b1", (col("v2") * col("c1y") - col("c12") * col("c2y")) / col("det"))
      .withColumn("b2", (col("v1") * col("c2y") - col("c12") * col("c1y")) / col("det"))
    val f1 = withB.agg(round(avg(col("b1")), 6).as("beta"),
      round(avg(abs(col("b1") * (col("x1") - col("m1")))), 4).as("mean_abs_contrib"))
      .withColumn("feature", lit("x1"))
    val f2 = withB.agg(round(avg(col("b2")), 6).as("beta"),
      round(avg(abs(col("b2") * (col("x2") - col("m2")))), 4).as("mean_abs_contrib"))
      .withColumn("feature", lit("x2"))
    f1.unionByName(f2).select(col("feature"), col("beta"), col("mean_abs_contrib"))
      .orderBy(col("feature"))
  }

  /** A12 — maximal correlation via ACE (`distance_func.py:26-35`) of
    * quantity vs extendedprice on the same deterministic bounded head
    * sample as q_dcor: the distributed part is producing the ordered
    * sample; the alternating conditional-expectation smoother is
    * driver-side on the collected pair BY DESIGN (SURVEY A12 — the
    * reference runs ACE per feature pair on two columns). Rows-only
    * check (the iterative smoother is not ANSI SQL); the ACE
    * implementation itself is pinned by MaxCorrSpec. */
  def qMaxcorr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Tables.lineitem(s, d)
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .limit(500)
      .select(col("l_quantity").cast("double"), col("l_extendedprice").cast("double"))
      .collect()
    val x = rows.map(_.getDouble(0))
    val y = rows.map(_.getDouble(1))
    val mc = math.rint(graft.ml.MaxCorr.maxCorrelation(x, y) * 1e6) / 1e6
    Seq((mc, math.rint((1.0 - mc) * 1e6) / 1e6, x.length.toLong))
      .toDF("maxcorr", "maxcorr_dist", "n")
  }

  /** A12, ORACLE-CHECKED relational twin of [[qMaxcorr]] — ACE with a
    * FIXED 3 iterations, fully distributed: each conditional-mean
    * smoothing is a groupBy over the 10 equal-width bins broadcast
    * back onto the pair scan, so the whole alternation is ONE Catalyst
    * plan over the FULL column pair — no sample, no collect (the
    * reference, and qMaxcorr, collect two columns to the driver).
    * Standardization drops out: conditional expectation and Pearson
    * correlation are both affine-invariant, so corr(phi_k, theta_k)
    * is identical with or without the per-step rescaling — which
    * makes the recursion pure group-mean SQL, reproducible in any
    * engine. The tol-terminated driver ACE stays as the
    * reference-faithful API (`MaxCorrSpec`); AceSpec ties this plan
    * to it at maxIter=3. */
  def qAceCorr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, d)
      .select(col("l_quantity").cast("double").as("x"),
        col("l_extendedprice").cast("double").as("y"))
    val ext = base.agg(min(col("x")).as("xlo"), max(col("x")).as("xhi"),
      min(col("y")).as("ylo"), max(col("y")).as("yhi"))
    def bin(c: Column, lo: Column, hi: Column): Column =
      least(lit(9), floor((c - lo) / (hi - lo) * 10).cast("int"))
    // the binned pair relation is read by every smoothing step —
    // persist it once. Each conditional-mean relation is 10 rows: it
    // crosses to the driver (the same edge-collect contract as
    // centroids/fitted stats) and folds back into the next step as a
    // literal map lookup, so every job stays a shallow scan of the
    // cache — the join-chain form paid seconds of codegen compile per
    // ever-deeper plan for the same 10-row broadcasts
    QueryScope.run {
      val binned = base.crossJoin(broadcast(ext))
        .select(col("y"), bin(col("x"), col("xlo"), col("xhi")).as("bq"),
          bin(col("y"), col("ylo"), col("yhi")).as("bp"))
        .transform(QueryScope.persist)
      def asMapLookup(rows: Array[org.apache.spark.sql.Row], key: Column): Column = {
        val entries = rows.flatMap(r => Seq(lit(r.getInt(0)), lit(r.getDouble(1))))
        element_at(map(entries.toIndexedSeq: _*), key)
      }
      var theta: Column = col("y")
      var phi: Column = theta
      for (_ <- 1 to 3) {
        val sm1 = binned.groupBy(col("bq")).agg(avg(theta).as("m")).collect()
        phi = asMapLookup(sm1, col("bq"))
        val sm2 = binned.groupBy(col("bp")).agg(avg(phi).as("m")).collect()
        theta = asMapLookup(sm2, col("bp"))
      }
      val r = binned.agg(round(corr(phi, theta), 6).as("maxcorr"),
        count(lit(1)).as("n")).head()
      Seq((r.getDouble(0), r.getLong(1))).toDF("maxcorr", "n")
    }
  }

  /** Session windows over events (gap 30 min): Spark-native
    * `session_window`, oracle-mirrored by the gaps-and-islands SQL. */
  def qSessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"),
        max(col("n")).as("max_session_events"))
      .orderBy(col("user_id"))

  /** A7 scale pair — exact multi-column distinct counts (the expand-
    * based plan); the approximate path is `approx_count_distinct`
    * (HLL), excluded from the oracle set because sketch estimates are
    * engine-specific. */
  def qCountDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supp"),
      countDistinct(col("l_orderkey")).as("n_orders"))

  /** Distributed-sketch distinct counting (HLL++): at 100 TB exact
    * count-distinct shuffles every distinct key; the sketch is a
    * constant-size mergeable state per partition. Spark's HLL++ is
    * deterministic for a given dataset, so the query pins the sketch's
    * error CONTRACT (within 10% of exact — observed <4% on the
    * fixtures, pinned tighter in SketchSpec) as an oracle-checkable
    * boolean next to the exact answer. */
  def qSketchDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), rsd = 0.05).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact"))
          <= col("n_exact").cast("double") * 0.1).as("approx_ok"))
      .orderBy(col("event_type"))

  /** Quantile sketch (Greenwald-Khanna via approx_percentile at
    * accuracy 100): same contract pattern — exact median emitted,
    * sketch pinned within 5% relative error. */
  def qSketchQuantile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("exact_med"),
        expr("approx_percentile(value, 0.5, 100)").as("approx_med"))
      .select(col("event_type"), round(col("exact_med"), 2).as("median"),
        // relative to |median| (an unsigned magnitude — a negative
        // median must not collapse the tolerance to 0.05 absolute),
        // floored at 1.0 so near-zero medians keep a sane bound
        (abs(col("approx_med") - col("exact_med"))
          <= greatest(abs(col("exact_med")), lit(1.0)) * 0.05).as("approx_ok"))
      .orderBy(col("event_type"))

  /** Frequent-items sketch (Count-Min): the third mergeable sketch of
    * the 100 TB family — at scale the exact token histogram shuffles
    * the full vocabulary, while the CMS is a constant-size mergeable
    * grid per partition. Same contract pattern as the HLL/quantile
    * sketches: the exact top-10 tokens are emitted (deterministic
    * count-then-token ordering) next to an oracle-checkable boolean
    * pinning the CMS guarantee (estimate never undercounts; over-error
    * bounded by eps·N). The sketch is seeded, so it is deterministic
    * per dataset; the KB-sized sketch crosses to the driver at the
    * same API edge as fitted stats. */
  def qSketchTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.spread(s, Tables.documents(s, d))
      .select(explode(graft.operators.TextOps.words(col("text"))).as("w"))
    val agg = words.agg(
      expr("count_min_sketch(w, 0.001d, 0.99d, 42)").as("cms"),
      count(lit(1)).as("n_total")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(agg.getAs[Array[Byte]]("cms")))
    val nTotal = agg.getAs[Long]("n_total")
    val exact = words.groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w")).limit(10).collect()
    exact.toSeq.map { r =>
      val (w, n) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(w)
      (w, n, est >= n && est - n <= math.ceil(0.001 * nTotal).toLong)
    }.toDF("w", "n_exact", "cms_ok")
  }

  /** Winsorization — clip a measure at its group's [p05, p95] (the
    * outlier-robust preprocessing step, P8 generalized to data-driven
    * bounds). Exact percentiles per group are a tiny aggregate joined
    * back broadcast; the clip itself is scan-local. At extreme group
    * cardinality the exact percentile swaps for the mergeable sketch
    * (`q_sketch_quantile` path). */
  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // relational exact bounds (bit-identical, ExactPercentileSpec):
    // the builtin buffered ~200k distinct prices per group in one
    // in-memory map — the dominant cost of this entry (2.2 -> ~1.4 s)
    val bounds = graft.operators.ExactPercentile.grouped(li,
        Seq("l_returnflag"), "l_extendedprice",
        Seq(("lo", 0.05), ("hi", 0.95)))
      .select(col("l_returnflag").as("rf"), col("lo"), col("hi"))
    li.join(broadcast(bounds), col("l_returnflag") === col("rf"))
      .select(col("l_returnflag"), col("l_extendedprice"),
        least(greatest(col("l_extendedprice"), col("lo")), col("hi")).as("w"),
        col("lo"), col("hi"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        round(sum(col("w")), 0).as("sum_winsorized"))
      .orderBy(col("l_returnflag"))
  }

  /** Chi-square independence test — lang × source contingency over
    * documents, via the identity chi2 = N·Σ o²/(rt·ct) − N (only
    * OBSERVED cells enter, so empty cells need no generation). The
    * contingency table and its margins are tiny aggregates; the only
    * corpus-scale pass is the first groupBy. */
  def qChi2(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o")).cast("double").as("n"))
    cells.join(broadcast(rt), "lang").join(broadcast(ct), "source")
      .crossJoin(broadcast(n))
      .agg(
        round(max(col("n")) *
          sum(col("o") * col("o") / (col("rt") * col("ct"))) - max(col("n")), 4)
          .as("chi2"),
        ((countDistinct(col("lang")) - 1) *
          (countDistinct(col("source")) - 1)).as("dof"),
        max(col("n")).cast("long").as("n"))
  }

  /** Population stability index — the standard drift metric between a
    * reference window (days 1-15) and a current window (days 16+) of
    * the value stream: decile edges fit on the reference (one tiny
    * percentile aggregate, broadcast back), both windows bucketed by
    * the same edges, PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) with a
    * 1e-4 floor against empty buckets. The corpus-scale passes are
    * two scans + one 10-key groupBy each. */
  def qPsi(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(dayofmonth(col("ts")).as("day"), col("value"))
    val ref = ev.filter(col("day") <= 15)
    val cur = ev.filter(col("day") > 15)
    // the builtin aggregate stays: the UNGROUPED relational form
    // funnels the distinct-value relation into one sorting task and
    // measured 2x the buffer-merge here (1.6 vs 0.8 s) — the
    // relational swap pays off only for per-group buffers that are
    // themselves corpus-sized (see q_winsorize)
    val edges = ref.agg(
      expr("percentile(value, 0.1)").as("e1"), expr("percentile(value, 0.2)").as("e2"),
      expr("percentile(value, 0.3)").as("e3"), expr("percentile(value, 0.4)").as("e4"),
      expr("percentile(value, 0.5)").as("e5"), expr("percentile(value, 0.6)").as("e6"),
      expr("percentile(value, 0.7)").as("e7"), expr("percentile(value, 0.8)").as("e8"),
      expr("percentile(value, 0.9)").as("e9"))
    def bucket(df: DataFrame): DataFrame = {
      val b = (1 to 9).map(i => when(col("value") > col(s"e$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      df.crossJoin(broadcast(edges))
        .select(b.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    }
    val rb = bucket(ref).select(col("bucket"), col("n").as("n_ref"))
    val cb = bucket(cur).select(col("bucket"), col("n").as("n_cur"))
    val tot = rb.agg(sum(col("n_ref")).cast("double").as("tr"))
      .crossJoin(cb.agg(sum(col("n_cur")).cast("double").as("tc")))
    rb.join(cb, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(tot))
      .select(
        greatest(coalesce(col("n_ref"), lit(0L)) / col("tr"), lit(1e-4)).as("pr"),
        greatest(coalesce(col("n_cur"), lit(0L)) / col("tc"), lit(1e-4)).as("pc"))
      .agg(round(sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))), 5)
        .as("psi"), count(lit(1)).as("n_buckets"))
  }

  /** Per-source KL divergence — D(P_source ‖ P_corpus) over unigram
    * distributions: the vocabulary-drift audit that flags a domain
    * whose language diverges from the mix. Count relations are
    * vocabulary-sized; the corpus marginal joins on the word key. */
  def qKlSource(s: SparkSession, d: String): DataFrame = {
    val words = Tables.spread(s, Tables.documents(s, d))
      .select(col("source"),
        explode(graft.operators.TextOps.words(col("text"))).as("w"))
    val sw = words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
    val cw = words.groupBy(col("w")).agg(count(lit(1)).as("cc"))
    val st = sw.groupBy(col("source")).agg(sum(col("cs")).cast("double").as("ts"))
    val ct = cw.agg(sum(col("cc")).cast("double").as("tc"))
    sw.join(cw, "w")
      .join(broadcast(st), "source")
      .crossJoin(broadcast(ct))
      .groupBy(col("source"))
      .agg(round(sum((col("cs") / col("ts")) *
        log((col("cs") / col("ts")) / (col("cc") / col("tc")))), 5).as("kl"),
        count(lit(1)).as("n_words"))
      .orderBy(col("source"))
  }

  /** Robust scaling — (x − median) / IQR per group (the
    * outlier-insensitive twin of `q_standardize`'s z-score): exact
    * per-group quartiles are a tiny broadcast aggregate, the scaling
    * pass is scan-local, and the output pins the scaled
    * distribution's symmetric-quartile contract (p25 → −0.5,
    * p75 → +0.5 by construction) plus a |scaled| > 3 outlier count. */
  def qRobustScale(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val fit = ev.groupBy(col("event_type").as("et"))
      .agg(expr("percentile(value, 0.5)").as("med"),
        (expr("percentile(value, 0.75)") - expr("percentile(value, 0.25)"))
          .as("iqr"))
    ev.join(broadcast(fit), col("event_type") === col("et"))
      .withColumn("scaled", (col("value") - col("med")) / col("iqr"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(col("med")), 4).as("med"),
        round(max(col("iqr")), 4).as("iqr"),
        sum(when(abs(col("scaled")) > 3.0, 1L).otherwise(0L)).as("n_outliers"),
        sum(when(col("scaled") <= -0.5, 1L).otherwise(0L)).as("n_below_half_iqr"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    "q_robust_scale" -> qRobustScale,
    "q_psi"          -> qPsi,
    "q_kl_source"    -> qKlSource,
    "q_winsorize"    -> qWinsorize,
    "q_chi2"         -> qChi2,
    "q_sketch_distinct" -> qSketchDistinct,
    "q_sketch_topk"     -> qSketchTopk,
    "q_sketch_quantile" -> qSketchQuantile,
    "q_count_distinct" -> qCountDistinct,
    "q_era_parse"      -> qEraParse,
    "q_str_to_array"   -> qStrToArray,
    "q_dcor"           -> qDcor,
    "q_dcor_pval"      -> qDcorPval,
    "q_maxcorr"        -> qMaxcorr,
    "q_ace_corr"       -> qAceCorr,
    "q_ols_contrib"    -> qOlsContrib,
    "q_session_window" -> qSessionWindow,
  )

  val oracles: Map[String, String] = Map(
    "q_robust_scale" ->
      """WITH fit AS (SELECT event_type AS et,
        |    quantile_cont(value, 0.5) AS med,
        |    quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
        |  FROM events GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  round(max(med), 4) AS med, round(max(iqr), 4) AS iqr,
        |  CAST(sum(CASE WHEN abs((value - med) / iqr) > 3.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN (value - med) / iqr <= -0.5
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_below_half_iqr
        |FROM events JOIN fit ON event_type = et
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_psi" ->
      """WITH ev AS (SELECT day(ts) AS day, value FROM events),
        |ref AS (SELECT value FROM ev WHERE day <= 15),
        |cur AS (SELECT value FROM ev WHERE day > 15),
        |e AS (SELECT quantile_cont(value, 0.1) AS e1, quantile_cont(value, 0.2) AS e2,
        |  quantile_cont(value, 0.3) AS e3, quantile_cont(value, 0.4) AS e4,
        |  quantile_cont(value, 0.5) AS e5, quantile_cont(value, 0.6) AS e6,
        |  quantile_cont(value, 0.7) AS e7, quantile_cont(value, 0.8) AS e8,
        |  quantile_cont(value, 0.9) AS e9 FROM ref),
        |rb AS (SELECT (CASE WHEN value > e1 THEN 1 ELSE 0 END +
        |  CASE WHEN value > e2 THEN 1 ELSE 0 END + CASE WHEN value > e3 THEN 1 ELSE 0 END +
        |  CASE WHEN value > e4 THEN 1 ELSE 0 END + CASE WHEN value > e5 THEN 1 ELSE 0 END +
        |  CASE WHEN value > e6 THEN 1 ELSE 0 END + CASE WHEN value > e7 THEN 1 ELSE 0 END +
        |  CASE WHEN value > e8 THEN 1 ELSE 0 END + CASE WHEN value > e9 THEN 1 ELSE 0 END)
        |  AS bucket, count(*) AS n_ref FROM ref, e GROUP BY 1),
        |cb AS (SELECT (CASE WHEN value > e1 THEN 1 ELSE 0 END +
        |  CASE WHEN value > e2 THEN 1 ELSE 0 END + CASE WHEN value > e3 THEN 1 ELSE 0 END +
        |  CASE WHEN value > e4 THEN 1 ELSE 0 END + CASE WHEN value > e5 THEN 1 ELSE 0 END +
        |  CASE WHEN value > e6 THEN 1 ELSE 0 END + CASE WHEN value > e7 THEN 1 ELSE 0 END +
        |  CASE WHEN value > e8 THEN 1 ELSE 0 END + CASE WHEN value > e9 THEN 1 ELSE 0 END)
        |  AS bucket, count(*) AS n_cur FROM cur, e GROUP BY 1),
        |tot AS (SELECT (SELECT sum(n_ref) * 1.0 FROM rb) AS tr,
        |        (SELECT sum(n_cur) * 1.0 FROM cb) AS tc),
        |p AS (SELECT greatest(coalesce(n_ref, 0) / tr, 1e-4) AS pr,
        |      greatest(coalesce(n_cur, 0) / tc, 1e-4) AS pc
        |      FROM rb FULL OUTER JOIN cb USING (bucket), tot)
        |SELECT round(sum((pc - pr) * ln(pc / pr)), 5) AS psi,
        |  count(*) AS n_buckets FROM p""".stripMargin,
    "q_kl_source" ->
      """WITH w AS (SELECT source, unnest(string_split(text,' ')) AS w
        |           FROM documents),
        |sw AS (SELECT source, w, count(*) AS cs FROM w GROUP BY 1, 2),
        |cw AS (SELECT w, count(*) AS cc FROM w GROUP BY 1),
        |st AS (SELECT source, sum(cs) * 1.0 AS ts FROM sw GROUP BY 1),
        |ct AS (SELECT sum(cc) * 1.0 AS tc FROM cw)
        |SELECT source,
        |  round(sum((cs / ts) * ln((cs / ts) / (cc / tc))), 5) AS kl,
        |  count(*) AS n_words
        |FROM sw JOIN cw USING (w) JOIN st USING (source), ct
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (SELECT l_returnflag AS rf,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lo,
        |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hi,
        |  round(sum(least(greatest(l_extendedprice, lo), hi)), 0)
        |    AS sum_winsorized
        |FROM lineitem JOIN b ON l_returnflag = rf
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_chi2" ->
      """WITH cells AS (SELECT lang, source, count(*) AS o FROM documents
        |               GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT sum(o) * 1.0 AS n FROM cells)
        |SELECT round(max(n.n) * sum(o * o * 1.0 / (rt.rt * ct.ct)) - max(n.n), 4)
        |    AS chi2,
        |  CAST((count(DISTINCT cells.lang) - 1) *
        |       (count(DISTINCT cells.source) - 1) AS BIGINT) AS dof,
        |  CAST(max(n.n) AS BIGINT) AS n
        |FROM cells JOIN rt USING (lang) JOIN ct USING (source), n""".stripMargin,
    // fixed-3-iteration ACE unrolled: theta0 = y, phi_k = E[theta_{k-1} | bin(x)],
    // theta_k = E[phi_k | bin(y)]; standardization is affine and drops out of corr
    "q_ace_corr" ->
      """WITH base AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
        |ext AS (SELECT min(x) AS xlo, max(x) AS xhi,
        |        min(y) AS ylo, max(y) AS yhi FROM base),
        |b AS (SELECT y,
        |    least(9, CAST(floor((x - xlo) / (xhi - xlo) * 10) AS INT)) AS bq,
        |    least(9, CAST(floor((y - ylo) / (yhi - ylo) * 10) AS INT)) AS bp
        |  FROM base CROSS JOIN ext),
        |p1 AS (SELECT bq, avg(y) AS phi1 FROM b GROUP BY 1),
        |b1 AS (SELECT b.*, phi1 FROM b JOIN p1 USING (bq)),
        |t1 AS (SELECT bp, avg(phi1) AS th1 FROM b1 GROUP BY 1),
        |b2 AS (SELECT b1.*, th1 FROM b1 JOIN t1 USING (bp)),
        |p2 AS (SELECT bq, avg(th1) AS phi2 FROM b2 GROUP BY 1),
        |b3 AS (SELECT b2.*, phi2 FROM b2 JOIN p2 USING (bq)),
        |t2 AS (SELECT bp, avg(phi2) AS th2 FROM b3 GROUP BY 1),
        |b4 AS (SELECT b3.*, th2 FROM b3 JOIN t2 USING (bp)),
        |p3 AS (SELECT bq, avg(th2) AS phi3 FROM b4 GROUP BY 1),
        |b5 AS (SELECT b4.*, phi3 FROM b4 JOIN p3 USING (bq)),
        |t3 AS (SELECT bp, avg(phi3) AS th3 FROM b5 GROUP BY 1),
        |b6 AS (SELECT b5.*, th3 FROM b5 JOIN t3 USING (bp))
        |SELECT round(corr(phi3, th3), 6) AS maxcorr, count(*) AS n FROM b6""".stripMargin,
    // the sketch side is engine-internal; the CONTRACT (exact value +
    // sketch-within-tolerance boolean) is what both engines agree on
    "q_sketch_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        | TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sketch_topk" ->
      """SELECT w, count(*) AS n_exact, TRUE AS cms_ok
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY n_exact DESC, w LIMIT 10""".stripMargin,
    "q_sketch_quantile" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 2) AS median,
        | TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    "q_era_parse" ->
      """SELECT CAST(regexp_replace('era' || month(o_orderdate), '^era', '') AS BIGINT) AS era,
        | count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_str_to_array" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  array_to_string(list_transform(v, x -> CAST(x AS VARCHAR)), ',') AS str
        |  FROM e),
        |p AS (SELECT vec_id, v,
        |  list_transform(string_split(str, ','), x -> CAST(x AS DOUBLE)) AS pv
        |  FROM s)
        |SELECT count(*) AS n_vectors,
        |  CAST(sum(CASE WHEN pv = v THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_roundtrip_exact,
        |  CAST(sum(CASE WHEN len(pv) = len(v) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_len_ok
        |FROM p""".stripMargin,
    "q_dcor" ->
      """WITH base AS (
        |  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS i,
        |    l_quantity AS x, l_extendedprice AS y
        |  FROM (SELECT * FROM lineitem
        |        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey LIMIT 100)),
        |pairs AS (
        |  SELECT a.i, b.i AS j, abs(a.x - b.x) AS ax, abs(a.y - b.y) AS ay
        |  FROM base a, base b),
        |centered AS (
        |  SELECT ax - avg(ax) OVER (PARTITION BY i) - avg(ax) OVER (PARTITION BY j)
        |           + avg(ax) OVER () AS cax,
        |         ay - avg(ay) OVER (PARTITION BY i) - avg(ay) OVER (PARTITION BY j)
        |           + avg(ay) OVER () AS cay
        |  FROM pairs)
        |SELECT round(sqrt(avg(cax * cay)
        |  / sqrt(avg(cax * cax) * avg(cay * cay))), 6) AS dcor
        |FROM centered""".stripMargin,
    "q_dcor_pval" ->
      """WITH base AS (
        |  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS i,
        |    l_quantity AS x, l_extendedprice AS y
        |  FROM (SELECT * FROM lineitem
        |        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey LIMIT 100)),
        |ks AS (SELECT unnest(range(1, 21)) AS k),
        |perm AS (SELECT k, i,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY md5(concat_ws('_', k, i)), i) AS rnk
        |  FROM base, ks),
        |shuffled AS (SELECT p.k, p.i, xs.x, ys.y
        |  FROM perm p JOIN base xs ON p.i = xs.i JOIN base ys ON p.rnk = ys.i),
        |allk AS (SELECT 0 AS k, i, x, y FROM base
        |         UNION ALL SELECT k, i, x, y FROM shuffled),
        |pairs AS (SELECT a.k, a.i, b.i AS j,
        |    abs(a.x - b.x) AS ax, abs(a.y - b.y) AS ay
        |  FROM allk a JOIN allk b ON a.k = b.k),
        |centered AS (SELECT k,
        |    ax - avg(ax) OVER (PARTITION BY k, i) - avg(ax) OVER (PARTITION BY k, j)
        |      + avg(ax) OVER (PARTITION BY k) AS cax,
        |    ay - avg(ay) OVER (PARTITION BY k, i) - avg(ay) OVER (PARTITION BY k, j)
        |      + avg(ay) OVER (PARTITION BY k) AS cay
        |  FROM pairs),
        |dc AS (SELECT k, sqrt(avg(cax * cay)
        |    / sqrt(avg(cax * cax) * avg(cay * cay))) AS dc
        |  FROM centered GROUP BY 1),
        |obs AS (SELECT dc AS obs FROM dc WHERE k = 0)
        |SELECT round(max(obs), 6) AS dcor,
        |  CAST(sum(CASE WHEN dc.dc > obs THEN 1 ELSE 0 END) AS BIGINT) AS n_greater,
        |  count(*) AS n_perm,
        |  CAST(sum(CASE WHEN dc.dc > obs THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pval
        |FROM dc, obs WHERE dc.k > 0""".stripMargin,
    "q_ols_contrib" ->
      """WITH li AS (SELECT l_quantity AS x1, l_discount AS x2, l_extendedprice AS y FROM lineitem),
        |stats AS (
        |  SELECT var_samp(x1) AS v1, var_samp(x2) AS v2, covar_samp(x1, x2) AS c12,
        |    covar_samp(x1, y) AS c1y, covar_samp(x2, y) AS c2y,
        |    avg(x1) AS m1, avg(x2) AS m2
        |  FROM li),
        |wb AS (
        |  SELECT x1, x2, m1, m2,
        |    (v2 * c1y - c12 * c2y) / (v1 * v2 - c12 * c12) AS b1,
        |    (v1 * c2y - c12 * c1y) / (v1 * v2 - c12 * c12) AS b2
        |  FROM li, stats)
        |SELECT 'x1' AS feature, round(avg(b1), 6) AS beta,
        |  round(avg(abs(b1 * (x1 - m1))), 4) AS mean_abs_contrib FROM wb
        |UNION ALL
        |SELECT 'x2', round(avg(b2), 6), round(avg(abs(b2 * (x2 - m2))), 4) FROM wb
        |ORDER BY feature""".stripMargin,
    "q_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS es, event_id FROM events),
        |f AS (SELECT user_id, es, event_id,
        |    CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
        |      > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |g AS (SELECT user_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY es, event_id) AS sid
        |  FROM f),
        |sess AS (SELECT user_id, sid, count(*) AS n FROM g GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, CAST(sum(n) AS BIGINT) AS n_events,
        |  max(n) AS max_session_events
        |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
