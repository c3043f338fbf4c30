package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CorePack

/** Plan-shape regression tests: the optimizations the engine depends
  * on at scale must actually appear in the physical plan (prompt rule:
  * a scan that reads all columns for a 2-column projection is wrong).
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  test("filters are pushed into the parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p.take(500))
  }

  test("scans are column-pruned") {
    val p = plan("q_filter_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double>"), p.take(800))
  }

  test("star join broadcasts the small dimensions") {
    assert(plan("q_join_star").contains("BroadcastHashJoin"))
  }

  test("q4 decorrelates to one semi join with the quarter filter in the scan") {
    val p = plan("q4_order_priority")
    // the EXISTS shape: exactly a left-semi hash join on the order
    // key with the lateness residual, never a per-row re-probe; the
    // date window reaches the orders parquet scan
    assert(p.contains("LeftSemi"), p.take(900))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p.take(1200))
  }

  test("top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("q_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("ranked-filter ANN uses WindowGroupLimit pushdown") {
    assert(plan("q_ann_cosine").contains("WindowGroupLimit"))
  }

  test("bm25 is single-scan: no Exchange on the doc key between tf and dl") {
    // dl rides the tf rows, so the only doc-side shuffle is the
    // (doc, dl, term) aggregate; a join back to a second scan of
    // documents would add a SortMergeJoin on doc_id
    val p = plan("q_bm25")
    assert(!p.contains("SortMergeJoin"), p.take(900))
    assert(p.contains("BroadcastHashJoin"), p.take(900)) // df + stats sides
  }

  test("semdedup broadcasts the centroid relation, never shuffles it") {
    val p = plan("q_semdedup")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(900))
  }

  test("inverted-index posting cap plans as WindowGroupLimit") {
    assert(plan("q_inverted_index").contains("WindowGroupLimit"))
  }

  test("event paths top-k plans as TakeOrderedAndProject") {
    assert(plan("q_event_paths").contains("TakeOrderedAndProject"))
  }

  test("LSH hot-bucket guards plan as broadcast anti-joins, not shuffle joins") {
    // the r2 regression shape: re-joining the (~everything) keep set
    // added two shuffles per dedup query; the guard must stay a
    // broadcast LeftAnti against the tiny hot list
    // q_minhash_lsh now reads the memoized candidate table, so the
    // guard shape lives in the MATERIALIZATION pipeline — assert on
    // the builder's plan directly
    val mh = graft.queries.TextPack.minhashCandidates(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(mh.contains("BroadcastHashJoin") && mh.contains("LeftAnti"),
      s"minhash guard is not a broadcast anti-join:\n${mh.take(1200)}")
    val p = plan("q_simhash_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"q_simhash_dedup guard is not a broadcast anti-join:\n${p.take(1200)}")
  }

  test("partitioned writes enable partition pruning on read") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, TestSpark.sf)
      .withColumn("d", to_date(date_trunc("day", col("ts"))))
      .write.partitionBy("d").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("d") === lit("2024-01-03").cast("date"))
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(d"), p.take(600))
    assert(pruned.count() > 0)
  }

  test("rolling_hash is SQL-callable via GraftExtensions") {
    // injectFunction path, exercised through the function registry
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => graft.functions.RollingHash(exprs.head), "scala_udf")
    val got = spark.sql("SELECT rolling_hash('hello world') AS h")
      .head().getLong(0)
    assert(got == graft.functions.RollingHash.hash("hello world".getBytes("UTF-8")))
  }

  test("cube plans as one Expand pass, not per-grouping-set rescans") {
    val p = plan("q_cube")
    assert(p.contains("Expand"), p.take(600))
    // each input table is scanned exactly once; the lattice comes from
    // Expand row replication, not repeated scans
    assert("FileScan parquet".r.findAllMatchIn(p).size == 2, p.take(1200))
  }

  test("grouping sets plan as one Expand pass over a single scan each") {
    val p = plan("q_grouping_sets")
    assert("Expand".r.findAllMatchIn(p).size >= 1, p.take(600))
    assert("FileScan parquet".r.findAllMatchIn(p).size == 3, p.take(1200))
  }

  test("salted join plans as a shuffled hash join, not a broadcast") {
    // broadcasting the replicated dim would bypass the skew path the
    // query exists to exercise
    val p = plan("q_salted_join")
    assert(p.contains("ShuffledHashJoin"), p.take(1200))
    assert(!p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("pivot with explicit values is one pass (no values-discovery job)") {
    // a single scan of orders: explicit pivot values skip the distinct
    // values collection a dynamic pivot would run first
    val p = plan("q_pivot")
    assert("FileScan parquet".r.findAllMatchIn(p).size == 1, p.take(1200))
  }

  test("unpivot lowers to Expand, not a self-union of scans") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"), p.take(800))
    assert("FileScan parquet".r.findAllMatchIn(p).size == 1, p.take(1200))
  }

  test("bloom prefilter probes inside the scan stage, before any join") {
    // the might_contain filter must sit on the lineitem scan side
    // (pre-shuffle pruning is the whole point); the exact semi-join
    // stays to remove false positives
    val p = plan("q_bloom_prefilter")
    assert(p.contains("might_contain"), p.take(1500))
    assert(p.contains("LeftSemi"), p.take(1500))
  }

  test("chunk windows are scan-local: no join, no aggregate exchange") {
    // chunking is one generate pass over the scan; the only exchanges
    // permitted are the deliberate docsSpread round-robin (fixture is
    // a single file) and the final presentation sort — never a
    // hash-partitioned shuffle (that would mean a hidden agg/join)
    val p = plan("q_chunk_windows")
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("hashpartitioning"), p.take(1500))
  }

  test("decontamination probes the benchmark set as a broadcast semi-join") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(1500))
  }

  test("domain gate and mix rebalance never shuffle the corpus scan") {
    // the per-source / per-lang relations are tiny aggregates that
    // come back as broadcasts; the docs side must not exchange before
    // its join
    for (name <- Seq("q_source_filter", "q_mix_sample")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name lost its broadcast join:\n${p.take(1500)}")
    }
  }

  test("tfidf df is an agg+join on term, never a window partitioned on term") {
    // count-over-window(term) puts a stopword's full posting slice in
    // one task; df must come from a partial+final aggregate. The only
    // surviving window is the per-doc rank (partitioned on doc_id).
    val p = plan("q_tfidf_top")
    assert(!p.contains("windowspecdefinition(term"), p.take(1500))
    assert(p.contains("windowspecdefinition(doc_id"), p.take(1500))
  }

  test("quantile-norm ranks inside (pos, bucket) slices, never a full dim window") {
    // the exact-rank swap: no percent_rank over (partition by pos) —
    // the corpus-data window must carry the bucket key so no task ever
    // holds a full dimension slice (the pos-only cumsum window runs on
    // the <=32-rows-per-dim bucket-count relation, which is fine)
    val p = plan("q_quantile_norm")
    assert(!p.contains("percent_rank"), p.take(1500))
    assert("windowspecdefinition\\(pos#\\d+L?, graft_bkt#".r.findFirstIn(p).isDefined,
      p.take(1500))
  }

  test("nearest centroid broadcasts the centroid relation") {
    val p = plan("q_nearest_centroid")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
  }

  test("Q21 shape: EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    // the correlated subqueries must become one LeftSemi and one
    // LeftAnti hash join on the order key — never a per-row re-probe
    // (BroadcastNestedLoopJoin) of the fact relation
    val p = plan("q21_sole_late")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("Q16 shape: NOT IN plans as an anti join, not a nested loop") {
    val p = plan("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("Q18 shape: aggregated key set feeds a semi join; top-k is TakeOrdered") {
    val p = plan("q18_big_orders")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("seeded sample is a scan-local filter: no exchange, no sort, no count pre-pass") {
    import org.apache.spark.sql.functions.col
    val p = graft.operators.Sampling
      .seededBernoulli(Tables.orders(spark, TestSpark.sf),
        col("o_orderkey"), fraction = 0.2, seed = 7)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("Sort"), p.take(800))
    assert(p.contains("Filter"), p.take(800))
  }

  test("Q7 shape: the OR-pair's single-side implication prunes via broadcast dims") {
    // the derived IN-restriction lives in the broadcast lookup dims,
    // so the disjunction never sees out-of-bloc fact rows
    val p = plan("q7_volume_shipping")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("r_name IN (ASIA,EUROPE)") || p.contains("In(r_name, [ASIA,EUROPE])"),
      p.take(4000))
  }

  test("seeded IVF assignment folds the 16-way fan-out with a partial aggregate") {
    // min_by argmin must partial-aggregate map-side: a partial
    // HashAggregate (or its sort-based fallback) appears BELOW the
    // exchange that carries (vec_id) groups, so the 16x centroid
    // blowup never crosses the shuffle
    val p = plan("q_ann_ivf_seeded")
    assert(p.contains("min_by") || p.contains("MinBy") || p.contains("partial"),
      p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("Q20 shape: the correlated HAVING decorrelates — no nested loop, no cartesian") {
    val p = plan("q20_dominant_supplier")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("seeded PQ searches the code relation with broadcast LUT, no code shuffle join") {
    // codes ⋈ LUT must be a broadcast hash join (the LUT is 10x128
    // rows); a shuffle of the corpus-sized code relation on (m, j)
    // would be the 100 TB killer
    val p = plan("q_ann_pq_seeded")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("z-order scan pushes each dimension's filter into the parquet read") {
    // both arms must reach the z-ordered copy as pushed range filters
    // — that is what converts the layout's tight row-group stats into
    // actual skipped IO at 100 TB
    val p = plan("q_zorder_scan")
    assert(p.contains("GreaterThanOrEqual(l_partkey,1), LessThanOrEqual(l_partkey,40)"),
      p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_suppkey,1), LessThanOrEqual(l_suppkey,4)"),
      p.take(2000))
  }

  test("analyze stats is one scan + melt, never a scan per column or an Expand") {
    // the melt form: one Generate (explode of 6 per-row structs) into
    // a two-level aggregate. The Expand-x6 multi-distinct it replaced
    // pushed 3.6M expanded rows through one 30-buffer aggregate —
    // 3.7 -> 2.0 s at sf0.1 — and a per-column plan would scan 6x
    val p = plan("q_analyze_stats")
    assert(p.contains("Generate explode"), p.take(1500))
    assert(!p.contains("Expand"), p.take(1500))
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("fuzzy join hash-joins on the block key; levenshtein is a residual filter") {
    // the PASS-JOIN candidate join must extract the (segment index,
    // length, segment content) equality as the hash key (BNLJ/cartesian
    // here would be all-pairs edit distance — quadratic in the
    // vocabulary at scale)
    val p = plan("q_fuzzy_join")
    assert(p.contains("HashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("gap-fill is one lead window + scan-local span explode — no frame windows") {
    // span form: ONE offset window (lead) pairs consecutive
    // observations; the [obs, next) hour span explodes scan-local with
    // the interpolation computed per exploded row. No aggregate frame
    // may appear at all — in particular never a
    // (currentRow, unboundedFollowing) frame, which Spark evaluates by
    // rescanning to the partition end per row: O(n²) per series
    // (measured 34.9 s vs 3.0 s on the sf0.1 grid; the span form then
    // halved the remaining cost by dropping the grid join + second
    // sort: 3.1 -> 1.2 s).
    val p = plan("q_gapfill")
    assert(!p.contains("unboundedfollowing"), p.take(2000))
    // exactly one Window operator (the anchor lead), over the
    // ANCHOR relation — bounded by observations, never the exploded
    // grid (the Generates sit above it) — and no aggregate frame ever
    // rescans to a partition end; the head/none boundary branches are
    // aggregates and joins, not windows
    assert("Window".r.findAllIn(p).size == 1, p.take(2000))
    assert(p.contains("Generate explode"), p.take(2000))
  }

  test("merge applies with joins on the key only — no cartesian, no nested loop") {
    // the CDC apply is one anti join (deletes) + one outer join
    // (upserts), both keyed on o_orderkey; any nested-loop shape here
    // would be quadratic in the fact at scale
    val p = plan("q_merge_changes")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("DSIR joins the 256-bucket ratio table by broadcast and takes top-k ordered") {
    // the scale contract of importance resampling: the ratio relation
    // is O(buckets) and must broadcast (a shuffle join here would
    // repartition the corpus-sized doc-bucket relation by bucket —
    // 256 hot keys), and the final selection must plan as
    // TakeOrderedAndProject, never a full global sort
    val p = plan("q_importance_resample")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("repeated passages: island windows partition per doc; no pair expansion") {
    // r14: the freq join must be a plain hash join on the window hash
    // (a c>1 flag — never a candidate self-join), and every window
    // function must partition by doc_id (bounded by doc length; a
    // global window would funnel the corpus through one task)
    val p = plan("q_repeated_passages")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("windowspecdefinition(doc_id"), p.take(3000))
    assert(!p.contains("windowspecdefinition()"),
      "found an unpartitioned window:\n" + p.take(1500))
  }

  test("IVF-PQ seeded: the 16-row fan-outs broadcast; ranking is windowed per query") {
    // the centroid / codebook / probe relations are all tiny
    // broadcasts — the fact-sized side must never sort-merge or
    // shuffle for them. Pinned on the silver-table BUILD (r17): the
    // gated query itself now reads the memoized ADC relation, so the
    // plan under audit is the one that constructs it
    val p = graft.queries.SimilarityPack
      .ivfPqSeededAdcBuild(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("fitted ANN: the 16-row centroid and codebook relations broadcast, no sort-merge join") {
    // q_ann_ivf / q_ann_pq feed their driver-trained quantizers back
    // into the shared stages as tiny local relations: the corpus must
    // meet them through broadcasts, never a shuffle join
    for (q <- Seq("q_ann_ivf", "q_ann_pq")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange") && p.contains("LocalTableScan"), p.take(3000))
      assert(!p.contains("SortMergeJoin"), p.take(3000))
    }
  }

  test("filtered ANN: the query set broadcasts, ranking is WindowGroupLimit") {
    // the label predicate rides the broadcast join condition — the
    // corpus scan must never sort-merge against the 10-row query set,
    // and the top-k never materializes a full per-query sort
    val p = plan("q_ann_filtered")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }

  test("unigram logprob: the model join broadcasts onto the corpus side") {
    // vocab-sized relations (the fitted model, the per-lang totals)
    // broadcast; the corpus-scale words relation is never sort-merged
    // against either
    val p = plan("q_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("winnow selection is scan-local: no hash shuffle anywhere") {
    // both kernels (shingle hashing, window-minimum selection) run
    // inside the scan projection — the only exchanges are docsSpread's
    // deliberate round-robin fan-out and (when the adaptive spread
    // width exceeds one partition) the final presentation sort's range
    // partitioning; a hashpartitioning exchange would mean a key
    // shuffle crept into what must stay one pass. At tiny fixture SFs
    // the r18 size-adaptive spread resolves to ONE partition, which
    // already satisfies the global sort — no range exchange at all,
    // one pass either way.
    val p = plan("q_winnow")
    assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
    assert(p.contains("rangepartitioning") || p.contains("SinglePartition"),
      p.take(1500))
  }

  test("directional as-of: both direction frames ride ONE key shuffle") {
    // nearest computes a backward and a forward window whose specs
    // differ only in tag polarity — same hashpartitioning(user_id), so
    // the plan must carry exactly one shuffle exchange for them (the
    // union's two scan legs feed it; re-sorts between the windows are
    // in-partition). A second hashpartitioning exchange would mean the
    // two frames stopped sharing distribution.
    val p = plan("q_asof_nearest")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 key shuffle, got $shuffles:\n${p.take(2000)}")
  }

  test("refine stage broadcasts the candidate list and the query vectors") {
    // stage 2 must be point lookups against the vector scan: both the
    // <=200-row ADC candidate relation and the 10-row query relation
    // arrive as broadcasts — a shuffle join here would re-shuffle the
    // corpus for a bounded re-rank
    val p = plan("q_ann_refine")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(1500))
  }

  test("temperature mix broadcasts the weight table; shard heads go through WindowGroupLimit") {
    assert(plan("q_mix_temperature").contains("BroadcastHashJoin"))
    // the head-3 emission must not sort whole shards to completion
    assert(plan("q_train_shard").contains("WindowGroupLimit"))
  }
}
