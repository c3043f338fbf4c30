package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The bench session's conf: [[Sessions.conf]] plus
    *  - stream-drain checkpoints on RAM when the host has /dev/shm:
    *    the offset/commit WAL fsyncs per micro-batch. With on-disk
    *    checkpoints perfbench `--trace 1` reports that WAL as
    *    `streaming.wal_commit_s`, ~0.02 s per corpus_dedup warm
    *    sweep (4 cores, sf0.1); durability across JVMs is meaningless
    *    for these drain-to-completion harness streams;
    *  - `localDir` (`SPARK_GRAFT_LOCAL_DIR`): shuffle/spill scratch,
    *    overridable so a RAM-backed dir can take the block-manager
    *    writes off the /tmp disk; unset keeps the JVM tmpdir;
    *  - a whole-battery codegen cache: the whole-stage-codegen compile
    *    cache defaults to 100 entries, and ~195 queries × several
    *    codegen stages evict it within one sweep, so the spaced-sweep
    *    min would re-pay janino compilation (~0.2-0.5 s/query) in
    *    EVERY sweep — back-to-back passes hid that by re-running while
    *    still cached. Sized to hold the whole battery so the min
    *    measures plan execution, not recompilation. */
  def sessionConf(cpus: String = Sessions.cpus,
                  shm: Boolean = new java.io.File("/dev/shm").isDirectory,
                  localDir: Option[String] = sys.env.get("SPARK_GRAFT_LOCAL_DIR"))
      : Seq[(String, String)] =
    Sessions.conf(cpus) ++
      (if (shm) Seq("spark.graft.stream.checkpointDir" -> "/dev/shm/graft_ckpt")
       else Nil) ++
      localDir.map("spark.local.dir" -> _) ++
      Seq("spark.sql.codegen.cache.maxEntries" -> "5000")

  /** Untimed warm-up: JIT/janino-compile the common codegen paths
    * (scan, hash agg, window, broadcast join) so per-query timings
    * measure plan execution, not first-use compiler latency. Also
    * warms the documents fixture's page cache: the first timed work is
    * the shared shingle build over documents, and without this read
    * its first sample pays the cold-file cost the second
    * (post-two-sweeps) sample never sees — min-of-two would then
    * systematically select the warm-path time. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
    li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))).count()
    li.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("l_orderkey")))).count()
    li.join(broadcast(li.select(col("l_orderkey").as("k")).limit(10)),
      col("l_orderkey") === col("k")).count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.create(sessionConf())
    spark.sparkContext.setLogLevel("WARN")
    // the streaming drains' stop() emits benign "Failed to cancel job
    // group" WARN pairs from DAGScheduler at teardown; they land in
    // the harness's ~2KB log tail and can push the bench JSON line out
    // of it, so pin that one logger to ERROR for the bench run
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.ERROR)
    // same treatment for the streaming runtime (ResolveWriteToStream's
    // AQE notice, MicroBatchExecution teardown): two residual WARN
    // lines landed ahead of the JSON line in the r10 tail and could
    // push it out of the harness's ~2KB window
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming",
      org.apache.logging.log4j.Level.ERROR)
    // WindowExec's "No Partition Defined" WARN fires only from
    // verified-bounded relations here (100-row dcor samples, 16-row PQ
    // base, distinct-era folds — audited in VERDICT r11), but five such
    // lines sat directly above the JSON in the r11 tail: same
    // tail-eviction risk, same fix
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // TaskSetManager's "very large task size" WARN fires from the
    // streaming MEMORY-SINK drains only (the collected micro-batch
    // result becomes a LocalTableScan whose rows ride the write-task
    // closures — bounded by the streaming aggregate's output, and a
    // harness-only path: production streams write to a file sink).
    // Four such lines sat directly above the r12 JSON tail.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.TaskSetManager",
      org.apache.logging.log4j.Level.ERROR)
    warmUp(spark, sfDir)
    // in-run host-load probe (r17): the 4-way concurrent shared build
    // is the battery's most contention-sensitive entry — calm 3.67 s
    // vs 6.40 s in the r16 driver window, pure oversubscription of an
    // already-loaded box. Four cheap frozen queries (NOT the canary
    // seven, so the reported sweep canary stays un-warmed and
    // round-comparable) are timed against their calm-window pins
    // (committed BENCH_DETAIL sample 277c1bf); min of two probe
    // passes > 1.35 ⇒ the host is hot ⇒ build the shared tables
    // SEQUENTIALLY, degrading to the serial cost instead of
    // multiplying thread demand against a busy box. Probe wall time
    // (~1-2 s) is untimed harness overhead, like the warm-up.
    val probePinned = Map(
      "q_sample_head" -> 0.072, "q_math_funcs" -> 0.110,
      "q_union_filters" -> 0.176, "q_distinct_flags" -> 0.180)
    def probeRatio(): Double = {
      val t0 = System.nanoTime()
      var failed = false
      probePinned.keys.toSeq.sorted.foreach { n =>
        try QueryScope.run(SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save())
        catch { case _: Throwable => failed = true }
      }
      // a failed probe query leaves its pin in the denominator but no
      // work in the numerator, deflating the ratio exactly when the
      // probe must not under-read — treat any failure as hot and let
      // the shared build take the conservative sequential path
      if (failed) Double.MaxValue
      else ((System.nanoTime() - t0) / 1e9) / probePinned.values.sum
    }
    // one UNTIMED pass first: the probe queries' first executions pay
    // planning + codegen (~0.2 s each), which reads as a 2-3× "hot"
    // ratio on a perfectly quiet host — the r17 shakeout run chose
    // sequential at run start for exactly that reason. JIT warmth is
    // not host load; warm first, then time.
    def sharedConcurrency(): Int = {
      probeRatio()
      val r = math.min(probeRatio(), probeRatio())
      if (r > 1.35) 1 else 4
    }
    // shared pipeline materializations are timed as their own entry so
    // per-query timings stay honest: q_ngram_jaccard / q_dedup_apply
    // read the pair table this step builds instead of one of them
    // silently paying the whole shingle pipeline. Same protocol for
    // the kNN candidate table (r17; q_knn_join / q_knn_label /
    // q_knn_graph) and the ADC candidate table (q_ann_ivfpq_seeded /
    // q_ann_refine): without it each build's cost hid inside whichever
    // consumer ran first in sweep A and then vanished from the min.
    // Each build runs in its own QueryScope; a failed build reads as
    // (false, seconds until the failure).
    def timedBuild(build: => Any): (Boolean, Double) = {
      val t0 = System.nanoTime()
      val ok = try { QueryScope.run(build); true } catch { case _: Throwable => false }
      (ok, (System.nanoTime() - t0) / 1e9)
    }
    val sharedConc1 = sharedConcurrency()
    val (sharedOk, sharedSec) = timedBuild(graft.queries.TextPack.prepareShared(
      spark, sfDir, concurrency = sharedConc1))
    val (sharedKnnOk, sharedKnnSec) = timedBuild(
      graft.queries.SimilarityPack.prepareSharedKnn(spark, sfDir))
    val (sharedAdcOk, sharedAdcSec) = timedBuild(
      graft.queries.SimilarityPack.prepareSharedAdc(spark, sfDir))
    // fixed (sorted) query order: Map iteration order reshuffles as
    // queries are added, which moves warm-up costs between rounds and
    // makes per-query timings incomparable round over round
    // min over TWO COMPLETE SWEEPS of the sorted list (not two
    // back-to-back passes per query): three rounds of driver benches
    // swung 85→539 s on identical code from host contention, and
    // back-to-back passes put both samples of a query inside the same
    // contention window — a sustained multi-minute load spike inflated
    // exactly the first-in-order queries 3–17× in the r9 driver run
    // while later queries matched the quiet host to the millisecond.
    // Spacing the two samples a full sweep (~minutes) apart means only
    // a load window spanning the entire run survives the min.
    // each query runs in its own QueryScope, so a later sample never
    // reads an earlier one's persisted frames; OS page cache stays
    // warm in both sweeps, as it would be in steady state
    // streaming queries get a third sweep: their per-sweep variance is
    // micro-batch scheduling (start/stop, state-store setup, no-data
    // watermark batches), not cache state, and two samples leave a
    // single scheduler hiccup in the min ~1 run in 3 (r8/r9 detail:
    // same stream query 0.85 s and 4.1 s across quiet-host runs)
    // comma-separated subset for quiet-host triage of individual
    // entries (driver runs without it — full battery)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    // consume through the noop sink, NOT .count(): counting a
    // cardinality-invariant plan lets Catalyst prune whole
    // window/global-aggregate pipelines (the round-11 scale probe
    // caught q_spearman_by_era "costing" 0.2 s under count() at 100x
    // vs ~22 s actually executed — count() was timing the scan alone
    // for any query whose tail operators don't change row count). The
    // noop DSv2 sink executes the full plan and discards rows, the
    // same work Verify's parquet write does minus the IO.
    def sweep(qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]) =
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // the scope drops the query's persisted frames so cache
        // pressure from one query never skews the next one's timing
        val ok = try {
          QueryScope.run(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
          true
        } catch { case _: Throwable => false }
        name -> (ok, (System.nanoTime() - t0) / 1e9)
      }
    // third-sweep set beyond q_stream*: the queries whose r10 driver
    // min still ran 1.6-7x the quiet host — contention windows can
    // outlast one full sweep, and these (mostly derived-layout or
    // multi-stage) entries showed BOTH spaced samples inflated; a
    // third sample spaced another sweep apart shrinks the odds a
    // window covers all of them
    // q_cv_summary joined r12: driver r11 min 1.44 s vs 0.65 s quiet
    // (2.2x) — both spaced samples inflated; q_semdedup (1.26x) and
    // q8_market_share (0.92x) measured within agreement and stay out
    val highVariance = Set("q_dpp_join", "q_dedup_clusters",
      "q_embed_neardup", "q_dcor_pval", "q_cv_rf", "q_cube",
      "q_cv_summary")
    // HOST-NOISE CANARY (r15): the r14 driver artifact recorded 2.51x
    // the round-1 baseline purely from host contention (same-day
    // worktree control: r13's own HEAD re-benched 1.4x slower on the
    // r14 box; the calm-window sample at the same HEAD was 1.49x) —
    // and nothing in the JSON carried that evidence. These seven
    // queries are round-1-era shapes whose code is frozen (scan,
    // grouped agg, broadcast star join, semi join, top-k, lag/lead
    // window), each <0.5 s, pinned at their calm-window times
    // (committed BENCH_DETAIL sample 3a97bea, cross-checked against
    // the round-1 record). Each sweep's canary ratio =
    // (that sweep's summed canary seconds) / (pinned sum): ~1.0 on a
    // quiet host, 1.5-2.5 in the r14 contention window. The min over
    // sweeps lands in the headline JSON so a reader can mechanically
    // attribute an inflated total to the box, and a ratio > 1.35
    // after the two spaced sweeps triggers a FULL third sweep — the
    // total becomes min-of-3, the strongest defense a single run can
    // mount against a contention window that outlasts one sweep.
    //
    // RE-PIN RULE (r16): the pinned constants are valid ONLY while
    // the seven queries' code paths stay frozen — they have been
    // untouched since round 1 and must stay that way. If any of them
    // (or a plan-affecting config they depend on) ever changes,
    // re-pin ALL seven from a fresh calm-window BENCH_DETAIL sample
    // (canary ratio <= ~0.9 band) and note the new provenance here;
    // a stale pin silently re-scales every later round's ratio.
    // Pin provenance: committed calm sample 3a97bea (r15).
    val canaryPinned = Map(
      "q1_pricing_summary" -> 0.329, "q6_forecast_revenue" -> 0.133,
      "q_filter_project" -> 0.231, "q_join_star" -> 0.493,
      "q_semi_join" -> 0.191, "q_topk_orders" -> 0.068,
      "q_lag_lead" -> 0.463)
    def canaryRatio(sw: Seq[(String, (Boolean, Double))]): Option[Double] = {
      val present = sw.collect {
        case (n, (true, t)) if canaryPinned.contains(n) => (n, t)
      }
      if (present.isEmpty) None
      else Some(present.map(_._2).sum / present.map(p => canaryPinned(p._1)).sum)
    }
    val sweepA = sweep(sorted)
    val sweepB = sweep(sorted)
    val earlyRatios = Seq(sweepA, sweepB).flatMap(canaryRatio(_))
    val contended = earlyRatios.nonEmpty && earlyRatios.min > 1.35
    val sweepCList = sweep(
      if (contended) sorted
      else sorted.filter(q =>
        q._1.startsWith("q_stream") || highVariance(q._1)))
    val canaryRatios =
      earlyRatios ++ (if (contended) canaryRatio(sweepCList) else None)
    val sweepC = sweepCList.toMap
    // second timed shared build under a probe memo tag, spaced two
    // full sweeps from the first: _shared_pairs was the one remaining
    // single-sample timing, fully exposed to a load window at run
    // start; the min across the two spaced builds gives it the same
    // contention defense as every query (the probe table is never
    // read — both warehouse copies are shutdown-hook-deleted)
    // the load probe re-runs here: contention two sweeps later is a
    // different window than at run start
    val sharedConc2 = sharedConcurrency()
    val (shared2Ok, shared2Sec) = timedBuild(graft.queries.TextPack.prepareShared(
      spark, sfDir, "_probe", concurrency = sharedConc2))
    val (sharedKnn2Ok, sharedKnn2Sec) = timedBuild(
      graft.queries.SimilarityPack.prepareSharedKnn(spark, sfDir, "_probe"))
    val (sharedAdc2Ok, sharedAdc2Sec) = timedBuild(
      graft.queries.SimilarityPack.prepareSharedAdc(spark, sfDir, "_probe"))
    // the entry's ok flag is the FIRST build's alone — that is the
    // table every consumer query actually read; a probe-only failure
    // is reported as its own entry instead of poisoning this one.
    // Remaining known bias: the probe runs after two full sweeps, so
    // with the warm-up documents read above both samples see a warm
    // page cache, but the probe still has warmer JIT — the min leans
    // warm-path by construction, which matches the per-query mins
    // (both post-warm-up) closely enough for round-over-round reads
    val sharedEntry = (sharedOk,
      if (shared2Ok) math.min(sharedSec, shared2Sec) else sharedSec)
    val sharedKnnEntry = (sharedKnnOk,
      if (sharedKnn2Ok) math.min(sharedKnnSec, sharedKnn2Sec) else sharedKnnSec)
    val sharedAdcEntry = (sharedAdcOk,
      if (sharedAdc2Ok) math.min(sharedAdcSec, sharedAdc2Sec) else sharedAdcSec)
    val probeEntry =
      (if (shared2Ok) Seq.empty
       else Seq("_shared_pairs_probe" -> (false, shared2Sec))) ++
      (if (sharedKnn2Ok) Seq.empty
       else Seq("_shared_knn_probe" -> (false, sharedKnn2Sec))) ++
      (if (sharedAdc2Ok) Seq.empty
       else Seq("_shared_adc_probe" -> (false, sharedAdc2Sec)))
    val results = ("_shared_pairs" -> sharedEntry) +:
      ("_shared_knn" -> sharedKnnEntry) +:
      ("_shared_adc" -> sharedAdcEntry) +: probeEntry ++:
      sweepA.zip(sweepB).map { case ((name, (okA, tA)), (_, (okB, tB))) =>
        val samples = Seq((okA, tA), (okB, tB)) ++ sweepC.get(name)
        name -> (samples.forall(_._1), samples.map(_._2).min)
      }
    // locale-pinned formatting: the f interpolator uses the JVM
    // default locale, and a comma-decimal locale would break the JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // a failed query is recorded as a negative time so a fast failure
    // can never read as a fast pass; failures floor at 1ms so the
    // 3-decimal rounding can never erase the sign into "-0.000"
    def entry(k: String, ok: Boolean, v: Double): String =
      s"\"" + k + "\":" + fmt(if (ok) v else -math.max(v, 0.001))
    val qs = results.map { case (k, (ok, v)) => entry(k, ok, v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, (false, _)) => s"\"$k\"" }
      .mkString("[", ",", "]")
    // headline total covers successful work only; failures are listed
    // in `errors` (and negative per-query times), never mixed into the
    // benchmark figure
    val total = results.collect { case (_, (true, v)) => v }.sum
    // the canary verdict rides BOTH json lines: ratio ~1.0 = quiet
    // host (the total is trustworthy as-is); >>1 = the recorded total
    // carries host contention of about that factor on work the code
    // hasn't changed — attribution a reader can recompute from the
    // per_sweep values and the pinned constant
    val canaryField =
      if (canaryRatios.isEmpty) ""
      else {
        val per = canaryRatios.map(fmt).mkString("[", ",", "]")
        s""","canary":{"ratio":${fmt(canaryRatios.min)},"per_sweep":$per,"pinned_sec":${fmt(canaryPinned.values.sum)}}"""
      }
    val sweepsField = s""","full_sweeps":${if (contended) 3 else 2}""" +
      s""","shared_conc":[$sharedConc1,$sharedConc2]"""
    // Full per-query detail goes to a file: the harness keeps only the
    // final ~2000 bytes of the log, and ~90 query entries (~2.5 KB)
    // have never fit, so no round's bench line has parsed. The stdout
    // line carries the headline plus as many of the SLOWEST queries as
    // fit a byte budget that keeps the whole line inside the tail
    // (slowest-first because those are the ones perf review needs).
    val detail = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"$canaryField$sweepsField,"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    // delete any stale detail file from a prior run BEFORE writing, so a
    // failed write can never leave an old round's file masquerading as
    // current; only NonFatal is swallowed (OOM/interrupt must propagate),
    // and the stdout headline advertises the detail file only when the
    // write actually landed
    val detailPath = java.nio.file.Paths.get("BENCH_DETAIL.json")
    val detailOk =
      try {
        java.nio.file.Files.deleteIfExists(detailPath)
        java.nio.file.Files.write(detailPath, (detail + "\n").getBytes("UTF-8"))
        true
      } catch {
        case scala.util.control.NonFatal(_) => false // cwd not writable: stdout line still stands alone
      }
    val detailField = if (detailOk) s""","detail":"BENCH_DETAIL.json"""" else ""
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"$canaryField$sweepsField,"sf":"$sfDir","errors":$errs$detailField"""
    val budget = 1600 - head.length
    val slowFirst = results.sortBy { case (_, (_, v)) => -v }
      .map { case (k, (ok, v)) => entry(k, ok, v) }
    val kept = new StringBuilder
    var keptN = 0
    slowFirst.foreach { e =>
      if (kept.length + e.length + 1 <= budget) {
        if (keptN > 0) kept.append(',')
        kept.append(e); keptN += 1
      }
    }
    println(head + s""","queries_omitted":${results.length - keptN},"queries":{$kept}}""")
    spark.stop()
  }
}
