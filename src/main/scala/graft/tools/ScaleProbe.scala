package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryScope, SparkEntry, Tables, TempDirs}
import graft.queries.{SimilarityPack, StreamPack}
import graft.streaming.EventStream.{Plan, RocksDb, dedupWithinWatermark, toNoop}

/** 10x scale probe (empirical backing for SCALE.md): blow the heavy
  * fixtures up `factor`x with key-shifted, content-salted copies, then
  * measure the heaviest pipelines at 1x and `factor`x and print one
  * JSON line of per-query wall times + growth ratios.
  *
  * Blow-up design keeps the DATA-dependent workload linear in corpus
  * size, so any super-linear wall-time growth indicts the ENGINE plan,
  * not the synthetic data:
  *  - fact keys (l_orderkey/o_orderkey, doc_id, vec_id, event_id,
  *    user_id) shift by a power of 10 above the key domain per copy —
  *    copies never collide, co-shifted orders/lineitem still join;
  *  - document text is word-salted per copy (every word gets a
  *    per-copy suffix), so shingles/vocab/near-dup pairs scale
  *    linearly: cross-copy Jaccard is exactly 0 while intra-copy dup
  *    structure is preserved verbatim;
  *  - part names get per-copy suffixes with pairwise Levenshtein
  *    distance 4 (>2+2), so the fuzzy join's clean/dirty matches stay
  *    within a copy and candidate counts scale linearly;
  *  - dates/timestamps are NOT shifted: each era/day grows `factor`x —
  *    deliberately, because per-era task size is exactly the scale
  *    hazard the window queries are probed for;
  *  - dimension tables (customer/supplier/region/nation) stay 1x, as
  *    facts outgrow dims in real warehouses.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.ScaleProbe" — takes several minutes.
  */
object ScaleProbe {

  private def pow10Above(x: Long): Long = {
    var p = 1L
    while (p <= x) p *= 10
    p
  }

  /** Per-copy salt with pairwise Levenshtein distance 4 between any
    * two copies (and >=5 vs the unsalted copy 0). */
  private def salt(i: Int): String = "~" + ("" + ('a' + i - 1).toChar) * 4

  def buildBlowup(s: SparkSession, base: String, out: String, factor: Int): Unit = {
    def copies(df: DataFrame)(tx: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => tx(df, i)).reduce(_ unionAll _)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    val orders = Tables.orders(s, base)
    val oStride = pow10Above(orders.agg(max("o_orderkey")).head.getLong(0))
    write(copies(orders)((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * oStride))), "orders")
    write(copies(Tables.lineitem(s, base))((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * oStride))), "lineitem")

    val docs = Tables.documents(s, base)
    val dStride = pow10Above(docs.agg(max("doc_id")).head.getLong(0))
    write(copies(docs) { (df, i) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * dStride))
      if (i == 0) shifted
      else shifted
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), w => concat(w, lit(salt(i))))))
        .withColumn("n_chars", length(col("text")))
    }, "documents")

    val part = Tables.part(s, base)
    val pStride = pow10Above(part.agg(max("p_partkey")).head.getLong(0))
    write(copies(part) { (df, i) =>
      val shifted = df.withColumn("p_partkey", col("p_partkey") + lit(i * pStride))
      if (i == 0) shifted
      else shifted.withColumn("p_name", concat(col("p_name"), lit(salt(i))))
    }, "part")

    val events = Tables.table(s, base, "events")
    val eStride = pow10Above(events.agg(max("event_id")).head.getLong(0))
    val uStride = pow10Above(events.agg(max("user_id")).head.getLong(0))
    write(copies(events)((df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * eStride))
      .withColumn("user_id", col("user_id") + lit(i * uStride))), "events")

    val emb = Tables.embeddings(s, base)
    val vStride = pow10Above(emb.agg(max("vec_id")).head.getLong(0))
    // per-copy deterministic ±1 sign flip per dimension (splitmix64 of
    // the copy index; copy 0 unsalted): a per-dimension sign flip is
    // an ISOMETRY for intra-copy dot products (near-dup structure and
    // norms preserved verbatim), while the cross-copy cosine of two
    // identical base vectors scrambles to ~N(0, 1/64) — so near-dup
    // pairs, LSH bucket loads, and SemDeDup cells scale LINEARLY in
    // the copy count, and super-linear probe growth indicts the PLAN.
    // Without this, identical vectors across copies would make pair
    // counts grow factor^2 by construction (the same trap the
    // word-salted documents avoid).
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    write(copies(emb) { (df, i) =>
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(i * vStride))
      if (i == 0) shifted
      else {
        val m = mix(i.toLong)
        val signs = (0 until 64).map(j => if (((m >>> j) & 1L) == 1L) -1.0f else 1.0f)
        shifted.withColumn("embedding",
          zip_with(col("embedding"), typedLit(signs), (x, sg) => x * sg))
      }
    }, "embeddings")

    Seq("customer", "supplier", "region", "nation")
      .foreach(t => write(Tables.table(s, base, t), t))
  }

  /** The probe battery: the heaviest pipelines by r10 driver ranking
    * plus the window-heavy scale hazards (one-pass AND two-pass era
    * rank, to compare their growth side by side), top TPC-H shapes,
    * and — since the honest-sink switch exposed their true cost — the
    * window/stats family (gap-fill running frames, quantile-norm
    * two-phase rank, winsorize, single-pass ANALYZE, per-key z-score,
    * sliding windows). */
  val probes: Seq[String] = Seq(
    "q_dedup_clusters", "q_fuzzy_join", "q_permute_era", "q_minhash_lsh",
    "q_ngram_jaccard", "q_tfidf_top", "q_window_rank_era",
    "q_spearman_by_era", "q_spearman_two_pass",
    "q1_pricing_summary", "q18_big_orders", "q3_shipping_priority",
    "q_gapfill", "q_quantile_norm", "q_winsorize", "q_analyze_stats",
    "q_zscore_events", "q_sliding_window", "q_dedup_exact",
    // r12: the embedding/similarity + dup-graph family (sign-salted
    // embedding copies keep their workload linear-by-construction;
    // the scale-relative LSH width — SimilarityPack.lshBitsFor — is
    // what these entries test)
    "q_semdedup", "q_embed_neardup", "q_containment", "q_pagerank3",
    "q_dedup_apply",
    // r14: any-alignment repeated passages — window rows linear in
    // corpus tokens, one hash-keyed freq join, per-doc island merge;
    // word-salting keeps cross-copy window collisions at zero
    "q_repeated_passages",
    // r15: the multimodal kernels' first measured cells. Claim under
    // test: partition-local mapPartitions decode/explode, ZERO
    // shuffle until the tiny audit aggregate — wall should track doc
    // count linearly. Payload fixtures memoize per data dir, so run 1
    // of the min-of-2 pays synthesis and run 2 times the kernel alone
    // (exactly the steady-state a pipeline reading stored bytes sees)
    "q_image_decode", "q_frame_sample", "q_media_features",
    // r15: the directional as-of (nearest + tolerance) — two window
    // frames over ONE key shuffle; the user_id shift grows keys
    // `factor`x while ts stays unshifted, so per-key series densify —
    // the window-pressure regime an as-of join actually faces
    "q_asof_nearest",
    // r15: filtered ANN — the query set stays the fixed 10 vectors
    // (copy-0 ids) while the corpus grows `factor`x, the production
    // regime: a broadcast query join against the label slice, so
    // scored rows grow linearly with the slice. And the unigram-LM
    // quality score — vocab-sized model join + per-doc mean + per-lang
    // tercile window; word-salting grows the vocab linearly while
    // per-copy token mass stays constant
    "q_ann_filtered", "q_unigram_logprob",
    // r15: MMR re-rank — candidate generation is the broadcast scan,
    // the greedy selection runs over fixed-size (<= 20-row) groups,
    // so wall should track the corpus scan and nothing else
    "q_ann_mmr",
    // r15: hybrid RRF — two bounded TakeOrdered heads + a <= 100-row
    // fusion join; wall should track the two corpus scans
    "q_rrf_hybrid",
    // r16: two-stage refine (ADC scan + <=200-row exact re-rank — the
    // refine stage is corpus-size-independent, so wall should track
    // the IVF-PQ stage alone), hard-negative mining (one broadcast
    // anchor scan + one rank window over (anchor, same-bit) groups),
    // and centroid outliers (per-(label, dim) mean + broadcast score
    // join — labels stay 10 while vectors grow, the densify regime)
    "q_ann_refine", "q_hard_negatives", "q_embed_outliers",
    // r15: winnowing fingerprints — fused-kernel selection in one
    // scan (zero shuffle); wall should track doc count linearly. The
    // pair query adds the fingerprint-bucket join at 2/(w+1) shingle
    // density; word-salting keeps cross-copy collisions at zero so
    // candidates grow linearly
    "q_winnow", "q_winnow_pairs",
    // the shared-pass positional permutation (r12 rebuild) vs its
    // one-pass sibling — the pair that quantifies the ceiling-remover
    // constant round over round
    "q_permute_era_two_pass",
    // the reference's flagship MDA dataflow end-to-end with the
    // deterministic OLS fitter (fold fit → 9-variant tagged union →
    // per-(variant, era) rank windows → normalized drop): era COUNT is
    // fixed at 10 by construction (vec_id % 10), so the probe grows
    // era SIZE — the window-pressure regime — while the variant
    // fan-out multiplies it by features+1
    "q_mda_ols",
    // r12: the streaming family's first measured scale story. The
    // three probe distinct state regimes: tumbling = watermarked
    // windowed agg (state ~ open windows, constant — ts is
    // deliberately NOT shifted, so each window grows `factor`x
    // denser); user_totals = mapGroupsWithState (state ~ distinct
    // users, grows `factor`x by the user_id shift); dedup_wm =
    // watermarked dropDuplicates (state ~ distinct keys inside the
    // watermark)
    "q_stream_tumbling", "q_stream_user_totals", "q_stream_dedup_wm",
    "q_stream_dedup_wm_rocksdb",
    // r12: the sessionization state-API pair: identical close
    // semantics (shared merge/close kernel), different state plumbing
    // — fmgws on the default HDFS-backed store vs transformWithState
    // on RocksDB, head to head on the same workload (state ~ open
    // intervals per in-flight user, bounded by the watermark window)
    "q_stream_sessions_closed", "q_stream_tws_sessions",
    // r12: hashed-unigram DSIR — two linear corpus scans that md5
    // every word occurrence, a 256-row broadcast, one doc-keyed
    // aggregate; word-salting keeps the per-copy workload linear
    // (bucket histogram shifts per copy, row counts don't)
    "q_importance_resample",
    // r13: streaming incremental near-dup — stateless stream-static
    // banded join against the history index. Claim under test: the
    // plan has no state whose cost grows with the archive, so wall
    // time should track TOTAL volume (index build + live sketch +
    // banded join) linearly; word-salting keeps cross-copy candidate
    // structure from inflating (no cross-copy shingle collisions).
    // r15 quality gate: model fit + silver write + broadcast, then a
    // stateless scoring pass linear in docs
    "q_stream_neardup", "q_stream_quality_gate",
    // r16: streaming vector search — index build is one corpus
    // assignment pass, the stream side is a stateless cluster join;
    // sign-salted copies keep candidate volume linear
    "q_stream_ann",
    // r14: stream-stream LEFT OUTER join — same bounded join state as
    // the inner form plus the unmatched-left buffer, which the
    // watermark evicts; the probe checks the outer bookkeeping stays
    // linear as users and events grow
    "q_stream_left_join", "q_stream_full_join",
    // r14: the batch→streaming warm-start migration (r13 flagship).
    // Claim under test: snapshot build is one per-key shuffle and the
    // initial-state distribution is one state-store write per carried
    // key — both linear in users (the user_id shift grows keys
    // `factor`x), with no driver funnel anywhere in the seam
    "q_stream_warm_sessions",
    // r16: the training-output surface. mix_temperature = one
    // languages-row broadcast + per-language rank windows (languages
    // stay 5 while docs grow, so per-language windows densify — the
    // window-pressure regime, like spearman_by_era); train_shard =
    // scan-local hashes + an 8-shard rank window (shard COUNT would
    // scale with the corpus in production; fixed at 8 here, so this
    // probes the worst case of constant-shard pressure);
    // shingle_novelty = one shingle-keyed min agg + join back —
    // word-salting grows the shingle universe linearly
    "q_mix_temperature", "q_train_shard", "q_shingle_novelty",
    // the composed export macro: dedup semi-join + mix windows +
    // shard agg sharing one corpus scan
    "q_train_export",
    // r17: bucketed kNN self-join — every vector both query and
    // posting member, candidates bounded at nprobe·(n/k) per vector
    // by the occupancy contract; the probe runs the adaptive width
    // (two-level index past k=256)
    "q_knn_join",
    // r17: prototype labeling shares the kNN candidate machinery
    // (adaptive-k override below); the JL projection is scan-only —
    // 16 codegen dots/row against constant sign vectors plus one
    // 64-row mean broadcast, probed to pin the no-shuffle claim
    "q_knn_label", "q_jl_project",
    // r17: mutual-kNN graph — kNN candidates + star-contraction CC
    // (adaptive-k override below); probes BOTH the linear candidate
    // claim and the O(log) contraction round count at blow-up scale
    "q_knn_graph")

  /** The probes that differ from their query on purpose. Every other
    * `q_stream_*` probe drains its [[StreamPack]] declaration through
    * [[graft.streaming.EventStream.toNoop]]; the rest run their query
    * as is. */
  private val overrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the gated kNN queries and q_stream_ann pin k=16 for their static
    // oracles; the probe wants the adaptive width, so the two-level
    // index engages at blow-up scale
    "q_knn_join" -> ((s, d) => SimilarityPack.knnJoin(s, d, requireK = None, useShared = false)),
    "q_knn_label" -> ((s, d) => SimilarityPack.knnLabel(s, d, requireK = None, useShared = false)),
    "q_knn_graph" -> ((s, d) => SimilarityPack.knnGraph(s, d, requireK = None, useShared = false)),
    "q_stream_ann" -> ((s, d) => StreamPack.ann(None)(s, d, toNoop)),
    // probe-only store comparison on the one stream whose state
    // actually grows with the corpus (every in-flight key): the
    // watermarked dedup under RocksDB instead of the default
    // HDFS-backed (in-JVM-heap) store. At 100x the store holds ~20M
    // union keys on one box — exactly the regime RocksDB's off-heap
    // layout exists for
    "q_stream_dedup_wm_rocksdb" -> ((s, d) => toNoop(Plan(dedupWithinWatermark(s, d), "append", Seq(RocksDb)))))

  private def probe(name: String): (SparkSession, String) => DataFrame =
    overrides.getOrElse(name, StreamPack.streams.get(name) match {
      case Some(stream) => (s, d) => stream(s, d, toNoop)
      case None => SparkEntry.queries(name)
    })

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_PROBE_FACTOR", "10").toInt
    // comma-separated probe subset (e.g. for a targeted 100x rerun of
    // one family); default = the full battery
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(",").toSet)
    val spark = graft.Sessions.create(graft.Sessions.conf() ++ Seq(
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      // stream drains get full parallelism here (EventStream's
      // fixture-scale default is 4, a 4-way ceiling at 100x data)
      "spark.graft.stream.drainPartitions" -> graft.Sessions.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    val big = TempDirs.create("graft_scale_").toAbsolutePath.toString
    val tGen0 = System.nanoTime()
    buildBlowup(spark, base, big, factor)
    val genSec = (System.nanoTime() - tGen0) / 1e9

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // min of two runs per (query, dir), each in its own QueryScope
    // like Bench.
    // Consume through the noop sink, NOT .count(): counting a
    // cardinality-invariant plan lets Catalyst prune the entire
    // window/aggregate pipeline (measured: the one-pass era rank
    // "cost" 0.2 s at 100x under count() vs ~22 s actually executed)
    def best(name: String, dir: String): Double =
      (1 to 2).map { _ =>
        QueryScope.run(timed(probe(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()))
      }.min

    // shared shingle pipeline: memoized per (dir, tag), so force a
    // fresh build per timed run via distinct probe tags
    def sharedBest(dir: String): Double =
      Seq("_sp1", "_sp2").map { tag =>
        QueryScope.run(timed(graft.queries.TextPack.prepareShared(spark, dir, tag)))
      }.min

    val sharedRows =
      if (only.exists(!_.contains("_shared_pairs"))) Seq.empty
      else Seq(("_shared_pairs", sharedBest(base), sharedBest(big)))
    val rows = sharedRows ++
      probes.filter(n => only.forall(_.contains(n))).map { name =>
        val t1 = best(name, base)
        val tN = best(name, big)
        (name, t1, tN)
      }
    val qjson = rows.map { case (n, t1, tN) =>
      s""""$n":{"t1":${fmt(t1)},"t$factor":${fmt(tN)},"ratio":${fmt(tN / t1)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","factor":$factor,"base":"$base","gen_sec":${fmt(genSec)},"queries":$qjson}""")
    spark.stop()
  }
}
