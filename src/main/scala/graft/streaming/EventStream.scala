package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryListener}

import graft.operators.Dedup

/** Structured Streaming surface (SURVEY §2.10 — engine-new, the
  * streaming generalization of the reference's batch era processing):
  * the same tumbling-window aggregation as EventsPack.qTumblingWindow,
  * expressed as readStream → watermark → windowed agg, so the era
  * concept carries over to unbounded input with late-data handling.
  */
object EventStream {

  /** A file stream over a fixture table. The file stream source needs
    * a directory and an explicit schema; the fixtures are single files,
    * so each is staged behind a symlink in a temp dir, once per fixture
    * content (in production the source is already a directory of
    * arriving files), and the schema comes from
    * [[graft.Tables.schemaOf]]. */
  private def fixtureStream(spark: SparkSession, path: String): DataFrame = {
    val staged = graft.Memo(spark, "stream_src", path) {
      val src = new java.io.File(path)
      if (src.isFile) {
        val tmp = graft.TempDirs.create("graft_stream_src")
        java.nio.file.Files.createSymbolicLink(
          tmp.resolve(src.getName), src.toPath.toAbsolutePath)
        tmp.toString
      } else path
    }
    spark.readStream.schema(graft.Tables.schemaOf(spark, path)).parquet(staged)
  }

  /** Streaming plan over the events fixture directory. The file source
    * replays the parquet as a stream; schema comes from a batch peek
    * (streaming sources need an explicit schema). */
  def windowedAgg(spark: SparkSession, dir: String,
                  window_ : String = "6 hours",
                  watermark: String = "1 hour"): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").cast("long").as("wstart"), col("n"), col("sum_value"))

  /** STREAMING INCREMENTAL NEAR-DUP — dedupe an ARRIVING document
    * stream against an already-indexed historical corpus, the shape a
    * daily crawl runs against a 100 TB archive: re-sketching the
    * archive per batch is off the table, so history is a banded
    * MinHash INDEX (one silver table, built once by the batch dedup
    * job — [[graft.queries.TextPack.minhashIndex]]) and each
    * micro-batch only (1) computes its own doc-local signatures with
    * the same [[graft.operators.Dedup]] base → minhash → bands stages
    * the index ran, (2) stream-static equi-joins on (band,
    * signature) — STATELESS: no watermark, no store, state cost zero
    * regardless of corpus size — and (3) verifies candidates by exact
    * signature agreement (>= 8 of 16 components ⇔ est >= 0.5, integer
    * math both engines replay). Emitted rows are (live doc, history
    * match, n_match) in append mode, the bronze relation; per-doc
    * collapse is the next batch stage (`q_stream_neardup`'s reduction
    * over [[graft.queries.StreamPack.neardup]]'s drained rows).
    * Deterministic by construction: every output row is a pure
    * function of (doc, index), independent of batch boundaries.
    * `hist` is the index [[writeNeardupIndex]] reads back: history =
    * `doc_id % 5 != 0`; the stream replays the other fifth.
    */
  def neardupAgainstHistory(spark: SparkSession, dir: String,
                            hist: DataFrame): DataFrame = {
    val live = fixtureStream(spark, s"$dir/documents.parquet")
      .filter(col("doc_id") % 5 === 0)
    neardupJoin(live, hist)
  }

  /** The stateless core of the incremental near-dup: sketch the live
    * (possibly streaming) doc relation scan-local ([[Dedup.minhash]]),
    * band it ([[Dedup.bands]]), equi-join the history index, keep
    * >= 8-of-16 component agreement. Shared by the file-replay drain
    * and the MemoryStream batch-boundary spec. */
  private[graft] def neardupJoin(liveDocs: DataFrame, hist: DataFrame): DataFrame = {
    Dedup.bands(Dedup.minhash(Dedup.base(liveDocs)), Dedup.MinhashBands, carry = Seq("mh"))
      .join(hist, Seq("band", "sg"))
      .withColumn("n_match", aggregate(
        zip_with(col("mh"), col("sig_h"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), _ + _))
      .filter(col("n_match") >= 8)
      .select(col("doc_id"), col("hist_id"), col("n_match"))
  }

  /** Build the banded history index and WRITE it as a silver table
    * (parquet), returning the read-back relation — the production
    * contract of [[graft.queries.TextPack.minhashIndex]] (the
    * [[Dedup.bands]] of the history's [[Dedup.minhash]] signatures):
    * the batch dedup job materializes the index once, and every
    * stream run joins the on-disk table, never re-sketching the
    * archive (per micro-batch the static side is a columnar re-scan
    * of KB-per-million-docs signature rows, not a text pipeline).
    * Staleness is explicit by design: history rows ingested after the
    * write are invisible to the stream until the index is rebuilt —
    * the refresh cadence is the caller's dial (spec-pinned in
    * StreamNeardupSpec). */
  def writeNeardupIndex(spark: SparkSession, dir: String, out: String,
                        pred: org.apache.spark.sql.Column = col("doc_id") % 5 =!= 0)
      : DataFrame = {
    graft.queries.TextPack.minhashIndex(spark, dir, pred)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  /** Scale-relative IVF width (the [[graft.queries.SimilarityPack
    * .lshBitsFor]] convention): the smallest k in [16, 2^20] with
    * 320·k >= n, so expected posting-list occupancy stays ~320 as the
    * corpus grows — the FAISS contract that keeps the per-arrival
    * probe cost bounded. A FIXED k is quadratic in disguise: the
    * first cut of this op probed 95.9× wall at 100× embeddings
    * because 4-of-16 fixed lists each held 1/16th of a 100×-grown
    * corpus. At every fixture SF (n <= 5000) this resolves to 16,
    * keeping the static DuckDB oracle (which seeds 16 centroids)
    * valid — same provable no-op shape as the 8-plane LSH unroll.
    *
    * r17 raised the r16 cap (65536, ~21M vectors at 320/list) to
    * 2^20: past [[TwoLevelKMin]] the index is TWO-LEVEL (IMI-style —
    * √k coarse cells, √k sub-cells within each), so build cost is
    * O(n·√k) and per-arrival probe cost O(√k + nprobe·n/k), not
    * O(n·k)/O(k) — the flat costs that made a bigger k self-defeating.
    * The remaining honest ceiling is the collected centroid table
    * (k·d doubles, ~512 MB at k=2^20/d=64 — the executor-broadcast
    * class; ~335M vectors at the occupancy contract); past that the
    * centroid table itself must become a distributed relation probed
    * by join, the step after IMI in the FAISS playbook. */
  def ivfKFor(n: Long): Int = {
    var k = 16
    while (k < (1 << 20) && 320L * k < n) k *= 2
    k
  }

  /** Width above which [[writeAnnIndex]] builds the two-level index.
    * Below it the flat n×k assignment is cheaper than two passes (and
    * at fixture SFs, k=16 ≤ this bound keeps the gated plan the exact
    * flat form the DuckDB oracle replays). */
  val TwoLevelKMin: Int = 256

  /** `requireK`: set by the oracle-gated verify path to pin the IVF
    * width the static DuckDB oracle hardcodes (16). `ivfKFor` is
    * scale-relative, so a future gated fixture with >5120 history
    * embeddings would silently widen the index and strict-fail the
    * gate with no pointer to the cause — this guard turns that into
    * an immediate, named error instead. Non-oracle callers
    * (ScaleProbe, production) pass None and get the adaptive width. */
  def writeAnnIndex(spark: SparkSession, dir: String, out: String,
                    requireK: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    // spread before the assignment kernel: zip_with lambdas are
    // CodegenFallback (interpreted per element), and a single-file
    // scan would run the whole n×k distance pass in one task — the
    // docsSpread/embSpread rule; measured ~2 s single-threaded at
    // sf0.1 vs ~0.1 s spread
    val e = graft.Tables.spread(spark, graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
    val k = ivfKFor(e.count())
    requireK.foreach { want =>
      require(k == want, s"q_stream_ann oracle pins k=$want IVF centroids " +
        s"but ivfKFor resolved k=$k for this fixture; parameterize the " +
        "DuckDB oracle's LIMIT/centroid count on k before gating this SF")
    }
    val (cents, posting) = buildAnnIndex(e, k)
    cents.write.mode("overwrite").parquet(s"$out/centroids")
    posting.write.mode("overwrite").parquet(s"$out/posting")
    (spark.read.parquet(s"$out/centroids"), spark.read.parquet(s"$out/posting"))
  }

  /** Index-build core of [[writeAnnIndex]], split out so specs can
    * force the two-level form at unit-test scale via `twoLevelMin`.
    * `e`: (vec_id long, v double array). */
  private[graft] def buildAnnIndex(e: DataFrame, k: Int,
                                   twoLevelMin: Int = TwoLevelKMin)
      : (DataFrame, DataFrame) = {
    import graft.operators.Ann
    def postingFrom(assigned: DataFrame): DataFrame = assigned
      .select(col("vec_id").as("n_id"), col("cluster"), col("v").as("hv"),
        sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))).as("hn"))
    // centroid schema carries the hierarchy: level 1 rows are coarse
    // cells (parent = self), level 2 rows are the posting-list cells
    // (parent = owning coarse cell). The flat form emits level-2 rows
    // only — the probe kernel detects the absent level-1 tier and
    // scans all cells, the exact r16 behavior the oracle replays.
    if (k <= twoLevelMin) {
      val c = e.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      (c.select(col("cid"), col("cv"), col("cid").as("parent"), lit(2).as("level")),
        postingFrom(Ann.assign(e, c)))
    } else {
      // TWO-LEVEL (IMI-style): √k coarse cells seeded from the
      // smallest history ids (the flat seeding convention), every
      // vector assigned to its nearest coarse cell (n×k1 scan-local
      // distances, never n×k); then √k sub-cells per coarse cell
      // seeded from the cell's smallest member ids, members
      // assigned to the nearest sub-cell of their OWN cell (a
      // cell-keyed equi-join: n×k2 distances total). Build cost
      // drops O(n·k) → O(n·√k) — at the r16 100× cell (n=160k,
      // k=512) that is 82M → 7.7M candidate rows; the index build
      // was that cell's entire 22.6× residual.
      import org.apache.spark.sql.expressions.Window
      val m = java.lang.Integer.numberOfTrailingZeros(k)
      val k1 = 1 << ((m + 1) / 2)
      val k2 = k / k1
      val l1 = e.orderBy(col("vec_id")).limit(k1)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val a1 = Ann.assign(e, l1).withColumnRenamed("cluster", "parent")
      val rk = row_number().over(
        Window.partitionBy(col("parent")).orderBy(col("vec_id")))
      val sub = a1.withColumn("rk", rk).filter(col("rk") <= k2)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("parent"))
      val c = l1.select(col("cid"), col("cv"), col("cid").as("parent"), lit(1).as("level"))
        .unionByName(sub.withColumn("level", lit(2)))
      (c, postingFrom(Ann.assign(a1, sub, on = Seq("parent"))))
    }
  }

  /** `floor`: minimum ROUNDED cosine for a candidate to emit — 0.2
    * for the streaming lookup (bounds append-mode emission), -2.0
    * (no floor) for the batch kNN self-join, which wants k neighbors
    * for every vector regardless of absolute similarity. */
  private[graft] def annProbeJoin(live: DataFrame, cents: DataFrame,
                                  posting: DataFrame,
                                  floor: Double = 0.2,
                                  nprobe: Int = 4): DataFrame = {
    val spark = live.sparkSession
    import spark.implicits._
    // the collected index is KB-to-MB-bounded by ivfKFor (≤ k·d
    // doubles + the k1·d coarse tier); level-1 rows present ⇒
    // hierarchical probe (coarse top-4, then top-4 among those cells'
    // sub-cells — O(√k) distances per arrival); absent ⇒ the flat
    // r16 kernel the fixture oracle replays (all cells, top-4)
    val all = cents.select(col("cid"), col("cv"), col("parent"), col("level"))
      .as[(Long, Seq[Double], Long, Int)].collect()
    val l1Arr = all.filter(_._4 == 1).map(t => (t._1, t._2.toArray)).sortBy(_._1)
    val l2Arr = all.filter(_._4 == 2)
      .map(t => (t._1, t._2.toArray, t._3)).sortBy(_._1)
    val byParent = l2Arr.groupBy(_._3).map { case (p, cs) =>
      (p, cs.map(c => (c._1, c._2))) }
    val bc = spark.sparkContext.broadcast((l1Arr, l2Arr.map(c => (c._1, c._2)), byParent))
    val probed = live
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val (l1, flat, children) = bc.value
        def d2(v: Array[Double], cv: Array[Double]): Double = {
          var d = 0.0
          var j = 0
          while (j < v.length) { val x = v(j) - cv(j); d += x * x; j += 1 }
          d
        }
        it.flatMap { case (id, vSeq) =>
          val v = vSeq.toArray
          var qn = 0.0
          var i = 0
          while (i < v.length) { qn += v(i) * v(i); i += 1 }
          val cands =
            if (l1.isEmpty) flat
            else l1.map { case (pid, pv) => (d2(v, pv), pid) }
              .sortBy(identity).take(nprobe)
              .flatMap { case (_, pid) => children.getOrElse(pid, Array.empty) }
          val byDist = cands.map { case (cid, cv) => (d2(v, cv), cid) }
            .sortBy(identity).take(nprobe)
          byDist.map { case (_, cid) => (id, cid, vSeq, math.sqrt(qn)) }
        }
      }
      .toDF("q_id", "cluster", "qv", "qn")
    val scored = probed.join(posting, Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(
        graft.functions.DotProduct.dot_product(col("qv"), col("hv"))
          / (col("qn") * col("hn")), 6))
    // a no-op floor (kNN join) must NOT reach the plan: Catalyst
    // pushes the predicate into the cluster join's condition, where
    // the dot product is then evaluated a second time for the output
    // column — measured ~2× the candidate-stage cost on 2M rows
    (if (floor > -1.0) scored.filter(col("cos") >= floor) else scored)
      .select(col("q_id"), col("n_id"), col("cos"))
  }

  /** STREAMING VECTOR SEARCH — the RAG-ingest shape: an arriving
    * embedding stream is looked up against a BATCH-BUILT flat-IVF
    * index (the silver-table contract of [[writeNeardupIndex]], for
    * vectors): seeded centroids + nearest-centroid posting lists are
    * written once by the batch job; each live vector computes its
    * nprobe=4 probe lists scan-local against the 16-row broadcast
    * centroid table (a per-row kernel, no window — streams cannot
    * rank), then a STATELESS stream-static equi-join on the cluster
    * key scores candidates by exact cosine with a 0.2 floor bounding
    * emission. Top-k per query is a batch aggregation AFTER the
    * drain (`q_stream_ann`'s reduction — re-delivered rows collapse
    * under distinct). At 100 TB the static side is a
    * cluster-keyed columnar re-scan per micro-batch and the stream
    * side never shuffles. */
  def annAgainstHistory(spark: SparkSession, dir: String,
                        index: (DataFrame, DataFrame)): DataFrame = {
    val live = fixtureStream(spark, s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 5 === 0)
    annProbeJoin(live, index._1, index._2)
  }

  /** STREAMING QUALITY GATE — score an arriving document stream
    * against a BATCH-FITTED per-language unigram LM and keep/drop by
    * an entropy-relative threshold: the filter-on-ingest step a crawl
    * pipeline runs before anything else touches a document (CCNet's
    * perplexity cut, with the unigram model standing in for KenLM).
    * The model relations come from a written silver table
    * ([[writeQualityModel]]) and ship to executors as ONE broadcast —
    * exactly how production distributes a fasttext/KenLM scorer file
    * (vocabulary-scale, ~100 MB at web scale; never joined per
    * batch). Scoring is a stateless per-partition kernel: mean token
    * logprob with OOV tokens at ln(0.5/n_lang); keep = score within
    * the model's 0.15-nat margin of its own negative entropy
    * ([[graft.queries.TextPack.unigramModelRelations]]). No
    * watermark, no state store — per-batch cost is independent of
    * history size, every row final on emit (append mode), and each
    * output row is a pure function of (doc, model), so the relation
    * is batch-boundary-independent by construction. Documents in a
    * language the model has never seen are quarantined (dropped),
    * mirroring production routing to a manual queue. */
  def qualityGate(spark: SparkSession, dir: String,
                  model: DataFrame, thr: DataFrame): DataFrame = {
    val live = fixtureStream(spark, s"$dir/documents.parquet")
      .filter(col("doc_id") % 5 === 0)
    qualityScore(live, collectModel(model), collectThresholds(thr))
  }

  private[graft] def collectModel(model: DataFrame): Map[(String, String), Double] = {
    import model.sparkSession.implicits._
    model.select(col("lang"), col("w"), col("lp"))
      .as[(String, String, Double)].collect()
      .map { case (l, w, v) => (l, w) -> v }.toMap
  }

  private[graft] def collectThresholds(thr: DataFrame): Map[String, (Double, Double)] = {
    import thr.sparkSession.implicits._
    thr.select(col("lang"), col("thr"), col("n"))
      .as[(String, Double, Double)].collect()
      .map { case (l, t, n) => l -> (t, n) }.toMap
  }

  /** The stateless scoring kernel over any (possibly streaming) frame
    * with (doc_id, lang, text) — shared by the file-replay drain and
    * the MemoryStream batch-boundary spec. */
  private[graft] def qualityScore(docs: DataFrame,
                                  lpm: Map[(String, String), Double],
                                  thm: Map[String, (Double, Double)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bLp = spark.sparkContext.broadcast(lpm)
    val bThr = spark.sparkContext.broadcast(thm)
    docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val lp = bLp.value
        val th = bThr.value
        def r5(x: Double): Double =
          BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
        it.flatMap { case (id, lang, text) =>
          th.get(lang).map { case (thrV, n) =>
            // limit -1: keep trailing empty tokens, matching the model
            // fit (Spark split) and the oracle (string_split) — a doc
            // with a trailing space must tokenize identically in all
            // three places
            val toks = text.split(" ", -1)
            val oov = math.log(0.5 / n)
            var s = 0.0
            var nOov = 0L
            toks.foreach { t =>
              lp.get((lang, t)) match {
                case Some(v) => s += v
                case None    => s += oov; nOov += 1
              }
            }
            // round BOTH sides of the keep comparison to the emitted
            // scale (5): score and thr are order-sensitive float sums
            // that associate differently across partitionings/engines;
            // comparing unrounded values would let a doc within ulps of
            // the threshold flip keep (repo round-before-compare rule)
            val score = r5(s / toks.length)
            (id, lang, toks.length.toLong, nOov, score,
              if (score >= r5(thrV)) 1L else 0L)
          }
        }
      }
      .toDF("doc_id", "lang", "n_toks", "n_oov", "score", "keep")
  }

  /** Fit the model on the HISTORY slice (doc_id % 5 != 0 — the same
    * archive/live split as the near-dup stream), WRITE both relations
    * as silver tables, and return the read-back frames: the gate
    * scores arrivals against what the batch job persisted, never
    * against a plan over raw history. */
  def writeQualityModel(spark: SparkSession, dir: String,
                        out: String): (DataFrame, DataFrame) = {
    val hist = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 =!= 0)
    val (model, thr) = graft.queries.TextPack.unigramModelRelations(hist)
    model.write.mode("overwrite").parquet(s"$out/model")
    thr.write.mode("overwrite").parquet(s"$out/thr")
    (spark.read.parquet(s"$out/model"), spark.read.parquet(s"$out/thr"))
  }

  /** Streaming exact dedup (the north-star dedup family as a STREAM
    * op): content-hash `dropDuplicates` over a document stream, the
    * plan's one stateful operator. Drained in append mode, each
    * distinct `(lang, h)` row is emitted once, when first seen;
    * `q_stream_dedup` counts them per language after the drain (the
    * qStreamDedupWm pattern), so no second state store holds the
    * 5-row per-language aggregate. The dedup key includes `lang` so
    * the result is independent of stream arrival order. At 100 TB the
    * dedup state is bounded with `dropDuplicatesWithinWatermark` (the
    * hash state otherwise grows with the corpus); the drain-once
    * harness form keeps full state, which the fixture bounds. */
  def dedupCounts(spark: SparkSession, dir: String): DataFrame =
    fixtureStream(spark, s"$dir/documents.parquet")
      .select(col("lang"), sha2(col("text"), 256).as("h"))
      .dropDuplicates("lang", "h")

  /** Watermark-BOUNDED streaming dedup — the 100 TB scale path that
    * [[dedupCounts]]' plain `dropDuplicates` is not: its key state
    * grows with the corpus, while `dropDuplicatesWithinWatermark`
    * evicts keys once the watermark passes them, holding only the
    * in-flight window at any stream length. Exercised here by
    * union-duplicating the event stream (two reads of the same
    * source): the dedup must collapse the union back to the original
    * rows — every duplicate pair arrives inside one watermark window,
    * so the drained result equals the batch relation exactly and the
    * driver's plain-SQL oracle checks the streaming path. Append-mode
    * rows, aggregated AFTER the drain (the qStreamSession pattern). */
  def dedupWithinWatermark(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir).union(eventsStream(spark, dir))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Run `body` with every `(key, value)` pair set on the session
    * conf, then restore each key it set to its previous value (or
    * unset it), also when a later pair or `body` throws. Start-time confs (the
    * shuffle-partition count, the state-store provider) are read when
    * a query starts, so pinning them around [[drain]] scopes them to
    * that one query. "Previous" is the explicitly set value
    * (`getAll`): `getOption` also returns a registered key's default,
    * and restoring that would leave the key set where it was unset. */
  private[graft] def withConf[A](spark: SparkSession, pairs: (String, String)*)
                                (body: => A): A = {
    val prev = scala.collection.mutable.ArrayBuffer.empty[(String, Option[String])]
    try {
      pairs.foreach { case (k, v) =>
        val p = spark.conf.getAll.get(k)
        spark.conf.set(k, v)
        prev += k -> p
      }
      body
    } finally prev.reverseIterator.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Start-time conf pair selecting the RocksDB state store provider,
    * which `transformWithState` requires (its named states and timers
    * each live in their own column family — the HDFS-backed store is
    * single-family). Passed to [[drain]] for the one query that needs
    * it; every other harness stream keeps the session default. RocksDB
    * is also the honest scale configuration: state lives off-heap on
    * local disk with changelog checkpointing, the shape that holds
    * 100 TB-scale keyed state per executor. */
  val RocksDb: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Start-time conf pair selecting Spark's `FileSystem`-based
    * checkpoint file manager, pinned by every [[drain]] (why: see
    * there). */
  private[graft] val CheckpointManager: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[org.apache.spark.sql.execution.streaming.checkpointing
        .FileSystemBasedCheckpointFileManager].getName

  /** Per-drain checkpoint dir, honoring the optional
    * `spark.graft.stream.checkpointDir` base. `graft.Bench` points the
    * base at /dev/shm when the host has it; perfbench points it at its
    * run's on-disk checkpoint dir, so the offset/commit WAL that
    * `--trace 1` reports as `streaming.wal_commit_s` (~0.02 s per
    * corpus_dedup warm sweep) is written to disk there. Unset, the JVM
    * tmpdir default applies — the production-safe choice. Either way
    * the dir is a fresh local path, deleted when the drain ends. */
  private def newCheckpointDir(spark: SparkSession): java.nio.file.Path =
    spark.conf.getOption("spark.graft.stream.checkpointDir") match {
      case Some(base) => graft.TempDirs.createUnder(base, "graft_stream_ckpt")
      case None       => graft.TempDirs.create("graft_stream_ckpt")
    }

  /** THE stream drain: start → processAllAvailable → stop, with `sink`
    * choosing where the rows go (memory table, noop, foreachBatch).
    *
    * - Bounded state-partition count: a stateful streaming query
    *   materializes one state store per shuffle partition at START
    *   time, so a 32-partition session would pay 32 store inits for a
    *   fixture-sized stream. The drain pins
    *   `spark.graft.stream.drainPartitions` (default 4) for its query;
    *   results are unaffected (same aggregation, fewer state shards).
    *   The scale probe raises it to full parallelism. At fixture
    *   scale 1, 2 or 4 partitions moved the corpus_dedup drain's wall
    *   time by less than its noise.
    * - FileSystem checkpoint manager ([[CheckpointManager]]): Spark's
    *   default manager goes through Hadoop's `FileContext`, whose
    *   local rename runs `readlink` twice as a shell fork when
    *   `libhadoop` is not loaded — 192 forks per `q_stream_dedup`
    *   drain at sf0.001 and sf0.1 alike, the dominant cost of its
    *   state and WAL commits. The `FileSystem` manager renames with
    *   a plain `File.renameTo`; the checkpoint is a fresh local dir
    *   that never outlives the drain, so the `FileContext` rename's
    *   atomicity buys nothing here.
    *   Checkpoint file checksums and `.crc` files stay on.
    * - `conf`: further start-time pairs for this query (e.g.
    *   [[RocksDb]]), pinned after the two above by [[withConf]].
    * - Explicit checkpoint dir ([[newCheckpointDir]]) instead of
    *   Spark's implicit temp one, deleted right after the drain: the
    *   scale probe drains every stream twice per size, and leaving
    *   each drain's state checkpoint until JVM exit accumulates.
    * - `horizonMs`: append-mode outer joins emit their null-extended
    *   rows in the state-cleanup batch that RUNS WITH the final
    *   watermark — a no-data batch after the last data batch, which
    *   `processAllAvailable` does not wait for. Given a horizon (the
    *   final watermark, a pure function of the data — see
    *   [[outerHorizonMs]]), the drain exits only once a committed
    *   progress of its query reports it. The listener is registered
    *   before `start()`, so the signal cannot be missed, and a progress
    *   is posted only after its batch (sink write included) commits. A
    *   drain that never sees the signal throws instead of returning a
    *   possibly-nulls-missing relation.
    *
    * Everything the drain sets up — conf, listener, checkpoint dir, the
    * query — is undone on exit, also when `start()` or a micro-batch
    * fails. */
  def drain(spark: SparkSession, df: DataFrame, mode: String,
            sink: DataStreamWriter[Row] => DataStreamWriter[Row],
            conf: Seq[(String, String)] = Nil,
            horizonMs: Option[Long] = None): Unit =
    withConf(spark, Seq("spark.sql.shuffle.partitions" ->
        spark.conf.get("spark.graft.stream.drainPartitions", "4"),
        CheckpointManager) ++ conf: _*) {
      val ckpt = newCheckpointDir(spark)
      // every watermark progress, keyed by query id: the id is known
      // only once start() returns, and a progress may precede that
      val seen = new java.util.concurrent.LinkedBlockingQueue[(java.util.UUID, Long)]()
      val listener = horizonMs.map(_ => new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          Option(e.progress.eventTime.get("watermark")).foreach(w =>
            seen.put(e.progress.id -> java.time.Instant.parse(w).toEpochMilli))
      })
      var started: Option[StreamingQuery] = None
      try {
        listener.foreach(spark.streams.addListener)
        val q = sink(df.writeStream.outputMode(mode))
          .option("checkpointLocation", ckpt.toString).start()
        started = Some(q)
        q.processAllAvailable()
        horizonMs.foreach { h =>
          val deadline = System.nanoTime() + 120L * 1000000000L
          val reached = Iterator
            .continually(seen.poll(deadline - System.nanoTime(),
              java.util.concurrent.TimeUnit.NANOSECONDS))
            .takeWhile(_ != null)
            .exists { case (id, wm) => id == q.id && wm >= h }
          if (!reached) throw new IllegalStateException(
            s"drain '${q.name}': no committed batch reached the final " +
              s"watermark ($h ms) within 120 s — refusing to return a " +
              "provisional (nulls-missing) relation")
        }
      } finally {
        started.foreach(_.stop())
        listener.foreach(spark.streams.removeListener)
        graft.TempDirs.deleteRecursively(ckpt)
      }
    }

  /** One drain of a declared stream, everything but its sink: the
    * plan `df` and [[drain]]'s `mode`, `conf` and `horizonMs`. */
  final case class Plan(df: DataFrame, mode: String,
                        conf: Seq[(String, String)] = Nil,
                        horizonMs: Option[Long] = None) {
    def drain(sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
      EventStream.drain(df.sparkSession, df, mode, sink, conf, horizonMs)
  }

  /** Where a declared stream's rows go: drains the [[Plan]] and returns
    * a frame with the plan's schema. */
  type Sink = Plan => DataFrame

  private val memorySinks = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The query battery's sink: [[drain]] into a memory sink named from
    * one counter, then return its rows and drop its view. The frame is
    * resolved before the drop, so it still reads the drained rows, but
    * the session keeps no view — and no reference to the rows — once
    * the caller lets the frame go. */
  val toMemory: Sink = p => {
    val spark = p.df.sparkSession
    val name = s"graft_stream_${memorySinks.incrementAndGet()}"
    try { p.drain(_.format("memory").queryName(name)); spark.table(name) }
    finally spark.catalog.dropTempView(name)
  }

  /** The scale probe's sink: [[drain]] through the no-op sink and
    * return an empty frame with the plan's schema. A memory sink
    * collects every append/update row at the driver — at 100x the
    * dedup stream's ~10M surviving rows OOM an 8g driver, and the
    * collection, not the state store, dominates wall time (measured:
    * 65x wall at 100x with a 48g heap) — so the probe times the
    * state-store + shuffle path that actually scales to a cluster. */
  val toNoop: Sink = p => {
    p.drain(_.format("noop"))
    emptyFrame(p.df.sparkSession, p.df.schema)
  }

  /** A zero-row frame with `schema`: a drain with nothing to return
    * still hands back the plan's columns, not a schemaless frame that
    * breaks downstream column references. */
  private def emptyFrame(spark: SparkSession,
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Streaming session windows (the gap-merge analogue of the batch
    * gaps-and-islands query): per-user sessions with a 30-minute gap,
    * watermarked so late events beyond an hour open new sessions
    * instead of unbounded state growth. Session bounds are emitted as
    * epoch SECONDS (`cast(timestamp as long)`); the complete-mode
    * drain of [[graft.queries.StreamPack.sessions]] leaves the final
    * session set in the sink, so no update reduction is needed (Spark
    * rejects update mode for session-window aggregations). */
  def sessionCounts(spark: SparkSession, dir: String,
                    gap: String = "30 minutes"): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id").cast("long").as("user_id"),
        col("sw.start").cast("long").as("ss"),
        col("sw.end").cast("long").as("se"), col("n"))

  /** Stream-stream click → purchase self-join: clicks ⋈ purchases by
    * the same user within an hour, as one `joinType`. Both sides are
    * watermarked and the join condition carries the event-time range,
    * so Spark can evict buffered rows once the watermark passes — the
    * shape whose join state stays bounded on an unbounded stream (an
    * equi-only condition would buffer both streams forever). Both
    * sides filter the SAME stream source: one file source and one
    * staging dir, not two. `user_id` is `coalesce(click user, purchase
    * user)`, which is the click's user under inner and left joins. */
  private def clickPurchaseJoin(spark: SparkSession, dir: String,
                                joinType: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    def side(kind: String, user: String, ts: String, id: String): DataFrame = ev
      .filter(col("event_type") === kind)
      .select(col("user_id").cast("long").as(user), col("ts").as(ts),
        col("event_id").as(id))
      .withWatermark(ts, "1 hour")
    side("click", "uc", "ts_c", "click_id")
      .join(side("purchase", "up", "ts_p", "purchase_id"),
        col("uc") === col("up")
          && col("ts_p") >= col("ts_c")
          && col("ts_p") <= col("ts_c") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select(coalesce(col("uc"), col("up")).as("user_id"),
        col("click_id"), col("purchase_id"))
  }

  /** INNER [[clickPurchaseJoin]]: one output row per qualifying
    * (click, purchase) pair. */
  def clickPurchasePairs(spark: SparkSession, dir: String): DataFrame =
    clickPurchaseJoin(spark, dir, "inner")

  /** LEFT OUTER [[clickPurchaseJoin]] — unconverted clicks retained
    * (the funnel/abandonment shape inner joins cannot express). Outer
    * semantics on unbounded streams are WATERMARK-GATED: a click's
    * null-extended row is emitted only when the global watermark
    * passes its match horizon (ts_c + 1 h) — only then can no future
    * purchase legally match it — so clicks whose horizon the FINAL
    * watermark never passes are not emitted at all (they are still
    * provisional when the replay ends). That cutoff is a pure function
    * of the data (final wm = min(max click ts, max purchase ts) − 1 h
    * under the default min-policy across the two watermark nodes),
    * which is what makes the drained result exactly reproducible by
    * the batch oracle. Matched pairs emit immediately, identical to
    * the inner form. */
  def clickPurchaseLeftPairs(spark: SparkSession, dir: String): DataFrame =
    clickPurchaseJoin(spark, dir, "leftOuter")

  /** FULL OUTER [[clickPurchaseJoin]] — both funnel directions at
    * once: unconverted clicks AND orphan purchases (conversions whose
    * attributing click is missing or out of window). Null emission is
    * watermark-gated on BOTH sides; each side's cutoff is the same
    * pure function of the data as the left form's (a side's row is
    * closed when the final global watermark passes the latest event
    * time that could still match it — click: ts_c + 1 h; purchase:
    * ts_p, since matching clicks satisfy ts_c ≥ ts_p − 1 h and the
    * engine holds the row until the watermark passes its own join
    * window). */
  def clickPurchaseFullPairs(spark: SparkSession, dir: String): DataFrame =
    clickPurchaseJoin(spark, dir, "fullOuter")

  /** The final global watermark of the click/purchase outer joins, in
    * epoch millis — computable BEFORE the stream runs because it is a
    * pure function of the replayed data: each side's watermark node
    * ends at (its max event time − 1 h) and the global watermark is
    * their min under Spark's default multi-watermark policy. Both
    * sides floor micros→millis exactly as Spark's event-time stats do
    * (integer division), so the equality test against the reported
    * watermark is exact, not approximate. None when either side is
    * empty — then the watermark never advances and no null row is
    * ever emitted, which the gated semantics define as the correct
    * final relation, so there is nothing to wait for. */
  private[graft] def outerHorizonMs(spark: SparkSession, dir: String): Option[Long] = {
    val mx = graft.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"))
      .agg((max(expr("unix_micros(ts)")).cast("long") / lit(1000L))
        .cast("long").as("mx_ms"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for { c <- mx.get("click"); p <- mx.get("purchase") }
      yield math.min(c, p) - 3600000L
  }

  /** Stream-static ENRICHMENT join — the canonical production shape
    * missing from the join family: an unbounded event stream joined to
    * a bounded dimension (customer segments) loaded as a plain batch
    * relation. Spark broadcasts the static side into every micro-batch
    * with NO streaming state (unlike stream-stream joins there is no
    * watermark bookkeeping — the dim is re-resolvable at any time), so
    * at 100 TB/day the stream side never shuffles for the join; only
    * the downstream aggregation does. Drained in complete mode, the
    * result must equal the batch join+agg exactly — the oracle is
    * plain SQL over the same two fixtures. */
  def enrichedSegmentTotals(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    eventsStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
  }

  /** STREAMING MERGE sink — the "streaming upsert into a warehouse
    * table" shape (the foreachBatch pattern table formats market as
    * streaming MERGE INTO, here over plain parquet via
    * [[graft.operators.MergeOps]]): each micro-batch's update-mode
    * aggregate rows (the touched keys' refreshed cumulative totals)
    * are applied to the running snapshot as a row-replacement CDC
    * batch, and the final snapshot is the query result. Update-mode
    * emission + key-replacement MERGE compose exactly: the last
    * emission per key carries its complete aggregate, so after the
    * drain the snapshot equals the batch groupBy — the plain-SQL
    * oracle. Each batch writes one snapshot version (versioned dirs,
    * shutdown-hook-cleaned); at scale the same loop writes to a
    * key-bucketed table so the MERGE join is shuffle-free, and the
    * per-batch change set stays CDC-sized (touched keys only), never
    * the full table. `StreamingUpsertSpec` drives the multi-batch
    * accumulation path on a staged 4-file replay. */
  private[graft] def drainMergeSink(spark: SparkSession, agg: DataFrame,
                                    key: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_stream_upsert")
    @volatile var snap: Option[String] = None
    val ver = new java.util.concurrent.atomic.AtomicInteger(0)
    drain(spark, agg, "update", _.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val delta = batch.withColumn("op", lit("U"))
        val base = snap.map(p => spark.read.parquet(p))
          .getOrElse(batch.filter(lit(false)))
        val next = graft.operators.MergeOps.applyChanges(base, delta, key)
        val out = tmp.resolve(s"v${ver.incrementAndGet()}").toString
        next.write.mode("overwrite").parquet(out)
        // the previous version is fully consumed once this write
        // commits; prune it so a long drain holds ONE snapshot, not
        // the whole version history
        snap.foreach(p => graft.TempDirs.deleteRecursively(
          java.nio.file.Paths.get(p)))
        snap = Some(out)
    })
    // a zero-batch stream still returns the aggregate's columns
    snap.map(spark.read.parquet).getOrElse(emptyFrame(spark, agg.schema))
  }

  /** Per-user cumulative totals as an update-mode streaming aggregate
    * (the delta feed for [[drainMergeSink]]). */
  private[graft] def upsertTotalsAgg(events: DataFrame): DataFrame =
    events
      .select(col("user_id").cast("long").as("user_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total"))

  case class UserTotals(user_id: Long, n_events: Long, total: Double)

  /** Stateful streaming (custom per-key state via mapGroupsWithState):
    * running per-user event counts/sums maintained in GroupState — the
    * building block for streaming feature backfills. Update-mode
    * output; each micro-batch emits the refreshed totals for keys it
    * touched. */
  def runningUserTotals(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[UserTotals] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val base = eventsStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"), col("value"))
      .as[(Long, Double)]
    base.groupByKey(_._1)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val (dn, dsum) = rows.foldLeft((0L, 0.0)) {
            case ((c, s2), (_, v)) => (c + 1, s2 + v)
          }
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          val next = UserTotals(uid, prev.n_events + dn, prev.total + dsum)
          state.update(next)
          next
      }
  }

  case class UserStats(user_id: Long, n_events: Long, total: Double,
                       mean: Double, m2: Double)

  /** Stateful streaming running MOMENTS (Welford/Chan): per-user
    * count/mean/M2 maintained in GroupState, merged batch-at-a-time
    * with the parallel-variance combine — the streaming twin of a
    * grouped avg/stddev aggregate, and the state shape a streaming
    * feature store keeps per entity. State is O(1) per key at any
    * stream length. */
  def runningUserStats(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[UserStats] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val base = eventsStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"), col("value"))
      .as[(Long, Double)]
    base.groupByKey(_._1)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          // batch-local Welford pass (plus the exact sum: a 2-decimal
          // input keeps its sum on the decimal grid, so the drained
          // total is rounding-stable where a mean emission is not)
          var bn = 0L; var bsum = 0.0; var bmean = 0.0; var bm2 = 0.0
          rows.foreach { case (_, v) =>
            bn += 1
            bsum += v
            val d = v - bmean
            bmean += d / bn
            bm2 += d * (v - bmean)
          }
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0.0, 0.0, 0.0))
          // Chan parallel combine of (prev, batch)
          val tot = prev.n_events + bn
          val delta = bmean - prev.mean
          val mean = prev.mean + delta * bn / tot
          val m2 = prev.m2 + bm2 + delta * delta * prev.n_events * bn / tot
          val next = UserStats(uid, tot, prev.total + bsum, mean, m2)
          state.update(next)
          next
      }
  }

  /** The schema'd events stream with ts normalized — shared by the
    * windowed/stateful queries, and public so tests and custom
    * pipelines can compose their own streaming ops (e.g. the
    * watermark-BOUNDED dedup `dropDuplicatesWithinWatermark`, whose
    * state stays finite at 100 TB where plain dropDuplicates grows
    * with the corpus; pinned by EngineSpec). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = fixtureStream(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // same NTZ→session-tz normalization as Tables.events (UTC
        // sessions ⇒ exact); watermarks/windows need TIMESTAMP
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n: Long)
  case class OpenSession(start_us: Long, last_us: Long, n: Long)
  case class OpenSessions(intervals: Seq[OpenSession])

  /** CLOSED gap-sessions as an APPEND stream — the custom-state
    * sessionization `session_window` cannot express in append mode:
    * each session is emitted exactly once, when the event-time
    * watermark passes its `last + gap` horizon (watermark-gated
    * close). An interval is held in state until then even when a
    * later event already started a successor interval, because an
    * in-watermark late event arriving in a LATER batch can still land
    * in the gap and merge with it — the eager successor-domination
    * close this replaces emitted such a session early and then
    * mis-split the late straggler into a spurious one-event session.
    * Holding ALL open intervals makes the operator exact for every
    * in-watermark arrival order; beyond-watermark lateness is bounded
    * by the 1-hour delay like every other stream in this battery.
    *
    * State is the per-key list of open intervals. Its length is
    * bounded by the watermark window, not the stream length: an
    * interval leaves state as soon as the watermark passes its
    * horizon, so at most ~(delay + gap)/gap ≈ 4 intervals per key can
    * coexist — O(1) state per key at any scale, the
    * flatMapGroupsWithState twin of the reference-free session
    * aggregate. The per-key timeout is armed at the EARLIEST open
    * horizon, so every close still fires exactly once.
    *
    * The bound holds in CATCH-UP batches too (a backfill delivering
    * the whole history while the engine watermark still lags — e.g.
    * the fixture replay, where everything arrives in batch 1 with
    * watermark 0): the close test uses the PROSPECTIVE watermark
    * max(engine wm, this batch's max event time − the 1 h delay),
    * which is a lower bound on every future engine watermark, so an
    * interval whose horizon it passes can never receive another
    * in-watermark event — closing it immediately is exact, and state
    * never holds more than the ~4-interval tail of the replayed
    * history instead of every session in it.
    *
    * Known 1 ms edge (Spark API limit, unreachable on the fixture
    * replay): if an open interval's horizon EQUALS the current
    * watermark, the timeout must be armed at wm+1 (the API rejects
    * timestamps at/behind the watermark) and Spark fires only when
    * the watermark passes the armed value — so a stream that ends
    * with its final watermark at exactly horizon+1 never fires that
    * close and drops the session even though horizon < final wm.
    * Closing such intervals early instead would diverge the other way
    * whenever the watermark stops AT the horizon, so the strict rule
    * is kept and the edge documented.
    *
    * On the fixture replay the data arrives in one batch (watermark
    * still 0): the prospective-watermark test closes every session
    * whose horizon sits behind the per-key batch maximum minus the
    * delay, then the engine runs a final batch against the
    * end-of-stream watermark, firing the timeouts that close the
    * rest. Both paths apply the same `horizon < wm` rule against
    * watermarks that only grow toward the final one, so the emitted
    * set is exactly the batch session set restricted to
    * watermark-closed sessions (the oracle reproduces Spark's
    * ms-floor timeout arithmetic).
    * `StatefulSessionSpec` drives the timeout, cross-batch-merge, and
    * gap-before-open-interval late-merge paths with a MemoryStream. */
  def closedSessions(events: DataFrame, gapMinutes: Int = 30): org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L
    keyedEventTriples(events)
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSessions, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          // data and timeout invocations share the path: a timeout
          // call just merges zero new events
          val newRows = rows.map(r => OpenSession(r._2, r._2, 1)).toSeq
          val (closed, open) = mergeAndClose(
            newRows, state.getOption.map(_.intervals).getOrElse(Seq.empty),
            wm, gapUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(OpenSessions(open))
            // re-arm at the earliest open horizon (clamped above the
            // watermark: the API rejects a timestamp at/behind it)
            state.setTimeoutTimestamp(
              math.max(open.map(horizonMs(_, gapUs)).min, wm + 1L))
          }
          closed.iterator.map(c => SessionOut(uid, c.start_us, c.last_us, c.n))
      }
  }

  /** (user_id, event-us, ts) triples with the battery's 1-hour
    * watermark — the shared input shape of both sessionizers. */
  private def keyedEventTriples(events: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Long, java.sql.Timestamp)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("t"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, java.sql.Timestamp)]
  }

  /** First ms tick strictly after an interval's merge horizon; close
    * when the watermark passes it (Spark fires event-time timers at
    * tts < wm, and late-filters input at ts_ms < wm, so an event that
    * could still merge with an interval can never arrive once it
    * closes). */
  private[graft] def horizonMs(iv: OpenSession, gapUs: Long): Long =
    (iv.last_us + gapUs) / 1000L + 1L

  // must match keyedEventTriples' withWatermark delay: the prospective
  // watermark reproduces Spark's ms-floored maxEventTime − delay
  private[graft] val SessionDelayMs = 3600000L

  /** ONE merge-and-close step, shared verbatim by the
    * flatMapGroupsWithState and transformWithState sessionizers (their
    * semantics must be bit-identical; only the state/timer plumbing
    * differs). Merges new singleton intervals into the carried open
    * set on the gap, then closes every interval whose horizon sits
    * strictly behind the PROSPECTIVE watermark: this key's max event
    * time this batch, ms-floored minus the delay (exactly Spark's
    * watermark arithmetic), is ≤ every future engine watermark, so an
    * interval it passes can never see another in-watermark event —
    * closing now keeps state bounded even in a catch-up batch where
    * the engine watermark lags the data (e.g. the whole fixture
    * arriving at watermark 0). */
  private[graft] def mergeAndClose(
      newRows: Seq[OpenSession], carried: Seq[OpenSession],
      wm: Long, gapUs: Long): (List[OpenSession], List[OpenSession]) = {
    val intervals = (newRows ++ carried).sortBy(_.start_us)
    val merged = intervals.foldLeft(List.empty[OpenSession]) {
      (acc, iv) => acc match {
        case h :: t if iv.start_us <= h.last_us + gapUs =>
          OpenSession(h.start_us, math.max(h.last_us, iv.last_us),
            h.n + iv.n) :: t
        case _ => iv :: acc
      }
    }.reverse
    val prospectiveWm =
      if (newRows.isEmpty) wm
      else math.max(wm, newRows.map(_.last_us).max / 1000L - SessionDelayMs)
    merged.partition(horizonMs(_, gapUs) < prospectiveWm)
  }

  /** [[closedSessions]] re-expressed with the Spark 4 arbitrary-state
    * API (`transformWithState`, SPARK-46815): the same watermark-gated
    * close semantics — the merge/close kernel is literally the shared
    * [[mergeAndClose]] — with the state and timer plumbing the new API
    * makes explicit: a named, individually-evolvable `ValueState` per
    * concern (the open-interval set; the armed-timer bookkeeping the
    * old API's single implicit timeout slot hid), and explicit
    * `registerTimer`/`deleteTimer` (the API permits many timers per
    * key; this operator keeps the proven earliest-horizon single-timer
    * discipline, so firing order questions never arise). Requires the
    * RocksDB state store provider (the API's multi-column-family
    * layout; see [[RocksDb]]) — which is also the
    * store that holds 100 TB-scale state off-heap with changelog
    * checkpointing, so the TWS form is the one a large deployment
    * runs. `TwsSessionSpec` pins full row equality to
    * [[closedSessions]] on the fixture at every SF and drives the
    * timer/late-merge arms on a MemoryStream. */
  class ClosedSessionProcessor(gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long, java.sql.Timestamp), SessionOut, OpenSessions] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, ValueState}
    import org.apache.spark.sql.Encoders
    private val gapUs = gapMinutes * 60L * 1000000L
    @transient private var open: ValueState[OpenSessions] = _
    // the armed event-time timer, mirrored in state: TWS timers are
    // explicit, so re-arming at a new earliest horizon must delete
    // the stale registration (the old API's setTimeoutTimestamp
    // replaced it implicitly)
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[OpenSessions](
        "open", Encoders.product[OpenSessions], TTLConfig.NONE)
      armed = getHandle.getValueState[Long](
        "armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Shared tail of both callbacks: close what the watermark
      * passed, persist the rest, keep exactly one timer at the
      * earliest open horizon. */
    private def step(uid: Long, newRows: Seq[OpenSession],
                     wm: Long): Iterator[SessionOut] = {
      val carried = if (open.exists()) open.get().intervals else Seq.empty
      val (closed, stillOpen) = mergeAndClose(newRows, carried, wm, gapUs)
      val prev = if (armed.exists()) Some(armed.get()) else None
      if (stillOpen.isEmpty) {
        open.clear()
        prev.foreach(getHandle.deleteTimer)
        armed.clear()
      } else {
        open.update(OpenSessions(stillOpen))
        val t = math.max(stillOpen.map(horizonMs(_, gapUs)).min, wm + 1L)
        if (!prev.contains(t)) {
          prev.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(t)
          armed.update(t)
        }
      }
      closed.iterator.map(c => SessionOut(uid, c.start_us, c.last_us, c.n))
    }

    override def handleInputRows(
        uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionOut] =
      step(uid, rows.map(r => OpenSession(r._2, r._2, 1)).toSeq,
        timerValues.getCurrentWatermarkInMs())

    override def handleExpiredTimer(
        uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionOut] = {
      // the fired timer is removed by the engine; drop our mirror so
      // step() doesn't delete a successor registration by mistake
      armed.clear()
      step(uid, Seq.empty, timerValues.getCurrentWatermarkInMs())
    }

    /** Warm start (batch → streaming migration): seed this key's open
      * intervals from a batch-computed snapshot and arm the timer at
      * the earliest horizon, exactly as if the intervals had been
      * accumulated by the stream itself. Runs once per key before any
      * input batch. */
    override def handleInitialState(
        uid: Long, init: OpenSessions,
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
      if (init.intervals.nonEmpty) {
        val wm = timerValues.getCurrentWatermarkInMs()
        open.update(init)
        val t = math.max(init.intervals.map(horizonMs(_, gapUs)).min, wm + 1L)
        getHandle.registerTimer(t)
        armed.update(t)
      }
  }

  /** [[ClosedSessionProcessor]] over the keyed event stream. */
  def closedSessionsTws(events: DataFrame, gapMinutes: Int = 30)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    keyedEventTriples(events)
      .groupByKey(_._1)
      .transformWithState(new ClosedSessionProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Warm-started sessionization — the batch → streaming migration
    * pattern: a batch job has already sessionized history and emitted
    * every watermark-closed session; the stream picks up with the
    * per-key OPEN intervals as `transformWithState` initial state and
    * continues exactly where batch left off (new events merge into
    * carried intervals; closes fire as the live watermark advances).
    * At 100 TB this is how a sessionizer goes live without replaying
    * the archive through the stream.
    *
    * `wmMs` is the archive watermark the batch half closed under
    * ([[sessionSnapshot]]'s `wmMs`). The fresh stream starts with
    * ENGINE watermark 0, so without a filter a live event OLDER than
    * `wmMs` — one the full-history stream would have late-dropped —
    * re-sessionizes and emits a session overlapping one the batch
    * half already closed under the assumption such events could never
    * arrive. Passing `wmMs` pre-filters the live input to
    * `ts >= wmMs`, restoring the full-run late-drop and with it the
    * `batch-closed ++ stream == full run` contract for ANY live
    * input. `None` keeps the unfiltered input for callers that
    * guarantee in-watermark data out-of-band. */
  def closedSessionsTwsFromSnapshot(
      events: DataFrame,
      snapshot: org.apache.spark.sql.Dataset[(Long, OpenSessions)],
      gapMinutes: Int = 30,
      wmMs: Option[Long] = None): org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // mirror the live engine's late filter (rows with event time
    // BELOW the watermark are dropped; == is kept) at the archive
    // watermark the snapshot was closed under
    val live = wmMs.fold(events)(wm =>
      events.filter(unix_millis(col("ts")) >= wm))
    keyedEventTriples(live)
      .groupByKey(_._1)
      .transformWithState(new ClosedSessionProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Append(),
        snapshot.groupByKey(_._1).mapValues(_._2))
  }

  /** Batch half of the warm start: gaps-and-islands over the archive
    * through the SAME [[mergeAndClose]] kernel the stream runs,
    * split by the archive watermark `wmMs` (its max event ms − the
    * battery delay) into (closed — batch's output, open — the
    * stream's initial state). One per-key shuffle over the archive. */
  def sessionSnapshot(events: DataFrame, wmMs: Long, gapMinutes: Int = 30)
      : org.apache.spark.sql.Dataset[(Long, (Seq[SessionOut], OpenSessions))] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("t"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid, rows) =>
        val (closed, open) = mergeAndClose(
          rows.map(r => OpenSession(r._2, r._2, 1)).toSeq, Seq.empty,
          wmMs, gapUs)
        (uid, (closed.map(c => SessionOut(uid, c.start_us, c.last_us, c.n)),
          OpenSessions(open)))
      }
  }

  /** Shared halves of the warm-start migration: (batch-closed
    * sessions, per-key open-interval initial state, late-filtered
    * live stream, archive watermark). None on degenerate input — an
    * empty events relation yields null range bounds, and a range
    * within one millisecond yields an EMPTY archive (splitMs = minMs,
    * the midpoint must sit STRICTLY above minMs since integer
    * division floors maxMs = minMs+1 back to minMs), whose max would
    * be null — either would NPE the warm path while the oracle still
    * defines the (empty) answer.
    *
    * Both halves stay DISTRIBUTED datasets (closed sessions are
    * data-proportional — never a driver collect); the snapshot
    * recomputes once per consumer — measured a wash vs persist (the
    * drain + sessionization dominate), and the rescan form holds no
    * cache entry past the call — with both derivations identical
    * because the kernel sorts its own input. */
  private[graft] def warmHalves(spark: SparkSession, dir: String)
      : Option[(DataFrame,
                org.apache.spark.sql.Dataset[(Long, OpenSessions)],
                DataFrame, Long)] = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
    val range = ev
      .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
      .as[(Option[Long], Option[Long])].head()
    val splitOpt = range match {
      case (Some(minMs), Some(maxMs)) if maxMs - minMs >= 2 =>
        Some(minMs + (maxMs - minMs) / 2)
      case _ => None
    }
    splitOpt.map { splitMs =>
      val archive = ev.filter(unix_millis(col("ts")) < splitMs)
      val wm1 = archive.agg(max(unix_millis(col("ts")))).as[Long].head() -
        SessionDelayMs
      val snapDs = sessionSnapshot(archive, wm1)
      val batchClosed = snapDs.flatMap { case (_, (closed, _)) => closed }
        .toDF()
      val openInit = snapDs.map { case (uid, (_, open)) => (uid, open) }
      val live = eventsStream(spark, dir)
        .filter(unix_millis(col("ts")) >= splitMs)
      (batchClosed, openInit, live, wm1)
    }
  }
}
