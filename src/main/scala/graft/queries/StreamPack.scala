package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.TempDirs
import graft.streaming.EventStream
import graft.streaming.EventStream.{Plan, RocksDb, Sink, toMemory}

/** SURVEY §2.10 surfaced to the driver: the Structured Streaming
  * pipeline run end-to-end as a checkable query, not just a test.
  * The file source replays the events fixture as a stream, the
  * watermarked tumbling-window aggregation drains to completion into
  * a memory sink, and the sink table is returned — by construction
  * equal to the batch twin `q_tumbling_window` (same 6-hour windows),
  * so the identical DuckDB SQL oracle checks the streaming path.
  */
object StreamPack extends QueryPack {

  /** A harness stream declared once: its plan, output mode, start-time
    * conf, outer-join horizon and silver-index scope, with the sink as
    * the only free part. The `q_stream_*` entries reduce the rows
    * [[EventStream.toMemory]] returns; `ScaleProbe` drains the same
    * declarations through [[EventStream.toNoop]]. */
  type Stream = (SparkSession, String, Sink) => DataFrame

  val tumbling: Stream = (s, d, sink) =>
    sink(Plan(EventStream.windowedAgg(s, d), "complete"))
  val enrich: Stream = (s, d, sink) =>
    sink(Plan(EventStream.enrichedSegmentTotals(s, d), "complete"))

  /** Update mode: the sink holds every per-key state update. */
  val userTotals: Stream = (s, d, sink) =>
    sink(Plan(EventStream.runningUserTotals(s, d).toDF(), "update"))
  val userStats: Stream = (s, d, sink) =>
    sink(Plan(EventStream.runningUserStats(s, d).toDF(), "update"))

  /** Append mode: each surviving row is emitted once, when first seen. */
  val dedup: Stream = (s, d, sink) => sink(Plan(EventStream.dedupCounts(s, d), "append"))
  val dedupWm: Stream = (s, d, sink) =>
    sink(Plan(EventStream.dedupWithinWatermark(s, d), "append"))

  /** Complete mode (Spark supports append/complete for session-window
    * aggregations, not update): after the drain the sink IS the final
    * session relation. */
  val sessions: Stream = (s, d, sink) =>
    sink(Plan(EventStream.sessionCounts(s, d), "complete"))

  /** Append mode, the only one stream-stream joins support. */
  val join: Stream = (s, d, sink) =>
    sink(Plan(EventStream.clickPurchasePairs(s, d), "append"))

  /** Append mode, exiting on the final-watermark signal ([[EventStream
    * .drain]]'s `horizonMs`): the null-extended rows land only in the
    * cleanup batch that runs with that watermark. */
  val leftJoin: Stream = (s, d, sink) => sink(Plan(EventStream.clickPurchaseLeftPairs(s, d),
    "append", horizonMs = EventStream.outerHorizonMs(s, d)))
  val fullJoin: Stream = (s, d, sink) => sink(Plan(EventStream.clickPurchaseFullPairs(s, d),
    "append", horizonMs = EventStream.outerHorizonMs(s, d)))

  /** The history index goes through the full WRITE → READ-BACK silver
    * path ([[EventStream.writeNeardupIndex]]), so the driver-checked
    * query exercises exactly what production runs. */
  val neardup: Stream = (s, d, sink) =>
    TempDirs.scoped("graft_neardup_silver") { silver =>
      val hist = EventStream.writeNeardupIndex(s, d, silver.toString)
      sink(Plan(EventStream.neardupAgainstHistory(s, d, hist), "append"))
    }

  val qualityGate: Stream = (s, d, sink) =>
    TempDirs.scoped("graft_qgate_silver") { silver =>
      val (model, thr) = EventStream.writeQualityModel(s, d, silver.toString)
      sink(Plan(EventStream.qualityGate(s, d, model, thr), "append"))
    }

  /** `requireK` pins the IVF width ([[EventStream.writeAnnIndex]]):
    * the battery pins the DuckDB oracle's 16 centroids, the scale
    * probe passes None for the adaptive width. */
  def ann(requireK: Option[Int]): Stream = (s, d, sink) =>
    TempDirs.scoped("graft_ann_silver") { silver =>
      val ix = EventStream.writeAnnIndex(s, d, silver.toString, requireK)
      sink(Plan(EventStream.annAgainstHistory(s, d, ix), "append"))
    }
  val annGated: Stream = ann(Some(16))

  val closedSessions: Stream = (s, d, sink) => sink(Plan(
    EventStream.closedSessions(EventStream.eventsStream(s, d)).toDF(), "append"))

  /** Under the [[RocksDb]] provider, which `transformWithState` needs. */
  val twsSessions: Stream = (s, d, sink) => sink(Plan(
    EventStream.closedSessionsTws(EventStream.eventsStream(s, d)).toDF(), "append", Seq(RocksDb)))

  /** The batch → streaming WARM-START migration end-to-end over the
    * fixture: the archive (events before the midpoint of the observed
    * time range) is sessionized in BATCH through the shared merge/close
    * kernel ([[EventStream.sessionSnapshot]], closed under the archive
    * watermark wm1 = ms-floored archive max − the battery's 1 h delay);
    * the live half drains as a stream that starts from the per-key
    * OPEN intervals as `transformWithState` initial state,
    * late-filtered at wm1 ([[EventStream.closedSessionsTwsFromSnapshot]]).
    * Returns batch-closed ∪ stream-emitted, which must equal a single
    * full-history stream run. Degenerate inputs fall back to the plain
    * full-history stream, semantically what a migration with nothing
    * to migrate is. */
  val warmSessions: Stream = (s, d, sink) =>
    EventStream.warmHalves(s, d) match {
      case None => twsSessions(s, d, sink)
      case Some((batchClosed, openInit, live, wm1)) =>
        batchClosed.unionByName(sink(Plan(EventStream.closedSessionsTwsFromSnapshot(
          live, openInit, wmMs = Some(wm1)).toDF(), "append", Seq(RocksDb))))
    }

  /** Every declared stream by its query name. */
  val streams: Map[String, Stream] = Map(
    "q_stream_sessions_closed" -> closedSessions,
    "q_stream_tws_sessions" -> twsSessions,
    "q_stream_tumbling"    -> tumbling,
    "q_stream_dedup"       -> dedup,
    "q_stream_dedup_wm"    -> dedupWm,
    "q_stream_user_totals" -> userTotals,
    "q_stream_stats"       -> userStats,
    "q_stream_session"     -> sessions,
    "q_stream_join"        -> join,
    "q_stream_left_join"   -> leftJoin,
    "q_stream_full_join"   -> fullJoin,
    "q_stream_enrich"      -> enrich,
    "q_stream_neardup"     -> neardup,
    "q_stream_quality_gate" -> qualityGate,
    "q_stream_ann" -> annGated,
    "q_stream_warm_sessions" -> warmSessions,
  )

  def qStreamTumbling(s: SparkSession, d: String): DataFrame =
    tumbling(s, d, toMemory).orderBy(col("wstart"))

  /** Streaming exact dedup drained to completion and counted: the
    * append drain's distinct `(lang, h)` rows, counted per language
    * after the drain, checked by the same batch-distinct SQL oracle —
    * the streaming path must reproduce the batch answer exactly. */
  def qStreamDedup(s: SparkSession, d: String): DataFrame =
    dedup(s, d, toMemory)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_distinct"))
      .orderBy(col("lang"))

  /** Each user's FINAL state in an update-mode drain: the max-n_events
    * row, since n_events is strictly increasing per key. */
  private def finalState(updates: DataFrame): DataFrame = updates
    .withColumn("rn", row_number().over(
      Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)))
    .filter(col("rn") === 1)

  /** Custom streaming state (mapGroupsWithState) driver-checked: the
    * update-mode stream of per-user running totals is reduced to each
    * key's final state, which must equal the batch groupBy exactly.
    * Total rounded at the edge only; state accumulates raw doubles. */
  def qStreamUserTotals(s: SparkSession, d: String): DataFrame =
    finalState(userTotals(s, d, toMemory))
      .select(col("user_id"), col("n_events"), round(col("total"), 2).as("total"))
      .orderBy(col("user_id"))

  /** Stateful running moments (Welford/Chan in GroupState) drained to
    * final state: per-user count/mean/sample-std must equal the batch
    * avg/stddev_samp aggregate — the oracle is plain SQL over the
    * same events. */
  def qStreamStats(s: SparkSession, d: String): DataFrame =
    finalState(userStats(s, d, toMemory))
      // emit the SUM, not the mean: 2-decimal inputs keep their sum on
      // the decimal grid (round 2 is exact), while a mean emission sits
      // on a .005 half boundary for ~1% of keys and flips per engine;
      // std is irrational for generic inputs, so round 4 is safe
      .select(col("user_id"), col("n_events"),
        round(col("total"), 2).as("total"),
        round(when(col("n_events") > 1,
          sqrt(col("m2") / (col("n_events") - 1))), 4).as("std_value"))
      .orderBy(col("user_id"))

  /** Streaming MERGE sink driver-checked: each micro-batch's updated
    * per-user totals are CDC-applied (row-replacement upsert) into a
    * running parquet snapshot — the foreachBatch "streaming MERGE
    * INTO" pattern over [[graft.operators.MergeOps]]. The final
    * snapshot must equal the batch groupBy exactly (same oracle as
    * `q_stream_user_totals`, reached through a completely different
    * sink path: warehouse merge instead of memory-sink reduction). */
  def qStreamUpsert(s: SparkSession, d: String): DataFrame =
    EventStream.drainMergeSink(s,
        EventStream.upsertTotalsAgg(EventStream.eventsStream(s, d)), "user_id")
      .orderBy(col("user_id"))

  /** Watermark-bounded streaming dedup drained and summarized: the
    * union-duplicated event stream collapsed by
    * `dropDuplicatesWithinWatermark` (finite state at any corpus
    * size — the scale path plain `dropDuplicates` lacks) must
    * reproduce the batch per-type aggregate exactly. */
  def qStreamDedupWm(s: SparkSession, d: String): DataFrame =
    dedupWm(s, d, toMemory)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))

  /** Stream-static enrichment join drained to completion: the event
    * stream broadcast-joined to the static customer-segment dim (no
    * streaming state — see [[EventStream.enrichedSegmentTotals]]),
    * aggregated per (segment, event type); must equal the batch
    * join + agg exactly. */
  def qStreamEnrich(s: SparkSession, d: String): DataFrame =
    enrich(s, d, toMemory).orderBy(col("c_mktsegment"), col("event_type"))

  /** Streaming session windows reduced to the batch summary: the
    * complete-mode drain leaves the final per-user session set in the
    * sink; summarizing it must reproduce the batch gaps-and-islands
    * answer exactly (identical oracle to `q_session_window`). */
  def qStreamSession(s: SparkSession, d: String): DataFrame =
    sessions(s, d, toMemory)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"),
        max(col("n")).as("max_session_events"))
      .orderBy(col("user_id"))

  /** Stream-stream join drained and summarized: per-user count of
    * (click, purchase-within-an-hour) pairs. The batch self-join SQL
    * is the oracle — the streaming join must reproduce the batch pair
    * set exactly once both streams are exhausted. */
  def qStreamJoin(s: SparkSession, d: String): DataFrame =
    join(s, d, toMemory)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))

  /** Stream-stream LEFT OUTER join (r14): the funnel shape — per user,
    * matched click→purchase pairs AND the watermark-closed unconverted
    * clicks ([[EventStream.clickPurchaseLeftPairs]]). The oracle
    * replays the outer semantics in batch SQL: matched pairs are the
    * plain interval join; a null-extended click appears iff no
    * purchase matched AND the final watermark (min of the two
    * sides' max event time, minus the 1 h delay) passed its match
    * horizon (ts_c + 1 h) — the exact condition under which the
    * streaming operator may emit it. */
  def qStreamLeftJoin(s: SparkSession, d: String): DataFrame =
    leftJoin(s, d, toMemory)
      .groupBy(col("user_id"))
      .agg(count(col("purchase_id")).as("n_pairs"),
        count(when(col("purchase_id").isNull, 1)).as("n_unconverted"))
      .orderBy(col("user_id"))

  /** Stream-stream FULL OUTER join (r14): both funnel directions —
    * matched pairs, watermark-closed unconverted clicks, AND orphan
    * purchases whose attributing click never arrived in window
    * ([[EventStream.clickPurchaseFullPairs]]). The oracle replays both
    * sides' null gating in batch SQL: a click closes when the final
    * watermark passes ts_c + 1 h (its last matchable purchase time), a
    * purchase when it passes ts_p (its last matchable click time). */
  def qStreamFullJoin(s: SparkSession, d: String): DataFrame =
    fullJoin(s, d, toMemory)
      .groupBy(col("user_id"))
      .agg(count(when(col("click_id").isNotNull
          && col("purchase_id").isNotNull, 1)).as("n_pairs"),
        count(when(col("purchase_id").isNull, 1)).as("n_unconverted"),
        count(when(col("click_id").isNull, 1)).as("n_orphans"))
      .orderBy(col("user_id"))

  /** Streaming incremental near-dup — the daily-crawl-vs-archive
    * dedup ([[EventStream.neardupAgainstHistory]]): docs with
    * `doc_id % 5 == 0` replay as the live stream, the rest are the
    * pre-indexed history; each micro-batch sketches its own docs
    * (scan-local fused kernel), stream-static joins the banded index,
    * and keeps matches agreeing on >= 8 of 16 minhash components
    * (est >= 0.5). Fully STATELESS streaming (no watermark, no state
    * store), so the per-batch cost is independent of archive size;
    * the oracle replays the whole dataflow — sketch, split, banded
    * candidates, exact component agreement, per-doc collapse — in
    * SQL. The collapse runs over the drained rows: a pair surfaces
    * once per shared band, so distinct first, then one row per live
    * doc — lowest-id history match as the dedup rep, candidate count,
    * best agreement. */
  def qStreamNeardup(s: SparkSession, d: String): DataFrame =
    neardup(s, d, toMemory)
      .select(col("doc_id"), col("hist_id"), col("n_match")).distinct()
      .groupBy(col("doc_id"))
      .agg(min(col("hist_id")).as("rep"), count(lit(1)).as("n_cand"),
        max(col("n_match")).as("best_match"))
      .orderBy(col("doc_id"))

  /** Streaming quality gate — filter-on-ingest against the
    * batch-fitted per-language unigram LM
    * ([[EventStream.qualityGate]]): history (doc_id % 5 != 0) fits
    * the model, written as silver tables; the live fifth streams
    * through a stateless broadcast scorer (mean token logprob, OOV at
    * ln(0.5/n)), kept iff within the 0.15-nat entropy-relative
    * margin. The oracle refits the model and rescores every live doc
    * in SQL — fit, OOV fallback, threshold, and keep bit all
    * replayed exactly. */
  def qStreamQualityGate(s: SparkSession, d: String): DataFrame =
    qualityGate(s, d, toMemory).orderBy(col("doc_id"))

  /** Streaming VECTOR SEARCH ([[ann]]) — the RAG-ingest lookup: the
    * archive (vec_id % 5 != 0) builds a flat-IVF silver index (seeded
    * 16-centroid assignment, posting lists with vectors); the live
    * fifth streams through a scan-local nprobe=4 probe kernel against
    * the broadcast centroid table and a stateless stream-static
    * cluster join, emitting exact-cosine candidates above a 0.2 floor;
    * top-5 per query is the post-drain batch reduction (re-delivered
    * rows collapse under distinct). The oracle replays assignment,
    * probes, cosine, floor, and ranking relationally. */
  def qStreamAnn(s: SparkSession, d: String): DataFrame =
    annGated(s, d, toMemory)
      .select(col("q_id"), col("n_id"), col("cos")).distinct()
      .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy(col("q_id"), col("rank"))

  /** The batch → streaming WARM-START migration ([[warmSessions]]),
    * driver-checked end to end: the union must equal one full-history
    * stream run — same oracle SQL as `q_stream_sessions_closed`: a
    * seamless migration adds no row and loses none. (Disjointness and
    * the straddling-session merge are additionally spec-pinned in
    * TwsSessionSpec on adversarial synthetic input, including
    * stragglers behind wm1.) */
  def qStreamWarmSessions(s: SparkSession, d: String): DataFrame =
    warmSessions(s, d, toMemory).orderBy(col("user_id"), col("start_us"))

  /** Custom-state sessionization (flatMapGroupsWithState + event-time
    * timeout) driver-checked: the append stream of CLOSED sessions.
    * Closes are watermark-gated — a session is emitted exactly when
    * the watermark passes its `end + gap` horizon, never merely
    * because a successor event exists (an in-watermark late event in
    * a later batch may still merge into the gap). On the fixture
    * replay's single data batch most closes fire immediately against
    * the prospective watermark (per-key max event time minus the 1 h
    * delay); one more engine batch against the end-of-stream
    * watermark fires the remaining timeouts. The checkable result is
    * therefore: each batch gaps-and-islands session whose `end + gap`
    * horizon fell strictly behind the final watermark in Spark's
    * millisecond timeout arithmetic — which the oracle reproduces
    * with exact integer math. The timeout and late-merge arms are
    * also MemoryStream-driven in `StatefulSessionSpec`. */
  def qStreamSessionsClosed(s: SparkSession, d: String): DataFrame =
    closedSessions(s, d, toMemory).orderBy(col("user_id"), col("start_us"))

  /** The same watermark-gated sessionization re-expressed with the
    * Spark 4 arbitrary-state API (`transformWithState`: named typed
    * states, explicit event-time timers, RocksDB provider — see
    * [[EventStream.ClosedSessionProcessor]]). The merge/close kernel
    * is shared code with [[qStreamSessionsClosed]], so the oracle is
    * the identical gaps-and-islands SQL; what this entry
    * driver-checks is the new API's plumbing end-to-end: timer
    * registration/deletion across re-arms, expired-timer dispatch,
    * and the RocksDB multi-column-family state layout. */
  def qStreamTwsSessions(s: SparkSession, d: String): DataFrame =
    twsSessions(s, d, toMemory).orderBy(col("user_id"), col("start_us"))

  val queries: Map[String, Q] = Map(
    "q_stream_sessions_closed" -> qStreamSessionsClosed,
    "q_stream_tws_sessions" -> qStreamTwsSessions,
    "q_stream_tumbling"    -> qStreamTumbling,
    "q_stream_dedup"       -> qStreamDedup,
    "q_stream_dedup_wm"    -> qStreamDedupWm,
    "q_stream_upsert"      -> qStreamUpsert,
    "q_stream_user_totals" -> qStreamUserTotals,
    "q_stream_stats"       -> qStreamStats,
    "q_stream_session"     -> qStreamSession,
    "q_stream_join"        -> qStreamJoin,
    "q_stream_left_join"   -> qStreamLeftJoin,
    "q_stream_full_join"   -> qStreamFullJoin,
    "q_stream_enrich"      -> qStreamEnrich,
    "q_stream_neardup"     -> qStreamNeardup,
    "q_stream_quality_gate" -> qStreamQualityGate,
    "q_stream_ann" -> qStreamAnn,
    "q_stream_warm_sessions" -> qStreamWarmSessions,
  )

  /** Batch gaps-and-islands, emitted iff watermark-closed under the
    * FINAL watermark — the one session relation three streaming forms
    * must land on (fmgws, transformWithState, and the warm-start
    * migration union). */
  private val watermarkClosedSessionsSql: String =
    """WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS es FROM events),
      |f AS (SELECT user_id, es,
      |    CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es)
      |      > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |g AS (SELECT user_id, es,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY es) AS sid
      |  FROM f),
      |sess AS (SELECT user_id, sid, min(es) AS start_us, max(es) AS end_us,
      |    count(*) AS n
      |  FROM g GROUP BY 1, 2),
      |wm AS (SELECT (max(es) // 1000) - 3600000 AS wm_ms FROM e)
      |SELECT s.user_id, s.start_us, s.end_us, s.n
      |FROM sess s, wm
      |WHERE ((s.end_us + 1800000000) // 1000) + 1 < wm.wm_ms
      |ORDER BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    // batch gaps-and-islands, emitted iff watermark-closed under the
    // final watermark: wm_ms = max_event_us//1000 - 3600000 (Spark
    // floors event times to ms before the delay subtraction) and the
    // fire rule is timeout_ms < wm_ms with timeout_ms =
    // (end+gap)//1000+1 — all integer arithmetic, exact on both
    // engines. No successor-existence arm: closes are purely
    // watermark-gated so in-watermark cross-batch stragglers can
    // still merge.
    "q_stream_sessions_closed" -> watermarkClosedSessionsSql,
    // identical close semantics, different state API: the TWS form
    // shares the merge/close kernel with the fmgws form, so it must
    // land on the same watermark-closed session set
    "q_stream_tws_sessions" -> watermarkClosedSessionsSql,
    // the warm-start MIGRATION must add no seam: batch-closed ∪
    // stream-emitted equals one full-history stream run, so the
    // oracle is the identical watermark-closed session SQL
    "q_stream_warm_sessions" -> watermarkClosedSessionsSql,
    // the stream-static join has no streaming state: drained complete,
    // it must equal the plain batch join + aggregate
    "q_stream_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events JOIN customer ON CAST(user_id AS BIGINT) = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stream_stats" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS n_events,
        | round(sum(value), 2) AS total,
        | round(stddev_samp(value), 4) AS std_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical windows to q_tumbling_window's oracle (epoch-aligned
    // 6-hour buckets); the streaming path must reproduce the batch
    // answer exactly once drained
    "q_stream_tumbling" ->
      """SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS wstart,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_dedup" ->
      """SELECT lang, count(DISTINCT text) AS n_distinct
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // the union doubles every event and the watermark-bounded dedup
    // must collapse it back: the drained rows ARE the events relation
    "q_stream_dedup_wm" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_user_totals" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS n_events,
        | round(sum(value), 2) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the streaming-MERGE snapshot must land on the identical batch
    // aggregate as the memory-sink totals query
    "q_stream_upsert" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS n_events,
        | round(sum(value), 2) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical to batch q_session_window's gaps-and-islands oracle:
    // the streaming path must reproduce the batch sessions exactly
    "q_stream_session" ->
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS es, event_id FROM events),
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
    // epoch_us both sides: Spark timestamps are microseconds while the
    // fixture parquet is TIMESTAMP(NANOS), so the window bound must be
    // compared at micro precision in the oracle too
    // full dataflow replay: 3-word shingles → 16 minhash components
    // (same 31-bit permutation family as q_minhash_lsh's oracle) →
    // doc_id%5 live/history split → banded candidates → exact
    // component agreement (>= 8 of 16, integer) → per-doc collapse.
    // The streaming result must equal this batch relation exactly:
    // every output row is a pure function of (doc, index), so batch
    // boundaries cannot show through.
    "q_stream_neardup" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS BIGINT) AS pos,
        |    unnest(string_split(text,' ')) AS w FROM documents),
        |tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |        FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
        |                 JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh),1,15))::BIGINT % 2147483647 AS h FROM tri),
        |js AS (SELECT unnest(generate_series(0,15)) AS j),
        |minh AS (SELECT doc_id, j, j // 2 AS band,
        |    min((h * (2*j+1)) % 2147483647) AS mh FROM dsh, js GROUP BY 1,2,3),
        |sig AS (SELECT doc_id, band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sg FROM minh GROUP BY 1,2),
        |cand AS (SELECT DISTINCT l.doc_id AS a, h.doc_id AS b
        |         FROM sig l JOIN sig h ON l.band=h.band AND l.sg=h.sg
        |         WHERE l.doc_id % 5 = 0 AND h.doc_id % 5 <> 0),
        |nm AS (SELECT c.a, c.b,
        |    sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS n_match
        |  FROM cand c JOIN minh x ON x.doc_id = c.a
        |              JOIN minh y ON y.doc_id = c.b AND y.j = x.j
        |  GROUP BY 1, 2)
        |SELECT a AS doc_id, min(b) AS rep, count(*) AS n_cand,
        |  CAST(max(n_match) AS BIGINT) AS best_match
        |FROM nm WHERE n_match >= 8
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the full streaming-ANN pipeline replayed: seeded-centroid
    // assignment (list_distance, cid ties), nprobe=4 probe lists,
    // exact cosine with the 0.2 floor on the ROUNDED value (the
    // engine filters the rounded cos too), distinct, top-5
    "q_stream_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |h AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
        |c AS (SELECT vec_id AS cid, v AS cv FROM h ORDER BY vec_id LIMIT 16),
        |asg AS (SELECT vec_id AS n_id, cid AS cluster, v AS hv FROM (
        |    SELECT h.vec_id, h.v, c.cid,
        |      row_number() OVER (PARTITION BY h.vec_id
        |        ORDER BY list_distance(h.v, c.cv), c.cid) AS rn
        |    FROM h, c) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 5 = 0),
        |probes AS (SELECT q_id, cid AS cluster, qv FROM (
        |    SELECT q.q_id, c.cid, q.qv,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_distance(q.qv, c.cv), c.cid) AS rn
        |    FROM q, c) WHERE rn <= 4),
        |cand AS (SELECT p.q_id, a.n_id,
        |    round(list_cosine_similarity(p.qv, a.hv), 6) AS cos
        |  FROM probes p JOIN asg a ON a.cluster = p.cluster
        |  WHERE p.q_id != a.n_id),
        |fl AS (SELECT DISTINCT q_id, n_id, cos FROM cand WHERE cos >= 0.2),
        |ranked AS (SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, n_id) AS BIGINT) AS rank FROM fl)
        |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // model refit on the history slice; OOV fallback ln(0.5/n); the
    // keep bit compares score and threshold BOTH rounded to 5 (the
    // emitted scale), as the kernel does — unrounded float sums
    // associate differently across engines/partitionings
    "q_stream_quality_gate" ->
      """WITH hist AS (SELECT lang, unnest(string_split(text,' ')) AS w
        |              FROM documents WHERE doc_id % 5 <> 0),
        |uni AS (SELECT lang, w, count(*) AS c FROM hist GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(c) * 1.0 AS n FROM uni GROUP BY 1),
        |model AS (SELECT uni.lang, uni.w, ln(uni.c / tot.n) AS lp
        |          FROM uni JOIN tot USING (lang)),
        |thr AS (SELECT uni.lang,
        |          sum((uni.c / tot.n) * ln(uni.c / tot.n)) - 0.15 AS thr,
        |          any_value(tot.n) AS n
        |        FROM uni JOIN tot USING (lang) GROUP BY 1),
        |live AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS w
        |         FROM documents WHERE doc_id % 5 = 0),
        |sc AS (SELECT live.doc_id, live.lang, count(*) AS n_toks,
        |         sum(CASE WHEN model.lp IS NULL THEN 1 ELSE 0 END) AS n_oov,
        |         sum(coalesce(model.lp, ln(0.5 / thr.n))) / count(*) AS score
        |       FROM live JOIN thr ON live.lang = thr.lang
        |                 LEFT JOIN model ON live.lang = model.lang
        |                                AND live.w = model.w
        |       GROUP BY 1, 2)
        |SELECT sc.doc_id, sc.lang, CAST(n_toks AS BIGINT) AS n_toks,
        |  CAST(n_oov AS BIGINT) AS n_oov, round(score, 5) AS score,
        |  CAST(CASE WHEN round(score, 5) >= round(thr.thr, 5)
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM sc JOIN thr ON sc.lang = thr.lang
        |ORDER BY sc.doc_id""".stripMargin,
    "q_stream_join" ->
      """SELECT CAST(a.user_id AS BIGINT) AS user_id, count(*) AS n_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) AND epoch_us(a.ts) + 3600000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // left-outer replay: matched pairs are the plain interval join;
    // an unconverted click counts iff the FINAL global watermark
    // (min of the two sides' max event time − the 1 h delay, Spark's
    // default min-policy) strictly passed its match horizon ts_c+1h —
    // the exact eviction condition of the streaming operator
    // full-outer replay: both sides' null gating under the final
    // global watermark — a click closes when the wm strictly passed
    // ts_c + 1h, a purchase when it strictly passed ts_p (its own
    // join window's last matchable click time)
    "q_stream_full_join" ->
      """WITH c AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS cs,
        |             event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT CAST(user_id AS BIGINT) AS u2, epoch_us(ts) AS ps,
        |        event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(cs) FROM c), (SELECT max(ps) FROM p))
        |         - 3600000000 AS w),
        |m AS (SELECT c.user_id, c.click_id, p.purchase_id
        |      FROM c JOIN p ON c.user_id = p.u2
        |        AND p.ps >= c.cs AND p.ps <= c.cs + 3600000000),
        |lu AS (SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id
        |       FROM c LEFT JOIN p ON c.user_id = p.u2
        |         AND p.ps >= c.cs AND p.ps <= c.cs + 3600000000
        |       WHERE p.purchase_id IS NULL
        |         AND c.cs + 3600000000 < (SELECT w FROM wm)),
        |ro AS (SELECT p.u2 AS user_id, CAST(NULL AS BIGINT) AS click_id, p.purchase_id
        |       FROM p LEFT JOIN c ON p.u2 = c.user_id
        |         AND p.ps >= c.cs AND p.ps <= c.cs + 3600000000
        |       WHERE c.click_id IS NULL AND p.ps < (SELECT w FROM wm)),
        |keep AS (SELECT * FROM m UNION ALL SELECT * FROM lu
        |         UNION ALL SELECT * FROM ro)
        |SELECT user_id,
        |  count(CASE WHEN click_id IS NOT NULL AND purchase_id IS NOT NULL
        |             THEN 1 END) AS n_pairs,
        |  count(CASE WHEN purchase_id IS NULL THEN 1 END) AS n_unconverted,
        |  count(CASE WHEN click_id IS NULL THEN 1 END) AS n_orphans
        |FROM keep GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_left_join" ->
      """WITH c AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS cs,
        |             event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT CAST(user_id AS BIGINT) AS u2, epoch_us(ts) AS ps,
        |        event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(cs) FROM c), (SELECT max(ps) FROM p))
        |         - 3600000000 AS w),
        |j AS (SELECT c.user_id, c.click_id, c.cs, p.purchase_id
        |      FROM c LEFT JOIN p ON c.user_id = p.u2
        |        AND p.ps >= c.cs AND p.ps <= c.cs + 3600000000),
        |keep AS (SELECT * FROM j WHERE purchase_id IS NOT NULL
        |         UNION ALL
        |         SELECT * FROM j WHERE purchase_id IS NULL
        |           AND cs + 3600000000 < (SELECT w FROM wm))
        |SELECT user_id, count(purchase_id) AS n_pairs,
        |  count(CASE WHEN purchase_id IS NULL THEN 1 END) AS n_unconverted
        |FROM keep GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
