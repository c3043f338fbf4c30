package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream
import graft.streaming.EventStream.{RocksDb, SessionOut, withConf}

/** The transformWithState sessionizer must be semantically
  * indistinguishable from its flatMapGroupsWithState sibling: the
  * merge/close kernel is shared code, so what these tests pin is the
  * state/timer plumbing the new API makes explicit — timer
  * registration/deletion across re-arms, expired-timer dispatch, and
  * the RocksDB provider the API requires. */
class TwsSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def us(s: String): Long = ts(s).getTime * 1000L

  test("timer close and re-arm: watermark closes both sessions, open stays silent") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp)]
    val sessions = EventStream.closedSessionsTws(
      input.toDS().toDF("user_id", "ts"), gapMinutes = 30)

    val name = "graft_tws_session_spec"
    withConf(spark, RocksDb) {
      val q = sessions.toDF().writeStream
        .outputMode("append").format("memory").queryName(name).start()
      try {
        // batch 1 — user 1: two open intervals; nothing closes
        // (watermark still 0); ONE timer armed at the earliest horizon
        input.addData(
          (1L, ts("2024-01-01 00:00:00")),
          (1L, ts("2024-01-01 00:05:00")),
          (1L, ts("2024-01-01 01:00:00")))
        q.processAllAvailable()
        // batch 2 — user 2 advances the watermark past both horizons
        input.addData((2L, ts("2024-01-01 05:00:00")))
        q.processAllAvailable()
        // batch 3 — the expired timer fires, closing BOTH intervals in
        // one dispatch and deleting the stale registration
        input.addData((2L, ts("2024-01-01 05:01:00")))
        q.processAllAvailable()
      } finally q.stop()
    }

    val got = spark.table(name).as[SessionOut].collect().toSet
    assert(got == Set(
      SessionOut(1L, us("2024-01-01 00:00:00"), us("2024-01-01 00:05:00"), 2L),
      SessionOut(1L, us("2024-01-01 01:00:00"), us("2024-01-01 01:00:00"), 1L)))
    assert(!got.exists(_.user_id == 2L))
  }

  test("in-watermark late event merges into a held interval before its timer fires") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp)]
    val sessions = EventStream.closedSessionsTws(
      input.toDS().toDF("user_id", "ts"), gapMinutes = 30)

    val name = "graft_tws_session_spec2"
    withConf(spark, RocksDb) {
      val q = sessions.toDF().writeStream
        .outputMode("append").format("memory").queryName(name).start()
      try {
        // batch 1: one interval at 00:00, watermark 0
        input.addData((7L, ts("2024-01-01 00:00:00")))
        q.processAllAvailable()
        // batch 2: an in-watermark straggler 20 min later must MERGE
        // (gap 30) — the interval's timer must be re-armed at the new
        // horizon, not fire at the old one
        input.addData((7L, ts("2024-01-01 00:20:00")))
        q.processAllAvailable()
        // advance the watermark far past the merged horizon, then one
        // more batch so the timer fires
        input.addData((8L, ts("2024-01-01 06:00:00")))
        q.processAllAvailable()
        input.addData((8L, ts("2024-01-01 06:01:00")))
        q.processAllAvailable()
      } finally q.stop()
    }

    val got = spark.table(name).as[SessionOut].collect().toSet
    assert(got == Set(
      SessionOut(7L, us("2024-01-01 00:00:00"), us("2024-01-01 00:20:00"), 2L)))
  }

  test("warm start from a batch snapshot continues exactly where batch left off") {
    // the batch → streaming migration contract: batch sessionizes the
    // archive (phase 1) and emits its watermark-closed sessions; the
    // stream starts from the per-key OPEN intervals as initial state
    // and sees only phase-2 events. The union of batch-closed and
    // stream-emitted sessions must equal a single stream run over the
    // full history — including the session that straddles the
    // migration point (03:00 archive + 03:20 live must merge).
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val phase1 = Seq(
      (1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),
      (2L, ts("2024-01-01 00:05:00")),
      (1L, ts("2024-01-01 03:00:00")))
    val phase2 = Seq(
      Seq((1L, ts("2024-01-01 03:20:00"))),      // merges into held 03:00
      Seq((3L, ts("2024-01-01 09:00:00"))),      // advances the watermark
      Seq((3L, ts("2024-01-01 09:01:00"))))      // timers fire

    def drainBatches(batches: Seq[Seq[(Long, java.sql.Timestamp)]],
                     mk: org.apache.spark.sql.DataFrame =>
                       org.apache.spark.sql.Dataset[SessionOut],
                     name: String): Set[SessionOut] = withConf(spark, RocksDb) {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      val q = mk(input.toDS().toDF("user_id", "ts")).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name).as[SessionOut].collect().toSet
    }

    // batch half: archive watermark = max event ms − 1 h
    val wm1 = phase1.map(_._2.getTime).max - 3600000L
    val snap = EventStream.sessionSnapshot(
      phase1.toDF("user_id", "ts"), wm1).collect()
    val batchClosed = snap.flatMap(_._2._1).toSet
    val openInit = snap.map { case (uid, (_, open)) => (uid, open) }
      .toSeq.toDS()

    val warm = drainBatches(phase2,
      df => EventStream.closedSessionsTwsFromSnapshot(df, openInit),
      "graft_tws_warm")
    val full = drainBatches(phase1 +: phase2,
      df => EventStream.closedSessionsTws(df), "graft_tws_full")

    assert(batchClosed.nonEmpty && warm.nonEmpty)
    assert((batchClosed ++ warm) == full)
    assert((batchClosed & warm).isEmpty, "no session emitted by both halves")
    // the straddling session merged across the migration point
    assert(full.contains(SessionOut(1L,
      us("2024-01-01 03:00:00"), us("2024-01-01 03:20:00"), 2L)))
  }

  test("warm start late-filters live stragglers older than the archive watermark") {
    // the migration hazard: the warm stream starts with ENGINE
    // watermark 0, so a live event OLDER than the archive watermark —
    // one the full-history run would have late-dropped — would
    // re-sessionize and emit a session overlapping one the batch half
    // already closed. Passing wmMs pre-filters exactly those rows,
    // restoring `batch-closed ++ stream == full run` for lagging input.
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val phase1 = Seq(
      (1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),
      (2L, ts("2024-01-01 00:05:00")),
      (1L, ts("2024-01-01 03:00:00")))
    // archive watermark = max event ms − the battery's 1 h delay = 02:00
    val wm1 = phase1.map(_._2.getTime).max - 3600000L
    val phase2 = Seq(
      // straggler BEHIND the archive watermark: the full run's engine
      // watermark is already 02:00 when it arrives → late-dropped there
      Seq((2L, ts("2024-01-01 00:06:00"))),
      Seq((3L, ts("2024-01-01 09:00:00"))),      // advances the watermark
      Seq((3L, ts("2024-01-01 09:01:00"))))      // timers fire

    def drainBatches(batches: Seq[Seq[(Long, java.sql.Timestamp)]],
                     mk: org.apache.spark.sql.DataFrame =>
                       org.apache.spark.sql.Dataset[SessionOut],
                     name: String): Set[SessionOut] = withConf(spark, RocksDb) {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      val q = mk(input.toDS().toDF("user_id", "ts")).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name).as[SessionOut].collect().toSet
    }

    val snap = EventStream.sessionSnapshot(
      phase1.toDF("user_id", "ts"), wm1).collect()
    val batchClosed = snap.flatMap(_._2._1).toSet
    val openInit = snap.map { case (uid, (_, open)) => (uid, open) }
      .toSeq.toDS()

    val warm = drainBatches(phase2,
      df => EventStream.closedSessionsTwsFromSnapshot(df, openInit,
        wmMs = Some(wm1)),
      "graft_tws_warm_late")
    val full = drainBatches(phase1 +: phase2,
      df => EventStream.closedSessionsTws(df), "graft_tws_full_late")

    assert((batchClosed ++ warm) == full)
    assert((batchClosed & warm).isEmpty, "no session emitted by both halves")
    // the straggler must appear in NEITHER half: batch already closed
    // user 2's 00:05 session, and the warm stream must not resurrect it
    assert(!full.exists(s => s.user_id == 2L &&
      s.start_us == us("2024-01-01 00:06:00")))
    assert(!warm.exists(_.user_id == 2L))
  }

  test("fixture replay: row-identical to the flatMapGroupsWithState sessionizer") {
    import spark.implicits._
    val dir = TestSpark.sf
    val fmgws = graft.queries.StreamPack.closedSessions(spark, dir, EventStream.toMemory)
      .as[SessionOut].collect().toSet
    val tws = graft.queries.StreamPack.twsSessions(spark, dir, EventStream.toMemory)
      .as[SessionOut].collect().toSet
    assert(tws.nonEmpty)
    assert(tws == fmgws)
  }
}
