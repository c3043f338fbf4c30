package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** The r14 stream-stream LEFT OUTER join: matched pairs must equal the
  * inner form exactly, null-extended clicks must appear iff the final
  * watermark passed their match horizon, and repeated drains must be
  * deterministic (the no-data-batch wait in runLeftJoinOnce is doing
  * its job).
  */
class StreamLeftJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def drainOnce(tag: String) =
    EventStream.runLeftJoinOnce(spark, TestSpark.sf, s"graft_lj_spec_$tag")
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
      .collect().toSeq

  test("matched pairs equal the inner join; unconverted clicks are watermark-gated") {
    val out = EventStream.runLeftJoinOnce(spark, TestSpark.sf, "graft_lj_spec_m")
    val matched = out.filter(col("purchase_id").isNotNull)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    val inner = EventStream.runJoinOnce(spark, TestSpark.sf, "graft_lj_spec_i")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    assert(matched.except(inner).count() == 0 && inner.except(matched).count() == 0)

    // batch replay of the outer semantics: final wm = min(max click,
    // max purchase) - 1h; a null row appears iff no purchase matched
    // AND the click's horizon (ts_c + 1h) is strictly below the wm
    val ev = Tables.events(spark, TestSpark.sf)
      .select(col("user_id").cast("long").as("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cs"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("us").as("ps"),
        col("event_id").as("purchase_id"))
    val wm = math.min(
      clicks.agg(max(col("cs"))).head.getLong(0),
      purchases.agg(max(col("ps"))).head.getLong(0)) - 3600000000L
    val expectedNull = clicks
      .join(purchases, col("user_id") === col("u2")
        && col("ps") >= col("cs") && col("ps") <= col("cs") + 3600000000L,
        "left_anti")
      .filter(col("cs") + 3600000000L < lit(wm))
      .select(col("user_id"), col("click_id"))
    val gotNull = out.filter(col("purchase_id").isNull)
      .select(col("user_id"), col("click_id"))
    assert(gotNull.except(expectedNull).count() == 0
      && expectedNull.except(gotNull).count() == 0)
    assert(expectedNull.count() > 0, "fixture should have unconverted clicks")
  }

  test("repeated drains are deterministic") {
    assert(drainOnce("r1") == drainOnce("r2"))
  }

  test("drain exit signal equals the engine's final committed watermark exactly") {
    // r15: the drain exits on an explicit signal — a committed progress
    // whose watermark reaches outerHorizonMs (the data-determined final
    // value) — instead of sink-count stability. Pin that the signal's
    // µs→ms floor arithmetic matches what Spark actually reports: the
    // MAX watermark over all committed progresses of a full drain must
    // EQUAL the precomputed horizon (never short of it, never past it).
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val l = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == "graft_lj_spec_sig") {
          val w = e.progress.eventTime.get("watermark")
          if (w != null)
            seen.add(java.time.Instant.parse(w).toEpochMilli)
        }
    }
    spark.streams.addListener(l)
    try EventStream.runLeftJoinOnce(spark, TestSpark.sf, "graft_lj_spec_sig")
    finally spark.streams.removeListener(l)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.nonEmpty)
    assert(EventStream.outerHorizonMs(spark, TestSpark.sf)
      .contains(seen.asScala.map(_.longValue).max))
  }

  test("full outer: matched = inner; both null sets are watermark-gated") {
    val out = EventStream.runFullJoinOnce(spark, TestSpark.sf, "graft_fj_spec")
    val matched = out.filter(col("click_id").isNotNull && col("purchase_id").isNotNull)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    val inner = EventStream.runJoinOnce(spark, TestSpark.sf, "graft_fj_spec_i")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    assert(matched.except(inner).count() == 0 && inner.except(matched).count() == 0)

    val ev = Tables.events(spark, TestSpark.sf)
      .select(col("user_id").cast("long").as("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cs"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("us").as("ps"),
        col("event_id").as("purchase_id"))
    val wm = math.min(
      clicks.agg(max(col("cs"))).head.getLong(0),
      purchases.agg(max(col("ps"))).head.getLong(0)) - 3600000000L
    val expUnconv = clicks
      .join(purchases, col("user_id") === col("u2")
        && col("ps") >= col("cs") && col("ps") <= col("cs") + 3600000000L,
        "left_anti")
      .filter(col("cs") + 3600000000L < lit(wm))
      .select(col("user_id"), col("click_id"))
    val gotUnconv = out.filter(col("purchase_id").isNull)
      .select(col("user_id"), col("click_id"))
    assert(gotUnconv.except(expUnconv).count() == 0
      && expUnconv.except(gotUnconv).count() == 0)
    val expOrphan = purchases
      .join(clicks, clicks("user_id") === col("u2")
        && col("ps") >= col("cs") && col("ps") <= col("cs") + 3600000000L,
        "left_anti")
      .filter(col("ps") < lit(wm))
      .select(col("u2").as("user_id"), col("purchase_id"))
    val gotOrphan = out.filter(col("click_id").isNull)
      .select(col("user_id"), col("purchase_id"))
    assert(gotOrphan.except(expOrphan).count() == 0
      && expOrphan.except(gotOrphan).count() == 0)
    assert(expOrphan.count() > 0, "fixture should have orphan purchases")
  }
}
