package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOf
import graft.plans.AsOfMerge

/** As-of join: hand-checked semantics + equality of the window
  * composition and the cogroup sort-merge implementation. */
class AsOfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // first in the suite: when this is the JVM's first as-of call, class
  // initialization holds all 8 threads at the install, which is what
  // lets a check-then-set race show (warm calls rarely overlap there)
  test("planned as-of installs its strategy and rule exactly once under concurrent callers") {
    for (_ <- 0 until 10) {
      // a fresh session: its experimental hooks start empty
      val ns = spark.newSession()
      val probe = ns.range(0, 20).select(
        (col("id") % 3).as("k"), col("id").as("t"), col("id").as("id"))
      val ref = probe.select(col("k"), col("t"), (col("id") + 100).as("id"))
      val start = new java.util.concurrent.CyclicBarrier(8)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 8).map { _ =>
        new Thread(() =>
          try {
            start.await()
            graft.plans.AsOfApi.asOfJoinPlanned(probe, ref, "k", "t", "id", "id")
            ()
          } catch { case e: Throwable => errors.add(e); () })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(errors.isEmpty, errors)
      assert(ns.experimental.extraStrategies.count(_ == graft.plans.AsOfStrategy) === 1)
      assert(ns.experimental.extraOptimizations
        .count(_ == graft.plans.PushFilterThroughAsOf) === 1)
    }
    // the install keeps working on a session built without GraftExtensions
    val ns = spark.newSession()
    val probe = ns.range(0, 4).select(lit(1L).as("k"), col("id").as("t"), col("id").as("id"))
    val planned = graft.plans.AsOfApi.asOfJoinPlanned(probe, probe, "k", "t", "id", "id")
    assert(planned.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    assert(planned.select(col("id"), col("id_asof")).orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === (0L until 4L).map(i => (i, i)))
  }

  test("asOfJoin picks latest at-or-before, right wins ties, null before first") {
    val probe = Seq((1L, 5L, 100L), (1L, 15L, 101L), (1L, 25L, 102L), (2L, 9L, 103L))
      .toDF("k", "t", "id")
    val ref = Seq((1L, 10L, 200L), (1L, 20L, 201L), (1L, 25L, 202L))
      .toDF("k", "t", "id").withColumn("pay", col("id") - 193L)
    val got = AsOf.asOfJoin(probe, ref, "k", "t", "id", "pay")
      .select(col("id"), col("pay_asof")).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
    assert(got.toSeq == Seq(
      (100L, None),        // t=5: before the first ref
      (101L, Some(7L)),    // t=15: ref at 10
      (102L, Some(9L)),    // t=25: ref at 25 ties -> right wins
      (103L, None)))       // key 2: no refs
  }

  test("custom AsOfJoinExec plan node equals the window composition") {
    val ev = Tables.events(spark, TestSpark.sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"),
        col("event_id"), col("event_type"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("t"), col("event_id"),
        col("event_id").as("pay"))
    val viaWindow = graft.operators.AsOf
      .asOfJoin(ev, signups, "user_id", "t", "event_id", "pay")
      .select(col("event_id"), col("pay_asof"))
    val planned = graft.plans.AsOfApi
      .asOfJoinPlanned(ev, signups, "user_id", "t", "event_id", "pay")
    // the custom exec must actually be in the physical plan
    assert(planned.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val viaPlan = planned.select(col("event_id"), col("pay_asof"))
    assert(viaPlan.count() == viaWindow.count())
    assert(viaPlan.except(viaWindow).count() == 0)
    assert(viaWindow.except(viaPlan).count() == 0)
  }

  test("planned as-of: string keys + string payloads (buffer-backed) and null keys") {
    // UTF8String values read from an UnsafeProjection are backed by a
    // reused buffer — caching them across rows without copying makes
    // key-change detection compare the buffer to itself, so per-key
    // state never resets. "cc" has no refs: with the bug it inherits
    // a stale payload from an earlier key instead of null.
    val probe = Seq(
      (Some("aa"), 5L, 1L), (Some("aa"), 15L, 2L),
      (Some("bb"), 12L, 3L), (Some("bb"), 30L, 4L),
      (Some("cc"), 99L, 5L), (None: Option[String], 10L, 6L))
      .toDF("k", "t", "id")
    val ref = Seq(
      ("aa", 10L, 100L, "pay_aa_10"),
      ("bb", 10L, 101L, "pay_bb_10"), ("bb", 20L, 102L, "pay_bb_20"))
      .toDF("k", "t", "id", "pay")
    val planned = graft.plans.AsOfApi.asOfJoinPlanned(probe, ref, "k", "t", "id", "pay")
    assert(planned.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val got = planned.select(col("id"), col("pay_asof")).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got == Seq(
      (1L, None),                 // t=5: before aa's first ref
      (2L, Some("pay_aa_10")),
      (3L, Some("pay_bb_10")),
      (4L, Some("pay_bb_20")),
      (5L, None),                 // cc: no refs -> must NOT inherit bb's
      (6L, None)))                // null key matches nothing
  }

  test("cogroup sort-merge equals the window composition on the fixture") {
    val ev = Tables.events(spark, TestSpark.sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"),
        col("event_id"), col("event_type"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("t"), col("event_id"),
        col("event_id").as("pay"))
    val viaWindow = AsOf.asOfJoin(ev, signups, "user_id", "t", "event_id", "pay")
      .select(col("event_id"), col("pay_asof"))
    val viaMerge = AsOfMerge.asOfJoinMerge(
        ev.select("user_id", "t", "event_id"), signups, "user_id", "t", "event_id", "pay")
      .select(col("event_id"), col("pay_asof"))
    assert(viaWindow.count() == viaMerge.count())
    assert(viaWindow.except(viaMerge).count() == 0)
    assert(viaMerge.except(viaWindow).count() == 0)
  }

  // --- r15: the directional merge_asof surface ---

  private def directional(direction: String, tolerance: Long = -1L) = {
    val probe = Seq((1L, 5L, 100L), (1L, 15L, 101L), (1L, 25L, 102L),
        (1L, 40L, 104L), (2L, 9L, 103L))
      .toDF("k", "t", "id")
    val ref = Seq((1L, 10L, 200L), (1L, 20L, 201L), (1L, 25L, 202L))
      .toDF("k", "t", "id").withColumn("pay", col("id") - 193L)
    AsOf.asOfJoinDirectional(probe, ref, "k", "t", "id", "pay",
        direction, tolerance)
      .select(col("id"), col("pay_asof")).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .toSeq
  }

  test("directional backward equals asOfJoin's semantics") {
    assert(directional("backward") == Seq(
      (100L, None),      // t=5: before the first ref
      (101L, Some(7L)),  // t=15: ref at 10
      (102L, Some(9L)),  // t=25: ref AT 25 matches
      (103L, None),      // key 2: no refs
      (104L, Some(9L)))) // t=40: latest ref at 25
  }

  test("directional forward picks earliest at-or-after; at-time matches") {
    assert(directional("forward") == Seq(
      (100L, Some(7L)),  // t=5: next ref at 10
      (101L, Some(8L)),  // t=15: next ref at 20
      (102L, Some(9L)),  // t=25: ref AT 25 matches
      (103L, None),      // key 2: no refs
      (104L, None)))     // t=40: nothing after
  }

  test("directional nearest picks the closer side, ties to backward") {
    assert(directional("nearest") == Seq(
      (100L, Some(7L)),  // only forward exists (10)
      (101L, Some(7L)),  // |15-10| == |20-15| -> tie to backward
      (102L, Some(9L)),  // exact at-time match
      (103L, None),
      (104L, Some(9L)))) // only backward exists (25)
  }

  test("tolerance nulls matches beyond the bound, keeps those within") {
    assert(directional("nearest", tolerance = 5L) == Seq(
      (100L, Some(7L)),  // delta 5 == bound: kept
      (101L, Some(7L)),  // delta 5: kept
      (102L, Some(9L)),  // delta 0
      (103L, None),
      (104L, None)))     // delta 15 > 5: nulled
  }

  test("directional backward equals asOfJoin row-for-row on the fixture") {
    val ev = Tables.events(spark, TestSpark.sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"),
        col("event_id"), col("event_type"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("t"), col("event_id"),
        col("event_id").as("pay"))
    val a = AsOf.asOfJoin(ev, signups, "user_id", "t", "event_id", "pay")
      .select(col("event_id"), col("pay_asof"))
    val b = AsOf.asOfJoinDirectional(ev, signups, "user_id", "t",
        "event_id", "pay", "backward")
      .select(col("event_id"), col("pay_asof"))
    assert(a.count() == b.count())
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }
}
