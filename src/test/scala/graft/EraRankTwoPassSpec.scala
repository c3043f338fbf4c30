package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EraRank
import graft.streaming.EventStream.withConf

/** The W1 scale mitigation (SCALE.md "Windows"): two-pass era-rank via
  * sketch-bucketed offsets + (era, bucket) windows must be
  * ROW-IDENTICAL to the one-pass `Window.partitionBy(era)` form — the
  * whole point is a bit-equal answer with bounded window partitions —
  * and its row_number window must never partition on the era alone.
  */
class EraRankTwoPassSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The sketch samples rows whose value hash is 0 mod 10: these
    * values all miss it. */
  private lazy val unsampled: Seq[Double] = (1 to 100).map(_.toDouble).toDF("p")
    .filter(pmod(xxhash64(col("p")), lit(10)) =!= 0).as[Double].collect().take(6).toSeq

  /** Adversarial fixture: heavy pred ties (3 distinct values across 60
    * rows per era), a null-pred row, an all-null era, a 1-row era, and
    * an era whose tied values all miss the sketch sample. */
  private def fixture = {
    val dense = for (e <- 1 to 3; i <- 1 to 60)
      yield (e.toLong, (e * 100 + i).toLong, Some((i % 3).toDouble))
    val nulls = Seq((1L, 990L, None), (4L, 991L, None), (4L, 992L, None))
    val single = Seq((5L, 995L, Some(42.0)))
    val missed = (0 until 24).map(i => (6L, (600 + i).toLong, Some(unsampled(i % 6))))
    (dense ++ nulls ++ single ++ missed).toDF("era", "id", "pred")
  }

  test("the fixture's sample-missed era has no sampled row") {
    assert(fixture.filter(col("era") === 6 &&
      pmod(xxhash64(col("pred")), lit(10)) === 0).count() == 0)
    assert(fixture.filter(col("era") === 6).count() == 24)
  }

  /** The kernel plus one local window `f` over (era, bucket) against
    * `f` over the whole era, row for row, with the group totals. */
  private def sameAsWholeEra(f: WindowSpec => Column, weight: Column = lit(1L)): Unit = {
    val df = fixture.withColumn("w",
      when(col("pred").isNull, 0L).otherwise(col("id") % 5 + 1))
    val got = EraRank.bucketed(df, Seq("era"), Seq(col("pred")), 8, weight).head
      .select(col("id"),
        (col("graft_off") + f(Window.partitionBy(col("era"), col("graft_bkt")))).cast("long"),
        col("graft_n"))
    val exp = df.select(col("id"), f(Window.partitionBy(col("era"))).cast("long"),
      sum(weight).over(Window.partitionBy(col("era"))))
    assert(got.count() == df.count()) // no row dropped at the offset join
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
  }

  test("kernel + local row_number equals the whole-era row_number") {
    sameAsWholeEra(p => row_number().over(p.orderBy(col("pred"), col("id"))))
  }

  test("kernel + local rank equals the whole-era min-rank") {
    sameAsWholeEra(p => rank().over(p.orderBy(col("pred"))))
  }

  test("kernel + local weighted running sum equals the whole-era cumsum") {
    sameAsWholeEra(p => sum(col("w")).over(p.orderBy(col("pred"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)), col("w"))
  }

  test("kernel min-rank over every embedding row equals rank() per dimension") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("x").cast("double").as("x"))
    val got = EraRank.bucketed(e, Seq("pos"), Seq(col("x"))).head
      .select(col("vec_id"), col("pos"), col("graft_off") + rank().over(
        Window.partitionBy(col("pos"), col("graft_bkt")).orderBy(col("x"))))
    val exp = e.select(col("vec_id"), col("pos"),
      rank().over(Window.partitionBy(col("pos")).orderBy(col("x"))).cast("long"))
    val n = e.count()
    assert(n > 1000 && got.count() == n)
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
  }

  test("two-pass rank is row-identical to one-pass on ties/nulls/tiny eras") {
    val df = fixture
    val one = EraRank.withPctRankFirst(df, "r", Seq(col("era")), col("pred"), col("id"))
      .select(col("id"), col("r"))
    val two = EraRank.withPctRankFirstTwoPass(df, "r", 8, col("era"),
        col("pred"), col("id"))
      .select(col("id"), col("r"))
    assert(one.except(two).count() == 0 && two.except(one).count() == 0)
    assert(two.count() == df.count()) // no row dropped at the bucket join
  }

  test("two-pass rank matches with buckets coarser than distinct values") {
    // only 3 distinct pred values vs 16 buckets: most edge slots repeat,
    // ties MUST co-bucket for correctness
    val df = fixture
    val one = EraRank.withPctRankFirst(df, "r", Seq(col("era")), col("pred"), col("id"))
      .select(col("id"), col("r"))
    val two = EraRank.withPctRankFirstTwoPass(df, "r", 16, col("era"),
        col("pred"), col("id"))
      .select(col("id"), col("r"))
    assert(one.except(two).count() == 0 && two.except(one).count() == 0)
  }

  test("spearmanByEraTwoPass equals spearmanByEra on real fixture shape") {
    // the two-pass path is the adaptive dispatch forced by a 0 ceiling
    val li = Tables.lineitem(spark, TestSpark.sf)
      .select(Tables.eraOfDate(col("l_shipdate")).as("era"),
        col("l_extendedprice").as("pred"), col("l_quantity").as("y"),
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val a = EraRank.spearmanByEra(li, col("era"), col("pred"), col("y"),
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .as[Double].head()
    val b = withConf(spark, "spark.graft.rank.onePassMaxEraRows" -> "0") {
      val two = EraRank.spearmanByEraAdaptive(li, col("era"), col("pred"), col("y"),
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
      assert(two.queryExecution.analyzed.toString.contains("graft_bkt"))
      two.as[Double].head()
    }
    assert(a == b)
  }

  test("no row_number window partitions on the era alone") {
    val df = fixture
    val two = EraRank.withPctRankFirstTwoPass(df, "r", 8, col("era"),
      col("pred"), col("id"))
    two.collect() // finalize any adaptive plan
    // manual walk: AQE hides the finalized tree behind AdaptiveSparkPlanExec
    // .executedPlan and QueryStageExec.plan, which SparkPlan.collect's
    // children-based traversal does not enter
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] = {
      val self = p match { case w: WindowExec => Seq(w); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self ++ kids.flatMap(leaves)
    }
    val wins = leaves(two.queryExecution.executedPlan)
    assert(wins.nonEmpty)
    val rowNumWins = wins.filter(_.windowExpression.exists(
      _.toString.contains("row_number")))
    assert(rowNumWins.nonEmpty)
    // the fact-side row_number window must fan out on (era, bucket)
    rowNumWins.foreach { w =>
      assert(w.partitionSpec.size >= 2,
        s"row_number window spans a whole era: ${w.partitionSpec}")
    }
  }

  test("bucketing actually splits large eras across window partitions") {
    // uniform preds so the sketch edges spread: no (era,bucket) group may
    // hold a whole era
    val df = (1 to 2000).map(i => ((i % 2).toLong, i.toLong, i.toDouble))
      .toDF("era", "id", "pred")
    val ranked = EraRank.withPctRankFirstTwoPass(df, "r", 8, col("era"),
      col("pred"), col("id"))
    val one = EraRank.withPctRankFirst(df, "r", Seq(col("era")), col("pred"), col("id"))
      .select(col("id"), col("r"))
    assert(one.except(ranked.select(col("id"), col("r"))).count() == 0)
    // reconstruct the bucket groups the operator used (same ~10%
    // value-hash sample feeding the sketch)
    val edges = df.filter(pmod(xxhash64(col("pred")), lit(10)) === 0)
      .groupBy(col("era")).agg(
      percentile_approx(col("pred"), array((1 until 8).map(i => lit(i / 8.0)): _*),
        lit(100)).as("edges"))
    val maxGroup = df.join(broadcast(edges), "era")
      .withColumn("bkt", size(filter(col("edges"), e => e < col("pred"))))
      .groupBy(col("era"), col("bkt")).count()
      .agg(max("count")).as[Long].head()
    assert(maxGroup <= 1000 / 4, s"bucket groups too coarse: $maxGroup")
  }

  test("managed pair's cleanup unpersists the shared base; answers survive it") {
    // the pair form persists its bucketed base (four consumers) into
    // the caller's QueryScope; closing the scope must release that
    // cache entry, and a re-materialization afterwards must still
    // agree (bucketing is a pure function of values + frozen literals,
    // so the recompute path is consistent by construction)
    val df = fixture
    val before = spark.sparkContext.getPersistentRDDs.size
    val (ra, rb, gotA, gotB) = QueryScope.run {
      val (ra, rb) = EraRank.withRowNumberTwoPassPair(
        df, "rn", 4, col("era"),
        col("id"), Seq.empty, col("pred"), Seq(col("id")))
      val gotA = ra.orderBy(col("era"), col("id")).collect().toSeq
      val gotB = rb.orderBy(col("era"), col("id")).collect().toSeq
      assert(spark.sparkContext.getPersistentRDDs.size > before,
        "pair form should have persisted its shared base")
      (ra, rb, gotA, gotB)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "closing the scope must unpersist the shared base")
    assert(ra.orderBy(col("era"), col("id")).collect().toSeq == gotA)
    assert(rb.orderBy(col("era"), col("id")).collect().toSeq == gotB)
  }
}
