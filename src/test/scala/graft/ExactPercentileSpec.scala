package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExactPercentile
import graft.streaming.EventStream.withConf

/** The relational exact percentile must be BIT-IDENTICAL to the
  * `percentile` builtin it replaces — no rounding tolerance: the
  * interpolation replays PercentileBase.getPercentile's exact FP op
  * order, so any divergence is a bug, not noise. */
class ExactPercentileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Ceiling 0: every input takes the bucketed cum-count. */
  private val ForceBucketed = "spark.graft.percentile.onePassMaxBytes" -> "0"

  private def builtin(df: org.apache.spark.sql.DataFrame, g: String,
                      v: String, ps: Seq[(String, Double)]) =
    df.groupBy(col(g)).agg(
      ps.map { case (n, p) => expr(s"percentile($v, $p)").as(n) }.head,
      ps.map { case (n, p) => expr(s"percentile($v, $p)").as(n) }.tail
        :+ count(lit(1)).as("n_total"): _*)

  private def compare(df: org.apache.spark.sql.DataFrame, g: String,
                      v: String, ps: Seq[(String, Double)]): Unit = {
    val exp = builtin(df, g, v, ps).orderBy(col(g)).collect().toSeq
    val got = ExactPercentile.grouped(df, Seq(g), v, ps)
      .orderBy(col(g)).collect().toSeq
    assert(got.map(_.toSeq) == exp.map(_.toSeq))
    // the size-dispatched bucketed form (ceiling 0 forces it) must be
    // bit-identical too — the dispatch is a pure plan choice
    val bucketed = withConf(spark, ForceBucketed) {
      ExactPercentile.grouped(df, Seq(g), v, ps).orderBy(col(g)).collect().toSeq
    }
    assert(bucketed.map(_.toSeq) == exp.map(_.toSeq))
  }

  test("grouped quartiles on orders are bit-identical to the builtin") {
    compare(Tables.orders(spark, TestSpark.sf), "o_orderpriority",
      "o_totalprice",
      Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p99", 0.99)))
  }

  test("heavy ties, nulls, all-null group, single-row group") {
    val df = (
      Seq.tabulate(60)(i => ("ties", Some((i % 3).toDouble))) ++
      Seq(("nulls", None), ("nulls", Some(5.0)), ("nulls", Some(7.0)),
        ("nulls", None)) ++
      Seq(("allnull", None), ("allnull", None)) ++
      Seq(("one", Some(42.0)))
    ).toDF("g", "v")
    compare(df, "g", "v",
      Seq(("p05", 0.05), ("p50", 0.5), ("p90", 0.9), ("p100", 1.0), ("p0", 0.0)))
  }

  test("integer-typed values match the builtin's double promotion") {
    val df = Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_returnflag").as("g"), col("l_suppkey").as("v"))
    compare(df, "g", "v", Seq(("p10", 0.1), ("p77", 0.77)))
  }

  test("property: random grouped data with duplicates/nulls matches the builtin") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // coarse value grid (choose(1,9)/2) forces heavy duplication; the
    // None arm injects nulls; group count 1-3 exercises tiny groups
    val gen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(1, 3),
      Gen.option(Gen.choose(1, 9).map(_ / 2.0))))
    val pcts = Seq(("p01", 0.01), ("p33", 1.0 / 3), ("p50", 0.5),
      ("p66", 2.0 / 3), ("p99", 0.99))
    for (i <- 0 until 12;
         rows <- gen.apply(Gen.Parameters.default, Seed(1300L + i))) {
      val df = rows.map { case (g, v) => (s"g$g", v) }.toDF("g", "v")
      compare(df, "g", "v", pcts)
    }
  }

  test("EMPTY input: grouped yields no rows; ungrouped yields the builtin's one null row") {
    val empty = spark.range(0)
      .selectExpr("CAST(id AS STRING) AS g", "CAST(id AS DOUBLE) AS v")
    // grouped: both forms agree on zero rows
    assert(ExactPercentile.grouped(empty, Seq("g"), "v",
      Seq(("p50", 0.5))).count() == 0)
    assert(builtin(empty, "g", "v", Seq(("p50", 0.5))).count() == 0)
    // ungrouped: a GLOBAL aggregate returns one row even on empty
    // input — the seed-join branch must reproduce it exactly
    val exp = empty.agg(expr("percentile(v, 0.5)").as("p50"),
      count(lit(1)).as("n_total")).collect().toSeq
    val got = ExactPercentile.grouped(empty, Seq.empty, "v",
      Seq(("p50", 0.5))).collect().toSeq
    assert(got.map(_.toSeq) == exp.map(_.toSeq))
    assert(got.head.toSeq == Seq(null, 0L))
  }

  test("ungrouped (global) percentiles and n_total parity") {
    val ev = Tables.events(spark, TestSpark.sf)
    val exp = ev.agg(
      expr("percentile(value, 0.5)").as("med"),
      expr("percentile(value, 0.9)").as("p90"),
      count(lit(1)).as("n_total")).collect().head
    val got = ExactPercentile.grouped(ev, Seq.empty, "value",
      Seq(("med", 0.5), ("p90", 0.9))).collect().head
    assert(got.toSeq == exp.toSeq)
    val bkt = withConf(spark, ForceBucketed) {
      ExactPercentile.grouped(ev, Seq.empty, "value",
        Seq(("med", 0.5), ("p90", 0.9))).collect().head
    }
    assert(bkt.toSeq == exp.toSeq)
  }

  test("dispatch: fixture inputs keep the one-pass window; ceiling 0 removes the per-group running window") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    val ps = Seq(("lo", 0.05), ("hi", 0.95))
    // below the ceiling (fixture scale): the per-group running window
    // is the plan — and no bucketed machinery
    val onePass = ExactPercentile.grouped(li, Seq("l_returnflag"),
      "l_extendedprice", ps)
    assert(!onePass.queryExecution.analyzed.toString.contains("graft_bkt"))
    // forced bucketed: the cum-count window partitions by
    // (group, bucket), never by the group alone
    val plan = withConf(spark, ForceBucketed) {
      ExactPercentile.grouped(li, Seq("l_returnflag"), "l_extendedprice", ps)
        .queryExecution.analyzed.toString
    }
    assert(plan.contains("graft_bkt"))
    assert(!plan.matches("(?s).*windowspecdefinition\\(l_returnflag[^,]*, graft_v.*"),
      "a running window still partitions by the group alone")
  }
}
