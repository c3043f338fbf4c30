package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EraRank, Folds}
import graft.queries.EraPack
import graft.streaming.EventStream.withConf

/** The r14 era-size-adaptive rank dispatch: maxEraRows measures right,
  * the session ceiling (`spark.graft.rank.onePassMaxEraRows`) picks the
  * one-pass form for task-sized eras and the two-pass form past it,
  * both branches stay row-identical, and the q_permute_era query pair
  * pins one branch each.
  */
class FoldsDispatchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Ceiling = "spark.graft.rank.onePassMaxEraRows"

  private def synth(rowsPerEra: Seq[Int]) =
    rowsPerEra.zipWithIndex.flatMap { case (n, e) =>
      (0 until n).map(i => (e.toLong, e.toLong * 100000 + i, (i * 37 % n).toDouble))
    }.toDF("era", "id", "v")

  test("maxEraRows measures the largest era (and 0 on empty input)") {
    val df = synth(Seq(5, 17, 9))
    assert(EraRank.maxEraRows(df, col("era")) == 17L)
    assert(EraRank.maxEraRows(df.filter(lit(false)), col("era")) == 0L)
  }

  test("dispatch picks one-pass below the ceiling, two-pass above") {
    val df = synth(Seq(8, 12))
    // the two-pass plan is recognizable by its bucket column; the
    // one-pass never introduces it
    val below = withConf(spark, Ceiling -> "100") {
      EraRank.withPctRankFirstAdaptive(df, "r", col("era"), col("v"), Seq(col("id")))
    }
    assert(!below.queryExecution.analyzed.toString.contains("graft_bkt"))
    val above = withConf(spark, Ceiling -> "10") {
      EraRank.withPctRankFirstAdaptive(df, "r", col("era"), col("v"), Seq(col("id")))
    }
    assert(above.queryExecution.analyzed.toString.contains("graft_bkt"))
    // both branches emit identical values
    assert(below.except(above).count() == 0 && above.except(below).count() == 0)
  }

  test("session conf drives the default ceiling") {
    val df = synth(Seq(6, 20))
    val key = "spark.graft.rank.onePassMaxEraRows"
    val old = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "5")
      val got = EraRank.withPctRankFirstAdaptive(df, "r", col("era"),
        col("v"), Seq(col("id")))
      assert(got.queryExecution.analyzed.toString.contains("graft_bkt"))
      spark.conf.set(key, "1000")
      val got2 = EraRank.withPctRankFirstAdaptive(df, "r", col("era"),
        col("v"), Seq(col("id")))
      assert(!got2.queryExecution.analyzed.toString.contains("graft_bkt"))
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("adaptive permutation: both branches row-identical on a synthetic frame") {
    val df = synth(Seq(30, 45))
    val key = (col("id") * lit(2654435761L)) % lit(999999937L)
    val one = withConf(spark, Ceiling -> (Long.MaxValue >> 1).toString) {
      Folds.permuteWithinEraAdaptive(df, "v", "era", Seq("id"), key)
    }
    val two = withConf(spark, Ceiling -> "0") {
      Folds.permuteWithinEraAdaptive(df, "v", "era", Seq("id"), key)
    }
    assert(one.count() == df.count())
    assert(one.except(two).count() == 0 && two.except(one).count() == 0)
  }

  test("driver pair pins one dispatcher branch each") {
    // q_permute_era: default ceiling -> fixture-scale eras dispatch to
    // the one-pass window (no bucket column in the plan)
    val onePass = EraPack.qPermuteEra(spark, TestSpark.sf)
    assert(!onePass.queryExecution.analyzed.toString.contains("graft_bkt"))
    // q_permute_era_two_pass: the shared-pass two-pass form directly
    // (bucket pair columns present)
    val twoPass = EraPack.qPermuteEraTwoPass(spark, TestSpark.sf)
    assert(twoPass.queryExecution.analyzed.toString.contains("graft_bkt_a"))
  }
}
