package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EraRank

/** W1 semantics: pandas rank(pct=True, method="first") — ties broken by
  * appearance order (here: explicit id), rank = row_number / era count.
  * NOT SQL percent_rank. Hand-computed fixture per FIXTURES.md §A. */
class EraRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pct-rank method=first: ties split by id, ranks are i/n") {
    // era 1: preds 10, 20, 20, 30 -> ranks .25, .50, .75, 1.0 (tie at 20
    // split by id order); era 2: single row -> rank 1.0
    val df = Seq(
      (1, 1L, 10.0), (1, 2L, 20.0), (1, 3L, 20.0), (1, 4L, 30.0),
      (2, 5L, 7.0)
    ).toDF("era", "id", "pred")
    val got = EraRank.withPctRankFirst(df, "r", Seq(col("era")), col("pred"), col("id"))
      .orderBy("id").select("r").as[Double].collect()
    assert(got.toSeq == Seq(0.25, 0.5, 0.75, 1.0, 1.0))
  }

  test("spearman: perfectly rank-correlated data gives corr 1") {
    val df = (1L to 20L).map(i => (i % 4, i, i.toDouble, i.toDouble * 2))
      .toDF("era", "id", "pred", "y")
    val s = EraRank.spearmanByEra(df, col("era"), col("pred"), col("y"), col("id"))
      .as[Double].head()
    // y is monotone in pred within every era; rank correlates highly
    assert(s > 0.9)
  }

  test("payout clip saturates at [-1, 1]") {
    val df = Seq(-1.0, -0.1, 0.0, 0.1, 1.0).toDF("s")
    val got = df.select(EraRank.payoutClip(col("s")).as("p"))
      .as[Double].collect().toSeq
    assert(got == Seq(-1.0, -0.5, 0.0, 0.5, 1.0))
  }
}
