package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EraRank, ExactPercentile}
import graft.streaming.EventStream.withConf

/** A null group key is one group to the bucketed rank kernel, as it is
  * to the one-pass window's partitionBy: the one-pass/two-pass dispatch
  * never changes a row count on data with null keys. */
class EraRankNullKeySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("null group keys keep their rows in both bucketed forms") {
    val df = Seq((Option.empty[Long], 1L, 1.0), (None, 2L, 4.0), (Some(1L), 3L, 2.0))
      .toDF("era", "id", "pred")
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.select("era", "id", "pred", "r").orderBy("id").collect().toSeq
    assert(rows(EraRank.withPctRankFirstTwoPass(df, "r", 32, col("era"), col("pred"), col("id")))
      == rows(EraRank.withPctRankFirst(df, "r", Seq(col("era")), col("pred"), col("id"))))

    val builtin = df.groupBy("era").agg(expr("percentile(pred, 0.5)").as("p50"))
      .filter(col("era").isNull).select("p50").as[Double].collect().toSeq
    val bucketed = withConf(spark, "spark.graft.percentile.onePassMaxBytes" -> "0") {
      ExactPercentile.grouped(df, Seq("era"), "pred", Seq("p50" -> 0.5))
        .filter(col("era").isNull).select("p50").as[Double].collect().toSeq
    }
    assert(builtin == Seq(2.5))
    assert(bucketed == builtin)
  }
}
