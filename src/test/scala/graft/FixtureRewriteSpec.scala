package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A fixture rewritten in place must not be served a copy derived from
  * the old rows. The table is addressed as a `file:` URI, the path form
  * of a remote filesystem: the java.io stat sees nothing there, so only
  * a Hadoop-FS fingerprint notices the rewrite. */
class FixtureRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def direct(path: String) =
    spark.read.parquet(path)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal").cast("double")), 2).as("sum_bal"))
      .orderBy(col("c_mktsegment"))
      .collect().toSeq

  test("q_csv_roundtrip re-materializes after a file: source is rewritten") {
    val dir = TempDirs.create("graft_rewrite_fixture")
    val d = "file:" + dir.toAbsolutePath
    val table = s"$d/customer.parquet"
    val orig = spark.read.parquet(TestSpark.sf + "/customer.parquet")
    orig.write.parquet(table)
    val first = queries.CorePack.qCsvRoundtrip(spark, d).collect().toSeq
    assert(first == direct(table))

    orig.filter(col("c_custkey") % 3 =!= 0).write.mode("overwrite").parquet(table)
    val second = queries.CorePack.qCsvRoundtrip(spark, d).collect().toSeq
    assert(second != first)
    assert(second == direct(table))
  }
}
