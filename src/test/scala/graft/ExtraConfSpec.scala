package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ExtraConf

/** The tool mains' `SPARK_GRAFT_EXTRA_CONF` parser. */
class ExtraConfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a token without '=' fails with a named error before any pair is set") {
    val key = "spark.graft.extraConfSpec.probe"
    val e = intercept[RuntimeException] {
      ExtraConf.applyTo(spark, Some(s"$key=1; broken ;"))
    }
    assert(e.getMessage == "SPARK_GRAFT_EXTRA_CONF entry without '=': 'broken'")
    assert(spark.conf.getOption(key).isEmpty)
  }
}
