package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one per suite via
  * lazy val; sharing across suites is fine since config is identical). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.create(
      Sessions.conf(cpus = "4") :+ ("spark.app.name" -> "graft-test"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
