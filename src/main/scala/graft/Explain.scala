package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection harness: prints the formatted physical plan of the
  * named queries (or all with oracle entries) so pushdown/broadcast/
  * codegen can be audited. Usage: runMain graft.Explain [names...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the TimeQ A/B hook: lets a plan audit force a dispatcher branch
    // (e.g. the bucketed percentile) without code edits
    graft.tools.ExtraConf.applyTo(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
