package graft.tools

import org.apache.spark.sql.SparkSession

/** The A/B hook of the tool mains (`TimeQ`, `Explain`): the
  * `SPARK_GRAFT_EXTRA_CONF` env var holds semicolon-separated `k=v`
  * runtime SQL confs, e.g. to force a dispatcher branch without a code
  * edit. */
object ExtraConf {

  /** Sets every `k=v` pair of `spec` on the session conf and returns
    * the pairs in order. Empty tokens (a trailing semicolon) are
    * skipped; a token without '=' fails with a named error, before any
    * pair is set, instead of an opaque MatchError. */
  def applyTo(spark: SparkSession,
              spec: Option[String] = sys.env.get("SPARK_GRAFT_EXTRA_CONF"))
      : Seq[(String, String)] = {
    val pairs = spec.toSeq.flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k, v)
          case _ => sys.error(s"SPARK_GRAFT_EXTRA_CONF entry without '=': '$kv'")
        }
      }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    pairs
  }
}
