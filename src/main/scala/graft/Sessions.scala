package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the engine's mains and tests: the
  * session conf every query assumes, plus each caller's own extras. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, read once (default 4): the local core count,
    * and the session's shuffle-partition count. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The engine's required session conf:
    *  - `local[cpus]`, one shuffle partition per core;
    *  - no UI; UTC session time zone; AQE on;
    *  - `parquet.nanosAsLong`, so a TIMESTAMP(NANOS) `events.ts`
    *    fixture reads as a long that [[Tables.events]] and
    *    `EventStream.eventsStream` normalize back to a timestamp. */
  def conf(cpus: String = cpus): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true")

  /** A session (or the running one) with exactly `pairs`. */
  def create(pairs: Seq[(String, String)]): SparkSession =
    pairs.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
