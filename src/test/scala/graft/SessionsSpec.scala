package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Sessions` replaced the mains' hand-copied session builders:
  * the conf `Bench` and `Verify` resolve must be exactly the pairs
  * their builders set before, in every env branch. Pure pair lists —
  * no session is built. */
class SessionsSpec extends AnyFunSuite {

  private def pinned(got: Seq[(String, String)], want: Seq[(String, String)]): Unit = {
    assert(got.map(_._1).distinct.size == got.size, s"duplicate key in $got")
    assert(got.toMap == want.toMap)
  }

  test("Bench resolves the pre-factory session conf in every env branch") {
    for (cpus <- Seq("4", "32"); shm <- Seq(true, false);
         localDir <- Seq(None, Some("/data/spark-local"))) {
      val want = Seq(
        "spark.master" -> s"local[$cpus]",
        "spark.sql.shuffle.partitions" -> cpus,
        "spark.ui.enabled" -> "false",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.adaptive.enabled" -> "true") ++
        (if (shm) Seq("spark.graft.stream.checkpointDir" -> "/dev/shm/graft_ckpt")
         else Nil) ++
        localDir.map("spark.local.dir" -> _) ++
        Seq("spark.sql.codegen.cache.maxEntries" -> "5000")
      pinned(Bench.sessionConf(cpus, shm, localDir), want)
    }
  }

  test("Verify resolves the pre-factory session conf") {
    for (cpus <- Seq("4", "8"))
      pinned(Verify.sessionConf(cpus), Seq(
        "spark.master" -> s"local[$cpus]",
        "spark.sql.shuffle.partitions" -> cpus,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.adaptive.enabled" -> "true"))
  }
}
