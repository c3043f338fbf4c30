package graft

import java.sql.Timestamp

import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream
import graft.streaming.EventStream.{CheckpointManager, RocksDb, drain, withConf}

/** The one stream drain undoes everything it sets up — the pinned
  * start-time conf, the horizon listener, the checkpoint dir, the
  * query — for every sink, whether the drain succeeds, `start()`
  * throws, or a micro-batch fails. */
class StreamDrainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Partitions = "spark.sql.shuffle.partitions"
  private val Provider = RocksDb._1

  private def ts(minute: Int): Timestamp =
    new Timestamp(1704067200000L + minute * 60000L) // 2024-01-01T00:00Z + minute

  /** (id, ts) rows as a stream; `fail` makes its first batch throw. */
  private def events(minutes: Seq[Int], fail: Boolean = false): DataFrame = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Timestamp)]
    in.addData(minutes.map(m => (m.toLong, ts(m))): _*)
    val df = in.toDF().toDF("id", "ts")
    if (fail) df.filter(assert_true(col("id") < 0).isNull) else df
  }

  private def counts(df: DataFrame): DataFrame = df.groupBy(col("id")).count()

  /** Runs `body` with a fresh checkpoint base and a drain partition
    * count unlike the session's, then checks that the caller's conf,
    * listeners and checkpoint base are as before and no query runs. */
  private def leavesNoTrace(body: => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_drain_spec")
    def state() = (spark.conf.getAll, spark.streams.listListeners().length)
    val before = state()
    try {
      withConf(spark, "spark.graft.stream.checkpointDir" -> base.toString,
        "spark.graft.stream.drainPartitions" -> "2")(body)
      assert(state() == before)
      assert(spark.streams.active.isEmpty)
      assert(base.toFile.list().isEmpty)
    } finally TempDirs.deleteRecursively(base)
  }

  /** Success, a start failure (complete mode on a non-aggregate) and a
    * mid-stream failure through one sink; `ok` checks the success. */
  private def threeWays(run: (DataFrame, String) => Unit)(ok: => Unit): Unit = {
    leavesNoTrace { run(counts(events(Seq(0, 1, 1))), "complete"); ok }
    leavesNoTrace {
      intercept[AnalysisException](run(events(Seq(0)), "complete"))
    }
    leavesNoTrace {
      intercept[StreamingQueryException](
        run(counts(events(Seq(0), fail = true)), "complete"))
    }
  }

  test("memory drain leaves no trace after success, start failure and batch failure") {
    val name = "graft_drain_spec_mem"
    threeWays((df, mode) =>
      drain(spark, df, mode, _.format("memory").queryName(name), Seq(RocksDb))) {
      assert(spark.table(name).count() == 2)
    }
  }

  test("noop drain leaves no trace after success, start failure and batch failure") {
    threeWays((df, mode) => drain(spark, df, mode, _.format("noop"), Seq(RocksDb)))(())
  }

  test("foreachBatch drain pins its conf for the query and leaves no trace") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, String)]()
    threeWays((df, mode) => drain(spark, df, mode, _.foreachBatch {
      (batch: Dataset[Row], _: Long) =>
        seen.add((batch.count(), spark.conf.get(Partitions), spark.conf.get(Provider),
          spark.conf.get(CheckpointManager._1)))
        ()
    }, Seq(RocksDb))) {
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq == Seq((2L, "2", RocksDb._2, CheckpointManager._2)))
    }
  }

  test("horizon drain waits for the final watermark and leaves no trace") {
    val name = "graft_drain_spec_horizon"
    // append-mode event-time windows close only in the no-data batch
    // that runs with the final watermark (the latest event, delay 0)
    def windows(df: DataFrame): DataFrame = df.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute")).count()
    def run(df: DataFrame, mode: String): Unit =
      drain(spark, df, mode, _.format("memory").queryName(name), Seq(RocksDb),
        horizonMs = Some(ts(5).getTime))
    leavesNoTrace {
      run(windows(events(Seq(0, 1, 5))), "append")
      assert(spark.table(name).count() == 2)
    }
    leavesNoTrace(intercept[AnalysisException](run(events(Seq(0)), "complete")))
    leavesNoTrace(intercept[StreamingQueryException](
      run(windows(events(Seq(0), fail = true)), "append")))
  }

  test("withConf restores set and unset keys when setting or the body throws") {
    val set = "spark.graft.spec.set"
    val unset = "spark.graft.spec.unset"
    spark.conf.set(set, "before")
    try {
      intercept[IllegalStateException](withConf(spark, set -> "in", unset -> "in") {
        assert(spark.conf.get(set) == "in" && spark.conf.get(unset) == "in")
        throw new IllegalStateException("body")
      })
      assert(spark.conf.get(set) == "before" && spark.conf.getOption(unset).isEmpty)
      // a static conf cannot be set at runtime: the pairs set before it
      // are restored all the same
      intercept[AnalysisException](withConf(spark, unset -> "in",
        "spark.sql.warehouse.dir" -> "/nowhere")(()))
      assert(spark.conf.getOption(unset).isEmpty)
      // a key with a Spark default that was unset is unset again, not
      // set to its default
      assert(!spark.conf.getAll.contains(Provider))
      withConf(spark, RocksDb)(assert(spark.conf.get(Provider) == RocksDb._2))
      assert(!spark.conf.getAll.contains(Provider))
    } finally spark.conf.unset(set)
  }
}
