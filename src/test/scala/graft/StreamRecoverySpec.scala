package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Failure-recovery contract of the streaming surface: a stateful
  * watermarked aggregation stopped mid-ingest and RESTARTED from its
  * checkpoint must produce byte-identical output to the same query
  * run uninterrupted — the exactly-once story a 100 TB deployment
  * rests on (executor loss, cluster restart, backfill resume). The
  * file source's checkpoint records which input files each batch
  * committed, so the restarted query must neither re-emit phase-1
  * state nor re-read phase-1 files; windows whose rows straddle the
  * stop point verify that the STATE (not just source offsets) was
  * recovered. `maxFilesPerTrigger=1` + `Trigger.AvailableNow` gives
  * both runs the same batch/watermark sequence, making the emitted
  * append-mode window set deterministic. */
class StreamRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  /** The plan under test: 6-hour tumbling counts + exact integer
    * cent-sums (no float merge-order sensitivity), 1-hour watermark,
    * APPEND mode — only watermark-finalized windows are emitted, the
    * shape a parquet sink requires. */
  private def windowAgg(srcDir: String) = {
    val schema = spark.read.parquet(s"${TestSpark.sf}/events.parquet").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .select(col("ts").cast("timestamp").as("ts"), col("value"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n"),
        sum((col("value") * 100).cast("long")).as("sum_cents"))
      .select(col("w.start").cast("long").as("wstart"), col("n"),
        col("sum_cents"))
  }

  private def runAvailableNow(srcDir: String, outDir: String,
                              ckDir: String): Unit = {
    val q = windowAgg(srcDir).writeStream
      .outputMode("append").format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
  }

  test("restart from checkpoint equals the uninterrupted run exactly") {
    // four TIME-ORDERED quarter files of the fixture's events — the
    // unit of micro-batch ingestion under maxFilesPerTrigger=1. The
    // split must follow event time (as arriving log files do):
    // scattering timestamps randomly across files would park the
    // watermark near the end of the timeline after the first file
    // and late-drop nearly everything after it, leaving the output
    // hostage to file-ordering tie-breaks instead of testing
    // recovery.
    val ev = spark.read.parquet(s"${TestSpark.sf}/events.parquet")
    val evUs = unix_micros(col("ts").cast("timestamp"))
    val bounds = ev.select(
      expr("percentile(unix_micros(cast(ts AS timestamp)), array(0.25, 0.5, 0.75))").as("q"))
      .head().getSeq[Double](0).map(_.toLong)
    val cuts = Seq(Long.MinValue) ++ bounds ++ Seq(Long.MaxValue)
    val parts = freshDir("graft_recovery_parts_")
    val files: Seq[Path] = (0 until 4).map { i =>
      val qdir = parts.resolve(s"q$i")
      ev.filter(evUs >= cuts(i) && evUs < cuts(i + 1))
        .coalesce(1).write.mode("overwrite").parquet(qdir.toString)
      Files.list(qdir).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).head
    }

    // pinned, strictly increasing mtimes per file INDEX so both
    // source dirs list the files in the identical order (the file
    // source orders by modification time; copy-loop mtimes can tie)
    def copyTo(dir: Path, fs: Seq[(Path, Int)]): Unit = fs.foreach {
      case (f, i) =>
        val t = dir.resolve(s"part-$i.parquet")
        Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(t,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000L))
    }

    // interrupted run: two files → stop → two more files → restart
    // from the SAME checkpoint (a fresh query instance must rebuild
    // its window state and source offsets from the checkpoint alone)
    val srcA = freshDir("graft_recovery_srcA_")
    val outA = freshDir("graft_recovery_outA_").toString
    val ckA = freshDir("graft_recovery_ckA_").toString
    copyTo(srcA, files.take(2).zipWithIndex)
    runAvailableNow(srcA.toString, outA, ckA)
    copyTo(srcA, files.drop(2).zipWithIndex.map { case (f, i) => (f, i + 2) })
    runAvailableNow(srcA.toString, outA, ckA)

    // reference run: same four files, uninterrupted, fresh checkpoint
    val srcB = freshDir("graft_recovery_srcB_")
    val outB = freshDir("graft_recovery_outB_").toString
    val ckB = freshDir("graft_recovery_ckB_").toString
    copyTo(srcB, files.zipWithIndex)
    runAvailableNow(srcB.toString, outB, ckB)

    // the parquet sink's _spark_metadata log makes the read-back show
    // exactly the committed files — a torn restart would surface here
    val a = spark.read.parquet(outA).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = spark.read.parquet(outB).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a.nonEmpty)
    assert(a == b)

    // and a window straddling the stop point must have merged state
    // from both phases: its count must exceed what phase 1 alone saw
    val phase1 = spark.read.parquet(files.take(2).map(_.toString): _*)
      .select(col("ts").cast("timestamp").as("ts"))
    val full = ev.select(col("ts").cast("timestamp").as("ts"))
    val straddled = full
      .groupBy(window(col("ts"), "6 hours")).agg(count(lit(1)).as("n_full"))
      .join(phase1.groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n_p1")), Seq("window"))
      .filter(col("n_full") > col("n_p1"))
    assert(straddled.count() > 0,
      "fixture must contain windows straddling the stop point")
  }

  test("transformWithState restart: typed states and timers rebuild from RocksDB") {
    // the same interrupted-vs-uninterrupted contract on the newest
    // machinery: a fresh query instance must rebuild the named
    // ValueStates (open intervals + armed-timer mirror) AND the
    // registered event-time timers from the RocksDB checkpoint alone.
    // The stop lands mid-timeline, so sessions straddling it close
    // correctly only if the recovered state carries their first half.
    import graft.streaming.EventStream

    val ev = spark.read.parquet(s"${TestSpark.sf}/events.parquet")
    val evUs = unix_micros(col("ts").cast("timestamp"))
    val bounds = ev.select(
      expr("percentile(unix_micros(cast(ts AS timestamp)), array(0.25, 0.5, 0.75))").as("q"))
      .head().getSeq[Double](0).map(_.toLong)
    val cuts = Seq(Long.MinValue) ++ bounds ++ Seq(Long.MaxValue)
    val parts = freshDir("graft_tws_rec_parts_")
    val files: Seq[Path] = (0 until 4).map { i =>
      val qdir = parts.resolve(s"q$i")
      ev.filter(evUs >= cuts(i) && evUs < cuts(i + 1))
        .coalesce(1).write.mode("overwrite").parquet(qdir.toString)
      Files.list(qdir).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).head
    }
    def copyTo(dir: Path, fs: Seq[(Path, Int)]): Unit = fs.foreach {
      case (f, i) =>
        val t = dir.resolve(s"part-$i.parquet")
        Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(t,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000L))
    }

    val schema = ev.schema
    def sessions(srcDir: String) =
      EventStream.closedSessionsTws(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
          .select(col("user_id"), col("ts").cast("timestamp").as("ts")))
        .toDF()
    def runOnce(srcDir: String, outDir: String, ckDir: String): Unit =
      EventStream.withConf(spark, EventStream.RocksDb) {
        val q = sessions(srcDir).writeStream
          .outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckDir)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }

    val srcA = freshDir("graft_tws_rec_srcA_")
    val outA = freshDir("graft_tws_rec_outA_").toString
    val ckA = freshDir("graft_tws_rec_ckA_").toString
    copyTo(srcA, files.take(2).zipWithIndex)
    runOnce(srcA.toString, outA, ckA)
    copyTo(srcA, files.drop(2).zipWithIndex.map { case (f, i) => (f, i + 2) })
    runOnce(srcA.toString, outA, ckA)

    val srcB = freshDir("graft_tws_rec_srcB_")
    val outB = freshDir("graft_tws_rec_outB_").toString
    val ckB = freshDir("graft_tws_rec_ckB_").toString
    copyTo(srcB, files.zipWithIndex)
    runOnce(srcB.toString, outB, ckB)

    val a = spark.read.parquet(outA).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = spark.read.parquet(outB).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a.nonEmpty)
    assert(a == b)
  }
}
