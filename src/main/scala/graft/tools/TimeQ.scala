package graft.tools

/** Per-query timing harness for optimization work: runs the named
  * queries through the same noop-sink protocol as graft.Bench (same
  * session config and warm-up, each sample in its own QueryScope),
  * printing every sample plus the min — so a candidate change can be
  * A/B-measured in seconds instead of a full-battery run. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=4 \
  *     sbt "runMain graft.tools.TimeQ <reps> ALL|name [name...]"
  * The three shared silver-table builds are always timed first and
  * printed as `_shared_pairs`, `_shared_knn` and `_shared_adc`. */
object TimeQ {
  /** The names in `names` that are not queries, in order. The shared
    * builds' entry names are among them: they are always timed. */
  def unknownNames(names: Seq[String]): Seq[String] =
    names.filterNot(graft.SparkEntry.queries.contains)

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names =
      if (args.drop(1).toSeq == Seq("ALL"))
        graft.SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    val unknown = unknownNames(names)
    if (unknown.nonEmpty) {
      System.err.println("usage: graft.tools.TimeQ <reps> ALL|name [name...]" +
        s" (unknown: ${unknown.mkString(",")}; the shared builds are always timed)")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.create(graft.Bench.sessionConf(localDir = None))
    spark.sparkContext.setLogLevel("ERROR")
    ExtraConf.applyTo(spark).foreach { case (k, v) => println(s"[timeq] conf $k=$v") }
    graft.Bench.warmUp(spark, sfDir)
    // Work metrics per query execution. Job/stage/task counts are
    // deterministic, immune to host noise (wall time on a shared host
    // swings 2-10x; task counts do not). Shuffle bytes are NOT: with
    // the same plan and counts, q_permute_era read 25,352, 25,356 and
    // 25,358 KB in some runs at sf0.1 and 25,117 KB in others, so a
    // byte shift is a work change only if it beats that spread.
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleB = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
          shuffleB.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    def snap(): (Long, Long, Long, Long) =
      (jobs.get(), stages.get(), tasks.get(), shuffleB.get())
    // the shared silver-table builds, instrumented like any query (the
    // bench bills them as their own entries, so their work metrics are
    // first-class optimization targets — r18)
    def timedBuild(name: String)(build: => Unit): Unit = {
      org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
      val before = snap()
      val sec = graft.QueryScope.run {
        val t0 = System.nanoTime()
        build
        (System.nanoTime() - t0) / 1e9
      }
      org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
      val after = snap()
      println(f"[timeq] $name%-28s min=$sec%.3f jobs=${after._1 - before._1} " +
        f"stages=${after._2 - before._2} tasks=${after._3 - before._3} " +
        f"shufKB=${(after._4 - before._4) / 1024} samples=$sec%.3f")
    }
    timedBuild("_shared_pairs") {
      graft.queries.TextPack.prepareShared(spark, sfDir) }
    timedBuild("_shared_knn") {
      graft.queries.SimilarityPack.prepareSharedKnn(spark, sfDir) }
    timedBuild("_shared_adc") {
      graft.queries.SimilarityPack.prepareSharedAdc(spark, sfDir) }
    // SWEEP-interleaved sampling (the Bench protocol): consecutive
    // samples of one query land in the same host-contention window;
    // spacing a query's samples a full sweep apart lets min-of-k
    // reject windows shorter than a sweep
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val work = scala.collection.mutable.Map[String, (Long, Long, Long, Long)]()
    (1 to reps).foreach { _ =>
      names.foreach { n =>
        val fn = graft.SparkEntry.queries(n)
        // deterministic listener barrier BEFORE the snapshot too, so a
        // prior query's straggler events can't land inside this delta
        org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
        val before = snap()
        val t0 = System.nanoTime()
        graft.QueryScope.run(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
        samples(n) = samples(n) :+ (System.nanoTime() - t0) / 1e9
        // drain the async bus deterministically (was a fixed
        // Thread.sleep, which let late stage events bleed across
        // queries — ADVICE r17)
        org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
        val after = snap()
        val delta = (after._1 - before._1, after._2 - before._2,
          after._3 - before._3, after._4 - before._4)
        // keep the MINIMUM per field across reps, not the last rep:
        // contamination (stray maintenance jobs, evicted-cache
        // recomputes) only ever ADDS work, so min is the clean count
        work(n) = work.get(n).fold(delta)(p =>
          (math.min(p._1, delta._1), math.min(p._2, delta._2),
            math.min(p._3, delta._3), math.min(p._4, delta._4)))
      }
    }
    names.foreach { n =>
      val ts = samples(n)
      val (j, st, tk, sb) = work(n)
      println(f"[timeq] $n%-28s min=${ts.min}%.3f jobs=$j stages=$st " +
        f"tasks=$tk shufKB=${sb / 1024} samples=" +
        ts.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}
