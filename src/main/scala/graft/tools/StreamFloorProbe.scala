package graft.tools

/** Throwaway measurement harness for the streaming bench floor: times
  * repeated no-op drains of the simplest stateful stream under
  * candidate knobs, phase by phase (start / processAllAvailable /
  * stop), to find where the ~1 s per-entry floor lives. */
object StreamFloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.create(graft.Sessions.conf())
    spark.sparkContext.setLogLevel("ERROR")

    def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

    def onceNoop(tag: String, ckptBase: String, parts: String = "4"): Unit = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val df = graft.streaming.EventStream.windowedAgg(spark, sfDir)
        val ckpt = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(ckptBase), "floor_ckpt")
        val tS = System.nanoTime()
        val q = df.writeStream.outputMode("complete").format("noop")
          .option("checkpointLocation", ckpt.toString).start()
        val startMs = ms(tS)
        val tP = System.nanoTime()
        q.processAllAvailable()
        val paaMs = ms(tP)
        val tE = System.nanoTime()
        q.stop()
        val stopMs = ms(tE)
        val batchMs = q.recentProgress.map(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L))
        val detail = q.recentProgress.map { p =>
          import scala.jdk.CollectionConverters._
          p.durationMs.asScala.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }.mkString(" ")
        }
        println(s"[floor] $tag start=${startMs}ms paa=${paaMs}ms stop=${stopMs}ms " +
          s"batches=${q.recentProgress.length} batchMs=${batchMs.mkString(",")} :: ${detail.mkString(" | ")}")
        graft.TempDirs.deleteRecursively(ckpt)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

    println("[floor] === /tmp checkpoints ===")
    (1 to 4).foreach(i => onceNoop(s"tmp#$i", "/tmp"))
    println("[floor] === /dev/shm checkpoints ===")
    (1 to 4).foreach(i => onceNoop(s"shm#$i", "/dev/shm"))
    println("[floor] === asyncProgressTracking? unsafe; skip ===")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    println("[floor] === noDataMicroBatches off (complete mode, result unaffected?) ===")
    (1 to 3).foreach(i => onceNoop(s"nodata-off#$i", "/tmp"))
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    println("[floor] === partition sweep on shm ===")
    Seq("2", "4", "8", "16", "32").foreach { p =>
      (1 to 3).foreach(i => onceNoop(s"parts=$p#$i", "/dev/shm", p))
    }
    spark.stop()
  }
}
