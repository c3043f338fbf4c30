package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.StreamPack

/** A stream drain forks no `readlink` on its checkpoint: without
  * `libhadoop`, Spark's default `FileContext` checkpoint manager runs
  * `readlink` twice per rename as a shell process, 192 of them per
  * `q_stream_dedup` drain at any scale factor. [[graft.streaming.EventStream.drain]]
  * pins the `FileSystem` manager instead, and restores the caller's
  * conf, that key included, when it returns. */
class StreamForkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The commands of the processes the JVM starts while `body` runs,
    * as JFR `jdk.ProcessStart` events record them. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val file = Files.createTempFile("graft_fork_spec", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  test("q_stream_dedup drain forks no readlink on its checkpoint and keeps the caller's conf") {
    val before = spark.conf.getAll
    val started = processesStarted {
      assert(StreamPack.qStreamDedup(spark, TestSpark.sf).count() > 0)
      // the recorder's own witness: a process started here must show up
      new ProcessBuilder("true").start().waitFor()
    }
    assert(started.exists(_.startsWith("true")), started)
    val readlinks = started.filter(c => c.contains("readlink") && c.contains("graft_stream_ckpt"))
    assert(readlinks.isEmpty, s"${readlinks.size} readlink forks, e.g. ${readlinks.take(3)}")
    assert(spark.conf.getAll == before)
  }
}
