package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.StreamPack
import graft.streaming.EventStream
import graft.streaming.EventStream.{toMemory, toNoop}

/** The scale probe's path: every declared stream drains through
  * [[EventStream.toNoop]] to completion and hands back an empty frame
  * with the schema [[EventStream.toMemory]] returns — except the
  * warm-start migration, whose frame still carries the batch-closed
  * half, so the probe's noop batch write executes it. */
class StreamNoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  StreamPack.streams.toSeq.sortBy(_._1).foreach { case (name, stream) =>
    test(s"$name drains through the noop sink with the memory sink's schema") {
      val noop = stream(spark, TestSpark.sf, toNoop)
      assert(noop.schema == stream(spark, TestSpark.sf, toMemory).schema)
      val want = if (name != "q_stream_warm_sessions") 0L
        else EventStream.warmHalves(spark, TestSpark.sf).get._1.count()
      assert(noop.count() == want)
      if (name == "q_stream_warm_sessions") assert(want > 0)
    }
  }
}
