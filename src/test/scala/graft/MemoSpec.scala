package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The one cross-query memo's contract: at-most-once evaluation under
  * contention, builds that call the memo again, derived tables
  * re-materialized after an outside delete, the reader's own error for
  * a missing source, and a failed build retried. Every test uses fresh
  * tags, so no test sees another's entries. */
class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val source = TestSpark.sf + "/region.parquet"
  private def freshTag(): String = "spec_" + java.util.UUID.randomUUID

  test("16 barrier-started threads on one key run the build once") {
    val tag = freshTag()
    val runs = new AtomicInteger(0)
    val barrier = new CyclicBarrier(16)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = Seq.fill(16)(new Thread(() => {
      barrier.await(30, TimeUnit.SECONDS)
      got.add(Memo(spark, tag, source) { runs.incrementAndGet(); Thread.sleep(100); 42 })
      ()
    }))
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(runs.get == 1)
    assert(got.toArray.toSeq == Seq.fill(16)(42))
  }

  test("a build that calls the memo for other keys neither throws nor deadlocks") {
    val outer = freshTag()
    val inner = Seq.fill(256)(freshTag())
    val fut = scala.concurrent.Future(
      Memo(spark, outer, source)(inner.map(t => Memo(spark, t, source)(1)).sum)
    )(scala.concurrent.ExecutionContext.global)
    assert(scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration(60, "s")) == 256)
    assert(Memo(spark, outer, source)(-1) == 256)
  }

  test("a derived table deleted from outside is rebuilt on the next read") {
    val tag = freshTag()
    val builds = new AtomicInteger(0)
    def read(): String = Memo.table(spark, tag, source) { out =>
      builds.incrementAndGet()
      spark.range(3).write.mode("overwrite").parquet(out)
    }
    val path = read()
    assert(read() == path && builds.get == 1)
    assert(path.startsWith(spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")))
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    assert(read() == path)
    assert(builds.get == 2)
    assert(spark.read.parquet(path).count() == 3)
  }

  test("a source that exists nowhere raises the parquet reader's error") {
    val missing = "/nonexistent/graft_memo_missing.parquet"
    intercept[org.apache.spark.sql.AnalysisException] {
      Memo(spark, freshTag(), missing)(spark.read.parquet(missing).schema)
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      Memo.table(spark, freshTag(), missing) { out =>
        spark.read.parquet(missing).write.parquet(out)
      }
    }
  }

  test("a build that throws is retried on the next call") {
    val tag = freshTag()
    val runs = new AtomicInteger(0)
    def call(): Int = Memo(spark, tag, source) {
      if (runs.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      7
    }
    intercept[IllegalStateException](call())
    assert(call() == 7)
    assert(call() == 7)
    assert(runs.get == 2)
  }
}
