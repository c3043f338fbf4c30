package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** `QueryScope`: the one owner of persisted relations. A scope releases
  * exactly what was persisted under it, on return or throw; pool tasks
  * register to the scope that fanned them out; a persist outside any
  * scope is left to the caller; concurrent queries in their own scopes
  * neither disturb each other's answers nor leave the cache dirty. */
class QueryScopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def cache = spark.sharedState.cacheManager

  /** A small relation whose plan no other frame here shares. */
  private def frame(tag: Int): DataFrame =
    spark.range(16).withColumn("tag", lit(tag)).withColumn("spec", lit("scope"))

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a nested scope releases only its own relations") {
    spark.catalog.clearCache()
    QueryScope.run {
      val outer = frame(1).transform(QueryScope.persist)
      val inner = QueryScope.run {
        val inner = frame(2).transform(QueryScope.persist)
        assert(cached(outer) && cached(inner))
        inner
      }
      assert(!cached(inner), "the nested scope must release its relation")
      assert(cached(outer), "the nested scope must not release the outer one")
      assert(outer.count() == 16)
    }
    assert(cache.isEmpty)
  }

  test("a body that throws still releases its relations") {
    spark.catalog.clearCache()
    var persisted: DataFrame = null
    val e = intercept[IllegalStateException] {
      QueryScope.run {
        persisted = frame(3).transform(QueryScope.persist)
        assert(cached(persisted))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!cached(persisted))
    assert(cache.isEmpty)
  }

  test("Pools.inOrder tasks at width 4 register to the opener's scope") {
    spark.catalog.clearCache()
    val frames = QueryScope.run {
      val fs = Pools.inOrder(4)((10 until 14).map(t => () => {
        val df = frame(t).transform(QueryScope.persist)
        (Thread.currentThread.getId, df)
      }))
      assert(fs.map(_._1).distinct.size > 1, "the tasks should run on pool threads")
      // the tasks have returned, but their relations live on with the
      // scope that fanned them out
      assert(fs.forall(f => cached(f._2)))
      fs.map(_._2)
    }
    assert(frames.forall(f => !cached(f)))
    assert(cache.isEmpty)
  }

  test("a persist outside any scope stays cached until clearCache()") {
    spark.catalog.clearCache()
    val df = frame(20).transform(QueryScope.persist)
    QueryScope.run(assert(df.count() == 16))
    assert(cached(df), "a scope must not release what it did not persist")
    spark.catalog.clearCache()
    assert(!cached(df))
    assert(cache.isEmpty)
  }

  test("two concurrent persisting queries, each in its own scope, match serial runs") {
    spark.catalog.clearCache()
    val names = Seq("q_gapfill", "q_quantile_norm")
    def rows(name: String): Seq[String] = QueryScope.run {
      SparkEntry.queries(name)(spark, TestSpark.sf).collect().map(_.toString).toSeq
    }
    val serial = names.map(rows)
    assert(cache.isEmpty)
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Seq[String]]]()
    val threads = names.map { n =>
      val t = new Thread(() => {
        start.await()
        results.put(n, try Right(rows(n)) catch { case e: Throwable => Left(e) })
        ()
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    names.zip(serial).foreach { case (n, want) =>
      results.get(n) match {
        case Right(got) => assert(got == want, s"$n differs when run concurrently")
        case Left(e) => throw e
      }
    }
    assert(serial.forall(_.nonEmpty))
    assert(cache.isEmpty)
  }
}
