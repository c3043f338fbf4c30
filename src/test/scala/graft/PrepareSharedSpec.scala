package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextPack

/** The shared dedup build: `prepareShared`'s concurrent three-table
  * build over one persisted base must write the same tables as the
  * standalone first-touch builds each consumer runs on its own, and
  * must release every persist it makes.
  */
class PrepareSharedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("tagged concurrent build equals the standalone tables and leaves nothing cached") {
    val sf = TestSpark.sf
    val cache = spark.sharedState.cacheManager
    // suites sharing this session may leave cached plans behind
    spark.catalog.clearCache()
    TextPack.prepareShared(spark, sf, "_spec", concurrency = 4)
    assert(cache.isEmpty, "prepareShared left a persisted relation behind")
    // standalone first touch of the default tag (shdf first, so its own
    // corpus pass builds it unless an earlier suite already did)
    val shdf = TextPack.sharedShingleDf(spark, sf)
    TextPack.qNgramJaccard(spark, sf)
    TextPack.qMinhashLsh(spark, sf)
    TextPack.qWinnowPairs(spark, sf)
    assert(cache.isEmpty, "a standalone build left a persisted relation behind")
    // every table exists now, so reading one must not touch the base
    val built = () => fail("a materialized table re-read its base")
    assertSameRows(TextPack.pairsTable(spark, sf, "_spec", built),
      TextPack.pairsTable(spark, sf, "", built))
    assertSameRows(TextPack.minhashTable(spark, sf, "_spec", built),
      TextPack.minhashTable(spark, sf, "", built))
    assertSameRows(TextPack.winnowTable(spark, sf, "_spec", built),
      TextPack.winnowTable(spark, sf, "", built))
    assertSameRows(TextPack.sharedShingleDf(spark, sf, "_spec"), shdf)
    assert(shdf.count() > 0)
  }
}
