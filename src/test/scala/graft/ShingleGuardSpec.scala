package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.queries.{MlPack, TextPack}

/** The 100 TB skew guards (hot-shingle idf floor, LSH hot-bucket cap,
  * hash-fraction rung sampling): default thresholds must be no-ops at
  * fixture scale (row-equality vs the unguarded pipeline), tight
  * thresholds must actually suppress the hot keys, and the plans must
  * be the scale-safe shapes (no sort/limit funnels).
  */
class ShingleGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("default idf floor is a no-op at fixture scale") {
    val guarded = TextPack.jaccardPairs(spark, TestSpark.sf)
    val unguarded = TextPack.jaccardPairs(spark, TestSpark.sf, maxDf = Long.MaxValue)
    assert(guarded.count() == unguarded.count())
    assert(guarded.except(unguarded).count() == 0)
    assert(unguarded.except(guarded).count() == 0)
  }

  test("a tight idf floor suppresses hot shingles (and their pairs)") {
    // maxDf = 1 keeps only shingles unique to one doc -> no doc pair
    // can share a kept shingle -> zero candidates
    val got = TextPack.jaccardPairs(spark, TestSpark.sf, maxDf = 1L)
    assert(got.count() == 0)
  }

  test("scale-relative floor: fixture no-op value, corpus-proportional growth") {
    // fixture corpora resolve to the 1000 lower bound (max observed
    // 3-gram df across the fixtures is 25 -> provable no-op, pinned
    // row-equal above); at curation scale the cap tracks ~0.01% of
    // the corpus, recovering the old 100k constant at 1B docs
    assert(TextPack.maxShingleDfFor(500L) == 1000L)
    assert(TextPack.maxShingleDfFor(5000L) == 1000L)
    assert(TextPack.maxShingleDfFor(10_000_000L) == 1000L)
    assert(TextPack.maxShingleDfFor(100_000_000L) == 10000L)
    assert(TextPack.maxShingleDfFor(1_000_000_000L) == 100000L)
  }

  test("cap activation on a synthetic hot-shingle corpus") {
    import spark.implicits._
    // 30 docs all sharing one boilerplate shingle ("common header x"),
    // plus per-doc unique content: under maxDf=20 the boilerplate key
    // is dropped, so only the two engineered near-dup docs (which
    // also share distinctive shingles) survive as a pair
    val docs = (0 until 30).map { i =>
      val unique = s"token$i alpha$i beta$i gamma$i delta$i"
      val tail = if (i == 28 || i == 29) "shared dup tail words here" else unique
      (i.toLong, s"common header x $tail")
    }.toDF("doc_id", "text")
    val dsh = Dedup.shingles(Dedup.base(docs))
    val df = Dedup.docFreq(dsh, Seq("sh"))
    val kept = Dedup.cap(dsh, Seq("sh"), 20L, df)
    // the boilerplate prefix shingle (df=30) is gone, unique ones stay
    assert(df.filter(col("graft_df") > 20L).count() >= 1)
    assert(kept.columns.toSeq == dsh.columns.toSeq)
    assert(kept.groupBy(col("sh")).count().agg(max(col("count"))).head().getLong(0) <= 20L)
    // and the dup pair is still discoverable from kept shingles alone
    val x = kept.select(col("doc_id").as("a"), col("sh"))
    val y = kept.select(col("doc_id").as("b"), col("sh").as("sh_b"))
    val pairs = x.join(y, col("sh") === col("sh_b") && col("a") < col("b"))
      .select(col("a"), col("b")).distinct().collect()
    assert(pairs.exists(r => r.getLong(0) == 28L && r.getLong(1) == 29L))
  }

  test("default LSH bucket caps are no-ops at fixture scale") {
    val mhG = TextPack.minhashCandidates(spark, TestSpark.sf)
    val mhU = TextPack.minhashCandidates(spark, TestSpark.sf, maxBucket = Long.MaxValue)
    assert(mhG.except(mhU).count() == 0 && mhU.except(mhG).count() == 0)
    val shG = TextPack.simhashPairs(spark, TestSpark.sf)
    val shU = TextPack.simhashPairs(spark, TestSpark.sf, maxBucket = Long.MaxValue)
    assert(shG.except(shU).count() == 0 && shU.except(shG).count() == 0)
    val docs = Tables.documents(spark, TestSpark.sf)
    val wpG = TextPack.winnowPairs(docs)
    val wpU = TextPack.winnowPairs(docs, maxBucket = Long.MaxValue)
    assert(wpG.count() > 0)
    assert(wpG.except(wpU).count() == 0 && wpU.except(wpG).count() == 0)
  }

  test("a tight bucket cap drops every multi-member bucket") {
    // cap = 1: a candidate pair requires >= 2 docs in one bucket, so
    // candidate generation must come up empty
    assert(TextPack.minhashCandidates(spark, TestSpark.sf, maxBucket = 1L).count() == 0)
    assert(TextPack.simhashPairs(spark, TestSpark.sf, maxBucket = 1L).count() == 0)
    val docs = Tables.documents(spark, TestSpark.sf)
    assert(TextPack.winnowPairs(docs, maxBucket = 1L).count() == 0)
  }

  test("winnow hot-fingerprint cap: boilerplate dropped, sim over pre-cap counts") {
    import spark.implicits._
    // 30 docs open with the same 16-word boilerplate run, so every doc
    // selects the same boilerplate fingerprints (df = 30); docs 28 and
    // 29 also share a 12-word tail. Under maxBucket = 20 only the
    // planted pair survives, and its sim still divides by each doc's
    // full fingerprint count, boilerplate included.
    val boiler = (0 until 16).map(i => s"boiler$i").mkString(" ")
    val docs = (0 until 30).map { i =>
      val tail =
        if (i >= 28) (0 until 12).map(j => s"planted$j").mkString(" ")
        else (0 until 12).map(j => s"u${i}x$j").mkString(" ")
      (i.toLong, s"$boiler $tail")
    }.toDF("doc_id", "text")
    val uncapped = TextPack.winnowPairs(docs, maxBucket = Long.MaxValue)
    assert(uncapped.count() > 1, "the boilerplate alone must pair docs when uncapped")
    val got = TextPack.winnowPairs(docs, maxBucket = 20L).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((28L, 29L)))
    val nShared = got.head.getAs[Long]("n_shared")
    val nFps = TextPack.winnowFingerprints(docs)
      .select(col("doc_id"), size(array_distinct(transform(col("sel"), _.getField("h")))))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val (na, nb) = (nFps(28L), nFps(29L))
    // every hot fingerprint is boilerplate, present in all 30 docs
    val nHot = Dedup.docFreq(Dedup.fingerprints(Dedup.winnow(Dedup.base(docs))), Seq("h"))
      .filter(col("graft_df") > 20L).count()
    assert(nHot > 0)
    def sim(a: Long, b: Long): Double = BigDecimal(nShared.toDouble / (a + b - nShared))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.head.getAs[Double]("sim") == sim(na, nb))
    assert(sim(na, nb) != sim(na - nHot, nb - nHot))
  }

  test("hash-fraction rung sample: no Sort, no GlobalLimit, deterministic") {
    val ev = Tables.events(spark, TestSpark.sf)
    val half = MlPack.hashFraction(ev, "event_id", 0.5)
    val p = half.queryExecution.executedPlan.toString
    assert(!p.contains("Sort"), p.take(800))
    assert(!p.contains("GlobalLimit"), p.take(800))
    val n = ev.count().toDouble
    val k = half.count().toDouble
    assert(k == MlPack.hashFraction(ev, "event_id", 0.5).count().toDouble)
    // binomial-ish: within +-15% of the asked fraction on the fixture
    assert(math.abs(k / n - 0.5) < 0.15, s"got ${k / n}")
    // nested fractions: the frac=1.0 rung is the identity
    assert(MlPack.hashFraction(ev, "event_id", 1.0).count().toLong == n.toLong)
  }
}
