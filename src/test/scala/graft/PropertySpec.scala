package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{EraRank, Folds, InfoTheory}

/** Generator-driven properties (SURVEY §5.2.3): rank in (0,1]; corr in
  * [-1,1] or null; folds cover exactly; aggregates are permutation-
  * invariant; VI is non-negative and symmetric under column swap.
  * (Raw ScalaCheck generators with a fixed seed — the scalatestplus
  * bridge artifact is not in the offline cache.)
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val smallData: Gen[List[(Int, Double)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(1, 4), Gen.choose(-100.0, 100.0)))

  test("property: pct-rank lies in (0, 1] and each era's max rank is 1") {
    for (rows <- samples(smallData, 8)) {
      val df = rows.zipWithIndex.map { case ((e, v), i) => (e, i.toLong, v) }
        .toDF("era", "id", "pred")
      val ranked = EraRank.withPctRankFirst(df, "r", Seq(col("era")), col("pred"), col("id"))
      val (lo, hi) = ranked.agg(min("r"), max("r")).as[(Double, Double)].head()
      assert(lo > 0.0 && hi <= 1.0)
      val maxPerEra = ranked.groupBy("era").agg(max("r").as("m"))
        .select("m").as[Double].collect()
      assert(maxPerEra.forall(_ == 1.0))
    }
  }

  test("property: corr is within [-1, 1] when defined") {
    for (rows <- samples(smallData, 8) if rows.size >= 2) {
      val df = rows.zipWithIndex.map { case ((e, v), i) => (e, v, v * i) }
        .toDF("era", "x", "y")
      val c = df.agg(corr(col("x"), col("y"))).head()
      if (!c.isNullAt(0)) {
        val v = c.getDouble(0)
        assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9)
      }
    }
  }

  test("property: random era folds are a disjoint exhaustive cover") {
    val gen = Gen.zip(Gen.choose(2, 12), Gen.choose(2, 5), Gen.choose(0L, 1000L))
    for ((nEras, k, seed) <- samples(gen, 8)) {
      val eras = (1L to nEras.toLong).toDF("era")
      val folds = Folds.eraKFoldRandom(eras, "era", k, seed).collect()
      assert(folds.map(_.getLong(0)).toSet == (1L to nEras.toLong).toSet)
      assert(folds.length == nEras)
      assert(folds.map(_.getLong(1)).forall(f => f >= 0 && f < k))
    }
  }

  test("property: sum/count aggregates are invariant under row permutation") {
    for (rows <- samples(smallData, 8)) {
      val df = rows.toDF("era", "v")
      val shuffled = new scala.util.Random(7).shuffle(rows).toDF("era", "v")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.groupBy("era").agg(sum("v"), count(lit(1))).collect()
          .map(r => (r.getInt(0), math.rint(r.getDouble(1) * 1e6), r.getLong(2))).toSet
      assert(canon(df) == canon(shuffled))
    }
  }

  test("property: VI >= 0 and symmetric under swapping the columns") {
    val gen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0.0, 10.0), Gen.choose(0.0, 10.0)))
    for (rows <- samples(gen, 4)) {
      val df = rows.toDF("x", "y")
      def vi(a: String, b: String): Double =
        InfoTheory.variationOfInformation(
          InfoTheory.histogram2d(df, col(a), col(b), 0, 10, 0, 10, 4))
          .as[Double].head()
      val xy = vi("x", "y")
      val yx = vi("y", "x")
      assert(xy >= -1e-9)
      assert(math.abs(xy - yx) < 1e-9)
    }
  }

  // random "documents": words over a tiny alphabet (forces repeats),
  // joined with single spaces, plus occasional empties via the
  // zero-length word — the adversarial shapes for the text kernels
  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "bb", "c", "dd", "e", "", "的"))
      .map(_.mkString(" "))

  test("property: text kernels equal their HOF/agg compositions on random strings") {
    import graft.functions.{MinHashSig, SimHash}
    import graft.functions.ShingleHash.shingle_hash60
    import graft.operators.TextOps
    val docs = samples(textGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc", "text")
    // shingle kernel vs transform/slice/concat_ws/md5 composition
    val shMis = docs.select(
        shingle_hash60(col("text"), 3).as("fused"),
        transform(TextOps.shingles(col("text"), 3),
          sh => TextOps.hash60(sh)).as("hof"))
      .filter(col("fused") =!= col("hof")).count()
    assert(shMis == 0)
    // minhash kernel vs min-over-distinct-hashes composition
    val p = 2147483647L
    val mhComposed = docs
      .select(col("doc"), explode(array_distinct(
        shingle_hash60(col("text"), 3))).as("sh"))
      .select(col("doc"), (col("sh") % p).as("h"))
      .groupBy(col("doc"))
      .agg(array((0 until 16).map(j =>
        min((col("h") * (2 * j + 1)) % p)): _*).as("hof"))
    val mhFused = docs.select(col("doc"),
        MinHashSig.minhash_sig(col("text"), 3, 16).as("fused"))
      .filter(size(col("fused")) > 0)
    assert(mhFused.count() == mhComposed.count())
    assert(mhFused.join(mhComposed, "doc")
      .filter(col("fused") =!= col("hof")).count() == 0)
    // simhash kernel vs per-word vote recomputation on the driver
    val simRows = docs.select(col("text"),
      SimHash.sim_hash48(col("text")).as("sig")).collect()
    simRows.foreach { r =>
      val words = r.getString(0).split(" ", -1)
      val votes = new Array[Int](48)
      words.foreach { w =>
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8"))
        var v = 0L
        (0 until 8).foreach(b => v = (v << 8) | (dig(b) & 0xffL))
        v = v >>> 4
        (0 until 48).foreach(j =>
          if (((v >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1)
      }
      var want = 0L
      (0 until 48).foreach(j => if (votes(j) > 0) want |= 1L << j)
      assert(r.getLong(1) == want, s"simhash mismatch on '${r.getString(0)}'")
    }
  }
}
