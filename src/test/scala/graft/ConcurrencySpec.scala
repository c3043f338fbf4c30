package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the concurrency-determinism invariant in-tree (previously an
  * out-of-tree audit): the driver-side pools join futures in fixed
  * submission order, so the same computation at pool width 1 and at
  * full width must produce IDENTICAL results — not merely equivalent
  * ones. Runs the CrossVal fold pool, the Reduction candidate pool
  * (which nests the fold pool), the MDA fold pool and the Hyperband
  * bracket pool both ways via the `graft.pool.size` lever and compares
  * results exactly; plus the `Pools.inOrder` contract itself.
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def featureFrame: DataFrame = {
    val feats = (0 until 4).map(i =>
      col("embedding").getItem(i).cast("double").as(s"e_$i"))
    spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet").select(
      (col("vec_id") +: (col("vec_id") % 10).as("era")
        +: col("label").cast("double").as("target") +: feats): _*)
  }

  // deterministic fitter: grouped-mean predictor, one tiny agg per fit
  private def meanFitter(train: DataFrame): DataFrame => DataFrame = {
    val my = train.agg(avg(col("target"))).head().getDouble(0)
    test => test.withColumn("pred", lit(my))
  }

  private def scoreOf(scored: DataFrame): DataFrame =
    scored.agg(round(avg(col("pred")), 9).as("m"),
      round(avg(col("target")), 9).as("mt"), count(lit(1)).as("n"))

  private def withPoolSize[A](n: Int)(body: => A): A = {
    // restore, don't delete: a preset -Dgraft.pool.size (the operator
    // escape hatch) must survive the spec, and deleting it would also
    // let a preset width-1 make the full-width comparison vacuous
    val prev = sys.props.get("graft.pool.size")
    sys.props("graft.pool.size") = n.toString
    try body finally prev match {
      case Some(v) => sys.props("graft.pool.size") = v
      case None => sys.props -= "graft.pool.size"
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("Pools.size clamps to [1, default] and defaults to full width") {
    assert(Pools.size(4) === 4)
    withPoolSize(1) { assert(Pools.size(4) === 1) }
    withPoolSize(99) { assert(Pools.size(4) === 4) }
    withPoolSize(-3) { assert(Pools.size(4) === 1) }
    sys.props("graft.pool.size") = "junk"
    try assert(Pools.size(4) === 4) finally sys.props -= "graft.pool.size"
  }

  test("CrossVal fold pool: width 1 and full width are byte-identical") {
    val ff = featureFrame
    def run(): Seq[String] = rowsOf(
      ml.CrossVal.kfoldScores(ff, "era", 3, meanFitter, scoreOf))
    val sequential = withPoolSize(1)(run())
    // explicit over-cap (clamped to full width) so a preset width-1
    // JVM property can't make this the same run twice
    val concurrent = withPoolSize(64)(run())
    assert(sequential === concurrent)
    assert(sequential.nonEmpty)
  }

  test("Reduction candidate pool (nesting the fold pool): width 1 and full width agree") {
    val ff = featureFrame.persist()
    try {
      def run(): Seq[(Int, Double)] =
        ml.Reduction.tuneOverKs(ff, k => (0 until k).map(i => s"e_$i"),
          ks = Seq(2, 4), eraCol = "era", folds = 2,
          fitterFor = cols => queries.MlPack.olsFitter(cols, "target"),
          score = sc => sc.agg(
            round(corr(col("pred"), col("target")), 6).as("spearman")))
      val sequential = withPoolSize(1)(run())
      val concurrent = withPoolSize(64)(run())
      assert(sequential === concurrent)
      assert(sequential.map(_._1).toSet === Set(2, 4))
    } finally ff.unpersist()
  }

  test("FeatureSelection.mda fold pool: width 1 and full width are identical") {
    // configured as q_mda_ols: additive OLS fitter + arithmetic deal
    val ff = featureFrame
    val feats = (0 until 4).map(i => s"e_$i")
    def run(): Seq[String] = rowsOf(ml.FeatureSelection.mda(ff, "era", feats,
      "target", Seq("vec_id"), k = 2, seed = 42,
      fit = queries.MlPack.olsFitter(feats, "target"),
      permKeyFor = Some(f =>
        (col("vec_id") * lit(2654435761L) + lit(42L + f) * lit(40503L))
          % lit(999999937L))))
    val sequential = withPoolSize(1)(run())
    val concurrent = withPoolSize(64)(run())
    assert(sequential === concurrent)
    assert(sequential.size === feats.size)
  }

  test("Tuning.hyperbandBatchTagged bracket pool: width 1 and full width are identical") {
    // Spark-free scorer; the tagged call log records every
    // (bracket, rung) evaluation with its configs and resource fraction
    def run(): (Seq[ml.Tuning.Trial], Seq[((Int, Int), (Seq[Map[String, Double]], Double))]) = {
      val calls = scala.collection.concurrent.TrieMap
        .empty[(Int, Int), (Seq[Map[String, Double]], Double)]
      val trials = ml.Tuning.hyperbandBatchTagged(
        Seq(ml.Tuning.Param("a", 0.0, 1.0), ml.Tuning.Param("b", 1.0, 100.0, log = true)),
        maxResource = 27, eta = 3, seed = 7) { (s, rung, configs, frac) =>
        assert(calls.put((s, rung), (configs, frac)).isEmpty)
        configs.map(c => -math.abs(c("a") - 0.3) * frac - math.log(c("b")) / 100)
      }
      (trials, calls.toSeq.sortBy(_._1))
    }
    val sequential = withPoolSize(1)(run())
    val concurrent = withPoolSize(64)(run())
    assert(sequential === concurrent)
    // four brackets (s = 3..0), so the full-width run really fans out
    assert(sequential._2.map(_._1._1).distinct.sorted === Seq(0, 1, 2, 3))
  }

  test("Pools.inOrder returns results in submission order when tasks finish in reverse") {
    val n = 4
    val done = Array.fill(n)(new CountDownLatch(1))
    val finished = new ConcurrentLinkedQueue[Int]()
    // task i waits for task i+1, so the last task finishes first
    val tasks = (0 until n).map { i => () =>
      if (i < n - 1) assert(done(i + 1).await(30, TimeUnit.SECONDS))
      finished.add(i)
      done(i).countDown()
      i * 10
    }
    assert(withPoolSize(64)(Pools.inOrder(n)(tasks)) === (0 until n).map(_ * 10))
    assert(finished.asScala.toSeq === (n - 1 to 0 by -1))
  }

  test("Pools.inOrder rethrows the first failing task's own exception") {
    def tasks(laterFailed: CountDownLatch): Seq[() => Int] = Seq(
      () => 1,
      () => {
        assert(laterFailed.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("first")
      },
      () => { laterFailed.countDown(); throw new IllegalArgumentException("later") })
    // full width: the later task fails first in time and still loses
    val e = withPoolSize(64)(intercept[IllegalStateException](
      Pools.inOrder(3)(tasks(new CountDownLatch(1)))))
    assert(e.getMessage === "first")
    // width 1 runs on the calling thread: the same exception, unwrapped
    val e1 = withPoolSize(1)(intercept[IllegalStateException](
      Pools.inOrder(3)(tasks(new CountDownLatch(0)))))
    assert(e1.getMessage === "first")
  }

  test("Pools.inOrder on an empty task list returns an empty result") {
    assert(Pools.inOrder(4)(Seq.empty[() => Int]).isEmpty)
  }

  test("Pools.inOrder: a nested call at full width completes") {
    // every outer task holds an outer-pool thread while its inner call
    // runs: a shared executor of the same width would deadlock here
    val got = withPoolSize(64) {
      Pools.inOrder(4)((0 until 4).map { i => () =>
        Pools.inOrder(4)((0 until 4).map(j => () => i * 4 + j)).sum
      })
    }
    assert(got === (0 until 4).map(i => (0 until 4).map(i * 4 + _).sum))
  }
}
