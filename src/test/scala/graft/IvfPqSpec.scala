package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann
import graft.queries.SimilarityPack

/** The relational IVF stages with a Lloyd-fitted coarse quantizer (the
  * q_ann_ivf path): assignment must partition the corpus exactly,
  * search must stay within the probed lists with usable recall, and
  * the whole build must be deterministic.
  */
class IvfPqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))

  private lazy val emb = Tables.embeddings(spark, TestSpark.sf)
  private lazy val cents = Ann.fitCentroids(emb, k = 16, seed = 7L)
  private lazy val posting = Ann.assign(vecs(emb), cents)

  test("the posting relation partitions the corpus exactly once") {
    val n = emb.count()
    assert(posting.count() == n)
    assert(posting.select(col("vec_id")).distinct().count() == n)
    assert(posting.filter(col("cluster") < 0 || col("cluster") >= 16).count() == 0)
  }

  test("search returns a well-formed ranked relation on the fixture") {
    val got = SimilarityPack.ivfTop5(vecs(emb), cents)
    val queries = vecs(emb).filter(col("vec_id") < 10).as[(Long, Array[Double])].collect()
    // exactly <= 5 ranked rows per query, ranks 1..n, no self-match
    val perQ = got.groupBy(col("q_id")).agg(count(lit(1)).as("n"),
      max(col("rank")).as("mx")).collect()
    assert(perQ.length == queries.length)
    assert(perQ.forall(r => r.getLong(1) <= 5 && r.getLong(2) == r.getLong(1)))
    assert(got.filter(col("q_id") === col("n_id")).count() == 0)
    // every returned candidate lives in one of the query's probed lists
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    val centroids = cents.as[(Long, Array[Double])].collect()
    val clusterOf = posting.select(col("vec_id"), col("cluster"))
      .as[(Long, Long)].collect().toMap
    val probedOf = queries.map { case (qid, qv) =>
      qid -> centroids.map { case (ci, c) => (ci, l2(qv, c)) }
        .sortBy(t => (t._2, t._1)).take(4).map(_._1).toSet
    }.toMap
    val escaped = got.select(col("q_id"), col("n_id")).as[(Long, Long)].collect()
      .filterNot { case (q, n) => probedOf(q)(clusterOf(n)) }
    assert(escaped.isEmpty, s"candidates outside probed lists: ${escaped.length}")
  }

  test("recall on near-dup-bearing clustered data: the domain ANN actually serves") {
    // two data regimes where recall is NOT measurable: the parquet
    // fixture (near-uniform noise — all pairwise distances
    // concentrate) and pure isotropic clusters (within a cluster every
    // member is a statistical tie — no quantizer can rank ties, and
    // "the" top-5 is arbitrary). The regime IVF exists for is corpora
    // with real structure: clusters AND genuinely-near items. So: 16
    // separated centers, cluster noise 0.2, and 5 PLANTED
    // near-duplicates per query (noise 0.01) — the planted set is the
    // unambiguous exact top-5 and a working index must recover it.
    val rnd = new scala.util.Random(99)
    val centers = Array.tabulate(16, 64) { (c, i) =>
      if (i % 16 == c) 10.0 else 0.0
    }
    val base = (0L until 1000L).map { id =>
      val c = (id % 16).toInt
      val noise = Array.fill(64)(rnd.nextGaussian() * 0.2)
      (id, Array.tabulate(64)(i => centers(c)(i) + noise(i)))
    }
    val dups = (0L until 10L).flatMap { qid =>
      val qv = base(qid.toInt)._2
      (0 until 5).map { j =>
        (10000L + qid * 10 + j,
          Array.tabulate(64)(i => qv(i) + rnd.nextGaussian() * 0.01))
      }
    }
    val df = (base ++ dups).map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val got = SimilarityPack.ivfTop5(vecs(df), Ann.fitCentroids(df, k = 16, seed = 7L))
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect().toSet
    val expected = (0L until 10L).flatMap(q =>
      (0 until 5).map(j => (q, 10000L + q * 10 + j))).toSet
    val recall = expected.count(got.contains).toDouble / expected.size
    assert(recall >= 0.8, s"recall@5 of planted near-dups: $recall")
  }

  test("the build is deterministic") {
    val again = Ann.assign(vecs(emb), Ann.fitCentroids(emb, k = 16, seed = 7L))
    assert(posting.orderBy(col("vec_id")).collect().toSeq ==
      again.orderBy(col("vec_id")).collect().toSeq)
  }
}
