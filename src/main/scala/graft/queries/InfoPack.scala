package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.InfoTheory

/** Info-theoretic aggregates (SURVEY §2 A9-A11/M14) and the
  * embedding-matrix aggregates (A2/A6) over the `embeddings` fixture —
  * the feature-matrix analogue of the reference's 310-column numpy
  * array (FIXTURES.md §B).
  */
object InfoPack extends QueryPack {

  /** A9 — 5x5 contingency table (`distance_func.py:14`). */
  def qHist2d(s: SparkSession, d: String): DataFrame =
    InfoTheory.histogram2d(Tables.lineitem(s, d),
        col("l_quantity"), col("l_discount"), 1, 50, 0, 0.1, 5)
      .orderBy(col("bi"), col("bj"))

  /** A10 — variation of information between bucketed quantity and
    * discount (`distance_func.py:9-22`). */
  def qVi(s: SparkSession, d: String): DataFrame =
    InfoTheory.variationOfInformation(
      InfoTheory.histogram2d(Tables.lineitem(s, d),
        col("l_quantity"), col("l_discount"), 1, 50, 0, 0.1, 5))

  /** A10 — normalized variation of information VI / H(X,Y)
    * (`distance_func.py:18-21`, the `norm=True` arm the notebook's
    * clustering cells use for a [0,1]-bounded feature distance). */
  def qViNorm(s: SparkSession, d: String): DataFrame =
    InfoTheory.variationOfInformation(
      InfoTheory.histogram2d(Tables.lineitem(s, d),
        col("l_quantity"), col("l_discount"), 1, 50, 0, 0.1, 5),
      norm = true)

  private def components(s: SparkSession, d: String, nPos: Int): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
      .filter(col("p") < nPos)
      .select(col("vec_id"), (col("p") + 1).cast("long").as("pos"),
        col("x").cast("double").as("x"))

  /** A2/M14/J3 — pairwise correlation matrix over the first 8 embedding
    * components (`#cell-13` feature-correlation EDA; the pair join is
    * the upper-triangle theta join of `feature_clustering.py:26-33`).
    * Scale path for all-pairs over wide matrices: pivot to columns +
    * `RowMatrix.computeCovariance` — the explode/join form shown here
    * is the honest relational shape for a bounded pair set. Sorted by
    * (pa, pb); [[pairwiseCorrEdges]] is the same relation unsorted. */
  def qPairwiseCorr(s: SparkSession, d: String): DataFrame =
    pairwiseCorrEdges(s, d).orderBy(col("pa"), col("pb"))

  /** [[qPairwiseCorr]]'s 28 edges without its final sort, for consumers
    * whose use does not depend on row order: `qFeatureClusters` and
    * `qClusterSilhouette` fill a distance matrix from them, and the
    * sort would cost each one more job and shuffle. */
  def pairwiseCorrEdges(s: SparkSession, d: String): DataFrame = {
    val e = components(s, d, 8)
    val a = e.select(col("vec_id"), col("pos").as("pa"), col("x").as("xa"))
    val b = e.select(col("vec_id").as("vb"), col("pos").as("pb"), col("x").as("xb"))
    a.join(b, col("vec_id") === col("vb") && col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(round(corr(col("xa"), col("xb")), 5).as("c"))
  }

  /** A6-adjacent — L2 norm per embedding vector via the native
    * dot_product codegen kernel (no shuffle at all: scan → project;
    * float elements widen per-element exactly like the array-fold
    * form this replaced, same index-order summation). */
  def qEmbedNorm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        round(sqrt(graft.functions.DotProduct.dot_product(
          col("embedding"), col("embedding"))), 5).as("norm"))
      .orderBy(col("vec_id"))

  /** A6 — per-component mean |x| (`feature_selection_numerai.py:286`
    * mean-|SHAP| per feature), explode + groupBy(pos) form. */
  def qEmbedMeanAbs(s: SparkSession, d: String): DataFrame =
    components(s, d, 64)
      .groupBy(col("pos"))
      .agg(round(avg(abs(col("x"))), 6).as("mean_abs"))
      .orderBy(col("pos"))

  /** M14 — the full pairwise feature-distance matrix as a relation:
    * VI between bucketed embedding components (i < j <= 6), the
    * distributed half of `pairwise` + `get_optimal_clusters`
    * (`feature_clustering.py:12-36`). One shuffle keyed on the joint
    * histogram cells, margins via windows over the tiny cell relation. */
  def qPairwiseVi(s: SparkSession, d: String): DataFrame =
    pairwiseVi(s, d, norm = false)

  /** M14 with the `norm=True` distance (`distance_func.py:18-21`) —
    * the [0,1]-bounded matrix the notebook's clustering cells feed to
    * `pairwise`; same single windowed pass, one extra entropy term. */
  def qPairwiseViNorm(s: SparkSession, d: String): DataFrame =
    pairwiseVi(s, d, norm = true)

  private def pairwiseVi(s: SparkSession, d: String, norm: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
      .filter(col("p") < 6)
      .select(col("vec_id"), (col("p") + 1).cast("long").as("pos"),
        InfoTheory.bucket(col("x").cast("double"), -0.5, 0.5, 5).as("b"))
    val a = e.select(col("vec_id"), col("pos").as("pa"), col("b").as("ba"))
    val bb = e.select(col("vec_id").as("vb"), col("pos").as("pb"), col("b").as("bb"))
    val joint = a.join(bb, col("vec_id") === col("vb") && col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"), col("ba"), col("bb"))
      .agg(count(lit(1)).as("n"))
    val pair = Seq(col("pa"), col("pb"))
    val staged = joint
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(pair: _*)).cast("double"))
      .withColumn("mx", sum(col("n")).over(Window.partitionBy(col("pa"), col("pb"), col("ba"))).cast("double"))
      .withColumn("my", sum(col("n")).over(Window.partitionBy(col("pa"), col("pb"), col("bb"))).cast("double"))
      .groupBy(pair: _*)
    val vi = sum((col("n") / col("tot")) *
      (log(col("mx") / col("tot")) + log(col("my") / col("tot"))
        - lit(2) * log(col("n") / col("tot"))))
    // H(X,Y) = 0 (single-cell joint) guards to 0.0 — 0/0 NaN/NULL
    // rendering is engine-specific (the qLshRecall convention)
    val hxy = -sum((col("n") / col("tot")) * log(col("n") / col("tot")))
    val agg =
      if (norm) staged.agg(
        round(when(hxy > 0, vi / hxy).otherwise(lit(0.0)), 6).as("vi_norm"))
      else staged.agg(round(vi, 6).as("vi"))
    agg.orderBy(col("pa"), col("pb"))
  }

  /** A2 scale path — the FULL 64x64 correlation matrix in ONE pass via
    * MLlib (`Correlation.corr` over the assembled vector column; the
    * Spark twin of `#cell-13`'s `df.corr()`), emitted as the
    * upper-triangle edge list. The explode/self-join form
    * (qPairwiseCorr) is the honest relational shape for a bounded pair
    * set; this is the one-scan form for wide matrices — no shuffle of
    * pair rows at all (grammian aggregation). */
  def qCorrMatrix(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.stat.Correlation
    import s.implicits._
    val v = Tables.embeddings(s, d)
      .select(array_to_vector(col("embedding")).as("features"))
    val m = Correlation.corr(v, "features").head()
      .getAs[org.apache.spark.ml.linalg.Matrix](0)
    val edges = for {
      i <- 0 until m.numRows
      j <- (i + 1) until m.numCols
    } yield (i + 1L, j + 1L, m(i, j))
    edges.toDF("i", "j", "raw")
      .select(col("i"), col("j"), round(col("raw"), 5).as("c"))
      .orderBy(col("i"), col("j"))
  }

  val queries: Map[String, Q] = Map(
    "q_corr_matrix"   -> qCorrMatrix,
    "q_hist2d"        -> qHist2d,
    "q_vi"            -> qVi,
    "q_vi_norm"       -> qViNorm,
    "q_pairwise_corr" -> qPairwiseCorr,
    "q_pairwise_vi"   -> qPairwiseVi,
    "q_pairwise_vi_norm" -> qPairwiseViNorm,
    "q_embed_norm"    -> qEmbedNorm,
    "q_embed_meanabs" -> qEmbedMeanAbs,
  )

  val oracles: Map[String, String] = Map(
    "q_corr_matrix" ->
      """WITH e AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
        |SELECT a.pos AS i, b.pos AS j, round(corr(a.x, b.x), 5) AS c
        |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos < b.pos
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_hist2d" ->
      """SELECT CAST(least(4, floor((l_quantity - 1) / 49.0 * 5)) AS BIGINT) AS bi,
        | CAST(least(4, floor((l_discount - 0) / 0.1 * 5)) AS BIGINT) AS bj,
        | count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_vi" ->
      """WITH b AS (
        |  SELECT CAST(least(4, floor((l_quantity - 1) / 49.0 * 5)) AS BIGINT) AS bi,
        |    CAST(least(4, floor((l_discount - 0) / 0.1 * 5)) AS BIGINT) AS bj
        |  FROM lineitem),
        |joint AS (SELECT bi, bj, count(*) AS c FROM b GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM joint),
        |hxy AS (SELECT -sum((c / n) * ln(c / n)) AS h FROM joint, tot),
        |mx AS (SELECT bi, sum(c) AS c FROM joint GROUP BY 1),
        |hx AS (SELECT -sum((c / n) * ln(c / n)) AS h FROM mx, tot),
        |my AS (SELECT bj, sum(c) AS c FROM joint GROUP BY 1),
        |hy AS (SELECT -sum((c / n) * ln(c / n)) AS h FROM my, tot)
        |SELECT round(2 * hxy.h - hx.h - hy.h, 6) AS vi FROM hxy, hx, hy""".stripMargin,
    "q_vi_norm" ->
      """WITH b AS (
        |  SELECT CAST(least(4, floor((l_quantity - 1) / 49.0 * 5)) AS BIGINT) AS bi,
        |    CAST(least(4, floor((l_discount - 0) / 0.1 * 5)) AS BIGINT) AS bj
        |  FROM lineitem),
        |joint AS (SELECT bi, bj, count(*) AS c FROM b GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM joint),
        |hxy AS (SELECT -sum((c / n) * ln(c / n)) AS h FROM joint, tot),
        |mx AS (SELECT bi, sum(c) AS c FROM joint GROUP BY 1),
        |hx AS (SELECT -sum((c / n) * ln(c / n)) AS h FROM mx, tot),
        |my AS (SELECT bj, sum(c) AS c FROM joint GROUP BY 1),
        |hy AS (SELECT -sum((c / n) * ln(c / n)) AS h FROM my, tot)
        |SELECT round(CASE WHEN hxy.h > 0
        |  THEN (2 * hxy.h - hx.h - hy.h) / hxy.h ELSE 0.0 END, 6) AS vi_norm
        |FROM hxy, hx, hy""".stripMargin,
    "q_pairwise_corr" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |f AS (SELECT vec_id, pos, x FROM e WHERE pos <= 8)
        |SELECT a.pos AS pa, b.pos AS pb, round(corr(a.x, b.x), 5) AS c
        |FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.pos < b.pos
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_pairwise_vi" ->
      """WITH e0 AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |f AS (SELECT vec_id, pos,
        |    CAST(greatest(0, least(4, floor((x - (-0.5)) / (0.5 - (-0.5)) * 5))) AS BIGINT) AS b
        |  FROM e0 WHERE pos <= 6),
        |joint AS (SELECT a.pos AS pa, b.pos AS pb, a.b AS ba, b.b AS bb, count(*) AS n
        |          FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.pos < b.pos
        |          GROUP BY 1, 2, 3, 4),
        |w AS (SELECT pa, pb, n,
        |    CAST(sum(n) OVER (PARTITION BY pa, pb) AS DOUBLE) AS tot,
        |    CAST(sum(n) OVER (PARTITION BY pa, pb, ba) AS DOUBLE) AS mx,
        |    CAST(sum(n) OVER (PARTITION BY pa, pb, bb) AS DOUBLE) AS my
        |  FROM joint)
        |SELECT pa, pb, round(sum((n / tot) * (ln(mx / tot) + ln(my / tot)
        |  - 2 * ln(n / tot))), 6) AS vi
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_pairwise_vi_norm" ->
      """WITH e0 AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |f AS (SELECT vec_id, pos,
        |    CAST(greatest(0, least(4, floor((x - (-0.5)) / (0.5 - (-0.5)) * 5))) AS BIGINT) AS b
        |  FROM e0 WHERE pos <= 6),
        |joint AS (SELECT a.pos AS pa, b.pos AS pb, a.b AS ba, b.b AS bb, count(*) AS n
        |          FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.pos < b.pos
        |          GROUP BY 1, 2, 3, 4),
        |w AS (SELECT pa, pb, n,
        |    CAST(sum(n) OVER (PARTITION BY pa, pb) AS DOUBLE) AS tot,
        |    CAST(sum(n) OVER (PARTITION BY pa, pb, ba) AS DOUBLE) AS mx,
        |    CAST(sum(n) OVER (PARTITION BY pa, pb, bb) AS DOUBLE) AS my
        |  FROM joint)
        |SELECT pa, pb, round(CASE WHEN -sum((n / tot) * ln(n / tot)) > 0
        |    THEN sum((n / tot) * (ln(mx / tot) + ln(my / tot)
        |      - 2 * ln(n / tot))) / (-sum((n / tot) * ln(n / tot)))
        |    ELSE 0.0 END, 6) AS vi_norm
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_embed_norm" ->
      """SELECT vec_id, round(sqrt(sum(x * x)), 5) AS norm
        |FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q_embed_meanabs" ->
      """SELECT pos, round(avg(abs(x)), 6) AS mean_abs
        |FROM (SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |        CAST(unnest(embedding) AS DOUBLE) AS x
        |      FROM embeddings)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
