package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.Lloyd

/** The relational IVF / PQ stages every batch ANN query runs (north
  * star: similarity search over an embedding column). The
  * oracle-checked seeded queries and the Lloyd-fitted quality queries
  * share them and differ only in where the (cid, cv) centroid and
  * (m, j, cw) codebook relations come from, so the DuckDB oracles
  * check the machinery the fitted queries run. Every stage is a
  * deterministic relational expression: distances are index-ordered
  * sums of squares, argmins tie to the lower id, ADC distances fold in
  * fixed m order, and rankings run on rounded scores with an id
  * tie-break.
  *
  * Scale shape: centroids, codebooks, probe sets and LUTs are tiny
  * broadcasts; each corpus-sized argmin is a broadcast fan-out folded
  * by a partial (map-side) `min_by`, so the k-way blowup never crosses
  * a shuffle; ADC search reads the code relation only. IVF-PQ is flat
  * PQ with the cluster key added to the encode and LUT join keys.
  */
object Ann {

  /** Subspaces per vector, and the width of each (64-dim embeddings). */
  val M = 8
  private val SubDim = 8

  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  /** Index-ordered squared L2 — the sum the oracles replay bitwise.
    * Assignment and probing rank by it directly: sqrt is monotone, so
    * the argmin is the one the oracles' `list_distance` picks. */
  private def d2(a: Column, b: Column): Column = {
    val diff = zip_with(a, b, _ - _)
    dot(diff, diff)
  }

  /** Deterministic bounded training sample for the driver-side
    * quantizers: the `n` smallest seeded id-hashes, a pseudo-random
    * slice spread over the whole id space (a head-of-ids sample would
    * bias centroids toward early ingestion), planned as TakeOrdered. */
  private[operators] def trainingSample(embeddings: DataFrame, n: Int, seed: Long)
      : Array[Array[Double]] =
    embeddings.orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id")).limit(n)
      .select(transform(col("embedding"), _.cast("double")))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Lloyd-fitted coarse quantizer as a (cid, cv) relation: 10 rounds
    * of [[Lloyd.fit]] on a max(64k, 1024) [[trainingSample]]. Like
    * [[codebookRelation]] it is one partition: a few rows spread over
    * every core would only add tasks to the job that broadcasts it. */
  def fitCentroids(embeddings: DataFrame, k: Int, seed: Long): DataFrame = {
    val cents = Lloyd.fit(trainingSample(embeddings, math.max(64 * k, 1024), seed),
      k, iters = 10)
    val spark = embeddings.sparkSession
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("cid", "cv")
      .coalesce(1)
  }

  /** Trained codebooks as the (m, j, cw) relation [[encode]] and
    * [[adc]] consume. */
  def codebookRelation(spark: SparkSession, cb: Pq.Codebooks): DataFrame = {
    import spark.implicits._
    (for ((words, m) <- cb.toSeq.zipWithIndex; (cw, j) <- words.toSeq.zipWithIndex)
      yield (m, j, cw)).toDF("m", "j", "cw").coalesce(1)
  }

  /** Centroid assignment: each (vec_id, v) row to its nearest (cid, cv)
    * centroid, ties to the lower cid. The fan-out is a broadcast cross
    * join, or an equi-join on `on` (the two-level index's sub-cells of
    * the row's own parent). Returns (vec_id, cluster, v). */
  def assign(e: DataFrame, cents: DataFrame, on: Seq[String] = Nil): DataFrame =
    (if (on.isEmpty) e.crossJoin(broadcast(cents)) else e.join(cents, on))
      .select(col("vec_id"), col("v"), col("cid"), d2(col("v"), col("cv")).as("dist"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cluster"),
        first(col("v")).as("v"))

  /** The probe set: each (q_id, qv, ...) query row joined to its
    * `nprobe` nearest centroids by (distance, cid), as
    * (query columns..., cluster, cv). */
  def probe(q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(d2(col("qv"), col("cv")), col("cid"))))
      .filter(col("rn") <= nprobe)
      .drop("rn")
      .withColumnRenamed("cid", "cluster")

  /** Exact cosine rerank of (q_id, vec_id, v, nrm, qv, qn) candidates:
    * self-matches dropped, the top `k` per query by the ROUNDED cosine
    * with a vec_id tie-break (the engine-stable selection convention),
    * as (q_id, n_id, carry..., cos, rank). */
  def rerank(cand: DataFrame, k: Int, carry: Seq[String] = Nil): DataFrame =
    cand.filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(Seq(col("q_id"), col("vec_id").as("n_id")) ++ carry.map(col) ++
        Seq(col("cos"), col("rank")): _*)

  /** Rows fanned out over the M subspaces by a scan-local generator:
    * adds (m, sv = subvector m of column `v`). */
  private def subspaces(df: DataFrame, v: String): DataFrame =
    df.withColumn("m", explode(sequence(lit(0), lit(M - 1))))
      .withColumn("sv", slice(col(v), col("m") * SubDim + 1, lit(SubDim)))

  /** The (m, j, cw) codebook relation whose codewords are the
    * subvectors of (j, v) vectors — the seeded quantizers. */
  def codebook(words: DataFrame): DataFrame =
    subspaces(words, "v").select(col("m"), col("j"), col("sv").as("cw"))

  /** Per-subspace codeword encode: each (vec_id, keys..., v) row's
    * subvectors to their nearest (m, j, cw) codeword, ties to the lower
    * j — a broadcast fan-out folded by a partial `min_by`. Returns
    * (vec_id, keys..., m, code). */
  def encode(e: DataFrame, cb: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val by = ("vec_id" +: keys :+ "m").map(col)
    subspaces(e, "v").join(broadcast(cb), "m")
      .select(by ++ Seq(col("j"), d2(col("sv"), col("cw")).as("d2")): _*)
      .groupBy(by: _*)
      .agg(min_by(col("j"), struct(col("d2"), col("j"))).as("code"))
  }

  /** ADC search: per (q_id, keys..., qv) query row a LUT of exact
    * subspace distances from qv to every codeword, broadcast against
    * the code relation on (keys, m, code); the M per-subspace
    * distances fold in FIXED m order (a float sum over an unordered
    * aggregate would be merge-order-dependent on both engines).
    * IVF-PQ passes the cluster key with per-list query residuals; flat
    * PQ passes none. Returns the unranked (q_id, vec_id, adc_d2)
    * relation without self-matches, the distance rounded to 6 places. */
  def adc(codes: DataFrame, q: DataFrame, cb: DataFrame,
          keys: Seq[String] = Nil): DataFrame = {
    val lut = subspaces(q, "qv").join(broadcast(cb), "m")
      .select((col("q_id") +: keys.map(col)) ++ Seq(col("m"), col("j").as("code"),
        d2(col("sv"), col("cw")).as("d2")): _*)
    codes.join(broadcast(lut), keys ++ Seq("m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg((0 until M).map(i => max(when(col("m") === i, col("d2"))))
        .reduce(_ + _).as("dist2"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(col("dist2"), 6).as("adc_d2"))
  }

  /** The top `k` of an [[adc]] relation per query, ranked on the
    * rounded distance with the vec_id tie-break. */
  def rankAdc(adc: DataFrame, k: Int): DataFrame =
    adc.withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adc_d2"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
}
