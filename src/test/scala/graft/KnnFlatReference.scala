package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.dot_product

/** The seeded flat IVF self-join written as plain Catalyst — the
  * algorithm the kNN family's DuckDB oracles replay: the `k` smallest
  * vec_ids are the centroids, one crossJoin-with-broadcast window
  * ranks every vector's centroids by (squared distance, cid), rank 1
  * is its posting list and ranks ≤ 8 its probe set, and candidates
  * meet on the cluster key with the rounded cosine. The engine builds
  * the same relation with the `Ann` index and probe kernel; the kNN
  * specs pin the two row-equal at fixture scale. */
object KnnFlatReference {

  /** The (q_id, n_id, cos) candidates, collected and sorted by
    * (q_id, n_id). */
  def rows(s: SparkSession, d: String, k: Int): Array[(Long, Long, Double)] = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val cents = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val diff = zip_with(col("v"), col("cv"), _ - _)
    val ranked = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"), dot_product(diff, diff).as("dist"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("dist"), col("cid"))))
      .filter(col("rn") <= 8)
    val posting = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("n_id"), col("cid").as("cluster"),
        col("v").as("hv"), sqrt(dot_product(col("v"), col("v"))).as("hn"))
    val probes = ranked
      .select(col("vec_id").as("q_id"), col("cid").as("cluster"),
        col("v").as("qv"), sqrt(dot_product(col("v"), col("v"))).as("qn"))
    probes.join(posting, Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(
        dot_product(col("qv"), col("hv")) / (col("qn") * col("hn")), 6))
      .select(col("q_id"), col("n_id"), col("cos"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
  }

  /** The top `n` of each query's candidates by (cos desc, n_id), as
    * (q_id, n_id, cos, rank) — the ranking every kNN consumer reads. */
  def topN(cand: Seq[(Long, Long, Double)], n: Int): Seq[(Long, Long, Double, Long)] =
    cand.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, cs) =>
      cs.sortBy { case (_, nId, cos) => (-cos, nId) }.take(n).zipWithIndex
        .map { case ((_, nId, cos), i) => (q, nId, cos, i + 1L) }
    }
}
