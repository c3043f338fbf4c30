package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory side of the ANN scale path
  * (north star: similarity search over an embedding column). A D-dim
  * float vector is split into `m` subvectors; each subspace gets a
  * K-codeword codebook; a vector is stored as `m` small codes (8 bytes
  * for m=8, K=16 — a 32x compression of a 64-dim float vector), and
  * query-to-vector distance is approximated by ADC: per query build an
  * m x K lookup table of exact subspace distances once, then every
  * corpus distance is m table lookups — no float vector is ever read
  * at search time.
  *
  * This object holds the quality side: codebook training and the
  * distortion diagnostic. Encode and ADC search are the relational
  * [[Ann]] stages the oracle-checked seeded queries share. Codebooks
  * train driver-side on a bounded deterministic sample (tiny:
  * m*K*subDim doubles — the collect-at-edges rule), so at 100 TB
  * search still reads only the (vec_id, m, code) relation: ~3 TB of
  * codes instead of 100 TB of floats.
  */
object Pq {

  /** codebooks(sub)(code) = centroid array of length subDim. */
  type Codebooks = Array[Array[Array[Double]]]

  private def sq(x: Double): Double = x * x

  private def subDist(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < c.length) { d += sq(v(off + i) - c(i)); i += 1 }
    d
  }

  /** Deterministic driver-side Lloyd's ([[graft.ml.Lloyd]]) per
    * subspace on the seeded-hash [[Ann.trainingSample]].
    * Deterministic training, so encoding is too. */
  def trainCodebooks(embeddings: DataFrame, m: Int, k: Int,
                     sampleN: Int, iters: Int = 15): Codebooks = {
    val sample = Ann.trainingSample(embeddings, sampleN, 1337L)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    Array.tabulate(m) { sub =>
      val off = sub * subDim
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + subDim))
      graft.ml.Lloyd.fit(pts, k, iters)
    }
  }

  /** Mean squared reconstruction error of the encoding over a frame —
    * the distortion diagnostic (PQ's analogue of the int8 `sse`). */
  def distortion(embeddings: DataFrame, codebooks: Codebooks): Double = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebooks)
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    embeddings
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .as[Array[Double]]
      .mapPartitions { rows =>
        val cb = bc.value
        rows.map { v =>
          var err = 0.0; var sub = 0
          while (sub < m) {
            val cents = cb(sub); val off = sub * subDim
            var bd = Double.MaxValue; var j = 0
            while (j < cents.length) {
              val d = subDist(v, off, cents(j))
              if (d < bd) bd = d
              j += 1
            }
            err += bd; sub += 1
          }
          err
        }
      }.toDF("err").agg(avg(col("err"))).head().getDouble(0)
  }
}
