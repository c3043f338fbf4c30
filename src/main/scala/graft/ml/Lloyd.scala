package graft.ml

/** Deterministic driver-side Lloyd's k-means on a bounded sample —
  * the coarse/product quantizer trainer behind
  * [[graft.operators.Ann.fitCentroids]] and
  * [[graft.operators.Pq.trainCodebooks]]. Seeds are spread-index picks
  * over the (deterministically ordered) sample, ties break to the
  * lowest centroid index, and an emptied cluster keeps its previous
  * centroid, so the same sample always yields the same centroids.
  *
  * Scale rationale: quantizer quality converges on a few thousand
  * sample points long before a distributed fit pays for itself; the
  * sample collect is one bounded driver edge, it removes the per-
  * iteration Spark jobs a distributed k-means would run, and the
  * fitted centroids re-enter the plan as a tiny broadcast relation. */
object Lloyd {

  private def nearest(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var j = 0
    while (j < cents.length) {
      var d = 0.0; var i = 0
      val c = cents(j)
      while (i < c.length) { val t = p(i) - c(i); d += t * t; i += 1 }
      if (d < bd) { bd = d; best = j }
      j += 1
    }
    best
  }

  /** Fit min(k, points.length) centroids with `iters` full Lloyd
    * rounds. `points` order defines the deterministic init. */
  def fit(points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "empty training sample")
    val dim = points.head.length
    val kk = math.min(k, points.length)
    var cents = Array.tabulate(kk)(j => points(j * points.length / kk).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      points.foreach { p =>
        val b = nearest(p, cents)
        counts(b) += 1
        var i = 0; while (i < dim) { sums(b)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(kk)(j =>
        if (counts(j) == 0) cents(j) else sums(j).map(_ / counts(j)))
      it += 1
    }
    cents
  }
}
