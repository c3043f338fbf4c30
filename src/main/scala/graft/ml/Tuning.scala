package graft.ml

/** Hyperparameter search (M5/M6): Latin-hypercube sampling
  * (`utils.py:89-129` `LHS_RandomizedSearch`) and Hyperband successive
  * halving (`tuners.py:376-509`), both as driver-side control flow
  * over caller-supplied evaluation functions that launch Spark jobs —
  * the idiomatic Spark shape for inherently iterative searches
  * (SURVEY §7.1).
  */
object Tuning {

  /** One hyperparameter's sampling range. `isInt` quantizes to
    * integers; `log` samples in log-space (the reference samples both
    * linear and integer grids). */
  case class Param(name: String, lo: Double, hi: Double,
                   isInt: Boolean = false, log: Boolean = false)

  /** Latin-hypercube sampling: n samples, each dimension's [0,1) range
    * split into n strata, one sample per stratum, strata order
    * shuffled independently per dimension (`utils.py:89-129`). */
  def latinHypercube(params: Seq[Param], n: Int, seed: Long): Seq[Map[String, Double]] = {
    val rnd = new scala.util.Random(seed)
    val cols = params.map { p =>
      val strata = rnd.shuffle((0 until n).toVector)
      strata.map { s =>
        val u = (s + rnd.nextDouble()) / n
        val v =
          if (p.log) math.exp(math.log(p.lo) + u * (math.log(p.hi) - math.log(p.lo)))
          else p.lo + u * (p.hi - p.lo)
        if (p.isInt) math.rint(v) else v
      }
    }
    (0 until n).map(i => params.zipWithIndex.map {
      case (p, j) => p.name -> cols(j)(i)
    }.toMap)
  }

  /** Result row of a search: config + score (higher is better). */
  case class Trial(config: Map[String, Double], score: Double)

  /** M5 random search: evaluate every LHS sample, rank descending.
    * `evaluate` typically runs [[CrossVal.kfoldScores]] and collects
    * the mean metric — a handful of Spark jobs per trial. */
  def lhsSearch(params: Seq[Param], n: Int, seed: Long)
               (evaluate: Map[String, Double] => Double): Seq[Trial] =
    latinHypercube(params, n, seed)
      .map(c => Trial(c, evaluate(c)))
      .sortBy(-_.score)

  /** M6 Hyperband (`tuners.py:376-509`): successive halving over
    * brackets. `evaluate(config, resourceFraction)` scores a config
    * trained on a head-fraction of the data (`tuners.py:439-440` —
    * Spark side: `df.sample`/`limit` pushed into the scan).
    * Returns all surviving trials of the final rung, best first.
    *
    * CONCURRENCY CONTRACT (r17): brackets run on a [[graft.Pools]]
    * pool, so `evaluate` is invoked CONCURRENTLY from several driver
    * threads (one per bracket; rungs within a bracket stay
    * sequential). The callback must be thread-safe — pure functions
    * and Spark actions are; un-synchronized mutable accumulators are
    * not. Results are identical to the sequential control flow. */
  def hyperband(params: Seq[Param], maxResource: Double, eta: Int, seed: Long)
               (evaluate: (Map[String, Double], Double) => Double): Seq[Trial] =
    hyperbandBatch(params, maxResource, eta, seed)(
      (cs, frac) => cs.map(evaluate(_, frac)))

  /** Hyperband with RUNG-batched evaluation: `evaluateBatch` scores a
    * whole rung's configs at once (same order as given) so a Spark
    * caller can fold them into ONE cross-joined plan / one action per
    * rung instead of a job per (config, rung) — the scale-safe shape
    * when each evaluation is a cluster job, not a local function.
    * Identical results to [[hyperband]], and the same concurrent
    * `evaluateBatch` invocation contract (see [[hyperband]]). */
  def hyperbandBatch(params: Seq[Param], maxResource: Double, eta: Int, seed: Long)
                    (evaluateBatch: (Seq[Map[String, Double]], Double) => Seq[Double]): Seq[Trial] =
    hyperbandBatchTagged(params, maxResource, eta, seed)(
      (_, _, cs, frac) => evaluateBatch(cs, frac))

  /** [[hyperbandBatch]] with the (bracket s, rung index) identifying
    * each evaluation call — what lets an observer (q_hyperband's
    * schedule audit) reconstruct the canonical sequential call order
    * even though brackets run CONCURRENTLY here (the callback is
    * invoked from one thread per bracket — see [[hyperband]]'s
    * concurrency contract). */
  def hyperbandBatchTagged(params: Seq[Param], maxResource: Double, eta: Int, seed: Long)
                          (evaluateBatch: (Int, Int, Seq[Map[String, Double]], Double) => Seq[Double]): Seq[Trial] = {
    val sMax = (math.log(maxResource) / math.log(eta)).toInt
    def runBracket(s: Int): Seq[Trial] = {
      val n0 = math.ceil((sMax + 1).toDouble / (s + 1) * math.pow(eta, s)).toInt
      val r0 = maxResource * math.pow(eta, -s)
      var configs = latinHypercube(params, n0, seed + s)
      var r = r0
      var trials = Seq.empty[Trial]
      var rung = 0
      while (configs.nonEmpty && rung <= s) {
        val scores = evaluateBatch(s, rung, configs, math.min(1.0, r / maxResource))
        require(scores.length == configs.length,
          s"evaluateBatch returned ${scores.length} scores for ${configs.length} configs")
        trials = configs.zip(scores).map { case (c, sc) => Trial(c, sc) }
          .sortBy(-_.score)
        val keep = math.max(1, configs.size / eta)
        configs = trials.take(keep).map(_.config)
        r *= eta
        rung += 1
      }
      trials
    }
    // brackets are INDEPENDENT (each seeds its own configs and halves
    // within itself) — only the rungs inside a bracket are sequential.
    // Run them concurrently: each rung's Spark action leaves driver-side
    // gaps (planning, collect) the other brackets fill (guide §2.6).
    val order = (sMax to 0 by -1).toSeq
    val brackets = graft.Pools.inOrder(order.size)(order.map(s => () => runBracket(s)))
    brackets.flatten.sortBy(-_.score)
  }
}
