package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** The driver-side fan-out: independent Spark actions run concurrently
  * on a thread pool, the way the reference submits folds, candidates
  * and brackets as Dask futures and gathers them (`tuners.py:100-146`,
  * `tuners.py:376-509`). Users of [[inOrder]]:
  *  - `CrossVal` fold fits;
  *  - `Reduction.tuneOverKs` candidates (each nesting the fold pool);
  *  - `Reduction.tuneOverKsSharedFit` fold fits, then candidates;
  *  - `FeatureSelection.mda` fold fits;
  *  - `Tuning.hyperbandBatchTagged` brackets;
  *  - `TextPack.prepareShared` silver-table builds.
  *
  * Contract: every task is submitted before any is joined; results are
  * joined in SUBMISSION order, so the output is byte-identical to the
  * sequential loop at any pool width (`ConcurrencySpec` runs each user
  * at width 1 and at full width and compares exactly). A failing task
  * rethrows its own exception, not the `ExecutionException` wrapper;
  * the first failure in submission order wins. The `graft.pool.size`
  * system property caps every pool's width (the spec's lever; also an
  * escape hatch on a driver with a tight thread budget); unset means
  * full width. Tasks run in the caller's [[QueryScope]], so what they
  * persist is released with the caller's scope.
  */
object Pools {
  def size(default: Int): Int =
    sys.props.get("graft.pool.size")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .map(n => math.max(1, math.min(n, default)))
      .getOrElse(default)

  /** Runs `tasks` on a pool of `size(width)` threads and returns their
    * results in submission order. With one task, or a width of 1
    * after the cap, the tasks run on the calling thread. Each call
    * owns its pool, so a task may itself call [[inOrder]] (nested
    * pools cannot starve each other). */
  def inOrder[A](width: Int)(tasks: Seq[() => A]): Seq[A] = {
    val ts = tasks.toVector
    val n = size(width)
    if (ts.size <= 1 || n <= 1) ts.map(_())
    else {
      val scope = QueryScope.current
      val pool = Executors.newFixedThreadPool(n)
      try {
        val futs = ts.map(t => pool.submit(new Callable[A] {
          def call(): A = QueryScope.within(scope)(t())
        }))
        futs.map(f =>
          try f.get()
          catch { case e: ExecutionException => throw e.getCause })
      } finally pool.shutdown()
    }
  }
}
