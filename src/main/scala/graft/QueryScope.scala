package graft

import org.apache.spark.sql.DataFrame

/** The one owner of the relations queries persist. A query runs inside
  * [[run]]; every relation it persists through [[persist]] (in a chain:
  * `.transform(QueryScope.persist)`) is released when that scope
  * closes, whether the body returns or throws, so a long-lived session
  * never accumulates cached plans across queries.
  *
  * Contract:
  *  - Scopes nest. Closing a scope unpersists what was registered to
  *    it and leaves what other scopes registered (but see the shared
  *    plan case below). A region that must
  *    release early (a fold split, one MDA fold, a derived-table build
  *    in [[Memo.table]]) is a nested [[run]].
  *  - The open scope is per thread. [[Pools.inOrder]] hands the
  *    caller's scope to its tasks, so fanned-out work registers where
  *    its opener would. [[current]] + [[within]] do the same for any
  *    other deferred work (a lazy base built later on a pool thread).
  *  - Two scopes that persist the same plan share Spark's one cache
  *    entry, and the first to close releases it; the other's later
  *    reads recompute it, with the same rows.
  *  - With no open scope, [[persist]] is a plain `persist()` and the
  *    caller releases it (by clearing the session's cache, say).
  */
object QueryScope {
  /** An open scope: the relations persisted under it. */
  final class Scope private[QueryScope] {
    private[QueryScope] val owned =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  }

  private val open = new ThreadLocal[Scope]

  /** Runs `body` in a new scope nested in the current one and releases
    * what it persisted when `body` returns or throws. */
  def run[A](body: => A): A = {
    val scope = new Scope
    try within(Some(scope))(body)
    finally scope.owned.forEach(df => { df.unpersist(); () })
  }

  /** `df` persisted and registered to the innermost open scope. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    current.foreach(_.owned.add(df))
    df
  }

  /** The innermost open scope of this thread, to hand to [[within]]. */
  def current: Option[Scope] = Option(open.get)

  /** Runs `body` with `scope` as this thread's open scope. */
  def within[A](scope: Option[Scope])(body: => A): A = {
    val outer = open.get
    open.set(scope.orNull)
    try body finally open.set(outer)
  }
}
