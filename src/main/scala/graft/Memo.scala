package graft

import org.apache.spark.sql.SparkSession

/** The engine's one cross-query memo: data derived from a source table
  * once and reused by every later query — schemas, corpus counts, the
  * fitted SHAP model, stream staging dirs ([[apply]]) and derived
  * tables such as the z-ordered, CSV, day-partitioned and silver
  * copies ([[table]]).
  *
  * Contract:
  *  - The key is a tag plus [[Tables.fingerprintKeyAny]] of the source
  *    table: a per-file (path, mtime, length) fold, local or through
  *    the Hadoop FS, so a rewritten source misses instead of serving
  *    data built from the old rows. A source that stats nowhere
  *    bypasses the memo, so the build's own reader error surfaces, not
  *    a stat error.
  *  - Each key is evaluated at most once. The map holds lazy cells:
  *    `computeIfAbsent` only allocates the cell, and the build runs
  *    outside the map's bin lock, so a build may call the memo again
  *    (the z-order build reads lineitem through [[Tables.schemaOf]]).
  *    A racing caller waits on the cell, not the map. A build that
  *    throws leaves no entry; the next call runs it again.
  *  - A derived table is parquet (or csv/json/orc) under
  *    `spark.sql.warehouse.dir`, which executors on a cluster can read,
  *    unlike a driver-local java tmp dir. Its name carries the md5 of
  *    the key and the application id, so two JVMs sharing a warehouse
  *    never overwrite or delete each other's copy. A shutdown hook
  *    deletes it. One that was removed from outside is re-materialized
  *    on the next read.
  */
object Memo {
  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }
  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Cell]()
  private val tableDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def keyOf(s: SparkSession, tag: String, source: String): Option[String] =
    try Some(tag + "#" + Tables.fingerprintKeyAny(s, source))
    catch { case _: java.io.IOException => None }

  private def evaluate(key: String, cell: Cell): Any =
    try cell.value
    catch { case e: Throwable => cells.remove(key, cell); throw e }

  private def cellFor(key: String, build: () => Any): Cell =
    cells.computeIfAbsent(key, _ => new Cell(build))

  /** `build`, evaluated at most once per (tag, source content). */
  def apply[A](s: SparkSession, tag: String, source: String)(build: => A): A =
    keyOf(s, tag, source) match {
      case Some(key) => evaluate(key, cellFor(key, () => build)).asInstanceOf[A]
      case None => build
    }

  /** The path of the table `build` writes, materialized at most once
    * per (tag, source content). `build` must write the table to the
    * path it is given; it runs in its own nested [[QueryScope]], so
    * what it persists is released when it returns. */
  def table(s: SparkSession, tag: String, source: String)(build: String => Unit): String = {
    def materialize(name: String): String = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(name.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val out = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        s"/graft_${tag}_${digest}_${s.sparkContext.applicationId}"
      register(s, out)
      QueryScope.run(build(out))
      out
    }
    keyOf(s, "table:" + tag, source) match {
      case None => materialize(java.util.UUID.randomUUID.toString)
      case Some(key) =>
        val cell = cellFor(key, () => materialize(key))
        val path = evaluate(key, cell).asInstanceOf[String]
        val p = new org.apache.hadoop.fs.Path(path)
        if (p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)) path
        else {
          cells.remove(key, cell)
          evaluate(key, cellFor(key, () => materialize(key))).asInstanceOf[String]
        }
    }
  }

  private def register(s: SparkSession, dir: String): Unit = {
    tableDirs.add(dir)
    if (hooked.compareAndSet(false, true)) {
      val conf = s.sparkContext.hadoopConfiguration
      sys.addShutdownHook {
        tableDirs.forEach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          try p.getFileSystem(conf).delete(p, true)
          catch { case _: Throwable => () }
        }
      }
    }
  }
}
