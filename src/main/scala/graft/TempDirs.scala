package graft

/** JVM-lifetime temp directories on the driver's local disk: scratch
  * output, stream checkpoints and streaming-MERGE snapshots. One shared
  * shutdown hook deletes every registered dir. Derived tables that
  * queries reuse live in [[Memo.table]] instead, under the warehouse
  * dir. */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(p => deleteRecursively(p))
    }))
    true
  }

  /** Create a temp dir registered for deletion at JVM exit. */
  def create(prefix: String): java.nio.file.Path = {
    require(hookInstalled)
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(p)
    p
  }

  /** [[create]] under an explicit parent (e.g. a RAM-backed scratch
    * dir for stream checkpoints); same exit-hook registration. */
  def createUnder(base: String, prefix: String): java.nio.file.Path = {
    require(hookInstalled)
    val parent = java.nio.file.Paths.get(base)
    java.nio.file.Files.createDirectories(parent)
    val p = java.nio.file.Files.createTempDirectory(parent, prefix)
    dirs.add(p)
    p
  }

  /** Runs `body` on a fresh [[create]]d dir and deletes the dir when
    * `body` returns or throws. */
  def scoped[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val dir = create(prefix)
    try body(dir) finally deleteRecursively(dir)
  }

  /** Best-effort recursive delete (also used to prune superseded
    * snapshot versions before JVM exit). */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete(); ()
    }
    rm(p.toFile)
  }
}
