package graft.util

import java.nio.file.Files

/** Temp dirs REGISTERED for recursive deletion at JVM exit — query
  * harness scratch space (persisted stores, staged stream inputs, sink/
  * checkpoint dirs) holds full corpus copies, and without the registry
  * every verify/bench run would leave one behind in /tmp. JVM-exit, not
  * eager: callers consume the dir lazily, possibly long after creation.
  * One registry for the whole engine — [[graft.streaming.Streams]] and
  * the query builders share it. */
object Scratch {
  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d.toString
  }

  /** Eagerly reclaim a registered dir the caller KNOWS it is done with
    * (a bench harness building corpus-sized stores per sample would
    * otherwise stack them all until JVM exit — the disk-pressure class
    * the retention sweep fixed store-side). Deregisters, then best-effort
    * recursive delete; safe to call on an already-dropped dir. */
  def drop(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    dirs.remove(p)
    deleteRecursive(p)
  }

  /** Best-effort recursive delete ([[graft.store.Commit.deleteTreeQuiet]],
    * the engine's one walk-and-delete): missing path and I/O failures are
    * no-ops. */
  def deleteRecursive(p: java.nio.file.Path): Unit =
    graft.store.Commit.deleteTreeQuiet(p)

  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(deleteRecursive)))
}
