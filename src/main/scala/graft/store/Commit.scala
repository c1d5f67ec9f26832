package graft.store

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The mechanics every pointer-swap commit protocol shares: the
  * [[BucketStore]] `_ROLES` file, the [[PartitionedStore]] manifest, the
  * [[graft.similarity.IvfCore]] meta file and the
  * [[graft.similarity.RotatingIvf]] generation pointer. All four follow
  * the reference's one swap discipline for a live dataset, the ping-pong
  * buffer and alias swap (`ElasticsearchIndexService.java:335-391`; HDFS
  * analog `HdfsStorageService.java:458-542`). Each protocol keeps its own
  * order of steps, file names, seams and errors; only these move here:
  *
  *  - [[replaceFile]]: replace a small file in one atomic rename;
  *  - [[lock]]: the JVM-wide writer monitor of a root;
  *  - [[inFlight]]: the registry that keeps a sweep off a live commit;
  *  - [[sweep]]: list a root and reclaim what the caller calls debris;
  *  - [[deleteTree]]: the one walk-and-delete ([[deleteTreeQuiet]] wraps
  *    it for teardowns);
  *  - [[bestEffort]]: post-switch maintenance that never changes a landed
  *    commit's outcome;
  *  - [[dataFiles]]: the files a scan reads, which keys the driver caches
  *    that outlive a commit only while the files are unchanged.
  */
private[graft] object Commit {

  /** Replace `target` atomically: write `body` to a same-dir tmp named
    * `<tmpPrefix><nanoTime>`, run `written` (a fault-injection seam can
    * snapshot the tmp-on-disk state there), then rename it over `target`.
    * A racing reader sees the old bytes or the new, never a truncated
    * file; a crash before the rename strands only the tmp, which the
    * protocol's sweep reclaims. */
  def replaceFile(target: Path, tmpPrefix: String, body: Array[Byte],
      written: => Unit = ()): Unit = {
    val tmp = target.resolveSibling(tmpPrefix + System.nanoTime())
    Files.write(tmp, body)
    written
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def key(root: Path): Path = root.toAbsolutePath.normalize

  // one writer monitor per normalized absolute root, JVM-wide: two
  // instances over the same directory serialize on the SAME object. Bounded
  // by the distinct roots the driver opens; never reclaimed (reclaiming
  // would reintroduce the race it exists to close).
  private val locks = new ConcurrentHashMap[Path, Object]()

  /** The writer monitor of `root`. */
  def lock(root: Path): Object = locks.computeIfAbsent(key(root), _ => new Object)

  // root-qualified names of commits between their first write and the end
  // of their own reclaim. A registry lost with a crashed PROCESS only
  // defers the reclaim of its debris to the next process's sweep.
  private val live = ConcurrentHashMap.newKeySet[String]()

  private def liveKey(root: Path, name: String) = s"${key(root)}/$name"

  /** Run `body` with `name` under `root` registered as in flight: no
    * [[sweep]] of that root reclaims the entry meanwhile. */
  def inFlight[A](root: Path, name: String)(body: => A): A = {
    val k = liveKey(root, name)
    live.add(k)
    try body finally live.remove(k)
  }

  private def isInFlight(root: Path, name: String): Boolean =
    live.contains(liveKey(root, name))

  /** The entries of `root`; a missing root has none. */
  def list(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.list(root)
      try s.iterator().asScala.toList finally s.close()
    }

  /** The files a Spark scan of `dir` reads, as (path under `base`, size),
    * sorted. Names Spark skips, at any level under `dir`, are left out: a
    * leading `.` (`.crc` sidecars) or `_` (`_SUCCESS`, `_temporary`
    * output), except a `k=v` partition dir. None when `dir` holds no data
    * file or cannot be listed (say, a concurrent rewrite reclaimed it):
    * a cache keyed by the listing then neither hits nor stores. */
  def dataFiles(dir: Path, base: Path): Option[Vector[(String, Long)]] =
    try {
      def hidden(n: String) = n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
      val s = Files.walk(dir)
      val files =
        try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
            dir.relativize(p).iterator().asScala.forall(n => !hidden(n.toString)))
          .map(p => (base.relativize(p).toString, Files.size(p))).toVector.sorted
        finally s.close() // Files.walk holds directory fds until closed
      Some(files).filter(_.nonEmpty)
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }

  /** Reclaim, in the order given, the entries `debris` picks from the
    * listing of `root`; names in flight are never offered. The first
    * failure stops the sweep and propagates, so an entry the caller
    * orders after another is never reclaimed while that one survives. */
  def sweep(root: Path)(debris: Seq[Path] => Seq[Path]): Unit =
    debris(list(root).filterNot(p => isInFlight(root, p.getFileName.toString)))
      .foreach(deleteTree)

  /** Delete a file or a directory tree; a missing path is a no-op. The walk
    * stream holds a directory fd, so it is closed either way. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toList.reverse.foreach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** [[deleteTree]] that swallows I/O failures: a teardown's cleanup must
    * never mask the error it is cleaning up after. */
  def deleteTreeQuiet(p: Path): Unit =
    try deleteTree(p)
    catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }

  /** Post-switch maintenance: the commit already stands, so a failure here
    * is logged as `what: <error>` and left for the next sweep, never
    * reported as a failed commit (a caller's retry of an additive write
    * would apply it twice). */
  def bestEffort(what: => String)(body: => Unit): Unit =
    try body
    catch { case e: Exception => System.err.println(s"$what: $e") }
}
