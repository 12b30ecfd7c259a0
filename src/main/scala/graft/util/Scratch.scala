package graft.util

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/**
 * Operator-owned scratch directories. Gates that stage data on local
 * disk (format round trips, layout rewrites, snapshot tables,
 * streaming inputs/checkpoints) must not accumulate orphaned trees
 * across repeated Verify/Bench runs — at sf1/sf10 a single gate's
 * scratch is a multi-GB corpus copy. Plans read the staging dirs
 * LAZILY, so eager deletion is unsafe; a JVM-exit hook is the
 * earliest safe point, and one shared implementation keeps the
 * cleanup from drifting per gate (it did: three gates shipped with
 * no cleanup while four siblings carried hand-rolled copies of the
 * same hook).
 */
object Scratch {

  /** Recursively delete a tree; missing path is a no-op. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** The entries directly under `dir`, in no particular order; missing
    * path is empty. The listing is closed before returning: an open
    * `Files.list` stream holds a file descriptor until it is closed. */
  def list(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val listing = Files.list(dir)
      try listing.iterator().asScala.toVector
      finally listing.close()
    }

  // ONE shutdown hook draining a queue — a hook thread per tempDir
  // call would accumulate unboundedly when Bench/Verify re-run gates
  // in a single JVM (32 call sites × runs)
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val hookInstalled: Unit = {
    sys.addShutdownHook {
      var p = pending.poll()
      while (p != null) { deleteTree(p); p = pending.poll() }
    }
    ()
  }

  /** Temp dir deleted at JVM exit (for dirs still referenced by lazy
    * plans until the session ends). */
  def tempDir(prefix: String): Path = {
    hookInstalled
    val d = Files.createTempDirectory(prefix)
    pending.add(d)
    d
  }
}
