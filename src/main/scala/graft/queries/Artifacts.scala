package graft.queries

import java.io.File
import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import scala.collection.concurrent.TrieMap

/** Build-once artifacts of the query registries: stored indexes, snapshot
  * tables, rewritten layouts, trained quantizers, pinned pair lists — the
  * reference's job-owned `output + "/temp"` directory (MovieRank.java:169,
  * 194), kept once for every registry instead of once per artifact.
  *
  *   - ONE root directory per JVM under `java.io.tmpdir`, made on first
  *     use and deleted recursively by one shutdown hook. A SIGKILLed JVM
  *     runs no hooks and leaves exactly that one `graft_*` directory.
  *   - Each key builds at most once: the first caller publishes a holder
  *     with `putIfAbsent` and runs the builder inside it, concurrent callers
  *     block on the same holder. A builder that throws unpublishes its
  *     holder, so the next call builds again.
  *   - Names share one namespace across [[dir]] and [[value]].
  */
private[graft] object Artifacts {

  /** `graft_<pid>`, or `graft_<pid>_<n>` when a dead JVM with the same pid
    * left its root behind: `createDirectory` fails on an existing path, so
    * the root is always new and never a dead run's leftovers. Short on
    * purpose: plan strings abbreviate a scan's location to 100 chars, and
    * plan pins look for the artifact name there. */
  lazy val root: File = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    val r = Iterator.from(0)
      .map(n => tmp.resolve(if (n == 0) s"graft_$pid" else s"graft_${pid}_$n"))
      .flatMap { p =>
        try Some(Files.createDirectory(p))
        catch { case _: FileAlreadyExistsException => None }
      }
      .next().toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r)))
    r
  }

  private final class Once(build: () => Any) {
    @volatile var result: Option[Any] = None
    def get: Any = synchronized {
      result.getOrElse { val v = build(); result = Some(v); v }
    }
  }
  private val built = TrieMap[(String, Any), Once]()

  /** The in-memory artifact `name` for `scope` (an sf dir, or a
    * (session identity, sf dir) pair for session-bound frames). */
  def value[A](name: String, scope: Any)(build: => A): A = {
    val key = (name, scope)
    val mine = new Once(() => build)
    val once = built.putIfAbsent(key, mine).getOrElse(mine)
    try once.get.asInstanceOf[A]
    catch { case e: Throwable => built.remove(key, once); throw e }
  }

  /** The value built under `name` when exactly one scope has built it —
    * the single-sf-dir contract of the oracles that embed trained state. */
  def only[A](name: String): Option[A] =
    built.toSeq.collect { case ((`name`, _), o) => o.result }.flatten match {
      case Seq(v) => Some(v.asInstanceOf[A])
      case _ => None
    }

  /** `<root>/graft_<name>_<sanitized sfDir>`. */
  def path(name: String, sfDir: String): String =
    new File(root, s"graft_${name}_" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_")).getPath

  /** The on-disk artifact `name` for `sfDir`: [[path]], written once by
    * `build` into an emptied directory (a failed build's partial output
    * never survives into the retry). */
  def dir(name: String, sfDir: String)(build: String => Unit): String =
    value(name, sfDir) {
      val p = path(name, sfDir)
      delete(new File(p)); build(p); p
    }

  /** [[path]] emptied for a query that rewrites its output on every call. */
  def scratch(name: String, sfDir: String): File = {
    val f = new File(path(name, sfDir)); delete(f); f
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }
}
