package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

/** The engine's one scratch-file seam: every file a query, stream, model
  * or session stages on local disk lives under this JVM's [[root]], and
  * this is the only module that knows where that is and when it goes
  * (MaterializeSpec's guard keeps it so). The contract, stated once:
  *
  *  - The root is created fresh under the JVM's temp dir, so a later JVM
  *    that reuses a killed one's pid never reads its files back.
  *  - One JVM-exit hook deletes the root. Outputs that Spark reads lazily
  *    (sink round-trips, snapshot tables, stream results, the model
  *    reload) therefore stay valid until the JVM exits, never longer.
  *  - [[dir]] is stable for the JVM's lifetime: for sites that overwrite
  *    in place or reuse a build across calls. A build that depends on the
  *    corpus is keyed by it, so runs at two scale factors never share.
  *  - [[fresh]] is new on every call: for per-invocation stages, sinks
  *    and tables that must never see an earlier call's files.
  *
  * Both return an existing directory; writers overwrite inside it. */
object Scratch {

  /** This JVM's scratch root, made on first use. */
  lazy val root: Path = {
    val r = Files.createTempDirectory("graft-")
    sys.addShutdownHook(delete(r.toString))
    r
  }

  private val seq = new AtomicLong(0L)

  /** The stable directory `name` under [[root]]. */
  def dir(name: String): String =
    Files.createDirectories(root.resolve(name)).toString

  /** The stable directory `name` for the corpus at `corpus`: a SHA-256
    * prefix of the corpus path keys it (a String.hashCode collision would
    * alias two corpora's builds). */
  def dir(name: String, corpus: String): String = {
    val tok = java.security.MessageDigest.getInstance("SHA-256")
      .digest(corpus.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    dir(s"$name-$tok")
  }

  /** A new, empty directory `name.<n>` under [[root]] on every call. */
  def fresh(name: String): String = dir(s"$name.${seq.incrementAndGet()}")

  /** Deletes `path` and everything under it; a missing path is a no-op. */
  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        Option(f.listFiles).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }
}
