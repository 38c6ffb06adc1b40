package graft
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Ephemeral working directories for queries that must round-trip
  * through a filesystem (streaming checkpoints + file sinks, IO-format
  * rows). Prefers node-local tmpfs (/dev/shm) when present: these dirs
  * live only for the duration of ONE query run and are deleted before
  * the result frame is returned, so durability buys nothing — while
  * every state-store/offset-log commit fsync against a disk-backed
  * /tmp is pure wall-clock (measured: q142's two stateful-join stages
  * spent ~2.2 s PER TASK blocked on near-0-byte state commits, 70 s of
  * task time for 0.7 MB of state). Production deployments point
  * checkpoints at durable storage because they need exactly-once
  * RECOVERY across restarts — a recovery-semantics choice these
  * per-run scratch dirs never face (the recovery behavior itself is
  * proven in StreamingSpec with its own checkpoint lifecycle).
  * Override with SPARK_GRAFT_TMPDIR; falls back to java.io.tmpdir when
  * no tmpfs exists.
  */
object TempDirs {
  private lazy val base: Path = {
    val candidates =
      sys.env.get("SPARK_GRAFT_TMPDIR").map(Paths.get(_)).toSeq :+
        Paths.get("/dev/shm")
    candidates.find(p => Files.isDirectory(p) && Files.isWritable(p))
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))
  }

  /** A fresh scratch directory under the fastest available base. */
  def ephemeral(prefix: String): Path = Files.createTempDirectory(base, prefix)

  /** Runs `body` in a fresh [[ephemeral]] directory and deletes the
    * directory afterwards, also when `body` throws. Deletion is
    * best-effort: a non-fatal error while deleting is dropped, since
    * `body`'s result (materialized by the caller) no longer reads the
    * directory. */
  def withEphemeral[T](prefix: String)(body: Path => T): T = {
    val dir = ephemeral(prefix)
    try body(dir)
    finally try {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    } catch { case NonFatal(_) => () }
  }
}
