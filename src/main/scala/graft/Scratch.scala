package graft

import java.nio.file.{Files, Path, Paths}

/** Ephemeral per-JVM scratch: memory-sink streaming checkpoints, staging
  * directories for the streaming twins, per-query pipeline checkpoints.
  * None of it has a durability contract, and its many small parquet,
  * state-store and commit-marker writes dominate small-batch latency, so
  * it lives on tmpfs when present (the JVM temp dir otherwise) and is
  * removed on JVM exit. Every call gets a fresh unique directory; nothing
  * is reused across invocations. Production callers pass their own
  * durable checkpoint locations and never touch this. */
private[graft] object Scratch {

  private lazy val base: Path = {
    val shm = Paths.get("/dev/shm")
    val root =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = Files.createTempDirectory(root, "graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: Path): Unit = {
        // a symlink is removed, never followed: staged links point at inputs
        if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          Files.list(p).forEach(rm(_))
        Files.deleteIfExists(p)
      }
      try rm(dir) catch { case _: Throwable => () }
    }))
    dir
  }

  /** A fresh empty directory under the scratch base. */
  def dir(prefix: String): String = Files.createTempDirectory(base, prefix).toString
}
