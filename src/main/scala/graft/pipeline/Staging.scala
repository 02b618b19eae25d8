package graft.pipeline

/** Temp staging for write→read round-trip gates, and the one best-effort
  * recursive delete. */
object Staging {

  /** Creates a temp dir, passes it to `f`, and ALWAYS deletes it
    * (finally) — a failed read-back no longer leaks the staging, and
    * the recursive delete lives in ONE place instead of a copy per
    * gate (round-11 self-review). Callers must pin their result
    * (localCheckpoint) before returning, since the files are gone
    * when `f` exits. */
  def withStagedDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(dir) finally rm(new java.io.File(dir))
  }

  /** Best-effort recursive delete: what cannot be deleted stays. */
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(): Unit
  }
}
