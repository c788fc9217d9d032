package graft.queries

/** Shared per-JVM temp-dir registry for the format/partition round-trip
  * queries (q123/q124 ORC+partitioned, q173 schema evolution, q183/q184
  * CSV/JSON): one write per (sfDir, kind) key even when Verify and
  * Bench both run in the same session, reclaimed by a recursive
  * shutdown hook (deleteOnExit cannot remove non-empty directories —
  * the leak deleteOnExit would leave). One implementation for the
  * call sites in Wire and Relational. */
private[queries] object RoundTrip {

  private val rtDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def dir(key: String): String =
    rtDirs.computeIfAbsent(key, { _ =>
      val d = java.nio.file.Files.createTempDirectory("graft_rt_")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(d.toFile)
      }
      d.toString
    })
}
