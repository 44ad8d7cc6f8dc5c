package graft.sources

import org.apache.spark.sql.SparkSession

/** Build-once / read-many fence behind every [[Artifact]] (which owns
  * the corpus-fingerprinted root): a build runs only while no
  * [[AtomicPublish]]'d version sits behind the pointer, inside a
  * two-level fence — a per-root JVM monitor
  * (FileChannel.lock throws OverlappingFileLockException for a second
  * same-JVM acquirer, and sbt runs suites in parallel in one forked
  * JVM) around an OS file lock (serializes across processes; on a
  * cluster the same role is a lease / conditional PUT on the
  * pointer). The committed pointer is re-checked under the lock so a
  * race's loser READS the winner's index instead of rebuilding.
  */
object DurableIndex {

  /** Per-root JVM-wide monitors — see class doc. */
  private val buildMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Age an orphaned old-fingerprint root must reach before vacuum:
    * deletion is deferred so a concurrent process still probing the
    * OLD corpus's index (the consistency [[Artifact.root]] promises)
    * finishes before its files disappear. */
  val VacuumGraceMs: Long = 30L * 60 * 1000

  /** Ensure `root` holds a committed index version, running `build`
    * (which must end in an AtomicPublish.publish at `root`) at most
    * once across threads and processes. Also lazily vacuums orphaned
    * old-fingerprint sibling roots past [[VacuumGraceMs]]. Returns
    * `root`. */
  def ensure(s: SparkSession, root: String)(build: => Unit): String = {
    if (AtomicPublish.currentVersion(s, root).isEmpty) {
      import java.nio.file.{Files, Paths, StandardOpenOption}
      val rootPath = Paths.get(root)
      Files.createDirectories(rootPath)
      val monitor = buildMonitors.computeIfAbsent(root, _ => new Object)
      monitor.synchronized {
        val ch = java.nio.channels.FileChannel.open(
          rootPath.resolve("build.lock"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          try {
            if (AtomicPublish.currentVersion(s, root).isEmpty) {
              val fn = rootPath.getFileName.toString
              val prefix = fn.substring(0, fn.lastIndexOf('-') + 1)
              val cutoff = System.currentTimeMillis() - VacuumGraceMs
              val siblings = Files.list(rootPath.getParent)
              try {
                import scala.jdk.CollectionConverters._
                siblings.iterator().asScala
                  .filter(p => p.getFileName.toString.startsWith(prefix) &&
                    p.getFileName.toString != fn &&
                    Files.getLastModifiedTime(p).toMillis < cutoff)
                  .foreach(graft.TmpRoots.deleteTree)
              } finally siblings.close()
              build
            }
          } finally lock.release()
        } finally ch.close()
      }
    }
    root
  }
}
