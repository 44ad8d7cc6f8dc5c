package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Per-process-unique temp roots for graft's scratch/layout dirs.
  *
  * Round-5 post-mortem: the driver's bench capture died with a
  * transient `DataFrameWriter.save` failure that is best explained by
  * two graft JVMs (e.g. a bench run and a verify/test run) colliding on
  * the SHARED fixed paths `/tmp/graft_sources/...` — one JVM's
  * `Overwrite` deleting files the other was mid-read on. Embedding the
  * pid makes every JVM's scratch space disjoint, so concurrent graft
  * processes cannot interfere; on a cluster the analogous rule is a
  * per-job scratch prefix on the object store.
  *
  * Growth is bounded two ways: a JVM shutdown hook removes this
  * process's own roots, and [[cleanStale]] (run by long-lived mains
  * such as [[Bench]]) removes roots left by DEAD pids — e.g. a bench
  * JVM the driver killed on its time budget, which never reached its
  * shutdown hook.
  */
object TmpRoots {

  private val pid: Long = ProcessHandle.current().pid()
  private val tmpdir: Path = Paths.get(sys.props("java.io.tmpdir"))
  private val registered = scala.collection.mutable.Set.empty[String]

  /** `${java.io.tmpdir}/<prefix>_pid<pid>` — created lazily by the
    * writer; deleted by a shutdown hook when this JVM exits cleanly. */
  def perProcess(prefix: String): String = synchronized {
    val root = tmpdir.resolve(s"${prefix}_pid$pid")
    if (registered.add(root.toString)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root)))
    }
    root.toString
  }

  /** Delete every `graft_<name>_pid<N>` root whose pid N is no longer
    * alive (crash/kill leftovers), whatever `perProcess` prefix made
    * it. Never touches a live pid's root. */
  def cleanStale(): Unit = {
    val re = """graft_.+_pid(\d+)""".r
    listDir(tmpdir).foreach { p =>
      p.getFileName.toString match {
        case re(other) if other.toLongOption.forall(n => n != pid &&
            !ProcessHandle.of(n).map[Boolean](_.isAlive).orElse(false)) =>
          deleteTree(p)
        case _ =>
      }
    }
  }

  private def listDir(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      try s.iterator().asScala.toVector
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
      finally s.close()
    }
}
