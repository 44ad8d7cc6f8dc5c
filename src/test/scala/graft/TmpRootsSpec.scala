package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM spec for the per-process scratch-root discipline — the
  * round-6 fix for cross-JVM scratch collisions (SURVEY §5). */
class TmpRootsSpec extends AnyFunSuite {

  private val tmpdir = Paths.get(sys.props("java.io.tmpdir"))
  private val pid = ProcessHandle.current().pid()

  test("perProcess embeds this pid and is stable across calls") {
    val a = TmpRoots.perProcess("graft_tmproots_spec")
    val b = TmpRoots.perProcess("graft_tmproots_spec")
    assert(a == b, "same prefix must map to the same root")
    assert(a.endsWith(s"graft_tmproots_spec_pid$pid"))
  }

  test("cleanStale removes every dead-pid graft root, keeps live ones") {
    val prefix = "graft_tmproots_stale"
    // "dead" roots under two prefixes: no live pid is ever absurdly
    // large, so pick ones guaranteed unused (max pid on linux < 2^22
    // default)
    val dead = tmpdir.resolve(s"${prefix}_pid99999999")
    val deadOther = tmpdir.resolve("graft_tmproots_other_pid99999998")
    val mine = Paths.get(TmpRoots.perProcess(prefix))
    Seq(dead, deadOther, mine).foreach(Files.createDirectories(_))
    try {
      TmpRoots.cleanStale()
      assert(!Files.exists(dead) && !Files.exists(deadOther),
        "dead-pid roots must be swept, whatever their prefix")
      assert(Files.exists(mine), "this process's root must survive")
    } finally Seq(dead, deadOther, mine).foreach(TmpRoots.deleteTree)
  }

  test("deleteTree removes nested content and tolerates a missing root") {
    val root = tmpdir.resolve(s"graft_tmproots_del_$pid")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("a/b/f.txt"), "x")
    TmpRoots.deleteTree(root)
    assert(!Files.exists(root))
    TmpRoots.deleteTree(root) // second call: no-op, must not throw
  }
}
