package graft

import graft.operators.Similarity
import graft.sources.AtomicPublish

/** Child-JVM probe for ANN-index durability (the PersistenceProbe
  * pattern): each invocation is a genuinely fresh process against the
  * durable state dir under the `-Djava.io.tmpdir` it is started with
  * (the only location setting artifact roots have). Modes:
  *  - `build`: runs ensureAnnIndex and exits — the only invocation
  *    allowed to pay the build;
  *  - `probe`: a brand-new JVM that must find the COMMITTED index at
  *    the same resolved root (exit 3 if the pointer didn't survive),
  *    answer an LSH ANN query from it (exit 4 on empty result), and
  *    must NOT have rebuilt — the committed version is compared
  *    before/after the query (exit 5 on a version bump).
  * Exit 0 = success; the spec asserts on it.
  */
object AnnIndexProbe {

  def main(args: Array[String]): Unit = {
    val Array(mode, stateDir, dataDir) = args
    val s = GraftSession.builder(cores = 2, stateDir = stateDir)
      .appName(s"graft-ann-$mode").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    try {
      mode match {
        case "build" =>
          val root = Similarity.ensureAnnIndex(s, dataDir)
          val v = AtomicPublish.currentVersion(s, root)
          println(s"[probe] built root=$root version=$v")
          if (v.isEmpty) sys.exit(2)
        case "probe" =>
          val root = Similarity.annIndex.root(dataDir)
          val v0 = AtomicPublish.currentVersion(s, root)
          println(s"[probe] restart sees version=$v0")
          if (v0.isEmpty) sys.exit(3) // index did not survive the restart
          val rows = Similarity.n2AnnLsh(s, dataDir).count()
          println(s"[probe] ann rows=$rows")
          if (rows == 0) sys.exit(4)
          val v1 = AtomicPublish.currentVersion(s, root)
          if (v1 != v0) sys.exit(5) // the restarted process REBUILT
      }
    } finally s.stop()
  }
}
