package graft

import graft.sources.{Artifact, AtomicPublish}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Atomic multi-output publish (VERDICT r2, Missing #3): a pipeline's
  * corpus + stats must flip together or not at all, like the
  * reference's BEGIN TRANSACTION/COMMIT around multi-table writes
  * (db.mjs:467-471) — and the [[Artifact]] declaration every durable
  * per-corpus result publishes through (root, fingerprint, oracle
  * version hook).
  */
class PublishSpec extends GraftSpec {

  private def corpusOf(tag: String) = {
    import spark.implicits._
    Seq((1L, s"doc one $tag"), (2L, s"doc two $tag"), (3L, s"doc three $tag"))
      .toDF("doc_id", "text")
  }

  private def statsOf(tag: String) =
    corpusOf(tag).agg(count(lit(1)).as("n_docs"), lit(tag).as("build_tag"))

  private def readPair(root: String): (Seq[String], String) = (
    AtomicPublish.readOutput(spark, root, "corpus")
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq,
    AtomicPublish.readOutput(spark, root, "stats").collect().head.getString(1))

  test("both outputs flip together; a crash between writes leaves the old pair visible") {
    val root = tempDir("p1_")
    assert(AtomicPublish.currentVersion(spark, root).isEmpty)

    val v1 = AtomicPublish.publish(spark, root,
      Seq("corpus" -> corpusOf("r1"), "stats" -> statsOf("r1")))
    assert(v1 == "v1")
    val (c1, s1) = readPair(root)
    assert(c1.forall(_.endsWith("r1")) && s1 == "r1")

    // CRASH WINDOW: version 2's corpus is staged, then the process
    // "dies" before the stats write and the pointer swap. Readers must
    // still see the complete, consistent r1 pair.
    AtomicPublish.stage(spark, root, "v2", "corpus", corpusOf("r2"))
    val (cMid, sMid) = readPair(root)
    assert(cMid.forall(_.endsWith("r1")) && sMid == "r1",
      "readers observed a half-published version")

    // recovery publishes a fresh version: both outputs flip at once
    val v2 = AtomicPublish.publish(spark, root,
      Seq("corpus" -> corpusOf("r2"), "stats" -> statsOf("r2")))
    val (c2, s2) = readPair(root)
    assert(c2.forall(_.endsWith("r2")) && s2 == "r2",
      s"expected the r2 pair after commit, got ($c2, $s2)")

    // vacuum drops the aborted staging and the superseded v1, keeps v2
    AtomicPublish.vacuum(spark, root)
    val left = new java.io.File(s"$root/versions").listFiles().map(_.getName).toSet
    assert(left == Set(v2), s"vacuum left $left")
    val (c3, s3) = readPair(root)
    assert(c3.forall(_.endsWith("r2")) && s3 == "r2")
  }

  test("a crash after staging ALL outputs but before the pointer swap is invisible") {
    val root = tempDir("p2_")
    AtomicPublish.publish(spark, root,
      Seq("corpus" -> corpusOf("a"), "stats" -> statsOf("a")))
    AtomicPublish.stage(spark, root, "v2", "corpus", corpusOf("b"))
    AtomicPublish.stage(spark, root, "v2", "stats", statsOf("b"))
    // no commit — the swap never happened
    val (c, s) = readPair(root)
    assert(c.forall(_.endsWith("a")) && s == "a")
    assert(AtomicPublish.currentVersion(spark, root).contains("v1"))
  }

  test("time travel: superseded versions read back unchanged; vacuum keepLast is the horizon") {
    val root = tempDir("tt_")
    AtomicPublish.publish(spark, root, Seq("corpus" -> corpusOf("old")))
    AtomicPublish.publish(spark, root, Seq("corpus" -> corpusOf("new")))
    // the v2 commit must not disturb the retained v1 bytes
    val v1 = AtomicPublish.readOutputAt(spark, root, "v1", "corpus")
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(v1.forall(_.endsWith("old")), s"time-travel read returned $v1")
    assert(AtomicPublish.readOutput(spark, root, "corpus")
      .collect().forall(_.getString(1).endsWith("new")))

    // keepLast=2 retains the time-travel horizon
    AtomicPublish.vacuum(spark, root, keepLast = 2)
    val left2 = new java.io.File(s"$root/versions").listFiles().map(_.getName).toSet
    assert(left2 == Set("v1", "v2"), s"keepLast=2 left $left2")
    assert(AtomicPublish.readOutputAt(spark, root, "v1", "corpus").count() == 3)

    // keepLast=1 collapses to current-only: v1 is gone, v2 intact
    AtomicPublish.vacuum(spark, root, keepLast = 1)
    val left1 = new java.io.File(s"$root/versions").listFiles().map(_.getName).toSet
    assert(left1 == Set("v2"), s"keepLast=1 left $left1")
    assert(intercept[Exception] {
      AtomicPublish.readOutputAt(spark, root, "v1", "corpus").count()
    } != null)
  }

  test("a corrupt pointer never rewrites a version dir: the next publish goes above them all") {
    val root = tempDir("cp_")
    AtomicPublish.publish(spark, root, Seq("corpus" -> corpusOf("one")))
    AtomicPublish.publish(spark, root, Seq("corpus" -> corpusOf("two")))
    def bytesOf(v: String): Map[String, Seq[Byte]] = {
      val base = java.nio.file.Paths.get(s"$root/versions/$v")
      val files = java.nio.file.Files.walk(base)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => base.relativize(f).toString ->
          java.nio.file.Files.readAllBytes(f).toSeq).toMap
      finally files.close()
    }
    val v1Before = bytesOf("v1")
    assert(v1Before.keys.exists(_.endsWith(".parquet")))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/LATEST"),
      "not-a-version".getBytes("UTF-8"))
    val v = AtomicPublish.publish(spark, root, Seq("corpus" -> corpusOf("three")))
    val others = new java.io.File(s"$root/versions").list().toSeq.filter(_ != v)
      .map(_.stripPrefix("v").toLong)
    assert(others.nonEmpty && others.forall(_ < v.stripPrefix("v").toLong),
      s"publish after a corrupt pointer wrote $v next to $others")
    assert(bytesOf("v1") == v1Before, "v1's committed files were rewritten")
    assert(AtomicPublish.readOutput(spark, root, "corpus")
      .collect().forall(_.getString(1).endsWith("three")))
  }

  test("an increment's ledger row and outputs commit together: a failed stage leaves both unchanged") {
    import spark.implicits._
    // "checked" fails while it is staged for any negative x
    val art = Artifact.incremental("ledger_spec")("ledger-spec-v1") { (s, root, batch, _) =>
      Seq("rows" -> AtomicPublish.readOutput(s, root, "rows").unionByName(batch),
        "checked" -> batch.select(when(col("x") < 0, raise_error(lit("bad batch")))
          .otherwise(col("x")).as("x")))
    }
    val root = tempDir("ledger_spec")
    art.publishBase(spark, root,
      Seq("rows" -> Seq(1L).toDF("x"), "checked" -> Seq.empty[Long].toDF("x")))
    def ledger = AtomicPublish.readOutput(spark, root, Artifact.Ledger)
      .collect().map(_.getLong(0)).toSeq
    val before = AtomicPublish.currentVersion(spark, root)
    intercept[Exception](art.applyBatch(spark, root, Seq(-1L).toDF("x"), 7L))
    assert(AtomicPublish.currentVersion(spark, root) == before,
      "a failed stage must not move the pointer")
    assert(ledger.isEmpty, "the failed batch id must not be recorded")
    // the same id applies once the batch is good, and is recorded once
    assert(art.applyBatch(spark, root, Seq(2L).toDF("x"), 7L))
    assert(ledger == Seq(7L))
    assert(AtomicPublish.readOutput(spark, root, "rows").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(!art.applyBatch(spark, root, Seq(3L).toDF("x"), 7L),
      "a replayed id must be refused")
  }

  test("artifact fingerprints are recipe-salted: a params change forces a new root") {
    def art(recipe: String) = Artifact("recipe_spec", "documents")(recipe)
    val a = art("recipe-v1;cap=100").fingerprint(sf)
    val b = art("recipe-v1;cap=50").fingerprint(sf)
    val a2 = art("recipe-v1;cap=100").fingerprint(sf)
    assert(a != b, "changing the build recipe must change the fingerprint")
    assert(a == a2, "same corpus + same recipe must be stable")
    assert(art("recipe-v1;cap=100").root(sf) != art("recipe-v1;cap=50").root(sf))
    assert(art("recipe-v1;cap=100").root(sf) ==
      s"${GraftSession.defaultStateDir}/recipe_spec/${sf.replaceAll("[^A-Za-z0-9]", "_")}-$a")
    // a second table's fingerprint salts the first's
    assert(Artifact("recipe_spec", "orders", "lineitem")("r").fingerprint(sf) !=
      Artifact("recipe_spec", "orders")("r").fingerprint(sf))
    // with no table the recipe alone is hashed (k-core's version-chained key)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest("r".getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    assert(Artifact("recipe_spec")("r").fingerprint("/any/dir") == md5)
  }

  test("qc2's oracle path is keyed per corpus and goes silent when ambiguous") {
    graft.operators.Quality.qc2Calibration(spark, sf).collect()
    val paths = Artifact.committedVersions.get("qc_scores")
    assert(paths.containsKey(sf), "qc2 must record the corpus dir it ran on")
    assert(paths.get(sf).contains("/versions/"),
      s"path must be version-resolved, got ${paths.get(sf)}")
    val snapshot = paths.get(sf)
    try {
      // a second corpus in the same JVM: NO single oracle SQL could be
      // right for both, so the entry must disappear (rows-only), not
      // silently aim at the last corpus written
      paths.put("/some/other/corpus", "/elsewhere/scores")
      assert(!graft.operators.Quality.oracles.contains("qc2_calibration"))
    } finally paths.remove("/some/other/corpus")
    // unambiguous again: the oracle reads the exact committed parquet
    assert(graft.operators.Quality.oracles("qc2_calibration")
      .contains(snapshot))
  }

  test("every committed-artifact oracle hook goes silent on multi-corpus ambiguity") {
    // with two corpora recorded in one JVM, NO single SQL string can
    // be right, so the artifact-backed entries must vanish (rows-only),
    // never aim at the wrong corpus
    import graft.operators.{Dedup, IncrementalAnn, Pipeline, Similarity}
    // ensure the real entries exist first (specs elsewhere have run
    // the queries; guard in case of test-order changes)
    Similarity.n4CellAudit(spark, sf).collect()
    IncrementalAnn.n17IncrementalAnn(spark, sf).collect()
    Pipeline.pipe4MonitorReport(spark, sf).collect()
    Dedup.d12SketchCalibration(spark, sf).collect()
    Similarity.n9PcaProject(spark, sf).collect()
    // the gated oracles each hook backs
    val backs = Map(
      "ann_index" -> Seq("n2_ann_lsh", "n3_ivf_ann", "n4_cell_audit",
        "n6_semantic_dedup", "n12_pq_topk", "n15_ivf_pq",
        "n13_recall_eval", "n20_filtered_ann"),
      "pca_model" -> Seq("n9_pca_project"),
      "sig_index" -> Seq("d12_sketch_calibration", "d24_lsh_pair_eval",
        "d3_minhash_lsh", "d4_simhash"),
      "ann_incr_index" -> Seq("n17_incremental_ann"),
      "qc_scores" -> Seq("qc2_calibration", "qc1_classifier_score",
        "pipe4_monitor_report"),
      "qc_model" -> Seq("pipe4_monitor_report"),
      "bpe_model" -> Seq("pipe4_monitor_report"))
    val hooks = Artifact.committedVersions.asScala
    assert(hooks.keySet == backs.keySet,
      s"every recorded hook must be covered: ${hooks.keySet}")
    for ((kind, dirs) <- hooks) {
      for (k <- backs(kind))
        assert(SparkEntry.oracleSql.contains(k), s"$k must be live before the probe")
      try {
        dirs.put("/fake/corpus", "/fake/ver")
        val live = SparkEntry.oracleSql
        for (k <- backs(kind))
          assert(!live.contains(k), s"$k must go rows-only when $kind is ambiguous")
      } finally dirs.remove("/fake/corpus")
      // and they come back once unambiguous again
      for (k <- backs(kind))
        assert(SparkEntry.oracleSql.contains(k), s"$k must return after the probe")
    }
  }
}
