package graft.sources

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** All-or-nothing publication of MULTIPLE outputs — the reference
  * wraps its multi-table cleanup in BEGIN TRANSACTION/COMMIT
  * (hive-backend db.mjs:467-471); a pipeline writing corpus + index +
  * stats needs the same guarantee on plain parquet (no table-format
  * jars in this build). The classic staging-dir + last-good-pointer
  * pattern:
  *
  *  - every output of version N is written under
  *    `<root>/versions/vN/<output>/` (staging: invisible to readers,
  *    whatever partial state a crash leaves there is inert garbage);
  *  - the `LATEST` pointer file names the committed version; readers
  *    resolve it FIRST and then read only that version's outputs, so
  *    a consistent pair is always visible;
  *  - commit is ONE atomic pointer swap: write `LATEST.tmp`, then
  *    `FileContext.rename(..., OVERWRITE)` — atomic on HDFS and posix
  *    filesystems (on S3-style stores the same role is played by a
  *    conditional PUT of the pointer object).
  *
  * A crash between output writes, or after all writes but before the
  * swap, leaves readers on the old version with BOTH outputs
  * consistent — asserted by PublishSpec's crash-window test.
  * [[vacuum]] is the transaction-log GC: it drops every version
  * directory except the committed one (aborted stagings and
  * superseded versions alike).
  */
object AtomicPublish {

  private val Pointer = "LATEST"

  private def fc(s: SparkSession, root: String): FileContext =
    FileContext.getFileContext(new Path(root).toUri, s.sparkContext.hadoopConfiguration)

  /** The committed version name, if any publish ever completed. */
  def currentVersion(s: SparkSession, root: String): Option[String] = {
    val ctx = fc(s, root)
    val p = new Path(s"$root/$Pointer")
    if (!ctx.util.exists(p)) None
    else {
      val in = ctx.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }
  }

  /** Committed version as a number; a corrupted/unparseable pointer is
    * treated as no-commit rather than thrown on, so a damaged pointer
    * file degrades to "no committed version" instead of wedging every
    * caller (publish, vacuum, diff) on a NumberFormatException. */
  private def currentVersionNum(s: SparkSession, root: String): Option[Long] =
    currentVersion(s, root).flatMap(_.stripPrefix("v").toLongOption)

  /** The next version lies above the pointer AND above every existing
    * `versions/vN` dir, so a publish never rewrites a version dir: not
    * after a corrupt pointer (which would restart at v1 under v1's
    * readers), nor over an aborted staging. Committed version dirs are
    * therefore immutable, which is what lets [[readOutput]] cache their
    * relations. */
  private def nextVersion(s: SparkSession, root: String): String =
    "v" + ((versionDirs(s, root).flatMap(_._2) ++ currentVersionNum(s, root))
      .maxOption.getOrElse(0L) + 1)

  /** Every dir under `versions/` (committed, superseded or staged) with its
    * version number, if the name parses as one. */
  private def versionDirs(s: SparkSession, root: String): Seq[(Path, Option[Long])] = {
    val versions = new Path(s"$root/versions")
    val fs = versions.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(versions)) Nil
    else fs.listStatus(versions).toSeq.map(st =>
      st.getPath -> st.getPath.getName.stripPrefix("v").toLongOption)
  }

  /** Stage one output of an uncommitted version (invisible until
    * [[commit]]). */
  def stage(s: SparkSession, root: String, version: String,
      name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/versions/$version/$name")

  /** Atomically flip readers to `version`: tmp-file write + overwrite
    * rename of the pointer. Everything before this call is invisible;
    * everything after it is the new consistent set. */
  def commit(s: SparkSession, root: String, version: String): Unit = {
    val ctx = fc(s, root)
    val tmp = new Path(s"$root/$Pointer.tmp")
    val dst = new Path(s"$root/$Pointer")
    val out = ctx.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(version.getBytes("UTF-8")) finally out.close()
    ctx.rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  /** Publish all outputs as one transaction: stage every DataFrame
    * under the next version, then one atomic pointer swap. Returns
    * the committed version.
    *
    * Multi-output stages run CONCURRENTLY (r16, guide §5 driver
    * discipline): each output writes its own staging subdir and the
    * pointer flips once after all complete, so parallel staging
    * changes nothing transactional — it only overlaps the per-write
    * action latency that a sequential foreach paid N times (every
    * caller pins shared lineage via localCheckpoint before fanning
    * out, so concurrent stages never recompute a shared subtree;
    * Spark's scheduler interleaves the jobs on the same cores). Any
    * stage failure propagates before commit — the staging garbage is
    * vacuumed later, the pointer never moves. */
  def publish(s: SparkSession, root: String,
      outputs: Seq[(String, DataFrame)]): String = {
    val v = nextVersion(s, root)
    if (outputs.lengthCompare(1) <= 0)
      outputs.foreach { case (name, df) => stage(s, root, v, name, df) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(outputs.size, 4))
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        val staged = outputs.map { case (name, df) =>
          Future(stage(s, root, v, name, df))
        }
        // await ALL before commit; the first failure rethrows here
        Await.result(Future.sequence(staged),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
    commit(s, root, v)
    v
  }

  /** Read one output of the COMMITTED version — never a staging dir.
    * The version dir is immutable, so its relation comes from the
    * session's relation cache ([[graft.Tables.parquet]]): only the
    * first read of a version pays the listing and schema-inference job. */
  def readOutput(s: SparkSession, root: String, name: String): DataFrame =
    readOutputAt(s, root, currentVersion(s, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")), name)

  /** TIME TRAVEL: read one output of a specific RETAINED version (≤
    * the committed one and not yet vacuumed) — immutable version dirs
    * mean a historical read needs no locks and never blocks writers.
    * The caller names the version (from its own ledger or
    * [[currentVersion]] arithmetic); reading a vacuumed or
    * never-committed version fails on the missing path. */
  def readOutputAt(s: SparkSession, root: String, version: String,
      name: String): DataFrame =
    graft.Tables.parquet(s, s"$root/versions/$version/$name")

  /** GC with a retention window: keep the `keepLast` most recent
    * COMMITTED versions (time-travel horizon); drop everything else —
    * older versions, aborted stagings (crash garbage), and staged-
    * but-never-committed dirs above the pointer. keepLast = 1 is the
    * classic "current only" vacuum; keepLast < 1 is rejected because
    * it would delete the version LATEST points at.
    *
    * SINGLE-WRITER assumption (same as the reference's one SQLite
    * writer, db.mjs:17): vacuum treats any dir above the pointer as
    * crash garbage, so it must never run concurrently with another
    * process's in-flight publish — that publish's staging dir would be
    * deleted just before its commit flips the pointer to a missing
    * path. graft's callers satisfy this (per-process roots,
    * TmpRoots.scala); a multi-writer deployment would need a
    * commit-time grace window or a lease on the root. */
  def vacuum(s: SparkSession, root: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1,
      s"vacuum(keepLast=$keepLast) would delete the committed version")
    val cur = currentVersionNum(s, root)
    versionDirs(s, root).foreach { case (dir, n) =>
      if (!cur.exists(c => n.exists(v => v <= c && v > c - keepLast))) {
        graft.Tables.evict(s"$root/versions/${dir.getName}")
        dir.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dir, true)
      }
    }
  }
}
