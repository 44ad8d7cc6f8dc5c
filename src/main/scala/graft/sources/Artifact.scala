package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** One durable per-corpus artifact, declared once: an ingest-time
  * result behind an [[AtomicPublish]] pointer (SURVEY §3), the way a
  * metastore is the single catalog of where each table lives. The
  * declaration owns the four decisions every artifact shares:
  *
  *  - **root** — `${GraftSession.defaultStateDir}/<kind>/<corpus>-<fp>`.
  *    Every kind has its OWN base dir: [[DurableIndex.ensure]]'s lazy
  *    sibling vacuum treats same-prefix roots under one base as stale
  *    fingerprints of the same artifact, so two kinds sharing a base
  *    would vacuum each other.
  *  - **fingerprint** — a metadata hash of the first table's parquet
  *    (file names, lengths, mtimes — no data scan; the object-store
  *    analog hashes the listing's ETags), salted with the recipe string
  *    and with the other tables' fingerprints. A regenerated corpus
  *    moves the artifact to a NEW root while readers mid-flight on the
  *    old corpus keep a consistent old version. The recipe names the
  *    build parameters (caps, kernels, output-schema version): an
  *    artifact is a function of (corpus, recipe), so bumping the recipe
  *    forces a rebuild instead of silently serving one built under old
  *    parameters. An artifact over no table hashes the recipe alone
  *    (k-core keys on its upstream's committed version).
  *  - **build** — the [[DurableIndex.ensure]] fence around a build that
  *    publishes at that one root, at most once across threads and
  *    processes.
  *  - **oracle version hook** — the committed version dir a DuckDB
  *    oracle replays, recorded per corpus dir by the query that reads
  *    it ([[recordVersion]]). [[oracleVersion]] offers it only when
  *    exactly ONE corpus dir recorded it in this JVM: no single SQL
  *    text is right for two corpora, so ambiguity means rows-only,
  *    never a wrong-corpus oracle.
  *
  * A recipe that takes a parameter (g4's hub cap, the media-cluster
  * codec) is a `def` returning the declaration; the kind, and so the
  * hook, is shared across parameters. An artifact that ingest batches
  * maintain is an [[Artifact.Incremental]].
  */
class Artifact private[sources] (kind: String, tables: Seq[String],
    recipe: () => String) {

  private[graft] def fingerprint(dir: String): String = tables match {
    case Seq() => Artifact.hash(Seq(recipe()))
    case first +: rest => Artifact.fingerprint(s"$dir/$first.parquet",
      recipe() + rest.map(t => Artifact.fingerprint(s"$dir/$t.parquet")).mkString)
  }

  /** `<base>/<sanitized dir>-<fingerprint>`; '-' cannot appear in the
    * sanitized name, so it unambiguously separates name from
    * fingerprint (the vacuum's prefix match depends on that). */
  def root(dir: String): String =
    s"${graft.GraftSession.defaultStateDir}/$kind/" +
      s"${dir.replaceAll("[^A-Za-z0-9]", "_")}-${fingerprint(dir)}"

  /** Ensure `dir`'s root holds a committed version: under the
    * [[DurableIndex.ensure]] fence, `outputs` become the first version
    * ([[publishBase]]), at most once across threads and processes.
    * Returns the root. */
  def ensure(s: SparkSession, dir: String)(
      outputs: => Seq[(String, DataFrame)]): String = {
    val r = root(dir)
    DurableIndex.ensure(s, r)(publishBase(s, r, outputs))
  }

  /** Publish `outputs` as the next version at `root`. */
  def publishBase(s: SparkSession, root: String,
      outputs: Seq[(String, DataFrame)]): String =
    AtomicPublish.publish(s, root, outputs)

  /** Resolve `dir`'s committed version dir (loudly: a missing commit
    * throws rather than naming a never-read version) and record it as
    * the one this JVM's oracles replay. */
  def recordVersion(s: SparkSession, dir: String): Unit = {
    val r = root(dir)
    val v = AtomicPublish.currentVersion(s, r).getOrElse(
      throw new IllegalStateException(s"$kind: no committed version under $r"))
    Artifact.committedVersions
      .computeIfAbsent(kind, _ => new java.util.concurrent.ConcurrentHashMap())
      .put(dir, s"$r/versions/$v")
  }

  /** The recorded version dir when exactly one corpus dir recorded it. */
  def oracleVersion: Option[String] =
    Option(Artifact.committedVersions.get(kind)).filter(_.size == 1)
      .map(_.values.iterator.next())
}

object Artifact {

  def apply(kind: String, tables: String*)(recipe: => String): Artifact =
    new Artifact(kind, tables, () => recipe)

  /** An artifact maintained by ingest batches: `increment(s, root,
    * batch, batchId)` returns version N+1's outputs from version N's
    * committed outputs (read at `root`) plus only `batch`. */
  def incremental(kind: String, tables: String*)(recipe: => String)(
      increment: (SparkSession, String, DataFrame, Long) => Seq[(String, DataFrame)])
      : Incremental =
    new Incremental(kind, tables, () => recipe, increment)

  /** The output that records every applied batch id. */
  val Ledger = "ledger"

  /** The one exactly-once batch protocol. Every version carries the
    * [[Ledger]] output (`batch_id BIGINT`): empty in the base version,
    * and each increment appends its batch id in the SAME
    * [[AtomicPublish.publish]] as the outputs it derives, so the ledger
    * can be neither ahead of nor behind the data it describes. A batch
    * replayed after a crash between a publish and the stream's offset
    * commit (the classic dual-write hole) is found in the committed
    * ledger and skipped. */
  final class Incremental private[Artifact] (kind: String, tables: Seq[String],
      recipe: () => String,
      increment: (SparkSession, String, DataFrame, Long) => Seq[(String, DataFrame)])
      extends Artifact(kind, tables, recipe) {

    /** `outputs` plus the empty ledger. */
    override def publishBase(s: SparkSession, root: String,
        outputs: Seq[(String, DataFrame)]): String = {
      import s.implicits._
      super.publishBase(s, root, outputs :+ (Ledger -> Seq.empty[Long].toDF("batch_id")))
    }

    /** Publish version N+1: the increment's outputs over `batch`, and
      * the ledger with `batchId` appended. Returns the version. */
    def publishIncrement(s: SparkSession, root: String, batch: DataFrame,
        batchId: Long = -1L): String = {
      import s.implicits._
      super.publishBase(s, root, increment(s, root, batch, batchId) :+
        (Ledger -> AtomicPublish.readOutput(s, root, Ledger)
          .unionByName(Seq(batchId).toDF("batch_id"))))
    }

    /** Apply one ingest batch EXACTLY ONCE: a batch id already in the
      * committed ledger, or an empty batch (a watermark-only trigger,
      * whose version bump would only churn the vacuum horizon), is a
      * no-op. Returns whether a version was published. */
    def applyBatch(s: SparkSession, root: String, batch: DataFrame,
        batchId: Long): Boolean = {
      val applied = AtomicPublish.readOutput(s, root, Ledger)
        .filter(col("batch_id") === batchId).limit(1).count() > 0
      if (!applied && !batch.isEmpty) {
        publishIncrement(s, root, batch, batchId)
        true
      } else false
    }

    /** The streaming ingest endpoint: each micro-batch of `rows` goes
      * through [[applyBatch]] under its micro-batch id inside
      * `foreachBatch` (the transactional streaming-sink idiom), so
      * readers always see a committed snapshot and a replayed
      * micro-batch is refused by the ledger. */
    def streamingMaintenance(rows: DataFrame, root: String, checkpoint: String,
        trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
      rows.writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          applyBatch(batch.sparkSession, root, batch.toDF(), id)
          ()
        }
        .start()

    /** Ensure `dir`'s root holds the post-ingest snapshot: under one
      * [[DurableIndex.ensure]] fence, the base slice's outputs become
      * the base version and the batch slice is applied as its first
      * increment (batch id −1). `slices` yields (base outputs, batch).
      * Returns the root. */
    def ensureIngested(s: SparkSession, dir: String)(
        slices: => (Seq[(String, DataFrame)], DataFrame)): String = {
      val r = root(dir)
      DurableIndex.ensure(s, r) {
        val (base, batch) = slices
        publishBase(s, r, base)
        publishIncrement(s, r, batch)
      }
    }
  }

  /** kind → corpus dir → committed version dir (see [[recordVersion]]). */
  private[graft] val committedVersions = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, String]]()

  private def hash(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** Metadata fingerprint of one parquet path, salted with `params`. */
  private def fingerprint(parquetPath: String, params: String = ""): String = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(parquetPath)
    val entries: Seq[String] =
      if (Files.isDirectory(root)) {
        val st = Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
            s"${root.relativize(p)}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
            .toVector.sorted
        } finally st.close()
      } else if (Files.exists(root))
        Seq(s"${Files.size(root)}:${Files.getLastModifiedTime(root).toMillis}")
      else Seq("absent")
    hash(entries :+ s"params:$params")
  }
}
