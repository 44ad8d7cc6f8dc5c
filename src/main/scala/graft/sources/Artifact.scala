package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * hook, is shared across parameters.
  */
final class Artifact private (kind: String, tables: Seq[String],
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

  /** Ensure `dir`'s root holds a committed version, running `publishAt`
    * (which must end in an [[AtomicPublish.publish]] at the root it is
    * handed) at most once. Returns the root. */
  def build(s: SparkSession, dir: String)(publishAt: String => Unit): String = {
    val r = root(dir)
    DurableIndex.ensure(s, r)(publishAt(r))
  }

  /** [[build]] for the common single-publish recipe: `outputs` become
    * the first committed version. */
  def ensure(s: SparkSession, dir: String)(
      outputs: => Seq[(String, DataFrame)]): String =
    build(s, dir)(r => AtomicPublish.publish(s, r, outputs))

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
