package graft

import org.apache.spark.sql.SparkSession

/** Tuned `SparkSession` factory for the graft engine (SURVEY §3).
  *
  * Local settings mirror what a cluster deployment would set, scaled
  * to one JVM:
  *
  *  - `spark.sql.shuffle.partitions` = cores here; on a cluster size
  *    it to ~2-3× total executor cores, or leave AQE coalescing to
  *    shrink it per stage (enabled below).
  *  - AQE on: runtime re-planning gives skew-join splitting and
  *    partition coalescing — both matter more at 100 TB than locally.
  *  - Session timezone pinned to UTC and naive parquet timestamps read
  *    as UTC instants so results are engine- and host-independent
  *    (SURVEY §4 determinism rules).
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the testdata's events.ts
  *    is TIMESTAMP(NANOS), which the vectorized reader otherwise
  *    rejects; [[Tables.events]] converts the int64 to a µs timestamp.
  *
  * Cluster-only settings intentionally NOT set here (documented for
  * deployment): executor memory/cores, dynamic allocation,
  * `spark.sql.files.maxPartitionBytes` (default 128 MB is the right
  * starting point for 100 TB parquet scans), shuffle service, and
  * `spark.sql.autoBroadcastJoinThreshold` (default 10 MB; graft also
  * broadcasts explicitly where the plan knows a side is small).
  */
object GraftSession {

  /** Root for the DURABLE catalog state: the embedded-Derby Hive
    * metastore and the managed-table warehouse. Both outlive the
    * session, so `saveAsTable` + restart + `spark.table(...)` round-
    * trips — the reference's whole value is a persistent store
    * (hive-backend db.mjs:17-89), and a catalog that forgets its
    * tables on restart has no analog of it. On a cluster this would
    * be a shared metastore service (or Unity/Glue) + object-store
    * warehouse; embedded Derby is the single-node stand-in. */
  def defaultStateDir: String = s"${sys.props("java.io.tmpdir")}/graft_state"

  /** Builder with graft's engine settings; callers may override.
    * `stateDir` holds the Derby metastore + warehouse (see
    * [[defaultStateDir]]); point it elsewhere for an isolated
    * catalog (the restart spec does). */
  def builder(cores: Int, stateDir: String = defaultStateDir): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .enableHiveSupport() // durable catalog: Hive metastore on Derby
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.warehouse.dir", s"$stateDir/warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$stateDir/metastore_db;create=true")
      // each Hive client session makes a `<session id>_resources` dir
      // (default: straight in java.io.tmpdir, never removed); keep them
      // under a per-process root that is deleted at JVM exit
      .config("spark.hadoop.hive.downloaded.resources.dir",
        s"${TmpRoots.perProcess("graft_hive")}/$${hive.session.id}_resources")
      .config("spark.ui.enabled", "false")

  /** Standard local session (the driver mains and tests use this). */
  def local(cores: Int): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
