package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** Parquet table loaders for the driver-generated TPC-H-ish testdata
  * (TESTDATA.md). One parquet file per table under the sf dir.
  *
  * At cluster scale these would be partitioned/bucketed catalog tables;
  * the loaders keep the read declarative so Catalyst pushes filters and
  * prunes columns into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped relation cache. Every `spark.read.parquet` call
    * re-lists the directory and re-reads the parquet footer for schema
    * inference — driver-side work (a Spark job, for the footer read)
    * that a metastore-backed catalog does ONCE per table. Only
    * immutable parquet paths come through here: the sf dirs are
    * immutable corpus snapshots (the ScaleCheck replicas are
    * build-once behind a `_BUILT` marker), and a committed
    * [[graft.sources.AtomicPublish]] version dir is never rewritten
    * (its vacuum calls [[evict]]). Caching the resolved relation per
    * (session, path) is exactly the metadata caching a catalog table
    * gives on a cluster; mutable scratch dirs (sinks, staging) never
    * come through [[parquet]]. Keyed on the session because plans are
    * session-bound; sessions per JVM are few and bounded, so strong
    * keys are fine. */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The cached relation of an immutable parquet path. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    relationCache.computeIfAbsent((spark, path), key => key._1.read.parquet(key._2))

  /** Drop every cached relation at or under `dir` (it is being deleted). */
  private[graft] def evict(dir: String): Unit =
    relationCache.keySet.removeIf(k => k._2 == dir || k._2.startsWith(s"$dir/"))

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    * reader rejects. With spark.sql.legacy.parquet.nanosAsLong=true it
    * arrives as an int64 of nanoseconds; convert to a µs timestamp
    * (integer div → floor, matching DuckDB's ns→µs truncation). */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Load any table by name, with the per-table fixups applied
    * (events' nanosecond timestamp conversion). */
  def byName(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else load(s, d, name)

  /** Register every table as a temp view, making the whole engine
    * drivable from plain `spark.sql` — together with the
    * GraftExtensions-registered kernels (`graft_dot`,
    * `graft_bpe_tokens`, `graft_quantize_i8`, ...) a SQL-only user
    * gets the same codegen'd plans as the DataFrame API. */
  def registerViews(s: SparkSession, dir: String): Unit =
    names.foreach(n => byName(s, dir, n).createOrReplaceTempView(n))
}
