package graft

import graft.sources.{AtomicPublish, Migrations}
import org.apache.spark.sql.functions._

/** The migration-ledger protocol (SURVEY §2 row 105): staged
  * migrations apply exactly once, re-runs are no-ops that rewrite
  * nothing, and a partially-migrated root resumes from the committed
  * version — the `PRAGMA user_version` contract (db.mjs:440-505) on
  * parquet.
  */
class MigrationsSpec extends GraftSpec {

  private def freshRoot(name: String): String = s"${tempDir("migrations")}/$name"

  test("migrate applies the full list once; the ledger records per-version audit stats") {
    val root = freshRoot("full")
    val applied = Migrations.migrate(spark, root, Tables.events(spark, sf))
    assert(applied == Seq(1, 2, 3))
    assert(Migrations.appliedVersion(spark, root) == 3)
    val ledger = Migrations.sc2MigrationLedger(spark, sf).collect()
    assert(ledger.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // audit stats: v3 dropped exactly the null-user rows, sum unchanged
    val led = AtomicPublish.readOutput(spark, root, "schema_versions")
      .orderBy("version").collect()
    val total = Tables.events(spark, sf).count()
    val nonNull = Tables.events(spark, sf).filter(col("user_id").isNotNull).count()
    assert(led(0).getAs[Long]("n_rows") == total)
    assert(led(2).getAs[Long]("n_rows") == nonNull)
    assert(led(0).getAs[Long]("sum_user") == led(2).getAs[Long]("sum_user"))
    // migrated data has the derived column and the enforced constraint
    val data = AtomicPublish.readOutput(spark, root, "data")
    assert(data.columns.contains("day"))
    assert(data.filter(col("user_id").isNull).count() == 0)
  }

  test("re-running the migrator is a no-op: nothing applied, no new publish version") {
    val root = freshRoot("noop")
    assert(Migrations.migrate(spark, root, Tables.events(spark, sf)).nonEmpty)
    val vBefore = AtomicPublish.currentVersion(spark, root)
    val again = Migrations.migrate(spark, root, Tables.events(spark, sf))
    assert(again.isEmpty, "already-current root must apply nothing")
    assert(AtomicPublish.currentVersion(spark, root) == vBefore,
      "a no-op run must not commit a new version")
  }

  test("a root stopped at v1 resumes with only the pending suffix and converges to the full-run state") {
    val root = freshRoot("resume")
    val first = Migrations.migrate(spark, root, Tables.events(spark, sf),
      Migrations.eventMigrations.take(1))
    assert(first == Seq(1))
    val resumed = Migrations.migrate(spark, root, Tables.events(spark, sf))
    assert(resumed == Seq(2, 3), "resume must apply only versions past the ledger")
    val full = freshRoot("resume_ref")
    Migrations.migrate(spark, full, Tables.events(spark, sf))
    val a = AtomicPublish.readOutput(spark, root, "schema_versions")
      .orderBy("version").collect().toSeq
    val b = AtomicPublish.readOutput(spark, full, "schema_versions")
      .orderBy("version").collect().toSeq
    assert(a == b, "resumed ledger must equal the one-shot ledger")
  }
}
