package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one per forked test JVM;
  * config mirrors Verify so specs see the same semantics the driver
  * does). Tests run on sf0.001 for speed — correctness at sf0.01 is
  * the DuckDB oracle's job (tools/oracle_check.py).
  */
object GraftTestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftTestSpark.spark
  val sf: String = GraftTestSpark.sf

  /** A fresh dir under this JVM's `graft_spec` scratch root, which
    * [[TmpRoots]] removes when the JVM exits (and Bench's stale sweep
    * removes if the JVM was killed). */
  def tempDir(prefix: String): String = Files.createTempDirectory(
    Files.createDirectories(Paths.get(TmpRoots.perProcess("graft_spec"))),
    prefix).toString
}
