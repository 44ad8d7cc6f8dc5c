package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** A long-lived session pays each query's fixed cost once: the
  * generated-class cache holds graft's working set, and the status
  * store and exchange pools stay at the sizes [[GraftSession]] sets.
  * The cache size and pool caps are JVM-global and read when codegen
  * and the pools are first used, so this also proves the settings took
  * effect in the test JVM.
  */
class SessionStateSpec extends GraftSpec {

  /** The queries of perfbench's `sql_reads` and `corpus_reads`. */
  private val queryNames = "r1 r2 r5 r12 q1 q3 q9 q18 w9 n9 d12 t7 ts13 j5"
    .split(" ").toSeq.map { short =>
      val hit = SparkEntry.queries.keys.filter(_.startsWith(short + "_")).toSeq
      assert(hit.size == 1, s"$short names ${hit.size} queries")
      hit.head
    }

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs every query once; returns the classes each one compiled. */
  private def pass(): Seq[(String, Long)] = queryNames.map { name =>
    val before = compiled
    SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
    name -> (compiled - before)
  }

  test("a warm pass compiles nothing; status store and exchange pools stay capped") {
    pass()
    val recompiled = pass().filter(_._2 != 0)
    assert(recompiled.isEmpty, s"classes recompiled on the warm pass, per query: $recompiled")

    val store = spark.sharedState.statusStore
    eventually(timeout(30.seconds), interval(200.millis)) {
      assert(store.executionsList().size <= GraftSession.RetainedUiEntries)
    }
    val cap = GraftSession.ExchangeThreads
    val exchangeThreads = Thread.getAllStackTraces.keySet.asScala
      .count(_.getName.startsWith("shuffle-exchange-"))
    assert(exchangeThreads > 0 && exchangeThreads <= cap,
      s"$exchangeThreads live shuffle-exchange threads, cap $cap")
  }
}
