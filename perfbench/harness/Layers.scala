package perfbench

import graft.Tables
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Per-layer metrics of a traced run, named after graft's modules, from
  * a detached [[Tracer]]. Per-pass figures are means over the timed
  * passes; `sources.*` compare the cold pass with the timed ones. */
object Layers {
  /** Every kernel `GraftExtensions` registers, as SQL over a replicated
    * `documents` (text) or `embeddings` (v: array<double>) view. */
  val Kernels: Seq[(String, String)] = Seq(
    "graft_dot" -> "graft_dot(v, v) FROM perfbench_emb",
    "graft_quantize_i8" -> "graft_quantize_i8(v) FROM perfbench_emb",
    "graft_word_ngrams" -> "graft_word_ngrams(text, 3) FROM perfbench_docs",
    "graft_fingerprints" -> "graft_fingerprints(text, 8, 4) FROM perfbench_docs",
    "graft_simhash64" -> "graft_simhash64(text) FROM perfbench_docs",
    "graft_minhash32" -> "graft_minhash32(text) FROM perfbench_docs",
    "graft_bpe_tokens" -> "graft_bpe_tokens(text) FROM perfbench_docs",
    "graft_distinct_ngrams" -> "graft_distinct_ngrams(text, 3) FROM perfbench_docs",
    "graft_term_freqs" -> "graft_term_freqs(text) FROM perfbench_docs",
    "graft_ngram_freqs" -> "graft_ngram_freqs(text, 3) FROM perfbench_docs",
    "graft_repetition" -> "graft_repetition(text) FROM perfbench_docs")
  val ProbeCopies = 40

  def perLayer(t: Tracer, spark: SparkSession, dir: String, cores: Int, sessionStart: Double,
      cold: Seq[Harness.Sample], timed: Seq[Harness.Sample], passWalls: Seq[Double],
      stateBytes: Long, stateFiles: Long, traceFile: Path): mutable.LinkedHashMap[String, Double] = {
    val kernels = probeKernels(t, spark, dir)
    val peakBlocks = t.finish(fromPass = 1)
    val spans = t.all
    val n = passWalls.size.toDouble
    def timedSpans(name: String) = spans.filter(s => s.name == name && s.pass >= 1)
    def perPass(name: String, key: String) = timedSpans(name).map(_.get(key)).sum / n
    val construct = timedSpans("construct")
    val exec = timedSpans("exec")
    val constructS = construct.map(_.seconds).sum
    val planS = timedSpans("plan").map(_.seconds).sum
    val execS = exec.map(_.seconds).sum - planS
    val taskS = exec.map(_.get("task_s")).sum

    // cold minus steady construction, per query
    val jobsOf = spans.filter(_.name == "construct").groupBy(s => (s.pass, s.query))
      .map { case (k, v) => k -> v.map(_.get("jobs")).sum }
    val names = cold.map(_.query).distinct
    def steady(q: String) = timed.filter(_.query == q)
    def median(xs: Seq[Double]) = { val s = xs.sorted; if (s.isEmpty) 0.0 else s(s.size / 2) }
    val steadyJobs = names.map { q =>
      val ps = steady(q).map(_.pass)
      q -> ps.map(p => jobsOf.getOrElse((p, q), 0.0)).sum / math.max(1, ps.size)
    }.toMap
    val coldJobs = names.map(q => q -> jobsOf.getOrElse((0, q), 0.0)).toMap
    val buildS = cold.map(s => s.construct - median(steady(s.query).map(_.construct))).sum
    val artifactBacked = names.filter(q => coldJobs(q) > steadyJobs(q))

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("session.start_s") = sessionStart
    m("operators.construct_s") = constructS / n
    m("operators.construct_jobs") = perPass("construct", "jobs")
    m("operators.construct_share") = constructS / timedSpans("query").map(_.seconds).sum
    m("operators.pinned_mb") = peakBlocks / 1e6
    m("planning.analysis_s") = perPass("plan", "analysis_s")
    m("planning.optimization_s") = perPass("plan", "optimization_s")
    m("planning.physical_s") = perPass("plan", "physical_s")
    m("planning.aqe_replans") = perPass("exec", "aqe_replans")
    m("exec.s") = execS / n
    m("exec.jobs") = perPass("exec", "jobs")
    m("exec.stages") = perPass("exec", "stages")
    m("exec.task_s") = taskS / n
    m("exec.core_util") = taskS / (execS * cores)
    Seq("input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb").foreach(k =>
      m(s"exec.$k") = perPass("exec", k))
    val skews = exec.flatMap(s => t.skew.getOrElse(s.id, Nil)).sorted
    m("exec.skew") = if (skews.isEmpty) 1.0 else skews((0.9 * (skews.size - 1)).round.toInt)
    m("exec.gc_s") = perPass("exec", "gc_s")
    m("sources.build_s") = buildS
    m("sources.build_jobs") = names.map(q => coldJobs(q) - steadyJobs(q)).sum
    m("sources.bytes_written_mb") = stateBytes / 1e6
    m("sources.files_written") = stateFiles.toDouble
    m("sources.resolve_jobs") = artifactBacked.map(steadyJobs).sum
    kernels.foreach { case (k, v) => m(s"functions.$k.rows_per_s") = v }

    writeTrace(t, spans, traceFile, names, steady, jobsOf, cold)
    m
  }

  /** Times each kernel over an in-memory replica of its table: rows per
    * second of a noop write, median of three. */
  private def probeKernels(t: Tracer, spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val probe = t.open("probes", null, "probes", -2, "")
    t.tag(probe)
    val copies = spark.range(ProbeCopies).toDF("copy")
    val docs = Tables.documents(spark, dir).crossJoin(copies).select("text").cache()
    val emb = Tables.embeddings(spark, dir).crossJoin(copies)
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS v").cache()
    val rows = Map("perfbench_docs" -> docs.count(), "perfbench_emb" -> emb.count())
    docs.createOrReplaceTempView("perfbench_docs")
    emb.createOrReplaceTempView("perfbench_emb")
    val res = Kernels.map { case (name, sql) =>
      val view = sql.split(" ").last
      val secs = (1 to 3).map { _ =>
        val s = t.open("probe", probe, s"probe:$name", -2, name)
        t.tag(s)
        Harness.noop(spark.sql(s"SELECT $sql"))
        t.close(s)
        s.seconds
      }.sorted
      name -> rows(view) / secs(1)
    }
    t.tag(null)
    t.close(probe)
    docs.unpersist(); emb.unpersist()
    res
  }

  private def writeTrace(t: Tracer, spans: Seq[Span], file: Path, names: Seq[String],
      steady: String => Seq[Harness.Sample], jobsOf: Map[(Int, String), Double],
      cold: Seq[Harness.Sample]): Unit = {
    val t0 = spans.head.startNs
    val lines = mutable.ArrayBuffer.empty[String]
    for (s <- spans) {
      val j = new Json
      j.str("type", "span"); j.num("id", s.id); j.num("parent", s.parent); j.str("name", s.name)
      j.str("qid", s.qid); j.num("pass", s.pass); j.str("query", s.query)
      j.num("start_s", (s.startNs - t0) / 1e9); j.num("end_s", (s.endNs - t0) / 1e9)
      j.num("self_s", t.selfSeconds(s))
      s.counts.foreach { case (k, v) => j.num(k, v) }
      lines += j.render
    }
    // one summary line per query: means over its timed passes
    for (q <- names.sorted) {
      val st = steady(q)
      val qspans = spans.filter(s => s.query == q && s.pass >= 1)
      def mean(name: String, key: String) =
        qspans.filter(_.name == name).map(s => if (key == "s") s.seconds else s.get(key)).sum / math.max(1, st.size)
      val j = new Json
      j.str("type", "query"); j.str("query", q); j.num("samples", st.size)
      j.num("total_s", st.map(_.total).sum / math.max(1, st.size))
      j.num("construct_s", mean("construct", "s")); j.num("construct_jobs", mean("construct", "jobs"))
      j.num("plan_s", mean("plan", "s")); j.num("exec_s", mean("exec", "s") - mean("plan", "s"))
      Seq("jobs", "stages", "task_s", "shuffle_write_mb", "aqe_replans", "blocks_mb").foreach(k =>
        j.num(s"exec_$k", mean("exec", k)))
      j.num("construct_blocks_mb", mean("construct", "blocks_mb"))
      j.num("cold_construct_s", cold.find(_.query == q).map(_.construct).getOrElse(0.0))
      j.num("cold_construct_jobs", jobsOf.getOrElse((0, q), 0.0))
      lines += j.render
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
