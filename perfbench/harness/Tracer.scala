package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** One timed interval: run, session, pass, query, or a layer inside a
  * query (construct, plan, exec), or a kernel probe. All spans of one
  * query share `qid`. */
final class Span(val id: Int, val parent: Int, val name: String, val qid: String,
    val pass: Int, val query: String) {
  var startNs, endNs, startMs, endMs = 0L
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  def add(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v
  def get(key: String): Double = counts.getOrElse(key, 0.0)
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** Spans kept in memory, plus the Spark events that the open span caused.
  *
  * Attribution: before each construct/exec call the calling thread sets
  * the `perfbench.span` local property; every job carries it, stages and
  * tasks map to their job, RDD blocks to the stage that first computed
  * the RDD, AQE updates to their SQL execution. A job submitted from a
  * pool thread can carry a stale inherited property; such a job is
  * re-attributed to the leaf span open at its submission time. Query
  * planning phases arrive through a `QueryExecutionListener` and map to
  * the leaf span open when analysis started. Nothing is resolved until
  * `finish`, after the listener bus is drained. */
final class Tracer(spark: SparkSession) {
  val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]

  def open(name: String, parent: Span, qid: String, pass: Int, query: String): Span = {
    val s = new Span(spans.size, if (parent == null) -1 else parent.id, name, qid, pass, query)
    spans += s
    s.startMs = System.currentTimeMillis(); s.startNs = System.nanoTime()
    s
  }
  def close(s: Span): Unit = { s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis() }
  def tag(s: Span): Unit = sc.setLocalProperty(Prop, if (s == null) null else s.id.toString)

  /** Runs `body` inside a child span of `parent`, tagged so that the
    * Spark work it causes is attributed to it. */
  def within[T](name: String, parent: Span)(body: => T): T = {
    val s = open(name, parent, parent.qid, parent.pass, parent.query)
    tag(s)
    try body finally { close(s); tag(parent) }
  }

  private final class JobRec(val span: Int, val timeMs: Long, val execId: Long)
  private final class StageRec {
    var tasks, runMs, gcMs, inBytes, shRead, shWrite, spill = 0L
    val durs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val rddStage = mutable.HashMap.empty[Int, Int]
  private val blockEvents = mutable.ArrayBuffer.empty[(String, Int, Long)]
  private val aqe = mutable.HashMap.empty[Long, Int]
  private val qes = mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]
  private val PhaseKeys = Seq("analysis" -> "analysis_s", "optimization" -> "optimization_s",
    "planning" -> "physical_s")

  /** Max/median task time of each multi-task stage, by span id. */
  val skew: mutable.Map[Int, mutable.ArrayBuffer[Double]] = mutable.HashMap.empty

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(Prop))).map(_.toInt).getOrElse(-1)
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobRec(span, e.time, exec)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val id = e.stageInfo.stageId
      stages.getOrElseUpdate(id, new StageRec)
      e.stageInfo.rddInfos.foreach(r => if (!rddStage.contains(r.id)) rddStage(r.id) = id)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new StageRec)
      st.tasks += 1
      st.durs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.inBytes += m.inputMetrics.bytesRead
        st.shRead += m.shuffleReadMetrics.totalBytesRead
        st.shWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rdd, _) =>
          val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          blockEvents += ((info.blockId.name, rdd, size))
        case _ =>
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
        aqe(u.executionId) = aqe.getOrElse(u.executionId, 0) + 1
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) }
      if (ph.nonEmpty) Tracer.this.synchronized { qes += ph }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(): Unit = { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
  def detach(): Unit = {
    org.apache.spark.BusDrain.drain(sc)
    sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener); tag(null)
  }

  private val Leaves = Set("construct", "exec", "probe", "probes", "session")
  private def leafAt(ms: Long): Option[Span] =
    spans.filter(s => Leaves(s.name) && s.contains(ms)).maxByOption(_.startMs)

  private def jobSpan(j: JobRec): Option[Span] = {
    val tagged = if (j.span >= 0 && j.span < spans.size) Some(spans(j.span)) else None
    tagged.filter(_.contains(j.timeMs)).orElse(leafAt(j.timeMs)).orElse(tagged)
  }

  /** Resolves every recorded event onto its span, adds the `plan`
    * spans, and returns the peak live RDD-block bytes seen while a
    * span of pass >= `fromPass` was storing blocks. */
  def finish(fromPass: Int): Long = synchronized {
    val execSpan = mutable.HashMap.empty[Long, Span]
    val jobOf = jobs.map { case (id, j) =>
      val s = jobSpan(j)
      s.foreach { sp =>
        sp.add("jobs", 1)
        if (j.execId >= 0) execSpan.getOrElseUpdate(j.execId, sp)
      }
      id -> s
    }
    def stageSpan(stage: Int): Option[Span] = stageJob.get(stage).flatMap(jobOf.getOrElse(_, None))
    for ((id, st) <- stages; sp <- stageSpan(id)) {
      sp.add("stages", 1)
      sp.add("tasks", st.tasks.toDouble)
      sp.add("task_s", st.runMs / 1e3)
      sp.add("gc_s", st.gcMs / 1e3)
      sp.add("input_mb", st.inBytes / 1e6)
      sp.add("shuffle_read_mb", st.shRead / 1e6)
      sp.add("shuffle_write_mb", st.shWrite / 1e6)
      sp.add("spill_mb", st.spill / 1e6)
      if (st.durs.size >= 2) {
        val d = st.durs.sorted
        val med = math.max(1L, d(d.size / 2))
        skew.getOrElseUpdate(sp.id, mutable.ArrayBuffer.empty) += d.last.toDouble / med
      }
    }
    for ((exec, n) <- aqe; sp <- execSpan.get(exec)) sp.add("aqe_replans", n.toDouble)
    for (q <- qes) {
      val start = q.values.map(_._1).min
      val end = q.values.map(_._2).max
      leafAt(start).foreach { leaf =>
        val target = if (leaf.name != "exec") leaf else {
          val p = new Span(spans.size, leaf.parent, "plan", leaf.qid, leaf.pass, leaf.query)
          p.startMs = start; p.endMs = end
          p.startNs = leaf.startNs + (start - leaf.startMs) * 1000000L
          p.endNs = p.startNs + (end - start) * 1000000L
          spans += p
          p
        }
        for ((phase, key) <- PhaseKeys; (a, b) <- q.get(phase)) target.add(key, (b - a) / 1e3)
      }
    }
    val live = mutable.HashMap.empty[String, Long]
    var total, peak = 0L
    for ((block, rdd, size) <- blockEvents) {
      val sp = rddStage.get(rdd).flatMap(stageSpan)
      val before = live.getOrElse(block, 0L)
      if (size > 0) live(block) = size else live.remove(block)
      total += size - before
      if (size > before) sp.foreach(_.add("blocks_mb", (size - before) / 1e6))
      if (sp.exists(_.pass >= fromPass)) peak = math.max(peak, total)
    }
    peak
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time: the span minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0L
    var curS, curE = -1L
    for ((a, b) <- kids) {
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }
}
