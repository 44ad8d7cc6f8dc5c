package perfbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Drives graft from outside through `SparkEntry.queries`, one client in
  * a closed loop: the next query starts only when the previous noop
  * write returned.
  *
  * A run: host calibration, session start, one cold pass over the
  * workload's queries on empty state, one untimed check pass that
  * writes every query's output as parquet for the caller to digest, one
  * untimed warm-up pass, then timed passes (each in a seed-permuted order) until `seconds`
  * have passed and at least `minSamples` queries ran, then live heap
  * after GC, then the calibration again. With `trace=1` the
  * same run also records spans (see [[Tracer]]), runs the kernel probes,
  * and times one extra untraced pass for the tracing overhead.
  *
  * Arguments are `key=value`: queries (comma-separated; a key
  * of `SparkEntry.queries` up to its first `_`, or a longer prefix), seed, seconds, minSamples, trace, data
  * (the sf dir), cores, out (result dir). Results go to `out/result.json`,
  * spans to `out/trace.jsonl`, check outputs to `out/check/<query>`.
  */
object Harness {
  final case class Sample(pass: Int, query: String, total: Double, construct: Double, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val minSamples = opt("minSamples").toInt
    val traced = opt("trace") == "1"
    val dir = opt("data")
    val cores = opt("cores").toInt
    val out = Paths.get(opt("out"))

    val calibBefore = Calib.seconds(cores)
    val fns = SparkEntry.queries
    val names = opt("queries").split(",").toSeq.map { short =>
      val hit = fns.keys.filter(k => k == short || k.startsWith(if (short.contains("_")) short else short + "_"))
      require(hit.size == 1, s"query '$short' matches ${hit.mkString("[", ",", "]")}")
      hit.head
    }

    val (tSession, tSessionMs) = (System.nanoTime(), System.currentTimeMillis())
    val spark = GraftSession.builder(cores)
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.local.dir", opt("sparkLocal"))
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - tSession) / 1e9
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    var tracing = traced
    def live = tracer.filter(_ => tracing)
    val run = tracer.map { t =>
      val r = t.open("run", null, "run", -1, "")
      val s = t.open("session", r, "session", -1, "")
      t.close(s)
      r.startNs = tSession; r.startMs = tSessionMs; s.startNs = tSession; s.startMs = tSessionMs
      r
    }

    def runQuery(pass: Int, passSpan: Option[Span], name: String): Sample = {
      val qs = for (t <- live; p <- passSpan) yield t.open("query", p, s"p$pass:$name", pass, name)
      qs.foreach(s => tracer.get.tag(s))
      val t0 = System.nanoTime()
      var t1 = t0
      var error: String = null
      try {
        val df = qs match {
          case Some(q) => tracer.get.within("construct", q)(fns(name)(spark, dir))
          case None => fns(name)(spark, dir)
        }
        t1 = System.nanoTime()
        qs match {
          case Some(q) => tracer.get.within("exec", q)(noop(df))
          case None => noop(df)
        }
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          System.err.println(s"[perfbench] pass $pass $name failed: $error")
      }
      val t2 = System.nanoTime()
      for (t <- live; q <- qs) { t.close(q); t.tag(null) }
      Sample(pass, name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, error)
    }

    def runPass(pass: Int): (Double, Seq[Sample]) = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val ps = for (t <- live; r <- run) yield t.open("pass", r, s"pass$pass", pass, "")
      val t0 = System.nanoTime()
      val samples = order.map(runQuery(pass, ps, _))
      val wall = (System.nanoTime() - t0) / 1e9
      for (t <- live; p <- ps) t.close(p)
      System.err.println(f"[perfbench] pass $pass: ${samples.size} queries in $wall%.2f s")
      (wall, samples)
    }

    val (coldWall, coldSamples) = runPass(0)
    val (stateBytes, stateFiles) = treeSize(Paths.get(sys.props("java.io.tmpdir")))

    // Untimed check pass on the state the cold pass left: every query's
    // output as parquet, for the caller to digest. It also serves as the
    // second warm-up pass, so timed passes start closer to steady state.
    val tCheck = System.nanoTime()
    val checkErrors = new Json
    for (name <- names.sorted) {
      try fns(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve("check").resolve(name).toString)
      catch {
        case e: Throwable =>
          checkErrors.str(name, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
    }
    val checkPass = (System.nanoTime() - tCheck) / 1e9
    // One more untimed pass: the first timed pass was otherwise 20-40%
    // slower than the last while the JIT caught up, which spread p75
    // from run to run with the host's speed.
    runPass(-1)

    val firstTimedMs = System.currentTimeMillis()
    val timedStart = System.nanoTime()
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val timed = mutable.ArrayBuffer.empty[Sample]
    while ((System.nanoTime() - timedStart) / 1e9 < seconds || timed.size < minSamples) {
      val (wall, samples) = runPass(passWalls.size + 1)
      passWalls += wall
      timed ++= samples
    }
    val heapMb = liveHeapMb()

    val json = new Json
    json.raw("queries", names.map(Json.quote).mkString("[", ",", "]"))
    json.num("session_start_s", sessionStart)
    json.num("calib_before_s", calibBefore)
    json.num("cold_pass_s", coldWall)
    json.num("check_pass_s", checkPass)
    json.raw("check_errors", checkErrors.render)
    json.num("first_timed_epoch_ms", firstTimedMs.toDouble)
    json.num("state_bytes", stateBytes.toDouble)
    json.num("state_files", stateFiles.toDouble)
    json.num("heap_live_mb", heapMb)
    json.arr("pass_walls", passWalls.toSeq)
    json.raw("samples", (coldSamples ++ timed).map { s =>
      val j = new Json
      j.num("pass", s.pass); j.str("query", s.query); j.num("total_s", s.total)
      j.num("construct_s", s.construct)
      if (s.error != null) j.str("error", s.error)
      j.render
    }.mkString("[", ",", "]"))

    System.err.println(f"[perfbench] heap after GC $heapMb%.1f MB")
    for (t <- tracer; r <- run) {
      t.close(r)
      t.detach()
      // one more pass with tracing off, right after the last traced one
      // (the JIT is still warming, so earlier passes would overstate it)
      tracing = false
      val (untraced, _) = runPass(passWalls.size + 1)
      val layers = Layers.perLayer(t, spark, dir, cores, sessionStart, coldSamples, timed.toSeq,
        passWalls.toSeq, stateBytes, stateFiles, out.resolve("trace.jsonl"))
      layers("trace.overhead") = passWalls.last / untraced - 1
      json.raw("per_layer", layers.map { case (k, v) => Json.quote(k) + ":" + Json.number(v) }
        .mkString("{", ",", "}"))
    }

    val oracle = new Json
    names.sorted.foreach(n => SparkEntry.oracleSql.get(n).foreach(oracle.str(n, _)))
    Files.writeString(out.resolve("oracle.json"), oracle.render + "\n")
    spark.stop()
    json.num("calib_after_s", Calib.seconds(cores))
    Files.writeString(out.resolve("result.json"), json.render + "\n")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bytes and files under `root`, e.g. the run's private graft state. */
  def treeSize(root: Path): (Long, Long) = {
    val s = Files.walk(root)
    try {
      var bytes, files = 0L
      s.filter(Files.isRegularFile(_)).forEach { p => bytes += Files.size(p); files += 1 }
      (bytes, files)
    } finally s.close()
  }

  /** Heap in use after a full GC: the least of five readings, 100 ms
    * apart, so that objects Spark's ContextCleaner releases after the
    * first collection are not counted as live. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }
}

/** A fixed pure-JVM CPU loop on `cores` threads; its wall time tells a
  * slow host window from a slow program. Never used to normalize. */
object Calib {
  private def spin(n: Int): Long = {
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x % 1000003L
      i += 1
    }
    acc
  }
  def seconds(cores: Int): Double = {
    spin(1000000)
    val t0 = System.nanoTime()
    val threads = (1 to cores).map { _ =>
      val th = new Thread(() => if (spin(150000000) == 42L) println())
      th.start(); th
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON object writer for the result file. */
final class Json {
  private val parts = mutable.ArrayBuffer.empty[String]
  def num(k: String, v: Double): Unit = parts += Json.quote(k) + ":" + Json.number(v)
  def str(k: String, v: String): Unit = parts += Json.quote(k) + ":" + Json.quote(v)
  def arr(k: String, vs: Seq[Double]): Unit = parts += Json.quote(k) + ":" + vs.map(Json.number).mkString("[", ",", "]")
  def raw(k: String, v: String): Unit = parts += Json.quote(k) + ":" + v
  def render: String = parts.mkString("{", ",", "}")
}
object Json {
  def number(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def quote(s: String): String = "\"" + graft.JsonUtil.escape(s) + "\""
}
