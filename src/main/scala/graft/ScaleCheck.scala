package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale checkpoint (one-shot observational artifact, not a driver
  * gate): every per-round number in BENCH_r* is sf0.1, so nothing yet
  * demonstrates how the expensive plans GROW. The largest
  * driver-generated dataset is sf0.1, so this materializes a 10×
  * replica of it in scratch — key columns offset per replica (a true
  * sf1 has 10× the orders, not 10 copies of the same order key, so
  * join and group cardinalities must scale in the key domain), and
  * document text prefixed with a replica token (so shingle/minhash
  * near-dup structure replicates per shard instead of making every doc
  * a 10-way exact duplicate, which would quadratically inflate
  * within-bucket candidate pairs in a way no real corpus growth does).
  * Region/nation stay fixed, like TPC-H's constant dimensions. It then
  * runs every SparkEntry query (or those named in SPARK_GRAFT_ONLY)
  * and prints ONE JSON line in the Bench shape with the build cost
  * reported separately. Committed output: SCALECHECK_sf1.json, whose
  * `queries` keys are its SPARK_GRAFT_ONLY list; scaling analysis in
  * SURVEY §5.
  */
object ScaleCheck {

  /** Replication factor (SPARK_GRAFT_REPLICAS, default 10 = sf1). The
    * round-10 stretch checkpoint runs the worst scalers at 30 to show
    * the 10× trend holding toward 100×. */
  val Replicas: Int =
    sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
  /** Key offset per replica; far above any sf0.1 key. Tunable
    * (SPARK_GRAFT_STRIDE) because the b1/g3/g4 packed-pair int64 keys
    * need offset·replicas < 2^31: the default 1e8 holds to 21
    * replicas, the 30-replica stretch run passes 1e7 (still > every
    * sf0.1 key, which top out near 6e5). */
  val Stride: Long =
    sys.env.getOrElse("SPARK_GRAFT_STRIDE", "100000000").toLong

  /** table -> key columns that must move to a disjoint range per
    * replica (foreign keys offset in lockstep so joins stay intact) */
  val KeyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq.empty, "nation" -> Seq.empty,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def buildTable(s: SparkSession, srcDir: String, outDir: String,
      name: String): Unit = {
    val src = Tables.byName(s, srcDir, name)
    val keys = KeyCols(name)
    val out =
      if (keys.isEmpty) src
      else {
        val reps = broadcast(s.range(Replicas.toLong).select(col("id").as("__r")))
        val crossed = src.crossJoin(reps)
        val cols = src.columns.map { c =>
          if (keys.contains(c)) (col(c) + col("__r") * Stride).as(c)
          else if (name == "documents" && c == "text")
            concat(lit("r"), col("__r").cast("string"), lit(" "), col("text")).as(c)
          else if (name == "documents" && c == "n_chars")
            length(concat(lit("r"), col("__r").cast("string"), lit(" "), col("text")))
              .cast(src.schema(c).dataType).as(c)
          else col(c)
        }
        crossed.select(cols.toIndexedSeq: _*)
      }
    // Write SPLITTABLE replicas (r10 fix): crossJoin(broadcast) keeps
    // the source's 1-2 scan tasks, so the old build emitted one giant
    // row group per table (sf1 lineitem: a single 6M-row group) — and
    // parquet can't split a row group, so every downstream sf1 scan
    // ran on ONE thread and the checkpoint measured scan starvation,
    // not operator scaling (obt1: 44.5 s on the old layout, 7× the
    // rewritten one). A real corpus at this volume is many files; the
    // fixed-count repartition below mirrors that (round-robin, ~a few
    // MB per file at 10-30×).
    val parts = if (keys.isEmpty) 1 else 32
    out.repartition(parts).write.mode("overwrite")
      .parquet(s"$outDir/$name.parquet")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The scratch dir is KEYED BY (replicas, stride): the old fixed
    // default ("/tmp/graft_sf1") let a 30-replica run silently reuse a
    // 10-replica dataset built by an earlier invocation — the _BUILT
    // marker gates on existence only, so the "30×" artifact measured
    // 10× data (caught in round 12 when every sf3 ratio landed ≈1×).
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale_r${Replicas}_s$Stride")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val stateDir = TmpRoots.perProcess("graft_scale_state")
    val spark = GraftSession.builder(cpus, stateDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val marker = java.nio.file.Paths.get(outDir, "_BUILT")
    if (!java.nio.file.Files.exists(marker)) {
      Tables.names.foreach(n => buildTable(spark, srcDir, outDir, n))
      java.nio.file.Files.createFile(marker)
    }
    val buildSec = (System.nanoTime() - t0) / 1e9

    val all = SparkEntry.queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq).getOrElse(all.keys.toSeq.sorted)
    // IN-PROCESS min-of-N passes (SPARK_GRAFT_PASSES, default 4), the
    // Bench discipline: the state dir is per-PROCESS, so every durable
    // index (shingle/cluster/ANN/term/sig/model/…) is rebuilt on the
    // first touch — a separate-process-per-pass protocol (the r9/early-
    // r10 artifacts) therefore measured BUILD+query on every pass, and
    // the "min of 4" for index consumers (d6 at 19.4×, d2 at 8.7×) was
    // really the per-corpus build cost divided by a warm sf0.1 read.
    // In-process passes put the builds in pass 1 where they are
    // amortized (exactly like the committed bench mins this artifact is
    // ratioed against), so ratio_vs_sf01 compares steady state to
    // steady state. Pass 1's build-inclusive total is still reported
    // (pass1_sec) because at 100 TB the build IS a real cost — it is
    // just a per-corpus one, not a per-query one. A min-line is printed
    // after every completed pass, so a timeout kill loses at most the
    // in-flight pass and tools/scalecheck_merge.py reads the last line.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "4").toInt.max(1)
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var d6RoundsScaled = -1
    var pass1Sec = 0.0
    for (pass <- 1 to passes) {
      val p0 = System.nanoTime()
      for (name <- only) {
        val t = System.nanoTime()
        // record the duration and clear any earlier pass's error ONLY on
        // success: a transient pass-1 failure must not leave a stale
        // errs entry next to a healthy later-pass min, and a fast
        // failure's duration must not participate in the per-query min
        // (r10 ADVICE)
        try {
          all(name)(spark, outDir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t) / 1e9
          times(name) = times.get(name).fold(sec)(math.min(_, sec))
          errs.remove(name)
        } catch { case e: Throwable =>
          errs(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}"
        }
      }
      if (pass == 1) pass1Sec = (System.nanoTime() - p0) / 1e9
      emit(times, errs, passes = pass, pass1Sec, buildSec, srcDir,
        d6RoundsBase = -1, d6RoundsScaled)
    }
    // the O(log diameter) claim, MEASURED: replicas add components, not
    // diameter, so the star-contraction round count must not grow with
    // the 10× corpus — compare one base-scale d6 run against one scaled
    // run. Both probes FORCE the distributed loop (localThreshold = 0):
    // the sub-200k-edge union-find fast path sets ccRounds to 0, which
    // would silently degrade this evidence to 0 vs 0 (r11 ADVICE). The
    // probes run OUTSIDE the timed passes so forcing the slow path
    // never perturbs the performance numbers.
    var d6RoundsBase = -1
    if (only.contains("d6_dedup_clusters") && errs.isEmpty) {
      def ccRoundsOf(dir: String): Int = {
        import org.apache.spark.sql.functions.col
        graft.operators.Dedup.connectedComponents(
          graft.operators.Dedup.d2NgramJaccard(spark, dir)
            .select(col("doc_a"), col("doc_b")), localThreshold = 0)
          .write.format("noop").mode("overwrite").save()
        graft.operators.Dedup.ccRounds
      }
      d6RoundsScaled = ccRoundsOf(outDir)
      d6RoundsBase = ccRoundsOf(srcDir)
    }
    // streaming-plane scale evidence (SPARK_GRAFT_SOAK=0 skips): the
    // join→window file-source soak over the SCALED events table — the
    // batch queries above have per-query ratios; this records that the
    // stateful streaming pipeline also held (matched) and how big its
    // state peak was at this volume
    val soakJson =
      if (sys.env.getOrElse("SPARK_GRAFT_SOAK", "1") == "0") ""
      else {
        val r = graft.streaming.StreamingSoak.run(spark, outDir,
          TmpRoots.perProcess("graft_soak"))
        s""","streaming_soak":{"seconds":${r.seconds},"input_rows":${r.inputRows},"output_rows":${r.outputRows},"batches":${r.batches},"state_rows_max":${r.stateRowsMax},"matched":${r.matched}}"""
      }
    emit(times, errs, passes, pass1Sec, buildSec, srcDir,
      d6RoundsBase, d6RoundsScaled, soakJson)
    spark.stop()
  }

  private def emit(times: collection.Map[String, Double],
      errs: collection.Map[String, String], passes: Int, pass1Sec: Double,
      buildSec: Double, srcDir: String,
      d6RoundsBase: Int, d6RoundsScaled: Int, extraJson: String = ""): Unit = {
    val qs = times.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val es = errs.map { case (k, v) =>
      "\"" + k + "\":\"" + JsonUtil.escape(v) + "\""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_check","value":${times.values.sum},"unit":"sec","queries":$qs,"errors":$es,"n_errors":${errs.size},"replicas":$Replicas,"base":"$srcDir","build_sec":$buildSec,"pass1_sec":$pass1Sec,"passes":$passes,"d6_rounds_base":$d6RoundsBase,"d6_rounds_scaled":$d6RoundsScaled$extraJson,"commit":"${JsonUtil.gitHead()}","scanned_at":"${JsonUtil.nowIso()}"}""")
  }
}
