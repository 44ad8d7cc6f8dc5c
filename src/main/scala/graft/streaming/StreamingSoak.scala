package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** File-source streaming soak — the SCALE evidence for the streaming
  * plane (the batch plane has SCALECHECK; the streaming rows were
  * MemoryStream-spec'd only, a few rows per micro-batch). This drives
  * the composed stateful pipeline — stream-stream interval join
  * (row 64) feeding a sliding-window aggregation (st3) — over the REAL
  * events table split into many arriving files, with
  * `maxFilesPerTrigger` forcing a long micro-batch sequence so join
  * state and window state are built, carried, and expired across
  * batches, exactly as a production ingest would. Trigger.AvailableNow
  * = the catch-up/backfill shape: bounded run over everything
  * outstanding, checkpointed like a continuous stream.
  *
  * Correctness contract: the streamed result must EQUAL the batch
  * result of the same transforms over the same events. Closure is
  * forced by two far-future sentinel events (one per join side, with
  * join-unmatchable user ids) appended as the LAST files: they push
  * both sides' watermarks past every real window, so append mode emits
  * everything real, and the sentinels themselves match nothing and sit
  * in windows that never close — the asymmetric watermark trick every
  * bounded replay of a watermarked pipeline uses.
  *
  * Scale shape: state is bounded by the watermark horizon (join: 40min
  * of clicks + 30min of purchases per user; window: 4 open windows per
  * key), NOT by stream length — the soak's assertion that the pipeline
  * would hold at an unbounded 100 TB ingest is precisely that its
  * state stayed horizon-sized while 100k events flowed through.
  */
object StreamingSoak {

  case class SoakResult(inputRows: Long, outputRows: Long, batchRows: Long,
      batches: Long, seconds: Double, stateRowsMax: Long, matched: Boolean,
      missHead: String = "")

  /** The pipeline under soak, shared by stream and batch sides:
    * purchase/click split → interval join → 1h/15min sliding count of
    * joined conversions. */
  private def pipeline(events: DataFrame, streaming: Boolean): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
    val clicks = events.filter(col("event_type") === "click")
    val joined =
      if (streaming) SyncStream.streamingIntervalJoin(purchases, clicks)
      else {
        val p = purchases.select(col("event_id").as("purchase_id"),
          col("user_id"), col("ts").as("purchase_ts"))
        val c = clicks.select(col("event_id").as("click_id"),
          col("user_id").as("c_user"), col("ts").as("click_ts"))
        p.join(c, col("user_id") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
          .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
            col("click_id"), col("click_ts"))
      }
    joined
      .groupBy(window(col("purchase_ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_conversions"))
      .select(col("w.start").as("w_start"), col("n_conversions"))
  }

  case class IndexSoakResult(batches: Long, seconds: Double,
      docsStreamed: Long, versions: Long, spanOccRows: Long,
      indexRowsFinal: Long, matched: Boolean, missHead: String = "")

  /** Index-maintenance soak (r14 ask #5): drive the d13 family's
    * transactional ingest endpoint ([[graft.sources.Artifact
    * .Incremental.streamingMaintenance]]) under a REAL file-source stream over
    * `<docsDir>/documents.parquet`, instead of the chained
    * MemoryStream the row-249 spec uses. v1 of a fresh index root is
    * built over the `doc_id % BatchMod == 0` slice; the remaining
    * ~80% of the corpus arrives as [[splitFiles]] parquet files
    * replayed `filesPerTrigger` at a time (Trigger.AvailableNow), so
    * every micro-batch publishes version N+1 through the exactly-once
    * ledger. The verdict re-runs the FROM-SCRATCH family build over
    * the full corpus and requires every published output other than
    * the ledger (all 14 tables — postings, df, sizes, edges, clusters,
    * signatures, term/passage/span planes) to be set-equal to the
    * rebuild: increment ≡ rebuild, through the real streaming
    * machinery, at sf0.1 volume. The foreachBatch pipeline itself is
    * stateless (state lives in the committed snapshot), so the
    * recorded "state" is the final snapshot's row mass. */
  def indexSoak(s: SparkSession, docsDir: String, workDir: String,
      splitFiles: Int = 16, filesPerTrigger: Int = 2): IndexSoakResult = {
    import graft.operators.Incremental
    val t0 = System.nanoTime()
    val docs = graft.Tables.documents(s, docsDir)
    val runToken = System.nanoTime()
    val root = s"$workDir/incr_soak_root_$runToken"
    val base = docs.filter(pmod(col("doc_id"), lit(Incremental.BatchMod)) === 0)
    val streamed = docs.filter(pmod(col("doc_id"), lit(Incremental.BatchMod)) =!= 0)
    Incremental.incrIndex.publishBase(s, root, Incremental.buildOutputs(s, base))
    val srcDir = s"$workDir/incr_soak_src_$runToken"
    streamed.repartitionByRange(splitFiles, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    stampArrivalOrder(srcDir) // deterministic replay sequence
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(srcDir)
    val q = Incremental.incrIndex.streamingMaintenance(stream, root,
      s"$workDir/incr_soak_ckpt_$runToken", Trigger.AvailableNow())
    q.awaitTermination()
    val progress = q.recentProgress.toSeq
    // increment ≡ rebuild: every committed output vs a from-scratch
    // family build over the full corpus (set equality both ways)
    val rebuilt = Incremental.buildOutputs(s, docs)
    var missHead = ""
    var indexRows = 0L
    val matched = rebuilt.forall { case (name, want) =>
      val got = graft.sources.AtomicPublish.readOutput(s, root, name)
      indexRows += got.count()
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      if ((extra > 0 || missing > 0) && missHead.isEmpty)
        missHead = s"$name: +$extra/-$missing"
      extra == 0 && missing == 0
    }
    IndexSoakResult(
      batches = progress.count(_.numInputRows > 0).toLong,
      seconds = (System.nanoTime() - t0) / 1e9,
      docsStreamed = streamed.count(),
      versions = graft.sources.AtomicPublish.currentVersion(s, root)
        .map(_.stripPrefix("v").toLong).getOrElse(0L),
      spanOccRows = graft.sources.AtomicPublish
        .readOutput(s, root, "span_occ").count(),
      indexRowsFinal = indexRows,
      matched = matched, missHead = missHead)
  }

  /** Stamp strictly increasing mtimes in path order so the file
    * source replays partitions as the intended arrival sequence
    * (parallel write tasks finish in arbitrary order — see the
    * events-soak commentary). */
  private def stampArrivalOrder(srcDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(srcDir)
    val st = java.nio.file.Files.list(dir)
    val parts =
      try st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.getFileName.toString)
      finally st.close()
    val base = System.currentTimeMillis() - (parts.size + 10) * 1000L
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
  }

  /** Run the soak over `<eventsDir>/events.parquet`; `workDir` holds
    * the split source files and the checkpoint. Returns measured
    * counts + wall-clock; `matched` is the stream≡batch verdict. */
  def run(s: SparkSession, eventsDir: String, workDir: String,
      splitFiles: Int = 48, filesPerTrigger: Int = 4): SoakResult = {
    val t0 = System.nanoTime()
    val ev = graft.Tables.events(s, eventsDir)
    // per-run token on BOTH the source and the checkpoint dir: a second
    // run() against the same workDir must not replay the previous run's
    // committed checkpoint offsets over a rewritten source (stale-offset
    // replay reports a bogus mismatch — r11 ADVICE)
    val runToken = System.nanoTime()
    val srcDir = s"$workDir/soak_src_$runToken"
    // the arriving-files layout is TIME-ORDERED (a real ingest lands
    // files roughly in event-time order; the watermark delay absorbs
    // the residual disorder) — range-partitioning by ts makes file k
    // hold the k-th time slice, and the file source's (mtime, path)
    // ordering replays them as the original arrival sequence. A random
    // split would put end-of-month events in batch 1 and late-drop
    // everything else — not a soak, a watermark misconfiguration.
    ev.repartitionByRange(splitFiles, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(srcDir)
    // The file source replays files in MTIME order, but a parallel
    // parquet write finishes its tasks in arbitrary order — at 10×
    // volume the 48 files span several mtime seconds in TASK-completion
    // order, so the replay was event-time-shuffled and the watermark
    // late-dropped most of the corpus (caught by the sf1 ScaleCheck
    // soak; at sf0.1 every file landed in the same second and path
    // order hid it). Stamp mtimes explicitly: range partition k holds
    // the k-th time slice, so path order IS arrival order.
    stampArrivalOrder(srcDir)
    // sentinel pair, written LAST (max mtime) so the watermark jump
    // happens after all real data
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000)
    import s.implicits._
    Seq((-1L, sentinelTs, -1L, "purchase", 0.0, ""),
      (-2L, sentinelTs, -2L, "click", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select(ev.columns.map(col).toIndexedSeq: _*) // align column order
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(srcDir)
    val name = s"soak_${System.nanoTime()}"
    val q = pipeline(stream, streaming = true).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", s"$workDir/soak_ckpt_$runToken")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = s.table(name).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).sorted.toSeq
    val want = pipeline(ev, streaming = false).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).sorted.toSeq
    val progress = q.recentProgress.toSeq
    SoakResult(
      inputRows = progress.map(_.numInputRows).sum,
      outputRows = got.size.toLong,
      batchRows = want.size.toLong,
      batches = progress.count(_.numInputRows > 0).toLong,
      seconds = (System.nanoTime() - t0) / 1e9,
      stateRowsMax = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L),
      matched = got == want,
      missHead = (want.diff(got).take(2) ++ got.diff(want).take(2)).mkString(";"))
  }
}
