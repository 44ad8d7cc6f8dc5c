package graft.operators

import graft.Tables
import graft.sources.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL maintenance for the durable ANN index — the last big
  * durable index without a lifecycle path after round 11 (the d13
  * discipline applied to the vector plane). The reference's core loop
  * is a polling ingest (hive-backend server.mjs:129-142); a
  * corpus-fingerprinted build-once ANN index would re-seed and
  * re-train IVF cells and rebuild every LSH table on every arriving
  * batch — at 100 TB that is a full corpus re-scan to absorb a
  * megabyte of new vectors.
  *
  * The incremental form is exact BY CONSTRUCTION for everything the
  * index stores:
  *
  *  - '''assignments''': cell assignment is a deterministic per-row
  *    argmax against the COMMITTED centroids (the n3Assign zero-shuffle
  *    path), so assigning only the batch and appending equals
  *    re-assigning the merged corpus against the same centroids —
  *    row-local, no cross-row state at all.
  *  - '''lsh''': bucket ids are sign-bit dot products against FIXED
  *    plan-literal hyperplanes (corpus-independent), so batch rows
  *    append verbatim.
  *  - '''centroids''': carried over unchanged — the probe's recall
  *    against carried centroids degrades only as far as the batch's
  *    geometry drifts from the training corpus, which is exactly what
  *    the RETRAIN TRIGGER watches (below).
  *
  * What is NOT exact under drift is cell QUALITY, so n4's cell-audit
  * quantities are the maintenance policy: each publish audits the
  * batch against the committed centroids (mean own-cosine = tightness,
  * max single-cell share = imbalance — both bounded ≤IvfCells-row
  * aggregates), and a batch whose vectors the committed cells no
  * longer describe (tightness below [[RetrainTightness]], or collapse
  * past [[RetrainShare]]) triggers a RE-SEED: one Lloyd re-train over
  * the merged corpus and one re-assignment scan — the full-build cost,
  * paid only when the audit proves the index stale, never per batch
  * (m7's cap-crossing discipline on the vector plane).
  *
  * The family lives under ONE [[graft.sources.AtomicPublish]] root
  * (centroids/assignments/lsh/meta/ledger are a mutually-consistent
  * snapshot), and the applied-batch LEDGER rides the same pointer swap
  * as the data, so a replayed foreachBatch micro-batch is detected
  * from the committed snapshot alone — d13's exactly-once argument,
  * verbatim.
  */
object IncrementalAnn {

  /** n17's deterministic ingest split: batch = vec_id % 4 == 0 (~25%
    * of the corpus arrives as "the new batch"), the d8/d13/er4
    * convention on the embeddings table. */
  val BatchMod = 4

  /** Re-seed when the batch's mean own-cosine against the committed
    * centroids falls below this: the committed cells no longer
    * describe where the new vectors LIVE (n4's tightness, batch-
    * sliced). Real ingest slices of this corpus audit ≈ the corpus
    * mean own-cos (an iid slice), far above this floor; a genuinely
    * drifted batch (vectors anti-correlated with every cell) audits
    * near or below zero. */
  val RetrainTightness = 0.05

  /** Re-seed when one committed cell absorbs more than this share of
    * the batch (n4's imbalance: a collapsing batch makes that cell a
    * hot probe target and the index degenerates toward brute force). */
  val RetrainShare = 0.8

  private[graft] val incrAnnIndex = Artifact.incremental("ann_incr_index", "embeddings")(
    s"annincr-v1;split=mod$BatchMod;ivf=${Similarity.IvfCells};" +
      s"lsh=${Similarity.LshTables}x${Similarity.LshBits};" +
      s"tight=$RetrainTightness;share=$RetrainShare")(annIncrement)

  /** Full build over `vecs` ((vec_id, v, nrm) — [[Similarity.corpusOf]]
    * shape): the spec's ground truth for "incremental ≡ rebuild", and
    * v1 of the root. Reuses the exact n3/n2 build machinery (shared
    * centroid trainer, shared assignment argmax, shared LSH planes) so
    * index semantics cannot drift from the query-side operators'. */
  private[graft] def buildAnnOutputs(s: SparkSession,
      vecs: DataFrame): Seq[(String, DataFrame)] = {
    val v = vecs.localCheckpoint() // seeds + assign + lsh read it thrice
    val cells = seededCells(v)
    import s.implicits._
    Seq(
      "centroids" -> cells.toDF("cell_id", "cv", "cn"),
      "assignments" -> Similarity.n3Assign(v, cells),
      "lsh" -> v.select(col("vec_id"),
          explode(Similarity.lshBuckets("v")).as("tb"))
        .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt")),
      "meta" -> Seq((-1L, v.count(), -1.0, -1.0, false))
        .toDF("batch_id", "n_vectors", "batch_mean_own", "batch_max_share",
          "retrained"))
  }

  /** [[Similarity.ivfCentroids]]'s every-50th-id seeding, with a
    * bounded fallback for corpora too small (or too id-sparse) to hit
    * any seed: the [[Similarity.IvfCells]] lowest-id vectors become
    * the cells directly — degenerate but well-defined, and still ≤
    * IvfCells rows of driver-side metadata. */
  private[graft] def seededCells(v: DataFrame): Seq[(Long, Array[Double], Double)] = {
    val cells = Similarity.ivfCentroids(v)
    if (cells.nonEmpty) cells
    else v.orderBy("vec_id").limit(Similarity.IvfCells).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
  }

  /** The n4-audit quantities of `assigned` rows against the committed
    * `cells`, as one bounded driver-side pair (mean own-cosine, max
    * cell share) — ≤[[Similarity.IvfCells]]+1 aggregate rows collected,
    * corpus-size-independent. */
  private[graft] def auditOf(assigned: DataFrame,
      cells: Seq[(Long, Array[Double], Double)]): (Double, Double) = {
    val ownCos = greatest(cells.map { case (_, cv, cn) =>
      graft.functions.VectorFunctions.cosineFromParts(
        org.apache.spark.sql.graft.ArrayMathExpr.dotNative(
          col("v"), typedlit(cv)),
        col("nrm"), lit(cn))
    }: _*)
    val perCell = assigned.select(col("cell_id"), ownCos.as("own"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n"), sum(col("own")).as("sum_own"))
    val r = perCell
      .agg((sum(col("sum_own")) / sum(col("n"))).as("mean_own"),
        (max(col("n")).cast("double") / sum(col("n"))).as("max_share"))
      .collect()(0)
    (r.getDouble(0), r.getDouble(1))
  }

  /** Version N+1 from version N's committed outputs plus `batch` (raw
    * embeddings rows, NEW vec_ids — the ingest contract); `meta`
    * records whether it retrained. The only corpus-wide work is the
    * retrain path; the no-drift path scans ONLY the batch plus bounded
    * audit metadata. */
  private def annIncrement(s: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Seq[(String, DataFrame)] = {
    import graft.sources.AtomicPublish.readOutput
    val cells = Similarity.indexCells(s, root)
    val bVecs = Similarity.corpusOf(batch).localCheckpoint()
    val bAssign = Similarity.n3Assign(bVecs, cells).localCheckpoint()
    val (meanOwn, maxShare) = auditOf(bAssign, cells)
    val retrain = meanOwn < RetrainTightness || maxShare > RetrainShare
    val baseAssign = readOutput(s, root, "assignments")
    val bLsh = bVecs.select(col("vec_id"),
        explode(Similarity.lshBuckets("v")).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val lsh2 = readOutput(s, root, "lsh").unionByName(bLsh)
    val (cells2, assign2) =
      if (!retrain) {
        (readOutput(s, root, "centroids"), baseAssign.unionByName(bAssign))
      } else {
        // the audit proved the committed cells stale: re-seed + one
        // Lloyd pass over the MERGED corpus (vectors live in the
        // committed assignments — no raw-parquet rescan), then one
        // re-assignment scan. Exactly the v1 build, on index-resident
        // data.
        val merged = baseAssign.select(col("vec_id"), col("v"), col("nrm"))
          .unionByName(bVecs).localCheckpoint()
        val refit = seededCells(merged)
        import s.implicits._
        (refit.toDF("cell_id", "cv", "cn"), Similarity.n3Assign(merged, refit))
      }
    import s.implicits._
    val n2 = baseAssign.count() + bVecs.count()
    Seq(
      "centroids" -> cells2,
      "assignments" -> assign2,
      "lsh" -> lsh2,
      "meta" -> Seq((batchId, n2, meanOwn, maxShare, retrain))
        .toDF("batch_id", "n_vectors", "batch_mean_own", "batch_max_share",
          "retrained"))
  }

  /** Build v1 over the base slice, then incrementally publish v2
    * covering base+batch — both under one durable fence, so the n17
    * probe always reads the post-ingest snapshot. Records the n17
    * oracle hook: the probe is deterministic SQL once the snapshot is
    * committed, so the gate replays it from the version-resolved
    * parquet. */
  private[graft] def ensureIncrAnnIndex(s: SparkSession, dir: String): String = {
    val root = incrAnnIndex.ensureIngested(s, dir) {
      val e = Tables.embeddings(s, dir)
      (buildAnnOutputs(s, Similarity.corpusOf(e.filter(col("vec_id") % BatchMod =!= 0))),
        e.filter(col("vec_id") % BatchMod === 0))
    }
    incrAnnIndex.recordVersion(s, dir)
    root
  }

  /** n17: IVF top-k probe against the INCREMENTALLY-maintained ANN
    * index — n3's exact probe plan ([[Similarity.ivfProbeFrom]], same
    * cell routing, same rank window) pointed at the post-ingest
    * snapshot, so a user query after an ingest batch sees base AND
    * batch vectors without any rebuild having run. FULL hash oracle
    * since r14: the carried centroids are engine-trained but
    * COMMITTED, so the oracle replays the identical probe SQL over
    * the version-resolved snapshot ([[Similarity.ivfProbeOracle]] —
    * ONE oracle text for n3 and n17, so probe semantics cannot drift
    * between the two lifecycles on the oracle side either).
    * IncrementalAnnSpec additionally proves probe ≡ a from-scratch
    * assignment at equal centroids, recall on the merged corpus, and
    * that a drifted batch trips the retrain trigger. */
  def n17IncrementalAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfProbeFrom(s, ensureIncrAnnIndex(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n17_incremental_ann" -> (n17IncrementalAnn _))

  /** `def` + unambiguous-corpus rule — Similarity.oracles' discipline. */
  def oracles: Map[String, String] = incrAnnIndex.oracleVersion
    .map(v => "n17_incremental_ann" -> Similarity.ivfProbeOracle(v)).toMap
}
