package graft

import graft.operators.{IncrementalAnn, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental ANN index maintenance (SURVEY §2 n17): version N+1 of
  * the vector-plane index family, derived from version N's published
  * outputs plus ONLY the batch vectors, must
  *
  *  - equal a from-scratch assignment of the merged corpus AT EQUAL
  *    CENTROIDS (assignment is a deterministic per-row argmax, so
  *    append ≡ rebuild when no retrain fires),
  *  - keep probe recall on the merged corpus,
  *  - REFUSE a replayed micro-batch (ledger),
  *  - and RE-SEED when the n4-audit trigger proves the committed
  *    cells stale (a drifted batch), after which assignments equal a
  *    fresh build over the merged corpus.
  *
  * The fixture is two well-separated synthetic clusters (along e0 and
  * e1) whose ids put one seed vector in each, plus a drifted batch in
  * the (-e0-e1) half-space that is anti-correlated with every
  * committed centroid.
  */
class IncrementalAnnSpec extends GraftSpec {

  private val Dim = 8

  /** Deterministic jitter in [0, 0.4] — no RNG, index-derived. */
  private def jit(i: Long, j: Int): Double = ((i * 7 + j * 3) % 5) * 0.1

  private def vecA(i: Long): Seq[Double] =
    (0 until Dim).map(j => if (j == 0) 10.0 else jit(i, j))
  private def vecB(i: Long): Seq[Double] =
    (0 until Dim).map(j => if (j == 1) 10.0 else jit(i, j))
  private def vecDrift(i: Long): Seq[Double] =
    (0 until Dim).map(j => if (j <= 1) -10.0 else jit(i, j))

  private def df(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  // ids 0..49 cluster A, 50..99 cluster B → the every-50th-id seeding
  // lands one seed in each cluster
  private val base: Seq[(Long, Seq[Double])] =
    (0L to 49L).map(i => i -> vecA(i)) ++ (50L to 99L).map(i => i -> vecB(i))
  // two stable batches: more of the same geometry
  private val batch1: Seq[(Long, Seq[Double])] =
    (100L to 119L).map(i => i -> (if (i % 2 == 0) vecA(i) else vecB(i)))
  private val batch2: Seq[(Long, Seq[Double])] =
    (120L to 139L).map(i => i -> (if (i % 2 == 0) vecB(i) else vecA(i)))
  // the drifted batch: anti-correlated with both committed centroids
  private val drift: Seq[(Long, Seq[Double])] =
    (140L to 159L).map(i => i -> vecDrift(i))

  private def sets(d: DataFrame): Set[String] =
    d.collect().map(_.mkString("|")).toSet

  private def cellsOf(root: String): Seq[(Long, Array[Double], Double)] =
    Similarity.indexCells(spark, root)

  private lazy val root: String = {
    val r = tempDir("annincr_spec")
    IncrementalAnn.incrAnnIndex.publishBase(spark, r,
      IncrementalAnn.buildAnnOutputs(spark, Similarity.corpusOf(df(base))))
    r
  }

  test("two chained stable increments equal a from-scratch assignment at equal centroids") {
    assert(IncrementalAnn.incrAnnIndex.applyBatch(spark, root, df(batch1), 1L))
    assert(IncrementalAnn.incrAnnIndex.applyBatch(spark, root, df(batch2), 2L))
    val meta = graft.sources.AtomicPublish.readOutput(spark, root, "meta")
      .collect()(0)
    assert(!meta.getAs[Boolean]("retrained"),
      s"stable batch must not retrain: $meta")
    val cells = cellsOf(root)
    val all = Similarity.corpusOf(df(base ++ batch1 ++ batch2))
    val want = sets(Similarity.n3Assign(all, cells))
    val got = sets(graft.sources.AtomicPublish.readOutput(spark, root,
      "assignments"))
    assert(got == want, "incremental assignments != rebuild at equal centroids")
    // LSH rows are centroid-independent literals: append ≡ rebuild
    val wantLsh = sets(all.select(col("vec_id"),
        explode(Similarity.lshBuckets("v")).as("tb"))
      .select(col("vec_id"), col("tb.tbl"), col("tb.bkt")))
    assert(sets(graft.sources.AtomicPublish.readOutput(spark, root, "lsh"))
      == wantLsh)
  }

  test("probe over the incremental index equals the probe over a from-scratch root") {
    root // force the chained publishes above
    val cells = cellsOf(root)
    val all = Similarity.corpusOf(df(base ++ batch1 ++ batch2))
    val scratch = tempDir("annincr_scratch")
    import spark.implicits._
    graft.sources.AtomicPublish.publish(spark, scratch, Seq(
      "centroids" -> cells.toDF("cell_id", "cv", "cn"),
      "assignments" -> Similarity.n3Assign(all, cells)))
    assert(sets(Similarity.ivfProbeFrom(spark, root)) ==
      sets(Similarity.ivfProbeFrom(spark, scratch)))
  }

  test("probe recall on the merged corpus vs brute force") {
    root
    val all = Similarity.corpusOf(df(base ++ batch1 ++ batch2))
      .localCheckpoint()
    val q = all.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val exact = Similarity.rankTopK(broadcast(q)
      .join(all, col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", graft.functions.VectorFunctions.cosineFromParts(
        graft.functions.VectorFunctions.dotNative("qv", "v"),
        col("qn"), col("nrm")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_raw")))
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val got = Similarity.ivfProbeFrom(spark, root)
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val recall = exact.map { case (k, w) =>
      got.getOrElse(k, Set.empty).intersect(w).size.toDouble / w.size
    }.sum / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("a replayed batch id is refused by the committed ledger") {
    root
    val before = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(!IncrementalAnn.incrAnnIndex.applyBatch(spark, root, df(batch1), 1L))
    assert(graft.sources.AtomicPublish.currentVersion(spark, root) == before)
  }

  test("a drifted batch trips the n4-audit retrain trigger and re-seeds exactly") {
    root
    val preCells = cellsOf(root)
    // the trigger inputs, recomputed here: the drifted batch is
    // anti-correlated with every committed centroid
    val (meanOwn, _) = IncrementalAnn.auditOf(
      Similarity.n3Assign(Similarity.corpusOf(df(drift)), preCells), preCells)
    assert(meanOwn < IncrementalAnn.RetrainTightness,
      s"fixture not drifted enough: $meanOwn")
    assert(IncrementalAnn.incrAnnIndex.applyBatch(spark, root, df(drift), 3L))
    val meta = graft.sources.AtomicPublish.readOutput(spark, root, "meta")
      .collect()(0)
    assert(meta.getAs[Boolean]("retrained"), s"drift must retrain: $meta")
    // post-retrain: assignments equal a fresh build over the merged
    // corpus at the NEW committed centroids, and the new cells cover
    // the drifted region (its own-cos audit recovers past the floor)
    val newCells = cellsOf(root)
    val merged = Similarity.corpusOf(df(base ++ batch1 ++ batch2 ++ drift))
    assert(sets(graft.sources.AtomicPublish.readOutput(spark, root,
      "assignments")) == sets(Similarity.n3Assign(merged, newCells)))
    val (reAudit, _) = IncrementalAnn.auditOf(
      Similarity.n3Assign(Similarity.corpusOf(df(drift)), newCells), newCells)
    assert(reAudit > IncrementalAnn.RetrainTightness,
      s"retrain did not recover drifted tightness: $reAudit")
  }
}
