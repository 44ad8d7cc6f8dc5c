package graft

import graft.operators.{Quality, TextAnalysis}
import graft.sources.{AtomicPublish, ModelRegistry}
import org.apache.spark.sql.DataFrame

/** Drift-triggered model refresh (the ModelRegistry policy closing the
  * lifecycle story for the two trained-artifact planes): a STABLE
  * ingest batch must REUSE the committed model version (no training,
  * no publish), a planted DRIFTED batch must publish a new version,
  * and the monitoring report row must reflect the committed refresh
  * state (pipe4 reads the same reportRow).
  */
class ModelRefreshSpec extends GraftSpec {

  private def docs(rows: Seq[(Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "label")
  }

  // separable base corpus: positive docs share "good…" vocabulary,
  // negative docs "bad…" — the trained classifier pushes their scores
  // to the two extremes, so the training-time score bands are bimodal
  private def labeled(i: Long): (Long, String, Double) =
    if (i % 2 == 1) (i, s"good great fine nice good great fine nice x$i", 1.0)
    else (i, s"bad awful poor sad bad awful poor sad y$i", 0.0)

  private val base = (0L to 39L).map(labeled)
  // stable = in-distribution: same texts under new ids, so the score
  // distribution matches the training bands exactly (a bimodal score
  // profile puts the decile cuts ON the modes, where any content
  // jitter flips buckets — in-distribution means same score mass)
  private val stable = (100L to 119L).map(i =>
    labeled(i - 100L).copy(_1 = i))
  // drifted for the classifier: per-doc unseen vocabulary → scores
  // collapse to the sigmoid-of-noise midband, nowhere near the
  // training bands
  private val driftedQc = (200L to 219L).map(i =>
    (i, s"zork$i blip$i quux$i flurb$i zork$i blip$i quux$i flurb$i",
      (i % 2).toDouble))
  // drifted for the tokenizer: a character mix (digits) the training
  // corpus never saw
  private val driftedBpe = (300L to 319L).map(i =>
    (i, s"000 111 222 333 444 555 666 777 88$i", (i % 2).toDouble))

  private lazy val qcRoot: String = {
    val r = tempDir("qc_refresh")
    AtomicPublish.publish(spark, r,
      Quality.buildQcOutputs(spark, docs(base)) :+
        ModelRegistry.metaOutput(spark, -1L, 0.0, refreshed = false))
    r
  }

  private lazy val bpeRoot: String = {
    val r = tempDir("bpe_refresh")
    AtomicPublish.publish(spark, r,
      TextAnalysis.buildBpeOutputs(spark, docs(base)) :+
        ModelRegistry.metaOutput(spark, -1L, 0.0, refreshed = false))
    r
  }

  test("qc registry: a stable batch reuses the committed version") {
    val (v, refreshed, psi) =
      Quality.refreshQcModel(spark, qcRoot, docs(stable), 1L)
    assert(!refreshed && v == "v1", s"stable batch must reuse: $v psi=$psi")
    assert(psi <= ModelRegistry.RetrainPsi, s"stable psi $psi")
    val report = ModelRegistry.reportRow(spark, qcRoot, "qc_model_registry")
      .collect()(0)
    assert(report.getAs[String]("status") != "retrained")
  }

  test("qc registry: a drifted batch publishes v2 and the report reflects it") {
    qcRoot // force v1 + the stable-reuse check's ordering
    val (v, refreshed, psi) =
      Quality.refreshQcModel(spark, qcRoot, docs(driftedQc), 2L)
    assert(refreshed && v == "v2", s"drifted batch must retrain: $v psi=$psi")
    assert(psi > ModelRegistry.RetrainPsi, s"drift psi $psi")
    val report = ModelRegistry.reportRow(spark, qcRoot, "qc_model_registry")
      .collect()(0)
    assert(report.getAs[String]("status") == "retrained")
    assert(report.getAs[Double]("value") > ModelRegistry.RetrainPsi)
    // the retrain merged the batch into the stored training sample
    val sample = AtomicPublish.readOutput(spark, qcRoot, "train_sample")
      .collect().map(_.getLong(0)).toSet
    assert(driftedQc.map(_._1).toSet.subsetOf(sample))
    // and the new version serves a parseable model
    assert(AtomicPublish.readOutput(spark, qcRoot, "weights").count() == 1)
  }

  test("bpe registry: a stable batch reuses, a drifted character mix retrains") {
    val (v1, r1, psi1) =
      TextAnalysis.refreshBpeModel(spark, bpeRoot, docs(stable), 1L)
    assert(!r1 && v1 == "v1", s"stable batch must reuse: $v1 psi=$psi1")
    val (v2, r2, psi2) =
      TextAnalysis.refreshBpeModel(spark, bpeRoot, docs(driftedBpe), 2L)
    assert(r2 && v2 == "v2", s"drifted batch must retrain: $v2 psi=$psi2")
    assert(psi2 > ModelRegistry.RetrainPsi)
    val report = ModelRegistry.reportRow(spark, bpeRoot, "bpe_model_registry")
      .collect()(0)
    assert(report.getAs[String]("status") == "retrained")
    // the refreshed char profile covers the new script (digits)
    val chars = AtomicPublish.readOutput(spark, bpeRoot, "char_freq")
      .collect().map(_.getString(0)).toSet
    assert(chars.contains("0") && chars.contains("7"))
    // and the retrained merge table reflects digit pairs being mergeable
    assert(AtomicPublish.readOutput(spark, bpeRoot, "merges").count() > 0)
  }
}
