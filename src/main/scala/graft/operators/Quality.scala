package graft.operators

import graft.Tables
import graft.sources.Artifact
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-quality filtering for LLM training-data pipelines (SURVEY §2
  * rows 147-148): the Gopher rule-set document filter (Rae et al. 2021,
  * "Scaling Language Models: Methods, Analysis & Insights from Training
  * Gopher", appendix A1.1) and deterministic importance sampling.
  *
  * Both are single-scan, row-local expression pipelines — zero
  * shuffles before the output ordering, fully inside whole-stage
  * codegen, so they scale linearly with document count and survive a
  * 100 TB corpus unchanged (each row is independent; no state, no
  * joins, no windows).
  */
object Quality {

  /** Minimum count of required stopwords present (Gopher rule 7).
    * Rae et al. require ≥2 of {the, be, to, of, and, that, have,
    * with}; this corpus' synthetic vocabulary contains only "the"
    * from that list, so the threshold is configured to 1 to keep the
    * rule non-degenerate (the rule machinery — membership over the
    * full 8-word list — is unchanged). */
  val StopHitsMin = 1

  // qc3's content rater floor — defined BEFORE the oracles val that
  // interpolates it (a forward reference silently reads 0)
  val Qc3StopMin = 1

  /** The Gopher required-stopword list (Rae et al. 2021, A1.1). */
  val RequiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def words: Column = split(col("text"), " ")
  private def lines: Column = split(col("text"), "\n")

  /** g1: the Gopher quality rule-set, per document —
    *   1. 50 ≤ word count ≤ 100 000
    *   2. 3 ≤ mean word length ≤ 10
    *   3. symbol-to-word ratio (# and …) ≤ 0.1
    *   4. fraction of lines starting with a bullet ≤ 0.9
    *   5. fraction of lines ending with an ellipsis ≤ 0.3
    *   6. fraction of words with ≥1 alphabetic char ≥ 0.8
    *   7. ≥ [[StopHitsMin]] of the 8 required stopwords present
    * Emits the raw statistics, the failed-rule count, and the keep
    * decision. All divisions are over guaranteed-nonzero counts
    * (split("") = [""]), all doubles rounded to 6 for the oracle
    * hash. Everything is a row-local codegen'd expression — the plan
    * is scan → project → sort, nothing else. */
  def g1GopherQuality(s: SparkSession, dir: String): DataFrame =
    gopherStats(Tables.documents(s, dir)).orderBy("doc_id")

  /** The rule-set over any (doc_id, text) frame — row-local only, no
    * ordering (callers sort; specs plant synthetic docs). */
  def gopherStats(docs: DataFrame): DataFrame = gopherStats(docs, Nil)

  /** [[gopherStats]] with extra row-local columns carried through the
    * stats projection — lets a consumer that needs the keep decision
    * NEXT TO other document attributes (qc5) compute both in the ONE
    * scan instead of re-scanning and self-joining on doc_id (which,
    * besides the second scan, plans a doc-grain join: broadcast at
    * test SF, corpus-grain shuffle at 100 TB). */
  private[graft] def gopherStats(docs: DataFrame,
      carry: Seq[Column]): DataFrame = {
    val nWords = size(words)
    val nLines = size(lines)
    // Σ length(part) over split(text, ' ') ≡ length(text) − #spaces —
    // the parts partition the non-separator chars — so the interpreted
    // per-word aggregate() HOF collapses to one codegen'd translate
    val sumWordLen =
      length(translate(col("text"), " ", "")).cast("long")
    val hashCount = length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))
    val ellipsisCount = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val bulletLines = size(expr(
      "filter(split(text, '\n'), l -> l like '- %' OR l like '* %' OR l like '• %')"))
    val ellipsisLines = size(expr(
      "filter(split(text, '\n'), l -> l like '%...')"))
    val alphaWords = size(expr(
      "filter(split(text, ' '), x -> x rlike '[a-zA-Z]')"))
    val stopHits = RequiredStopwords
      .map(w => when(array_contains(words, w), 1).otherwise(0))
      .reduce(_ + _)
    val st = docs.select(col("doc_id") +: carry ++: Seq(
      nWords.as("n_words"),
      round(sumWordLen.cast("double") / nWords, 6).as("mean_word_len"),
      round((hashCount + ellipsisCount).cast("double") / nWords, 6)
        .as("symbol_ratio"),
      round(bulletLines.cast("double") / nLines, 6).as("bullet_frac"),
      round(ellipsisLines.cast("double") / nLines, 6).as("ellipsis_frac"),
      round(alphaWords.cast("double") / nWords, 6).as("alpha_frac"),
      stopHits.as("stop_hits")): _*)
    val fails = Seq(
      col("n_words") < 50 || col("n_words") > 100000,
      col("mean_word_len") < 3 || col("mean_word_len") > 10,
      col("symbol_ratio") > 0.1,
      col("bullet_frac") > 0.9,
      col("ellipsis_frac") > 0.3,
      col("alpha_frac") < 0.8,
      col("stop_hits") < StopHitsMin)
      .map(c => when(c, 1).otherwise(0)).reduce(_ + _)
    st.withColumn("n_rules_failed", fails)
      .withColumn("keep", when(col("n_rules_failed") === 0, 1).otherwise(0))
  }

  /** imp1: deterministic importance sampling — keep each document
    * with probability proportional to a quality weight (here: word
    * count, saturating at 100 words → w ∈ (0, 1]), and emit the
    * Horvitz-Thompson inverse-probability weight 1/w so downstream
    * aggregates over the sample stay unbiased (the estimator behind
    * every quality-weighted corpus subsample). Acceptance is the
    * mix1 discipline (Pipeline.scala:107): a doc survives iff its
    * salted md5's first 8 hex chars sort below the weight's 8-hex
    * threshold — fixed-width lowercase hex order IS numeric order, so
    * the same docs survive on every engine, every run, and the full
    * SQL oracle applies. The salt decorrelates acceptance from
    * mix1/mix2/mix3's hashes. One scan, row-local filter + project,
    * zero shuffles. */
  def imp1ImportanceSample(s: SparkSession, dir: String): DataFrame = {
    val w = least(lit(1.0), size(words).cast("double") / 100.0)
    val thr = when(w >= 1.0, lit("g")) // 'g' sorts above any hex digit
      .otherwise(lpad(lower(hex(floor(w * lit(4294967296.0)).cast("long"))), 8, "0"))
    Tables.documents(s, dir)
      .withColumn("w", w)
      .filter(substring(md5(concat(lit("imp:"), col("doc_id").cast("string"))), 1, 8) < thr)
      .select(col("doc_id"), size(words).as("n_words"),
        round(col("w"), 6).as("weight"),
        round(lit(1.0) / col("w"), 6).as("inv_weight"))
      .orderBy("doc_id")
  }

  /** Capture probability for each of imp5's two independent samples,
    * as the 8-hex md5 threshold (floor(0.3 · 2^32), lowercase hex —
    * fixed-width hex order IS numeric order, the imp1/mix1 rule). */
  val CaptureP = 0.3
  private[graft] val CaptureThr: String =
    f"${math.floor(CaptureP * 4294967296.0).toLong}%08x"

  /** imp5: capture–recapture population estimation (Chapman 1951's
    * bias-corrected Lincoln–Petersen) — estimate a corpus count from
    * TWO independent deterministic samples and their overlap:
    * N̂ = (n_a+1)(n_b+1)/(m+1) − 1. The audit pattern for pipelines
    * that can only afford samples (how many dups does the full join
    * have? how many docs does the crawler actually hold?) — and a
    * self-test of the sampling plane: both captures use the imp1
    * salted-md5 inclusion rule with DIFFERENT salts, so their
    * independence is exactly the decorrelation property the other
    * md5-sampled operators (imp1/mix1/s2) rely on; the relative error
    * emitted against the exact full-scan count IS the independence
    * measurement. All counts fold as exact integer sums in ONE
    * scan-level aggregate; the estimator is integer floor division
    * (+1 denominator — never zero); only the reported relative error
    * is a double, in a fixed shared IEEE tree. */
  def imp5CaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    def captured(salt: String) =
      substring(md5(concat(lit(salt), col("doc_id").cast("string"))),
        1, 8) < lit(CaptureThr)
    val a = when(captured("capA:"), 1L).otherwise(0L)
    val b = when(captured("capB:"), 1L).otherwise(0L)
    Tables.documents(s, dir)
      .agg(count(lit(1)).as("n_total"), sum(a).as("n_a"),
        sum(b).as("n_b"), sum(a * b).as("n_both"))
      .withColumn("n_hat",
        expr("((n_a + 1) * (n_b + 1)) div (n_both + 1) - 1"))
      .select(col("n_total"), col("n_a"), col("n_b"), col("n_both"),
        col("n_hat"),
        round((col("n_hat").cast("double") - col("n_total"))
          / col("n_total"), 6).as("rel_err"))
  }

  val KAnonK = 5      // minimum safe quasi-identifier group size
  val KAnonBand = 2000.0 // sensitive-attribute banding width (acctbal)

  /** priv1: k-anonymity / l-diversity audit (Sweeney 2002; Machanava-
    * jjhala et al. 2007) — the privacy-risk report a release pipeline
    * runs before publishing joined data (the reference's user-keyed
    * rows make this the k12-erasure plane's preventive counterpart):
    * for every quasi-identifier group (nation × market segment), the
    * group size (k — groups smaller than [[KAnonK]] re-identify their
    * members) and the number of distinct sensitive-value bands (l —
    * a k-large group still leaks if everyone shares one sensitive
    * value). ONE keyed aggregate; output is bounded by the QI domain,
    * never the table; the sensitive attribute is banded row-locally
    * (floor(acctbal / [[KAnonBand]]), identical IEEE ops on both
    * engines). */
  def priv1KAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("group_size"),
        countDistinct(floor(col("c_acctbal") / KAnonBand)).as("l_diversity"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("group_size"),
        col("l_diversity"),
        (col("group_size") < KAnonK).as("k_risky"),
        (col("l_diversity") < 2).as("l_risky"))
      .orderBy("c_nationkey", "c_mktsegment")

  /** priv2's privacy budget ε (Laplace scale b = 1/ε). */
  val DpEpsilon = 1.0

  /** priv2's DEFAULT release seed — the fixed, public string the
    * re-runnable correctness gate uses. Under this seed the release
    * carries NO differential-privacy protection (the seed is public,
    * so anyone recomputes the noise and subtracts it exactly — r13
    * advice #4); the ε-DP claim below holds only for the sealed-seed
    * configuration, [[priv2DpReleaseSeeded]] with a secret. */
  val DpGateSeed = "dp"

  /** priv2: Laplace-mechanism histogram release (Dwork et al. 2006) —
    * the aggregate-release step a data-sharing pipeline runs before
    * PUBLISHING corpus statistics (priv1 audits re-identification
    * risk in joined rows; priv2 is the mechanism that makes the
    * released AGGREGATE itself private): per event_type, count +
    * Laplace(1/ε) noise. Histogram buckets partition the rows, so by
    * parallel composition the release is ε-DP at sensitivity 1 (one
    * row moves one count by 1) — PROVIDED the noise is unpredictable,
    * i.e. the release seed is sealed: the mechanism draws by
    * inverse-CDF on an md5-prefix uniform of (seed, bucket), so the
    * seed is the entire secret. This gate entry runs under the
    * public [[DpGateSeed]] (re-runnable, hash-checkable, NOT private);
    * a production release calls [[priv2DpReleaseSeeded]] with a
    * sealed secret — same plan, different seed string. The uniform
    * offset +0.5/2³² keeps u strictly inside (0,1) so
    * ln(1−2·|u−½|) never hits −∞. One keyed count, a row-local noise
    * expression, domain-bounded output — the exact fixed IEEE tree
    * both engines share, so the gate release hash-matches
    * cross-engine. */
  def priv2DpRelease(s: SparkSession, dir: String): DataFrame =
    priv2DpReleaseSeeded(s, dir, DpGateSeed)

  /** The seeded mechanism behind [[priv2DpRelease]] — `releaseSeed`
    * is the secret that makes the Laplace draws unpredictable; the
    * ε-DP guarantee is scoped to a seed the analyst cannot guess. */
  def priv2DpReleaseSeeded(s: SparkSession, dir: String,
      releaseSeed: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit(releaseSeed + ":"),
      col("event_type"))), 1, 8), 16, 10).cast("double") + 0.5) / 4294967296.0
    Tables.events(s, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        round(col("n") + (lit(-1.0) / lit(DpEpsilon)) * signum(u - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 6).as("released_count"),
        lit(DpEpsilon).as("epsilon"))
      .orderBy("event_type")
  }

  val SourceCap = 10 // documents kept per source
  val CapSalts = 8 // phase-1 salt fan-out for the per-source top-K

  /** dc1: per-source document caps — keep at most [[SourceCap]] docs
    * per source, best-first (the C4/RefinedWeb-style domain quota that
    * stops one boilerplate-heavy domain from dominating a training
    * mix). Survival rank is (n_chars desc, doc_id asc) — a total
    * order, so the kept set is deterministic on every engine.
    *
    * NOT a single per-source window: at 100 TB one domain can hold
    * billions of documents, and `row_number() OVER (PARTITION BY
    * source)` funnels each domain through ONE task's sort (the q11/q15
    * scale-killer, at domain grain). Instead the j4 salting discipline
    * applied to top-K: phase 1 ranks within (source, doc_id %
    * [[CapSalts]]) — bounded fan-in per task — and keeps each salt's
    * local top-[[SourceCap]]; the global top-K per source is provably
    * inside those ≤ salts × K survivors, so phase 2's real per-source
    * window sorts bounded metadata, never the corpus. PlanAuditSpec
    * pins the salt key on the corpus-facing window. */
  def dc1SourceCaps(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val w1 = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(CapSalts)))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val survivors = docs
      .withColumn("lr", row_number().over(w1))
      .filter(col("lr") <= SourceCap)
      .drop("lr")
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    survivors
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= SourceCap)
      .select(col("doc_id"), col("source"), col("n_chars"), col("rank"))
      .orderBy(col("source"), col("rank"))
  }

  val QcDim = 1024 // hashed feature dimension (collisions are the hashing trick)
  val QcIters = 8 // batch gradient-descent rounds
  val QcLr = 2.0 // learning rate (features are L1-normalized, labels balanced)

  /** Hashed bag-of-words features for [[qcTrain]]/[[qc1ClassifierScore]]:
    * one row per (doc, feature index) with tf/n_tokens mass — the
    * fastText/CCNet-style representation. Kernel-computed term
    * frequencies (one row per distinct term, not per token), hashed
    * onto [[QcDim]] buckets with xxhash64. */
  private def qcFeatures(docs: DataFrame): DataFrame =
    // Cols.spread (r15): the term-frequency kernel + explode otherwise
    // run inside the single scan task of a one-row-group parquet table;
    // identity at scale, and the feature frame is keyed-aggregated.
    // r16 A/B (spread off, full suite, host drift normalized): qc1 ran
    // 0.96× vs a 0.85 control — i.e. RELATIVELY slower without the
    // spread — matching the r15 isolated win (1.12→0.67), so unlike
    // shinglesOf this spread stays.
    graft.Cols.spread(docs).select(col("doc_id"), col("label"),
      size(split(col("text"), " ")).cast("double").as("n_tokens"),
      explode(org.apache.spark.sql.graft.TermFreqsExpr.termFreqs(col("text"))).as("p"))
      .select(col("doc_id"), col("label"),
        pmod(xxhash64(col("p.term")), lit(QcDim.toLong)).cast("int").as("idx"),
        (col("p.tf").cast("double") / col("n_tokens")).as("v"))
      .groupBy(col("doc_id"), col("label"), col("idx"))
      .agg(sum(col("v")).as("v")) // merge hash collisions

  /** Distributed batch logistic regression (the quality-classifier
    * training loop of GPT-3/LLaMA-style corpus curation, in-engine):
    * T rounds of [margin aggregate → error join → gradient aggregate],
    * weights living on the driver as bounded metadata (dim+1 doubles —
    * the d6/t18 discipline: per-round lineage is truncated because
    * each round's plan starts from the cached feature frame and a
    * literal weight array, never the previous round's plan).
    *
    * Scale shape per round: one doc-keyed aggregate (margins), one
    * doc-keyed broadcast-join of per-doc errors back onto the feature
    * frame (error frame is |docs| rows of 2 cols — broadcastable at
    * any corpus size via sampling, see below), one idx-keyed aggregate
    * bounded by dim. At 100 TB one trains on a deterministic
    * md5-threshold sample (imp1) — classifiers are trained on samples
    * and APPLIED to the corpus; the apply path (qc1) is one scan.
    * Returns (weights, bias, per-round mean log-loss). */
  private[graft] def qcTrain(feats: DataFrame, iters: Int = QcIters,
      lr: Double = QcLr): (Array[Double], Double, Seq[Double]) = {
    val f = feats.localCheckpoint()
    val n = f.select(col("doc_id")).distinct().count().toDouble
    var wts = new Array[Double](QcDim)
    var bias = 0.0
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until iters) {
      val wlit = array(wts.map(lit): _*)
      val scored = f
        .groupBy(col("doc_id"), col("label"))
        .agg(sum(element_at(wlit, col("idx") + 1) * col("v")).as("m"))
        .select(col("doc_id"), col("label"),
          (lit(1.0) / (lit(1.0) + exp(-(col("m") + bias)))).as("p"))
      // mean log-loss (clamped for the log) + per-doc error, one pass
      val errs = scored.select(col("doc_id"),
        (col("p") - col("label")).as("e"),
        (-(col("label") * log(greatest(col("p"), lit(1e-12))) +
          (lit(1.0) - col("label")) *
            log(greatest(lit(1.0) - col("p"), lit(1e-12))))).as("ll"))
      // ONE margin computation per round: errs is |docs|×3 bounded
      // metadata — materialize it eagerly so the loss/bias collect and
      // the gradient join both read the cached frame instead of each
      // re-running the doc-keyed margin aggregate (3 computations → 1)
      val errsC = errs.localCheckpoint()
      val lb = errsC.agg(avg(col("ll")).as("ll"), sum(col("e")).as("be"))
        .collect().head
      losses += lb.getDouble(0)
      val biasGrad = lb.getDouble(1)
      val grad = f.join(broadcast(errsC.select(col("doc_id"), col("e"))), Seq("doc_id"))
        .groupBy(col("idx")).agg(sum(col("e") * col("v")).as("g"))
        .collect().map(r => r.getAs[Int]("idx") -> r.getAs[Double]("g")).toMap
      wts = Array.tabulate(QcDim)(i => wts(i) - lr / n * grad.getOrElse(i, 0.0))
      bias -= lr / n * biasGrad
    }
    (wts, bias, losses.toSeq)
  }

  /** qc1: in-engine quality-classifier scoring — train the hashed
    * bag-of-words logistic regression on the corpus (label: lang ==
    * 'en', standing in for the "looks like curated text" label real
    * pipelines train on reference corpora) and score every document.
    * The apply path is the 100 TB-relevant one: one scan, one
    * doc-keyed aggregate against a literal weight array. Scores are
    * sums of doubles → rows-only check; QcSpec pins the trainer on a
    * separable synthetic corpus (accuracy ≈ 1) and monotone loss. */
  /** Training-sample cap: qc1 trains on a deterministic md5-threshold
    * sample of ~this many docs (the imp1 discipline) and scores the
    * FULL corpus — the 100 TB split between the bounded learn plane
    * and the one-scan apply plane, exercised at every scale rather
    * than only promised. */
  val QcTrainSampleTarget = 1000

  /** Durable model registry for the trained qc weights — the
    * [[Artifact]] build-once pattern applied to MODEL artifacts: the
    * trainer is deterministic per corpus, so qc1/qc2/pipe4 each
    * re-training it per query was pure waste (3× the T-round
    * training cost per bench pass). Train once, publish the
    * (bias, weights) row, score everywhere — exactly how a 100 TB
    * pipeline consumes its quality classifier (training is a
    * registry write, scoring is the corpus-scale job). */
  private[graft] val qcModel = Artifact("qc_model", "documents")(
    // v2: the registry grew the drift-refresh plane (train sample,
    // reference score bands, meta) — salt bump forces stale-recipe
    // rebuilds
    s"qcmodel-v2;dim=$QcDim;iters=$QcIters;lr=$QcLr;n=$QcTrainSampleTarget;" +
      "drift=scorepsi10")

  /** Trained-model registry outputs from an EXPLICIT training frame:
    * the (bias, weights) row, the training sample itself (bounded —
    * it is what retrains merge new evidence into), and the reference
    * SCORE BANDS drift is measured against (decile cuts + per-bucket
    * counts of the model's scores ON ITS OWN TRAINING VIEW — the
    * model-monitoring convention: drift is score-distribution shift
    * relative to training, not corpus-vs-corpus). */
  private[graft] def trainedQcOutputs(s: SparkSession,
      trainDocs: DataFrame): Seq[(String, DataFrame)] = {
    val train = trainDocs.select(col("doc_id"), col("text"), col("label"))
      .localCheckpoint()
    val (wts, bias, _) = qcTrain(qcFeatures(train))
    val scored = qcScoreWith(train, wts, bias).localCheckpoint()
    val qs = (1 until PsiBuckets).map(_.toDouble / PsiBuckets)
    val cuts = scored.agg(expr(
      s"transform(percentile(score, array(${qs.mkString(",")})), x -> round(x, 6))")
      .as("cs"))
    val bands = scored.crossJoin(broadcast(cuts)) // 1-row bounded metadata
      .select(size(expr("filter(cs, x -> score > x)")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    import s.implicits._
    Seq("weights" -> Seq((bias, wts.toSeq)).toDF("bias", "w"),
      "train_sample" -> train,
      "score_cuts" -> cuts,
      "score_bands" -> bands)
  }

  /** Registry build over a labeled corpus: deterministic salted-md5
    * training sample (keep-rate target/n — the imp1/mix1 discipline),
    * then [[trainedQcOutputs]]. */
  private[graft] def buildQcOutputs(s: SparkSession,
      docs: DataFrame): Seq[(String, DataFrame)] = {
    val n = math.max(1L, docs.count())
    val rate = math.min(1.0, QcTrainSampleTarget.toDouble / n)
    val thr =
      if (rate >= 1.0) "g" // 'g' sorts above any hex digit
      else f"${math.floor(rate * 4294967296.0).toLong}%08x"
    trainedQcOutputs(s, docs.filter(
      substring(md5(concat(lit("qc:"), col("doc_id").cast("string"))), 1, 8) < thr))
  }

  /** Score-distribution drift PSI of `batch` (a labeled (doc_id,
    * text, label) frame) against the committed registry at `root`:
    * score the batch with the COMMITTED weights, bucket by the
    * committed training-time decile cuts, Laplace-smoothed PSI vs the
    * committed band counts. All folds are ≤[[PsiBuckets]]-row
    * driver-side metadata; the only scan is the batch slice. */
  private[graft] def qcDriftPsi(s: SparkSession, root: String,
      batch: DataFrame): Double = {
    import graft.sources.AtomicPublish.readOutput
    val w = readOutput(s, root, "weights").collect().head
    val (wts, bias) = (w.getSeq[Double](w.fieldIndex("w")).toArray,
      w.getDouble(0))
    val cuts = readOutput(s, root, "score_cuts").collect().head
      .getSeq[Double](0)
    val base = readOutput(s, root, "score_bands").collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("n")).toMap
    val cur = qcScoreWith(batch, wts, bias)
      .select(size(expr(
        s"filter(array(${cuts.mkString(",")}), x -> score > x)")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("n")).toMap
    graft.sources.ModelRegistry.psiOf(base, cur)
  }

  /** DRIFT-TRIGGERED model refresh (the [[graft.sources.ModelRegistry]]
    * policy on the classifier plane): a stable batch REUSES the
    * committed version (nothing published, nothing trained); a batch
    * whose score distribution drifts past the retrain threshold
    * publishes a NEW version trained on the stored sample ∪ the
    * batch, with the drift evidence riding the same atomic pointer
    * swap. Returns (serving version, refreshed?, psi). */
  def refreshQcModel(s: SparkSession, root: String, batch: DataFrame,
      batchId: Long): (String, Boolean, Double) = {
    val psi = qcDriftPsi(s, root, batch)
    val (v, refreshed) = graft.sources.ModelRegistry
      .refreshIfDrifted(s, root, batchId, psi) {
        trainedQcOutputs(s,
          graft.sources.AtomicPublish.readOutput(s, root, "train_sample")
            .unionByName(batch.select(col("doc_id"), col("text"),
              col("label"))))
      }
    (v, refreshed, psi)
  }

  /** Ensure the trained model is published; return (weights, bias)
    * read back through the committed pointer (bounded metadata:
    * QcDim doubles). */
  private[graft] def ensureQcModel(s: SparkSession, dir: String)
      : (Array[Double], Double) = {
    val root = qcModel.ensure(s, dir) {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("label"))
      buildQcOutputs(s, docs) :+
        graft.sources.ModelRegistry.metaOutput(s, -1L, 0.0,
          refreshed = false)
    }
    val row = graft.sources.AtomicPublish.readOutput(s, root, "weights")
      .collect().head
    (row.getSeq[Double](row.fieldIndex("w")).toArray, row.getDouble(0))
  }

  def qc1ClassifierScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("label"))
    val feats = qcFeatures(docs)
    val (wts, bias) = ensureQcModel(s, dir)
    val wlit = array(wts.map(lit): _*)
    feats.groupBy(col("doc_id"), col("label"))
      .agg(sum(element_at(wlit, col("idx") + 1) * col("v")).as("m"))
      .select(col("doc_id"), col("label").cast("int").as("label"),
        round(lit(1.0) / (lit(1.0) + exp(-(col("m") + bias))), 4).as("score"))
      .withColumn("pred", when(col("score") >= 0.5, 1).otherwise(0))
      .orderBy("doc_id")
  }

  /** Spec hook: features + training on an arbitrary labeled frame. */
  private[graft] def qcTrainOn(docs: DataFrame, iters: Int, lr: Double)
      : (Array[Double], Double, Seq[Double]) =
    qcTrain(qcFeatures(docs), iters, lr)

  /** Spec hook: score a labeled frame with given weights. */
  private[graft] def qcScoreWith(docs: DataFrame, wts: Array[Double],
      bias: Double): DataFrame = {
    val wlit = array(wts.map(lit): _*)
    qcFeatures(docs).groupBy(col("doc_id"), col("label"))
      .agg(sum(element_at(wlit, col("idx") + 1) * col("v")).as("m"))
      .select(col("doc_id"), col("label"),
        (lit(1.0) / (lit(1.0) + exp(-(col("m") + bias)))).as("score"))
  }

  val PsiBuckets = 10
  val PsiSplit = "2024-01-20" // baseline = events before, current = at/after

  /** psi1: population stability index — THE feature-drift metric of
    * model monitoring (banking scorecards onward; rule of thumb:
    * PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 retrain): the value
    * distribution of a baseline window vs the current window, bucketed
    * by the BASELINE's deciles, Σ (p_cur − p_base)·ln(p_cur/p_base).
    * Complements a12 (volume drift) with DISTRIBUTION drift — volume
    * can hold steady while the value mix silently shifts under a
    * trained model. Scale shape: baseline decile cuts are ONE 1-row
    * percentile aggregate broadcast back (f1/rfm1 discipline — no
    * global sort), bucketing is a row expression, both windows
    * aggregate to ≤[[PsiBuckets]] rows, and the PSI fold sums 10
    * doubles. Laplace-smoothed counts keep empty buckets finite.
    * Exact integer counts + round-6 ⇒ cross-engine stable. */
  def psi1FeatureDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("value"), (col("ts") < lit(PsiSplit).cast("timestamp"))
        .as("is_base"))
    val qs = (1 until PsiBuckets).map(_.toDouble / PsiBuckets)
    val cuts = ev.filter(col("is_base")).agg(expr(
      s"transform(percentile(value, array(${qs.mkString(",")})), x -> round(x, 6))")
      .as("cs"))
    val counts = ev.crossJoin(broadcast(cuts)) // 1-row bounded metadata
      .select(col("is_base"), size(expr("filter(cs, x -> value > x)")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_base"), 0L).otherwise(1L)).as("n_cur"))
    val tot = counts.agg(sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc"))
    val smoothed = counts.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        ((col("n_base") + 1).cast("double") / (col("tb") + PsiBuckets)).as("p_base"),
        ((col("n_cur") + 1).cast("double") / (col("tc") + PsiBuckets)).as("p_cur"))
    val psi = smoothed.agg(round(sum(
      (col("p_cur") - col("p_base")) * log(col("p_cur") / col("p_base"))), 6)
      .as("psi"))
    smoothed
      .select(col("bucket"), col("n_base"), col("n_cur"),
        round(col("p_base"), 6).as("p_base"),
        round(col("p_cur"), 6).as("p_cur"))
      .crossJoin(broadcast(psi)) // 1-row bounded metadata
      .orderBy("bucket")
  }

  val CalibBuckets = 10

  /** qc2: classifier calibration — the reliability curve and expected
    * calibration error (ECE) of qc1's corpus scores: per score decile,
    * predicted probability vs observed positive rate, plus the
    * sample-weighted |gap| summary. A classifier that filters a
    * 100 TB corpus by threshold is only as good as its calibration —
    * an over-confident model silently shifts the kept-token mixture,
    * and this is the one-page check that catches it (Guo et al. 2017,
    * "On Calibration of Modern Neural Networks" — ECE; adaptive
    * equal-count binning, which keeps every bin populated even when
    * scores cluster — fixed deciles degenerate to one bin here). One
    * pass over the scored frame: the bin cuts are ONE 1-row
    * percentile aggregate broadcast back (f1/rfm1's discipline —
    * never a global ntile sort), bucketing is a row expression, the
    * curve a bucket-keyed aggregate (≤[[CalibBuckets]] rows), ECE a
    * 1-row reduction attached by broadcast. Since r13 this is a FULL
    * hash oracle (r12 ask #8): the scores are engine-trained but they
    * are READ from the COMMITTED artifact, and the oracle reads the
    * SAME parquet ([[qcScores]]' oracle hook, resolved after the query
    * runs — Verify dumps oracle SQL last), so binning, curve, and ECE
    * arithmetic are cross-engine-checked on identical inputs;
    * per-bin mean scores fold as int64-quantized sums (the g2 rq
    * discipline) so no double-summation order can perturb the hash.
    * The spec additionally recomputes the curve driver-side. */
  /** Durable scored-corpus artifact: qc1's apply output published ONCE
    * per corpus fingerprint — calibration monitoring (qc2, and pipe4
    * through it) reads the COMMITTED scored table, the way a
    * production monitor consumes the scoring job's output instead of
    * re-scoring the corpus per report. qc1 itself remains the live
    * apply-path demonstration (one scan against literal weights), and
    * builds this artifact with exactly that plan. */
  private[graft] val qcScores = Artifact("qc_scores", "documents")(
    s"qcscores-v1;dim=$QcDim;iters=$QcIters;lr=$QcLr;n=$QcTrainSampleTarget")

  private[graft] def ensureQcScores(s: SparkSession, dir: String): String =
    qcScores.ensure(s, dir)(Seq("scores" -> qc1ClassifierScore(s, dir)))

  def qc2Calibration(s: SparkSession, dir: String): DataFrame = {
    val root = ensureQcScores(s, dir)
    // only qc2 records the hook: its oracle (and pipe4's through it)
    // replays the committed scores this read saw
    qcScores.recordVersion(s, dir)
    val base = graft.sources.AtomicPublish.readOutput(s, root, "scores")
      .select(col("label").cast("double").as("label"), col("score"))
      .localCheckpoint() // cuts + curve + ECE all read the scored frame
    val qs = (1 until CalibBuckets).map(_.toDouble / CalibBuckets)
    val cuts = base.agg(expr(
      s"transform(percentile(score, array(${qs.mkString(",")})), x -> round(x, 6))")
      .as("cs"))
    val scored = base.crossJoin(broadcast(cuts)) // 1-row bounded metadata
      .withColumn("bucket", size(expr("filter(cs, x -> score > x)")))
      // per-row 1e-9 quantization so the per-bin mean folds as exact
      // int64 — a plain avg(double) is partial-merge-order dependent
      .withColumn("sq", floor(col("score") * lit(1e9) + lit(0.5)).cast("long"))
    val curve = scored.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round((sum(col("sq")).cast("double") / count(lit(1))) / lit(1e9), 6)
          .as("mean_score"),
        round(avg(col("label")), 6).as("frac_pos"))
      .withColumn("abs_gap",
        round(abs(col("mean_score") - col("frac_pos")), 6))
    val ece = curve.agg(round(
      sum(col("abs_gap") * col("n")) / sum(col("n")), 6).as("ece"))
    curve.crossJoin(broadcast(ece)) // 1-row bounded metadata
      .select(col("bucket"), col("n"), col("mean_score"), col("frac_pos"),
        col("abs_gap"), col("ece"))
      .orderBy("bucket")
  }

  /** qc2's oracle over the committed scores parquet at `path` — the
    * identical adaptive-binning / quantized-mean / ECE arithmetic,
    * DuckDB-side, on the exact doubles the engine read. */
  private def qc2Oracle(path: String): String = {
    val qs = (1 until CalibBuckets).map(_.toDouble / CalibBuckets)
    s"""WITH base AS (SELECT CAST(label AS DOUBLE) AS label, score
       |    FROM read_parquet('$path/*.parquet')),
       |cuts AS (SELECT list_transform(quantile_cont(score,
       |    [${qs.mkString(",")}]), x -> round(x, 6)) AS cs FROM base),
       |sb AS (SELECT label, score,
       |    len(list_filter(cs, x -> score > x)) AS bucket,
       |    CAST(floor(score * 1e9 + 0.5) AS BIGINT) AS sq
       |  FROM base CROSS JOIN cuts),
       |curve AS (SELECT bucket, COUNT(*) AS n,
       |    round((CAST(SUM(sq) AS DOUBLE) / COUNT(*)) / 1e9, 6) AS mean_score,
       |    round(AVG(label), 6) AS frac_pos
       |  FROM sb GROUP BY 1),
       |g AS (SELECT *, round(abs(mean_score - frac_pos), 6) AS abs_gap
       |  FROM curve),
       |e AS (SELECT round(SUM(abs_gap * n) / SUM(n), 6) AS ece FROM g)
       |SELECT g.bucket, g.n, g.mean_score, g.frac_pos, g.abs_gap, e.ece
       |FROM g CROSS JOIN e ORDER BY g.bucket""".stripMargin
  }

  /** Bootstrap replicate budget B — the imp2 cost/accuracy constant.
    * Cost is linear in B
    * (every row folds a B-wide weight vector, the aggregate carries
    * B partials); the CI's WIDTH is a property of the data (≈
    * 3.92·σ/√n, independent of B) while the Monte-Carlo error of the
    * CI *endpoints* shrinks as 1/√B — the quantile-estimator CLT. So
    * doubling B halves nothing visible until endpoint noise dominates:
    * B=100 puts endpoint noise well under the 6dp output rounding for
    * this corpus and halves the suite's largest absolute bench row
    * (37 s at sf1 under B=200); audits that need tighter tails call
    * [[imp2BootstrapCiB]] with a larger B instead of everyone paying
    * for them. The spec
    * pins the 1/√B endpoint-noise scaling empirically. */
  val BootReplicates: Int = 100
  /** Poisson(1) CDF ladder: cumulative probabilities for k = 0..5
    * (k = 6 is the tail). Inverse-CDF on a deterministic hash-uniform
    * gives each (row, replicate) its resample weight. */
  private[graft] val PoissonCdf: Seq[Double] =
    Seq(0.36787944, 0.73575888, 0.91969860, 0.98101184, 0.99634015,
      0.99940582)

  /** imp2: bootstrap confidence interval for a corpus mean — the
    * Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012): the classic resample-with-
    * replacement is impossible distributed (it needs n IID draws from
    * the WHOLE corpus per replicate), but Binomial(n, 1/n) → Poisson(1)
    * per row makes each replicate's membership a per-row decision —
    * embarrassingly parallel, one scan. Each (row, replicate) draws
    * its weight by inverse-CDF on a deterministic md5-hex-prefix
    * uniform (imp1's sampling discipline — re-runnable, no RNG state,
    * and a primitive BOTH engines share), the [[BootReplicates]]×
    * fanout collapses into a replicate-keyed weighted-mean aggregate
    * (map-side partials; B groups), and the CI is an exact percentile
    * of the B replicate means — a B-row driver-free reduction. Values
    * ride as exact integer cents, so every replicate's (Σw, Σw·v)
    * pair is integer-exact in double and the replicate means are
    * BIT-IDENTICAL across engines — since r13 this is a FULL hash
    * oracle (the r12 verdict's ask #8; the old xxhash64 uniform was
    * the only engine-specific step). The spec additionally pins
    * determinism, point-mean coverage, and the 1/√B endpoint noise. */
  def imp2BootstrapCi(s: SparkSession, dir: String): DataFrame =
    imp2BootstrapCiB(s, dir, BootReplicates)

  /** The B replicate weighted means (one row each) — the bootstrap's
    * sampling distribution of the corpus mean. The B× fanout never
    * materializes as ROWS: each row builds its B-element weight vector
    * in-row (two nested transforms — hash uniforms, then the
    * inverse-CDF ladder) and the elementwise VectorSumAgg kernel folds
    * Σw·v and Σw per replicate map-side. The exploded form measured
    * 8.7× at the sf1 checkpoint purely from B×|rows| row
    * materialization; this form is one scan with two fixed-width
    * array aggregates. */
  private[graft] def bootstrapMeans(s: SparkSession, dir: String,
      replicates: Int): DataFrame = {
    // values ride as exact integer CENTS: with integer weights (0..6)
    // every partial Σw·v is an integer, exact in double below 2^53
    // (~9e15 — a 100 TB corpus of 1e12 rows × 1e4-cent values would
    // cross it; there the VectorSumAgg legs swap to a decimal fold),
    // so the replicate means divide bit-identical integers in BOTH
    // engines and the hash oracle holds
    val ev = Tables.events(s, dir).select(col("event_id"),
      (col("value").cast("decimal(12,2)") * 100).cast("long")
        .cast("double").as("cents"))
      // the md5 kernel is CPU-BOUND at B digests per row; a bench-sf
      // events file fits one scan split, which would run the whole
      // B×|rows| digest load on ONE core (measured 2.5 s vs 0.6 s).
      // Re-spread the rows before the kernel, with an EXPLICIT
      // partition count: the exchanged frame is tiny in bytes, so an
      // AQE-advisory repartition gets coalesced straight back to one
      // partition (SURVEY §5's starved-pair-join class, third
      // sighting) — pinning the count keeps the digest load on every
      // core. At cluster scale the scan already arrives multi-split
      // and this exchange stays cheap relative to the hashing
      .repartition(s.sparkContext.defaultParallelism, col("event_id"))
    // the per-row (w, w·v) pair comes from ONE compiled kernel call
    // (BootWeightPair — identical md5 digest chain and ladder to the
    // SQL form the spec pins, without ~rows×B×3 interpreted closure
    // dispatches); the 2B-wide fused array feeds a single
    // VectorSumAgg and the two halves split after the 1-row reduce
    ev.select(org.apache.spark.sql.graft.BootWeightsExpr
        .bootWeightPair(col("event_id"), col("cents"),
          replicates).as("wwv"))
      .agg(org.apache.spark.sql.graft.VectorSumAggExpr.vectorSum(col("wwv"))
        .as("s2"))
      .select(explode(expr(
        s"zip_with(slice(s2, ${replicates + 1}, $replicates), " +
          s"slice(s2, 1, $replicates), (a, b) -> (a / b) / 100.0D)")).as("mb"))
  }

  /** imp2 with an explicit replicate budget — the spec drives this at
    * several B values to pin the 1/√B endpoint-noise curve. */
  private[graft] def imp2BootstrapCiB(s: SparkSession, dir: String,
      replicates: Int): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
    val means = bootstrapMeans(s, dir, replicates)
    val point = ev.agg(count(lit(1)).as("n_rows"),
      round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("point_mean"))
    means
      .agg(count(lit(1)).as("n_replicates"),
        round(expr("percentile(mb, 0.025D)"), 6).as("ci_lo"),
        round(expr("percentile(mb, 0.975D)"), 6).as("ci_hi"))
      .crossJoin(broadcast(point)) // 1-row bounded metadata
      .select(col("n_rows"), col("point_mean"), col("n_replicates"),
        col("ci_lo"), col("ci_hi"),
        round(col("ci_hi") - col("ci_lo"), 6).as("ci_width"))
  }

  /** Total sample budget the imp3 allocation distributes. */
  val NeymanBudget = 10000L

  /** imp3: Neyman-optimal stratified sample allocation (Neyman 1934)
    * — given a total budget of [[NeymanBudget]] rows, how many should
    * each stratum (event_type) contribute? Proportional allocation
    * (n_h ∝ N_h) is what naive sampling does; Neyman allocation
    * (n_h ∝ N_h·σ_h) minimizes the estimator variance for a fixed
    * budget by spending rows where the VALUE is noisy, not merely
    * where rows are many — the sampling-design step that comes before
    * imp1's deterministic thinning at 100 TB (you size the strata from
    * this table, then imp1's hash thresholds implement it). One keyed
    * aggregate of exact decimal moments per stratum (map-side
    * partials), then everything is windows over the #strata-bounded
    * frame (the prof5 one-tree rule — no second fact scan). σ from
    * the same exact-decimal moment algebra as ts9, int64-quantized
    * BEFORE the share arithmetic so both engines divide bit-identical
    * inputs; allocations floor(x+0.5)-rounded to exact int64. */
  def imp3NeymanAllocation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vd = col("value").cast("decimal(18,6)")
    val strata = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(vd).as("s1"),
        sum(vd * vd).as("s2"))
    val n = col("n_rows").cast("double")
    val sigmaRaw = sqrt(
      (col("s2").cast("double") * n -
        col("s1").cast("double") * col("s1").cast("double")) /
        (n * n - n))
    val q6 = (c: org.apache.spark.sql.Column) =>
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    val all = Window.partitionBy()
    strata
      .withColumn("sigma", q6(sigmaRaw))
      // N_h·σ_h carried as an exact int64 at 1e-6 grain: the all-rows
      // window below has no ordering, so a raw double sum would add in
      // scheduling-dependent order (the one place this operator could
      // diverge run-to-run or engine-to-engine); integer folds can't
      .withColumn("nsigq", floor(n * col("sigma") * lit(1e6) + lit(0.5))
        .cast("long"))
      .withColumn("nsig", col("nsigq").cast("double") / lit(1e6))
      .withColumn("tot_rows", sum(col("n_rows")).over(all))
      .withColumn("tot_nsig",
        sum(col("nsigq")).over(all).cast("double") / lit(1e6))
      .select(col("event_type"), col("n_rows"), col("sigma"),
        floor(lit(NeymanBudget) * col("nsig") / col("tot_nsig") + lit(0.5))
          .cast("long").as("neyman_n"),
        floor(lit(NeymanBudget) * n / col("tot_rows").cast("double") +
          lit(0.5)).cast("long").as("prop_n"),
        q6(col("nsig") / col("tot_nsig")).as("neyman_share"))
      .orderBy("event_type")
  }

  /** imp4: Horvitz–Thompson total estimation from imp1's deterministic
    * importance sample — per source, the inverse-probability estimate
    * Σ_{sampled} n_words/w of total word mass against the exact
    * full-scan total, with relative error: the end-to-end check that
    * the sampling plane's weights actually deliver the unbiasedness
    * they promise (Horvitz & Thompson 1952), and the pattern every
    * sample-based corpus accounting job runs at 100 TB (estimate from
    * the cheap sample, audit on a scheduled full pass). Inclusion is
    * IDENTICAL to imp1 (same salt, same 8-hex threshold), so this is
    * the estimator OVER that committed sampling rule, not a new RNG.
    * Determinism: each per-row HT term is one correctly-rounded double
    * division quantized to int64 at 1e-6 grain, so the per-source sum
    * is an exact order-free integer fold (the g2 rq discipline) — the
    * whole operator is ONE scan and ONE keyed aggregate. */
  def imp4HtEstimate(s: SparkSession, dir: String): DataFrame = {
    val nw = size(words)
    val w = least(lit(1.0), nw.cast("double") / 100.0)
    val thr = when(w >= 1.0, lit("g"))
      .otherwise(lpad(lower(hex(floor(w * lit(4294967296.0)).cast("long"))), 8, "0"))
    val inc = substring(md5(concat(lit("imp:"),
      col("doc_id").cast("string"))), 1, 8) < thr
    val htq = floor(nw.cast("double") / w * lit(1e6) + lit(0.5)).cast("long")
    val q6 = (c: Column) =>
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    Tables.documents(s, dir)
      .select(col("source"), nw.cast("long").as("n_words"),
        when(inc, 1L).otherwise(0L).as("inc"),
        when(inc, htq).otherwise(0L).as("htq"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("inc")).as("n_sampled"),
        sum(col("n_words")).as("true_total"),
        (sum(col("htq")).cast("double") / lit(1e6)).as("est_total"))
      .select(col("source"), col("n_docs"), col("n_sampled"),
        col("true_total"), col("est_total"),
        q6((col("est_total") - col("true_total").cast("double")) /
          col("true_total").cast("double")).as("rel_err"))
      .orderBy("source")
  }

  /** A `def` (not val) so the qc2 entry can resolve the committed
    * scores path AFTER the queries ran — Verify's dump order
    * guarantees it; see [[qcScores]]' oracle hook. With zero corpora
    * run the entry is absent (rows-only fallback); with MORE than one
    * the entry is also absent — no single SQL string could be right
    * for both, and a wrong-corpus oracle would fail the gate loudly
    * at best, pass it vacuously at worst. */
  def oracles: Map[String, String] = staticOracles ++
    qcScores.oracleVersion.map(v => s"$v/scores").toSeq.flatMap(p => Seq(
        "qc2_calibration" -> qc2Oracle(p),
        // qc1's oracle is the committed artifact itself (r14, the n4
        // pattern completed on the scoring plane): the live query
        // recomputes scores from the committed model, the publish
        // wrote the same computation's output once — a hash pass
        // proves live recompute ≡ published artifact, doc for doc.
        // The logistic MATH is pinned by QualitySpec's driver-side
        // gradient/score recomputes; the oracle pins reproducibility.
        "qc1_classifier_score" ->
          s"""SELECT doc_id, label, score, pred
             |FROM read_parquet('$p/*.parquet')
             |ORDER BY doc_id""".stripMargin))

  /** g1's full rule-set SQL as ONE reusable block (ends in a
    * relation with doc_id, stats, n_rules_failed, keep) — shared by
    * the g1 oracle and qc5's filter-bias report so the keep rule
    * cannot drift between the two (the t1PredSql discipline). */
  private[graft] def g1StatsSql: String =
    s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words,
         |    string_split(text, chr(10)) AS lines FROM documents),
         |st AS (SELECT doc_id,
         |  len(words) AS n_words,
         |  round(CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words), 6) AS mean_word_len,
         |  round(CAST((length(text) - length(replace(text, '#', ''))) +
         |    (length(text) - length(replace(text, '...', ''))) // 3 AS DOUBLE) / len(words), 6) AS symbol_ratio,
         |  round(CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %')) AS DOUBLE) / len(lines), 6) AS bullet_frac,
         |  round(CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE) / len(lines), 6) AS ellipsis_frac,
         |  round(CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(words), 6) AS alpha_frac,
         |  (CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END
         |   + CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END
         |   + CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END
         |   + CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END
         |   + CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END
         |   + CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END
         |   + CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END
         |   + CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END) AS stop_hits
         | FROM w),
         |fl AS (SELECT *,
         |  (CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END
         |   + CASE WHEN mean_word_len < 3 OR mean_word_len > 10 THEN 1 ELSE 0 END
         |   + CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END
         |   + CASE WHEN bullet_frac > 0.9 THEN 1 ELSE 0 END
         |   + CASE WHEN ellipsis_frac > 0.3 THEN 1 ELSE 0 END
         |   + CASE WHEN alpha_frac < 0.8 THEN 1 ELSE 0 END
         |   + CASE WHEN stop_hits < $StopHitsMin THEN 1 ELSE 0 END) AS n_rules_failed
         | FROM st)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
         |  ellipsis_frac, alpha_frac, stop_hits, n_rules_failed,
         |  CASE WHEN n_rules_failed = 0 THEN 1 ELSE 0 END AS keep
         |FROM fl""".stripMargin

  private val staticOracles: Map[String, String] = Map(
    "qc5_filter_bias" ->
      s"""WITH g1 AS (
         |$g1StatsSql),
         |dv AS (
         |  SELECT g1.keep, 'lang' AS dim, d.lang AS value
         |    FROM g1 JOIN documents d USING (doc_id)
         |  UNION ALL
         |  SELECT g1.keep, 'source', d.source
         |    FROM g1 JOIN documents d USING (doc_id)
         |  UNION ALL
         |  SELECT g1.keep, 'len_bucket',
         |      CAST(CAST(floor(d.n_chars / 100) * 100 AS BIGINT) AS VARCHAR)
         |    FROM g1 JOIN documents d USING (doc_id)),
         |cells AS (SELECT dim, value,
         |    CAST(SUM(keep) AS BIGINT) AS n_kept,
         |    CAST(SUM(1 - keep) AS BIGINT) AS n_dropped
         |  FROM dv GROUP BY 1, 2),
         |tot AS (SELECT dim, CAST(SUM(n_kept) AS BIGINT) AS tk,
         |    CAST(SUM(n_dropped) AS BIGINT) AS td
         |  FROM cells GROUP BY 1)
         |SELECT c.dim, c.value, c.n_kept, c.n_dropped,
         |  round(CAST(c.n_kept AS DOUBLE) / nullif(t.tk, 0), 6)
         |    AS kept_share,
         |  round(CAST(c.n_dropped AS DOUBLE) / nullif(t.td, 0), 6)
         |    AS dropped_share,
         |  round(CAST(c.n_kept AS DOUBLE) / nullif(t.tk, 0)
         |    - CAST(c.n_dropped AS DOUBLE) / nullif(t.td, 0), 6) AS bias
         |FROM cells c JOIN tot t USING (dim)
         |ORDER BY c.dim, c.value""".stripMargin,
    "qc4_langid_confusion" ->
      s"""WITH pred AS (
         |${TextAnalysis.t1PredSql}),
         |cells AS (SELECT lang_label AS true_lang, pred_lang,
         |    COUNT(*) AS n FROM pred GROUP BY 1, 2),
         |tot AS (SELECT true_lang, CAST(SUM(n) AS BIGINT) AS true_total
         |  FROM cells GROUP BY 1)
         |SELECT c.true_lang, c.pred_lang, c.n, t.true_total,
         |  round(CAST(c.n AS DOUBLE) / t.true_total, 6) AS share_of_true,
         |  CAST(c.true_lang = c.pred_lang AS INT) AS correct
         |FROM cells c JOIN tot t USING (true_lang)
         |ORDER BY 1, 2""".stripMargin,
    "priv2_dp_release" ->
      s"""WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
         |u AS (SELECT event_type, n,
         |    (CAST(CAST('0x' || substring(md5('dp:' || event_type), 1, 8)
         |      AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
         |  FROM c)
         |SELECT event_type,
         |  round(n + (-1.0 / $DpEpsilon) * sign(u - 0.5)
         |    * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS released_count,
         |  CAST($DpEpsilon AS DOUBLE) AS epsilon
         |FROM u ORDER BY event_type""".stripMargin,
    "imp2_bootstrap_ci" -> {
      // the full Poisson bootstrap, re-derived: md5-prefix uniforms
      // (imp1's (conv(substring(md5 …)) + 1) / 2^32 form), the same
      // inverse-CDF ladder, integer-cents replicate sums, exact
      // percentile of the B means — every step shared with the engine
      val ladder = PoissonCdf.zipWithIndex
        .map { case (p, k) => s"WHEN u < $p THEN $k" }
        .mkString("CASE ", " ", s" ELSE ${PoissonCdf.size} END")
      s"""WITH reps AS (SELECT unnest(generate_series(0, ${BootReplicates - 1})) AS b),
         |u AS (SELECT e.event_id,
         |    CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         |    r.b,
         |    (CAST(CAST('0x' || substring(md5('boot:' || CAST(r.b AS VARCHAR)
         |      || ':' || CAST(e.event_id AS VARCHAR)), 1, 8)
         |      AS BIGINT) AS DOUBLE) + 1.0) / 4294967296.0 AS u
         |  FROM events e CROSS JOIN reps r),
         |w AS (SELECT b, cents, $ladder AS w FROM u),
         |rmeans AS (SELECT b,
         |    (CAST(SUM(CAST(w AS BIGINT) * cents) AS DOUBLE)
         |      / CAST(SUM(w) AS DOUBLE)) / 100.0 AS mb
         |  FROM w GROUP BY 1),
         |ci AS (SELECT COUNT(*) AS n_replicates,
         |    round(quantile_cont(mb, 0.025), 6) AS ci_lo,
         |    round(quantile_cont(mb, 0.975), 6) AS ci_hi FROM rmeans),
         |pt AS (SELECT COUNT(*) AS n_rows,
         |    round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
         |      / COUNT(*), 6) AS point_mean FROM events)
         |SELECT pt.n_rows, pt.point_mean, ci.n_replicates, ci.ci_lo,
         |  ci.ci_hi, round(ci.ci_hi - ci.ci_lo, 6) AS ci_width
         |FROM ci CROSS JOIN pt""".stripMargin
    },
    "priv1_k_anonymity" ->
      s"""SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size,
         |  COUNT(DISTINCT floor(c_acctbal / $KAnonBand)) AS l_diversity,
         |  COUNT(*) < $KAnonK AS k_risky,
         |  COUNT(DISTINCT floor(c_acctbal / $KAnonBand)) < 2 AS l_risky
         |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "imp5_capture_recapture" ->
      s"""WITH f AS (SELECT
         |    CASE WHEN substring(md5('capA:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |      < '$CaptureThr' THEN 1 ELSE 0 END AS a,
         |    CASE WHEN substring(md5('capB:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |      < '$CaptureThr' THEN 1 ELSE 0 END AS b
         |  FROM documents),
         |m AS (SELECT COUNT(*) AS n_total, CAST(SUM(a) AS BIGINT) AS n_a,
         |    CAST(SUM(b) AS BIGINT) AS n_b,
         |    CAST(SUM(a * b) AS BIGINT) AS n_both
         |  FROM f)
         |SELECT n_total, n_a, n_b, n_both,
         |  ((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 AS n_hat,
         |  round((CAST(((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 AS DOUBLE)
         |    - n_total) / n_total, 6) AS rel_err
         |FROM m""".stripMargin,
    "qc3_rater_agreement" -> {
      val po = "CAST(a11 + a00 AS DOUBLE) / n"
      val pe = "(CAST(a11 + a10 AS DOUBLE) * (a11 + a01) + " +
        "CAST(a01 + a00 AS DOUBLE) * (a10 + a00)) / (CAST(n AS DOUBLE) * n)"
      val stopSum = RequiredStopwords.map(w =>
        s"CASE WHEN list_contains(words, '$w') THEN 1 ELSE 0 END")
        .mkString("(", "\n         |   + ", ")")
      s"""WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
         |st AS (SELECT len(words) AS n_words,
         |  round(CAST(list_sum(list_transform(words, x -> length(x)))
         |    AS DOUBLE) / len(words), 6) AS mean_word_len,
         |  round(CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
         |    AS DOUBLE) / len(words), 6) AS alpha_frac,
         |  $stopSum AS stop_hits
         | FROM w),
         |f AS (SELECT
         |  CASE WHEN n_words >= 50 AND n_words <= 100000
         |    AND mean_word_len >= 3 AND mean_word_len <= 10
         |    THEN 1 ELSE 0 END AS ra,
         |  CASE WHEN stop_hits >= $Qc3StopMin AND alpha_frac >= 0.8
         |    THEN 1 ELSE 0 END AS rb
         | FROM st),
         |a AS (SELECT COUNT(*) AS n,
         |  CAST(SUM(ra * rb) AS BIGINT) AS a11,
         |  CAST(SUM(ra * (1 - rb)) AS BIGINT) AS a10,
         |  CAST(SUM((1 - ra) * rb) AS BIGINT) AS a01,
         |  CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS a00 FROM f)
         |SELECT n AS n_docs, a11 AS both_keep, a10 AS only_len,
         |  a01 AS only_content, a00 AS both_drop,
         |  round($po, 6) AS p_observed,
         |  round($pe, 6) AS p_expected,
         |  CASE WHEN $pe < 1.0
         |    THEN round(($po - $pe) / (1.0 - $pe), 6) END AS kappa
         |FROM a""".stripMargin
    },
    "imp4_ht_estimate" ->
      """WITH d AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
        |      AS w,
        |    CASE WHEN substring(md5('imp:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |      < CASE WHEN least(1.0, CAST(len(string_split(text, ' '))
        |            AS DOUBLE) / 100.0) >= 1.0 THEN 'g'
        |        ELSE lpad(lower(to_hex(CAST(floor(least(1.0,
        |          CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
        |          * 4294967296.0) AS BIGINT))), 8, '0') END
        |      THEN 1 ELSE 0 END AS inc
        |  FROM documents),
        |g AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(inc) AS BIGINT) AS n_sampled,
        |    CAST(sum(n_words) AS BIGINT) AS true_total,
        |    CAST(sum(CASE WHEN inc = 1 THEN CAST(floor(
        |        CAST(n_words AS DOUBLE) / w * 1e6 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS DOUBLE) / 1e6 AS est_total
        |  FROM d GROUP BY source)
        |SELECT source, n_docs, n_sampled, true_total, est_total,
        |  CAST(floor((est_total - CAST(true_total AS DOUBLE))
        |    / CAST(true_total AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6
        |    AS rel_err
        |FROM g ORDER BY source""".stripMargin,
    "imp3_neyman_allocation" ->
      s"""WITH st AS (SELECT event_type, count(*) AS n_rows,
         |    SUM(CAST(value AS DECIMAL(18,6))) AS s1,
         |    SUM(CAST(value AS DECIMAL(18,6))
         |      * CAST(value AS DECIMAL(18,6))) AS s2
         |  FROM events GROUP BY 1),
         |sg AS (SELECT event_type, n_rows,
         |    CAST(floor(sqrt((CAST(s2 AS DOUBLE) * CAST(n_rows AS DOUBLE)
         |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         |      / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
         |        - CAST(n_rows AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) / 1e6
         |      AS sigma
         |  FROM st),
         |wq AS (SELECT event_type, n_rows, sigma,
         |    CAST(floor(CAST(n_rows AS DOUBLE) * sigma * 1e6 + 0.5)
         |      AS BIGINT) AS nsigq,
         |    CAST(sum(n_rows) OVER () AS BIGINT) AS tot_rows
         |  FROM sg),
         |w AS (SELECT event_type, n_rows, sigma, tot_rows,
         |    CAST(nsigq AS DOUBLE) / 1e6 AS nsig,
         |    CAST(sum(nsigq) OVER () AS BIGINT) / 1e6 AS tot_nsig
         |  FROM wq)
         |SELECT event_type, n_rows, sigma,
         |  CAST(floor($NeymanBudget * nsig / tot_nsig + 0.5) AS BIGINT)
         |    AS neyman_n,
         |  CAST(floor($NeymanBudget * CAST(n_rows AS DOUBLE)
         |    / CAST(tot_rows AS DOUBLE) + 0.5) AS BIGINT) AS prop_n,
         |  CAST(floor(nsig / tot_nsig * 1e6 + 0.5) AS BIGINT) / 1e6
         |    AS neyman_share
         |FROM w ORDER BY event_type""".stripMargin,
    "psi1_feature_drift" -> {
      val qs = (1 until PsiBuckets).map(_.toDouble / PsiBuckets)
      s"""WITH ev AS (SELECT value,
         |    ts < TIMESTAMP '$PsiSplit' AS is_base FROM events),
         |cuts AS (SELECT list_transform(
         |    quantile_cont(value, [${qs.mkString(",")}]),
         |    x -> round(x, 6)) AS cs
         |  FROM ev WHERE is_base),
         |bkt AS (SELECT is_base,
         |    len(list_filter(cs, x -> value > x)) AS bucket
         |  FROM ev CROSS JOIN cuts),
         |counts AS (SELECT bucket,
         |    CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_base,
         |    CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_cur
         |  FROM bkt GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb,
         |    CAST(sum(n_cur) AS BIGINT) AS tc FROM counts),
         |sm AS (SELECT bucket, n_base, n_cur,
         |    CAST(n_base + 1 AS DOUBLE) / (tb + $PsiBuckets) AS p_base,
         |    CAST(n_cur + 1 AS DOUBLE) / (tc + $PsiBuckets) AS p_cur
         |  FROM counts CROSS JOIN tot),
         |psi AS (SELECT round(sum(
         |    (p_cur - p_base) * ln(p_cur / p_base)), 6) AS psi FROM sm)
         |SELECT bucket, n_base, n_cur,
         |  round(p_base, 6) AS p_base, round(p_cur, 6) AS p_cur, psi
         |FROM sm CROSS JOIN psi ORDER BY bucket""".stripMargin
    },
    "g1_gopher_quality" -> s"$g1StatsSql\nORDER BY doc_id",
    "imp1_importance_sample" ->
      """WITH w AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) AS w
        |  FROM documents)
        |SELECT doc_id, n_words, round(w, 6) AS weight,
        |  round(1.0 / w, 6) AS inv_weight
        |FROM w
        |WHERE substring(md5('imp:' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE WHEN w >= 1.0 THEN 'g'
        |    ELSE lpad(lower(to_hex(CAST(floor(w * 4294967296.0) AS BIGINT))), 8, '0') END
        |ORDER BY doc_id""".stripMargin,
    "dc1_source_caps" ->
      s"""SELECT doc_id, source, n_chars, rnk AS "rank"
         |FROM (SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id) AS rnk
         |  FROM documents)
         |WHERE rnk <= $SourceCap
         |ORDER BY source, rnk""".stripMargin)

  /** qc3: inter-rater agreement (Cohen's kappa, Cohen 1960) between
    * two independent heuristic quality raters — the calibration
    * question behind every rule-based filter stack: do the length
    * rater (gopher rules 1–2: word count + mean word length) and the
    * content rater (rules 6–7 tightened: alpha fraction ≥ 0.8,
    * ≥ [[Qc3StopMin]] required stopwords) actually measure the same
    * thing, beyond chance agreement? Both raters are row-local
    * predicates over [[gopherStats]]'s codegen'd per-doc statistics;
    * the 2×2 contingency folds as four exact integer sums in ONE
    * scan-level aggregate (map-side partials, zero shuffles of doc
    * data), and kappa = (p_o − p_e)/(1 − p_e) is evaluated once on
    * the 1-row frame in a fixed IEEE expression tree both engines
    * share. Degenerate corpora (p_e = 1) yield NULL, mirrored in the
    * oracle. */
  def qc3RaterAgreement(s: SparkSession, dir: String): DataFrame = {
    val st = gopherStats(Tables.documents(s, dir))
    val ra = col("n_words") >= 50 && col("n_words") <= 100000 &&
      col("mean_word_len") >= 3 && col("mean_word_len") <= 10
    val rb = col("stop_hits") >= Qc3StopMin && col("alpha_frac") >= 0.8
    val agg = st
      .select(when(ra, 1).otherwise(0).as("ra"),
        when(rb, 1).otherwise(0).as("rb"))
      .agg(count(lit(1)).as("n"),
        sum(col("ra") * col("rb")).as("a11"),
        sum(col("ra") * (lit(1) - col("rb"))).as("a10"),
        sum((lit(1) - col("ra")) * col("rb")).as("a01"),
        sum((lit(1) - col("ra")) * (lit(1) - col("rb"))).as("a00"))
    val po = (col("a11") + col("a00")).cast("double") / col("n")
    val pe = ((col("a11") + col("a10")).cast("double") *
      (col("a11") + col("a01")) +
      (col("a01") + col("a00")).cast("double") * (col("a10") + col("a00"))) /
      (col("n").cast("double") * col("n"))
    agg.select(col("n").as("n_docs"), col("a11").as("both_keep"),
      col("a10").as("only_len"), col("a01").as("only_content"),
      col("a00").as("both_drop"),
      round(po, 6).as("p_observed"), round(pe, 6).as("p_expected"),
      when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** qc4: language-ID confusion matrix — t1's heuristic classifier
    * graded against the corpus' GOLD lang labels (the documents table
    * carries ground truth — the eval every classifier in the stack
    * owes before its predictions route mixture weights): one row per
    * (true_lang, pred_lang) cell with exact counts, the true-row
    * total, the cell's share of its true row (per-class recall on
    * the diagonal), and a correct flag. Two honest findings on this
    * corpus, both exactly what the matrix exists to surface: (1) zh
    * has no stoplist, so its row never scores correct — the
    * classifier's blind spot; (2) the generator emits en-flavored
    * tokens under EVERY lang label, so non-en rows concentrate on
    * pred=en — the label/content-mismatch signature that flags
    * either a broken classifier or mislabeled ingest before
    * predictions route mixture weights (spec-pinned).
    * Scale shape: rides t1's one corpus scan + doc-keyed
    * aggregate, then collapses to a ≤ #langs² cell frame; the row
    * totals attach from a bounded broadcast aggregate. */
  def qc4LangidConfusion(s: SparkSession, dir: String): DataFrame = {
    val cells = TextAnalysis.t1LangId(s, dir)
      .groupBy(col("lang_label").as("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("true_lang"))
      .agg(sum(col("n")).cast("long").as("true_total"))
    cells.join(broadcast(totals), Seq("true_lang"))
      .select(col("true_lang"), col("pred_lang"), col("n"),
        col("true_total"),
        round(col("n").cast("double") / col("true_total"), 6)
          .as("share_of_true"),
        (col("true_lang") === col("pred_lang")).cast("int").as("correct"))
      .orderBy("true_lang", "pred_lang")
  }

  /** qc5: filter-bias audit — what did the quality filter THROW AWAY?
    * g1's keep decision joined back to the document dimensions, then
    * kept-vs-dropped composition compared per dimension value: for
    * each (dim, value) — lang, source, and 100-char length bucket —
    * the kept/dropped counts, each side's share of its own mass, and
    * the signed bias (kept_share − dropped_share): the
    * selection-bias report a curation pipeline owes before shipping
    * a filtered corpus (a quality rule that silently halves one
    * language is an incident, not a filter — the audit
    * Gopher/RefinedWeb describe running on every rule change).
    * Scale shape: ONE corpus pass — the keep flag rides g1's
    * row-local rule-set with the three dims CARRIED through the same
    * projection (r16: the old dims-frame self-join on doc_id re-read
    * the table and planned a doc-grain join — broadcast at test SF,
    * corpus-grain shuffle at 100 TB; keep and dims are row-local
    * functions of the same row, so one scan computes both), the three
    * dims explode in-row (bounded ×3), one (dim, value) count
    * aggregate (map-side partials); per-dim totals attach from a
    * bounded broadcast aggregate; shares are exact int/int ratios,
    * NULL (nullif) when a side is empty rather than a cross-engine
    * NaN. */
  def qc5FilterBias(s: SparkSession, dir: String): DataFrame = {
    val keep = gopherStats(Tables.documents(s, dir),
      Seq(col("lang"), col("source"),
        (floor(col("n_chars") / 100) * 100).cast("long").as("lb")))
      .select(col("keep"), col("lang"), col("source"), col("lb"))
    val cells = keep
      .select(col("keep"), explode(array(
        struct(lit("lang").as("dim"), col("lang").as("value")),
        struct(lit("source").as("dim"), col("source").as("value")),
        struct(lit("len_bucket").as("dim"),
          col("lb").cast("string").as("value")))).as("dv"))
      .select(col("keep"), col("dv.dim").as("dim"),
        col("dv.value").as("value"))
      .groupBy(col("dim"), col("value"))
      .agg(sum(col("keep")).cast("long").as("n_kept"),
        sum(lit(1) - col("keep")).cast("long").as("n_dropped"))
    // Per-dim totals fold as a window over the BOUNDED cells frame
    // (≤ #langs + #sources + #len-buckets rows) instead of a separate
    // groupBy(dim) branch — as plain lineage that branch re-derived
    // the whole kernel subtree, scanning + re-classifying the corpus
    // a second time (r16: 2 scans → 1; the window's dim partitions
    // are bounded cells, the documented bounded-frame pattern).
    val wDim = Window.partitionBy(col("dim"))
    cells
      .withColumn("tk", sum(col("n_kept")).over(wDim).cast("long"))
      .withColumn("td", sum(col("n_dropped")).over(wDim).cast("long"))
      .select(col("dim"), col("value"), col("n_kept"), col("n_dropped"),
        round(col("n_kept").cast("double") / expr("nullif(tk, 0)"), 6)
          .as("kept_share"),
        round(col("n_dropped").cast("double") / expr("nullif(td, 0)"), 6)
          .as("dropped_share"),
        round(col("n_kept").cast("double") / expr("nullif(tk, 0)") -
          col("n_dropped").cast("double") / expr("nullif(td, 0)"), 6)
          .as("bias"))
      .orderBy("dim", "value")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qc5_filter_bias" -> (qc5FilterBias _),
    "qc4_langid_confusion" -> (qc4LangidConfusion _),
    "qc3_rater_agreement" -> (qc3RaterAgreement _),
    "imp5_capture_recapture" -> (imp5CaptureRecapture _),
    "priv1_k_anonymity" -> (priv1KAnonymity _),
    "priv2_dp_release" -> (priv2DpRelease _),
    "g1_gopher_quality" -> (g1GopherQuality _),
    "imp1_importance_sample" -> (imp1ImportanceSample _),
    "imp4_ht_estimate" -> (imp4HtEstimate _),
    "qc1_classifier_score" -> (qc1ClassifierScore _),
    "imp2_bootstrap_ci" -> (imp2BootstrapCi _),
    "imp3_neyman_allocation" -> (imp3NeymanAllocation _),
    "qc2_calibration" -> (qc2Calibration _),
    "psi1_feature_drift" -> (psi1FeatureDrift _),
    "dc1_source_caps" -> (dc1SourceCaps _))
}
