package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composed end-to-end pipelines (SURVEY §2 row 65): the operators
  * are a library, and a real training-data-prep job chains them. This
  * is the "switch from the reference" proof — one declarative plan
  * from raw documents to a cleaned corpus, with every stage still
  * optimizable by Catalyst (the joins below are plain equi-joins on
  * doc_id, so the whole chain is a handful of hash joins over one
  * scan lineage, not three separate jobs).
  */
object Pipeline {

  /** pipe1: exact-dedup → quality floor → predicted-English only.
    * Emits the surviving corpus with its scores. */
  def pipe1DataPrep(s: SparkSession, dir: String): DataFrame = {
    val keep = Dedup.d1DedupExact(s, dir).select(col("keep_id").as("doc_id"))
    val lang = TextAnalysis.t1LangId(s, dir)
      .filter(col("pred_lang") === "en")
      .select(col("doc_id"))
    val quality = TextAnalysis.t2QualityScore(s, dir)
      .filter(col("quality") >= 0.5)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    quality
      .join(keep, Seq("doc_id"))
      .join(lang, Seq("doc_id"))
      .orderBy("doc_id")
  }

  val Pipe2MaxDupRatio = 0.55 // repetition ceiling (keeps ~half the corpus)

  /** pipe2: the full LLM-corpus prep chain over the round's new
    * operators — normalize → exact-dedup on the NORMALIZED hash
    * (case/whitespace variants collapse, stronger than d1) →
    * repetition ceiling (t14) → decontamination (drop the eval
    * holdout AND every corpus doc sharing a 4-gram with it, t15).
    * One declarative plan: every stage is an equi-join or aggregate
    * on doc_id/hash keys, so Catalyst fuses the chain over one scan
    * lineage and each join keys on the same doc_id partitioning. */
  def pipe2LlmCorpus(s: SparkSession, dir: String): DataFrame = {
    val keep = TextAnalysis.t12Normalize(s, dir)
      .groupBy(col("norm_hash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val rep = TextAnalysis.t14Repetition(s, dir)
      .filter(col("dup_word_ratio") <= Pipe2MaxDupRatio)
      .select(col("doc_id"), col("n_words"), col("dup_word_ratio"))
    val contaminated = TextAnalysis.t15Decontaminate(s, dir)
      .select(col("doc_id"))
    rep.join(keep, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .filter(pmod(col("doc_id"), lit(TextAnalysis.EvalHoldoutMod)) =!= 0)
      .orderBy("doc_id")
  }

  /** pipe3: the corpus RELEASE step — pipe2's cleaned corpus and its
    * summary stats published as ONE transaction via
    * [[graft.sources.AtomicPublish]] (staging version + atomic
    * pointer swap; a crash between the two writes leaves readers on
    * the previous consistent pair). The emitted digest is read BACK
    * through the committed pointer, so the oracle hash also proves
    * the publish round-trip was lossless. */
  def pipe3PublishCorpus(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.AtomicPublish
    val root = s"${graft.TmpRoots.perProcess("graft_pipe3_release")}"
    val corpus = pipe2LlmCorpus(s, dir).cache() // reused by both outputs
    val stats = corpus.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_words")).as("total_words"),
      round(avg(col("dup_word_ratio")), 6).as("avg_dup_ratio"))
    AtomicPublish.publish(s, root, Seq("corpus" -> corpus, "stats" -> stats))
    // publish() was the last consumer of the cached frame — the digest
    // below reads the COMMITTED files, not this plan — so release the
    // cache here rather than leaking it into the session.
    corpus.unpersist()
    AtomicPublish.vacuum(s, root) // GC superseded versions from prior runs
    val c = AtomicPublish.readOutput(s, root, "corpus")
    val st = AtomicPublish.readOutput(s, root, "stats")
    c.agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .crossJoin(st.select(col("avg_dup_ratio"))) // 1×1 rows
  }

  val MixTempAlpha = 0.5 // temperature exponent: p_d ∝ n_d^α

  /** mix1: temperature-weighted domain mixing — the LLM-pretraining
    * step that rebalances a corpus across domains (here: language)
    * toward p_d ∝ n_d^[[MixTempAlpha]], flattening head domains
    * without upsampling the tail. Keep rate per domain is
    * sqrt(n_min/n_d) (α=0.5 via sqrt — IEEE-exact in both engines,
    * unlike pow): the rarest domain keeps everything, a 100× larger
    * domain keeps 10%. Sampling is DETERMINISTIC — keep a doc iff its
    * md5's first 8 hex chars are lexicographically below the domain's
    * rate threshold (hex-string order IS numeric order at fixed
    * width) — so the same docs survive on every engine and every run,
    * and the full SQL oracle applies.
    *
    * Scale shape: domain rates are a bounded aggregate (≤#domains
    * rows) broadcast back; the corpus pays one scan → filter →
    * project, ZERO shuffles. */
  def mix1DomainMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_domain"))
    val nmin = counts.agg(min(col("n_domain")).as("n_min"))
    val rates = counts.crossJoin(nmin) // both bounded: #domains × 1
      .withColumn("rate", sqrt(col("n_min").cast("double") / col("n_domain")))
      .withColumn("thr", when(col("rate") >= 1.0, lit("g")) // 'g' > any hex
        .otherwise(lpad(lower(hex(
          floor(col("rate") * lit(4294967296.0)).cast("long"))), 8, "0")))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(substring(md5(col("doc_id").cast("string")), 1, 8) < col("thr"))
      .select(col("doc_id"), col("lang"), col("n_domain"),
        round(col("rate"), 6).as("rate"))
      .orderBy("doc_id")
  }

  val TokenBudget = 1500L // per-domain token budget for mix2
  val PreOversample = 2.0 // prefilter keeps ~2× the budget in expectation

  /** mix2: token-budget curation — fill a fixed per-domain TOKEN
    * budget (not a doc-count or keep-rate like mix1): docs are taken
    * in deterministic md5 order until the domain's running token sum
    * would pass [[TokenBudget]]. The naive form is a per-domain total
    * order over the corpus — a scale-killer — so it runs in two
    * phases (the s5 reservoir trick): (1) per-domain token totals
    * (bounded agg, broadcast back) set a hash threshold keeping
    * ~[[PreOversample]]× the budget in expectation; (2) the exact
    * running-sum window then sorts only the ~O(budget) survivors per
    * domain, never the corpus. The md5-prefix order means the
    * window's winners are a prefix of the unfiltered order unless the
    * survivor mass falls below the budget — a multi-sigma tail (the
    * oracle mirrors the prefilter, so correctness never rests on the
    * bound). */
  def mix2TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        substring(md5(col("doc_id").cast("string")), 1, 8).as("hk"))
    val totals = tok.groupBy(col("lang")).agg(sum(col("n_tokens")).as("total"))
      .withColumn("rate", lit(PreOversample * TokenBudget) / col("total"))
      .withColumn("thr", when(col("rate") >= 1.0, lit("g")) // 'g' > any hex
        .otherwise(lpad(lower(hex(
          floor(col("rate") * lit(4294967296.0)).cast("long"))), 8, "0")))
      .select(col("lang"), col("thr"))
    val wLang = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
    tok.join(broadcast(totals), Seq("lang"))
      .filter(col("hk") < col("thr"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wLang))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Hex-prefix thresholds for the 90/5/5 split: 0.90·16⁸ = 0xE6666666,
    * 0.95·16⁸ = 0xF3333333. String comparison on lowercase md5 hex is
    * identical in Spark and DuckDB, so the assignment is portable. */
  val SplitTrainThr = "e6666666"
  val SplitValThr = "f3333333"

  /** mix3: deterministic train/val/test split — the assignment every
    * training-data pipeline makes last. Salted md5 of the doc key
    * (salt decorrelates it from mix1/mix2's sampling hashes, so
    * sampling and splitting stay independent) against fixed hex
    * thresholds: 90% train / 5% val / 5% test in expectation. One
    * scan, zero shuffles (the split is a row-local expression);
    * stable under corpus growth — a doc's split never changes when
    * other docs arrive, the property that keeps eval sets frozen
    * across pipeline re-runs. */
  def mix3TrainSplit(s: SparkSession, dir: String): DataFrame = {
    val hk = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 8)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        when(hk < SplitTrainThr, "train")
          .when(hk < SplitValThr, "val")
          .otherwise("test").as("split"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  val EpochShards = 8
  val EpochNo = 1 // the epoch this query materializes

  /** mix4: deterministic epoch shuffle into training shards — the
    * data-ordering step between curation and the trainer: every epoch
    * needs a DIFFERENT, reproducible global permutation of the corpus,
    * laid out as shard files a data loader streams in order.
    * Shard and in-shard position both derive from the salted md5 of
    * (epoch, doc_id) — so the permutation is portable, re-runnable,
    * and changes completely between epochs with no RNG state. The
    * in-shard rank window partitions BY shard: at 100 TB the shard
    * count is chosen so corpus/shards is one output file's worth
    * (~1 GB), which makes the per-shard sort exactly the
    * sort-within-partitions of the shard-file write — bounded by
    * design, never a global sort (the q11/q15 lesson). Fully
    * oracle-checkable because the hash is md5 (mix3's discipline),
    * not an engine-specific hash. */
  private[graft] def epochOrder(docs: DataFrame, epoch: Int): DataFrame = {
    val h = md5(concat(lit(s"ord:$epoch:"), col("doc_id").cast("string")))
    val wShard = Window.partitionBy(col("shard"))
      .orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard",
        expr(s"cast(conv(substring(h, 1, 6), 16, 10) as bigint) % $EpochShards"))
      .withColumn("position", row_number().over(wShard))
      .select(col("doc_id"), col("shard"), col("position"))
      .orderBy("shard", "position")
  }

  def mix4EpochOrder(s: SparkSession, dir: String): DataFrame =
    epochOrder(Tables.documents(s, dir), EpochNo)

  val CurriculumBands = 4 // quality quartile bands, ordered low → high

  /** mix5: curriculum ordering — the corpus banded by t2's quality
    * score into [[CurriculumBands]] fixed-threshold bands and
    * epoch-shuffled WITHIN each band (mix4's deterministic md5 shard/
    * position machinery), bands emitted low-quality-first: the
    * data-ordering step behind curriculum pretraining and quality
    * annealing (train on the broad corpus first, END on the highest-
    * quality band — the practice popularized by phase-split
    * pretraining recipes). Fixed thresholds (not quantiles) keep the
    * banding row-local and bit-stable across engines; within-band
    * order is hash-uniform so each band still streams shuffled. Scale
    * shape: quality is a row expression on one scan, the rank window
    * partitions by (band, shard) — shard count chosen at 100 TB so a
    * shard is one output file's worth, the mix4 discipline — never a
    * global or band-global sort. */
  def mix5Curriculum(s: SparkSession, dir: String): DataFrame = {
    val wShard = Window.partitionBy(col("band"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    TextAnalysis.t2QualityScore(s, dir)
      .select(col("doc_id"), col("quality"),
        md5(concat(lit("cur:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("band", least(floor(col("quality") * CurriculumBands)
        .cast("int"), lit(CurriculumBands - 1)))
      .withColumn("shard",
        expr(s"cast(conv(substring(h, 1, 6), 16, 10) as bigint) % $EpochShards"))
      .withColumn("position", row_number().over(wShard))
      .select(col("doc_id"), col("band"), col("shard"), col("position"))
      .orderBy("band", "shard", "position")
  }

  /** mix6: split-leakage audit — for every near-dup cluster (d6's
    * published components), do its members stay inside ONE of mix3's
    * train/val/test splits? A near-duplicate of a training document
    * sitting in the eval split silently inflates every benchmark the
    * split was frozen for — the audit every dedup-aware split pipeline
    * runs before publishing an eval set (the reason modern corpus
    * recipes split by cluster/domain, not by row). One row per
    * multi-member cluster: member count, distinct splits touched, the
    * sorted split list, and a leaked flag. Scale shape: the cluster
    * side is the PUBLISHED cluster index (a build artifact, pair-
    * bounded); the split side is mix3's row-local hash expression on
    * the documents scan; one keyed join + one keyed aggregate over the
    * cluster-member frame — never pair generation, never a corpus
    * self-join. Fully oracle-checkable: the cluster definition is the
    * same recursive-CTE block as d6's oracle, the split the same md5
    * CASE as mix3's. */
  def mix6SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.sources.AtomicPublish
      .readOutput(s, Dedup.ensureClusterIndex(s, dir), "clusters")
    val splits = mix3TrainSplit(s, dir).select(col("doc_id"), col("split"))
    clusters.join(splits, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        array_join(array_sort(collect_set(col("split"))), ",").as("splits"),
        min(col("doc_id")).as("min_doc"))
      .select(col("cluster_id"), col("n_docs"), col("n_splits"),
        col("splits"), col("min_doc"),
        when(col("n_splits") > 1, 1).otherwise(0).as("leaked"))
      .orderBy("cluster_id")
  }

  /** Repeat-weight ceiling: a 10 000-copy boilerplate cluster must not
    * dominate the mixture just because it was big pre-dedup. */
  val DedupWeightCap = 10L

  /** mix7: dedup-then-upweight corpus weights — after near-dup
    * clustering, keep ONE canonical document per cluster (d10's
    * survival rule: longest text, ties to smallest doc_id) and carry
    * the collapsed cluster's size as a capped repeat weight; singleton
    * docs pass through at weight 1. This is the "count duplicates,
    * don't train on them" recipe (a document that appeared 8× in the
    * wild is upweighted 8×, but through ONE clean copy, and a
    * boilerplate cluster is capped at [[DedupWeightCap]]) — the
    * mixture step that consumes d6/d10's machinery the way mix6
    * audits it. Scale shape: the cluster side is the PUBLISHED
    * cluster index; the corpus side is one (doc_id, length) scan;
    * one keyed left join + one cluster-keyed aggregate — never pair
    * generation. Weights are exact int64 ⇒ fully hash-checkable. */
  def mix7DedupWeights(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.sources.AtomicPublish
      .readOutput(s, Dedup.ensureClusterIndex(s, dir), "clusters")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("len"))
    val m = docs.join(clusters, Seq("doc_id"), "left")
    val kept = m.filter(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("len").as("len"), (-col("doc_id")).as("nid")))
          .as("best"))
      .select((-col("best.nid")).as("doc_id"),
        least(col("cluster_size"), lit(DedupWeightCap)).as("weight"),
        lit(1).as("clustered"))
    val solo = m.filter(col("cluster_id").isNull)
      .select(col("doc_id"), lit(1L).as("weight"), lit(0).as("clustered"))
    solo.unionAll(kept).orderBy("doc_id")
  }

  // PSI rule of thumb (shared with the model registries' refresh
  // policy — ONE constant decides both the report banding and the
  // retrain trigger): < 0.1 stable, > 0.25 retrain
  val PsiDrifting: Double = graft.sources.ModelRegistry.DriftingPsi
  val PsiRetrain: Double = graft.sources.ModelRegistry.RetrainPsi
  val EceMax = 0.1        // calibration gap budget before recalibrating

  /** pipe4: the composed monitoring plane — ONE health report row per
    * check, the scheduled job a production pipeline runs after every
    * ingest (the counterpart of pipe1-3's prep/publish composition on
    * the monitoring side): volume drift (a12's anomaly-day count),
    * feature drift (psi1's PSI, banked against the 0.1/0.25 rule of
    * thumb), classifier calibration (qc2's ECE), and the two model
    * registries' committed drift-refresh state (retrained/stable, the
    * ModelRegistry policy's evidence). Each input is
    * already a bounded frame (≤ #days / [[Quality.PsiBuckets]] /
    * [[Quality.CalibBuckets]] rows), so the report is three tiny
    * reductions unioned — the corpus is scanned only inside the
    * composed operators, each with its own audited scale shape.
    * FULL hash oracle since r14: every input is now verifiable —
    * a12/psi1 have static SQL, qc2's ECE reads the COMMITTED scores
    * artifact, and the two registry rows read the committed model
    * meta tables — so the composed report is the same UNION over the
    * composed oracles (pipe4 records both registries' committed
    * versions through their [[graft.sources.Artifact]] oracle hooks;
    * the spec additionally cross-checks every row against its source
    * operator and pins the threshold banding). */
  def pipe4MonitorReport(s: SparkSession, dir: String): DataFrame = {
    val vol = Analytics.a12VolumeDrift(s, dir)
      .agg(sum(when(col("is_anomaly"), 1L).otherwise(0L))
        .cast("double").as("value"))
      .select(lit("volume_drift").as("check"),
        lit("n_anomaly_days").as("metric"), col("value"),
        when(col("value") > 0, "alert").otherwise("ok").as("status"))
    // psi / ece repeat on every row of their frames; min==max==the scalar
    val drift = Quality.psi1FeatureDrift(s, dir)
      .agg(min(col("psi")).as("value"))
      .select(lit("feature_drift").as("check"), lit("psi").as("metric"),
        col("value"),
        when(col("value") > PsiRetrain, "retrain")
          .when(col("value") > PsiDrifting, "drifting")
          .otherwise("stable").as("status"))
    val calib = Quality.qc2Calibration(s, dir)
      .agg(min(col("ece")).as("value"))
      .select(lit("calibration").as("check"), lit("ece").as("metric"),
        col("value"),
        when(col("value") > EceMax, "recalibrate")
          .otherwise("ok").as("status"))
    // the model-registry plane: each registry's committed drift meta
    // (refresh PSI + retrained flag) as a report row, so an ingest
    // batch that tripped a drift-triggered retrain shows up in the
    // NEXT monitoring report with status=retrained — read from the
    // committed snapshot, never recomputed here
    val qcReg = {
      Quality.ensureQcModel(s, dir) // build-once; bounded metadata
      graft.sources.ModelRegistry.reportRow(s, Quality.qcModel.root(dir),
        "qc_model_registry")
    }
    val bpeRoot = TextAnalysis.ensureBpeModel(s, dir)
    val bpeReg = graft.sources.ModelRegistry.reportRow(s, bpeRoot,
      "bpe_model_registry")
    // record the version-resolved meta dirs for the oracle (fails
    // loudly if either registry has no committed version)
    Quality.qcModel.recordVersion(s, dir)
    TextAnalysis.bpeModel.recordVersion(s, dir)
    vol.unionAll(drift).unionAll(calib).unionAll(qcReg).unionAll(bpeReg)
      .orderBy("check")
  }

  val MixTempBudget = 1000000L // token budget the mix8 allocation splits
  val MixTempWScale = 1000L    // fixed-point scale for the √-mass weights

  /** mix8: temperature-scaled source mixture — the multilingual/
    * multi-domain sampling rule (Lample & Conneau 2019 §3.1; mC4 uses
    * the same exponent form): sample source i proportional to
    * p_i^(1/τ) so low-resource sources are up-weighted without
    * letting the head dominate. τ = 2 exactly, so the exponent is a
    * SQRT — correctly rounded in IEEE on every engine, unlike
    * arbitrary pow(x, α) whose libm rounding may differ in the last
    * ulp (the g2 teleport-constant lesson applied to the exponent
    * choice). Determinism discipline: weights quantize to int64
    * fixed-point (floor(√tokens · [[MixTempWScale]])) BEFORE any
    * ratio exists, the normalizer is an order-free integer sum, and
    * the per-source allocation is exact integer floor division of
    * [[MixTempBudget]] — no double ever decides a token count. One
    * scan, one source-keyed aggregate (map-side partials), the
    * normalizer a broadcast 1-row frame. */
  def mix8TemperatureMixture(s: SparkSession, dir: String): DataFrame = {
    val ws = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double")) * MixTempWScale)
          .cast("long"))
    val tot = ws.agg(sum(col("weight")).as("sw"))
    ws.crossJoin(broadcast(tot)) // 1-row bounded metadata
      .select(col("source"), col("n_tokens"), col("weight"),
        round(col("weight").cast("double") / col("sw"), 6).as("share"),
        expr(s"(weight * $MixTempBudget) div sw").as("alloc_tokens"))
      .orderBy("source")
  }

  /** Power-of-two padding buckets for [[mix9PaddingWaste]]: 16 … 2²⁰.
    * Documents longer than the cap land in the last bucket (waste can
    * go negative there, truthfully flagging the cap — absent from any
    * real corpus this engine preps, where 2²⁰ tokens ≫ max doc). A
    * generated CASE ladder (shared verbatim with the oracle via
    * [[padLadderSql]]) — NOT pow/log2, whose libm rounding at exact
    * powers of two differs across engines. */
  private[graft] val PadBuckets: Seq[Int] = (4 to 20).map(1 << _)

  private def padLadderSql: String =
    PadBuckets.init.map(b => s"WHEN n_tok <= $b THEN $b").mkString(" ")

  /** mix9: padding-waste report for length-bucketed batching — the
    * training-efficiency number behind sequence bucketing
    * (Tensor2Tensor-style bucket-by-length): batching pads every
    * sequence to its batch's max, so the padding bill is decided by
    * the bucketing policy. Per power-of-two length bucket: document
    * count, true token mass, padded mass at the bucket boundary, and
    * the waste fraction 1 − true/padded — the report a training run
    * reads to justify bucketed batching over pad-to-global-max (and
    * to pick boundaries where waste concentrates). Token grain is
    * the span plane's segmentation rule ([[graft.operators.Dedup
    * .spanTokens]] — a CJK doc counts codepoints, not 1). One scan,
    * one ≤17-key aggregate (map-side partials), exact integer
    * masses, waste an exact int/int ratio. */
  def mix9PaddingWaste(s: SparkSession, dir: String): DataFrame = {
    val bucket = PadBuckets.init.foldRight(
      lit(PadBuckets.last): org.apache.spark.sql.Column) { (b, acc) =>
      when(col("n_tok") <= b, lit(b)).otherwise(acc)
    }
    Tables.documents(s, dir)
      .select(size(graft.operators.Dedup.spanTokens(col("text"))).as("n_tok"))
      .select(bucket.as("bucket"), col("n_tok"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        (col("n_docs") * col("bucket")).cast("long").as("padded_tokens"),
        round(lit(1.0) - col("sum_tokens") /
          (col("n_docs") * col("bucket")).cast("double"), 6).as("waste_frac"))
      .orderBy("bucket")
  }

  /** mix10's target mixture spec in per-mille (sums to 1000): the
    * EXPLICIT mixture every released pretraining recipe publishes
    * (The Pile §2, Dolma — "this corpus is 40% web, 20% code, …"),
    * as opposed to mix1/mix8's FORMULA-derived shares (n^α, √-mass).
    * A generated CASE ladder shared verbatim with the oracle. */
  private[graft] val Mix10TargetPm: Seq[(String, Int)] =
    Seq("de" -> 100, "en" -> 400, "es" -> 150, "fr" -> 150, "zh" -> 200)

  private def mix10TargetCaseSql: String =
    Mix10TargetPm.map { case (l, t) => s"WHEN lang = '$l' THEN $t" }
      .mkString("CASE ", " ", " ELSE 0 END")

  /** mix10: rejection sampling to an EXPLICIT target distribution —
    * the "mixture spec" step a pretraining run executes after the
    * recipe fixes its language/domain weights: keep the LARGEST
    * subcorpus whose expected shares equal [[Mix10TargetPm]], by
    * downsampling every language except the binding one (the lang
    * m minimizing n_docs/target — it keeps all its docs; upsampling
    * is mix4/mix5's plane). Acceptance probabilities are EXACT
    * RATIONALS p_l = (c_m·t_l)/(t_m·c_l), realized as integer-derived
    * md5-prefix thresholds floor(p·2³²) (mix1's determinism
    * discipline, salted to decorrelate from mix1/mix2/mix3's hashes):
    * numerator/denominator fold through decimal(38,0) — at 100 TB
    * c·t·2³² overflows int64, the obt2 lesson — so no double ever
    * decides a keep. The binding-lang argmin compares c/t as exact
    * int-ratio doubles (ints ≤ 2⁵³ are exact; IEEE division is
    * identical cross-engine), tie on lang.
    *
    * Scale shape: one bounded per-lang count aggregate (≤ #langs
    * rows) carries ALL the threshold arithmetic; the corpus pays one
    * scan → broadcast-join → row-local md5 filter → per-lang count
    * (map-side partials). ZERO corpus shuffles. The report row set
    * is the bounded lang domain (left join keeps keep-nothing langs
    * visible); `kept_docid_sum` pins the exact kept SET cross-engine,
    * not just its size. */
  def mix10TargetMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("target_pm", expr(mix10TargetCaseSql))
    val binding = counts
      .orderBy((col("n_docs").cast("double") / col("target_pm")).asc,
        col("lang").asc)
      .limit(1)
      .select(col("n_docs").as("c_m"), col("target_pm").as("t_m"))
    // r16 (guide §5, the j6/qc2 bounded-frame pin discipline + the
    // qc5 bounded-window totals fold): as plain lineage every
    // consumer of rates/kept re-derived its whole subtree from the
    // corpus — EIGHT documents scans for one report
    // (plans/r16/mix10_target_mixture_before.txt). rates (≤ #langs
    // rows) is pinned once for its two remaining consumers; the old
    // separate `tot` aggregate — kept's second consumer — folds as a
    // window over the bounded report frame instead (Σ over ≤ #langs
    // rows; missing langs contribute coalesce(0), so the sum is the
    // same total), which makes kept SINGLE-consumer plain lineage.
    // Corpus scans 8 → 2 (the lang-count aggregate inside the rates
    // pin + kept's filter/aggregate) with ONE pin barrier. Measured
    // isolated min-of-8 at sf0.1: 0.74 → 0.54 s at 32c (−27%),
    // 0.81 → 0.52 s at 8c (−36%); 10× replica 9.24 → 8.25 s. The
    // two-pin variant (kept pinned too, separate tot aggregate) was
    // measured and REJECTED: 16% slower at 10× — each extra eager
    // checkpoint is a serialized job barrier, while the plain-lineage
    // scans it saved had been overlapping inside one job. Exact
    // integer thresholds/counts ⇒ bit-identical.
    val rates = counts.crossJoin(binding) // both bounded: #langs × 1
      .withColumn("thr_i", expr(
        "(cast(c_m as decimal(38,0)) * target_pm * 4294967296) div " +
          "(cast(t_m as decimal(38,0)) * n_docs)"))
      .withColumn("thr", when(col("thr_i") >= 4294967296L, lit("g"))
        .otherwise(lpad(lower(hex(col("thr_i").cast("long"))), 8, "0")))
      .localCheckpoint()
    val kept = docs.select(col("doc_id"), col("lang"))
      .join(broadcast(rates.select(col("lang"), col("thr"))), Seq("lang"))
      .filter(substring(
        md5(concat(lit("mix10:"), col("doc_id").cast("string"))), 1, 8)
        < col("thr"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        // decimal fold internal, BIGINT presentation: the driver's row
        // hash rejects raw DECIMAL output columns (r15 verdict, 6/6)
        sum(col("doc_id").cast("decimal(38,0)")).cast("long")
          .as("kept_docid_sum"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    rates.join(kept, Seq("lang"), "left")
      .withColumn("tk", sum(coalesce(col("n_kept"), lit(0L))).over(wAll))
      .select(col("lang"), col("n_docs"), col("target_pm"),
        round((col("c_m").cast("double") * col("target_pm")) /
          (col("t_m").cast("double") * col("n_docs")), 6).as("keep_rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)).cast("double") /
          col("tk"), 6).as("kept_share"),
        coalesce(col("kept_docid_sum"), lit(0L)).as("kept_docid_sum"))
      .orderBy("lang")
  }

  /** pipe6: the hybrid-search ENDPOINT — one call from raw corpus to
    * rendered results: n21's RRF-fused ranking (BM25 pool off the
    * committed text index ⊕ vector pool off the embeddings) with an
    * ix6-style snippet attached to every fused hit — the complete
    * response a retrieval service returns, and the capstone
    * composition proof on the serving side (pipe1–3 prove the prep
    * side composes; pipe6 proves the indexes those pipelines publish
    * serve a real query end-to-end). Semantic-only hits (no lexical
    * term in the doc) fall back to the document HEAD as their
    * snippet with n_hits = 0 — the convention every search UI uses
    * when a result matched by meaning, not keywords. Scale shape:
    * n21's bounded-pool fusion + a [[Similarity.FuseTopK]]-row join
    * back to the corpus for snippet text; the window argmax is
    * HOF-row-local over ten rows. */
  def pipe6HybridSearch(s: SparkSession, dir: String): DataFrame = {
    val w = TextIndex.SnippetWindow
    val termsSql = TextIndex.QueryTerms.map(t => s"'$t'").mkString(", ")
    Similarity.n21RrfFusion(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("pos", expr(
        s"""filter(transform(toks, (t, i) ->
           |  IF(t IN ($termsSql), i, -1)), x -> x >= 0)""".stripMargin))
      .withColumn("best_cnt", expr(
        s"""IF(size(pos) = 0, 0, array_max(transform(pos, p ->
           |  size(filter(pos, q -> q >= p AND q < p + $w)))))""".stripMargin))
      .withColumn("best_start", expr(
        s"""IF(size(pos) = 0, 0, array_min(filter(pos, p ->
           |  size(filter(pos, q -> q >= p AND q < p + $w)) = best_cnt)))""".stripMargin))
      .select(col("fused_rank"), col("doc_id"), col("rrf"),
        col("best_cnt").cast("int").as("n_hits"),
        expr(s"array_join(slice(toks, best_start + 1, $w), ' ')")
          .as("snippet"))
      .orderBy("fused_rank")
  }

  /** pipe4's oracle: the same five-row UNION over the COMPOSED
    * oracles — a12/psi1's static SQL as subqueries, qc2's ECE over
    * the committed scores artifact (pulled from Quality's dynamic
    * map, so the two oracles can never read different versions), and
    * the registry rows straight off the committed meta parquet. A
    * hash pass proves the composition wiring, the threshold banding,
    * and the committed-state reads all at once. */
  private def pipe4Oracle(qcMetaDir: String, bpeMetaDir: String,
      qc2Sql: String): String = {
    val a12 = Analytics.oracles("a12_volume_drift")
    val psi1 = Quality.oracles("psi1_feature_drift")
    val dpsi = graft.sources.ModelRegistry.DriftingPsi
    val rpsi = graft.sources.ModelRegistry.RetrainPsi
    def reg(check: String, metaDir: String): String =
      s"""SELECT '$check' AS "check", 'drift_psi' AS metric,
         |  round(drift_psi, 6) AS value,
         |  CASE WHEN refreshed THEN 'retrained'
         |    WHEN drift_psi > $dpsi THEN 'drifting'
         |    ELSE 'stable' END AS status
         |FROM read_parquet('$metaDir/meta/*.parquet')""".stripMargin
    s"""SELECT * FROM (
       |SELECT 'volume_drift' AS "check", 'n_anomaly_days' AS metric,
       |  CAST(SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS DOUBLE)
       |    AS value,
       |  CASE WHEN SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) > 0
       |    THEN 'alert' ELSE 'ok' END AS status
       |FROM ($a12) a
       |UNION ALL
       |SELECT 'feature_drift' AS "check", 'psi' AS metric,
       |  MIN(psi) AS value,
       |  CASE WHEN MIN(psi) > $rpsi THEN 'retrain'
       |    WHEN MIN(psi) > $dpsi THEN 'drifting'
       |    ELSE 'stable' END AS status
       |FROM ($psi1) p
       |UNION ALL
       |SELECT 'calibration' AS "check", 'ece' AS metric,
       |  MIN(ece) AS value,
       |  CASE WHEN MIN(ece) > $EceMax THEN 'recalibrate'
       |    ELSE 'ok' END AS status
       |FROM ($qc2Sql) q
       |UNION ALL
       |${reg("qc_model_registry", qcMetaDir)}
       |UNION ALL
       |${reg("bpe_model_registry", bpeMetaDir)}
       |) ORDER BY "check"""".stripMargin
  }

  /** A `def` (qc2's discipline): pipe4's entry resolves committed
    * paths after the queries ran; emitted only when ONE corpus ran
    * AND qc2's own oracle resolved (they share the scores artifact). */
  def oracles: Map[String, String] = staticOracles ++ (for {
    qcMeta <- Quality.qcModel.oracleVersion
    bpeMeta <- TextAnalysis.bpeModel.oracleVersion
    qc2 <- Quality.oracles.get("qc2_calibration")
  } yield "pipe4_monitor_report" -> pipe4Oracle(qcMeta, bpeMeta, qc2))

  private def pipe6Oracle: String = {
    val w = TextIndex.SnippetWindow
    val terms = TextIndex.QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH fused AS (SELECT * FROM (
       |${Similarity.n21OracleSql}) f),
       |d AS (SELECT fused.fused_rank, fused.doc_id, fused.rrf,
       |    string_split(doc.text, ' ') AS toks
       |  FROM fused JOIN documents doc USING (doc_id)),
       |p AS (SELECT *, list_filter(list_transform(
       |    generate_series(1, len(toks)),
       |    i -> CASE WHEN toks[i] IN ($terms) THEN i - 1 ELSE -1 END),
       |    x -> x >= 0) AS pos FROM d),
       |m AS (SELECT *, CASE WHEN len(pos) = 0 THEN 0
       |    ELSE list_max(list_transform(pos, p1 ->
       |      len(list_filter(pos, q -> q >= p1 AND q < p1 + $w)))) END
       |    AS best_cnt FROM p),
       |s AS (SELECT *, CASE WHEN len(pos) = 0 THEN 0
       |    ELSE list_min(list_filter(pos, p1 -> len(list_filter(pos,
       |      q -> q >= p1 AND q < p1 + $w)) = best_cnt)) END
       |    AS best_start FROM m)
       |SELECT fused_rank, doc_id, rrf, CAST(best_cnt AS INT) AS n_hits,
       |  array_to_string(toks[best_start + 1 : best_start + $w], ' ')
       |    AS snippet
       |FROM s ORDER BY fused_rank""".stripMargin
  }

  private val staticOracles: Map[String, String] = Map(
    "pipe6_hybrid_search" -> pipe6Oracle,
    "mix10_target_mixture" ->
      s"""WITH counts AS (SELECT lang, COUNT(*) AS n_docs,
         |    $mix10TargetCaseSql AS target_pm
         |  FROM documents GROUP BY lang),
         |b AS (SELECT n_docs AS c_m, target_pm AS t_m FROM (
         |    SELECT n_docs, target_pm, lang, ROW_NUMBER() OVER (
         |      ORDER BY CAST(n_docs AS DOUBLE) / target_pm ASC, lang ASC)
         |      AS rn FROM counts) WHERE rn = 1),
         |rates AS (SELECT lang, n_docs, target_pm, c_m, t_m,
         |    (CAST(c_m AS HUGEINT) * target_pm * 4294967296)
         |      // (CAST(t_m AS HUGEINT) * n_docs) AS thr_i
         |  FROM counts CROSS JOIN b),
         |thr AS (SELECT *, CASE WHEN thr_i >= 4294967296 THEN 'g'
         |    ELSE lpad(lower(to_hex(CAST(thr_i AS BIGINT))), 8, '0') END
         |    AS thr FROM rates),
         |k AS (SELECT d.lang, COUNT(*) AS n_kept,
         |    CAST(SUM(CAST(d.doc_id AS HUGEINT)) AS BIGINT)
         |      AS kept_docid_sum
         |  FROM documents d JOIN thr t USING (lang)
         |  WHERE substring(md5('mix10:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
         |    < t.thr
         |  GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_kept) AS BIGINT) AS tk FROM k)
         |SELECT t.lang, t.n_docs, t.target_pm,
         |  round((CAST(c_m AS DOUBLE) * target_pm)
         |    / (CAST(t_m AS DOUBLE) * n_docs), 6) AS keep_rate,
         |  COALESCE(k.n_kept, 0) AS n_kept,
         |  round(CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / tk, 6) AS kept_share,
         |  COALESCE(k.kept_docid_sum, CAST(0 AS BIGINT))
         |    AS kept_docid_sum
         |FROM thr t LEFT JOIN k USING (lang) CROSS JOIN tot
         |ORDER BY t.lang""".stripMargin,
    "mix9_padding_waste" ->
      s"""WITH n AS (SELECT len(${graft.operators.Dedup.SpanTokensSql})
         |    AS n_tok FROM documents),
         |b AS (SELECT n_tok, CASE $padLadderSql
         |    ELSE ${PadBuckets.last} END AS bucket FROM n)
         |SELECT bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
         |  CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
         |  round(1.0 - CAST(SUM(n_tok) AS BIGINT)
         |    / CAST(COUNT(*) * bucket AS DOUBLE), 6) AS waste_frac
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "mix8_temperature_mixture" ->
      s"""WITH t AS (SELECT source,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |w AS (SELECT source, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * $MixTempWScale)
         |      AS BIGINT) AS weight
         |  FROM t),
         |s AS (SELECT CAST(SUM(weight) AS BIGINT) AS sw FROM w)
         |SELECT source, n_tokens, weight,
         |  round(CAST(weight AS DOUBLE) / sw, 6) AS share,
         |  (weight * $MixTempBudget) // sw AS alloc_tokens
         |FROM w CROSS JOIN s ORDER BY source""".stripMargin,
    "mix7_dedup_weights" ->
      s"""${Dedup.ClusterOracleCte},
        |m AS (SELECT cl.cluster_id, cl.doc_id, length(d.text) AS len
        |  FROM cl JOIN documents d USING (doc_id)),
        |mx AS (SELECT cluster_id, MAX(len) AS keep_len,
        |    COUNT(*) AS n_members FROM m GROUP BY 1),
        |keep AS (SELECT m.cluster_id, MIN(m.doc_id) AS doc_id,
        |    least(mx.n_members, $DedupWeightCap) AS weight
        |  FROM m JOIN mx ON m.cluster_id = mx.cluster_id
        |    AND m.len = mx.keep_len
        |  GROUP BY m.cluster_id, mx.n_members)
        |SELECT doc_id, CAST(weight AS BIGINT) AS weight, 1 AS clustered
        |FROM keep
        |UNION ALL
        |SELECT d.doc_id, CAST(1 AS BIGINT) AS weight, 0 AS clustered
        |FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM cl)
        |ORDER BY doc_id""".stripMargin,
    "mix6_split_leakage" ->
      s"""${Dedup.ClusterOracleCte},
        |s AS (SELECT doc_id,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '$SplitTrainThr' THEN 'train'
        |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '$SplitValThr' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT cl.cluster_id, count(*) AS n_docs,
        |  count(DISTINCT s.split) AS n_splits,
        |  array_to_string(list_sort(list(DISTINCT s.split)), ',') AS splits,
        |  min(cl.doc_id) AS min_doc,
        |  CASE WHEN count(DISTINCT s.split) > 1 THEN 1 ELSE 0 END AS leaked
        |FROM cl JOIN s USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "mix5_curriculum" -> {
      val en = TextAnalysis.sqlStopCount(TextAnalysis.stoplists("en"))
      s"""WITH base AS (SELECT doc_id,
         |    round(0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE)
         |        / 100.0, 1.0)
         |      + 0.3 * (1.0 - CAST(length(regexp_replace(text,
         |          '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |        / greatest(length(text), 1))
         |      + 0.3 * CAST($en AS DOUBLE)
         |        / greatest(len(string_split(text, ' ')), 1), 6) AS q
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    least(CAST(floor(q * $CurriculumBands) AS INT),
         |      $CurriculumBands - 1) AS band,
         |    md5('cur:' || CAST(doc_id AS VARCHAR)) AS h FROM base),
         |sh AS (SELECT doc_id, band, h,
         |    ('0x' || substring(h, 1, 6))::BIGINT % $EpochShards AS shard
         |  FROM b)
         |SELECT doc_id, band, shard,
         |  CAST(row_number() OVER (PARTITION BY band, shard
         |    ORDER BY h, doc_id) AS INT) AS position
         |FROM sh ORDER BY band, shard, position""".stripMargin
    },
    "mix4_epoch_order" ->
      s"""WITH h AS (SELECT doc_id,
         |    md5('ord:$EpochNo:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |sh AS (SELECT doc_id, h,
         |    ('0x' || substring(h, 1, 6))::BIGINT % $EpochShards AS shard
         |  FROM h)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
         |    AS INT) AS position
         |FROM sh ORDER BY shard, position""".stripMargin,
    "mix3_train_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '$SplitTrainThr' THEN 'train'
         |       WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '$SplitValThr' THEN 'val'
         |       ELSE 'test' END AS split,
         |  n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "mix2_token_budget" ->
      s"""WITH tok AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hk
         |  FROM documents),
         |thr AS (SELECT lang,
         |    CASE WHEN $PreOversample * $TokenBudget / SUM(n_tokens) >= 1.0 THEN 'g'
         |      ELSE lpad(lower(to_hex(CAST(floor(
         |        $PreOversample * $TokenBudget / SUM(n_tokens) * 4294967296.0)
         |        AS BIGINT))), 8, '0')
         |    END AS thr
         |  FROM tok GROUP BY lang),
         |pre AS (SELECT t.doc_id, t.lang, t.n_tokens, t.hk
         |  FROM tok t JOIN thr USING (lang) WHERE t.hk < thr),
         |run AS (SELECT doc_id, lang, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY hk, doc_id) AS BIGINT) AS cum_tokens
         |  FROM pre)
         |SELECT doc_id, lang, n_tokens, cum_tokens FROM run
         |WHERE cum_tokens <= $TokenBudget
         |ORDER BY doc_id""".stripMargin,
    "mix1_domain_mixture" ->
      """WITH counts AS (SELECT lang, COUNT(*) AS n_domain
        |  FROM documents GROUP BY lang),
        |rates AS (SELECT lang, n_domain,
        |    sqrt(CAST(MIN(n_domain) OVER () AS DOUBLE) / n_domain) AS rate
        |  FROM counts),
        |thr AS (SELECT lang, n_domain, rate,
        |    CASE WHEN rate >= 1.0 THEN 'g'
        |      ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
        |    END AS thr
        |  FROM rates)
        |SELECT d.doc_id, d.lang, t.n_domain, round(t.rate, 6) AS rate
        |FROM documents d JOIN thr t USING (lang)
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
        |ORDER BY d.doc_id""".stripMargin,
    "pipe3_publish_corpus" -> {
      val n = TextAnalysis.DecontamN
      s"""WITH norm AS (SELECT doc_id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(nt)),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |wc AS (SELECT doc_id, w, COUNT(*) AS n FROM tok GROUP BY 1, 2),
         |ws AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
         |    COUNT(*) AS n_distinct FROM wc GROUP BY 1),
         |rep AS (SELECT doc_id, n_words,
         |    round(1.0 - n_distinct / n_words, 6) AS dup_word_ratio FROM ws),
         |tok4 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |    WHERE len(string_split(text, ' ')) >= $n),
         |sh AS (SELECT DISTINCT doc_id,
         |    unnest([array_to_string(t[i:i+${n - 1}], ' ')
         |      FOR i IN generate_series(1, len(t) - ${n - 1})]) AS sh
         |  FROM tok4),
         |ev AS (SELECT sh FROM sh WHERE doc_id % ${TextAnalysis.EvalHoldoutMod} = 0),
         |bad AS (SELECT DISTINCT doc_id FROM sh
         |  WHERE doc_id % ${TextAnalysis.EvalHoldoutMod} <> 0
         |    AND sh IN (SELECT sh FROM ev)),
         |corpus AS (SELECT r.doc_id, r.n_words, r.dup_word_ratio
         |  FROM rep r JOIN keep k USING (doc_id)
         |  WHERE r.dup_word_ratio <= $Pipe2MaxDupRatio
         |    AND r.doc_id % ${TextAnalysis.EvalHoldoutMod} <> 0
         |    AND r.doc_id NOT IN (SELECT doc_id FROM bad))
         |SELECT COUNT(*) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS total_words,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
         |  round(AVG(dup_word_ratio), 6) AS avg_dup_ratio
         |FROM corpus""".stripMargin
    },
    "pipe1_data_prep" -> {
      val en = TextAnalysis.stoplists("en").map(w => s"'$w'").mkString("[", ",", "]")
      val es = TextAnalysis.stoplists("es").map(w => s"'$w'").mkString("[", ",", "]")
      val de = TextAnalysis.stoplists("de").map(w => s"'$w'").mkString("[", ",", "]")
      val fr = TextAnalysis.stoplists("fr").map(w => s"'$w'").mkString("[", ",", "]")
      def cnt(arr: String) =
        s"len(list_filter(string_split(text, ' '), x -> list_contains($arr, x)))"
      s"""WITH scored AS (SELECT doc_id,
         |    ${cnt(en)} AS s_en, ${cnt(es)} AS s_es,
         |    ${cnt(de)} AS s_de, ${cnt(fr)} AS s_fr
         |  FROM documents),
         |lang AS (SELECT doc_id FROM scored
         |  WHERE NOT (s_en + s_es + s_de + s_fr = 0)
         |    AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr),
         |quality AS (SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    round(0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
         |      + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |          / greatest(length(text), 1))
         |      + 0.3 * (CAST(${cnt(en)} AS DOUBLE)
         |          / greatest(len(string_split(text, ' ')), 1)), 6) AS quality
         |  FROM documents),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT q.doc_id, q.quality, q.n_tokens
         |FROM quality q
         |JOIN keep k ON k.doc_id = q.doc_id
         |JOIN lang l ON l.doc_id = q.doc_id
         |WHERE q.quality >= 0.5
         |ORDER BY q.doc_id""".stripMargin
    },
    "pipe2_llm_corpus" -> pipe2Oracle)

  private def pipe2Oracle: String = {
    val n = TextAnalysis.DecontamN
    s"""WITH norm AS (SELECT doc_id,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
       |  FROM documents),
       |keep AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(nt)),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |wc AS (SELECT doc_id, w, COUNT(*) AS n FROM tok GROUP BY 1, 2),
       |ws AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
       |    COUNT(*) AS n_distinct FROM wc GROUP BY 1),
       |rep AS (SELECT doc_id, n_words,
       |    round(1.0 - n_distinct / n_words, 6) AS dup_word_ratio FROM ws),
       |tok4 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |    WHERE len(string_split(text, ' ')) >= $n),
       |sh AS (SELECT DISTINCT doc_id,
       |    unnest([array_to_string(t[i:i+${n - 1}], ' ')
       |      FOR i IN generate_series(1, len(t) - ${n - 1})]) AS sh
       |  FROM tok4),
       |ev AS (SELECT sh FROM sh WHERE doc_id % ${TextAnalysis.EvalHoldoutMod} = 0),
       |bad AS (SELECT DISTINCT doc_id FROM sh
       |  WHERE doc_id % ${TextAnalysis.EvalHoldoutMod} <> 0
       |    AND sh IN (SELECT sh FROM ev))
       |SELECT r.doc_id, r.n_words, r.dup_word_ratio
       |FROM rep r JOIN keep k USING (doc_id)
       |WHERE r.dup_word_ratio <= $Pipe2MaxDupRatio
       |  AND r.doc_id % ${TextAnalysis.EvalHoldoutMod} <> 0
       |  AND r.doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY r.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe1_data_prep" -> (pipe1DataPrep _),
    "pipe2_llm_corpus" -> (pipe2LlmCorpus _),
    "pipe3_publish_corpus" -> (pipe3PublishCorpus _),
    "mix1_domain_mixture" -> (mix1DomainMixture _),
    "mix2_token_budget" -> (mix2TokenBudget _),
    "mix3_train_split" -> (mix3TrainSplit _),
    "mix4_epoch_order" -> (mix4EpochOrder _),
    "mix5_curriculum" -> (mix5Curriculum _),
    "mix6_split_leakage" -> (mix6SplitLeakage _),
    "mix7_dedup_weights" -> (mix7DedupWeights _),
    "mix8_temperature_mixture" -> (mix8TemperatureMixture _),
    "mix9_padding_waste" -> (mix9PaddingWaste _),
    "mix10_target_mixture" -> (mix10TargetMixture _),
    "pipe4_monitor_report" -> (pipe4MonitorReport _),
    "pipe6_hybrid_search" -> (pipe6HybridSearch _))
}
