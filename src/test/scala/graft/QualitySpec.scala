package graft

import graft.operators.Quality
import org.apache.spark.sql.functions._

/** Gopher rule-set (g1) and importance sampling (imp1) — rows 147-148.
  * The corpus exercises rules 1/2/7; the planted docs here exercise
  * every rule the synthetic corpus can't trip (symbols, bullets,
  * ellipses, non-alpha words).
  */
class QualitySpec extends GraftSpec {

  private def planted = {
    import spark.implicits._
    val good = ("abcd " * 30 + "the of and be " + "document " * 30).trim
    Seq(
      (1L, good),                                      // passes all rules
      (2L, "the of and short text"),                   // rule 1: < 50 words
      (3L, ("# " * 40 + "the of and " + "w " * 30).trim), // rule 3: symbol ratio
      (4L, (Seq.fill(10)("- bullet line the of and with x y z a b c").mkString("\n"))), // rule 4
      (5L, (Seq.fill(10)("line the of and with x y z a b c ...").mkString("\n"))),      // rule 5
      (6L, ("12 34 !! ## 56 " * 12 + "the of and").trim), // rule 6: alpha frac
      (7L, ("zz " * 60).trim))                         // rule 7: no stopwords
      .toDF("doc_id", "text")
  }

  test("g1 planted docs trip exactly the intended rules") {
    val rows = Quality.gopherStats(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Int]("keep") == 1)
    assert(rows(2L).getAs[Int]("n_words") < 50 && rows(2L).getAs[Int]("keep") == 0)
    assert(rows(3L).getAs[Double]("symbol_ratio") > 0.1)
    assert(rows(4L).getAs[Double]("bullet_frac") > 0.9)
    assert(rows(5L).getAs[Double]("ellipsis_frac") > 0.3)
    assert(rows(6L).getAs[Double]("alpha_frac") < 0.8)
    assert(rows(7L).getAs[Int]("stop_hits") < Quality.StopHitsMin)
    (2L to 7L).foreach(id => assert(rows(id).getAs[Int]("keep") == 0))
  }

  test("g1 stats are internally consistent on the corpus") {
    val rows = Quality.g1GopherQuality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val frac = Seq("bullet_frac", "ellipsis_frac", "alpha_frac")
        .map(c => r.getAs[Double](c))
      frac.foreach(f => assert(f >= 0.0 && f <= 1.0))
      assert(r.getAs[Int]("n_rules_failed") >= 0 && r.getAs[Int]("n_rules_failed") <= 7)
      assert((r.getAs[Int]("n_rules_failed") == 0) == (r.getAs[Int]("keep") == 1))
    }
  }

  test("imp1 keeps rate ≈ weight per stratum and inv_weight = 1/weight") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_words"))
    val kept = Quality.imp1ImportanceSample(spark, sf)
    // every kept doc's weight is n_words/100 capped at 1
    kept.collect().foreach { r =>
      val w = math.min(1.0, r.getAs[Int]("n_words") / 100.0)
      assert(math.abs(r.getAs[Double]("weight") - math.floor(w * 1e6 + 0.5) / 1e6) < 1e-9)
      assert(math.abs(r.getAs[Double]("inv_weight") * r.getAs[Double]("weight") - 1.0) < 1e-4)
    }
    // Horvitz-Thompson: sum of inv_weights over the sample estimates
    // the corpus size; with per-doc weights ≥ 0.1 the estimator's sd
    // is ≤ sqrt(N·9) ≈ 73 at N=600 — assert within 5 sd.
    val n = docs.count().toDouble
    val est = kept.agg(sum("inv_weight")).collect().head.getDouble(0)
    assert(math.abs(est - n) < 5 * math.sqrt(n * 9.0), s"HT estimate $est vs $n")
  }

  test("qc1 trainer separates a planted-marker corpus and loss decreases") {
    import spark.implicits._
    // Positives carry marker words; negatives carry different ones —
    // linearly separable, so a working trainer must reach ~1 accuracy.
    val pos = (0 until 40).map(i =>
      (i.toLong, s"good clean prose marker$i quality signal text", 1.0))
    val neg = (40 until 80).map(i =>
      (i.toLong, s"spam junk noise garbage$i random chaff words", 0.0))
    val docs = (pos ++ neg).toDF("doc_id", "text", "label")
    val (wts, bias, losses) = Quality.qcTrainOn(docs, iters = 12, lr = 4.0)
    assert(losses.head > losses.last, s"loss must decrease: $losses")
    assert(losses.last < 0.5, s"separable data must train below ln2: $losses")
    val scored = Quality.qcScoreWith(docs, wts, bias).collect()
    val acc = scored.count(r =>
      (r.getAs[Double]("score") >= 0.5) == (r.getAs[Double]("label") == 1.0))
      .toDouble / scored.length
    assert(acc >= 0.95, s"expected near-perfect separation, got $acc")
  }

  test("qc model registry is build-once: a second scorer reuses the committed version") {
    import graft.operators.Quality
    Quality.qc1ClassifierScore(spark, sf).collect()
    val root = Quality.qcModel.root(sf)
    val v1 = graft.sources.AtomicPublish.currentVersion(spark, root)
    Quality.qc2Calibration(spark, sf).collect()
    val v2 = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(v1.nonEmpty && v1 == v2, s"model retrained: $v1 -> $v2")
  }

  test("qc1 corpus scoring emits calibrated probabilities for every doc") {
    val out = Quality.qc1ClassifierScore(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    out.foreach { r =>
      val p = r.getAs[Double]("score")
      assert(p >= 0.0 && p <= 1.0)
      assert((r.getAs[Int]("pred") == 1) == (p >= 0.5))
    }
    // the trained model must not be degenerate (all-one-class scores)
    assert(out.map(_.getAs[Int]("pred")).distinct.length >= 1)
  }

  test("priv2 DP release: noise matches the driver-side Laplace inverse-CDF exactly") {
    val eps = Quality.DpEpsilon
    val trueCounts = Tables.events(spark, sf)
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def uniform(cat: String): Double = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dp:$cat".getBytes("US-ASCII"))
      val v = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
        ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
      (v + 0.5) / 4294967296.0
    }
    def laplace(cat: String): Double = {
      val u = uniform(cat)
      (-1.0 / eps) * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
    }
    val rows = Quality.priv2DpRelease(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == trueCounts.keySet)
    rows.foreach { r =>
      val cat = r.getString(0)
      val want = math.rint((trueCounts(cat) + laplace(cat)) * 1e6) / 1e6
      val got = r.getDouble(1)
      assert(math.abs(got - want) < 2e-6,
        s"$cat: released $got vs driver ${want}")
      // Laplace(1/eps) from a 32-bit uniform is bounded by b*ln(2^31)
      assert(math.abs(got - trueCounts(cat)) <= (1.0 / eps) * 22.0,
        s"$cat: noise outside the mechanism's envelope")
      assert(r.getDouble(2) == eps)
    }
    // the mechanism actually perturbs (a release equal to the truth
    // everywhere would mean the noise path is dead code)
    assert(rows.exists(r => r.getDouble(1) != trueCounts(r.getString(0))))
  }

  test("imp1 is deterministic across runs") {
    val a = Quality.imp1ImportanceSample(spark, sf).collect().map(_.toString)
    val b = Quality.imp1ImportanceSample(spark, sf).collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("dc1 salted two-phase top-K equals the direct per-source ranking") {
    // driver-side reference: full sort per source, no salting
    val want = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._2).toSeq.flatMap { case (src, rows) =>
        rows.sortBy { case (id, _, n) => (-n, id) }
          .take(Quality.SourceCap).zipWithIndex
          .map { case ((id, _, n), i) => (id, src, n, i + 1) }
      }.sortBy { case (id, src, n, rk) => (src, rk) }
    val got = Quality.dc1SourceCaps(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_chars"), r.getAs[Int]("rank"))).toSeq
    assert(got == want, s"got ${got.take(5)}…\nwant ${want.take(5)}…")
    // every source is capped
    assert(got.groupBy(_._2).values.forall(_.length <= Quality.SourceCap))
  }

  test("psi1 drift index matches a driver-side recompute and is non-negative") {
    val rows = Quality.psi1FeatureDrift(spark, sf).collect()
      .sortBy(_.getAs[Int]("bucket"))
    val total = Tables.events(spark, sf).count()
    assert(rows.map(r => r.getAs[Long]("n_base") + r.getAs[Long]("n_cur")).sum
      == total, "every event lands in exactly one bucket")
    // every (p − q)·ln(p/q) term is ≥ 0, so PSI is ≥ 0 by construction
    val psi = rows.head.getAs[Double]("psi")
    assert(psi >= 0)
    val b = Quality.PsiBuckets
    val tb = rows.map(_.getAs[Long]("n_base")).sum
    val tc = rows.map(_.getAs[Long]("n_cur")).sum
    val want = rows.map { r =>
      val pb = (r.getAs[Long]("n_base") + 1).toDouble / (tb + b)
      val pc = (r.getAs[Long]("n_cur") + 1).toDouble / (tc + b)
      (pc - pb) * math.log(pc / pb)
    }.sum
    assert(math.abs(psi - want) < 1e-5, s"psi $psi vs $want")
    // baseline deciles: bucket masses within 2% of each other
    val nb = rows.map(_.getAs[Long]("n_base"))
    assert(nb.max - nb.min <= math.max(4L, tb / 50),
      s"baseline buckets should be ~equal-count deciles: ${nb.toSeq}")
  }

  test("qc2 reliability curve matches a driver-side recompute; ECE is the weighted gap") {
    val rows = Quality.qc2Calibration(spark, sf).collect()
      .sortBy(_.getAs[Int]("bucket"))
    val scored = Quality.qc1ClassifierScore(spark, sf)
      .select(col("label").cast("double"), col("score")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(rows.map(_.getAs[Long]("n")).sum == scored.length,
      "every scored doc lands in exactly one bin")
    assert(rows.length >= 2, "adaptive binning must populate several bins")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("abs_gap") -
        r6(math.abs(r.getAs[Double]("mean_score") -
          r.getAs[Double]("frac_pos")))) < 2e-6)
    }
    val ece = rows.head.getAs[Double]("ece")
    val want = rows.map(r => r.getAs[Double]("abs_gap") * r.getAs[Long]("n")).sum /
      rows.map(_.getAs[Long]("n")).sum
    assert(math.abs(ece - want) < 1e-5, s"ece $ece vs $want")
    assert(ece >= 0 && ece <= 1)
    // bins are score-ordered: mean scores non-decreasing with bucket
    val ms = rows.map(_.getAs[Double]("mean_score"))
    assert(ms.sliding(2).forall { case Array(a, b) => a <= b })
  }

  test("imp2 bootstrap CI is deterministic, covers the mean, sane width") {
    val r1 = Quality.imp2BootstrapCi(spark, sf).collect().head
    val r2 = Quality.imp2BootstrapCi(spark, sf).collect().head
    assert(r1 == r2, "hash-seeded bootstrap must be re-runnable bit-for-bit")
    val mean = r1.getAs[Double]("point_mean")
    val lo = r1.getAs[Double]("ci_lo"); val hi = r1.getAs[Double]("ci_hi")
    assert(lo < mean && mean < hi,
      s"point mean $mean outside CI [$lo, $hi]")
    assert(r1.getAs[Long]("n_replicates") == Quality.BootReplicates.toLong)
    // width within a loose factor of the CLT prediction 3.92·σ/√n
    // (a finite replicate budget carries real quantile-estimation noise)
    val stats = Tables.events(spark, sf)
      .agg(stddev_pop(col("value")).as("sd"), count(lit(1)).as("n"))
      .collect().head
    val predicted = 3.92 * stats.getAs[Double]("sd") /
      math.sqrt(stats.getAs[Long]("n").toDouble)
    val width = r1.getAs[Double]("ci_width")
    assert(width > 0.5 * predicted && width < 2.0 * predicted,
      s"CI width $width vs CLT prediction $predicted")
  }

  test("imp2 boot-weight kernel matches the SQL md5+ladder form bit-for-bit") {
    // the interpreted SQL formulation as semantic reference (and the
    // exact shape the DuckDB oracle mirrors): the kernel must
    // reproduce its weights exactly — same md5-prefix uniform, same
    // Poisson CDF table — or the cross-engine hash gate breaks
    assert(org.apache.spark.sql.graft.BootWeightsUtil.PoissonCdf.toSeq ==
      Quality.PoissonCdf, "kernel and Quality CDF tables diverged")
    val b = 16
    val ladder = Quality.PoissonCdf.zipWithIndex
      .map { case (p, k) => s"WHEN u < $p THEN ${k}D" }
      .mkString("CASE ", " ", s" ELSE ${Quality.PoissonCdf.size}D END")
    val ref = Tables.events(spark, sf).limit(500)
      .select(col("event_id"), col("value"),
        expr(s"""transform(transform(sequence(0, ${b - 1}),
             |  bb -> (conv(substring(md5(concat('boot:', bb, ':', event_id)),
             |    1, 8), 16, 10) + 1.0D) / 4294967296.0D),
             |  u -> $ladder)""".stripMargin).as("w"))
      .select(col("event_id"),
        expr("concat(w, transform(w, x -> x * value))").as("expected"),
        org.apache.spark.sql.graft.BootWeightsExpr
          .bootWeightPair(col("event_id"), col("value").cast("double"), b)
          .as("got"))
      .collect()
    ref.foreach { r =>
      assert(r.getSeq[Double](1) == r.getSeq[Double](2),
        s"kernel diverged for event ${r.getLong(0)}")
    }
  }

  test("imp2 replicate budget B: width is data-determined, endpoint noise ~ 1/sqrt(B)") {
    // The knob's documented curve: the CI width estimates 3.92·σ/√n
    // regardless of B; B only controls Monte-Carlo noise on the CI
    // ENDPOINTS (quantile-estimator CLT, se ∝ 1/√B). Empirics:
    //  (a) B=100 and B=200 produce CIs whose endpoints differ by a
    //      small fraction of the width (B=100 is already converged
    //      relative to the interval being estimated);
    //  (b) the replicate-mean spread matches σ/√n — the quantity whose
    //      quantiles the CI reads off.
    val r100 = Quality.imp2BootstrapCiB(spark, sf, 100).collect().head
    val r200 = Quality.imp2BootstrapCiB(spark, sf, 200).collect().head
    val width = r200.getAs[Double]("ci_width")
    assert(math.abs(r100.getAs[Double]("ci_lo") - r200.getAs[Double]("ci_lo"))
      < 0.35 * width, "ci_lo moved more than endpoint noise allows")
    assert(math.abs(r100.getAs[Double]("ci_hi") - r200.getAs[Double]("ci_hi"))
      < 0.35 * width, "ci_hi moved more than endpoint noise allows")
    val ms = Quality.bootstrapMeans(spark, sf, 200)
      .agg(stddev_pop(col("mb")).as("sd")).collect().head.getAs[Double]("sd")
    val stats = Tables.events(spark, sf)
      .agg(stddev_pop(col("value")).as("sd"), count(lit(1)).as("n"))
      .collect().head
    val clt = stats.getAs[Double]("sd") /
      math.sqrt(stats.getAs[Long]("n").toDouble)
    assert(ms > 0.6 * clt && ms < 1.7 * clt,
      s"replicate-mean sd $ms vs CLT sigma/sqrt(n) $clt")
  }

  test("imp3 Neyman allocation matches a driver recompute and beats proportional where sigma is high") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val strata = ev.groupBy(_._1).map { case (t, g) =>
      val n = g.length.toDouble
      val s1 = g.map(_._2).sum; val s2 = g.map(v => v._2 * v._2).sum
      (t, g.length.toLong, q6(math.sqrt((s2 * n - s1 * s1) / (n * n - n))))
    }.toSeq.sortBy(_._1)
    val totRows = strata.map(_._2).sum.toDouble
    val totNsig = strata.map(s => s._2 * s._3).sum
    val rows = Quality.imp3NeymanAllocation(spark, sf).collect()
    assert(rows.length == strata.length)
    rows.zip(strata).foreach { case (r, (t, nh, sg)) =>
      assert(r.getAs[String]("event_type") == t)
      assert(r.getAs[Long]("n_rows") == nh)
      assert(math.abs(r.getAs[Double]("sigma") - sg) < 1.1e-6)
      val ney = math.floor(Quality.NeymanBudget * nh * sg / totNsig + 0.5).toLong
      val prop = math.floor(Quality.NeymanBudget * nh / totRows + 0.5).toLong
      assert(math.abs(r.getAs[Long]("neyman_n") - ney) <= 1, s"$t neyman")
      assert(math.abs(r.getAs[Long]("prop_n") - prop) <= 1, s"$t prop")
    }
    // budget conservation within per-stratum rounding
    val totAlloc = rows.map(_.getAs[Long]("neyman_n")).sum
    assert(math.abs(totAlloc - Quality.NeymanBudget) <= strata.length,
      s"allocated $totAlloc of ${Quality.NeymanBudget}")
    // Neyman spends MORE than proportional exactly on above-average-sigma strata
    val avgSigma = totNsig / totRows
    rows.foreach { r =>
      val dir = r.getAs[Long]("neyman_n").toDouble - r.getAs[Long]("prop_n")
      val hi = r.getAs[Double]("sigma") > avgSigma
      if (math.abs(dir) > 1) assert((dir > 0) == hi,
        s"${r.getAs[String]("event_type")}: neyman-prop=$dir sigma=${r.getAs[Double]("sigma")} avg=$avgSigma")
    }
  }

  test("imp4: HT estimator rides imp1's exact inclusion rule and stays in the unbiasedness envelope") {
    val rows = Quality.imp4HtEstimate(spark, sf).collect()
    assert(rows.nonEmpty)
    // the sampled mass per source is exactly imp1's sample (same salt,
    // same threshold): totals must agree
    val imp1N = Quality.imp1ImportanceSample(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_sampled")).sum == imp1N)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs"))
      // saturated docs (w=1) contribute exactly n_words, so the
      // estimate can only drift by the sub-100-word strata — a loose
      // envelope still catches a broken weight or threshold
      assert(math.abs(r.getAs[Double]("rel_err")) < 0.5, r.toString)
      assert(r.getAs[Double]("est_total") > 0.0)
    }
  }

  test("qc5: bias cells reconcile with g1's keep flags across all three dims") {
    val rows = Quality.qc5FilterBias(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val keep = Quality.g1GopherQuality(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("keep")).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val nKept = keep.values.count(_ == 1).toLong
    val nDropped = keep.size - nKept
    def cellsOf(f: ((Long, String, String, Long)) => String) =
      docs.groupBy(f).view.mapValues { ds =>
        (ds.count(d => keep(d._1) == 1).toLong,
          ds.count(d => keep(d._1) == 0).toLong)
      }.toMap
    val expected = Map(
      "lang" -> cellsOf(_._2), "source" -> cellsOf(_._3),
      "len_bucket" -> cellsOf(d => (d._4 / 100 * 100).toString))
    for ((dim, value, k, d, ks, ds, bias) <- rows) {
      val (ek, ed) = expected(dim)(value)
      assert(k == ek && d == ed, s"($dim, $value) cell recompute")
      assert(math.abs(ks - k.toDouble / nKept) < 1e-6)
      assert(math.abs(ds - d.toDouble / nDropped) < 1e-6)
      assert(math.abs(bias - (k.toDouble / nKept - d.toDouble / nDropped))
        < 2e-6)
    }
    // each dim's cells partition both masses
    for ((dim, cells) <- rows.groupBy(_._1)) {
      assert(cells.map(_._3).sum == nKept, s"$dim kept mass")
      assert(cells.map(_._4).sum == nDropped, s"$dim dropped mass")
      assert(math.abs(cells.map(_._7).sum) < 1e-4,
        s"$dim biases sum to ~0 (shares each sum to 1)")
    }
    // the report has genuine signal: the length dimension must show
    // bias (g1's n_words >= 50 rule correlates directly with length)
    assert(rows.filter(_._1 == "len_bucket").exists(r => math.abs(r._7) > 0.2),
      "length buckets should show strong selection bias")
  }

  test("qc4: confusion cells partition the corpus and expose the zh blind spot") {
    val rows = Quality.qc4LangidConfusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5)))
    // cells == a direct recompute over t1's per-doc predictions
    val preds = graft.operators.TextAnalysis.t1LangId(spark, sf).collect()
      .map(r => (r.getAs[String]("lang_label"), r.getAs[String]("pred_lang")))
    val expected = preds.groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    assert(rows.map(t => (t._1, t._2) -> t._3).toMap == expected)
    // the cell grid partitions the corpus
    assert(rows.map(_._3).sum == preds.length.toLong)
    // per-true-row accounting: totals and shares
    for ((trueLang, cells) <- rows.groupBy(_._1)) {
      val tot = cells.head._4
      assert(cells.forall(_._4 == tot))
      assert(cells.map(_._3).sum == tot)
      assert(math.abs(cells.map(_._5).sum - 1.0) < 1e-5,
        s"$trueLang shares must sum to 1")
    }
    // correct flag is exactly the diagonal
    rows.foreach { case (t, p, _, _, _, c) => assert((t == p) == (c == 1)) }
    // the honest finding: zh has no stoplist, so its row never scores
    // correct — the blind spot the matrix exists to surface
    val zh = rows.filter(_._1 == "zh")
    assert(zh.nonEmpty && zh.forall(_._6 == 0))
    // en is the one label whose content matches its stoplist: its
    // modal prediction is itself
    assert(rows.filter(_._1 == "en").maxBy(_._3)._2 == "en")
    // label/content mismatch surfaced: this corpus' generator emits
    // en-flavored tokens under EVERY lang label, so no non-en row's
    // correct mass reaches 0.5 — the ingest-bug signature a
    // confusion matrix against gold labels exists to flag
    for (l <- Seq("es", "de", "fr", "zh")) {
      val correctShare = rows.filter(r => r._1 == l && r._6 == 1)
        .map(_._5).sum
      assert(correctShare < 0.5, s"$l correct share $correctShare")
    }
  }

  test("qc3: contingency partitions the corpus; kappa matches a direct fold") {
    val r = Quality.qc3RaterAgreement(spark, sf).head()
    val n = r.getAs[Long]("n_docs")
    val (a11, a10, a01, a00) = (r.getAs[Long]("both_keep"),
      r.getAs[Long]("only_len"), r.getAs[Long]("only_content"),
      r.getAs[Long]("both_drop"))
    assert(a11 + a10 + a01 + a00 == n, "2x2 must partition the corpus")
    assert(n == Tables.documents(spark, sf).count())
    val po = (a11 + a00).toDouble / n
    val pe = ((a11 + a10).toDouble * (a11 + a01) +
      (a01 + a00).toDouble * (a10 + a00)) / (n.toDouble * n)
    assert(r.getAs[Double]("p_observed") ==
      BigDecimal(po).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    if (pe < 1.0) {
      val kappa = BigDecimal((po - pe) / (1.0 - pe))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("kappa") == kappa)
      assert(r.getAs[Double]("kappa") <= 1.0)
    }
  }

  test("imp5: Chapman estimator fields are consistent and the estimate is sane") {
    val r = Quality.imp5CaptureRecapture(spark, sf).head()
    val (n, na, nb, m, nHat) = (r.getAs[Long]("n_total"), r.getAs[Long]("n_a"),
      r.getAs[Long]("n_b"), r.getAs[Long]("n_both"), r.getAs[Long]("n_hat"))
    assert(n == Tables.documents(spark, sf).count())
    assert(m <= math.min(na, nb) && na <= n && nb <= n)
    assert(nHat == (na + 1) * (nb + 1) / (m + 1) - 1, "Chapman formula")
    // both captures draw ~30%; the estimate should land within a loose
    // binomial envelope of the truth on any non-adversarial corpus
    assert(math.abs(r.getAs[Double]("rel_err")) < 0.5,
      s"n=$n n_hat=$nHat: md5 salts should behave independently")
    val relErr = r.getAs[Double]("rel_err")
    val expected = BigDecimal((nHat.toDouble - n) / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(relErr == expected)
  }

  test("priv1: QI groups partition the customer table; risk flags consistent") {
    val rows = Quality.priv1KAnonymity(spark, sf).collect()
    val total = Tables.customer(spark, sf).count()
    assert(rows.map(_.getAs[Long]("group_size")).sum == total,
      "QI groups partition the table")
    for (r <- rows) {
      assert(r.getAs[Boolean]("k_risky") ==
        (r.getAs[Long]("group_size") < Quality.KAnonK))
      assert(r.getAs[Boolean]("l_risky") == (r.getAs[Long]("l_diversity") < 2))
      assert(r.getAs[Long]("l_diversity") <= r.getAs[Long]("group_size"),
        "l can never exceed k")
    }
  }

  test("priv2's noise moves with the release seed (DP claim scoped to sealed seeds)") {
    val gate = graft.operators.Quality.priv2DpRelease(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the public gate seed is the default — re-runnable by contract
    val explicit = graft.operators.Quality
      .priv2DpReleaseSeeded(spark, sf, graft.operators.Quality.DpGateSeed)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gate == explicit)
    // a sealed seed draws DIFFERENT noise on every bucket: without
    // the seed the analyst cannot recompute-and-subtract it, which is
    // what makes the epsilon-DP claim real in production
    val sealedRun = graft.operators.Quality
      .priv2DpReleaseSeeded(spark, sf, "sealed-release-2026-08-16")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gate.keySet == sealedRun.keySet)
    assert(gate.keys.forall(k => gate(k) != sealedRun(k)),
      "every bucket's noise must move with the seed")
  }
}
