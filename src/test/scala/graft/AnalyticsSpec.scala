package graft

import graft.operators.Analytics
import org.apache.spark.sql.functions._

/** Invariant checks for the warehouse analytics core (rows 13-23). */
class AnalyticsSpec extends GraftSpec {

  test("q1 groups are the returnflag × linestatus combinations") {
    val rows = Analytics.q1PricingSummary(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    rows.foreach(r => assert(r.getAs[Long]("count_order") > 0))
  }

  test("q3 returns at most 10 rows in descending revenue order") {
    val rev = Analytics.q3TopkRevenue(spark, sf)
      .select("revenue").collect().map(_.getDouble(0))
    assert(rev.length <= 10)
    assert(rev.sameElements(rev.sortBy(-_)))
  }

  test("a3 approx distinct within 5% of exact at rsd=0.02") {
    val exact = Analytics.a2DistinctAgg(spark, sf)
      .select("l_returnflag", "n_orders").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Analytics.a3ApproxDistinct(spark, sf)
      .select("l_returnflag", "approx_orders").collect().foreach { r =>
        val e = exact(r.getString(0)).toDouble
        assert(math.abs(r.getLong(1) - e) / e < 0.05)
      }
  }

  test("a1 rollup grand total equals the table row count") {
    val total = Tables.lineitem(spark, sf).count()
    val grand = Analytics.a1Rollup(spark, sf)
      .filter(col("returnflag") === "ALL").collect()
    assert(grand.length == 1 && grand.head.getAs[Long]("n") == total)
  }

  test("j1 semi+anti partition the customer table") {
    val df = Analytics.j1SemiAnti(spark, sf)
    assert(df.count() == Tables.customer(spark, sf).count())
    assert(df.select("c_custkey").distinct().count() == df.count())
  }

  test("e1 session event counts sum to the event count") {
    val total = Tables.events(spark, sf).count()
    val summed = Analytics.e1Sessionize(spark, sf)
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(summed == total)
  }

  test("a4 cube emits all four grouping sets consistently") {
    val rows = Analytics.a4Cube(spark, sf).collect()
    val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length == 1)
    val total = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) != "ALL")
      .map(_.getAs[Long]("n")).sum
    assert(grand.head.getAs[Long]("n") == total)
  }

  test("p2 unpivot emits one row per (flag, measure)") {
    val rows = Analytics.p2Unpivot(spark, sf).collect()
    val flags = rows.map(_.getString(0)).distinct
    assert(rows.length == flags.length * 2)
    assert(rows.map(r => r.getString(1)).distinct.sorted.sameElements(
      Array("sum_price", "sum_qty")))
  }

  test("w2 quartiles are within 1..4 and lag matches prior row value") {
    val rows = Analytics.w2LeadLag(spark, sf).collect()
    assert(rows.forall(r => (1 to 4).contains(r.getAs[Int]("quartile"))))
  }

  test("s2 stratified sample honors per-stratum fractions and is deterministic") {
    val totals = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Analytics.s2StratifiedSample(spark, sf).collect()
    val byType = sampled.groupBy(_.getString(1)).view.mapValues(_.length.toLong)
    // full-fraction strata must be exact
    assert(byType.getOrElse("error", 0L) == totals.getOrElse("error", 0L))
    assert(byType.getOrElse("signup", 0L) == totals.getOrElse("signup", 0L))
    // Bernoulli strata within generous tolerance at sf0.001 sizes
    val clicks = byType.getOrElse("click", 0L).toDouble / totals("click")
    assert(clicks > 0.0 && clicks < 0.35, s"click fraction $clicks")
    val again = Analytics.s2StratifiedSample(spark, sf).collect()
    assert(sampled.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("s5 reservoir sample is exactly K per group and matches the unfiltered ranking") {
    val out = Analytics.s5ReservoirSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val byType = out.groupBy(_._1)
    byType.values.foreach(rs =>
      assert(rs.map(_._3).sorted.sameElements(1 to Analytics.ReservoirK)))
    // brute-force expected winners: md5-order ALL rows per group (no
    // pre-filter) — proves the hash-threshold pre-filter lost nothing
    def md5hex(v: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(v.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val all = Tables.events(spark, sf).select("event_type", "event_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    all.groupBy(_._1).foreach { case (t, rs) =>
      val expect = rs.map(_._2).sortBy(id => (md5hex(id.toString), id))
        .take(Analytics.ReservoirK)
      val got = out.filter(_._1 == t).sortBy(_._3).map(_._2)
      assert(got.sameElements(expect), s"group $t winners differ")
    }
  }

  test("e2 funnel stages are ordered and 'none' markers match the stage number") {
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    val rows = Analytics.e2Funnel(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (su, cl, pu) = (r.getString(1), r.getString(2), r.getString(3))
      val stage = r.getInt(4)
      assert((1 to 3).contains(stage))
      assert(su != "none") // every row is a signed-up user
      assert((cl == "none") == (stage < 2))
      assert((pu == "none") == (stage < 3))
      if (cl != "none") assert(!fmt.parse(cl).before(fmt.parse(su)))
      if (pu != "none") assert(!fmt.parse(pu).before(fmt.parse(cl)))
    }
    // the funnel narrows
    val byStage = rows.groupBy(_.getInt(4)).view.mapValues(_.size)
    assert(byStage.getOrElse(3, 0) <= rows.length)
  }

  test("pipe2 keeps no eval-holdout docs and respects the repetition ceiling") {
    val out = graft.operators.Pipeline.pipe2LlmCorpus(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % graft.operators.TextAnalysis.EvalHoldoutMod != 0)
      assert(r.getAs[Double]("dup_word_ratio") <=
        graft.operators.Pipeline.Pipe2MaxDupRatio)
    }
  }

  test("pipe4 report rows equal their source operators with correct status banding") {
    import graft.operators.{Pipeline, Quality}
    val rows = Pipeline.pipe4MonitorReport(spark, sf).collect()
      .map(r => r.getAs[String]("check") ->
        (r.getAs[String]("metric"), r.getAs[Double]("value"),
          r.getAs[String]("status"))).toMap
    assert(rows.keySet == Set("calibration", "feature_drift", "volume_drift",
      "qc_model_registry", "bpe_model_registry"))
    // build-once registries carry the build-time meta: no batch has
    // been judged, so both report stable with zero drift
    assert(rows("qc_model_registry") == (("drift_psi", 0.0, "stable")))
    assert(rows("bpe_model_registry") == (("drift_psi", 0.0, "stable")))
    val wantAnoms = Analytics.a12VolumeDrift(spark, sf).collect()
      .count(_.getAs[Boolean]("is_anomaly")).toDouble
    assert(rows("volume_drift") == (("n_anomaly_days", wantAnoms,
      if (wantAnoms > 0) "alert" else "ok")))
    val wantPsi = Quality.psi1FeatureDrift(spark, sf)
      .select("psi").head().getDouble(0)
    val psiStatus =
      if (wantPsi > Pipeline.PsiRetrain) "retrain"
      else if (wantPsi > Pipeline.PsiDrifting) "drifting" else "stable"
    assert(rows("feature_drift") == (("psi", wantPsi, psiStatus)))
    val wantEce = Quality.qc2Calibration(spark, sf)
      .select("ece").head().getDouble(0)
    assert(rows("calibration") == (("ece", wantEce,
      if (wantEce > Pipeline.EceMax) "recalibrate" else "ok")))
  }

  test("mix5 bands follow the quality thresholds with dense in-shard positions") {
    import graft.operators.{Pipeline, TextAnalysis}
    val q = TextAnalysis.t2QualityScore(spark, sf)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = Pipeline.mix5Curriculum(spark, sf).collect()
    assert(rows.length == q.size, "every doc gets a curriculum slot")
    rows.foreach { r =>
      val want = math.min(
        math.floor(q(r.getLong(0)) * Pipeline.CurriculumBands).toInt,
        Pipeline.CurriculumBands - 1)
      assert(r.getAs[Int]("band") == want, s"doc ${r.getLong(0)}")
    }
    // positions are dense 1..n within every (band, shard)
    rows.groupBy(r => (r.getAs[Int]("band"), r.getAs[Long]("shard")))
      .foreach { case (k, rs) =>
        assert(rs.map(_.getAs[Int]("position")).sorted.toSeq == (1 to rs.size),
          s"non-dense positions in $k")
      }
  }

  test("w8 streak histogram matches a driver-side gaps-and-islands recompute") {
    val got = Analytics.w8ActiveStreaks(spark, sf).collect()
      .map(r => r.getAs[Long]("streak_days") -> r.getAs[Long]("n_users")).toMap
    val perUser = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).cast("string").as("day"))
      .distinct().collect()
      .map(r => r.getLong(0) -> java.time.LocalDate.parse(r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.toEpochDay))
    val want = perUser.values.map { days =>
      var longest = 1L; var cur = 1L
      days.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          cur = if (b.toEpochDay == a.toEpochDay + 1) cur + 1 else 1
          longest = math.max(longest, cur)
        case _ =>
      }
      longest
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want)
  }

  test("e8 Kaplan-Meier curve matches a driver-side recompute and is monotone") {
    val rows = Analytics.e8SurvivalCurve(spark, sf).collect()
    assert(rows.nonEmpty)
    // monotone: survival non-increasing, n_risk strictly decreasing in t
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("survival") >= b.getAs[Double]("survival"))
        assert(a.getAs[Long]("n_risk") > b.getAs[Long]("n_risk"))
      case _ =>
    }
    // driver recompute from raw events
    val evs = Tables.events(spark, sf)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).cast("string").as("day")).collect()
      .map(r => (r.getLong(0), r.getString(1), java.time.LocalDate.parse(r.getString(2))))
    val maxd = Tables.events(spark, sf)
      .agg(max(to_date(col("ts")).cast("string"))).head().getString(0)
    val censor = java.time.LocalDate.parse(maxd)
    val byUser = evs.groupBy(_._1)
    val durs = byUser.values.flatMap { rs =>
      val sdays = rs.filter(_._2 == "signup").map(_._3)
      if (sdays.isEmpty) None
      else {
        val s0 = sdays.minBy(_.toEpochDay)
        val p = rs.filter(r => r._2 == "purchase" && !r._3.isBefore(s0))
          .map(_._3)
        if (p.nonEmpty)
          Some((p.minBy(_.toEpochDay).toEpochDay - s0.toEpochDay, true))
        else Some((censor.toEpochDay - s0.toEpochDay, false))
      }
    }.toSeq
    val n = durs.size.toLong
    val byT = durs.groupBy(_._1).toSeq.sortBy(_._1)
    var atRisk = n; var lnSum = 0.0
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    byT.foreach { case (t, obs) =>
      val d = obs.count(_._2).toLong
      if (d > 0) {
        lnSum += math.rint(math.log(math.max(1e-12,
          1.0 - d.toDouble / atRisk)) * 1e9) / 1e9
        want += ((t, atRisk, d,
          math.rint(math.exp(lnSum) * 1e6) / 1e6))
      }
      atRisk -= obs.size
    }
    val gotT = rows.map(r => (r.getAs[Int]("t_days").toLong, r.getAs[Long]("n_risk"),
      r.getAs[Long]("n_events"), r.getAs[Double]("survival"))).toSeq
    assert(gotT == want.toSeq, s"${gotT.take(3)} vs ${want.take(3)}")
  }

  test("w4 cumulative users is monotone and ends at the distinct user count") {
    val rows = Analytics.w4ActiveUsers(spark, sf).collect()
    val totalUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.last.getAs[Long]("cum_users") == totalUsers)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("cum_users") <= b.getAs[Long]("cum_users"))
        assert(a.getString(0) < b.getString(0))
      case _ =>
    }
    assert(rows.map(_.getAs[Long]("new_users")).sum == totalUsers)
  }

  test("a9 audit: clean corpus passes; injected violations fire the right checks") {
    val clean = Analytics.a9ConstraintAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clean.keySet == Set("event_id_unique", "event_type_in_domain",
      "ts_in_range", "user_id_not_null", "value_non_negative"))
    clean.values.foreach { case (n, pass) => assert(n == 0L && pass) }
    // inject one violation per check and prove each fires with count 1
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val bad = java.sql.Timestamp.valueOf("2031-01-01 00:00:00")
    val dirty = Seq(
      (1L, t0, Some(10L), "click", 1.0), // ok
      (1L, t0, Some(11L), "click", 1.0), // dup event_id
      (2L, t0, None, "click", 1.0), // null user
      (3L, t0, Some(12L), "click", -5.0), // negative value
      (4L, t0, Some(13L), "teleport", 1.0), // out-of-domain type
      (5L, bad, Some(14L), "view", 1.0)) // ts out of range
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Analytics.auditEvents(dirty).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "event_id_unique" -> 1L, "event_type_in_domain" -> 1L,
      "ts_in_range" -> 1L, "user_id_not_null" -> 1L,
      "value_non_negative" -> 1L), s"got $got")
  }

  test("e3 cohorts: day-0 retention is 1.0, sizes partition the user base") {
    val rows = Analytics.e3RetentionCohorts(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("day_offset") >= 0)
      val ret = r.getAs[Double]("retention")
      assert(ret > 0.0 && ret <= 1.0)
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("cohort_size"))
    }
    // every cohort member is active on their first day by construction
    rows.filter(_.getAs[Int]("day_offset") == 0).foreach { r =>
      assert(r.getAs[Long]("n_active") == r.getAs[Long]("cohort_size"))
      assert(r.getAs[Double]("retention") == 1.0)
    }
    // cohort sizes partition the distinct-user base exactly
    val sizes = rows.filter(_.getAs[Int]("day_offset") == 0)
      .map(r => r.getString(0) -> r.getAs[Long]("cohort_size")).toMap
    val totalUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(sizes.values.sum == totalUsers)
  }

  test("a7 approx quantiles within 5% of exact per group") {
    val exact = Analytics.a5Percentiles(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    Analytics.a7ApproxQuantile(spark, sf).collect().foreach { r =>
      val e = exact(r.getString(0))
      Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
        .zip(e).foreach { case (approx, ex) =>
          assert(math.abs(approx - ex) / ex < 0.05, s"approx $approx vs exact $ex")
        }
    }
  }

  test("j2 as-of join: each purchase matched to latest click at-or-before it") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
    val clicks = ev.filter(_._4 == "click")
    val result = Analytics.j2AsofJoin(spark, sf).collect()
    val purchases = ev.filter(_._4 == "purchase")
    assert(result.length == purchases.length)
    // brute-force oracle on the small sf0.001 set
    val byId = purchases.map(p => p._1 -> p).toMap
    result.foreach { r =>
      val p = byId(r.getLong(0))
      val eligible = clicks.filter(c => c._2 == p._2 && !c._3.after(p._3))
      if (eligible.isEmpty) assert(r.getLong(3) == -1L)
      else {
        val bestTs = eligible.map(_._3).maxBy(_.getTime)
        val bestId = eligible.filter(_._3 == bestTs).map(_._1).max
        assert(r.getLong(3) == bestId,
          s"purchase ${r.getLong(0)}: expected click $bestId got ${r.getLong(3)}")
      }
    }
  }

  test("q8 argmin-per-part matches a brute-force recompute with min-suppkey ties") {
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
          (BigDecimal(1) -
            BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP))))
    val expect = li.groupBy(_._1).map { case (pk, rows) =>
      val best = rows.map(_._3).min
      pk -> (best.toDouble, rows.filter(_._3 == best).map(_._2).min)
    }
    val got = Analytics.q8CheapestSupplier(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (pk, (price, supp)) =>
      assert(math.abs(got(pk)._1 - price) < 1e-9, s"part $pk price")
      assert(got(pk)._2 == supp, s"part $pk supplier tie-break")
    }
  }

  test("a10 grouping sets emit exactly the two marginals plus grand total") {
    val rows = Analytics.a10GroupingSets(spark, sf).collect()
    val li = Tables.lineitem(spark, sf).select("l_returnflag", "l_linestatus").collect()
    val nFlags = li.map(_.getString(0)).distinct.length
    val nStatus = li.map(_.getString(1)).distinct.length
    assert(rows.length == nFlags + nStatus + 1)
    // no combined (flag, status) cells: every row has at least one 'ALL'
    assert(rows.forall(r => r.getString(0) == "ALL" || r.getString(1) == "ALL"))
    val total = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(total.length == 1 && total.head.getLong(3) == li.length)
  }

  test("w6 rank functions are constant within an order-key tie group") {
    val rows = Analytics.w6RankSuite(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .filter("user_id < 20").select("event_id", "user_id", "event_type").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows.length == ev.size)
    // all rows of one (user, event_type) tie group share dr/pr/cd
    rows.groupBy(r => ev(r.getLong(0))).foreach { case (_, grp) =>
      assert(grp.map(r => (r.getInt(2), r.getDouble(3), r.getDouble(4))).distinct.length == 1)
    }
    // per user: dense ranks are 1..#distinct types, max cume_dist is 1.0
    rows.groupBy(r => ev(r.getLong(0))._1).foreach { case (u, grp) =>
      val distinctTypes = grp.map(r => ev(r.getLong(0))._2).distinct.length
      assert(grp.map(_.getInt(2)).max == distinctTypes, s"user $u dense_rank")
      assert(math.abs(grp.map(_.getDouble(4)).max - 1.0) < 1e-9, s"user $u cume_dist")
    }
  }

  test("sc1 SCD2: per user, versions tile the timeline and adjacent statuses differ") {
    val rows = graft.operators.Analytics.sc1Scd2History(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, hist0) =>
      val hist = hist0.sortBy(_._2)
      assert(hist.head._2 == 1L, s"user $u versions must start at 1")
      assert(hist.map(_._2).toSeq == (1L to hist.length).toSeq,
        s"user $u versions must be dense")
      hist.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4), s"user $u: valid_to must equal next valid_from")
          assert(a._3 != b._3, s"user $u: consecutive versions with equal status")
          assert(!a._7, s"user $u: non-last version marked current")
        case _ =>
      }
      assert(hist.last._5.isEmpty && hist.last._7,
        s"user $u: last version must be open and current")
    }
    // every event is attributed to exactly one version
    val nEvents = Tables.events(spark, sf).filter(col("user_id") < 50).count()
    assert(rows.map(_._6).sum == nEvents, "n_events must partition the event log")
  }

  test("j5: bloom prefilter changes no results vs the plain join, but prunes before the shuffle") {
    val withBloom = graft.operators.Analytics.j5BloomPrefilter(spark, sf).collect()
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") >= 8)
      .count()
    assert(withBloom.length.toLong == plain,
      "bloom false positives must be removed by the real join")
    // the sketch itself: no false negatives on the inserted key set
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bf = urgent.stat.bloomFilter("o_orderkey", 200000, 0.01)
    urgent.collect().foreach(r =>
      assert(bf.mightContainLong(r.getLong(0)), "bloom filter false negative"))
  }

  test("a11: weekly HLL estimates land within sketch error of exact distinct users") {
    val est = graft.operators.Analytics.a11SketchRollup(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val exact = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .groupBy(date_format(date_trunc("week", date_trunc("day", col("ts"))), "yyyy-MM-dd")
        .as("week"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (w, n) =>
      assert(math.abs(est(w) - n) <= math.max(2.0, 0.05 * n),
        s"week $w: est=${est(w)} exact=$n")
    }
  }

  test("a15: clean schema has zero orphans; injected orphans are counted exactly") {
    import graft.operators.Analytics
    val clean = Analytics.a15FkAudit(spark, sf).collect().head
    Seq("orphan_li_orders", "orphan_li_part", "orphan_li_supp",
      "orphan_ord_cust").foreach { c =>
      assert(clean.getAs[Long](c) == 0L, s"$c should be 0 on the clean fixture")
    }
    assert(clean.getAs[Long]("n_lineitem") == Tables.lineitem(spark, sf).count())
    // violation injection: 3 child rows pointing at a missing parent
    import spark.implicits._
    val child = Seq(1L, 1L, 2L, 7L, 8L, 9L).toDF("k")
    val parent = Seq(1L, 2L, 3L).toDF("p")
    val orphans = Analytics.fkOrphans(child, "k", parent, "p", "o")
      .collect().head.getAs[Long]("o")
    assert(orphans == 3L, s"expected the 3 injected orphans, got $orphans")
  }

  test("w7: rolling WAU matches a driver-side window recompute; ratio bounded") {
    import graft.operators.Analytics
    val active = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 86400000L))
    val days = active.map(_._2).distinct.sorted
    val got = Analytics.w7Stickiness(spark, sf).collect()
    assert(got.length == days.length)
    got.foreach { r =>
      val day = java.time.LocalDate.parse(r.getAs[String]("day")).toEpochDay
      val dau = active.collect { case (u, d) if d == day => u }.toSet
      val wau = active.collect {
        case (u, d) if d <= day && d > day - Analytics.StickinessWindow => u
      }.toSet
      assert(r.getAs[Long]("dau") == dau.size, s"dau on day $day")
      assert(r.getAs[Long]("wau") == wau.size, s"wau on day $day")
      val st = r.getAs[Double]("stickiness")
      assert(st > 0 && st <= 1.0)
    }
  }

  test("a14: HLL inclusion-exclusion overlap lands within sketch error of exact") {
    import graft.operators.Analytics
    val r = Analytics.a14SketchOverlap(spark, sf).collect().head
    def users(t: String): Set[Long] = Tables.events(spark, sf)
      .filter(col("event_type") === t).select("user_id").collect()
      .map(_.getLong(0)).toSet
    val (a, b) = (users(Analytics.OverlapCohortA), users(Analytics.OverlapCohortB))
    val exactInter = (a intersect b).size.toDouble
    val estInter = r.getAs[Long]("est_inter").toDouble
    // inclusion-exclusion amplifies HLL's ~2% relative error by the
    // union/intersection ratio; 10% + small absolute floor is safe
    assert(math.abs(estInter - exactInter) <= math.max(5.0, 0.10 * exactInter),
      s"est_inter=$estInter exact=$exactInter")
    assert(math.abs(r.getAs[Long]("est_union") - (a union b).size) <=
      math.max(2.0, 0.05 * (a union b).size))
    // the algebra is internally consistent
    assert(r.getAs[Long]("est_a") + r.getAs[Long]("est_b") -
      r.getAs[Long]("est_union") == r.getAs[Long]("est_inter"))
  }

  test("q4 priority counts match a brute-force EXISTS recompute") {
    val got = Analytics.q4PriorityExists(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ord = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_shipdate")
    val expected = ord
      .join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"))
      .select("o_orderkey", "o_orderpriority").distinct()
      .groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("q10 top-20 matches a join-first recompute") {
    val got = Analytics.q10ReturnedRevenue(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getLong(4)))
    assert(got.length <= 20)
    assert(got.map(_._2).sameElements(got.map(_._2).sortBy(-_)),
      "revenue must be descending")
    // independent formulation: join customer BEFORE aggregating
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"))
      .agg(graft.Cols.moneySum(graft.Cols.dec2(col("l_extendedprice")) *
        (lit(1).cast(org.apache.spark.sql.types.DecimalType(4, 2)) -
          graft.Cols.rate(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq == expected.toSeq)
  }

  test("e5 conversion funnel lag matches a driver-side recompute") {
    val r = Analytics.e5ConversionLag(spark, sf).collect().head
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val signup = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, g) => u -> g.map(_._3).min }
    val lags = signup.flatMap { case (u, sUs) =>
      val ps = ev.filter(e => e._1 == u && e._2 == "purchase" && e._3 >= sUs)
      if (ps.isEmpty) None else Some(ps.map(_._3 - sUs).min / 1000000L)
    }.toArray.sorted
    assert(r.getLong(0) == signup.size && r.getLong(1) == lags.length)
    assert(r.getDouble(2) == math.round(lags.length.toDouble / signup.size * 1e6) / 1e6)
    def pct(q: Double): Double = { // linear interpolation, like percentile()
      val pos = (lags.length - 1) * q
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < lags.length) lags(lo) * (1 - frac) + lags(lo + 1) * frac
      else lags(lo).toDouble
    }
    assert(math.abs(r.getDouble(3) - pct(0.5)) < 1e-3, s"p50 ${r.getDouble(3)} vs ${pct(0.5)}")
    assert(math.abs(r.getDouble(4) - pct(0.9)) < 1e-3, s"p90 ${r.getDouble(4)} vs ${pct(0.9)}")
  }

  test("w5 sliding windows cover each event exactly 4 times") {
    val total = Tables.events(spark, sf).count()
    val covered = Analytics.w5SlidingWindow(spark, sf)
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(covered == 4 * total)
  }

  test("e4 transition rows sum to 1 per prev state and to N - #users overall") {
    val rows = Analytics.e4Transitions(spark, sf).collect()
    rows.groupBy(_.getString(0)).values.foreach { g =>
      assert(math.abs(g.map(_.getDouble(3)).sum - 1.0) < 1e-4,
        "per-prev transition probabilities must sum to 1")
    }
    // each user contributes (events - 1) transitions
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == expected)
  }

  test("a12 drift: trailing mean matches a recompute; anomaly flag is |z| > 2") {
    val rows = Analytics.a12VolumeDrift(spark, sf).collect() // ordered by day
    val ns = rows.map(_.getLong(1))
    rows.zipWithIndex.foreach { case (r, i) =>
      val tail = ns.slice(math.max(0, i - Analytics.DriftTrail), i)
      if (tail.isEmpty) assert(r.isNullAt(2), "no trailing window on day 0")
      else {
        val mu = tail.sum.toDouble / tail.size
        assert(math.abs(r.getDouble(2) - mu) < 1e-6 * math.max(1.0, mu),
          s"row $i: trail_mean=${r.getDouble(2)} recomputed=$mu")
      }
      val z = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(r.getBoolean(4) == z.exists(v => math.abs(v) > 2))
    }
  }

  test("mix3: split fractions near 90/5/5, assignment stable under corpus subsetting") {
    import graft.operators.Pipeline
    val rows = Pipeline.mix3TrainSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byS = rows.groupBy(_._2).view.mapValues(_.length).toMap
    val n = rows.length.toDouble
    assert(byS.keySet == Set("train", "val", "test"))
    assert(byS("train") / n > 0.8 && byS("train") / n < 0.97, s"train frac ${byS("train") / n}")
    assert(byS("val") / n < 0.12 && byS("test") / n < 0.12)
    // a doc's split is a pure function of its key: recomputing over
    // half the corpus must assign the shared docs identically (the
    // frozen-eval-set property)
    val half = Pipeline.mix3TrainSplit(spark, sf)
      .filter(col("doc_id") % 2 === 0).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val full = rows.toMap
    half.foreach { case (id, s) => assert(full(id) == s) }
  }

  test("mix6 leakage audit equals the d6 × mix3 join recomputed on the driver") {
    import graft.operators.{Dedup, Pipeline}
    val clusters = Dedup.d6DedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    assert(clusters.nonEmpty, "fixture should contain near-dup clusters")
    val split = Pipeline.mix3TrainSplit(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val rows = Pipeline.mix6SplitLeakage(spark, sf).collect()
    val byCluster = clusters.groupBy(_._2)
    assert(rows.length == byCluster.size)
    rows.foreach { r =>
      val members = byCluster(r.getAs[Long]("cluster_id")).map(_._1)
      val splits = members.map(split).distinct.sorted
      assert(r.getAs[Long]("n_docs") == members.length)
      assert(r.getAs[Long]("n_splits") == splits.length)
      assert(r.getAs[String]("splits") == splits.mkString(","))
      assert(r.getAs[Long]("min_doc") == members.min)
      assert(r.getAs[Int]("leaked") == (if (splits.length > 1) 1 else 0))
    }
  }

  test("w10 cumulative users equals first-seen attribution recomputed on the driver") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), date_format(date_trunc("day", col("ts")),
        "yyyy-MM-dd").as("day")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val firstSeen = ev.groupBy(_._1).map { case (_, g) => g.map(_._2).min }
    val newPerDay = firstSeen.groupBy(identity).map { case (d, g) =>
      d -> g.size.toLong }.toSeq.sortBy(_._1)
    val rows = Analytics.w10CumulativeUsers(spark, sf).collect()
      .map(r => (r.getAs[String]("day"), r.getAs[Long]("new_users"),
        r.getAs[Long]("cumulative_users"))).toSeq
    assert(rows.map(r => (r._1, r._2)) == newPerDay)
    // running total is the prefix sum and ends at the distinct-user count
    assert(rows.map(_._2).sum == firstSeen.size)
    rows.foldLeft(0L) { case (acc, (_, nu, cum)) =>
      assert(cum == acc + nu); cum
    }
  }

  test("mix7 keeps one max-length doc per cluster at capped weight; singletons pass at 1") {
    import graft.operators.{Dedup, Pipeline}
    val clusters = Dedup.d6DedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val lens = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).as("len")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Pipeline.mix7DedupWeights(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("weight"),
        r.getAs[Int]("clustered")))
    val byCluster = clusters.groupBy(_._2)
    val memberSet = clusters.map(_._1).toSet
    // every cluster contributes exactly its canonical doc
    byCluster.foreach { case (_, g) =>
      val members = g.map(_._1)
      val maxLen = members.map(lens).max
      val canonical = members.filter(m => lens(m) == maxLen).min
      val kept = rows.filter(r => members.contains(r._1))
      assert(kept.map(_._1).toSeq == Seq(canonical))
      assert(kept.head._2 ==
        math.min(members.length.toLong, Pipeline.DedupWeightCap))
      assert(kept.head._3 == 1)
    }
    // singletons pass through untouched
    val solo = rows.filter(r => !memberSet.contains(r._1))
    assert(solo.forall(r => r._2 == 1L && r._3 == 0))
    assert(rows.length == solo.length + byCluster.size)
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("mix2 fills each domain's budget with the md5-order greedy prefix") {
    import graft.operators.Pipeline
    val rows = Pipeline.mix2TokenBudget(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._4).max <= Pipeline.TokenBudget, "budget exceeded")
      assert(g.map(_._3).sum == g.map(_._4).max,
        "cum_tokens must be the running sum of the kept docs")
    }
    // equals the greedy prefix computed with NO prefilter: the
    // oversampled hash threshold never cuts a winner
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n"),
        substring(md5(col("doc_id").cast("string")), 1, 8).as("hk"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      var cum = 0L
      g.sortBy(d => (d._4, d._1))
        .takeWhile { d => cum += d._3; cum <= Pipeline.TokenBudget }
        .map(_._1)
        .toSeq
    }.toSet
    assert(rows.map(_._1).toSet == expected)
    // the prefilter's undershoot risk is OBSERVABLE, not silent: for
    // every domain whose full token mass covers the budget, the
    // survivors of the oversampled hash threshold must still carry at
    // least TokenBudget tokens — if this ever fires, the operator
    // under-filled the budget and PreOversample needs raising (the
    // engine and oracle would agree on the short fill, so only this
    // assertion can catch it).
    docs.groupBy(_._2).foreach { case (lang, g) =>
      val total = g.map(_._3).sum
      val thr = {
        val rate = Pipeline.PreOversample * Pipeline.TokenBudget / total.toDouble
        if (rate >= 1.0) "g"
        else f"${math.floor(rate * 4294967296.0).toLong}%08x"
      }
      val survivorMass = g.filter(_._4 < thr).map(_._3).sum
      if (total >= Pipeline.TokenBudget)
        assert(survivorMass >= Pipeline.TokenBudget,
          s"domain $lang: prefilter survivors carry $survivorMass < budget ${Pipeline.TokenBudget}")
    }
  }

  test("q21: window-count rewrite equals the textbook EXISTS / NOT EXISTS semantics") {
    val got = Analytics.q21WaitingSuppliers(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    // brute force straight from the raw rows, quantifiers spelled out
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_returnflag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val fOrders = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val names = Tables.supplier(spark, sf).select("s_suppkey", "s_name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val waits = scala.collection.mutable.Map.empty[Long, Long]
    li.groupBy(_._1).foreach { case (ord, lines) =>
      if (fOrders.contains(ord)) {
        val supps = lines.map(_._2).toSet
        val rSupps = lines.filter(_._3 == "R").map(_._2).toSet
        // EXISTS another supplier's line, NOT EXISTS another supplier's
        // problem line ⇔ >1 supplier and exactly one problem supplier
        if (supps.size > 1 && rSupps.size == 1)
          waits.updateWith(rSupps.head)(c => Some(c.getOrElse(0L) + 1L))
      }
    }
    val expected = waits.toSeq.map { case (k, n) => names(k) -> n }
      .sortBy { case (name, n) => (-n, name) }.take(100)
    assert(got == expected)
  }

  test("q9: per-nation-year profits sum to the red-part total; groups bounded by dims") {
    val rows = Analytics.q9ProductProfit(spark, sf).collect()
    val nations = Tables.nation(spark, sf).count()
    assert(rows.nonEmpty && rows.length <= nations * 10,
      "group count must be bounded by nations × year span")
    // the rollup must partition the red-part revenue exactly: recompute
    // the total through an independent formulation (semi-join filter,
    // no grouping) and compare against the sum of the groups
    val redKeys = Tables.part(spark, sf)
      .filter(col("p_name").contains("red")).select("p_partkey")
    val total = Tables.lineitem(spark, sf)
      .join(redKeys, col("l_partkey") === col("p_partkey"), "left_semi")
      .agg(sum(graft.Cols.dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(4,2)") - graft.Cols.rate(col("l_discount"))))
        .cast("double"))
      .collect()(0).getDouble(0)
    val grouped = rows.map(_.getAs[Double]("profit")).sum
    assert(math.abs(grouped - total) <= 1e-9 * math.max(1.0, math.abs(total)),
      s"grouped profit $grouped != ungrouped red-part total $total")
  }

  test("q16: excluded part classes never appear and counts are bounded by the supplier dim") {
    val rows = Analytics.q16SupplierDiversity(spark, sf).collect()
    assert(rows.nonEmpty)
    val nSupp = Tables.supplier(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[String]("p_type") != "PROMO", "excluded type leaked through")
      assert(r.getAs[String]("p_brand") != "Brand#1", "excluded brand leaked through")
      val cnt = r.getAs[Long]("supplier_cnt")
      assert(cnt > 0 && cnt <= nSupp, s"distinct supplier count $cnt out of range")
    }
    val cnts = rows.map(_.getAs[Long]("supplier_cnt"))
    assert(cnts.sameElements(cnts.sortBy(-_)), "rows must be in descending count order")
  }

  test("q13: zero-order customers land in the c_count=0 bucket (outer-join condition, not WHERE)") {
    val got = Analytics.q13CustDist(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nCust = Tables.customer(spark, sf).count()
    val withOrders = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey").distinct().count()
    // a WHERE-style (inner) formulation would lose these customers
    assert(got.getOrElse(0L, 0L) == nCust - withOrders,
      s"c_count=0 bucket must hold the ${nCust - withOrders} customers with no qualifying orders")
    assert(got.values.sum == nCust, "every customer lands in exactly one bucket")
  }

  test("j6: per-session concurrency equals a driver-side interval recompute") {
    // reference sessions straight from e1's output (formatted bounds
    // have second grain; j6 compares raw timestamps, so recompute from
    // the events table with the same 30-min rule)
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._2))
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var sid = 0L
      ordered.foreach { case (_, _, t) =>
        // e1's rule: timestampdiff(SECOND) > 1800 starts a new session
        if (bounds.isEmpty || (t - bounds.last._3) / 1000000L > 1800) {
          sid += 1; bounds += ((sid, t, t))
        } else {
          val (s0, st, _) = bounds.remove(bounds.length - 1)
          bounds += ((s0, st, t))
        }
      }
      bounds.map { case (s0, st, en) => (u, s0, st, en) }
    }
    val want = sessions.map { case (u, s0, st, en) =>
      val n = sessions.count { case (u2, _, st2, en2) =>
        u2 != u && st <= en2 && st2 <= en
      }
      ((u, s0), n.toLong)
    }.toMap
    val got = Analytics.j6OverlapJoin(spark, sf).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"))
      assert(r.getAs[Long]("n_concurrent") == want(k), s"session $k")
    }
  }

  test("e7 attribution conserves purchases and matches a driver-side walk") {
    val got = Analytics.e7Attribution(spark, sf).collect()
    val totalPurchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(got.map(_.getAs[Long]("n_purchases")).sum == totalPurchases,
      "every purchase lands in exactly one channel")
    // brute-force walk: per user, scan ordered events; credit each
    // purchase to the latest prior click/view within the lookback
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("ts_us")))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._2))
      var lastTouch: Option[(Long, String)] = None
      ordered.flatMap { case (_, _, et, ts) =>
        if (et != "purchase") { lastTouch = Some((ts, et)); None }
        else Some(lastTouch match {
          case Some((t, c)) if ts - t <= Analytics.AttributionWindowUs => c
          case _ => "none"
        })
      }
    }.groupBy(identity).map { case (c, xs) => (c, xs.size.toLong) }
    got.foreach { r =>
      val c = r.getAs[String]("channel")
      assert(r.getAs[Long]("n_purchases") == want(c), s"channel $c")
    }
    assert(got.map(_.getAs[String]("channel")).toSet.subsetOf(
      Set("click", "view", "none")))
  }

  test("e11 first-touch credits the earliest in-window touch (driver walk)") {
    val got = Analytics.e11FirstTouch(spark, sf).collect()
    val totalPurchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(got.map(_.getAs[Long]("n_purchases")).sum == totalPurchases)
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("ts_us")))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val touches = rows.filter(_._3 != "purchase")
      rows.filter(_._3 == "purchase").map { case (_, _, _, pts) =>
        touches.filter(t => t._4 >= pts - Analytics.AttributionWindowUs &&
            t._4 <= pts - 1)
          .sortBy(t => (t._4, t._2)).headOption.map(_._3).getOrElse("none")
      }
    }.groupBy(identity).map { case (c, xs) => (c, xs.size.toLong) }
    got.foreach { r =>
      val c = r.getAs[String]("channel")
      assert(r.getAs[Long]("n_purchases") == want(c), s"channel $c")
    }
    // first- and last-touch must agree on which purchases are attributable
    val e7none = Analytics.e7Attribution(spark, sf).collect()
      .find(_.getAs[String]("channel") == "none")
      .map(_.getAs[Long]("n_purchases")).getOrElse(0L)
    val e11none = got.find(_.getAs[String]("channel") == "none")
      .map(_.getAs[Long]("n_purchases")).getOrElse(0L)
    // e11's frame is strictly-before in µs ([-W, -1]) while e7 also
    // credits a same-microsecond touch (lag 0), so e11 can only have
    // MORE unattributed purchases, never fewer
    assert(e11none >= e7none)
  }

  test("e9 top paths match a driver-side session walk") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("event_id"), r.getAs[Long]("ts_us")))
    val paths = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._3))
      // split sessions on >30 min gaps, then emit per-session 3-grams
      val sessions = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[String])
      var prev = Long.MinValue
      ordered.foreach { case (_, et, _, ts) =>
        if (prev != Long.MinValue && ts - prev > Analytics.PathGapUs)
          sessions += scala.collection.mutable.ArrayBuffer.empty[String]
        sessions.last += et; prev = ts
      }
      sessions.filter(_.length >= Analytics.PathLen).flatMap(
        _.sliding(Analytics.PathLen).map(_.mkString(">")))
    }
    val want = paths.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val topWant = want.toSeq.sortBy { case (p, n) => (-n, p) }
      .take(Analytics.PathTopK)
    val got = Analytics.e9CommonPaths(spark, sf).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("n")))
    assert(got.toSeq == topWant, s"got ${got.toSeq}\nwant $topWant")
  }

  test("mix4 epoch order is a deterministic permutation that changes per epoch") {
    import graft.operators.Pipeline
    val docs = Tables.documents(spark, sf).select(col("doc_id"))
    val e1 = Pipeline.epochOrder(docs, 1).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Int]("position")))
    // permutation: every doc exactly once
    assert(e1.map(_._1).distinct.length == docs.count())
    // per shard, positions are contiguous 1..n
    e1.groupBy(_._2).foreach { case (sh, g) =>
      assert(g.map(_._3).sorted.sameElements(1 to g.length), s"shard $sh")
    }
    // deterministic across runs
    val e1b = Pipeline.epochOrder(docs, 1).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Int]("position")))
    assert(e1.sameElements(e1b))
    // a different epoch yields a genuinely different assignment
    val e2 = Pipeline.epochOrder(docs, 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Int]("position")))
    val moved = e1.map(x => x._1 -> (x._2, x._3)).toMap
    val changed = e2.count(x => moved(x._1) != ((x._2, x._3)))
    assert(changed > e2.length / 2,
      s"epoch 2 should reshuffle most docs (changed=$changed of ${e2.length})")
  }

  test("a18 LTV curves are cumulative, normalized, and conserve purchases") {
    val rows = Analytics.a18CohortLtv(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("cohort_week")).foreach { case (_, g) =>
      val ordered = g.sortBy(_.getAs[Long]("week_offset"))
      // cumulative revenue is non-decreasing and sums the per-week revenue
      var cum = 0.0
      ordered.foreach { r =>
        cum += r.getAs[Double]("revenue")
        assert(math.abs(r.getAs[Double]("cum_revenue") - cum) < 1e-4)
        assert(math.abs(r.getAs[Double]("ltv_per_user") -
          r.getAs[Double]("cum_revenue") / r.getAs[Long]("cohort_size")) < 1e-4)
      }
    }
    // purchase conservation: every at-or-after-signup purchase of a
    // signed-up user is counted exactly once
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("t")))
    val firstSignup = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val eligible = ev.count { case (u, et, t) =>
      et == "purchase" && firstSignup.get(u).exists(t >= _)
    }
    assert(rows.map(_.getAs[Long]("n_purchases")).sum == eligible)
  }

  test("rfm1 segments conserve the customer base with scores in 1..3") {
    val rows = Analytics.rfm1Segments(spark, sf).collect()
    val nCust = Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCust,
      "every ordering customer lands in exactly one segment")
    rows.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        val v = r.getAs[Int](c); assert(v >= 1 && v <= 3, s"$c=$v")
      }
      assert(r.getAs[Long]("n_customers") > 0)
    }
    // tertile sanity: per dimension, no single score bucket may hold
    // everything (the cuts actually cut)
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val per = rows.groupBy(_.getAs[Int](c))
        .map { case (k, g) => k -> g.map(_.getAs[Long]("n_customers")).sum }
      assert(per.size >= 2, s"$c: cuts degenerate, all mass in one bucket")
    }
  }

  test("a17 cross-correlations match a driver-side recompute per pair") {
    val h = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("v"))
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("hr").getTime, r.getAs[Double]("v")))
    val byType = h.groupBy(_._1)
    val types = byType.keySet.toSeq.sorted
    val got = Analytics.a17CrossCorr(spark, sf).collect()
    assert(got.length == types.size * (types.size - 1) / 2,
      "one row per unordered type pair")
    got.foreach { r =>
      val t1 = r.getAs[String]("t1"); val t2 = r.getAs[String]("t2")
      assert(t1 < t2)
      val m1 = byType(t1).map(x => x._2 -> x._3).toMap
      val m2 = byType(t2).map(x => x._2 -> x._3).toMap
      val shared = (m1.keySet intersect m2.keySet).toSeq.sorted
      assert(r.getAs[Long]("n_hours") == shared.size)
      val xs = shared.map(m1); val ys = shared.map(m2)
      val mx = xs.sum / xs.length; val my = ys.sum / ys.length
      val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
      val expected = cov / math.sqrt(
        xs.map(a => (a - mx) * (a - mx)).sum *
          ys.map(b => (b - my) * (b - my)).sum)
      val rv = r.getAs[Double]("r")
      assert(math.abs(rv - expected) < 1e-6, s"($t1,$t2): $rv vs $expected")
      assert(rv >= -1.0 - 1e-9 && rv <= 1.0 + 1e-9)
    }
  }

  test("a16 chi-square statistic matches a driver-side contingency recompute") {
    val r = Analytics.a16Chi2(spark, sf).collect().head
    val nSeg = r.getAs[Long]("n_seg"); val nReg = r.getAs[Long]("n_reg")
    assert(r.getAs[Long]("df") == (nSeg - 1) * (nReg - 1))
    val chi2 = r.getAs[Double]("chi2"); val v = r.getAs[Double]("cramers_v")
    assert(chi2 >= 0.0 && v >= 0.0 && v <= 1.0)
    // recompute χ² from the raw contingency table
    val nr = Tables.nation(spark, sf)
      .join(Tables.region(spark, sf), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    val cells = Tables.customer(spark, sf)
      .join(nr, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment"), col("r_name")).count().collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getAs[Long]("count")))
    val n = cells.map(_._2).sum.toDouble
    val rowT = cells.groupBy(_._1._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val colT = cells.groupBy(_._1._2).map { case (k, xs) => k -> xs.map(_._2).sum }
    val expected = cells.map { case ((s0, r0), o) =>
      val e = rowT(s0) * colT(r0) / n; (o - e) * (o - e) / e
    }.sum
    assert(math.abs(chi2 - expected) < 1e-5, s"chi2=$chi2 expected=$expected")
  }

  test("w11: gini matches a direct sorted-rank computation and is scale-free") {
    val out = Analytics.w11Gini(spark, sf).head()
    val cents = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .as("cents"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sortBy(identity)
    val n = cents.length.toLong
    val tot = cents.map(_._1).sum
    val swx = cents.zipWithIndex.map { case ((c, _), i) =>
      BigInt(i + 1) * BigInt(c) }.sum
    val gini = BigDecimal(
      (2.0 * swx.toDouble / tot.toDouble - (n + 1.0)) / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Long]("n_customers") == n)
    assert(out.getAs[Long]("total_cents") == tot)
    assert(out.getAs[Double]("gini") == gini, "grouped-rank fold == direct rank")
    assert(gini > 0.0 && gini < 1.0)
  }

  test("e12: per-day peak matches a driver-side interval sweep") {
    val iv = Tables.events(spark, sf)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
      .select(date_format(col("day"), "yyyy-MM-dd"), col("s"), col("e"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
    val expected = iv.groupBy(_._1).map { case (day, xs) =>
      val bounds = xs.flatMap(x => Seq((x._2, 1), (x._3, -1)))
        .sortBy(b => (b._1, -b._2))
      day -> (xs.size.toLong, bounds.scanLeft(0L)(_ + _._2).max)
    }
    val rows = Analytics.e12PeakConcurrency(spark, sf).collect()
    assert(rows.length == expected.size)
    for (r <- rows) {
      val (nActive, peak) = expected(r.getString(0))
      assert(r.getAs[Long]("n_active") == nActive, s"n_active on ${r.getString(0)}")
      assert(r.getAs[Long]("peak") == peak, s"peak on ${r.getString(0)}")
      assert(peak >= 1L && peak <= nActive)
    }
  }

  test("mix8: sqrt-temperature flattens the mixture without inverting order") {
    val rows = graft.operators.Pipeline.mix8TemperatureMixture(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    val sw = rows.map(_._3).sum
    for ((_, t, w, share, alloc) <- rows) {
      assert(w == math.floor(math.sqrt(t.toDouble) * 1000).toLong)
      assert(alloc == w * graft.operators.Pipeline.MixTempBudget / sw,
        "allocation is exact integer floor division")
      assert(math.abs(share - w.toDouble / sw) < 1e-6)
    }
    assert(rows.map(_._5).sum <= graft.operators.Pipeline.MixTempBudget,
      "floor allocations never overshoot the budget")
    // temperature property: shares are ordered with token mass but
    // flatter than raw proportions (max share shrinks vs raw mixing)
    val maxRawShare = rows.map(_._2).max.toDouble / rows.map(_._2).sum
    val maxTempShare = rows.map(_._4).max
    assert(maxTempShare <= maxRawShare + 1e-9)
    val byTokens = rows.sortBy(_._2).map(_._3)
    assert(byTokens.zip(byTokens.tail).forall { case (a, b) => a <= b },
      "weights are monotone in token mass")
  }

  test("mix9: padding buckets tile the corpus; masses conserve; waste bounded") {
    import graft.operators.Pipeline
    val rows = graft.operators.Pipeline.mix9PaddingWaste(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // tiling: every document lands in exactly one bucket
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum == nDocs)
    // conservation: true token mass equals a direct recompute, and the
    // padded mass dominates it within every bucket
    val total = Tables.documents(spark, sf)
      .agg(sum(size(graft.operators.Dedup.spanTokens(col("text")))))
      .head().getLong(0)
    assert(rows.map(_._3).sum == total)
    for ((bucket, n, sumTok, padded, waste) <- rows) {
      assert(Pipeline.PadBuckets.contains(bucket))
      assert(padded == n * bucket)
      assert(sumTok <= padded, s"bucket $bucket: true mass exceeds padded")
      assert(waste >= 0.0 && waste < 1.0, s"bucket $bucket waste=$waste")
      assert(waste == BigDecimal(1.0 - sumTok.toDouble / padded)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      // bucket membership: every doc here outgrows the next-smaller
      // bucket (each n_tok ≥ prev+1), else it would have landed there
      val idx = Pipeline.PadBuckets.indexOf(bucket)
      if (idx > 0) assert(sumTok >= n * (Pipeline.PadBuckets(idx - 1) + 1L),
        s"bucket $bucket holds docs that fit the smaller bucket")
    }
  }

  test("mix10: rejection sampling hits the target mixture; thresholds exact") {
    import graft.operators.Pipeline
    val rows = Pipeline.mix10TargetMixture(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getLong(6)))
    val targets = Pipeline.Mix10TargetPm.toMap
    assert(rows.map(_._1).toSeq == targets.keys.toSeq.sorted,
      "one report row per lang in the spec")
    assert(targets.values.sum == 1000, "spec shares are per-mille")
    // driver-side recompute of the whole construction: binding lang,
    // exact rational thresholds, md5 acceptance, kept counts and sums
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val (bindLang, _) = counts.toSeq
      .sortBy { case (l, c) => (c.toDouble / targets(l), l) }.head
    val (cM, tM) = (counts(bindLang), targets(bindLang).toLong)
    def thrHex(l: String): String = {
      val thrI = (BigInt(cM) * targets(l) * BigInt(2).pow(32)) /
        (BigInt(tM) * counts(l))
      if (thrI >= BigInt(2).pow(32)) "g"
      else { val h = thrI.toLong.toHexString; "0" * (8 - h.length) + h }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def hk(id: Long): String = md.synchronized {
      md.digest(s"mix10:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
    }
    val keptByLang = docs.filter { case (id, l) => hk(id) < thrHex(l) }
      .groupBy(_._2)
    for ((lang, nDocs, targetPm, keepRate, nKept, keptShare, idSum) <- rows) {
      assert(targetPm == targets(lang))
      assert(nDocs == counts(lang))
      val exp = keptByLang.getOrElse(lang, Array.empty[(Long, String)])
      assert(nKept == exp.length.toLong,
        s"$lang: md5 acceptance recompute disagrees")
      assert(BigInt(idSum) == exp.map(d => BigInt(d._1)).sum,
        s"$lang: kept-set digest disagrees")
      val expRate = (cM.toDouble * targetPm) / (tM.toDouble * counts(lang))
      assert(math.abs(keepRate - expRate) < 5e-7)
      assert(nKept <= nDocs)
      // realized share tracks the spec within multinomial noise
      assert(math.abs(keptShare - targetPm / 1000.0) < 0.05,
        s"$lang: share $keptShare far from target ${targetPm / 1000.0}")
    }
    // the binding lang is downsampled by nothing: it keeps every doc
    val bind = rows.find(_._1 == bindLang).get
    assert(bind._4 == 1.0 && bind._5 == bind._2)
    // shares sum to 1 (rounding) and the report is deterministic
    assert(math.abs(rows.map(_._6).sum - 1.0) < 1e-5)
    val again = Pipeline.mix10TargetMixture(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(4)))
    assert(again.toSeq == rows.map(r => (r._1, r._5)).toSeq)
  }

  test("pipe6: endpoint rows = n21's fusion + per-result snippets with head fallback") {
    import graft.operators.{Pipeline, Similarity, TextIndex}
    val rows = Pipeline.pipe6HybridSearch(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getString(4)))
    val fused = Similarity.n21RrfFusion(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(4),
        Option(r.get(2)).isDefined))
    // the endpoint preserves the fused ranking exactly
    assert(rows.map(t => (t._1, t._2, t._3)).toSeq ==
      fused.map(t => (t._1, t._2, t._3)).toSeq)
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val terms = TextIndex.QueryTerms.toSet
    val W = TextIndex.SnippetWindow
    val hadLex = fused.map(t => t._2 -> t._4).toMap
    for ((_, id, _, nHits, snippet) <- rows) {
      val toks = texts(id).split(" ")
      val pos = toks.indices.filter(i => terms.contains(toks(i)))
      if (pos.isEmpty) {
        // semantic-only hit: head-of-document fallback
        assert(nHits == 0 && snippet == toks.take(W).mkString(" "))
        assert(!hadLex(id), "a lexical-pool doc cannot be term-free")
      } else {
        def hits(p: Int) = pos.count(q => q >= p && q < p + W)
        val bestCnt = pos.map(hits).max
        val bestStart = pos.filter(p => hits(p) == bestCnt).min
        assert(nHits == bestCnt && nHits >= 1)
        assert(snippet == toks.slice(bestStart, bestStart + W).mkString(" "))
      }
    }
    // every result renders a real snippet; semantic-only results
    // (absent from the lexical pool) still snippet correctly — on
    // this corpus the query terms are common enough that even
    // sem-only docs contain one, so the head fallback stays a
    // spec-verified branch rule rather than a corpus occurrence
    assert(rows.forall(_._5.nonEmpty))
    assert(rows.exists(r => !hadLex(r._2) && r._4 > 0),
      "a sem-only result with a windowed snippet exists")
  }

  test("e13: bounce accounting matches e1's session table") {
    val sess = Analytics.e1Sessionize(spark, sf).collect()
      .map(r => (r.getAs[Long]("n_events"), r.getAs[String]("start_ts").take(10)))
    val expected = sess.groupBy(_._2).map { case (day, xs) =>
      day -> (xs.length.toLong, xs.count(_._1 == 1L).toLong,
        xs.map(_._1).sum)
    }
    val rows = Analytics.e13BounceRate(spark, sf).collect()
    assert(rows.length == expected.size)
    for (r <- rows) {
      val (nSess, nBounce, nEv) = expected(r.getString(0))
      assert(r.getAs[Long]("n_sessions") == nSess, s"day ${r.getString(0)}")
      assert(r.getAs[Long]("n_bounce") == nBounce, s"day ${r.getString(0)}")
      val rate = r.getAs[Double]("bounce_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Double]("avg_events") >= 1.0)
      assert(math.abs(r.getAs[Double]("avg_events") - nEv.toDouble / nSess) < 1e-6)
    }
  }

  test("w12: top-decile share matches a driver-side sort and bounds hold") {
    val r = Analytics.w12TopDecileShare(spark, sf).head()
    val cents = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .as("cents"))
      .collect().map(x => (x.getLong(1), x.getLong(0)))
    val n = cents.length.toLong
    val k = (n + 9) / 10
    // mirror the operator's ascending (cents, custkey) rank: the top
    // decile is the LAST k rows of that total order
    val top = cents.sortBy(identity).takeRight(k.toInt)
    val share = BigDecimal(top.map(_._1).sum.toDouble / cents.map(_._1).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n_customers") == n)
    assert(r.getAs[Long]("top_k") == k)
    assert(r.getAs[Double]("top_share") == share)
    assert(share >= k.toDouble / n - 1e-6 && share <= 1.0,
      "top decile can never hold less than a uniform share")
  }

  test("w13: new + returning partitions each day's actives; day-1 is all new") {
    val rows = Analytics.w13NewVsReturning(spark, sf).collect()
    val w10 = Analytics.w10CumulativeUsers(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("new_users")).toMap
    for (r <- rows) {
      assert(r.getAs[Long]("n_active") ==
        r.getAs[Long]("n_new") + r.getAs[Long]("n_returning"))
      // the per-day new count must agree with w10's first-seen counts
      assert(r.getAs[Long]("n_new") == w10.getOrElse(r.getString(0), 0L),
        s"day ${r.getString(0)}")
    }
    assert(rows.head.getAs[Long]("n_returning") == 0L,
      "nobody can return on the first day of history")
    assert(rows.head.getAs[Double]("new_frac") == 1.0)
  }

  test("w14 Lorenz curve reconciles with w11's totals and w12's top decile") {
    val rows = Analytics.w14Lorenz(spark, sf).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val w11 = Analytics.w11Gini(spark, sf).collect().head
    assert(rows.map(_.getAs[Long]("n_customers")).sum ==
      w11.getAs[Long]("n_customers"), "customer mass conserved")
    assert(rows.map(_.getAs[Long]("decile_cents")).sum ==
      w11.getAs[Long]("total_cents"), "cents mass conserved")
    assert(rows.last.getAs[Long]("cum_cents") ==
      w11.getAs[Long]("total_cents"))
    assert(rows.last.getAs[Double]("cum_share") == 1.0)
    // Lorenz convexity: deciles are rank-ordered by cents, so the
    // per-decile share must be non-decreasing
    val shares = rows.map(_.getAs[Double]("decile_share"))
    assert(shares.sliding(2).forall { case Array(a, b) => b >= a - 1e-9 })
    // the top decile IS w12's head: ceil(n/10) = n - floor(9n/10)
    val w12 = Analytics.w12TopDecileShare(spark, sf).collect().head
    assert(rows.last.getAs[Long]("n_customers") == w12.getAs[Long]("top_k"))
    assert(rows.last.getAs[Long]("decile_cents") == w12.getAs[Long]("top_cents"))
  }

  test("rank-moment folds lift to decimal BEFORE multiplying (no int64 wrap)") {
    import spark.implicits._
    // i·cents chosen so the int64 product wraps: 4e9 × 4e9 = 1.6e19 >
    // Long.MaxValue. The shipped fold (cast one operand to
    // decimal(38,0) first) must be exact; the pre-fix form (multiply
    // in long, cast after) silently wraps under non-ANSI Spark — the
    // w11/g9 divergence the r12 advice named.
    val df = Seq((4000000000L, 4000000000L), (3L, 5L)).toDF("i", "cents")
    val exact = df.agg(
      sum(col("i").cast("decimal(38,0)") * col("cents")).as("s"))
      .collect().head.getDecimal(0)
    val want = BigInt("4000000000") * BigInt("4000000000") + BigInt(15)
    assert(BigInt(exact.toBigInteger) == want,
      s"decimal-lifted fold must be exact: $exact vs $want")
    // the pre-fix form (multiply in long, cast after) cannot produce
    // `want`: under this session's ANSI default it THROWS on the
    // wrapped product (and under legacy non-ANSI it would silently
    // wrap) — either way the decimal lift is what keeps the fold
    // correct at 100 TB magnitudes
    val thrown = intercept[Exception] {
      df.agg(sum((col("i") * col("cents")).cast("decimal(38,0)")).as("s"))
        .collect()
    }
    assert(thrown.getMessage.contains("ARITHMETIC_OVERFLOW") ||
      thrown.getMessage.toLowerCase.contains("overflow"),
      s"expected a long-overflow failure, got: ${thrown.getMessage}")
  }

  test("w12 emits zero rows on an empty orders frame (matches the oracle)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tempDir("w12_empty")
    val schema = StructType(Seq(
      StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.parquet(s"$dir/orders.parquet")
    assert(graft.operators.Analytics.w12TopDecileShare(spark, dir).count() == 0L,
      "degenerate all-NULL aggregate row must not surface on empty input")
  }
}
