package graft

import graft.operators.TimeSeries
import org.apache.spark.sql.functions._

/** Gap filling (row 163) and LOCF interpolation (row 164). The spine
  * invariants (full coverage, conserved counts) pin ts1; ts2's carried
  * value is recomputed by a driver-side forward walk.
  */
class TimeSeriesSpec extends GraftSpec {

  test("ts1 spine covers every (type, hour) cell and conserves event counts") {
    val rows = TimeSeries.ts1GapFill(spark, sf).collect()
    val types = rows.map(_.getAs[String]("event_type")).distinct
    val hours = rows.map(_.getAs[String]("hr")).distinct
    assert(rows.length == types.length * hours.length,
      s"dense grid expected: ${rows.length} rows vs ${types.length} types × ${hours.length} hours")
    val total = Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    // gap rows are exactly the n=0 rows, and holes genuinely exist
    rows.foreach { r =>
      assert((r.getAs[Int]("is_gap") == 1) == (r.getAs[Long]("n") == 0L))
    }
    assert(rows.count(_.getAs[Int]("is_gap") == 1) > 0,
      "fixture should contain genuine hourly holes")
    // hours are consecutive: span size == distinct hour count
    val hs = hours.sorted
    assert(hs.head < hs.last)
  }

  test("ts2 filled value is the most recent non-null observation (driver walk)") {
    val rows = TimeSeries.ts2LocfFill(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("hr"),
        Option(r.getAs[java.lang.Double]("avg_value")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("filled_value")).map(_.doubleValue)))
    rows.groupBy(_._1).foreach { case (_, g) =>
      var carried: Option[Double] = None
      g.sortBy(_._2).foreach { case (t, hr, raw, filled) =>
        if (raw.isDefined) carried = raw
        assert(filled == carried,
          s"$t $hr: filled=$filled, expected carried=$carried (raw=$raw)")
      }
    }
    // leading rows before the first observation stay null somewhere or
    // every series starts with data — either way raw rows must exist
    assert(rows.exists(_._3.isDefined))
    // holes inherit: at least one n=0 row carries a non-null fill
    assert(rows.exists(r => r._3.isEmpty && r._4.isDefined),
      "some hole should inherit a carried value")
  }

  test("ts14 deseasonalized z equals a driver recompute from the hour-of-day profile") {
    def q(x: Double, s: Double) = math.floor(x * s + 0.5) / s
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val prof = hourly.groupBy(p => (p._1, p._2.toInstant
        .atZone(java.time.ZoneOffset.UTC).getHour))
      .map { case (k, g) =>
        k -> q(g.map(x => BigDecimal(x._3).setScale(6,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / g.length, 1e6) }
    val resid = hourly.map { case (t, hr, v) =>
      (t, hr, v, v - prof((t, hr.toInstant
        .atZone(java.time.ZoneOffset.UTC).getHour))) }
    val sigma = resid.groupBy(_._1).map { case (t, g) =>
      val rs = g.map(x => BigDecimal(x._4).setScale(6,
        BigDecimal.RoundingMode.HALF_UP))
      val n = g.length.toDouble
      val s1 = rs.sum.toDouble; val s2 = rs.map(x => x * x).sum.toDouble
      t -> q(math.sqrt((s2 * n - s1 * s1) / (n * n - n)), 1e6)
    }
    val rows = TimeSeries.ts14SeasonalAdjust(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Int]("is_anomaly") == 1) ||
      rows.forall(r => math.abs(Option(r.getAs[java.lang.Double]("z"))
        .fold(0.0)(_.doubleValue)) < TimeSeries.SeasAdjTau))
    val residMap = resid.map(r => (r._1, r._2) -> r._4).toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val hr = java.sql.Timestamp.valueOf(r.getAs[String]("hr"))
      val rd = residMap((t, hr))
      val sg = sigma(t)
      if (sg > 0) {
        assert(math.abs(r.getAs[Double]("z") - q(rd / sg, 1e4)) < 1.1e-4,
          s"$t $hr z")
        assert(r.getAs[Int]("is_anomaly") ==
          (if (math.abs(rd / sg) >= TimeSeries.SeasAdjTau) 1 else 0))
      }
    }
  }

  test("e10 episodes are exactly the maximal consecutive anomalous-hour runs of ts9") {
    val z = TimeSeries.ts9RollingZscore(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("hr"),
        Option(r.getAs[java.lang.Double]("z")).map(_.doubleValue),
        r.getAs[Int]("is_anomaly")))
    // driver-side run collapse per type over the hr-sorted flag sequence
    val expected = z.groupBy(_._1).toSeq.flatMap { case (t, g) =>
      val seq = g.sortBy(_._2)
      val runs = scala.collection.mutable.ArrayBuffer
        .empty[Vector[(String, Double)]]
      var cur = Vector.empty[(String, Double)]
      seq.foreach { case (_, hr, zv, flag) =>
        if (flag == 1) cur = cur :+ (hr -> math.abs(zv.get))
        else { if (cur.nonEmpty) runs += cur; cur = Vector.empty }
      }
      if (cur.nonEmpty) runs += cur
      runs.map(run => (t, run.head._1, run.last._1, run.length.toLong,
        run.map(_._2).max))
    }.sortBy(e => (e._1, e._2))
    val rows = TimeSeries.e10AnomalyEpisodes(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("start_hr"),
        r.getAs[String]("end_hr"), r.getAs[Long]("n_hours"),
        r.getAs[Double]("peak_z"))).toSeq
    assert(rows == expected)
    assert(rows.nonEmpty, "fixture should contain at least one episode")
  }

  test("ts13 Theil–Sen slope/intercept equal a driver-side pairwise-median recompute") {
    def med(v: Seq[Double]): Double = {
      val s = v.sorted; val m = s.length
      if (m % 2 == 1) s(m / 2) else (s(m / 2 - 1) + s(m / 2)) / 2
    }
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2)))
    val lo = daily.map(_._2).min
    val rows = TimeSeries.ts13TheilSen(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val pts = daily.filter(_._1 == t)
        .map(p => (((p._2 - lo) / 86400000L).toDouble, p._3.toDouble))
        .sortBy(_._1).toSeq
      val slopes = for (i <- pts.indices; j <- i + 1 until pts.length)
        yield (pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1)
      assert(r.getAs[Long]("n_days") == pts.length)
      assert(r.getAs[Long]("n_pairs") == slopes.length)
      // interpolation form may differ by an ulp pre-quantization, so
      // allow exactly one quantum of slack
      val slope = q6(med(slopes))
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1.1e-6,
        s"$t slope ${r.getAs[Double]("slope")} vs $slope")
      val ic = q6(med(pts.map { case (x, y) =>
        y - r.getAs[Double]("slope") * x }))
      assert(math.abs(r.getAs[Double]("intercept") - ic) < 1.1e-6)
    }
    // robustness: Theil–Sen is the median of pair slopes, so it must
    // stay within the [min, max] pair-slope envelope (an OLS fit can
    // leave it under leverage; the median cannot)
    rows.foreach { r => assert(!r.getAs[Double]("slope").isNaN) }
  }

  test("ts3 slope/intercept/r2 match a driver-side OLS recompute") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2)))
    val lo = daily.map(_._2).min
    val byType = daily.groupBy(_._1)
    val got = TimeSeries.ts3Trend(spark, sf).collect()
    assert(got.length == byType.size)
    got.foreach { r =>
      val pts = byType(r.getAs[String]("event_type"))
        .map(p => ((p._2 - lo) / 86400000L.toDouble, p._3.toDouble))
      val n = pts.length
      val (mx, my) = (pts.map(_._1).sum / n, pts.map(_._2).sum / n)
      val sxy = pts.map(p => (p._1 - mx) * (p._2 - my)).sum
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      val syy = pts.map(p => (p._2 - my) * (p._2 - my)).sum
      val slope = sxy / sxx
      assert(r.getAs[Long]("n_days") == n)
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-4)
      assert(math.abs(r.getAs[Double]("intercept") - (my - slope * mx)) < 1e-4)
      assert(math.abs(r.getAs[Double]("r2") - sxy * sxy / (sxx * syy)) < 1e-4)
    }
  }

  test("ts4 OHLC buckets match a driver-side recompute and obey invariants") {
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ev = Tables.events(spark, sf)
      .selectExpr("event_type", "event_id", "value", "cast(ts as long) AS sec")
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"), r.getAs[Long]("sec")))
    val want = ev.groupBy { case (t, _, _, sec) =>
        (t, sec / TimeSeries.ResampleSecs * TimeSeries.ResampleSecs)
      }.view.mapValues { rows =>
        val ordered = rows.sortBy { case (_, id, _, sec) => (sec, id) }
        (ordered.length.toLong, r6(ordered.head._3),
          r6(ordered.map(_._3).max), r6(ordered.map(_._3).min),
          r6(ordered.last._3))
      }.toMap
    val got = TimeSeries.ts4OhlcResample(spark, sf).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val k = (r.getAs[String]("event_type"), r.getAs[Long]("bucket"))
      val (n, open, high, low, close) = want(k)
      assert(r.getAs[Long]("n") == n, s"$k n")
      assert(r.getAs[Double]("open") == open, s"$k open")
      assert(r.getAs[Double]("high") == high, s"$k high")
      assert(r.getAs[Double]("low") == low, s"$k low")
      assert(r.getAs[Double]("close") == close, s"$k close")
      assert(low <= open && open <= high && low <= close && close <= high)
    }
  }

  test("ts5 EWMA equals a driver-side sequential fold over each series") {
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TimeSeries.ts5Ewma(spark, sf).collect()
    val series = got.groupBy(_.getAs[String]("event_type"))
    assert(series.nonEmpty)
    series.foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getAs[String]("hr"))
      var e = ordered.head.getAs[Double]("v")
      ordered.zipWithIndex.foreach { case (r, i) =>
        if (i > 0) e = TimeSeries.EwmaAlpha * r.getAs[Double]("v") +
          (1 - TimeSeries.EwmaAlpha) * e
        assert(r.getAs[Double]("ewma") == r6(e),
          s"${r.getAs[String]("event_type")} @ ${r.getAs[String]("hr")}")
      }
    }
  }

  test("ts6 lag-1 autocorrelation matches a driver-side Pearson recompute") {
    val got = TimeSeries.ts6Autocorr(spark, sf).collect()
    assert(got.nonEmpty)
    // rebuild each hourly series the same way the operator does, then
    // compute corr(v_t, v_{t-1}) with plain two-pass Pearson
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("v"))
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("hr").getTime, r.getAs[Double]("v")))
      .groupBy(_._1)
    got.foreach { r =>
      val series = hourly(r.getAs[String]("event_type"))
        .sortBy(_._2).map(_._3)
      assert(r.getAs[Long]("n_hours") == series.length)
      val x = series.dropRight(1); val y = series.drop(1)
      val mx = x.sum / x.length; val my = y.sum / y.length
      val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
      val expected = cov / math.sqrt(
        x.map(a => (a - mx) * (a - mx)).sum * y.map(b => (b - my) * (b - my)).sum)
      val ac1 = r.getAs[Double]("ac_1")
      assert(math.abs(ac1 - expected) < 1e-6,
        s"${r.getAs[String]("event_type")}: ac_1=$ac1 expected=$expected")
      Seq("ac_1", "ac_2", "ac_3").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"$c out of range: $v")
      }
    }
  }

  test("ts8 Holt level/trend equal a driver-side sequential recurrence") {
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TimeSeries.ts8Holt(spark, sf).collect()
    val series = got.groupBy(_.getAs[String]("event_type"))
    assert(series.nonEmpty)
    val a = TimeSeries.HoltAlpha; val b = TimeSeries.HoltBeta
    series.foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getAs[String]("hr"))
      var l = ordered.head.getAs[Double]("v"); var tr = 0.0
      ordered.zipWithIndex.foreach { case (r, i) =>
        if (i > 0) {
          val lNew = a * r.getAs[Double]("v") + (1 - a) * (l + tr)
          tr = b * (lNew - l) + (1 - b) * tr
          l = lNew
        }
        assert(r.getAs[Double]("level") == r6(l),
          s"${r.getAs[String]("event_type")} @ ${r.getAs[String]("hr")} level")
        assert(r.getAs[Double]("trend") == r6(tr),
          s"${r.getAs[String]("event_type")} @ ${r.getAs[String]("hr")} trend")
        assert(r.getAs[Double]("forecast_next") == r6(l + tr))
      }
    }
  }

  test("ts7 seasonal strength matches a driver-side ANOVA decomposition") {
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("v"))
      .select(col("event_type"), hour(col("hr")).as("hod"), col("v"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("hod"),
        r.getAs[Double]("v")))
      .groupBy(_._1)
    TimeSeries.ts7Seasonality(spark, sf).collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      val rows = hourly(t)
      assert(r.getAs[Long]("n_hours") == rows.length)
      def varp(xs: Seq[Double]) = {
        val m = xs.sum / xs.length
        xs.map(x => (x - m) * (x - m)).sum / xs.length
      }
      val vTotal = varp(rows.map(_._3).toSeq)
      val prof = rows.groupBy(_._2)
        .map { case (h, g) => h -> g.map(_._3).sum / g.length }
      val vResid = varp(rows.map { case (_, h, v) => v - prof(h) }.toSeq)
      val strength = r.getAs[Double]("seasonal_strength")
      assert(math.abs(r.getAs[Double]("var_total") - vTotal) < 1e-4)
      assert(math.abs(r.getAs[Double]("var_resid") - vResid) < 1e-4)
      assert(math.abs(strength - (1 - vResid / vTotal)) < 1e-4)
      // law of total variance: the hour-of-day profile can only EXPLAIN
      // variance, never add it
      assert(strength >= -1e-6 && strength <= 1.0 + 1e-9)
    }
  }

  test("ts9 rolling z-scores match a driver-side trailing-window recompute") {
    def r4(x: Double): Double = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TimeSeries.ts9RollingZscore(spark, sf).collect()
    assert(got.nonEmpty)
    var scored = 0
    got.groupBy(_.getAs[String]("event_type")).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getAs[String]("hr"))
      val vs = ordered.map(r => BigDecimal(r.getAs[Double]("v")))
      ordered.zipWithIndex.foreach { case (r, i) =>
        val w = vs.slice(math.max(0, i - TimeSeries.ZscoreWindow), i)
        assert(r.getAs[Long]("roll_n") == w.length)
        if (w.length >= TimeSeries.ZscoreMinObs) {
          val n = w.length.toDouble
          val sm = w.sum.toDouble
          val s2 = w.map(x => x * x).sum.toDouble
          val variance = (s2 * n - sm * sm) / (n * n * (n - 1.0))
          if (variance > 0) {
            val z = r4((r.getAs[Double]("v") - sm / n) / math.sqrt(variance))
            assert(r.getAs[Double]("z") == z,
              s"${r.getAs[String]("event_type")} @ ${r.getAs[String]("hr")}")
            assert((r.getAs[Int]("is_anomaly") == 1) ==
              (math.abs(z) >= TimeSeries.ZscoreTau))
            scored += 1
          }
        } else assert(r.isNullAt(r.fieldIndex("z")), "thin baseline must not score")
      }
    }
    assert(scored > 10, s"expected a scored tail of hours, got $scored")
  }

  test("ts10 CUSUM sums equal a driver-side sequential fold; alarms consistent") {
    def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val got = TimeSeries.ts10Cusum(spark, sf).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getAs[String]("event_type")).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getAs[String]("hr"))
      val vs = ordered.map(r => BigDecimal(r.getAs[Double]("v")))
      val n = vs.length.toDouble
      val sm = vs.sum.toDouble
      val s2 = vs.map(x => x * x).sum.toDouble
      val mu = q6(sm / n)
      val sigma = q6(math.sqrt((s2 * n - sm * sm) / (n * n - n)))
      var sp = 0.0
      var sn = 0.0
      ordered.foreach { r =>
        val v = r.getAs[Double]("v")
        sp = math.max(0.0, sp + v - mu - TimeSeries.CusumK * sigma)
        sn = math.max(0.0, sn + mu - v - TimeSeries.CusumK * sigma)
        assert(r.getAs[Double]("cusum_pos") == q6(sp),
          s"sp @ ${r.getAs[String]("hr")}")
        assert(r.getAs[Double]("cusum_neg") == q6(sn),
          s"sn @ ${r.getAs[String]("hr")}")
        assert((r.getAs[Int]("alarm") == 1) ==
          (sp > TimeSeries.CusumH * sigma || sn > TimeSeries.CusumH * sigma))
      }
    }
  }

  test("ts11 interpolated holes lie on the line between their observed anchors") {
    val got = TimeSeries.ts11LinearInterp(spark, sf).collect()
    assert(got.nonEmpty)
    var interped = 0
    got.groupBy(_.getAs[String]("event_type")).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getAs[String]("hr")).zipWithIndex
      val obs = ordered.filter(_._1.getAs[String]("method") == "obs")
      ordered.foreach { case (r, i) =>
        r.getAs[String]("method") match {
          case "obs" =>
            assert(r.getAs[Long]("n") > 0)
          case "interp" =>
            val prev = obs.filter(_._2 < i).lastOption
            val next = obs.find(_._2 > i)
            assert(prev.isDefined && next.isDefined, "interp needs both anchors")
            val (pv, pi) = (prev.get._1.getAs[Double]("value"), prev.get._2)
            val (nv, ni) = (next.get._1.getAs[Double]("value"), next.get._2)
            val expect = BigDecimal(pv + (nv - pv) * (i - pi) / (ni - pi))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            assert(math.abs(r.getAs[Double]("value") - expect) < 1e-9,
              s"@ ${r.getAs[String]("hr")}")
            interped += 1
          case "edge" =>
            // no anchor on at least one side
            assert(obs.isEmpty || i < obs.head._2 || i > obs.last._2)
            assert(r.isNullAt(r.fieldIndex("value")))
        }
      }
    }
    assert(interped > 0, "corpus should contain at least one interpolated hole")
  }

  test("ts12 time-weighted average matches a driver-side hold-duration walk") {
    val got = TimeSeries.ts12TimeWeighted(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_intervals"), r.getAs[Long]("hold_us"),
          r.getAs[Double]("twa"))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("event_id"), r.getAs[Long]("us"),
        r.getAs[Double]("value")))
    // per user: each event's value holds until that user's next event
    val byType = scala.collection.mutable.Map.empty[String, (Long, Long, BigDecimal)]
    ev.groupBy(_._1).foreach { case (_, rows) =>
      rows.sortBy(r => (r._4, r._3)).sliding(2).foreach {
        case Array((_, et, _, us1, v), (_, _, _, us2, _)) =>
          val dt = us2 - us1
          val (n, h, s) = byType.getOrElse(et, (0L, 0L, BigDecimal(0)))
          byType(et) = (n + 1, h + dt,
            s + BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP) * dt)
        case _ => // single-event user: no hold interval
      }
    }
    assert(byType.keySet == got.keySet)
    byType.foreach { case (et, (n, h, s)) =>
      val (gn, gh, twa) = got(et)
      assert(gn == n, s"$et n_intervals")
      assert(gh == h, s"$et hold_us")
      assert(math.abs(twa - (s / h).toDouble) < 1e-5, s"$et twa")
    }
  }

  test("ts16 decomposes a planted square wave exactly (trend 105, seasonal ±5, remainder 0)") {
    import spark.implicits._
    // 4 dense days of hourly counts alternating 100/110: every full
    // 24-row window sums to 2520 ⇒ trend exactly 105; hour-of-day
    // means of the detrended series are exactly ∓5; remainder 0
    val dense = (0 until 96).map { i =>
      ("a", java.sql.Timestamp.valueOf(
        f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"),
        if (i % 2 == 0) 100L else 110L)
    }.toDF("event_type", "hr", "n")
    val rows = TimeSeries.stlOf(dense).collect()
    assert(rows.length == 96)
    rows.foreach { r =>
      val t = Option(r.getAs[java.lang.Double]("trend"))
      val hrIdx = r.getAs[String]("hr").substring(11, 13).toInt
      val dayIdx = r.getAs[String]("hr").substring(8, 10).toInt - 1
      val i = dayIdx * 24 + hrIdx
      if (i < TimeSeries.StlHalf || i >= 96 - (TimeSeries.StlHalf - 1)) {
        assert(t.isEmpty, s"edge row $i must carry NULL trend: $r")
      } else {
        assert(t.contains(105.0), r.toString)
        val exp = if (i % 2 == 0) -5.0 else 5.0
        assert(r.getAs[Double]("seasonal") == exp, r.toString)
        assert(r.getAs[Double]("remainder") == 0.0, r.toString)
      }
    }
  }

  test("ts18 flags exactly a planted spike and stays silent on the clean square wave") {
    import spark.implicits._
    // the ts16 fixture: clean square wave decomposes to remainder 0
    // everywhere, so NOTHING flags...
    def wave(spike: Option[Int]) = (0 until 96).map { i =>
      val base = if (i % 2 == 0) 100L else 110L
      ("a", java.sql.Timestamp.valueOf(
        f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"),
        if (spike.contains(i)) base + 500L else base)
    }.toDF("event_type", "hr", "n")
    assert(TimeSeries.stlAnomaliesOf(TimeSeries.stlOf(wave(None)))
      .count() == 0L, "a clean seasonal series must raise no alerts")
    // ...and a single injected spike is flagged AT ITS HOUR — the
    // point of alerting on the remainder: hour 37's raw count (610)
    // is no higher than many seasonal peaks of a scaled series, but
    // its residual is unexplained by trend+season
    val flagged = TimeSeries.stlAnomaliesOf(TimeSeries.stlOf(wave(Some(37))))
      .collect()
    assert(flagged.exists(_.getAs[String]("hr").contains("2024-01-02 13")),
      s"the spiked hour must flag: ${flagged.mkString(";")}")
    // robust estimators keep the flag list to the spike's LEAKAGE
    // NEIGHBORHOOD, never the whole series: the spike itself, the
    // ≤2·StlHalf rows whose trend window contains it, and its ≤4
    // hour-of-day mates whose seasonal mean it shifts (96h fixture)
    assert(flagged.length <= 2 * TimeSeries.StlHalf + 96 / 24 + 1,
      s"flag list must stay spike-local, got ${flagged.length}")
  }

  test("ts16 corpus rows satisfy the additive identity n = trend + seasonal + remainder") {
    val rows = TimeSeries.ts16StlDecompose(spark, sf).collect()
    assert(rows.nonEmpty)
    var scored = 0
    rows.foreach { r =>
      Option(r.getAs[java.lang.Double]("trend")).foreach { t =>
        scored += 1
        val sum = t + r.getAs[Double]("seasonal") +
          r.getAs[Double]("remainder")
        assert(math.abs(sum - r.getAs[Long]("n")) < 3e-6, r.toString)
      }
    }
    assert(scored > 0, "fixture should contain full-frame rows")
  }

  test("ts15 locates a planted level shift at the exact split day") {
    import spark.implicits._
    // level 10 for days 1-12, level 40 from day 13: the mean gap is
    // uniquely maximized at split idx 12 (any other split mixes levels)
    val daily = (1 to 30).map { i =>
      ("a", java.sql.Timestamp.valueOf(f"2024-01-$i%02d 00:00:00"),
        if (i <= 12) 10L else 40L)
    }.toDF("event_type", "d", "cnt")
    val r = TimeSeries.changepointOf(daily).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("split_day") == "2024-01-12", row.toString)
    assert(row.getAs[Long]("n_before") == 12L &&
      row.getAs[Long]("n_after") == 18L)
    assert(row.getAs[Double]("mean_before") == 10.0 &&
      row.getAs[Double]("mean_after") == 40.0 &&
      row.getAs[Double]("mean_gap") == 30.0)
  }

  test("ts15 on the corpus: one row per type, segment sizes partition the span") {
    val rows = TimeSeries.ts15Changepoint(spark, sf).collect()
    val types = Tables.events(spark, sf).select("event_type")
      .distinct().count()
    assert(rows.length == types.toInt)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_before") + r.getAs[Long]("n_after") ==
        r.getAs[Long]("n_days"))
      assert(r.getAs[Long]("n_before") >= TimeSeries.CpMinSeg &&
        r.getAs[Long]("n_after") >= TimeSeries.CpMinSeg)
      assert(math.abs(r.getAs[Double]("mean_gap") -
        math.abs(r.getAs[Double]("mean_before") -
          r.getAs[Double]("mean_after"))) < 2e-6)
    }
  }

  test("ts17: backtest metrics equal a driver-side walk-forward with no look-ahead") {
    val got = TimeSeries.ts17ForecastBacktest(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // driver-side honest walk-forward over the same hourly series
    val series = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime).map(_._3).toArray)
    def q9(x: Double) = math.floor(x * 1e9 + 0.5).toLong
    for ((t, vs) <- series if vs.length >= 2) {
      // EWMA: forecast at i is the state after 0..i-1
      var e = vs(0)
      var (saeE, sseE) = (0L, 0L)
      for (i <- 1 until vs.length) {
        val err = vs(i) - e
        saeE += q9(math.abs(err)); sseE += q9(err * err)
        e = TimeSeries.EwmaAlpha * vs(i) + (1 - TimeSeries.EwmaAlpha) * e
      }
      var l = vs(0); var b = 0.0
      var (saeH, sseH) = (0L, 0L)
      for (i <- 1 until vs.length) {
        val err = vs(i) - (l + b)
        saeH += q9(math.abs(err)); sseH += q9(err * err)
        val l2 = TimeSeries.HoltAlpha * vs(i) +
          (1 - TimeSeries.HoltAlpha) * (l + b)
        b = TimeSeries.HoltBeta * (l2 - l) + (1 - TimeSeries.HoltBeta) * b
        l = l2
      }
      val n = (vs.length - 1).toLong
      def m(sae: Long, sse: Long) = (
        math.rint(((sae.toDouble / n) / 1e9) * 1e6) / 1e6,
        math.rint(math.sqrt((sse.toDouble / n) / 1e9) * 1e6) / 1e6)
      val (maeE, rmseE) = m(saeE, sseE)
      assert(got((t, "ewma")) == ((n, maeE, rmseE)),
        s"$t ewma: ${got((t, "ewma"))} vs ($n, $maeE, $rmseE)")
      val (maeH, rmseH) = m(saeH, sseH)
      assert(got((t, "holt")) == ((n, maeH, rmseH)),
        s"$t holt: ${got((t, "holt"))} vs ($n, $maeH, $rmseH)")
    }
    // the two models genuinely differ somewhere (dead-code guard)
    assert(got.exists { case ((_, m), v) =>
      m == "ewma" && got.get((got.keys.head._1, "holt")).exists(_ != v) } ||
      got.keys.map(_._1).toSet.exists(t =>
        got((t, "ewma"))._2 != got((t, "holt"))._2))
  }

  /** Driver-side LTTB on the exact integer grid — the kernel's
    * sequential semantics recomputed independently. */
  private def lttbRef(vs: Seq[Double], t: Int): Seq[Int] = {
    val n = vs.length
    val ys = vs.map(v => math.floor(v * 1e6 + 0.5).toLong)
    if (n <= t) return 1 to n
    val t2 = t - 2
    def bucket(i: Int) = (((i - 2).toLong * t2) / (n - 2)).toInt + 1
    var sel = List(1)
    var anchor = 1
    for (k <- 1 to t2) {
      val cand = (2 to n - 1).filter(bucket(_) == k)
      val (sx, sy, cnt) =
        if (k < t2) {
          val nxt = (2 to n - 1).filter(bucket(_) == k + 1)
          (nxt.map(_.toLong).sum, nxt.map(i => ys(i - 1)).sum, nxt.length.toLong)
        } else (n.toLong, ys(n - 1), 1L)
      val xa = BigInt(anchor); val ya = BigInt(ys(anchor - 1))
      val best = cand.maxBy(i => (
        ((xa * cnt - sx) * (BigInt(ys(i - 1)) - ya)
          - (xa - i) * (BigInt(sy) - ya * cnt)).abs, BigInt(-i)))
      sel = best :: sel
      anchor = best
    }
    ((n :: sel).reverse)
  }

  test("ts19: corpus selection equals a driver-side LTTB recompute; endpoints kept") {
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("v"))
      .orderBy("event_type", "hr")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val series = hourly.groupBy(_._1).view
      .mapValues(_.sortBy(_._2.getTime)).toMap
    val got = TimeSeries.ts19LttbDownsample(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    val exp = series.toSeq.sortBy(_._1).flatMap { case (et, pts) =>
      lttbRef(pts.map(_._3).toSeq, TimeSeries.LttbTarget).zipWithIndex.map {
        case (i, rank) =>
          (et, rank + 1, fmt.format(pts(i - 1)._2), pts(i - 1)._3)
      }
    }
    assert(got.toSeq == exp, "operator selection diverges from reference")
    // structural invariants: per-series size, kept endpoints, time order
    for ((et, pts) <- series) {
      val mine = got.filter(_._1 == et)
      assert(mine.length == math.min(pts.length, TimeSeries.LttbTarget))
      assert(mine.head._3 == fmt.format(pts.head._2), "first point kept")
      assert(mine.last._3 == fmt.format(pts.last._2), "last point kept")
      assert(mine.map(_._3).toSeq == mine.map(_._3).sorted.toSeq,
        "selection is time-ordered")
    }
  }

  test("ts19 keeps a planted spike that every-Nth sampling would drop") {
    import spark.implicits._
    // 200 flat hours with one off-grid spike: the spike's triangle
    // area dominates its bucket, so LTTB must select it
    val spikeAt = 57
    val dense = (0 until 200).map { i =>
      ("a", java.sql.Timestamp.valueOf(
        f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"),
        if (i == spikeAt) 500.0 else 1.0)
    }.toDF("event_type", "hr", "v")
    val rows = TimeSeries.lttbOf(dense).collect()
    assert(rows.length == TimeSeries.LttbTarget)
    assert(rows.exists(_.getAs[Double]("v") == 500.0),
      "the spike must survive downsampling")
    // every-Nth control: stride-10 sampling from hour 0 misses hour 57
    assert((0 until 200 by 10).forall(_ != spikeAt))
    // short series pass through whole
    val short = (0 until 5).map { i =>
      ("b", java.sql.Timestamp.valueOf(f"2024-01-01 0$i:00:00"), i.toDouble)
    }.toDF("event_type", "hr", "v")
    assert(TimeSeries.lttbOf(short).collect().length == 5)
  }

  test("ts9/ts11: int64 quantizers round half-boundaries deterministically and outputs sit on the grid") {
    import spark.implicits._
    // exact half-boundary doubles where round(double, n) is the known
    // cross-engine hazard: floor(x·1eN + 0.5)/1eN is a fixed IEEE
    // expression with one answer
    val got = Seq(0.00005, 0.00015, -0.00005, 1.23455).toDF("x")
      .select(graft.operators.TimeSeries.q4(col("x")).as("q4"),
        graft.operators.TimeSeries.q6(col("x") / 100).as("q6"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got(0)._1 == 0.0001 && got(0)._2 == 1.0e-6) // halves round UP
    assert(got(2)._1 == 0.0) // floor(-0.5+0.5)=0, not -0.0001
    // and the shipped outputs are already ON the quantized grid — no
    // unquantized double escapes the output boundary
    def onGrid(v: Double, scale: Double): Boolean =
      v.isNaN || math.floor(v * scale + 0.5) / scale == v
    graft.operators.TimeSeries.ts9RollingZscore(spark, sf).collect()
      .foreach { r =>
        val i = r.fieldIndex("z")
        if (!r.isNullAt(i)) assert(onGrid(r.getDouble(i), 1e4), s"off-grid z in $r")
      }
    graft.operators.TimeSeries.ts11LinearInterp(spark, sf).collect()
      .foreach { r =>
        val i = r.fieldIndex("value")
        if (!r.isNullAt(i)) assert(onGrid(r.getDouble(i), 1e6), s"off-grid value in $r")
      }
  }
}
