package graft

import graft.operators.Mining
import org.apache.spark.sql.functions._

/** Market-basket pair mining (row 152) and MAD outlier detection
  * (row 153). b1 is recomputed brute-force from the collected
  * lineitem table; e6's robustness claim — the estimator an injected
  * outlier cannot drag — is tested by injecting one.
  */
class MiningSpec extends GraftSpec {

  test("b1 pair counts match a driver-side brute-force recompute") {
    val baskets = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val counts = scala.collection.mutable.Map.empty[(Long, Long), Int]
    baskets.values.foreach { parts =>
      for (i <- parts.indices; j <- i + 1 until parts.length)
        counts((parts(i), parts(j))) = counts.getOrElse((parts(i), parts(j)), 0) + 1
    }
    val want = counts.toSeq.filter(_._2 >= Mining.BasketMinSupport)
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(Mining.BasketTopK)
    val got = Mining.b1BasketPairs(spark, sf).collect()
      .map(r => ((r.getAs[Long]("part_a"), r.getAs[Long]("part_b")),
        r.getAs[Long]("n_orders").toInt)).toSeq
    assert(got == want, s"got $got\nwant $want")
  }

  test("b1 plan has no self-join and tops out via TakeOrderedAndProject") {
    val plan = Mining.b1BasketPairs(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"pairs must come from in-row generation, not a self-join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not be a global sort:\n$plan")
  }

  test("e6 median/MAD shrug off an injected extreme outlier and flag it") {
    import spark.implicits._
    val base = (1 to 1000).map(i => ("t", i.toDouble % 100))
    val clean = Mining.madOutliers(base.toDF("event_type", "value")).collect().head
    val dirty = Mining.madOutliers((base :+ ("t", 1e9))
      .toDF("event_type", "value")).collect().head
    // robust center/scale move by at most one rank step
    assert(math.abs(clean.getAs[Double]("med") - dirty.getAs[Double]("med")) <= 1.0)
    assert(math.abs(clean.getAs[Double]("mad") - dirty.getAs[Double]("mad")) <= 1.0)
    // and the injected point is flagged
    assert(dirty.getAs[Long]("n_outliers") == clean.getAs[Long]("n_outliers") + 1)
  }

  test("exactQuantiles is bit-equal to the built-in percentile aggregate") {
    val li = Tables.lineitem(spark, sf).select(col("l_extendedprice").as("v"))
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val builtin = li.agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
      .collect()(0).getSeq[Double](0).toArray
    val mine = Mining.exactQuantiles(li, "v", qs)
    assert(java.util.Arrays.equals(builtin, mine),
      s"${builtin.mkString(",")} != ${mine.mkString(",")}")
    // and on a skewed frame (hot bucket) + exact-rank boundary (q=0.5
    // over an even count interpolates; over odd hits a row exactly)
    import spark.implicits._
    val skew = (Seq.fill(5000)(7.0) ++ (1 to 999).map(_.toDouble))
      .toDF("v")
    val b2 = skew.agg(expr("percentile(v, array(0.0,0.5,0.9,1.0))"))
      .collect()(0).getSeq[Double](0).toArray
    val m2 = Mining.exactQuantiles(skew, "v", Seq(0.0, 0.5, 0.9, 1.0))
    assert(java.util.Arrays.equals(b2, m2),
      s"skewed: ${b2.mkString(",")} != ${m2.mkString(",")}")
  }

  test("exactQuantiles hot-bucket recursion: 99%-duplicate column, every fetch under the cap") {
    import spark.implicits._
    // 99% of rows on one value (7.0): the bucket holding 7.0 blows
    // any per-bucket fetch budget, so the r13-ask-#4 recursion must
    // re-split it instead of collecting it
    val nHot = 99000
    val skew = (Seq.fill(nHot)(7.0) ++ (1 to 1000).map(_ / 100.0)).toDF("v")
    val qs = Seq(0.0, 0.005, 0.5, 0.9, 0.995, 1.0)
    val builtin = skew.agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
      .collect()(0).getSeq[Double](0).toArray
    val fetches = collection.mutable.ArrayBuffer.empty[Long]
    val cap = 2000L // far below the hot value's 99k rows
    val mine = Mining.exactQuantiles(skew, "v", qs, cap = cap,
      fetchProbe = fetches += _)
    assert(java.util.Arrays.equals(builtin, mine),
      s"${builtin.mkString(",")} != ${mine.mkString(",")}")
    // the recursion bound: NO driver collect exceeded the cap even
    // though one value holds 99% of the rows
    assert(fetches.nonEmpty && fetches.forall(_ <= cap),
      s"fetch over cap: ${fetches.mkString(",")}")
    // and the default-cap path still answers identically
    assert(java.util.Arrays.equals(
      Mining.exactQuantiles(skew, "v", qs), mine))
  }

  test("groupedExactQuantiles matches the built-in per-group percentile") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val builtin = li.groupBy(col("l_returnflag"))
      .agg(expr(s"percentile(l_extendedprice, array(${qs.mkString(",")}))")
        .as("ps"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val mine = Mining.groupedExactQuantiles(li, "l_returnflag",
      "l_extendedprice", qs)
    assert(mine.keySet == builtin.keySet)
    mine.foreach { case (k, a) =>
      assert(java.util.Arrays.equals(a, builtin(k)),
        s"$k: ${a.mkString(",")} != ${builtin(k).mkString(",")}")
    }
  }

  test("f1 bins are equal-frequency (±1 rank step) and ordered") {
    val rows = Mining.f1FeatureBins(spark, sf).collect()
    assert(rows.length == Mining.NumBins)
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    val target = total.toDouble / Mining.NumBins
    rows.foreach { r =>
      // exact deciles put n within a tie-group of the target
      assert(math.abs(r.getAs[Long]("n") - target) <= target * 0.02,
        s"bin ${r.getAs[Int]("bin")} has ${r.getAs[Long]("n")} rows vs ~$target")
    }
    // bins tile the value range in order: lo/hi non-overlapping
    val sorted = rows.sortBy(_.getAs[Int]("bin"))
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
    }
  }

  test("f1b approx bins stay equal-frequency within the sketch's rank-error envelope") {
    val rows = Mining.f1bApproxBins(spark, sf).collect()
    assert(rows.length == Mining.NumBins)
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    val target = total.toDouble / Mining.NumBins
    // accuracy=10000 bounds rank error at 1/10000 of total — far under
    // one decile; allow a generous 10% envelope so the spec never
    // flakes on sketch internals
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("n") - target) <= target * 0.10,
        s"bin ${r.getAs[Int]("bin")} has ${r.getAs[Long]("n")} rows vs ~$target")
    }
    val sorted = rows.sortBy(_.getAs[Int]("bin"))
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
    }
    // boundaries agree with the exact cut points to sketch precision
    val exact = Mining.f1FeatureBins(spark, sf).collect()
      .sortBy(_.getAs[Int]("bin")).map(_.getAs[Double]("lo"))
    val approx = sorted.map(_.getAs[Double]("lo"))
    exact.zip(approx).drop(1).foreach { case (e, a) =>
      assert(math.abs(e - a) <= math.max(1.0, e * 0.02),
        s"boundary drift: exact=$e approx=$a")
    }
  }

  test("f2 scaled columns audit as standardized: z-mean ~0, z-std ~1, minmax spans [0,1]") {
    val rows = Mining.f2Standardize(spark, sf).collect()
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    // per-flag means scatter around 0 within a few std errors; the
    // global min-max extremes land exactly on 0 and 1 in SOME flag
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("z_mean")) < 0.5)
      assert(r.getAs[Double]("z_std") > 0.5 && r.getAs[Double]("z_std") < 2.0)
      assert(r.getAs[Double]("mm_min") >= 0.0 && r.getAs[Double]("mm_max") <= 1.0)
    }
    assert(rows.exists(_.getAs[Double]("mm_min") == 0.0))
    assert(rows.exists(_.getAs[Double]("mm_max") == 1.0))
  }

  test("sky1 frontier matches a brute-force strict-dominance recompute") {
    val parts = Tables.part(spark, sf)
      .select("p_partkey", "p_brand", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val want = parts.filter { case (_, brand, price, sz) =>
      !parts.exists { case (_, b2, p2, s2) =>
        b2 == brand && p2 <= price && s2 >= sz && (p2 < price || s2 > sz)
      }
    }.sortBy(p => (p._2, p._3, p._1)).toSeq
    val got = Mining.sky1ParetoFront(spark, sf).collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[String]("p_brand"),
        r.getAs[Double]("p_retailprice"), r.getAs[Int]("p_size"))).toSeq
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
    assert(got.nonEmpty)
  }

  test("sky1 frontier rows never dominate each other within a brand") {
    val rows = Mining.sky1ParetoFront(spark, sf).collect()
      .map(r => (r.getAs[String]("p_brand"), r.getAs[Double]("p_retailprice"),
        r.getAs[Int]("p_size")))
    rows.groupBy(_._1).values.foreach { g =>
      for ((_, pa, sa) <- g; (_, pb, sb) <- g)
        assert(!(pa <= pb && sa >= sb && (pa < pb || sa > sb)),
          s"dominance inside the frontier: ($pa,$sa) over ($pb,$sb)")
    }
  }

  test("f3 winsorized means and clip counts match a driver-side recompute") {
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // interpolated quantile, the percentile/quantile_cont definition
    def qtl(sorted: Array[Double], q: Double): Double = {
      val pos = q * (sorted.length - 1)
      val lo = pos.toInt
      if (lo == sorted.length - 1) sorted(lo)
      else sorted(lo) + (pos - lo) * (sorted(lo + 1) - sorted(lo))
    }
    val byType = Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
    val got = Mining.f3Winsorize(spark, sf).collect()
    assert(got.map(_.getAs[String]("event_type")).toSet == byType.keySet)
    got.foreach { r =>
      val vs = byType(r.getAs[String]("event_type")).map(_._2)
      val sorted = vs.sorted
      val lo = r6(qtl(sorted, Mining.WinsorLo))
      val hi = r6(qtl(sorted, Mining.WinsorHi))
      assert(r.getAs[Double]("lo_cut") == lo)
      assert(r.getAs[Double]("hi_cut") == hi)
      assert(r.getAs[Long]("n") == vs.length.toLong)
      assert(r.getAs[Long]("n_clip_lo") == vs.count(_ < lo).toLong)
      assert(r.getAs[Long]("n_clip_hi") == vs.count(_ > hi).toLong)
      // winsorized mean lands between the cuts, raw mean is conserved
      assert(r.getAs[Double]("mean_winsor") >= lo - 1e-9)
      assert(r.getAs[Double]("mean_winsor") <= hi + 1e-9)
      assert(math.abs(r.getAs[Double]("mean_raw") - vs.sum / vs.length) < 1e-4)
    }
  }

  test("e6 covers every event type with n summing to the table size") {
    val out = Mining.e6MadOutliers(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    out.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(r.getAs[Long]("n_outliers") >= 0L)
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n"))
    }
  }

  test("b2 rule confidence and lift match a driver-side basket recompute") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).map { case (o, xs) => o -> xs.map(_._2).toSet }
    val itemSup = li.groupBy(_._2).map { case (p, xs) => p -> xs.size }
    val nBaskets = byOrder.size
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Mining.b2AssociationRules(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= Mining.RuleTopK)
    rows.foreach { r =>
      val a = r.getAs[Long]("antecedent"); val b = r.getAs[Long]("consequent")
      val nxy = byOrder.valuesIterator.count(s0 => s0(a) && s0(b))
      assert(r.getAs[Long]("n_xy") == nxy, s"support($a->$b)")
      assert(nxy >= Mining.BasketMinSupport)
      val conf = r6(nxy.toDouble / itemSup(a))
      assert(math.abs(r.getAs[Double]("confidence") - conf) < 1e-9)
      assert(conf >= Mining.RuleMinConf)
      val lift = r6(nBaskets.toDouble * nxy / (itemSup(a).toDouble * itemSup(b)))
      assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-9)
    }
    // ranked by lift desc with key tie-break
    val ks = rows.map(r => (r.getAs[Double]("lift"),
      r.getAs[Long]("antecedent"), r.getAs[Long]("consequent")))
    assert(ks.sliding(2).forall { case Array(x, y) =>
      x._1 > y._1 || (x._1 == y._1 &&
        (x._2 < y._2 || (x._2 == y._2 && x._3 < y._3)))
    })
  }

  test("f4 target encodings match a driver-side recompute and shrink correctly") {
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val raw = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => r.getString(0) ->
        BigDecimal(r.getAs[Double]("value"))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
    val gmean = (raw.map(_._2).sum / raw.length).toDouble
    val byType = raw.groupBy(_._1)
    val rows = Mining.f4TargetEncode(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet == byType.keySet)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val vs = byType(t).map(_._2)
      val n = vs.length
      val sv = vs.sum
      assert(r.getAs[Long]("n") == n)
      val rawMean = r6((sv / n).toDouble)
      assert(r.getAs[Double]("raw_mean") == rawMean, s"$t raw_mean")
      val enc = r6((sv.toDouble + Mining.TargetEncodeM * gmean) /
        (n + Mining.TargetEncodeM))
      assert(math.abs(r.getAs[Double]("encoded") - enc) < 1e-9, s"$t encoded")
      // shrinkage: encoded lies strictly between the raw mean and the
      // global mean (or equals both when they coincide)
      val lo = math.min(r.getAs[Double]("raw_mean"), r6(gmean))
      val hi = math.max(r.getAs[Double]("raw_mean"), r6(gmean))
      assert(r.getAs[Double]("encoded") >= lo - 1e-9 &&
        r.getAs[Double]("encoded") <= hi + 1e-9, s"$t shrink range")
      // LOO extremes: dropping the max pulls the mean down the most
      val looMin = r6(((sv - vs.max) / (n - 1)).toDouble)
      val looMax = r6(((sv - vs.min) / (n - 1)).toDouble)
      assert(r.getAs[Double]("loo_min") == looMin, s"$t loo_min")
      assert(r.getAs[Double]("loo_max") == looMax, s"$t loo_max")
      assert(looMin <= r.getAs[Double]("raw_mean") + 1e-9 &&
        r.getAs[Double]("raw_mean") <= looMax + 1e-9)
    }
  }

  test("b3: chained basket increments equal a rebuild — including a pair the batch pushes over the floor") {
    import spark.implicits._
    def op(rows: (Long, Long)*) = rows.toDF("l_orderkey", "l_partkey")
    // base: pair (1,2) seen once — BELOW the read floor of 2
    val base = op(100L -> 1L, 100L -> 2L, 101L -> 1L)
    // b1 adds order 200 carrying (1,2) again -> support 2 crosses the
    // floor only because the index stored the sub-floor base count
    val batch1 = op(200L -> 1L, 200L -> 2L)
    // b2 adds a fresh pair (3,4) once (stays sub-floor)
    val batch2 = op(300L -> 3L, 300L -> 4L)
    val root = tempDir("b3_spec")
    Mining.basketIndex.publishBase(spark, root,
      Mining.basketOutputs(spark, base))
    assert(Mining.basketIndex.applyBatch(spark, root, batch1, 1L))
    assert(Mining.basketIndex.applyBatch(spark, root, batch2, 2L))
    val all = op((base.collect() ++ batch1.collect() ++ batch2.collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toIndexedSeq: _*)
    def sets(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.mkString("|")).toSet
    for (name <- Seq("pair_support", "item_support", "totals")) {
      val want = Mining.basketOutputs(spark, all)
        .find(_._1 == name).get._2
      assert(sets(graft.sources.AtomicPublish.readOutput(spark, root, name))
        == sets(want), s"$name diverged after chained increments")
    }
    // the floor-crossing pair is now visible at the read floor
    val pairs = graft.sources.AtomicPublish
      .readOutput(spark, root, "pair_support")
      .filter(col("n_xy") >= Mining.BasketMinSupport).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs((1L << 32) | 2L) == 2L, pairs.toString)
    // replayed id and empty batch: refused, no version churn
    val before = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(!Mining.basketIndex.applyBatch(spark, root, batch1, 1L))
    assert(!Mining.basketIndex.applyBatch(spark, root, op(), 99L))
    assert(graft.sources.AtomicPublish.currentVersion(spark, root) == before)
  }

  test("streaming basket maintenance: three micro-batches equal the rebuild supports") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("b3_stream")
    val ckpt = tempDir("b3_sckpt")
    val base = Seq(100L -> 1L, 100L -> 2L).toDF("l_orderkey", "l_partkey")
    Mining.basketIndex.publishBase(spark, root,
      Mining.basketOutputs(spark, base))
    val input = MemoryStream[(Long, Long)]
    val q = Mining.basketIndex.streamingMaintenance(
      input.toDF().toDF("l_orderkey", "l_partkey"), root, ckpt)
    try {
      for (b <- Seq(Seq(200L -> 1L, 200L -> 2L),
          Seq(300L -> 2L, 300L -> 3L), Seq(400L -> 1L))) {
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val all = (Seq(100L -> 1L, 100L -> 2L, 200L -> 1L, 200L -> 2L,
      300L -> 2L, 300L -> 3L, 400L -> 1L)).toDF("l_orderkey", "l_partkey")
    def sets(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.mkString("|")).toSet
    for (name <- Seq("pair_support", "item_support", "totals")) {
      val want = Mining.basketOutputs(spark, all).find(_._1 == name).get._2
      assert(sets(graft.sources.AtomicPublish.readOutput(spark, root, name))
        == sets(want), s"$name diverged after streamed increments")
    }
    assert(graft.sources.AtomicPublish.currentVersion(spark, root)
      .contains("v4"))
  }

  test("f5: hashed-feature mass conserves tokens; buckets bounded; stable rerun") {
    val rows = Mining.f5FeatureHashing(spark, sf).collect()
    assert(rows.forall(r => r.getLong(1) >= 0 &&
      r.getLong(1) < Mining.HashFeatureBuckets))
    val totalTokens = Tables.documents(spark, sf)
      .agg(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == totalTokens,
      "every token lands in exactly one bucket")
    val again = Mining.f5FeatureHashing(spark, sf).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      again.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq,
      "md5 bucketing is run-stable")
  }

  test("b5: affinity top-K matches a driver-side jaccard recompute over baskets") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val itemSup = li.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val pairSup = li.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val ps = xs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expected = pairSup.toSeq
      .filter(_._2 >= Mining.BasketMinSupport)
      .map { case ((a, b), nxy) =>
        val j = BigDecimal(nxy.toDouble / (itemSup(a) + itemSup(b) - nxy))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (a, b, nxy, j)
      }
      .sortBy(t => (-t._4, t._1, t._2)).take(Mining.AffinityTopK)
    val got = Mining.b5BasketAffinity(spark, sf).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("n_xy"), r.getAs[Double]("jaccard")))
    assert(got.toSeq == expected)
    assert(got.forall(t => t._4 > 0.0 && t._4 <= 1.0))
  }

  test("a19: MDE sizing equals a driver recompute from exact integer moments") {
    val rows = Mining.a19MdePower(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val ev = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val zsum = Mining.MdeZalpha + Mining.MdeZbeta
    for ((et, n, m, mean, sd, mdeAbs, mdeRel) <- rows) {
      val ys = ev.filter(_._1 == et)
        .map(e => BigInt(math.floor(e._2 * 1e6 + 0.5).toLong))
      assert(n == ys.length.toLong && m == n / 2)
      val sy = ys.sum; val syy = ys.map(y => y * y).sum
      val nD = n.toDouble
      val expMean = (sy.toDouble / 1e6) / nD
      val expVar = ((nD * syy.toDouble - sy.toDouble * sy.toDouble) /
        (nD * (nD - 1.0))) / 1e12
      val expMde = zsum * math.sqrt(2.0 * expVar / m.toDouble)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(mean == r6(expMean), s"$et mean")
      assert(sd == r6(math.sqrt(expVar)), s"$et sd")
      assert(mdeAbs == r6(expMde), s"$et mde_abs")
      assert(mdeRel == r6(expMde / expMean), s"$et mde_rel")
      // the sizing is meaningful: positive, and a sub-100% relative
      // effect is detectable at this traffic
      assert(mdeAbs > 0 && mdeRel > 0 && mdeRel < 1.0)
    }
    // more traffic => smaller detectable effect on same-scale variance:
    // verify the 1/sqrt(m) law by recomputing one type at half its n
    val (et0, n0, m0, _, sd0, mde0, _) = rows.maxBy(_._2)
    val halfMde = (Mining.MdeZalpha + Mining.MdeZbeta) *
      math.sqrt(2.0 * sd0 * sd0 / (m0 / 2).toDouble)
    assert(halfMde > mde0, "halving traffic must raise the MDE")
  }

  test("f4: a singleton category emits NULL LOO bounds (the 0/0 cross-engine guard)") {
    import spark.implicits._
    val dir = tempDir("f4_singleton")
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "lonely", 5.0, ""),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L, "popular", 1.0, ""),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 2L, "popular", 3.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = graft.operators.Mining.f4TargetEncode(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("lonely").isNullAt(rows("lonely").fieldIndex("loo_min")))
    assert(rows("lonely").isNullAt(rows("lonely").fieldIndex("loo_max")))
    assert(!rows("popular").isNullAt(rows("popular").fieldIndex("loo_min")))
  }
}
