package graft

import graft.operators.Profiling
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** ANALYZE-style profiling operators (SURVEY §2 rows 135-136). */
class ProfilingSpec extends GraftSpec {

  test("prof1: one profile row per column, consistent with direct aggregates") {
    val rows = Profiling.prof1ColumnProfile(spark, sf).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
    val li = Tables.lineitem(spark, sf)
    val n = li.count()
    val qty = rows.find(_.getString(0) == "l_quantity").get
    assert(qty.getLong(1) == n, "n_rows")
    assert(qty.getLong(2) == 0L, "n_nulls (testdata has none)")
    val direct = li.agg(
      countDistinct(col("l_quantity")), min(col("l_quantity")),
      max(col("l_quantity"))).head()
    assert(qty.getLong(3) == direct.getLong(0), "exact NDV")
    assert(qty.getDouble(4) == direct.getDouble(1) &&
      qty.getDouble(5) == direct.getDouble(2), "min/max")
  }

  test("prof1 plan: one single-column scan per profiled column, no Expand") {
    val plan = Profiling.prof1ColumnProfile(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // count node-detail headers only (the tree listing repeats the name)
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 4, s"expected one pruned scan per column, got $scans:\n$plan")
    // every branch reads exactly its own column (parquet pruning)
    assert("ReadSchema: struct<l_\\w+:[a-z]+>".r.findAllIn(plan).size == 4,
      s"each branch must scan a single pruned column:\n$plan")
    // the grouped form replaced the multi-count-distinct Expand
    assert(!plan.contains("Expand"), s"grouped NDV must not Expand:\n$plan")
  }

  test("prof1b: approx NDV within the HLL error envelope of prof1's exact NDV") {
    val exact = Profiling.prof1ColumnProfile(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = Profiling.prof1bApproxProfile(spark, sf).collect()
    assert(approx.length == exact.size)
    for (a <- approx) {
      val e = exact(a.getString(0))
      // HLL++ at the default rsd=0.05: 3σ is 15% relative error
      val (nd, ndExact) = (a.getLong(3), e.getLong(3))
      assert(math.abs(nd - ndExact) <= math.max(1L, (0.15 * ndExact).toLong),
        s"${a.getString(0)}: approx NDV $nd vs exact $ndExact")
      // every non-sketch column is bit-identical to the exact profile
      assert(a.getLong(1) == e.getLong(1) && a.getLong(2) == e.getLong(2),
        "n_rows/n_nulls")
      assert(a.getDouble(4) == e.getDouble(4) && a.getDouble(5) == e.getDouble(5),
        "min/max")
      assert(a.getDouble(6) == e.getDouble(6), "sum")
    }
  }

  test("prof1b plan: one scan and NO Expand — the sketch replaces the ×columns blowup") {
    val plan = Profiling.prof1bApproxProfile(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    assert(!plan.contains("Expand"),
      s"approx profile must aggregate the unexpanded scan:\n$plan")
  }

  test("prof2: buckets partition the table — counts sum to rowcount, bounds covered") {
    val li = Tables.lineitem(spark, sf)
    val rows = Profiling.prof2Histogram(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == li.count(), "bucket counts must sum to n")
    val buckets = rows.map(_.getLong(0)).toSet
    assert(buckets.min >= 0 && buckets.max <= (Profiling.HistBuckets - 1))
    assert(buckets.contains(0L) && buckets.contains(Profiling.HistBuckets - 1L),
      "min and max rows must land in the first and last bucket")
  }

  test("prof2 plan: bounds come in as a broadcast, not a driver collect") {
    val plan = Profiling.prof2Histogram(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"1-row bounds should broadcast:\n$plan")
  }

  test("prof3: skew stats match a driver-side frequency recompute") {
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Profiling.prof3SkewAudit(spark, sf).collect()
    for (c <- Seq("l_orderkey", "l_partkey", "l_suppkey")) {
      val keys = Tables.lineitem(spark, sf).select(c).collect().map(_.getLong(0))
      val freq = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val top = freq.toSeq.sortBy { case (k, n) => (-n, k) }
        .take(Profiling.SkewTopK)
      val rows = got.filter(_.getAs[String]("col_name") == c)
        .sortBy(_.getAs[Int]("rank"))
      assert(rows.length == Profiling.SkewTopK)
      rows.zip(top).zipWithIndex.foreach { case ((r, (k, n)), i) =>
        assert(r.getAs[Int]("rank") == i + 1)
        assert(r.getAs[Long]("key") == k, s"$c rank ${i + 1} key")
        assert(r.getAs[Long]("cnt") == n, s"$c rank ${i + 1} cnt")
        assert(r.getAs[Long]("n_keys") == freq.size.toLong)
        assert(r.getAs[Long]("max_cnt") == freq.values.max)
        assert(r.getAs[Double]("skew_ratio") ==
          r6(freq.values.max.toDouble * freq.size / keys.length))
      }
    }
  }

  test("prof4 join cardinalities equal a driver-side count-product recompute") {
    val rows = Profiling.prof4JoinCardinality(spark, sf).collect()
      .map(r => r.getAs[String]("join_name") -> r).toMap
    assert(rows.keySet == Set("lineitem_orders", "orders_customer",
      "lineitem_part"))
    // recompute lineitem⋈orders exactly
    val nl = Tables.lineitem(spark, sf).groupBy(col("l_orderkey")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nr = Tables.orders(spark, sf).groupBy(col("o_orderkey")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shared = nl.keySet intersect nr.keySet
    val r = rows("lineitem_orders")
    assert(r.getAs[Long]("n_join_keys") == shared.size)
    assert(r.getAs[Long]("join_rows") ==
      shared.toSeq.map(k => nl(k) * nr(k)).sum)
    assert(r.getAs[Long]("max_key_pairs") ==
      shared.toSeq.map(k => nl(k) * nr(k)).max)
    assert(r.getAs[Long]("left_rows") == nl.values.sum)
    assert(r.getAs[Long]("right_rows") == nr.values.sum)
    val amp = r.getAs[Double]("amplification")
    assert(amp > 0 && math.abs(amp -
      r.getAs[Long]("join_rows").toDouble / r.getAs[Long]("left_rows")) < 1e-5)
  }

  test("prof6 FD verdicts match a driver-side distinct-count recompute") {
    val rows = Profiling.prof6FunctionalDependency(spark, sf).collect()
      .map(r => r.getAs[String]("fd") -> r).toMap
    assert(rows.keySet == Set("nation.n_nationkey->n_regionkey",
      "orders.o_orderkey->o_custkey", "lineitem.l_partkey->l_suppkey",
      "events.user_id->event_type"))
    // structural FDs must hold; recompute the lineitem candidate exactly
    assert(rows("nation.n_nationkey->n_regionkey").getAs[Int]("holds") == 1)
    assert(rows("orders.o_orderkey->o_custkey").getAs[Int]("holds") == 1)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val perX = li.distinct.groupBy(_._1).map { case (_, g) => g.length }
    val r = rows("lineitem.l_partkey->l_suppkey")
    assert(r.getAs[Long]("n_lhs") == perX.size)
    assert(r.getAs[Long]("n_pairs") == perX.sum)
    assert(r.getAs[Long]("n_violating_lhs") == perX.count(_ > 1))
    assert(r.getAs[Long]("max_y_per_x") == perX.max)
    assert(r.getAs[Int]("holds") == (if (perX.count(_ > 1) == 0) 1 else 0))
    rows.values.foreach { row =>
      val rate = row.getAs[Double]("violation_rate")
      assert(rate >= 0 && rate <= 1)
      assert((row.getAs[Int]("holds") == 1) ==
        (row.getAs[Long]("n_violating_lhs") == 0L))
    }
  }

  test("prof5 MI and entropies match a driver-side contingency recompute") {
    val rows = Profiling.prof5MutualInfo(spark, sf).collect()
      .map(r => r.getAs[String]("pair_name") -> r).toMap
    assert(rows.keySet == Set("orders.o_orderpriority_o_orderstatus",
      "lineitem.l_returnflag_l_linestatus"))
    val cells = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"), col("o_orderstatus")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val n = cells.values.sum.toDouble
    val cx = cells.groupBy(_._1._1).map { case (k, g) => k -> g.values.sum }
    val cy = cells.groupBy(_._1._2).map { case (k, g) => k -> g.values.sum }
    val mi = cells.map { case ((x, y), c) =>
      (c / n) * math.log(c * n / (cx(x).toDouble * cy(y)))
    }.sum
    def ent(m: Map[String, Long]) =
      -m.values.map(c => (c / n) * math.log(c / n)).sum
    val r = rows("orders.o_orderpriority_o_orderstatus")
    assert(r.getAs[Long]("n_rows") == n.toLong)
    assert(r.getAs[Long]("nx") == cx.size && r.getAs[Long]("ny") == cy.size)
    assert(r.getAs[Long]("n_cells") == cells.size)
    assert(math.abs(r.getAs[Double]("mi") - mi) < 2e-6, s"mi=$mi")
    assert(math.abs(r.getAs[Double]("h_x") - ent(cx)) < 2e-6)
    assert(math.abs(r.getAs[Double]("h_y") - ent(cy)) < 2e-6)
    // information-theory invariants: 0 ≤ MI ≤ min(H_x, H_y); NMI in [0,1]
    rows.values.foreach { row =>
      val (m, hx, hy) = (row.getAs[Double]("mi"),
        row.getAs[Double]("h_x"), row.getAs[Double]("h_y"))
      assert(m >= -1e-6 && m <= math.min(hx, hy) + 1e-6)
      val nmi = row.getAs[Double]("nmi")
      assert(nmi >= -1e-6 && nmi <= 1 + 1e-6)
    }
  }

  test("prof7: digit shares sum to 1, expectations are Benford's law, χ² terms ≥ 0") {
    val rows = graft.operators.Profiling.prof7Benford(spark, sf).collect()
    val digits = rows.map(_.getAs[Int]("digit")).toSeq
    assert(digits == digits.sorted && digits.forall(d => d >= 1 && d <= 9))
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.lineitem(spark, sf).count())
    rows.foreach { r =>
      val d = r.getAs[Int]("digit")
      assert(math.abs(r.getAs[Double]("expected_p") -
        math.log10(1.0 + 1.0 / d)) < 1e-6)
      assert(r.getAs[Double]("chi2_term") >= 0.0)
    }
  }

  test("prof8: Pearson matrix matches Spark's own corr (cents are lossless on money columns)") {
    val rows = graft.operators.Profiling.prof8NumericCorr(spark, sf).collect()
    assert(rows.length == 6) // C(4,2) measure-column pairs
    rows.foreach { r =>
      val v = r.getAs[Double]("pearson_r")
      assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, r.toString)
    }
    val got = rows.find(_.getAs[String]("pair_name") ==
      "l_quantity_l_extendedprice").get.getAs[Double]("pearson_r")
    val expected = Tables.lineitem(spark, sf)
      .stat.corr("l_quantity", "l_extendedprice")
    assert(math.abs(got - expected) < 1e-6, s"$got vs $expected")
  }

  test("prof9: bucketed gap sweep == direct sorted-key gap scan") {
    val keys = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey")).distinct()
      .collect().map(_.getLong(0)).sorted
    val direct = keys.sliding(2).collect {
      case Array(a, b) if b - a > 1 => (a + 1, b - 1, b - a - 1)
    }.toSeq.sortBy(g => (-g._3, g._1)).take(Profiling.GapTopK)
    val rows = Profiling.prof9IdGaps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == direct,
      "in-bucket + cross-bucket gaps must equal the global lead scan")
    assert(rows.forall(g => g._3 == g._2 - g._1 + 1 && g._3 >= 1))
  }

  test("prof10: entropy matches a driver-side fold and respects its bounds") {
    val rows = Profiling.prof10Entropy(spark, sf).collect()
    assert(rows.length == Profiling.EntropyCols.size)
    for ((t, c) <- Profiling.EntropyCols) {
      val r = rows.find(_.getString(0) == s"$t.$c").get
      val counts = Tables.byName(spark, sf, t)
        .groupBy(col(c)).count().collect().map(_.getLong(1))
      val n = counts.sum.toDouble
      val raw = -counts.map { cnt =>
        val p = cnt / n
        math.floor(p * math.log(p) * 1e9 + 0.5)
      }.sum / 1e9
      val ent = BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(r.getAs[Long]("n_rows") == n.toLong)
      assert(r.getAs[Long]("n_distinct") == counts.length)
      assert(r.getAs[Double]("entropy") == ent, s"$t.$c")
      val norm = r.getAs[Double]("norm_entropy")
      assert(norm >= 0.0 && norm <= 1.0 + 1e-9,
        s"$t.$c normalized entropy out of [0,1]: $norm")
    }
  }

  test("prof11: the grouped-rank fan-out is engine-only — any fan-out, identical output") {
    // the property that makes rankFanoutFor free to grow with the
    // data (r13 ask #1): the approx cuts only BUCKET the rank
    // computation; they can never move a result
    val x = Tables.lineitem(spark, sf).select(
      col("l_extendedprice").as("v"),
      col("l_orderkey").as("tb1"), col("l_linenumber").as("tb2"))
    val n = x.count()
    val ref = graft.operators.Profiling.prof11Core(spark, x, n, 32)
      .collect().map(_.mkString("|")).toSeq
    for (fanout <- Seq(8, 97)) {
      val got = graft.operators.Profiling.prof11Core(spark, x, n, fanout)
        .collect().map(_.mkString("|")).toSeq
      assert(got == ref, s"fan-out $fanout moved the histogram")
    }
  }

  test("prof11: the footer row count that sizes the fan-out equals count(*)") {
    // r16 (verdict ask #5): the sizing count reads parquet footers,
    // not a data scan — exact by the parquet spec, and it must equal
    // the engine's own count of the unfiltered table, on the corpus
    // AND on a multi-file fragmented layout
    assert(graft.sources.Sources.parquetRowCount(spark, s"$sf/lineitem.parquet")
      == Tables.lineitem(spark, sf).count())
    val frag = s"${graft.TmpRoots.perProcess("graft_profiling_spec")}/frag"
    Tables.events(spark, sf).select("event_id")
      .repartition(5).write.mode("overwrite").parquet(frag)
    assert(graft.sources.Sources.parquetRowCount(spark, frag)
      == Tables.events(spark, sf).count())
  }

  test("prof11: equi-depth buckets hold ~equal mass, tile the value range, conserve rows") {
    val rows = Profiling.prof11DepthHistogram(spark, sf).collect()
      .sortBy(_.getAs[Int]("bucket"))
    assert(rows.length == Profiling.DepthBuckets)
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total, "row mass conserved")
    // equi-depth: every bucket within 2x of the ideal n/B (value ties
    // at a cut can shift mass across the boundary, exact equality is
    // not the contract)
    val ideal = total.toDouble / Profiling.DepthBuckets
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(n > 0.5 * ideal && n < 2.0 * ideal,
        s"bucket ${r.getAs[Int]("bucket")} holds $n vs ideal $ideal")
    }
    // buckets tile: each bucket's range sits at or above the previous
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Double]("lo") >= a.getAs[Double]("hi") - 1e-9,
          s"overlapping buckets: $a then $b")
      case _ => ()
    }
    rows.foreach(r => assert(r.getAs[Long]("ndv") >= 1L &&
      r.getAs[Double]("lo") <= r.getAs[Double]("hi")))
  }

  test("prof10 counts NULL as a value on a nullable profiled column") {
    import spark.implicits._
    val dir = tempDir("prof10_null")
    // minimal corpus: only the profiled columns are read
    Seq("A", "B", "A").toDF("c_mktsegment").write.parquet(s"$dir/customer.parquet")
    Seq("P1").toDF("o_orderpriority").write.parquet(s"$dir/orders.parquet")
    Seq("R").toDF("l_returnflag").write.parquet(s"$dir/lineitem.parquet")
    Seq(Some("en"), Some("de"), None, None)
      .toDF("lang").write.parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Profiling.prof10Entropy(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val langRow = rows("documents.lang")
    assert(langRow.getLong(langRow.fieldIndex("n_distinct")) == 3L,
      "NULL must count as a value: {en, de, NULL} -> ndv 3")
    assert(langRow.getLong(langRow.fieldIndex("n_rows")) == 4L)
    // and the oracle's ndv expression carries the matching NULL term
    val sql = graft.operators.Profiling.oracles("prof10_entropy")
    assert(sql.contains("MAX(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)"),
      "prof10 oracle must add the NULL indicator to COUNT(DISTINCT)")
  }

  test("prof11's sketch cuts are an explicit materialization, not exchange reuse") {
    val x = Tables.lineitem(spark, sf).select(col("l_extendedprice").as("v"))
    val pinned = graft.operators.Profiling.prof11PinnedCuts(x, 32)
    // localCheckpoint rewrites the plan to a materialized RDD scan:
    // every consumer reads ONE committed sketch draw even with
    // exchange reuse disabled or AQE replanning the consumers apart
    assert(pinned.queryExecution.analyzed.getClass.getSimpleName
      .contains("LogicalRDD"),
      s"pinned cuts must scan a materialized RDD, got: ${pinned.queryExecution.analyzed}")
    val cuts = pinned.collect()(0).getSeq[Double](0)
    assert(cuts.length == 31 && cuts == cuts.sorted)
  }
}
