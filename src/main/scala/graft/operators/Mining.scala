package graft.operators

import graft.Tables
import graft.sources.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pattern-mining analytics (SURVEY §2 rows 152-153): market-basket
  * co-occurrence over orders and robust (median/MAD) outlier
  * detection over the event stream — the two classic "find structure"
  * queries a warehouse user runs after the core aggregates.
  */
object Mining {

  val BasketMinSupport = 2 // orders a pair must co-occur in
  val BasketTopK = 20

  /** b1: market-basket pair mining — the top co-occurring part pairs
    * across orders (the pair-counting core of frequent-itemset
    * mining, Agrawal & Srikant 1994's A-priori first pass). NOT a
    * self-join: each order's distinct part set is collected in-group
    * (basket size is bounded — TPC-H orders hold ≤7 lines, and real
    * baskets are small constants), pairs are generated in-row from
    * the sorted array, and only (pair, 1) rows shuffle to the count.
    * Two key-partitioned shuffles total (orderkey, then pair) versus
    * the self-join's three; pair fan-out is quadratic only in the
    * bounded basket size, never in the corpus. Deterministic total
    * order (count desc, part_a, part_b) compiles to
    * TakeOrderedAndProject — no global sort. */
  /** Durable basket-mining index: per-pair co-occurrence supports
    * (support ≥ [[BasketMinSupport]] — the floor that bounds pair
    * mass as the corpus grows), per-item supports, and the basket
    * total, published ONCE per corpus fingerprint. THREE operators
    * consume exactly these frames — b1's top pairs, b2's association
    * rules, g3's co-purchase triangles — and before this each re-ran
    * the basket collect + in-row pair generation + pair shuffle per
    * query. At 100 TB co-occurrence counting is an ingest artifact
    * (the shingle-overlaps argument on the mining plane); the
    * analytics — ranking, rule scoring, triangle closure — stay
    * in-query. Pair generation itself keeps b1's discipline: in-row
    * ordered pairs from the compiled PackedPairs kernel, the pair
    * packed into ONE int64 (a<<32 | b) through the count shuffle —
    * half the key bytes, single-word hash/compare in the map-side
    * combine; valid while part ids < 2^31. */
  /** b3's deterministic ingest split: batch = l_orderkey %
    * [[BasketBatchMod]] == 0 — an ORDER arrives with all its lines
    * (g8's grain on the basket plane), so the batch's pair
    * contribution is derivable from the batch rows alone. */
  val BasketBatchMod = 4

  // v3 (v2 added the increment path; v3 adds the touched-keys output
  // and support-sorted pair layout): INCREMENTALLY MAINTAINED, and
  // pair supports are stored UNFILTERED — supports only GROW under
  // ingest, so a pair below the read-time floor can cross it later,
  // and the increment must know its base count (the d13 capped-df
  // argument, mirrored on a min-floor: keep the row, filter at read).
  // The salt bump forces stale-recipe rebuilds.
  private[graft] val basketIndex = Artifact.incremental("basket_index", "lineitem")(
    s"basket-v3;incr=mod$BasketBatchMod;minsup=read-time;touched;sort=n_xy;pack=int64")(
    basketIncrement)

  /** The three basket outputs from an arbitrary (l_orderkey,
    * l_partkey) DISTINCT frame — v1 of the root and the spec's ground
    * truth. Pair supports UNFILTERED (see [[basketIndex]]). */
  private[graft] def basketOutputs(s: SparkSession,
      op: DataFrame): Seq[(String, DataFrame)] = {
    import s.implicits._
    Seq(
      // sorted by support DESC at publish: parquet row-group min/max
      // on n_xy lets the read-time floor PRUNE the (majority) tail of
      // support-1 pairs instead of scanning it — the k8 z-order
      // argument at one-column grain
      "pair_support" -> pairSupports(op).orderBy(col("n_xy").desc),
      "item_support" -> op.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_item")),
      "totals" -> op.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_baskets")),
      // the batch's own pair keys (empty at v1): the ingest report
      // (b3) reads committed state ONLY instead of re-deriving the
      // batch pair set from the fact table per query
      "touched" -> Seq.empty[Long].toDF("pk"))
  }

  /** In-row packed-pair supports of an order/item frame (b1's
    * discipline: compiled PackedPairs kernel, int64 pair key). */
  private[graft] def pairSupports(op: DataFrame): DataFrame =
    op.groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
      .filter(size(col("parts")) >= 2)
      .select(explode(org.apache.spark.sql.graft.PackedPairsExpr
        .packedPairs(col("parts"))).as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_xy"))

  /** Version N+1 of the basket index from version N's COMMITTED
    * outputs plus only the batch's (l_orderkey, l_partkey) rows (the
    * d13 discipline on the mining plane): batch orders are NEW baskets
    * (ingest contract), so pair and item supports ADD via one keyed
    * full-join merge each (t25's df pattern), and the basket total
    * adds the batch's count. The fact table is never rescanned. */
  private def basketIncrement(s: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Seq[(String, DataFrame)] = {
    import graft.sources.AtomicPublish.readOutput
    val batchOp = batch.distinct()
    val bPairs = pairSupports(batchOp)
    val mergedPairs = readOutput(s, root, "pair_support").as("a")
      .join(bPairs.as("b"), Seq("pk"), "full")
      .select(col("pk"),
        (coalesce(col("a.n_xy"), lit(0L)) + coalesce(col("b.n_xy"), lit(0L)))
          .as("n_xy"))
    val bItems = batchOp.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_item"))
    val mergedItems = readOutput(s, root, "item_support").as("a")
      .join(bItems.as("b"), Seq("l_partkey"), "full")
      .select(col("l_partkey"),
        (coalesce(col("a.n_item"), lit(0L)) +
          coalesce(col("b.n_item"), lit(0L))).as("n_item"))
    val bTot = batchOp.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val mergedTot = readOutput(s, root, "totals")
      .crossJoin(broadcast(bTot).withColumnRenamed("n_baskets", "bn"))
      .select((col("n_baskets") + col("bn")).as("n_baskets"))
    Seq(
      "pair_support" -> mergedPairs.orderBy(col("n_xy").desc),
      "item_support" -> mergedItems,
      "totals" -> mergedTot,
      "touched" -> bPairs.select(col("pk")))
  }

  private[graft] def ensureBasketIndex(s: SparkSession, dir: String): String =
    basketIndex.ensureIngested(s, dir) {
      val op = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .localCheckpoint() // pairs + item supports + total read it
      (basketOutputs(s, op.filter(col("l_orderkey") % BasketBatchMod =!= 0)),
        op.filter(col("l_orderkey") % BasketBatchMod === 0))
    }

  def b1BasketPairs(s: SparkSession, dir: String): DataFrame =
    graft.sources.AtomicPublish.readOutput(s,
      ensureBasketIndex(s, dir), "pair_support")
      .filter(col("n_xy") >= BasketMinSupport) // read-time floor (v2)
      .select(shiftright(col("pk"), 32).as("part_a"),
        col("pk").bitwiseAND(lit(4294967295L)).as("part_b"),
        col("n_xy").as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(BasketTopK)

  /** b3: the ingest batch's pair-support report from the
    * INCREMENTALLY-maintained basket index — for every pair the batch
    * touched that clears the read-time floor, the merged corpus-wide
    * support. The oracle recomputes from the FULL fact table, so a
    * hash pass proves support-add maintenance ≡ rebuild — including
    * pairs the BATCH pushed over the floor, which is exactly why the
    * index stores unfiltered supports. */
  def b3IncrementalBaskets(s: SparkSession, dir: String): DataFrame = {
    val root = ensureBasketIndex(s, dir)
    // committed-state-only read path: the increment published its own
    // touched pair keys, so the report never re-derives the batch's
    // pair set from the fact table
    val bPairs = graft.sources.AtomicPublish.readOutput(s, root, "touched")
    graft.sources.AtomicPublish.readOutput(s, root, "pair_support")
      .join(bPairs, Seq("pk"), "left_semi")
      .filter(col("n_xy") >= BasketMinSupport)
      .select(shiftright(col("pk"), 32).as("part_a"),
        col("pk").bitwiseAND(lit(4294967295L)).as("part_b"),
        col("n_xy").as("n_orders"))
      .orderBy("part_a", "part_b")
  }

  val MadK = 3.0 // flag |value - median| > MadK * 1.4826 * MAD
  val MadScale = 1.4826 // consistency constant: MAD ≈ sigma for normal data

  /** e6: robust outlier detection per event type — median + MAD
    * (median absolute deviation), the estimator that survives the
    * very outliers it hunts (mean/stddev get dragged by them; a6
    * computes those). Flags values beyond [[MadK]]·1.4826·MAD.
    * Two exact-percentile aggregates over the (bounded, ~#types)
    * group key, each broadcast back to the stream — the events table
    * is scanned, never shuffled on a growing key. Exact `percentile`
    * buffers per-group values, which is fine while each type fits an
    * executor; the 100 TB swap is `approx_percentile` (the
    * a7/prof1b discipline: exact form for the oracle, sketch form at
    * scale — same plan shape). */
  def e6MadOutliers(s: SparkSession, dir: String): DataFrame =
    madOutliers(Tables.events(s, dir).select(col("event_type"), col("value")))

  /** e6 core over any (event_type, value) frame — spec hook. */
  private[graft] def madOutliers(ev: DataFrame): DataFrame = {
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("ad", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(ad, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(min(col("med")), 6).as("med"),
        round(min(col("mad")), 6).as("mad"),
        sum(when(col("ad") > lit(MadK * MadScale) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  val NumBins = 10 // equal-frequency bins for f1

  /** f1: equal-frequency feature binning (decile bucketing) — the
    * feature-engineering transform behind monotonic binning, WoE
    * encoding, and spec-free histogram equalization. NOT a global
    * ntile: a corpus-wide ntile is one total sort through one
    * reducer (the named scale-killer). Instead the [[NumBins]]−1
    * boundary quantiles are ONE bounded aggregate (9 doubles,
    * broadcast back, rounded to 6 so both engines cut identically)
    * and bin assignment is a row-local comparison against the literal
    * array — prof2's equal-width discipline applied to equal
    * frequency. Exact `percentile` for the oracle; the 100 TB swap is
    * `approx_percentile` with identical plan shape. */
  /** Driver-fetch cap for [[exactQuantiles]]: a needed bucket whose
    * row count exceeds this is RE-SPLIT with the same 4096-way
    * histogram instead of collected (r13 verdict ask #4) — so the
    * driver never materializes more than ~cap doubles no matter how
    * value-skewed the column is. Overridable per call (specs plant a
    * tiny cap to force the recursion). */
  private[graft] val QuantileFetchCap: Long = 1000000L

  /** Exact interpolated quantiles with `percentile`'s semantics
    * (position q·(n−1), linear interpolation (hi−pos)·v_lo +
    * (pos−lo)·v_hi, nulls skipped) — computed by DISTRIBUTED RANK
    * LOCATION instead of the built-in's single value-count map:
    * (1) one (count, min, max) aggregate; (2) one equi-width
    * bucket-count aggregate (map-side partials — never a value
    * buffer); (3) locate each needed order statistic's bucket from
    * the ≤4096-row cumulative table on the driver; (4) fetch and
    * sort ONLY the needed buckets' values (≈ rows/4096 each) — and
    * when a HOT bucket still exceeds `cap` rows (99% of a 100 TB
    * column can sit on one value), recurse the same split inside
    * that bucket's rows: the re-filtered min/max tighten every
    * level, a single-valued range short-circuits to its constant,
    * and min < max guarantees ≥2 occupied sub-buckets, so each
    * level strictly shrinks — the collect is bounded by cap at
    * every depth. The built-in `percentile` funnels every distinct
    * value through one final-merge buffer (measured 2.3 s on 600k
    * values at sf0.1; this path: ~0.5 s), and at 100 TB a value map
    * is not an option at all. MiningSpec pins bit-equality against
    * the built-in, plus a planted 99%-hot-value spec proving every
    * fetch stays under the cap (`fetchProbe` observes each collect's
    * row count). */
  private[graft] def exactQuantiles(df: DataFrame, vCol: String,
      qs: Seq[Double], cap: Long = QuantileFetchCap,
      fetchProbe: Long => Unit = _ => ()): Array[Double] = {
    val v = col(vCol)
    val nn = df.filter(v.isNotNull)
    val st = nn.agg(count(v).as("n"), min(v).cast("double").as("lo"),
      max(v).cast("double").as("hi")).collect()(0)
    val n = st.getLong(0)
    require(n > 0, "exactQuantiles over an empty frame")
    val positions = qs.map(q => q * (n - 1))
    val ranks = positions.flatMap(p =>
      Seq(math.floor(p).toLong, math.ceil(p).toLong)).distinct
    val at = rankValues(nn, v, n, st.getDouble(1), st.getDouble(2),
      ranks, cap, fetchProbe)
    positions.map { p =>
      val lo0 = math.floor(p).toLong
      val hi0 = math.ceil(p).toLong
      if (lo0 == hi0) at(lo0)
      else (hi0 - p) * at(lo0) + (p - lo0) * at(hi0)
    }.toArray
  }

  /** The order statistics of `frame` (count `n`, values in [lo, hi],
    * non-null) at the given 0-based `ranks`, by recursive equi-width
    * rank location: one histogram pass locates every rank's bucket,
    * all COLD needed buckets (≤ cap rows) are fetched in ONE filtered
    * collect, and each HOT bucket recurses on its own rows with the
    * re-filtered min/max — which tighten every level, so either the
    * range collapses to a constant or ≥2 sub-buckets split the mass;
    * each level strictly shrinks and every collect stays ≤ cap. */
  private def rankValues(frame: DataFrame, v: org.apache.spark.sql.Column,
      n: Long, lo: Double, hi: Double, ranks: Seq[Long], cap: Long,
      fetchProbe: Long => Unit): Map[Long, Double] = {
    if (lo == hi) return ranks.map(_ -> lo).toMap
    if (n <= cap) {
      fetchProbe(n)
      val sorted = frame.select(v.cast("double").as("x"))
        .collect().map(_.getDouble(0)).sorted
      return ranks.map(r => r -> sorted(r.toInt)).toMap
    }
    val B = 4096
    val w = (hi - lo) / B
    if (w == 0.0) { // range below double resolution at this width:
      // the few representable values between lo and hi carry >cap
      // rows each — fold to (value, count) runs, bounded by distinct
      // doubles in the range, never by the row count
      val runs = frame.groupBy(v.cast("double").as("x"))
        .agg(count(lit(1)).as("c")).orderBy("x")
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
      fetchProbe(runs.length.toLong)
      val cum = runs.scanLeft(0L)(_ + _._2)
      return ranks.map { r =>
        val i = cum.lastIndexWhere(_ <= r) // run holding rank r
        r -> runs(math.min(i, runs.length - 1))._1
      }.toMap
    }
    val bkt = least(floor((v.cast("double") - lit(lo)) / lit(w)),
      lit(B - 1)).cast("int")
    val cnts = frame.groupBy(bkt.as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cumBefore = new Array[Long](B + 1)
    for (b <- 0 until B) cumBefore(b + 1) = cumBefore(b) + cnts.getOrElse(b, 0L)
    def bucketOf(rank: Long): Int = {
      var b = java.util.Arrays.binarySearch(cumBefore, rank)
      if (b < 0) b = -b - 2 // last bucket with cumBefore <= rank
      while (b + 1 <= B - 1 && cumBefore(b + 1) <= rank) b += 1
      b
    }
    val byBucket = ranks.groupBy(bucketOf)
    val (cold, hot) = byBucket.partition { case (b, _) =>
      cnts.getOrElse(b, 0L) <= cap }
    // all cold buckets in ONE filtered collect (the common case: one
    // scan total, ≈ rows/4096 per needed bucket)
    val coldVals: Map[Int, Array[Double]] =
      if (cold.isEmpty) Map.empty
      else {
        cold.keys.foreach(b => fetchProbe(cnts.getOrElse(b, 0L)))
        frame.filter(bkt.isin(cold.keys.toSeq: _*))
          .select(bkt.as("b"), v.cast("double").as("x"))
          .collect().groupBy(_.getInt(0))
          .map { case (b, rows) => b -> rows.map(_.getDouble(1)).sorted }
      }
    val fromCold = cold.toSeq.flatMap { case (b, rs) =>
      rs.map(r => r -> coldVals(b)((r - cumBefore(b)).toInt)) }
    // each hot bucket recurses on its own rows with tightened bounds
    val fromHot = hot.toSeq.flatMap { case (b, rs) =>
      val sub = frame.filter(bkt === b)
      val sst = sub.agg(min(v).cast("double").as("lo"),
        max(v).cast("double").as("hi")).collect()(0)
      val m = rankValues(sub, v, cnts(b), sst.getDouble(0), sst.getDouble(1),
        rs.map(_ - cumBefore(b)), cap, fetchProbe)
      rs.map(r => r -> m(r - cumBefore(b)))
    }
    (fromCold ++ fromHot).toMap
  }

  /** [[exactQuantiles]] per group key, in ONE distributed pass per
    * stage: a (group → n/lo/hi) stats aggregate, a (group, bucket)
    * count aggregate (per-group widths ride a broadcast of the
    * bounded stats frame), then the needed buckets of EVERY group are
    * fetched in one filtered collect and interpolated driver-side —
    * bounded by groups × quantiles × bucket width, the centroid/PCA
    * bounded-collect pattern. Same bit-exact interpolation as the
    * built-in percentile (spec-pinned). */
  private[graft] def groupedExactQuantiles(df: DataFrame, gCol: String,
      vCol: String, qs: Seq[Double]): Map[String, Array[Double]] = {
    val nn = df.filter(col(vCol).isNotNull)
      .select(col(gCol).cast("string").as("g"),
        col(vCol).cast("double").as("x"))
    val stats = nn.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val B = 4096
    import df.sparkSession.implicits._
    val widths = stats.toSeq.map { case (k, (_, lo, hi)) =>
      (k, lo, if (hi > lo) (hi - lo) / B else 1.0)
    }.toDF("g", "glo", "gw")
    val bucketed = nn.join(broadcast(widths), Seq("g"))
      .select(col("g"),
        least(floor((col("x") - col("glo")) / col("gw")), lit(B - 1))
          .cast("int").as("b"),
        col("x"))
      // r15: NOT localCheckpoint-pinned — the two consumers (bucket
      // counts, needed-bucket fetch) re-derive a cheap scan+broadcast
      // plan, which measured faster than materializing the fact-width
      // frame to the block store. The bucketing inputs (widths) come
      // from an already-collected stats map, so both consumers see
      // identical bucket assignments by construction.
    val cnts = bucketed.groupBy(col("g"), col("b"))
      .agg(count(lit(1)).as("c")).collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap }
    val plan = stats.map { case (k, (n, lo, hi)) =>
      val cumBefore = new Array[Long](B + 1)
      val cm = cnts.getOrElse(k, Map.empty)
      for (b <- 0 until B) cumBefore(b + 1) = cumBefore(b) + cm.getOrElse(b, 0L)
      val positions = qs.map(q => q * (n - 1))
      def bucketOf(rank: Long): Int = {
        var b = java.util.Arrays.binarySearch(cumBefore, rank)
        if (b < 0) b = -b - 2
        while (b + 1 <= B - 1 && cumBefore(b + 1) <= rank) b += 1
        b
      }
      val ranks = positions.flatMap(p =>
        Seq(math.floor(p).toLong, math.ceil(p).toLong)).distinct
      k -> (lo, hi, cumBefore, positions, ranks.map(bucketOf).distinct,
        (r: Long) => bucketOf(r))
    }
    val neededKeys = plan.flatMap { case (k, (_, _, _, _, needed, _)) =>
      needed.map(b => s"$k#$b")
    }.toSeq
    val vals = bucketed
      .filter(concat_ws("#", col("g"), col("b").cast("string"))
        .isin(neededKeys: _*))
      .collect()
      .groupBy(r => (r.getString(0), r.getInt(1)))
      .map { case (kb, rows) => kb -> rows.map(_.getDouble(2)).sorted }
    plan.map { case (k, (lo, hi, cumBefore, positions, _, bucketOf)) =>
      def at(rank: Long): Double =
        if (lo == hi) lo
        else { val b = bucketOf(rank); vals((k, b))((rank - cumBefore(b)).toInt) }
      k -> positions.map { p =>
        val l = math.floor(p).toLong
        val h = math.ceil(p).toLong
        if (l == h) at(l) else (h - p) * at(l) + (p - l) * at(h)
      }.toArray
    }
  }

  def f1FeatureBins(s: SparkSession, dir: String): DataFrame = {
    // exact boundaries via the distributed rank-location helper above
    // (bit-equal to the built-in percentile — spec-pinned), rounded
    // exactly as SQL round(x, 6) would (HALF_UP), then embedded as
    // plan literals: the binning pass is ONE scan + one bounded
    // aggregate, with no value-map aggregate anywhere
    val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"))
    val qs = (1 until NumBins).map(_.toDouble / NumBins)
    val bounds = exactQuantiles(li, "v", qs).map(x =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    li.select(col("v"),
        bounds.indices.map(i =>
          when(col("v") > lit(bounds(i)), 1).otherwise(0))
          .reduce(_ + _).+(lit(1)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("v")), 4).as("lo"),
        round(max(col("v")), 4).as("hi"),
        round(avg(col("v")), 6).as("mean"))
      .orderBy("bin")
  }

  /** f1b: the 100 TB form of f1 — identical plan shape, but the
    * boundary quantiles come from `approx_percentile` (a mergeable
    * rank sketch with map-side partials) instead of exact
    * `percentile`, which at full scale buffers per-group values. The
    * swap is the prof1→prof1b discipline applied to binning: the
    * boundary aggregate stays ONE bounded row, the assignment stays
    * row-local codegen'd comparisons. rows-only (DuckDB's
    * approx_quantile uses a different sketch, so boundaries differ in
    * low digits); MiningSpec pins equal-frequency bin populations
    * within the sketch's rank-error envelope and boundary agreement
    * with the exact cut points. */
  def f1bApproxBins(s: SparkSession, dir: String): DataFrame =
    binsWith(s, dir,
      qs => s"transform(approx_percentile(v, array($qs), 10000), x -> round(x, 6))")

  private def binsWith(s: SparkSession, dir: String,
      boundsExpr: String => String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"))
    val qs = (1 until NumBins).map(_.toDouble / NumBins)
    val bounds = li.agg(expr(boundsExpr(qs.mkString(","))).as("bs"))
    li.crossJoin(broadcast(bounds)) // 1-row bounded metadata
      .select(col("v"),
        // bin = 1 + #bounds strictly below v, as NumBins−1 codegen'd
        // comparisons — the filter(bs, x -> v > x) lambda form ran
        // interpreted per row (HOFs are outside whole-stage codegen)
        (1 until NumBins).map(i =>
          when(col("v") > element_at(col("bs"), i), 1).otherwise(0))
          .reduce(_ + _).+(lit(1)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("v")), 4).as("lo"),
        round(max(col("v")), 4).as("hi"),
        round(avg(col("v")), 6).as("mean"))
      .orderBy("bin")
  }

  val AbCohortA = "click"
  val AbCohortB = "view"
  val AbThreshold = 50.0 // success = value above threshold
  val AbZCrit = 1.96 // two-sided 95%

  /** a13: two-proportion z-test (the A/B-test significance gate every
    * event warehouse runs): success rates of two event-type cohorts
    * compared with the pooled-variance z statistic. ONE conditional
    * aggregate over one scan produces all four counts (the a9/r3
    * conditional-count discipline); the statistic itself is a 1-row
    * projection. Counts are exact integers, so the z value is
    * bit-deterministic and fully oracle-checkable. */
  def a13AbTest(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(s, dir)
      .filter(col("event_type").isin(AbCohortA, AbCohortB))
      .agg(
        sum(when(col("event_type") === AbCohortA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("event_type") === AbCohortA && col("value") > AbThreshold, 1L)
          .otherwise(0L)).as("x_a"),
        sum(when(col("event_type") === AbCohortB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("event_type") === AbCohortB && col("value") > AbThreshold, 1L)
          .otherwise(0L)).as("x_b"))
    val pa = col("x_a").cast("double") / col("n_a")
    val pb = col("x_b").cast("double") / col("n_b")
    val pPool = (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b"))
    val z = (pa - pb) / sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    agg.select(col("n_a"), col("x_a"), round(pa, 6).as("rate_a"),
      col("n_b"), col("x_b"), round(pb, 6).as("rate_b"),
      round(z, 6).as("z"),
      when(abs(z) > AbZCrit, 1).otherwise(0).as("significant"))
  }

  /** Standard normal quantiles for a 5% two-sided test at 80% power —
    * fixed literals, parsed to identical doubles by both engines. */
  final val MdeZalpha = 1.959964
  final val MdeZbeta = 0.841621

  /** a19: minimum-detectable-effect / power sizing — a13's
    * PROSPECTIVE dual: a13 answers "was this difference significant",
    * a19 answers the question asked BEFORE the experiment — "if this
    * event type's traffic split 50/50, what's the smallest mean shift
    * the test could detect at 80% power?" (the sizing table every
    * experimentation platform shows before launch; running an A/B on
    * a segment whose MDE exceeds any plausible effect is the classic
    * wasted experiment). mde = (z_{α/2}+z_β)·√(2σ²/m) with m = n/2
    * per arm. Determinism: σ² comes from EXACT integer moments — the
    * value quantizes to int64 at 1e-6 and Σy/Σy² fold as
    * decimal(38,0) (the prof8 order-free discipline; a plain
    * var_samp(double) is partial-merge-order dependent) — then one
    * fixed IEEE tree shared verbatim with the oracle. ONE scan-level
    * keyed aggregate; the report is #event_types rows. */
  def a19MdePower(s: SparkSession, dir: String): DataFrame = {
    val y = floor(col("value") * lit(1e6) + lit(0.5)).cast("decimal(38,0)")
    val n = col("n").cast("double")
    val sy = col("sy").cast("double")
    val syy = col("syy").cast("double")
    val mean = (sy / lit(1e6)) / n
    val varv = ((n * syy - sy * sy) / (n * (n - lit(1.0)))) / lit(1e12)
    val m = expr("n div 2")
    val mde = lit(MdeZalpha + MdeZbeta) *
      sqrt(lit(2.0) * varv / m.cast("double"))
    Tables.events(s, dir)
      .select(col("event_type"), y.as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n"), m.as("m_per_arm"),
        round(mean, 6).as("mean"), round(sqrt(varv), 6).as("sd"),
        round(mde, 6).as("mde_abs"),
        round(mde / mean, 6).as("mde_rel"))
      .orderBy("event_type")
  }

  /** f2: feature standardization — z-score and min-max scaling of a
    * measure column, the row-local transform in front of every
    * distance-based model (k-means, kNN, regularized regression). The
    * four global statistics are ONE bounded 1-row aggregate broadcast
    * back (f1/prof2's discipline — never a second pass, never a
    * driver collect), scaling itself is a pure projection. The
    * emitted frame is the per-flag audit profile of the scaled
    * columns (mean(z)≈0 / min-max∈[0,1] — what a feature-store
    * validation job checks), so output stays bounded while the
    * transform runs over every row. Stats are rounded to 6 before
    * broadcasting so both engines scale with identical constants. */
  def f2Standardize(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
    val stats = li.agg(
      round(avg(col("v")), 6).as("mu"),
      round(stddev(col("v")), 6).as("sigma"),
      min(col("v")).as("lo"),
      max(col("v")).as("hi"))
    li.crossJoin(broadcast(stats)) // 1-row bounded metadata
      .select(col("l_returnflag"),
        ((col("v") - col("mu")) / col("sigma")).as("z"),
        ((col("v") - col("lo")) / (col("hi") - col("lo"))).as("mm"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        // + 0.0 canonicalizes IEEE -0.0 (a tiny negative mean rounds
        // to -0.0 in one engine and +0.0 in the other)
        (round(avg(col("z")), 6) + lit(0.0)).as("z_mean"),
        round(stddev(col("z")), 6).as("z_std"),
        round(min(col("mm")), 6).as("mm_min"),
        round(max(col("mm")), 6).as("mm_max"))
      .orderBy("l_returnflag")
  }

  val WinsorLo = 0.01 // lower clamp quantile
  val WinsorHi = 0.99 // upper clamp quantile

  /** f3: winsorization — clamp a measure to its per-group
    * [[WinsorLo]]/[[WinsorHi]] quantiles (the outlier treatment that
    * keeps every row, unlike e6's flag-and-drop: regressions and mean
    * metrics stay defined while tail spikes stop dominating them).
    * Same two-plane shape as e6/f1: the cut points are ONE bounded
    * aggregate over the (~#types) group key, broadcast back; clamping
    * is a row-local least/greatest projection. The emitted frame is
    * the per-type audit profile (cuts, clip counts, raw vs winsorized
    * mean) — bounded output over a full-corpus transform (f2's
    * discipline). Cuts are rounded to 6 before broadcasting so both
    * engines clamp with identical constants; means go through exact
    * decimal sums (order-independent ⇒ bit-stable). Exact
    * `percentile` for the oracle; the 100 TB swap is
    * `approx_percentile` with identical plan shape (a7/prof1b). */
  def f3Winsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value").as("v"))
    val cuts = ev.groupBy(col("event_type")).agg(
      round(expr(s"percentile(v, $WinsorLo)"), 6).as("lo_cut"),
      round(expr(s"percentile(v, $WinsorHi)"), 6).as("hi_cut"))
    ev.join(broadcast(cuts), Seq("event_type"))
      .withColumn("w", least(greatest(col("v"), col("lo_cut")), col("hi_cut")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("lo_cut")).as("lo_cut"),
        min(col("hi_cut")).as("hi_cut"),
        sum(when(col("v") < col("lo_cut"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("hi_cut"), 1L).otherwise(0L)).as("n_clip_hi"),
        round(sum(col("v").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_raw"),
        round(sum(col("w").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_winsor"))
      .orderBy("event_type")
  }

  val TargetEncodeM = 20.0 // m-estimate pseudo-observations toward the global mean

  /** f4: smoothed target encoding per category — the m-estimate
    * (Micci-Barreca, SIGKDD Expl. 2001): encode event_type as
    * (Σ target + m·global_mean) / (n + m), shrinking rare categories
    * toward the global mean so a category seen 3 times cannot memorize
    * its 3 labels — THE standard high-cardinality categorical encoding
    * in training pipelines. Alongside it, the leave-one-out extremes
    * ((Σ − max)/(n−1), (Σ − min)/(n−1)) bound the per-row LOO encoding
    * range — the leakage-audit number an ML reviewer asks for. One
    * keyed aggregate over exact decimal sums + a 1-row broadcast
    * global; at 100 TB this is a map-side-combinable pass with a
    * category-cardinality-bounded output, and every ratio derives from
    * exact integer/decimal aggregates ⇒ bit-stable (SURVEY §4). */
  def f4TargetEncode(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("value").cast("decimal(18,6)").as("v"))
    val global = ev.agg(
      (sum(col("v")).cast("double") / count(lit(1))).as("gmean"))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .crossJoin(broadcast(global)) // 1-row bounded metadata
      .select(col("event_type"), col("n"),
        round(col("sv").cast("double") / col("n"), 6).as("raw_mean"),
        round((col("sv").cast("double") + lit(TargetEncodeM) * col("gmean")) /
          (col("n") + lit(TargetEncodeM)), 6).as("encoded"),
        // n == 1 ⇒ LOO is undefined; guard EXPLICITLY because the two
        // engines disagree on 0/0 here (Spark's Divide → NULL, DuckDB's
        // IEEE default → NaN) — both sides emit NULL for singletons.
        when(col("n") > 1,
          round((col("sv") - col("vmax")).cast("double") / (col("n") - 1), 6))
          .as("loo_min"),
        when(col("n") > 1,
          round((col("sv") - col("vmin")).cast("double") / (col("n") - 1), 6))
          .as("loo_max"))
      .orderBy("event_type")
  }

  /** sky1: Pareto frontier (skyline) per brand — parts where no same-
    * brand part is at-most-equal on price AND at-least-equal on size
    * with one strict inequality (Börzsönyi et al. ICDE'01's SKYLINE
    * operator: the "best tradeoffs" query optimizers can't express
    * with plain min/max). NOT the textbook NOT-EXISTS self-join
    * (quadratic in the brand): prices collapse to a per-(brand,price)
    * max-size frame first, a PARTITIONED window's running max over
    * strictly-cheaper prices decides 2D dominance in one sorted pass
    * (the sort-filter skyline algorithm as a window), and survivors
    * join back to rows. Equal (price, size) ties all surface —
    * neither dominates under the strict definition. */
  def sky1ParetoFront(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        col("p_size"))
    val best = p.groupBy(col("p_brand"), col("p_retailprice"))
      .agg(max(col("p_size")).as("msize"))
    // preceding rows of the per-(brand,price) frame = strictly cheaper
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_brand")).orderBy(col("p_retailprice"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val frontier = best
      .withColumn("runmax", max(col("msize")).over(w))
      .filter(col("runmax").isNull || col("runmax") < col("msize"))
      .select(col("p_brand"), col("p_retailprice"), col("msize"))
    p.join(frontier, Seq("p_brand", "p_retailprice"))
      .filter(col("p_size") === col("msize"))
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        col("p_size"))
      .orderBy(col("p_brand"), col("p_retailprice"), col("p_partkey"))
  }

  val RuleMinConf = 0.05
  val RuleTopK = 50

  /** b2: association rules — b1's co-occurring pairs upgraded to
    * DIRECTED rules X→Y with confidence (P(Y|X)) and lift
    * (P(X,Y)/P(X)P(Y)), the two numbers that separate "bought
    * together because both are popular" from genuine affinity
    * (lift > 1) — b1 ranks by raw support, which popularity dominates.
    * Pair supports come from b1's in-row basket pair generation
    * (never a fact self-join), item supports from one keyed distinct
    * aggregate, the basket total from a 1-row broadcast; each
    * unordered pair emits both rule directions and joins its two item
    * supports by key. Confidence and lift are exact integer ratios
    * (products in DOUBLE — int64 would overflow at 100 TB counts) ⇒
    * identical doubles across engines; deterministic
    * (lift desc, antecedent, consequent) top-K. */
  def b2AssociationRules(s: SparkSession, dir: String): DataFrame = {
    // rule scoring over the COMMITTED basket index — pair supports,
    // item supports, and the basket total are read-path frames; the
    // rule math (confidence/lift, both directions) is the query
    val root = ensureBasketIndex(s, dir)
    val itemSup = graft.sources.AtomicPublish.readOutput(s, root, "item_support")
    val tot = graft.sources.AtomicPublish.readOutput(s, root, "totals")
    val pairs = graft.sources.AtomicPublish.readOutput(s, root, "pair_support")
      .filter(col("n_xy") >= BasketMinSupport) // read-time floor (v2)
      .select(shiftright(col("pk"), 32).as("a"),
        col("pk").bitwiseAND(lit(4294967295L)).as("b"), col("n_xy"))
    val directed = pairs
      .unionAll(pairs.select(col("b").as("a"), col("a").as("b"), col("n_xy")))
    directed
      .join(itemSup.select(col("l_partkey").as("a"), col("n_item").as("n_x")),
        Seq("a"))
      .join(itemSup.select(col("l_partkey").as("b"), col("n_item").as("n_y")),
        Seq("b"))
      .crossJoin(broadcast(tot)) // 1-row bounded metadata
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("n_xy"),
        round(col("n_xy") / col("n_x").cast("double"), 6).as("confidence"),
        round(col("n_baskets").cast("double") * col("n_xy") /
          (col("n_x").cast("double") * col("n_y")), 6).as("lift"))
      .filter(col("confidence") >= RuleMinConf)
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(RuleTopK)
  }

  val AffinityTopK = 20

  /** b5: basket affinity — pair Jaccard n_xy / (n_x + n_y − n_xy)
    * over the PUBLISHED basket index, the symmetric complement of
    * b2's directional confidence/lift (lift normalizes by chance,
    * Jaccard by union mass — a pair can have high lift on tiny
    * supports; Jaccard surfaces pairs that actually co-travel).
    * Pure read-path: pair supports (read-time floor, row-group
    * pruned via the support-sorted layout), item supports attach by
    * key join, the score is ONE correctly-rounded division of exact
    * integers evaluated in the same IEEE tree both engines share.
    * Top-K by (jaccard desc, pair) compiles to
    * TakeOrderedAndProject. */
  def b5BasketAffinity(s: SparkSession, dir: String): DataFrame = {
    val root = ensureBasketIndex(s, dir)
    val itemSup = graft.sources.AtomicPublish.readOutput(s, root, "item_support")
    val pairs = graft.sources.AtomicPublish.readOutput(s, root, "pair_support")
      .filter(col("n_xy") >= BasketMinSupport)
      .select(shiftright(col("pk"), 32).as("part_a"),
        col("pk").bitwiseAND(lit(4294967295L)).as("part_b"), col("n_xy"))
    pairs
      .join(itemSup.select(col("l_partkey").as("part_a"),
        col("n_item").as("n_a")), Seq("part_a"))
      .join(itemSup.select(col("l_partkey").as("part_b"),
        col("n_item").as("n_b")), Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("n_xy"),
        round(col("n_xy").cast("double") /
          (col("n_a") + col("n_b") - col("n_xy")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_a"), col("part_b"))
      .limit(AffinityTopK)
  }

  val HashFeatureBuckets = 64 // f5 hashed-feature dimensionality

  /** f5: the hashing trick (Weinberger et al. 2009) — fixed-width
    * bag-of-tokens features without a vocabulary: every token maps to
    * bucket md5(token)[:8] mod [[HashFeatureBuckets]] and the
    * per-(source, bucket) counts ARE the feature matrix. This is how
    * a 100 TB corpus gets classifier features with NO vocabulary
    * build, no OOV handling, and a shuffle key domain bounded by
    * #sources × #buckets regardless of corpus size: tokens explode
    * and bucket row-locally (codegen'd md5 + conv), and the single
    * count shuffle carries only the tiny (source, bucket) key space —
    * map-side combine collapses virtually everything before the
    * exchange. md5 (not a JVM hash) so the bucketing is
    * engine-portable and the full SQL oracle applies. */
  def f5FeatureHashing(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .select(col("source"),
        pmod(conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"),
          lit(HashFeatureBuckets.toLong)).as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("source", "bucket")

  val oracles: Map[String, String] = Map(
    "b5_basket_affinity" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |sup AS (SELECT l_partkey, count(*) AS n_item FROM li GROUP BY 1),
         |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         |    COUNT(*) AS n_xy
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $BasketMinSupport)
         |SELECT part_a, part_b, n_xy,
         |  round(CAST(n_xy AS DOUBLE) / (x.n_item + y.n_item - n_xy), 6)
         |    AS jaccard
         |FROM p JOIN sup x ON p.part_a = x.l_partkey
         |  JOIN sup y ON p.part_b = y.l_partkey
         |ORDER BY jaccard DESC, part_a, part_b
         |LIMIT $AffinityTopK""".stripMargin,
    "f5_feature_hashing" ->
      s"""SELECT source,
         |  CAST('0x' || substring(md5(w), 1, 8) AS BIGINT)
         |    % $HashFeatureBuckets AS bucket,
         |  COUNT(*) AS n
         |FROM (SELECT source, unnest(string_split(text, ' ')) AS w
         |      FROM documents)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "b2_association_rules" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |sup AS (SELECT l_partkey, count(*) AS n_item FROM li GROUP BY 1),
         |tot AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM li),
         |p AS (SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n_xy
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $BasketMinSupport),
         |d AS (SELECT a, b, n_xy FROM p
         |  UNION ALL SELECT b, a, n_xy FROM p)
         |SELECT d.a AS antecedent, d.b AS consequent, n_xy,
         |  round(n_xy / CAST(x.n_item AS DOUBLE), 6) AS confidence,
         |  round(CAST(tot.n_baskets AS DOUBLE) * n_xy /
         |    (CAST(x.n_item AS DOUBLE) * y.n_item), 6) AS lift
         |FROM d JOIN sup x ON d.a = x.l_partkey
         |  JOIN sup y ON d.b = y.l_partkey CROSS JOIN tot
         |WHERE n_xy / CAST(x.n_item AS DOUBLE) >= $RuleMinConf
         |ORDER BY lift DESC, antecedent, consequent
         |LIMIT $RuleTopK""".stripMargin,
    "f2_standardize" ->
      """WITH li AS (SELECT l_returnflag, l_extendedprice AS v FROM lineitem),
        |st AS (SELECT round(avg(v), 6) AS mu, round(stddev_samp(v), 6) AS sigma,
        |    min(v) AS lo, max(v) AS hi FROM li),
        |sc AS (SELECT l.l_returnflag, (l.v - st.mu) / st.sigma AS z,
        |    (l.v - st.lo) / (st.hi - st.lo) AS mm
        |  FROM li l CROSS JOIN st)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  round(avg(z), 6) + 0.0 AS z_mean,
        |  round(stddev_samp(z), 6) AS z_std,
        |  round(min(mm), 6) AS mm_min,
        |  round(max(mm), 6) AS mm_max
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "sky1_pareto_front" ->
      """SELECT p.p_partkey, p.p_brand, p.p_retailprice, p.p_size
        |FROM part p WHERE NOT EXISTS (
        |  SELECT 1 FROM part q WHERE q.p_brand = p.p_brand
        |    AND q.p_retailprice <= p.p_retailprice
        |    AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_brand, p_retailprice, p_partkey""".stripMargin,
    "a19_mde_power" ->
      s"""WITH q AS (SELECT event_type,
         |    CAST(floor(value * 1e6 + 0.5) AS HUGEINT) AS y
         |  FROM events),
         |a AS (SELECT event_type, COUNT(*) AS n,
         |    SUM(y) AS sy, SUM(y * y) AS syy
         |  FROM q GROUP BY 1)
         |SELECT event_type, n, n // 2 AS m_per_arm,
         |  round((CAST(sy AS DOUBLE) / 1e6) / CAST(n AS DOUBLE), 6) AS mean,
         |  round(sqrt(((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 1e12), 6)
         |    AS sd,
         |  round(${MdeZalpha + MdeZbeta} * sqrt(2.0 *
         |    (((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 1e12)
         |    / CAST(n // 2 AS DOUBLE)), 6) AS mde_abs,
         |  round((${MdeZalpha + MdeZbeta} * sqrt(2.0 *
         |    (((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 1e12)
         |    / CAST(n // 2 AS DOUBLE)))
         |    / ((CAST(sy AS DOUBLE) / 1e6) / CAST(n AS DOUBLE)), 6)
         |    AS mde_rel
         |FROM a ORDER BY event_type""".stripMargin,
    "a13_ab_test" ->
      s"""WITH agg AS (SELECT
         |    CAST(SUM(CASE WHEN event_type = '$AbCohortA' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN event_type = '$AbCohortA' AND value > $AbThreshold THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
         |    CAST(SUM(CASE WHEN event_type = '$AbCohortB' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(SUM(CASE WHEN event_type = '$AbCohortB' AND value > $AbThreshold THEN 1 ELSE 0 END) AS BIGINT) AS x_b
         |  FROM events WHERE event_type IN ('$AbCohortA', '$AbCohortB'))
         |SELECT n_a, x_a, round(CAST(x_a AS DOUBLE) / n_a, 6) AS rate_a,
         |  n_b, x_b, round(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
         |  round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) /
         |    sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 / n_a + 1.0 / n_b)), 6) AS z,
         |  CASE WHEN abs((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) /
         |    sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 / n_a + 1.0 / n_b))) > $AbZCrit THEN 1 ELSE 0 END AS significant
         |FROM agg""".stripMargin,
    "f1_feature_bins" -> {
      val qs = (1 until NumBins).map(_.toDouble / NumBins).mkString(",")
      s"""WITH b AS (SELECT list_transform(
         |    quantile_cont(l_extendedprice, [$qs]), x -> round(x, 6)) AS bs
         |  FROM lineitem),
         |assigned AS (SELECT l.l_extendedprice AS v,
         |    1 + len(list_filter(b.bs, x -> l.l_extendedprice > x)) AS bin
         |  FROM lineitem l CROSS JOIN b)
         |SELECT bin, COUNT(*) AS n, round(MIN(v), 4) AS lo,
         |  round(MAX(v), 4) AS hi, round(AVG(v), 6) AS mean
         |FROM assigned GROUP BY bin ORDER BY bin""".stripMargin
    },
    "b3_incremental_baskets" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         |    COUNT(*) AS n_orders
         |  FROM li a JOIN li b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |bp AS (SELECT DISTINCT a.l_partkey AS part_a, b.l_partkey AS part_b
         |  FROM li a JOIN li b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  WHERE a.l_orderkey % $BasketBatchMod = 0)
         |SELECT p.part_a, p.part_b, p.n_orders
         |FROM p JOIN bp ON p.part_a = bp.part_a AND p.part_b = bp.part_b
         |WHERE p.n_orders >= $BasketMinSupport
         |ORDER BY p.part_a, p.part_b""".stripMargin,
    "b1_basket_pairs" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
         |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         |  COUNT(*) AS n_orders
         |FROM li a JOIN li b
         |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |GROUP BY 1, 2 HAVING COUNT(*) >= $BasketMinSupport
         |ORDER BY n_orders DESC, part_a, part_b LIMIT $BasketTopK""".stripMargin,
    "e6_mad_outliers" ->
      s"""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
         |    FROM events GROUP BY 1),
         |dev AS (SELECT e.event_type, e.value, abs(e.value - m.med) AS ad, m.med
         |  FROM events e JOIN med m USING (event_type)),
         |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
         |    FROM dev GROUP BY 1)
         |SELECT d.event_type, COUNT(*) AS n,
         |  round(MIN(d.med), 6) AS med, round(MIN(mad.mad), 6) AS mad,
         |  CAST(SUM(CASE WHEN d.ad > ${MadK * MadScale} * mad.mad
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM dev d JOIN mad USING (event_type)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "f4_target_encode" ->
      s"""WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
         |  FROM events),
         |g AS (SELECT CAST(SUM(v) AS DOUBLE) / count(*) AS gmean FROM ev)
         |SELECT event_type, count(*) AS n,
         |  round(CAST(SUM(v) AS DOUBLE) / count(*), 6) AS raw_mean,
         |  round((CAST(SUM(v) AS DOUBLE) + $TargetEncodeM * g.gmean)
         |    / (count(*) + $TargetEncodeM), 6) AS encoded,
         |  CASE WHEN count(*) > 1 THEN
         |    round(CAST(SUM(v) - MAX(v) AS DOUBLE) / (count(*) - 1), 6)
         |  END AS loo_min,
         |  CASE WHEN count(*) > 1 THEN
         |    round(CAST(SUM(v) - MIN(v) AS DOUBLE) / (count(*) - 1), 6)
         |  END AS loo_max
         |FROM ev CROSS JOIN g
         |GROUP BY event_type, g.gmean ORDER BY event_type""".stripMargin,
    "f3_winsorize" ->
      s"""WITH cuts AS (SELECT event_type,
         |    round(quantile_cont(value, $WinsorLo), 6) AS lo_cut,
         |    round(quantile_cont(value, $WinsorHi), 6) AS hi_cut
         |  FROM events GROUP BY 1),
         |j AS (SELECT e.event_type, e.value AS v, c.lo_cut, c.hi_cut,
         |    least(greatest(e.value, c.lo_cut), c.hi_cut) AS w
         |  FROM events e JOIN cuts c USING (event_type))
         |SELECT event_type, COUNT(*) AS n,
         |  MIN(lo_cut) AS lo_cut, MIN(hi_cut) AS hi_cut,
         |  CAST(SUM(CASE WHEN v < lo_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
         |  CAST(SUM(CASE WHEN v > hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
         |  round(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_raw,
         |  round(CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_winsor
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b1_basket_pairs" -> (b1BasketPairs _),
    "b3_incremental_baskets" -> (b3IncrementalBaskets _),
    "b2_association_rules" -> (b2AssociationRules _),
    "b5_basket_affinity" -> (b5BasketAffinity _),
    "sky1_pareto_front" -> (sky1ParetoFront _),
    "e6_mad_outliers" -> (e6MadOutliers _),
    "f1_feature_bins" -> (f1FeatureBins _),
    "f1b_approx_bins" -> (f1bApproxBins _),
    "f2_standardize" -> (f2Standardize _),
    "f3_winsorize" -> (f3Winsorize _),
    "f4_target_encode" -> (f4TargetEncode _),
    "f5_feature_hashing" -> (f5FeatureHashing _),
    "a13_ab_test" -> (a13AbTest _),
    "a19_mde_power" -> (a19MdePower _))
}
