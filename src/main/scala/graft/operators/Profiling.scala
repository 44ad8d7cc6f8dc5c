package graft.operators

import graft.{Cols, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ANALYZE-style table statistics (SURVEY §2 rows 135-136) — the
  * stats-collection surface a warehouse keeps under every optimizer
  * (per-column NDV/null/min/max profiles and value histograms; the
  * reference's closest analog is the ad-hoc health scan at
  * db.mjs:410-432, which profiles one table's freshness counters).
  *
  * Scale design: both operators are single-scan aggregates with
  * map-side partials; output is bounded by #columns (prof1) or
  * #buckets (prof2), never by table size. prof1's exact
  * COUNT(DISTINCT x) per column expands the scan ×#profiled-columns
  * (Spark's Expand) so the oracle can be exact; a 100 TB ANALYZE
  * swaps in approx_count_distinct (HLL partials, no Expand) — the
  * plan shape is otherwise identical.
  */
object Profiling {

  private val ProfiledCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** One-pass profile scaffold shared by prof1/prof1b: rows, nulls,
    * NDV (the caller picks exact or sketch), min/max, exact sum per
    * column; the single agg row is unpivoted with stack() (no second
    * scan). The exact sum is an int64 fold of exact CENTS
    * (floor(v·100+0.5) — all four measure columns are 2dp money/rate
    * values, so the quantization is lossless and the long sum equals
    * the DECIMAL(12,2) fold bit-for-bit once surfaced as double), at
    * integer-add speed instead of per-row Decimal boxing: measured
    * 0.75 s → 0.16 s for the four sums at sf0.1 (the g4 long-fold
    * finding, applied to the profile plane). Headroom: ~1e7 cents/row
    * × 6e11 rows (a 100 TB lineitem) ≈ 2×10¹⁸ < 2⁶³ — the fold holds
    * at target scale; queries summing PRODUCTS (q1's disc_price ×
    * tax chain) stay on exact DECIMAL on purpose, because their
    * per-row magnitudes are 100–10 000× larger and would overflow
    * int64 well before 100 TB. */
  private def profileWith(s: SparkSession, dir: String,
      ndv: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val aggs = count(lit(1)).as("n_rows") +: ProfiledCols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}_nn"),
        ndv(col(c)).as(s"${c}_nd"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"),
        (sum(floor(col(c) * lit(100.0) + lit(0.5)).cast("long"))
          .cast("double") / lit(100.0)).as(s"${c}_sum"))
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val stackArgs = ProfiledCols
      .map(c => s"'$c', ${c}_nn, ${c}_nd, ${c}_min, ${c}_max, ${c}_sum")
      .mkString(", ")
    one.selectExpr(
        "n_rows",
        s"stack(${ProfiledCols.size}, $stackArgs) AS (col_name, n_nonnull, n_distinct, min_v, max_v, sum_v)")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_nulls"),
        col("n_distinct"), col("min_v"), col("max_v"), col("sum_v"))
      .orderBy("col_name")
  }

  /** prof1: per-column profile of lineitem's measure columns — rows,
    * nulls, exact NDV, min/max, exact decimal sum. Exact NDV keeps the
    * full hash oracle. Plan shape (r12): one GROUPED branch per column
    * unioned — each branch scans ONLY its column (parquet pruning),
    * shuffles (value, count) groups, and folds the profile from the
    * group frame (n from Σcnt, NDV from the group count, the exact
    * decimal sum as Σ v·cnt — identical values to the row-level
    * fold). This replaced the classic multi-count-distinct Expand,
    * which pushed #columns copies of every row through one aggregate:
    * measured 2.5 s → 0.6 s at sf0.1 with bit-identical output, and
    * at 100 TB the grouped shuffle moves only the per-column value
    * distributions, never row multiples. [[prof1bApproxProfile]]
    * remains the sketch swap when even the value distributions are
    * too hot to shuffle. */
  def prof1ColumnProfile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    ProfiledCols.map { c =>
      li.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"),
          sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)).as("nn"),
          count(col("v")).as("n_distinct"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"),
          sum(Cols.dec2(col("v")) * col("cnt")).cast("double").as("sum_v"))
        .select(lit(c).as("col_name"), col("n_rows"),
          (col("n_rows") - col("nn")).as("n_nulls"),
          col("n_distinct"), col("min_v"), col("max_v"), col("sum_v"))
    }.reduce(_ unionAll _).orderBy("col_name")
  }

  /** prof1b: the 100 TB form of prof1 — the same per-column profile,
    * but NDV via approx_count_distinct (HyperLogLog++ with map-side
    * sketch partials). Exact COUNT(DISTINCT) over k columns makes
    * Catalyst Expand every scan row ×k before the partial aggregate —
    * prof1 is the suite's second-most-expensive query for exactly that
    * reason — while the HLL sketches aggregate the UNEXPANDED scan in
    * one pass, so this is the plan an ANALYZE would actually run at
    * scale. rows-only: HLL estimates are engine-specific (DuckDB's
    * approx_count_distinct uses a different sketch), so the oracle
    * can't hash-match; ProfilingSpec pins every estimate within the
    * sketch's error envelope of the exact NDV, and PlanAuditSpec pins
    * the no-Expand plan shape. */
  def prof1bApproxProfile(s: SparkSession, dir: String): DataFrame =
    profileWith(s, dir, approx_count_distinct(_))

  val HistBuckets = 20

  /** prof2: equi-width histogram of l_extendedprice — global min/max
    * from a 1-row broadcast (r4's pattern, no driver collect), then a
    * bucketed count+sum aggregate on the same scan lineage. Bucket
    * math is written identically in the oracle so IEEE doubles land
    * in the same bucket in both engines. */
  def prof2Histogram(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
    val bounds = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val b = least(
      floor((col("x") - col("lo")) * lit(HistBuckets) / (col("hi") - col("lo"))),
      lit(HistBuckets - 1)).cast("long")
    li.crossJoin(broadcast(bounds))
      .select(b.as("bucket"), col("x"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), Cols.moneySum(Cols.dec2(col("x"))).as("sum_x"))
      .orderBy("bucket")
  }

  val DepthBuckets = 10 // equi-depth bucket count for prof11
  /** Grouped-rank fan-out floor (small inputs still spread over the
    * local[32] cores) and the target per-bucket row mass that sizes
    * the fan-out ABOVE the floor. Each rank bucket is one window
    * partition sorted by one task: 2M rows of (v, tb1, tb2) ≈ 50 MB
    * task state, safely inside executor memory at any scale factor. */
  val RankFanoutFloor = 32
  val RankTargetRows = 2000000L
  /** Data-proportional grouped-rank fan-out (r13 verdict ask #1): the
    * bucket count grows with the row count so the per-bucket
    * `row_number` partition stays bounded at ~[[RankTargetRows]] rows
    * at ANY scale factor — a constant fan-out re-creates the global
    *-sort scale-killer once n/constant outgrows a task. Capped at 1M
    * buckets (the cut array and offset table stay broadcast-sized:
    * 100 TB grain ⇒ ~3·10⁵ buckets, well under the cap). */
  private[graft] def rankFanoutFor(n: Long): Int =
    math.max(RankFanoutFloor.toLong,
      math.min((n + RankTargetRows - 1) / RankTargetRows, 1000000L)).toInt

  /** prof11's approx rank cuts, MATERIALIZED (localCheckpoint — r13
    * advice #2): the 1-row cut array is consumed by the offset, rank,
    * and histogram subplans, and global-rank correctness requires all
    * of them to see the SAME sketch draw — approx_percentile is
    * partial-merge-order sensitive, so without an explicit pin that
    * consistency would rest on BroadcastExchange reuse staying
    * enabled (the qc2Calibration base-frame discipline). The grouped-
    * rank cuts are engine-only bucketing aids (they cannot move the
    * result), but INCONSISTENT cuts across consumers would silently
    * corrupt every global rank. Spec-visible hook: ProfilingSpec
    * asserts the returned frame reads a materialized RDD, not a live
    * recomputable sketch plan. */
  private[graft] def prof11PinnedCuts(x: DataFrame, fanout: Int): DataFrame = {
    val fq = (1 until fanout).map(_.toDouble / fanout)
    x.agg(percentile_approx(col("v"),
        typedlit(fq.toArray), lit(math.max(10000, 4 * fanout))).as("bs"))
      .localCheckpoint()
  }

  /** prof11: equi-DEPTH histogram of l_extendedprice — the OTHER
    * ANALYZE histogram (prof2 is equi-width): bucket boundaries at
    * value deciles, so every bucket holds ~equal row mass and the
    * boundaries THEMSELVES are the selectivity model (an optimizer
    * estimates range predicates by interpolating bucket fractions —
    * equi-width wastes resolution on empty ranges when the
    * distribution is skewed). The cuts are the EXACT deciles, but NOT
    * via the single-buffer `percentile` aggregate: a global exact
    * percentile of a fact-scale column funnels every value through
    * one final aggregation buffer — the same class as the banned
    * fact-scale ntile (w11's lesson; the first cut of this operator
    * measured 3.8 s at sf0.1 and would OOM the buffer at 100 TB).
    * Instead the w11 grouped-rank scaffold ranks the column
    * distributed (approx_percentile cuts — an ENGINE-ONLY bucketing
    * aid that cannot affect the result — + per-bucket row_number +
    * bounded offset frame), the 9 deciles interpolate between the two
    * bracketing GLOBAL RANKS with `percentile`'s own formula
    * (lower + (upper − lower)·frac at position p·(n−1)), and the 18
    * bracketing rows are fetched by ONE broadcast rank join. Cuts
    * round to 4dp pre-broadcast so both engines bucket identical
    * doubles; per bucket: row count, min/max, exact NDV.
    *
    * Scale posture (r13 verdict ask #1): the fan-out is DATA-
    * PROPORTIONAL ([[rankFanoutFor]] — one exact count sizes it at
    * ~[[RankTargetRows]] rows/bucket with a [[RankFanoutFloor]]
    * floor), bucket assignment is the native O(log B) binary search
    * ([[org.apache.spark.sql.graft.SearchSortedD]] — the HOF filter
    * fold would pay B lambda dispatches per row once B is 10⁵ at
    * 100 TB), and the approx cut frame is localCheckpoint-pinned
    * (r13 advice #2) so the offset, rank, and count subplans can
    * NEVER see different sketch outputs even if exchange reuse is
    * disabled — cut divergence across consumers would silently skew
    * every global rank. The count that sizes the fan-out also feeds
    * the decile positions as 9 rows of driver-computed constants
    * (p·(n−1) on bounded metadata — the centroid-literal pattern).
    * Two deliberate rescans stay: the final histogram pass re-reads
    * the single pruned column rather than caching a fact-scale frame
    * (a 100 TB cache is not a plan), and countDistinct(v) per bucket
    * plans as one two-stage partial-distinct aggregate at (bucket, v)
    * grain — map-side dedup bounds it by per-bucket NDV, with no
    * Expand since it is the only distinct aggregate. Sealed r14:
    * 2.14 s at sf0.1 (r13 sealed 3.50 s with the O(B) HOF assignment
    * and the extra offs/n1 subplans; first cut: 3.8 s global form). */
  def prof11DepthHistogram(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"),
      col("l_orderkey").as("tb1"), col("l_linenumber").as("tb2"))
    // exact count sizes the fan-out AND anchors p·(n−1). r16 (verdict
    // ask #5): x is the UNFILTERED table, so the exact count comes
    // from the parquet FOOTERS (k19's metadata plane) instead of a
    // whole-column scan — one fewer fact pass, same number by
    // construction (ProfilingSpec pins footer count == count(*)).
    val n = graft.sources.Sources.parquetRowCount(s, s"$dir/lineitem.parquet")
    require(n > 0, "prof11 over an empty column")
    prof11Core(s, x, n, rankFanoutFor(n))
  }

  /** prof11's plan with an EXPLICIT fan-out — the spec hook proving
    * the grouped-rank bucketing is engine-only: ProfilingSpec runs
    * the identical frame at several fan-outs (below, at, and above
    * the floor) and asserts bit-identical output, which is exactly
    * the property that lets [[rankFanoutFor]] grow with the data
    * without ever moving a result. */
  private[graft] def prof11Core(s: SparkSession, x: DataFrame, n: Long,
      fanout: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.SearchSortedExpr.searchSorted
    val bounds = prof11PinnedCuts(x, fanout)
    val bucketed = x.crossJoin(broadcast(bounds)) // 1-row bounded metadata
      .withColumn("bkt", searchSorted(col("bs"), col("v")))
      .drop("bs")
    // bucket mass + offsets, localCheckpoint-pinned like the cuts: the
    // tiny (fanout-row) frame is consumed by BOTH the needed-bucket
    // prune and the global-rank join below, and materializing it keeps
    // the second consumer from re-running the bucket-count aggregate
    // over the fact scan.
    val offs = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("m"))
      .withColumn("off", coalesce(sum(col("m")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"), col("m"))
      .localCheckpoint()
    // the 9 decile positions: p·(n−1) 0-based ⇒ bracketing 1-based
    // ranks lo0+1 and lo0+2, interpolation weight frac = pos − lo0
    // (9 rows of constants from the exact count — bounded metadata)
    val qs = (1 until DepthBuckets).map(_.toDouble / DepthBuckets)
    import s.implicits._
    val marks = qs.map { p =>
      val pos = p * (n - 1)
      val lo0 = math.floor(pos)
      (p, pos - lo0, lo0.toLong + 1L, math.min(lo0.toLong + 2L, n))
    }.toDF("p", "frac", "r_lo", "r_hi")
    // r15 opt (guide §2.3 — shuffle fewer bytes): only the ≤ 2·9
    // buckets whose [off+1, off+m] rank range brackets a decile mark
    // can contribute a picked row, so the per-bucket row_number sort
    // runs over JUST those buckets instead of the whole column. The
    // prune drops whole window partitions, which cannot change the
    // within-bucket rank of any surviving row, and every r_lo/r_hi
    // rank lands in a kept bucket by construction — output
    // bit-identical (oracle + ProfilingSpec fan-out sweep re-verified).
    // At the 100 TB grain this bounds the ranked sort at ~18 buckets ×
    // ~2M rows regardless of column size.
    def inBkt(r: org.apache.spark.sql.Column) =
      r > col("off") && r <= col("off") + col("m")
    val needed = offs.join(broadcast(marks),
        inBkt(col("r_lo")) || inBkt(col("r_hi")))
      .select(col("bkt")).distinct()
    val wb = Window.partitionBy(col("bkt"))
      .orderBy(col("v"), col("tb1"), col("tb2"))
    val ranked = bucketed.join(broadcast(needed), Seq("bkt"))
      .withColumn("k", row_number().over(wb))
      .join(broadcast(offs.select(col("bkt"), col("off"))), Seq("bkt"))
      .select(col("v"), (col("off") + col("k")).as("i"))
    val picked = ranked.join(broadcast(marks),
        col("i") === col("r_lo") || col("i") === col("r_hi"))
      .groupBy(col("p"), col("frac"))
      .agg(max(when(col("i") === col("r_lo"), col("v"))).as("v_lo"),
        max(when(col("i") === col("r_hi"), col("v"))).as("v_hi"))
      // percentile's interpolation tree: lower + (upper − lower)·frac
      .select(col("p"),
        round(col("v_lo") + (col("v_hi") - col("v_lo")) * col("frac"), 4)
          .as("cut"))
    val cuts = picked.agg(expr(
      "transform(array_sort(collect_list(struct(p, cut))), s -> s.cut)")
      .as("cs"))
    // Cols.spread (wave 4): the histogram pass's countDistinct
    // partials otherwise hash 600k values on the one-row-group scan's
    // single task; the spread shuffle carries ONE double per row
    graft.Cols.spread(x.select(col("v")))
      .crossJoin(broadcast(cuts)) // 1-row bounded metadata
      .withColumn("bucket", searchSorted(col("cs"), col("v")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("v")), 4).as("lo"),
        round(max(col("v")), 4).as("hi"),
        countDistinct(col("v")).as("ndv"))
      .orderBy("bucket")
  }

  val SkewTopK = 3 // heavy keys reported per join column
  private val SkewCols = Seq("l_orderkey", "l_partkey", "l_suppkey")

  /** prof3: join-key skew audit — per join column of the fact table,
    * the key-frequency statistics that decide a shuffle-join plan
    * BEFORE it runs: distinct-key count, the heaviest keys and their
    * row counts, and the skew ratio max/avg (how many times the
    * hottest shuffle partition's key exceeds the mean). This is the
    * measurement plane behind j4's salting and the AQE skew-split
    * audit — at 100 TB one profiles first, then picks salting/AQE
    * thresholds from these numbers instead of from an incident.
    * Per column: one keyed count aggregate (map-side partials), a
    * 1-row stats aggregate of the key-frame, and a deterministic
    * top-K via TakeOrderedAndProject (count desc, key asc) — the
    * per-column frames are bounded (K rows each) before the union.
    * The column set is #columns-bounded metadata, so the loop is a
    * plan union, not a driver loop over data. */
  def prof3SkewAudit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val frames = SkewCols.map { c =>
      val counts = li.groupBy(col(c).as("key")).agg(count(lit(1)).as("cnt"))
      val stats = counts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      val top = counts.orderBy(col("cnt").desc, col("key")).limit(SkewTopK)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cnt").desc, col("key")))) // K collected rows only
      top.crossJoin(broadcast(stats)) // 1-row bounded metadata
        .select(lit(c).as("col_name"), col("rank"), col("key"), col("cnt"),
          col("n_keys"), col("max_cnt"),
          round(col("max_cnt") * col("n_keys") / col("n_rows").cast("double"), 6)
            .as("skew_ratio"))
    }
    frames.reduce(_.unionAll(_)).orderBy("col_name", "rank")
  }

  /** (left table, left key, right table, right key) per audited join */
  private val CardJoins = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"))

  /** prof4: exact join-cardinality audit — for each star-schema join,
    * the output size Σₖ n_left(k)·n_right(k), the heaviest key's pair
    * count, and the row-amplification factor: the numbers a planner
    * (or an engineer sizing a 100 TB shuffle) needs BEFORE running the
    * join, and the companion to prof3's per-side skew stats (prof3
    * profiles one side's key distribution; prof4 crosses both sides).
    * Per join: two keyed count aggregates (map-side partials) met by
    * ONE key-domain-sized FULL OUTER equi-join of aggregates — never
    * a row-grain join — then a 1-row reduction. r15 opt (guide §2.4):
    * the table totals used to attach via two extra full scans + two
    * 1-row cross joins per audited join; the full-outer join already
    * holds every key's count on each side, so left_rows = Σ nl and
    * right_rows = Σ nr fall out of the SAME 1-row reduction — six
    * fact scans and six BroadcastNestedLoop attaches dropped across
    * the three audited joins, same exact integers. */
  def prof4JoinCardinality(s: SparkSession, dir: String): DataFrame = {
    val frames = CardJoins.map { case (ln, lk, rn, rk) =>
      val left = Tables.byName(s, dir, ln)
      val right = Tables.byName(s, dir, rn)
      val l = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("nl"))
      val r = right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("nr"))
      l.join(r, Seq("k"), "full_outer")
        .agg(count(col("nl") * col("nr")).as("n_join_keys"),
          sum(col("nl") * col("nr")).as("join_rows"),
          max(col("nl") * col("nr")).as("max_key_pairs"),
          sum(col("nl")).as("left_rows"), sum(col("nr")).as("right_rows"))
        .select(lit(s"${ln}_$rn").as("join_name"),
          col("left_rows"), col("right_rows"), col("n_join_keys"),
          col("join_rows"), col("max_key_pairs"),
          round(col("join_rows") / col("left_rows").cast("double"), 6)
            .as("amplification"))
    }
    frames.reduce(_.unionAll(_)).orderBy("join_name")
  }

  /** int64 output quantization (the TimeSeries q6 / SURVEY §4 rule):
    * every step an IEEE op on bit-identical inputs, so both engines
    * land on the same double where round(double, 6) can diverge at
    * half boundaries. */
  private def q6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)

  /** (table, x column, y column) pairs audited for statistical
    * dependence — the categorical column pairs a profiler flags as
    * redundant (high NMI) or independent (NMI ≈ 0). */
  private val MiPairs = Seq(
    ("orders", "o_orderpriority", "o_orderstatus"),
    ("lineitem", "l_returnflag", "l_linestatus"))

  /** prof5: mutual information between categorical column pairs —
    * MI(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), the marginal entropies,
    * and the normalized NMI = MI/√(H(X)·H(Y)) (Strehl & Ghosh 2002's
    * form): the dependence profile behind column-redundancy pruning
    * and feature audits, one step past a16's chi² test statistic
    * (chi² answers "dependent at all?", MI answers "how many nats of
    * shared structure?"). Scale shape: per pair ONE corpus-scale keyed
    * aggregate to the (x, y) contingency cells (map-side partials;
    * cell count is the product of two bounded category domains);
    * marginals and totals derive FROM the cell frame — never a second
    * fact scan — and the final reduction is cells-sized. All count
    * arithmetic is exact int64; the ln/divide expressions are written
    * identically in the oracle (the t17 surprisal discipline), with
    * one round(·,6) at each output boundary. */
  def prof5MutualInfo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = MiPairs.map { case (t, xc, yc) =>
      // ONE TREE, ONE SCAN: marginals/totals as WINDOWS over the
      // bounded cell frame, entropies as first-in-group conditional
      // sums in the SAME final aggregate. The naive "derive xm/ym/tot
      // from cells as separate frames" reads as one scan logically,
      // but Catalyst collapses each marginal's aggregate-of-aggregate
      // into its own direct scan+aggregate and AQE gets nothing to
      // reuse — the measured plan ran FOUR fact scans per table (the
      // PlanAuditSpec row exists because of this). Every window below
      // partitions the ≤|X|·|Y|-row cell frame — bounded metadata,
      // never the fact table.
      val cells = Tables.byName(s, dir, t)
        .groupBy(col(xc).as("x"), col(yc).as("y"))
        .agg(count(lit(1)).as("cxy"))
      val w = cells
        .withColumn("cx", sum(col("cxy")).over(Window.partitionBy(col("x"))))
        .withColumn("cy", sum(col("cxy")).over(Window.partitionBy(col("y"))))
        .withColumn("n", sum(col("cxy")).over(Window.partitionBy()))
        .withColumn("rnx", row_number().over(
          Window.partitionBy(col("x")).orderBy(col("y"))))
        .withColumn("rny", row_number().over(
          Window.partitionBy(col("y")).orderBy(col("x"))))
      w.agg(
          sum(col("cxy")).as("n_rows_s"),
          sum(when(col("rnx") === 1, 1L).otherwise(0L)).as("nx"),
          sum(when(col("rny") === 1, 1L).otherwise(0L)).as("ny"),
          count(lit(1)).as("n_cells"),
          sum((col("cxy").cast("double") / col("n")) *
            log((col("cxy").cast("double") * col("n")) /
              (col("cx").cast("double") * col("cy")))).as("mi_raw"),
          (-sum(when(col("rnx") === 1,
            (col("cx").cast("double") / col("n")) *
              log(col("cx").cast("double") / col("n"))))).as("hx"),
          (-sum(when(col("rny") === 1,
            (col("cy").cast("double") / col("n")) *
              log(col("cy").cast("double") / col("n"))))).as("hy"))
        .select(lit(s"${t}.${xc}_$yc").as("pair_name"),
          col("n_rows_s").as("n_rows"), col("nx"), col("ny"), col("n_cells"),
          q6(col("mi_raw")).as("mi"),
          q6(col("hx")).as("h_x"),
          q6(col("hy")).as("h_y"),
          when(col("hx") > 0 && col("hy") > 0,
            q6(col("mi_raw") / sqrt(col("hx") * col("hy")))).as("nmi"))
    }
    frames.reduce(_.unionAll(_)).orderBy("pair_name")
  }

  /** (table, determinant X, dependent Y) candidate functional
    * dependencies — two that genuinely hold on the star schema (a
    * dimension key determines its parent key; a primary key determines
    * everything) and two that don't (the violation path must be
    * exercised too). */
  private val FdCandidates = Seq(
    ("nation", "n_nationkey", "n_regionkey"),
    ("orders", "o_orderkey", "o_custkey"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("events", "user_id", "event_type"))

  /** prof6: functional-dependency audit — does X → Y hold (every X
    * value maps to exactly one Y)? The FD-discovery primitive behind
    * normalization checks, key detection and "is this column
    * derivable" profiling (Papenbrock et al., VLDB 2015 frame the
    * search problem; this is the verification kernel it repeats). Per
    * candidate: distinct (X,Y) pairs via one keyed aggregate
    * (map-side partials), then distinct-Y-per-X from that pair frame
    * — a two-level aggregate, everything combinable, the final
    * reduction one row; all-integer counts ⇒ bit-exact. At 100 TB
    * |X| can be key-sized — still one shuffle at (X,Y) grain and one
    * at X grain, never a row-grain join. */
  def prof6FunctionalDependency(s: SparkSession, dir: String): DataFrame = {
    val frames = FdCandidates.map { case (t, xc, yc) =>
      Tables.byName(s, dir, t)
        .groupBy(col(xc).as("x"), col(yc).as("y"))
        .agg(count(lit(1)).as("nrows"))
        .groupBy(col("x"))
        .agg(count(lit(1)).as("ys"), sum(col("nrows")).as("xrows"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(col("ys")).as("n_pairs"),
          sum(when(col("ys") > 1, 1L).otherwise(0L)).as("n_violating_lhs"),
          max(col("ys")).as("max_y_per_x"))
        .select(lit(s"$t.$xc->$yc").as("fd"),
          col("n_lhs"), col("n_pairs"), col("n_violating_lhs"),
          col("max_y_per_x"),
          q6(col("n_violating_lhs").cast("double") / col("n_lhs"))
            .as("violation_rate"),
          when(col("n_violating_lhs") === 0, 1).otherwise(0).as("holds"))
    }
    frames.reduce(_.unionAll(_)).orderBy("fd")
  }

  /** Benford first-digit expectations log10(1 + 1/d), HOST-computed
    * doubles interpolated into BOTH plans (the g2 OneMinusDamping
    * rule): each engine parses the identical decimal literal instead
    * of evaluating its own log10. */
  private val BenfordP: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** prof7: Benford first-significant-digit audit of l_extendedprice —
    * the classic fraud/synthetic-data screen (Benford 1938; Nigrini's
    * audit use): observed leading-digit shares against log10(1+1/d)
    * with per-digit χ² contributions. The digit is extracted WITHOUT
    * log10-at-runtime: prices are exact cents after the money
    * quantization (floor(x·100+0.5), one IEEE op), and the leading
    * digit of the cents integer IS the leading significant digit of
    * the price — integer/string ops both engines reproduce bit-exactly
    * (a runtime floor(log10(x)) could flip at exact powers of ten).
    * Scale shape: ONE scan → 9-group aggregate (map-side partials);
    * the total attaches as a broadcast 1-row aggregate (prof2's
    * pattern). Output is 9 rows regardless of table size. */
  def prof7Benford(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val cents = floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
    val counts = li.select(substring(cents.cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_rows"))
    val expected = BenfordP.tail.foldLeft(
      when(col("digit") === BenfordP.head._1, lit(BenfordP.head._2))) {
      case (acc, (d, p)) => acc.when(col("digit") === d, lit(p))
    }
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"), col("n_rows"),
        q6(col("n").cast("double") / col("n_rows")).as("share"),
        q6(expected).as("expected_p"),
        q6(((col("n").cast("double") - col("n_rows") * expected) *
          (col("n").cast("double") - col("n_rows") * expected)) /
          (col("n_rows") * expected)).as("chi2_term"))
      .orderBy("digit")
  }

  /** Column pairs profiled by prof8 (all 2-combinations of the measure
    * columns, the prof1 set). */
  private val CorrPairs: Seq[(String, String)] =
    ProfiledCols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq

  /** prof8: exact Pearson correlation matrix over the fact table's
    * measure columns — the redundancy screen a profiler runs beside
    * prof5's categorical NMI (numeric columns this time). Determinism
    * is the whole design: a naive corr() sums doubles in partial-
    * aggregate merge order (run-to-run nondeterministic), so each
    * value is first quantized to exact integer cents (floor(x·100+0.5),
    * the repo-wide money grain) and every moment — Σx, Σx², Σxy — is
    * an EXACT DECIMAL(38,0) sum (order-free); the Pearson formula then
    * runs on their correctly-rounded double casts in a fixed IEEE
    * order both engines reproduce, q6 at the boundary. Scale shape:
    * ONE scan, ONE 1-row aggregate carrying all k + k + C(k,2) moments
    * (map-side partials), unpivoted to pair rows via stack() — prof1's
    * scaffold. 100 TB cost = the scan; output is C(k,2) rows. */
  def prof8NumericCorr(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def qcents(c: String) = floor(col(c) * lit(100.0) + lit(0.5)).cast("long")
    def d38(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))
    val moments = count(lit(1)).as("n") +:
      (ProfiledCols.flatMap { c =>
        Seq(sum(d38(qcents(c))).as(s"s_$c"),
          sum(d38(qcents(c) * qcents(c))).as(s"ss_$c"))
      } ++ CorrPairs.map { case (a, b) =>
        sum(d38(qcents(a) * qcents(b))).as(s"sp_${a}_$b")
      })
    val one = li.agg(moments.head, moments.tail: _*)
    val stackArgs = CorrPairs.map { case (a, b) =>
      s"'${a}_$b', CAST(s_$a AS DOUBLE), CAST(ss_$a AS DOUBLE), " +
        s"CAST(s_$b AS DOUBLE), CAST(ss_$b AS DOUBLE), CAST(sp_${a}_$b AS DOUBLE)"
    }.mkString(", ")
    one.selectExpr("CAST(n AS DOUBLE) AS nd", "n",
        s"stack(${CorrPairs.size}, $stackArgs) AS (pair_name, sx, sxx, sy, syy, sxy)")
      .select(col("pair_name"), col("n"),
        q6((col("nd") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("nd") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("nd") * col("syy") - col("sy") * col("sy")))).as("pearson_r"))
      .orderBy("pair_name")
  }

  val GapBucketShift = 7 // 128-key buckets for the prof9 gap sweep
  val GapTopK = 20

  /** prof9: islands-and-gaps key audit — the missing-range report a
    * completeness monitor runs over any supposedly-contiguous key
    * subsequence (here: 'F'-status orderkeys; at 100 TB: ingest
    * sequence numbers, partition date spines). NOT a single global
    * lead() window: keys bucket by k >> [[GapBucketShift]]
    * (value-banded, deterministic), in-bucket gaps come from a
    * per-bucket lead (bounded 128-row partitions), and cross-bucket
    * gaps from a lead over the bucket-grain (min, max) frame — 128×
    * smaller; if the keyspace is so large that even the bucket frame
    * overflows, the same split applies recursively (bucket the
    * buckets). Top-[[GapTopK]] by (len desc, start) compiles to
    * TakeOrderedAndProject — no global sort. */
  def prof9IdGaps(s: SparkSession, dir: String): DataFrame = {
    val k = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("k")).distinct()
      .withColumn("bkt", shiftright(col("k"), GapBucketShift))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("k"))
    val inner = k.withColumn("nxt", lead(col("k"), 1).over(wIn))
      .filter(col("nxt") - col("k") > 1)
      .select((col("k") + 1).as("gap_start"),
        (col("nxt") - 1).as("gap_end"))
    // bucket-grain frame: one row per nonempty bucket (bounded
    // metadata relative to the key frame)
    val bf = k.groupBy(col("bkt"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    val cross = bf
      .withColumn("nmn", lead(col("mn"), 1).over(Window.orderBy(col("bkt"))))
      .filter(col("nmn") - col("mx") > 1)
      .select((col("mx") + 1).as("gap_start"),
        (col("nmn") - 1).as("gap_end"))
    inner.unionAll(cross)
      .select(col("gap_start"), col("gap_end"),
        (col("gap_end") - col("gap_start") + 1).as("gap_len"))
      .orderBy(col("gap_len").desc, col("gap_start"))
      .limit(GapTopK)
  }

  /** The categorical columns prof10 profiles (table, column). */
  val EntropyCols: Seq[(String, String)] = Seq(
    ("customer", "c_mktsegment"), ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"), ("documents", "lang"))

  /** prof10: per-column Shannon entropy for the categorical domains —
    * the concentration companion to prof1's NDV (NDV says how many
    * values, entropy says how evenly they carry the mass; normalized
    * H/ln(NDV) is the optimizer's "is this column skewed" one-number
    * answer, and the same statistic mix1 reads on the source column
    * before weighting). One keyed aggregate per column (output
    * bounded by the value domain), totals attach as a broadcast 1-row
    * frame, and each value's p·ln p contribution is int64-quantized
    * at 1e-9 before the order-free per-column fold (the g2 rq
    * discipline — naive sum(double) would be partial-merge-order
    * dependent). NULL counts as a VALUE on both sides: the engine's
    * group-count NDV naturally includes a NULL group, and the oracle
    * adds the NULL indicator to COUNT(DISTINCT) (which excludes
    * NULLs) so the two agree on any corpus where a profiled column
    * goes nullable (r12 advice #2). */
  def prof10Entropy(s: SparkSession, dir: String): DataFrame =
    EntropyCols.map { case (t, c) =>
      val counts = Tables.byName(s, dir, t)
        .select(col(c).cast("string").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("ndv"))
      val p = col("cnt").cast("double") / col("n")
      counts.crossJoin(broadcast(tot)) // 1-row bounded metadata
        .select(col("n"), col("ndv"),
          floor(p * log(p) * lit(1e9) + lit(0.5)).cast("long").as("term"))
        .groupBy(col("n"), col("ndv"))
        .agg(sum(col("term")).as("sq"))
        .select(lit(s"$t.$c").as("col_name"), col("n").as("n_rows"),
          col("ndv").as("n_distinct"),
          round(-(col("sq").cast("double") / lit(1e9)), 6).as("entropy"),
          when(col("ndv") > 1,
            round(-(col("sq").cast("double") / lit(1e9))
              / log(col("ndv").cast("double")), 6)).as("norm_entropy"))
    }.reduce(_ unionAll _).orderBy("col_name")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "prof9_id_gaps" -> (prof9IdGaps _),
    "prof10_entropy" -> (prof10Entropy _),
    "prof11_depth_histogram" -> (prof11DepthHistogram _),
    "prof7_benford" -> (prof7Benford _),
    "prof8_numeric_corr" -> (prof8NumericCorr _),
    "prof5_mutual_info" -> (prof5MutualInfo _),
    "prof6_functional_dependency" -> (prof6FunctionalDependency _),
    "prof1_column_profile" -> (prof1ColumnProfile _),
    "prof1b_approx_profile" -> (prof1bApproxProfile _),
    "prof2_histogram" -> (prof2Histogram _),
    "prof3_skew_audit" -> (prof3SkewAudit _),
    "prof4_join_cardinality" -> (prof4JoinCardinality _))

  private def prof1OracleFor(c: String): String =
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
       |  count(*) - count($c) AS n_nulls,
       |  count(DISTINCT $c) AS n_distinct,
       |  min($c) AS min_v, max($c) AS max_v,
       |  CAST(sum(CAST($c AS DECIMAL(12,2))) AS DOUBLE) AS sum_v
       |FROM lineitem""".stripMargin

  private def prof4OracleFor(ln: String, lk: String, rn: String,
      rk: String): String =
    s"""SELECT '${ln}_$rn' AS join_name, lt.n AS left_rows,
       |  rt.n AS right_rows, j.nk AS n_join_keys, j.jr AS join_rows,
       |  j.mk AS max_key_pairs,
       |  round(j.jr / CAST(lt.n AS DOUBLE), 6) AS amplification
       |FROM (SELECT count(*) AS nk, CAST(sum(nl * nr) AS BIGINT) AS jr,
       |    CAST(max(nl * nr) AS BIGINT) AS mk
       |  FROM (SELECT $lk AS k, count(*) AS nl FROM $ln GROUP BY 1) l
       |  JOIN (SELECT $rk AS k, count(*) AS nr FROM $rn GROUP BY 1) r
       |    USING (k)) j
       |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM $ln) lt
       |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM $rn) rt""".stripMargin

  /** One pair's MI/entropy block; CTE names prefixed so two pairs can
    * share a single WITH. Expressions mirror the Spark plan 1:1 (same
    * casts, same ln arguments, same q6 quantization). */
  private def prof5OracleFor(p: String, t: String, xc: String,
      yc: String): (String, String) = {
    val ctes =
      s"""${p}cells AS (SELECT $xc AS x, $yc AS y, count(*) AS cxy
         |  FROM $t GROUP BY 1, 2),
         |${p}w AS (SELECT x, y, cxy,
         |    CAST(sum(cxy) OVER (PARTITION BY x) AS BIGINT) AS cx,
         |    CAST(sum(cxy) OVER (PARTITION BY y) AS BIGINT) AS cy,
         |    CAST(sum(cxy) OVER () AS BIGINT) AS n,
         |    row_number() OVER (PARTITION BY x ORDER BY y) AS rnx,
         |    row_number() OVER (PARTITION BY y ORDER BY x) AS rny
         |  FROM ${p}cells),
         |${p}a AS (SELECT CAST(sum(cxy) AS BIGINT) AS n_rows,
         |    CAST(sum(CASE WHEN rnx = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nx,
         |    CAST(sum(CASE WHEN rny = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ny,
         |    count(*) AS n_cells,
         |    sum((CAST(cxy AS DOUBLE) / n) *
         |      ln((CAST(cxy AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy)))
         |      AS mi_raw,
         |    -sum(CASE WHEN rnx = 1 THEN (CAST(cx AS DOUBLE) / n)
         |      * ln(CAST(cx AS DOUBLE) / n) END) AS hx,
         |    -sum(CASE WHEN rny = 1 THEN (CAST(cy AS DOUBLE) / n)
         |      * ln(CAST(cy AS DOUBLE) / n) END) AS hy
         |  FROM ${p}w)""".stripMargin
    val sel =
      s"""SELECT '$t.${xc}_$yc' AS pair_name, n_rows, nx, ny, n_cells,
         |  CAST(floor(mi_raw * 1e6 + 0.5) AS BIGINT) / 1e6 AS mi,
         |  CAST(floor(hx * 1e6 + 0.5) AS BIGINT) / 1e6 AS h_x,
         |  CAST(floor(hy * 1e6 + 0.5) AS BIGINT) / 1e6 AS h_y,
         |  CASE WHEN hx > 0 AND hy > 0 THEN
         |    CAST(floor(mi_raw / sqrt(hx * hy) * 1e6 + 0.5) AS BIGINT) / 1e6
         |  END AS nmi
         |FROM ${p}a""".stripMargin
    (ctes, sel)
  }

  private def prof6OracleFor(t: String, xc: String, yc: String): String =
    s"""SELECT '$t.$xc->$yc' AS fd, count(*) AS n_lhs,
       |  CAST(sum(ys) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN ys > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_violating_lhs,
       |  CAST(max(ys) AS BIGINT) AS max_y_per_x,
       |  CAST(floor(CAST(sum(CASE WHEN ys > 1 THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*) * 1e6 + 0.5) AS BIGINT) / 1e6
       |    AS violation_rate,
       |  CASE WHEN sum(CASE WHEN ys > 1 THEN 1 ELSE 0 END) = 0
       |    THEN 1 ELSE 0 END AS holds
       |FROM (SELECT $xc AS x, count(DISTINCT $yc) AS ys
       |      FROM $t GROUP BY 1)""".stripMargin

  def oracles: Map[String, String] = Map(
    "prof11_depth_histogram" -> {
      val qs = (1 until DepthBuckets).map(_.toDouble / DepthBuckets)
      s"""WITH x AS (SELECT l_extendedprice AS v FROM lineitem),
         |cuts AS (SELECT list_transform(quantile_cont(v,
         |    [${qs.mkString(",")}]), c -> round(c, 4)) AS cs FROM x),
         |b AS (SELECT v, len(list_filter(cs, c -> v > c)) AS bucket
         |  FROM x CROSS JOIN cuts)
         |SELECT bucket, COUNT(*) AS n,
         |  round(MIN(v), 4) AS lo, round(MAX(v), 4) AS hi,
         |  COUNT(DISTINCT v) AS ndv
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "prof10_entropy" -> EntropyCols.map { case (t, c) =>
      s"""SELECT '$t.$c' AS col_name, n AS n_rows, ndv AS n_distinct,
         |  round(-(CAST(sq AS DOUBLE) / 1e9), 6) AS entropy,
         |  CASE WHEN ndv > 1 THEN round(-(CAST(sq AS DOUBLE) / 1e9)
         |    / ln(CAST(ndv AS DOUBLE)), 6) END AS norm_entropy
         |FROM (SELECT n, ndv, CAST(SUM(term) AS BIGINT) AS sq
         |  FROM (SELECT CAST(floor((CAST(cnt AS DOUBLE) / n)
         |      * ln(CAST(cnt AS DOUBLE) / n) * 1e9 + 0.5) AS BIGINT) AS term,
         |      n, ndv
         |    FROM (SELECT CAST($c AS VARCHAR) AS v, COUNT(*) AS cnt
         |          FROM $t GROUP BY 1)
         |    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(COUNT(DISTINCT $c)
         |          + MAX(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
         |          AS BIGINT) AS ndv FROM $t))
         |  GROUP BY n, ndv)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "prof9_id_gaps" ->
      s"""WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders
         |  WHERE o_orderstatus = 'F'),
         |g AS (SELECT k, lead(k) OVER (ORDER BY k) AS nxt FROM k)
         |SELECT k + 1 AS gap_start, nxt - 1 AS gap_end,
         |  nxt - k - 1 AS gap_len
         |FROM g WHERE nxt - k > 1
         |ORDER BY gap_len DESC, gap_start LIMIT $GapTopK""".stripMargin,
    "prof7_benford" -> {
      // the expected-p CASE interpolates the HOST-computed doubles —
      // DuckDB parses the identical decimal literals Spark folded
      val pcase = "CASE digit " + BenfordP.map { case (d, p) =>
        s"WHEN $d THEN $p" }.mkString(" ") + " END"
      def q6s(e: String) = s"CAST(floor(($e) * 1e6 + 0.5) AS BIGINT) / 1e6"
      s"""WITH c AS (SELECT CAST(substring(CAST(CAST(floor(
         |    l_extendedprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR), 1, 1)
         |    AS INT) AS digit FROM lineitem),
         |g AS (SELECT digit, count(*) AS n FROM c GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows FROM g)
         |SELECT digit, n, n_rows,
         |  ${q6s("CAST(n AS DOUBLE) / n_rows")} AS share,
         |  ${q6s(pcase)} AS expected_p,
         |  ${q6s(s"((CAST(n AS DOUBLE) - n_rows * $pcase) * " +
        s"(CAST(n AS DOUBLE) - n_rows * $pcase)) / (n_rows * $pcase)")}
         |    AS chi2_term
         |FROM g, t ORDER BY digit""".stripMargin
    },
    "prof8_numeric_corr" -> {
      def qc(c: String) = s"CAST(floor($c * 100.0 + 0.5) AS BIGINT)"
      val moments = ProfiledCols.flatMap { c =>
        Seq(s"CAST(sum(${qc(c)}) AS DOUBLE) AS s_$c",
          s"CAST(sum(${qc(c)} * ${qc(c)}) AS DOUBLE) AS ss_$c")
      } ++ CorrPairs.map { case (a, b) =>
        s"CAST(sum(${qc(a)} * ${qc(b)}) AS DOUBLE) AS sp_${a}_$b"
      }
      val rows = CorrPairs.map { case (a, b) =>
        s"""SELECT '${a}_$b' AS pair_name, n,
           |  CAST(floor((CAST(n AS DOUBLE) * sp_${a}_$b - s_$a * s_$b) /
           |    (sqrt(CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a) *
           |     sqrt(CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)) * 1e6 + 0.5)
           |    AS BIGINT) / 1e6 AS pearson_r FROM m""".stripMargin
      }
      s"""WITH m AS (SELECT count(*) AS n, ${moments.mkString(",\n  ")}
         |  FROM lineitem)
         |SELECT * FROM (
         |${rows.mkString("\nUNION ALL\n")}
         |) ORDER BY pair_name""".stripMargin
    },
    "prof6_functional_dependency" ->
      (FdCandidates.map { case (t, xc, yc) => prof6OracleFor(t, xc, yc) }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n)") +
        " ORDER BY fd"),
    "prof5_mutual_info" -> {
      val blocks = MiPairs.zipWithIndex.map { case ((t, xc, yc), i) =>
        prof5OracleFor(s"p$i", t, xc, yc)
      }
      "WITH " + blocks.map(_._1).mkString(",\n") +
        "\nSELECT * FROM (\n" + blocks.map(_._2).mkString("\nUNION ALL\n") +
        "\n) ORDER BY pair_name"
    },
    "prof4_join_cardinality" ->
      (CardJoins.map { case (ln, lk, rn, rk) => prof4OracleFor(ln, lk, rn, rk) }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n)") +
        " ORDER BY join_name"),
    "prof1_column_profile" ->
      (ProfiledCols.map(prof1OracleFor).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n)") +
        " ORDER BY col_name"),
    "prof3_skew_audit" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, rank, key, cnt, n_keys, max_cnt,
           |  round(max_cnt * n_keys / CAST(n_rows AS DOUBLE), 6) AS skew_ratio
           |FROM (
           |  SELECT key, cnt,
           |    row_number() OVER (ORDER BY cnt DESC, key) AS rank
           |  FROM (SELECT $c AS key, CAST(count(*) AS BIGINT) AS cnt
           |        FROM lineitem GROUP BY 1)
           |) CROSS JOIN (
           |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
           |    CAST(sum(cnt) AS BIGINT) AS n_rows,
           |    CAST(max(cnt) AS BIGINT) AS max_cnt
           |  FROM (SELECT count(*) AS cnt FROM lineitem GROUP BY $c))
           |WHERE rank <= $SkewTopK""".stripMargin
      SkewCols.map(one).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n)") +
        " ORDER BY col_name, rank"
    },
    "prof2_histogram" ->
      s"""WITH bounds AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem)
         |SELECT CAST(least(floor((l_extendedprice - lo) * $HistBuckets / (hi - lo)), $HistBuckets - 1) AS BIGINT) AS bucket,
         |       count(*) AS n,
         |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_x
         |FROM lineitem, bounds
         |GROUP BY 1 ORDER BY bucket""".stripMargin)
}
