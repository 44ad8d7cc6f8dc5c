package graft.operators

import graft.{Cols, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Warehouse analytics core (SURVEY §2 rows 13-23): the Spark SQL
  * surface the north star mandates (BASELINE.json "Spark SQL + Hive
  * metastore access" ≈ data-warehouse query shapes, TPC-H style).
  *
  * Scale design: dimension tables broadcast (region/nation/supplier/
  * customer are tiny relative to facts), fact joins shuffle on keys
  * with AQE; aggregates are partial (map-side combine); money math is
  * exact DECIMAL per SURVEY §4.
  */
object Analytics {

  private def revenue = // l_extendedprice * (1 - l_discount), exact
    Cols.dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(4, 2)) -
      Cols.rate(col("l_discount")))

  /** TPC-H Q1 — grouped pricing summary, decimal-exact. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Cols.moneySum(Cols.dec2(col("l_quantity"))).as("sum_qty"),
        Cols.moneySum(Cols.dec2(col("l_extendedprice"))).as("sum_base_price"),
        Cols.moneySum(revenue).as("sum_disc_price"),
        Cols.moneySum(revenue * (lit(1).cast(DecimalType(4, 2)) +
          Cols.rate(col("l_tax")))).as("sum_charge"),
        (sum(Cols.dec2(col("l_quantity"))).cast("double") /
          count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3 — shipping priority: 3-way join + agg + top-K.
    * customer is the small side, but it grows linearly with scale
    * factor (~15 B rows at a 100 TB TPC-H), so the join strategy is
    * LEFT TO CBO/AQE rather than pinned with a hint: at bench scale
    * the planner picks BroadcastHashJoin (audited in PlanAuditSpec),
    * at 100 TB it degrades gracefully to a shuffle join instead of
    * OOMing the build side. The orders⋈lineitem join shuffles on the
    * order key either way. */
  def q3TopkRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    cust
      .join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(Cols.moneySum(revenue).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        Cols.fmtDate(col("o_orderdate")).as("o_orderdate"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5 — local supplier revenue: 6-way join; lineitem⋈orders
    * shuffles once. Broadcast policy (SURVEY §5): only the BOUNDED
    * dims (region⋈nation — 5×25 rows at ANY scale factor) carry an
    * explicit hint; customer and supplier are sf-linear, so their
    * strategy is left to CBO/AQE — BroadcastHashJoin at bench scale
    * (audited in PlanAuditSpec), shuffle-hash at 100 TB. */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val asia = broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")
      .join(Tables.nation(s, dir), col("n_regionkey") === col("r_regionkey")))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    Tables.lineitem(s, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .join(asia, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(Cols.moneySum(revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** TPC-H Q7 — volume shipping between two nations: the widest join
    * graph in the surface (lineitem ⋈ supplier ⋈ orders ⋈ customer ⋈
    * nation ×2). Both nation-tagged dimension sides carry the nation
    * filter applied BEFORE the join (the fact stream shrinks at the
    * earliest point); the only shuffle join is lineitem ⋈ orders on
    * the order key. supplier and customer are sf-linear (a 2-nation
    * slice of 15 B customers is still ~1 B rows at 100 TB), so their
    * join strategy is left to CBO/AQE — the inner nation frames are
    * bounded and broadcast by hint. The year comes from l_shipdate so
    * no second date dimension is needed. */
  def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2")
    val nations = Tables.nation(s, dir)
      .filter(col("n_name").isin(pair: _*))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(nations.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(s, dir)
      .join(broadcast(nations.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("c_nk"))
      .select("c_custkey", "cust_nation")
    Tables.lineitem(s, dir)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation")) // cross-nation flows only
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Cols.moneySum(revenue).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q8: cheapest supplier per part — the TPC-H Q2 correlated-min
    * shape (min supply cost per part, then the row achieving it)
    * re-expressed WITHOUT the correlated subquery or a window: one
    * a packed argmin aggregate per part gives the argmin with a
    * deterministic min-suppkey tie-break. That is partial-aggregable
    * (map-side combine), so at 100 TB it costs one shuffle of one
    * small value per part — a window formulation would sort every
    * lineitem row inside each partition instead.
    *
    * The pack (an r15 optimization, guide §4 "expressions and
    * codegen"): `min(struct(price, suppkey))` has a struct-typed
    * aggregation buffer, which whole-stage HashAggregate cannot hold
    * (structs are not mutable UnsafeRow fields), so Spark planned a
    * SortAggregate — TWO full sorts of the fact scan (plan-audited
    * before/after in plans/r15). Both components are bounded
    * non-negative integers after quantization — price is an exact
    * decimal(19,4) so price·10⁴ is an exact int < 2³¹ (TPC-H line
    * prices are < ~1.2e5 at every scale factor: quantity ≤ 50 ×
    * part retail price, which cycles below 2101), and suppkey < 2³²
    * (10⁹ suppliers at sf100k) — so the lexicographic
    * (price, suppkey) order IS the numeric order of the single long
    * `price_q·2³² + suppkey`, which min() folds in pure codegen.
    * (A decimal(38,0)·10¹⁸ pack was measured first and REJECTED:
    * wider bounds, but 128-bit decimal min runs on the object path
    * and benched 35% slower than the struct SortAggregate it
    * replaced.) `min(price_q)` rides the same aggregate to recover
    * the price without unpacking arithmetic (it always equals the
    * packed min's price component, because packed order sorts price
    * first). best_price is bit-identical to the struct formulation:
    * price_q < 2³¹ is exact in double and /1e4 is one correctly-
    * rounded IEEE op, the same double the decimal(19,4)→double cast
    * produced. The part names attach after the fact side has
    * collapsed to one row per part; part is sf-linear (~20 B rows at
    * 100 TB) so the join strategy is CBO/AQE's call, not a pinned
    * broadcast. */
  def q8CheapestSupplier(s: SparkSession, dir: String): DataFrame = {
    val packBase = lit(4294967296L) // 2^32 > any suppkey
    val px = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        (revenue * 10000).cast("long").as("price_q"))
    px.groupBy(col("l_partkey"))
      .agg(min(col("price_q") * packBase + col("l_suppkey")).as("best_pack"),
        min(col("price_q")).as("best_price_q"))
      .select(col("l_partkey").as("partkey"),
        (col("best_price_q").cast("double") / 10000.0).as("best_price"),
        pmod(col("best_pack"), packBase).as("best_supp"))
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_name").as("part_name")),
        col("partkey") === col("p_partkey"))
      .select("partkey", "part_name", "best_price", "best_supp")
      .orderBy("partkey")
  }

  /** q13: customer order-count distribution — the TPC-H Q13 shape
    * (how many customers placed 0, 1, 2, … qualifying orders; the
    * reference's per-entity activity histograms, server.mjs:214-231,
    * are this query over its sync log). LEFT OUTER is load-bearing:
    * zero-order customers must survive into the c_count=0 bucket, so
    * the filter on orders sits in the JOIN CONDITION, not a WHERE
    * (a WHERE would silently turn the join inner).
    *
    * Scale shape: one shuffle of each side on custkey for the outer
    * join + first aggregate (count(o_orderkey) skips the nulls the
    * outer join manufactures); the second aggregate's input is one
    * row per customer and its output one row per distinct count — a
    * few dozen rows at ANY corpus size, so the final exchange is
    * negligible. Nothing here is per-order after the first agg. */
  def q13CustDist(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT") // Q13's exclusion predicate
      .select("o_orderkey", "o_custkey")
    Tables.customer(s, dir).select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // nulls (no orders) count 0
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q18: large-volume orders — the TPC-H Q18 HAVING shape (orders
    * whose total quantity clears a threshold, with their customer).
    * The HAVING runs FIRST, on the fact table alone: lineitem
    * collapses to one row per order (map-side partial sums, one
    * shuffle on orderkey) and the threshold drops ~98% of orders
    * BEFORE any join — at 100 TB the joins see the rare survivors,
    * not the corpus. The surviving aggregate IS the quantity column
    * (no re-join back to lineitem, which the naive SQL form does).
    * Customer attaches last, keyed on the already-tiny result. */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(Cols.dec2(col("l_quantity"))).as("qty"))
      .filter(col("qty") > lit(200).cast(DecimalType(12, 2)))
      .select(col("l_orderkey"), col("qty").cast("double").as("sum_qty"))
    big.join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        Cols.fmtDate(col("o_orderdate")).as("o_orderdate"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
        col("o_orderkey").asc)
      .limit(100)
  }

  /** q21: suppliers who kept orders waiting — the TPC-H Q21 shape
    * (chained EXISTS + NOT EXISTS against the same fact): for
    * finished orders, find the supplier whose line was the order's
    * ONLY problem line (returnflag 'R' standing in for the classic
    * receipt-after-commit predicate, which this dataset lacks) while
    * other suppliers shipped clean — then rank suppliers by how often
    * they were that sole offender.
    *
    * The textbook SQL scans lineitem THREE times (l1, the EXISTS l2,
    * the NOT EXISTS l3). Here both quantified predicates collapse
    * into per-order counts computed from ONE scan: aggregate to
    * (order, supplier, has_problem) grains, then two window sums over
    * the order — `n_supp > 1` IS "exists another supplier's line" and
    * `n_r_supp == 1` (with this supplier flagged) IS "no OTHER
    * supplier has a problem line". One `repartition(l_orderkey)`
    * feeds the pair aggregate AND the order-window (HashPartitioning
    * on the order key satisfies both clusterings), so the fact is
    * scanned once and shuffled once; orders joins on that same
    * partitioning (only its side exchanges), and the supplier dim
    * joins onto the per-supplier counts at the very end (sf-linear,
    * so CBO/AQE picks the strategy) — audited in PlanAuditSpec (one
    * lineitem scan, one fact exchange). */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("l_orderkey"))
    val pairs = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .repartition(col("l_orderkey")) // serves the agg AND both windows
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_r"))
      .withColumn("n_supp", count(lit(1)).over(wOrd))
      .withColumn("n_r_supp", sum(col("has_r")).over(wOrd))
      .filter(col("has_r") === 1 && col("n_supp") > 1 && col("n_r_supp") === 1)
    pairs
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select("o_orderkey"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  /** q14: promo revenue share — the TPC-H Q14 shape (conditional
    * aggregate ratio over one join): what fraction of a month's
    * revenue came from promo parts. The month slice pushes to the
    * fact scan, part joins planner-chosen (sf-linear — same dim
    * discipline as q19), and
    * both numerator and denominator come out of ONE aggregate over
    * the joined slice — no second pass, no second join. The ratio is
    * computed on decimal-exact sums cast to double at the end
    * (SURVEY §4), output is a single bounded row. */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1998-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-07-01").cast("timestamp"))
      .join(Tables.part(s, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", revenue)).cast("double")
          .as("promo_revenue"),
        sum(revenue).cast("double").as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        round(col("promo_revenue") * 100.0 / col("total_revenue"), 6)
          .as("promo_pct"))

  /** q15: top supplier by quarterly revenue — the TPC-H Q15 shape
    * (the classic "create view revenue / select where = max" pair).
    * The view is a per-supplier revenue aggregate over a shipdate
    * slice (pushed to the scan); the MAX is a 1-ROW AGGREGATE of that
    * view attached back by `crossJoin(broadcast(...))` — prof2's
    * scalar pattern — and ties at the max all surface, as the spec
    * requires. The r7 form used an empty-frame window over the view,
    * which funnels |suppliers| rows through ONE task's sort; at TPC-H
    * sf100k that view is ~10^9 rows, a named scale-killer. Here both
    * the view and its max share the per-suppkey shuffle via Spark's
    * ReuseExchange (identical aggregate subtrees), so the fact is
    * still scanned and shuffled exactly once and NOTHING passes
    * through a single partition — the max rides a two-stage (partial
    * → 1-row final) aggregate whose input is the bounded view.
    * Supplier names attach last (sf-linear dim: planner's call). Pinned in
    * PlanAuditSpec: two table scans total (ReusedExchange, no second
    * fact pass), zero unpartitioned-window exchanges. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val perSupp = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1998-04-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-07-01").cast("timestamp") &&
        // explicit, though always true: the supplier join constraint
        // would push IsNotNull(l_suppkey) into ONLY the view branch,
        // making the two aggregate subtrees canonically different and
        // defeating the exchange reuse this query's one-scan shape
        // depends on
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(Cols.moneySum(revenue).as("total_revenue"))
    val mx = perSupp.agg(max(col("total_revenue")).as("mx"))
    perSupp.crossJoin(broadcast(mx)) // 1-row bounded metadata
      .filter(col("total_revenue") === col("mx"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q17: small-quantity-order revenue — the TPC-H Q17 shape (the
    * per-part correlated average: lines whose quantity is under half
    * their part's mean). The correlated subquery becomes a PER-PART
    * WINDOW: `avg(quantity) over (partition by partkey)` tags every
    * line with its part's mean in the same pass that reads it — ONE
    * fact scan and ONE partkey exchange, where the aggregate-then-
    * join-back form scans the fact twice and at dim-scale pays a
    * second fact exchange for the join (pinned in PlanAuditSpec).
    * The threshold is EXACT across engines: quantities are integral,
    * so sum/count/×0.5 are all order-independent IEEE ops, making
    * the boundary comparison deterministic (SURVEY §4). Output is a
    * single bounded row. */
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val wPart = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("half_avg", avg(col("l_quantity")).over(wPart) * 0.5)
      .filter(col("l_quantity") < col("half_avg"))
      .agg((sum(Cols.dec2(col("l_extendedprice"))).cast("double") / 7.0)
        .as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** q22: dormant high-balance customers — the TPC-H Q22 shape
    * (global-average scalar subquery + NOT EXISTS): customers whose
    * balance beats the positive-balance average and who placed no
    * RECENT order (the dataset's custkeys all have lifetime orders,
    * so recency replaces Q22's no-orders-at-all predicate), rolled up
    * per segment. Two scale moves: (1) the average is compared
    * MULTIPLIED THROUGH — `acctbal × n_pos > total_pos` — so the
    * boundary is exact decimal×integer arithmetic in both engines
    * instead of an order-sensitive floating division (SURVEY §4);
    * the (total, count) pair is a 1-row broadcast. (2) NOT EXISTS is
    * a left-anti join against the recent-order custkeys, shuffled on
    * the key like every semi/anti in the suite (j1/q4). */
  def q22DormantCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val pos = cust.filter(col("c_acctbal") > 0.0)
      .agg(sum(Cols.dec2(col("c_acctbal"))).as("tot"),
        count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(pos)) // 1-row bounded metadata
      .filter(Cols.dec2(col("c_acctbal")) * col("n_pos") > col("tot"))
      .join(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(Cols.dec2(col("c_acctbal"))).cast("double").as("totacctbal"))
      .orderBy("c_mktsegment")
  }

  /** q9: product-line profit by supplier nation and year — the TPC-H
    * Q9 shape (part-name-filtered multi-join rolled up by nation ×
    * order year; this schema has no partsupp/supplycost, so profit is
    * discounted revenue). Scale design: the part filter (`p_name LIKE
    * '%red%'`) is applied BEFORE its join, so the fact stream shrinks
    * at the earliest point — on a 100 TB lineitem the name filter
    * typically keeps ~1/N of parts and the join discards the rest of
    * the fact rows without shuffling them. But a 1% slice of 20 B
    * parts is still 200 M rows, so NEITHER part nor supplier carries
    * a broadcast hint — CBO/AQE picks broadcast at bench scale
    * (PlanAuditSpec pins it) and shuffle-hash beyond; only the
    * bounded nation frame is hinted. supplier⋈nation pre-joins
    * dimension-side; the ONLY fact-sized shuffle join is
    * lineitem⋈orders on the order key (year attaches there), and the
    * final rollup is a partial-aggregable sum over ~25 nations ×
    * ~7 years. */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(s, dir)
      .filter(col("p_name").like("%red%")).select(col("p_partkey"))
    val supNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(s, dir)
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg(Cols.moneySum(revenue).as("profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  /** q16: supplier diversity per part class — the TPC-H Q16 shape
    * (how many distinct suppliers stock each brand × type, minus an
    * excluded class), sourced from lineitem's observed (part,
    * supplier) pairs since this schema has no partsupp. Scale design:
    * the exclusion predicates live on the part DIMENSION and prune it
    * before the join (strategy left to CBO/AQE — part is sf-linear),
    * so excluded classes never reach the fact
    * join; COUNT(DISTINCT supplier) is Spark's two-phase distinct
    * aggregate — partial (brand, type, suppkey) dedup happens
    * map-side, so the shuffle carries at most |classes| × |suppliers|
    * rows (150 × 100 here; bounded by the dimension sizes, not the
    * 100 TB fact). */
  def q16SupplierDiversity(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_type") =!= "PROMO" && col("p_brand") =!= "Brand#1")
      .select(col("p_partkey"), col("p_brand"), col("p_type"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_type").asc)
  }

  /** q8: national market share — the TPC-H Q8 shape (one nation's
    * slice of a region's revenue by order year): the ratio's
    * numerator is a CONDITIONAL leg of the same aggregate as its
    * denominator (`sum(when(nation)) / sum(all)`, q14's two-legs-one-
    * pass move), never a second join tree. Scale design: all four
    * dimension attachments carry their filters applied BEFORE the
    * join (region prune cuts the customer side, the supplier side
    * carries only its nation tag), so the single fact-sized shuffle
    * is lineitem⋈orders on the order key; the rollup is a
    * partial-aggregable pair of decimal sums per year. customer and
    * supplier are sf-linear, so only the inner region/nation frames
    * are broadcast by hint — the dim-join strategy is CBO/AQE's.
    * Pinned in PlanAuditSpec: ≤1 shuffle join, 5 scans, no
    * cartesian. */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val asiaCust = Tables.customer(s, dir)
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === "ASIA")
        .join(Tables.nation(s, dir), col("n_regionkey") === col("r_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val supNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(s, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_1", revenue)).cast("double")
          .as("nation_revenue"),
        sum(revenue).cast("double").as("total_revenue"))
      .select(col("o_year"),
        coalesce(col("nation_revenue"), lit(0.0)).as("nation_revenue"),
        col("total_revenue"),
        round(coalesce(col("nation_revenue"), lit(0.0)) / col("total_revenue"), 6)
          .as("mkt_share"))
      .orderBy("o_year")
  }

  /** q11: important stock — the TPC-H Q11 shape (groups whose share
    * of a global total clears a threshold: per-part shipped value
    * from one nation's suppliers vs a fraction of ALL such value; no
    * partsupp, so lineitem value stands in for stock value). The
    * global scalar the textbook form computes with a SECOND scan is
    * a 1-ROW AGGREGATE of the ALREADY-AGGREGATED per-part view,
    * attached back by `crossJoin(broadcast(...))` (prof2's scalar
    * pattern); the HAVING comparison multiplies the fraction through
    * decimal sums so no float-division boundary decides membership
    * (q22's exactness discipline). Supplier nation prunes before the
    * join (supplier is sf-linear: no hint, CBO/AQE chooses). The r7
    * form used an empty-frame window over the view
    * — but |parts| grows linearly with scale factor (~20 B rows at
    * sf100k), so ONE task would sort the whole view; here the view
    * and its total share the per-partkey shuffle via ReuseExchange
    * (identical aggregate subtrees), keeping ONE fact scan with no
    * single-partition exchange at any scale. Pinned in
    * PlanAuditSpec: one lineitem scan (ReusedExchange), zero Window
    * nodes. */
  def q11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val natSup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_1")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = Tables.lineitem(s, dir)
      .join(natSup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(Cols.dec2(col("l_extendedprice"))).as("value_d"))
    val total = perPart.agg(sum(col("value_d")).as("total_d"))
    perPart.crossJoin(broadcast(total)) // 1-row bounded metadata
      // share > 0.1%: value × 1000 > total, exact decimal×integer
      .filter(col("value_d") * 1000 > col("total_d"))
      .select(col("l_partkey"), col("value_d").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey").asc)
  }

  /** q12: priority line counts per return class — the TPC-H Q12 shape
    * (conditional aggregate over the lineitem⋈orders join, classing
    * each line's order as critical or not; this schema has no
    * l_shipmode/commitdate, so the two audited ship modes become the
    * two non-N return flags and the receipt-window predicate becomes
    * a shipdate year; reference analog: monitorHealth's per-status
    * conditional counts, db.mjs:410-432). Scale design: BOTH
    * per-class counts come out of ONE pass — `sum(when(critical))` /
    * `sum(when(not)))` — never a scan per class; the date window and
    * flag filter are pushed to the fact scan (row groups outside the
    * year never leave parquet), and the ONLY fact-sized shuffle is
    * the orderkey join, with orders carrying just (o_orderkey,
    * o_orderpriority) through it. The final 2-row rollup is a
    * partial-aggregable count pair. Pinned in PlanAuditSpec: pushed
    * shipdate/flag filters, 2 scans, 1 fact shuffle join. */
  def q12PriorityLines(s: SparkSession, dir: String): DataFrame = {
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(critical, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** q20: dominant part shippers — the TPC-H Q20 shape (a semi-join
    * driven by an aggregate subquery: canonical Q20 keeps suppliers
    * whose stock exceeds half a part's shipped quantity; with no
    * partsupp table the criterion becomes suppliers who shipped >30%
    * of a red part's 1997 volume). The quantified-subquery pattern:
    * the inner aggregate decides WHICH (part, supplier) pairs
    * qualify, and the outer query only asks EXISTENCE per supplier —
    * q4's semi-join discipline composed with q17's
    * window-over-aggregate rewrite. Scale design: the part-name
    * filter prunes the dimension BEFORE the join (q9's move — and as
    * in q9, part is sf-linear so the strategy is CBO/AQE's, not a
    * pinned broadcast), so
    * non-red parts never reach the fact join; the per-part total that
    * the textbook form computes with a SECOND correlated fact scan
    * comes from a window over the ALREADY-AGGREGATED per-(part,supp)
    * view — bounded by |parts|×|suppliers|, one fact scan total; and
    * the supplier projection is a semi-join (left_semi on the
    * qualifying suppkey set), so no qualifying-row multiplicity ever
    * reaches the output. Pinned in PlanAuditSpec: exactly one
    * lineitem scan, a left-semi join, no fact re-scan. */
  def q20ExcessShippers(s: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(s, dir)
      .filter(col("p_name").like("%red%")).select(col("p_partkey"))
    val wPart = Window.partitionBy(col("l_partkey")) // per-(part,supp) view: bounded
    val qualifying = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("qty_ps")) // integral doubles: exact
      .withColumn("part_total", sum(col("qty_ps")).over(wPart))
      .filter(col("qty_ps") > col("part_total") * 0.3)
      .select(col("l_suppkey"))
    Tables.supplier(s, dir)
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy("s_suppkey")
  }

  /** Running-sum + row-number window over supplier partitions. */
  def w1RunningWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, dir)
      .filter(col("l_suppkey") <= 3)
      .withColumn("rn", row_number().over(w))
      .withColumn("running_qty",
        sum(Cols.dec2(col("l_quantity")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "rn", "running_qty")
      .orderBy("l_suppkey", "rn")
  }

  /** Base-cell pre-aggregate shared by the a1/a4/a10 lattice family:
    * one pass collapses lineitem to the (returnflag, linestatus)
    * grain — a handful of rows — BEFORE any grouping-set Expand.
    * Without it, Expand multiplies the FULL fact scan by the number
    * of grouping sets (guide §2.3 "aggregate before you shuffle"
    * applied to the lattice: Expand is a row-amplifier, so feed it
    * cells, not rows). Exactness: the inner sum is the same exact
    * DECIMAL fold the direct lattice would run (decimal addition is
    * associative — regrouping cannot change the value), and counts
    * re-sum as int64, so every grouping set's total is bit-identical
    * to the single-level formulation at any scale. */
  private def flagStatusCells(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(Cols.dec2(col("l_quantity"))).as("cell_qty"),
        count(lit(1)).as("cell_n"))

  /** ROLLUP multi-level aggregate (grouping-set nulls coalesced so no
    * NULL sort keys cross the engines). Runs over the
    * [[flagStatusCells]] pre-aggregate so the Expand sees cells, not
    * the fact scan. */
  def a1Rollup(s: SparkSession, dir: String): DataFrame =
    flagStatusCells(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(Cols.moneySum(col("cell_qty")).as("sum_qty"),
        sum(col("cell_n")).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  /** COUNT(DISTINCT) per group. r15 opt (guide §2.3 — aggregate
    * before you shuffle): Spark plans MULTIPLE distinct aggregates in
    * one groupBy as an Expand that multiplies the fact scan by the
    * distinct-column count (3× here) before the first partial
    * aggregate. Decomposing into one dedup-then-count branch per
    * distinct column keeps every branch 1× the scan with map-side
    * partials, and the per-flag frames (≤ #flags rows) join back
    * broadcast-cheap. Counts are exact either way — bit-identical
    * output. */
  def a2DistinctAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def distinctPerFlag(c: String, as: String) =
      li.select(col("l_returnflag"), col(c)).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as(as))
    val rows = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows"))
    rows.join(distinctPerFlag("l_orderkey", "n_orders"), Seq("l_returnflag"))
      .join(distinctPerFlag("l_suppkey", "n_supp"), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_orders"), col("n_supp"),
        col("n_rows"))
      .orderBy("l_returnflag")
  }

  /** HyperLogLog++ approximate distinct (sketch-based; the 100 TB path
    * where exact distinct would shuffle every key). rows-only check —
    * sketch estimates are engine-specific. */
  def a3ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      // rsd 0.02: HLL register count grows ~1/rsd², so 0.02 is 4× less
      // sketch memory/merge cost than 0.01 while staying well inside
      // the 5% accuracy the spec checks — per-group sketch size is the
      // dominant cost of this aggregate, not the row count.
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .orderBy("l_returnflag")

  /** Left-semi (EXISTS) + left-anti (NOT EXISTS), tagged union.
    * Computed as ONE left-outer join against the distinct order-key
    * set: a null probe on the right side yields both tags from a
    * single shuffle of orders, where the naive semi+anti pair pays
    * that shuffle twice (measured 2.2× slower at sf0.1). */
  def j1SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val ordKeys = Tables.orders(s, dir).select(col("o_custkey")).distinct()
    cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"),
        when(col("o_custkey").isNotNull, lit("has_orders"))
          .otherwise(lit("no_orders")).as("tag"))
      .orderBy("tag", "c_custkey")
  }

  /** INTERSECT / EXCEPT set operations, tagged union. */
  def s1SetOps(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
      .select(col("s_nationkey").as("nationkey")).distinct()
    val cus = Tables.customer(s, dir)
      .select(col("c_nationkey").as("nationkey")).distinct()
    sup.intersect(cus).withColumn("tag", lit("both"))
      .unionAll(cus.except(sup).withColumn("tag", lit("cust_only")))
      .orderBy("tag", "nationkey")
  }

  /** Pivot (conditional aggregation) of value by event_type. */
  def p1Pivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val base = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(sum(col("value").cast(DecimalType(12, 2))).cast("double"))
    types.foldLeft(base) { (df, t) =>
      df.withColumn(s"${t}_value", coalesce(col(t), lit(0.0))).drop(t)
    }.orderBy("user_id")
  }

  /** Sessionization: 30-min inactivity gap → new session; assign
    * session ids via lag + running sum, then per-session rollup. */
  def e1Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev").isNull ||
          expr("timestampdiff(SECOND, prev, ts)") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        Cols.fmtTs(min(col("ts"))).as("start_ts"),
        Cols.fmtTs(max(col("ts"))).as("end_ts"))
      .orderBy("user_id", "session_id")
  }

  /** CUBE over (returnflag, linestatus): all 4 grouping sets, nulls
    * coalesced per SURVEY §4. Runs over the [[flagStatusCells]]
    * pre-aggregate so the Expand sees cells, not the fact scan. */
  def a4Cube(s: SparkSession, dir: String): DataFrame =
    flagStatusCells(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(Cols.moneySum(col("cell_qty")).as("sum_qty"),
        sum(col("cell_n")).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  /** a10: explicit GROUPING SETS — the aggregation lattice rollup and
    * cube CANNOT express: exactly ((returnflag), (linestatus), ()),
    * i.e. the two one-dimension marginals plus the grand total with no
    * combined cell. One Expand + one aggregate, same single-shuffle
    * plan as rollup/cube; grouping-set nulls coalesced per SURVEY §4.
    * Runs over the [[flagStatusCells]] pre-aggregate so the Expand
    * sees cells, not the fact scan. */
  def a10GroupingSets(s: SparkSession, dir: String): DataFrame =
    flagStatusCells(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(Cols.moneySum(col("cell_qty")).as("sum_qty"),
        sum(col("cell_n")).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  /** Unpivot (wide→long melt) of a per-flag aggregate: each measure
    * column becomes a (measure, value) row. */
  def p2Unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(Cols.moneySum(Cols.dec2(col("l_quantity"))).as("sum_qty"),
        Cols.moneySum(Cols.dec2(col("l_extendedprice"))).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "measure", "value")
      .orderBy("l_returnflag", "measure")

  /** lead/lag/ntile window family over per-user event streams. */
  def w2LeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .filter(col("user_id") < 20)
      .withColumn("prev_value", coalesce(lag(col("value"), 1).over(w), lit(-1.0)))
      .withColumn("next_type", coalesce(lead(col("event_type"), 1).over(w), lit("none")))
      .withColumn("quartile", ntile(4).over(w))
      .select("event_id", "user_id", "prev_value", "next_type", "quartile")
      .orderBy("event_id")
  }

  /** w6: the rank-function family w2 doesn't cover — dense_rank,
    * percent_rank, cume_dist — ordered by a key with HEAVY ties
    * (event_type) on purpose: unlike row_number, all three are
    * functions of the ordering KEY alone, so results stay
    * deterministic under ties on both engines (the property that
    * makes them safe in an oracle-checked pipeline where row order
    * within a tie is engine-specific). One shuffle on user_id. */
  def w6RankSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_type"))
    Tables.events(s, dir)
      .filter(col("user_id") < 20)
      .select(col("event_id"), col("user_id"),
        dense_rank().over(w).as("dr"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy("event_id")
  }

  /** j2: AS-OF join (point-in-time): for each purchase event, the
    * user's most recent click at-or-before the purchase timestamp.
    *
    * Spark has no ASOF JOIN operator; the scalable idiom is
    * union-both-sides + a carry-forward window: tag clicks and
    * purchases, sort per user by (ts, clicks-first), and carry the
    * last non-null click forward with `last(_, ignoreNulls)`. One
    * shuffle on user_id, linear scan — no per-row range probe, no
    * O(n·m) interval join, and the same plan holds at 100 TB (the
    * per-user partition is the only ordering scope needed). Clicks are
    * pre-reduced to one per (user, ts) so the at-or-before winner is
    * unique and both engines agree deterministically. */
  def j2AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("ts"), col("click_id"),
        lit(1).as("is_click"), lit(null).cast("bigint").as("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast("bigint").as("click_id"),
        lit(0).as("is_click"), col("event_id"))
    // clicks sort before purchases at equal ts → inclusive (>=) as-of
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("is_click").desc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionAll(purchases)
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when(col("is_click") === 1, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_click") === 0)
      .select(col("event_id"), col("user_id"),
        Cols.fmtTs(col("ts")).as("purchase_ts"),
        coalesce(col("last_click_id"), lit(-1L)).as("last_click_id"),
        coalesce(Cols.fmtTs(col("last_click_ts")), lit("none")).as("last_click_ts"))
      .orderBy("event_id")
  }

  /** a5: exact percentiles per group (quartiles + p90). ONE percentile
    * aggregate taking the full percentage array, so the per-group
    * value buffer is built and sorted once, not once per percentile.
    * Both engines use linear interpolation over the sorted values;
    * rounding to 4 decimals absorbs any sub-ulp divergence. (Exact
    * percentiles buffer each group — the unbounded-cardinality scale
    * path is approx_percentile, same shape as a3's HLL.) */
  /** a5: exact per-group quantiles via the distributed rank-location
    * helper ([[Mining.groupedExactQuantiles]] — bit-equal to the
    * built-in `percentile`, spec-pinned) instead of a per-group
    * value-map aggregate whose final merge buffers every distinct
    * value single-threaded (measured 1.5 s → 0.7 s at sf0.1; at
    * 100 TB the value map is not an option). The distributed work is
    * two keyed aggregates; the interpolation folds groups × quantiles
    * bounded metadata driver-side and emits the literal result frame
    * (the centroid/PCA bounded-collect pattern). Rounding replicates
    * SQL round(x, 4) (HALF_UP). */
  def a5Percentiles(s: SparkSession, dir: String): DataFrame = {
    val q = Mining.groupedExactQuantiles(
      Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_extendedprice")),
      "l_returnflag", "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.9))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    import s.implicits._
    q.toSeq.sortBy(_._1)
      .map { case (f, a) => (f, r4(a(0)), r4(a(1)), r4(a(2)), r4(a(3))) }
      .toDF("l_returnflag", "p25", "p50", "p75", "p90")
  }

  /** a6: second-moment statistics per group (stddev, correlation,
    * covariance). Merge-order float effects are absorbed by rounding
    * to 4 decimals. */
  def a6Stats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qty_disc"))
      .orderBy("l_returnflag")

  /** w3: rolling 1-hour event count/sum per user — a RANGE window
    * frame over event time (expressed in epoch µs so both engines
    * frame identically; Spark's rangeBetween needs a numeric order
    * key anyway). */
  def w3RollingHour(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-hourUs, 0)
    Tables.events(s, dir)
      .filter(col("user_id") < 20)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("n_last_hour", count(lit(1)).over(w))
      .withColumn("sum_last_hour",
        sum(col("value").cast(DecimalType(12, 2))).over(w).cast("double"))
      .select("event_id", "user_id", "n_last_hour", "sum_last_hour")
      .orderBy("event_id")
  }

  /** s3: ordered group concatenation (the debugging-friendly
    * "summarize group members" aggregate). Sorted distinct values
    * joined to one string → deterministic across engines. */
  def s3GroupConcat(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
        .as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** j3: range (interval) join — for each probe order, count other
    * orders placed within ±3 days. A naive range join is O(n·m); the
    * scale idiom is BINNING: each probe explodes to the 7 day-bins its
    * interval covers, the build side carries its single day-bin, and
    * the join becomes an equi-join on the bin (each build row lands in
    * exactly one bin ⇒ no dedup needed), with the exact range
    * predicate re-checked after. Probe side is bounded ⇒ broadcast. */
  def j3RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val probes = Tables.orders(s, dir)
      .filter(col("o_orderkey") < 100)
      .select(col("o_orderkey").as("p_key"), col("o_orderdate").as("p_date"))
      .withColumn("off", explode(expr("sequence(-3, 3)")))
      .select(col("p_key"), col("p_date"),
        date_format(date_add(col("p_date").cast("date"), col("off")), "yyyy-MM-dd").as("bin"))
    val build = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("bin"))
    broadcast(probes)
      .join(build, Seq("bin"))
      .filter(col("o_orderkey") =!= col("p_key") &&
        abs(datediff(col("o_orderdate").cast("date"), col("p_date").cast("date"))) <= 3)
      .groupBy(col("p_key"))
      .agg(count(lit(1)).as("n_nearby"))
      .orderBy("p_key")
  }

  /** a7: approximate percentiles (Greenwald-Khanna sketch) — the
    * bounded-memory scale path for a5: the sketch is a few KB per
    * group regardless of group cardinality, and merges associatively
    * (map-side partial aggregation works). rows-only; ScalaTest bounds
    * the rank error vs the exact a5 values. */
  def a7ApproxQuantile(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.9D), 1000)").as("ps"))
      .select(col("l_returnflag"),
        col("ps")(0).as("p25"), col("ps")(1).as("p50"),
        col("ps")(2).as("p75"), col("ps")(3).as("p90"))
      .orderBy("l_returnflag")

  val SaltBuckets = 8

  /** j4: salted join for skewed keys. events.event_type has only 5
    * values, so a plain shuffle join lands everything on 5 reducers;
    * salting splits each hot key into SaltBuckets sub-keys — the fact
    * side salts DETERMINISTICALLY (hash of its unique id, not rand(),
    * so replays/retries produce identical partitions) and the dim side
    * replicates across all salt values. This is the pattern for when
    * BOTH sides are too big to broadcast; with a genuinely small dim,
    * broadcast (q5) is still the first choice. */
  def j4SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // "above average" as value*n > sum in exact DECIMAL — no float
    // boundary can flip between engines (SURVEY §4)
    val typeStats = ev.groupBy(col("event_type"))
      .agg(sum(Cols.dec2(col("value"))).as("type_sum"),
        count(lit(1)).as("type_n"))
    val dimSalted = typeStats
      .withColumn("salt", explode(expr(s"sequence(0, ${SaltBuckets - 1})")))
    val factSalted = ev
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(SaltBuckets)).cast("int"))
    factSalted.join(dimSalted, Seq("event_type", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(Cols.dec2(col("value")) * col("type_n") > col("type_sum"), 1)
          .otherwise(0)).as("n_above_avg"))
      .orderBy("event_type")
  }

  /** s4: nested-data round-trip — lineitems nested per order as an
    * array of structs (the denormalized document layout), then
    * exploded back and aggregated. Proves the nest/unnest path
    * (collect_list(struct) ↔ explode) is lossless; the oracle
    * aggregates the flat table directly.
    *
    * r15 opt (guide §2.3 — project before the exchange): the nested
    * struct carries only the fields the downstream aggregate reads
    * (l_linenumber for identity, l_quantity for the sum) — the old
    * l_extendedprice field was dead weight through the collect_list
    * shuffle. The old trailing sort_array was pure cost of the same
    * class as obt1's dropped orderBy: the explode→aggregate consumer
    * is order-insensitive, so sorting the arrays bought nothing
    * observable (same rows, same hash). The nest/unnest round trip —
    * the operator's point — is untouched. */
  def s4NestedRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val nested = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(
        col("l_linenumber"), col("l_quantity"))).as("items"))
    nested
      .select(col("l_orderkey"), explode(col("items")).as("it"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        Cols.moneySum(Cols.dec2(col("it.l_quantity"))).as("sum_qty"))
      .orderBy("l_orderkey")
  }

  /** Per-stratum keep fractions for s2 (shared with its oracle). */
  val S2Fractions: Seq[(String, Double)] = Seq(
    "click" -> 0.1, "view" -> 0.1, "purchase" -> 0.5,
    "error" -> 1.0, "signup" -> 1.0)

  /** s2: deterministic stratified sampling (per-stratum Bernoulli) —
    * the debug/eval-set carve-out every training pipeline needs.
    * Acceptance is the imp1/mix1 salted-md5 discipline instead of
    * engine RNG: a row survives iff its salted md5's first 8 hex
    * chars sort below its stratum's 8-hex threshold (fixed-width
    * lowercase hex order IS numeric order), so the SAME rows survive
    * on every engine and every run — re-runnable eval sets, and the
    * full SQL oracle applies where `stat.sampleBy` was rows-only.
    * One pass, no shuffle (the predicate evaluates at the scan). */
  def s2StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val frac = S2Fractions.tail.foldLeft(
      when(col("event_type") === S2Fractions.head._1, lit(S2Fractions.head._2))) {
      case (acc, (t, f)) => acc.when(col("event_type") === t, lit(f))
    }.otherwise(lit(0.0))
    val thr = when(frac >= 1.0, lit("g")) // 'g' sorts above any hex digit
      .otherwise(lpad(lower(hex(floor(frac * lit(4294967296.0)).cast("long"))), 8, "0"))
    Tables.events(s, dir)
      .filter(substring(md5(concat(lit("s2:"), col("event_id").cast("string"))),
        1, 8) < thr)
      .select(col("event_id"), col("event_type"))
      .orderBy("event_id")
  }

  /** w4: daily active users, new users, and cumulative user count —
    * the standing growth dashboard. Heavy lifting is two corpus-keyed
    * aggregates (distinct (day,user), first-seen day per user); the
    * cumulative window then runs over the DAY-level aggregate — a
    * rows-per-day frame, bounded metadata, so the unpartitioned
    * window is deliberate and safe (it never sees corpus-sized
    * input). */
  def w4ActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      .distinct()
    val dau = ev.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val newU = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(newU, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .orderBy("day")
  }

  /** e2: ordered funnel — signup → first click at-or-after it → first
    * purchase at-or-after that, per user (the reference's polling
    * pipeline generalized to multi-stage conversion). Each stage is a
    * filtered aggregate equi-joined on user_id; Catalyst keys all
    * three shuffles on the same user_id partitioning, so AQE reuses
    * the exchange instead of re-shuffling per stage. Output is one row
    * per signed-up user with the stage timestamps (formatted; 'none'
    * when the funnel broke) and the stage reached. */
  def e2Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"),
        Cols.fmtTs(col("t1")).as("signup_ts"),
        coalesce(Cols.fmtTs(col("t2")), lit("none")).as("click_ts"),
        coalesce(Cols.fmtTs(col("t3")), lit("none")).as("purchase_ts"),
        (lit(1) + when(col("t2").isNotNull, 1).otherwise(0)
          + when(col("t3").isNotNull, 1).otherwise(0)).as("stage"))
      .orderBy("user_id")
  }

  /** e3: cohort retention — users cohorted by their first-activity
    * day; for each (cohort, day-offset) the cohort fraction active
    * that day (the product-analytics retention matrix). Plan: the
    * user→cohort map and the distinct (user, day) activity set are
    * both user_id-keyed aggregates — Catalyst keys their join on the
    * same partitioning, so the corpus shuffles once on user_id; the
    * (cohort, offset) re-aggregation and the cohort-size join run on
    * day-level rows (bounded metadata: days × offsets, never
    * corpus-sized). */
  def e3RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohort = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
    act.join(cohort, Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active")) // act is distinct (user, day)
      .join(sizes, Seq("cohort_day"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_active"), col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6).as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  val AllowedEventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** a9 core over any events-shaped frame: a constraint audit (the
    * deequ-style data-quality gate every ingest pipeline runs before
    * publishing). All row-local checks are conditional aggregates in
    * ONE scan with map-side partials; the primary-key uniqueness
    * check is the unavoidable second aggregate (distinct count). At
    * 100 TB this is exactly how you audit: no per-constraint passes,
    * no row materialization — one pass plus one keyed distinct. */
  private[graft] def auditEvents(ev: DataFrame): DataFrame = {
    val agg = ev.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count_distinct(col("event_id"))).as("dup_event_id"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
      sum(when(col("value") < 0, 1L).otherwise(0L)).as("neg_value"),
      sum(when(!col("event_type").isin(AllowedEventTypes: _*), 1L)
        .otherwise(0L)).as("bad_type"),
      sum(when(col("ts") < lit("2020-01-01").cast("timestamp") ||
        col("ts") >= lit("2030-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("ts_out_of_range"))
    agg.selectExpr(
      """stack(5,
        |  'event_id_unique', dup_event_id,
        |  'event_type_in_domain', bad_type,
        |  'ts_in_range', ts_out_of_range,
        |  'user_id_not_null', null_user,
        |  'value_non_negative', neg_value
        |) as (check_name, n_violations)""".stripMargin)
      .withColumn("pass", col("n_violations") === 0)
      .orderBy("check_name")
  }

  /** a9: constraint audit of the events table (PK uniqueness, domain,
    * range, and null checks) — all green on the corpus, and the
    * violation-injection spec proves each check actually fires. */
  def a9ConstraintAudit(s: SparkSession, dir: String): DataFrame =
    auditEvents(Tables.events(s, dir))

  val ReservoirK = 50 // exact sample size per group
  val WeightedSampleK = 25 // weighted sample size for s6 (declared above
  // the oracles map — object vals initialize in declaration order)

  /** s5: exact-k per-group sample, deterministic — rank rows within
    * each group by a uniform hash of their id (md5: available and
    * bit-identical in both engines) and keep the first K. Equivalent
    * in distribution to per-group reservoir sampling, but rerunnable:
    * the same rows win on every engine and every run.
    *
    * Scale shape: a bare `Window.partitionBy(event_type)` would sort
    * the whole corpus through a handful of reducers (one per group).
    * Instead a hash-threshold pre-filter keeps ~10K uniform survivors
    * per group (a per-group count — tiny, broadcast — sets the
    * threshold), and only survivors enter the window. The K smallest
    * hashes are below the threshold unless fewer than K of ~10K
    * expected survive — a >10-sigma Chernoff tail, i.e. never. */
  def s5ReservoirSample(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"))
    val counts = ev.groupBy(col("event_type")).agg(count(lit(1)).as("grp_n"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("hkey"), col("event_id"))
    ev.join(broadcast(counts), Seq("event_type"))
      .withColumn("hkey", md5(col("event_id").cast("string")))
      // first 8 hex chars as a uniform 32-bit value vs a per-group cutoff
      .filter(conv(substring(col("hkey"), 1, 8), 16, 10).cast("long") <
        least(lit(1L << 32),
          lit(10L * ReservoirK) * lit(1L << 32) / col("grp_n")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ReservoirK)
      .select(col("event_type"), col("event_id"), col("rk"))
      .orderBy("event_type", "rk")
  }

  /** sc1: SCD Type-2 history build — the warehouse idiom for "keep
    * every state an entity passed through, with validity intervals"
    * (the reference's app_states upsert, db.mjs:270-278, keeps only
    * the LAST state; SCD2 is what a warehouse does instead). From the
    * event log: per user, consecutive runs of the same event_type
    * collapse to one version row with [valid_from, valid_to) interval
    * (half-open: valid_to = next version's valid_from) and is_current
    * on the open row.
    *
    * Scale shape: ONE shuffle on user_id serves the run-detection
    * window, the per-(user, version) aggregate (hash-partitioning on
    * user_id already clusters the finer key), and the valid_to lead
    * window — Spark reuses the exchange across all three. */
  def sc1Scd2History(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wVer = Window.partitionBy(col("user_id")).orderBy(col("version"))
    Tables.events(s, dir)
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("event_type").as("status"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("chg",
        when(lag(col("status"), 1).over(wOrd).isNull ||
          lag(col("status"), 1).over(wOrd) =!= col("status"), 1L).otherwise(0L))
      .withColumn("version", sum(col("chg")).over(wOrd))
      .groupBy(col("user_id"), col("version"), col("status"))
      .agg(min(col("ts_us")).as("valid_from"), count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("version"), col("status"),
        col("valid_from"), col("valid_to"), col("n_events"), col("is_current"))
      .orderBy("user_id", "version")
  }

  /** j5: bloom-prefiltered join — the runtime-filter idiom for a
    * selective dim predicate whose key set is too big to broadcast as
    * a hash set but whose BLOOM FILTER is a few KB: build the filter
    * from the filtered orders side (fixed-size regardless of row
    * count) as a `bloom_filter_agg` scalar subquery inside the plan,
    * and drop non-matching lineitem rows AT THE SCAN, before they pay
    * the shuffle. False positives don't affect correctness — the real
    * equi-join still runs (so the full SQL oracle applies); they only
    * cost a little shuffle volume. At 100 TB this turns a
    * shuffle-everything join into a shuffle-3% join whenever the dim
    * predicate is selective (here: 1-URGENT ≈ 1/5 of orders).
    * PlanAuditSpec pins might_contain below the join's exchange. */
  def j5BloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    // fixed-size sketch of the filtered key set (~240 KB at 1% fpp),
    // NOT the key set itself; built and probed at execution time
    val prefiltered = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .filter(org.apache.spark.sql.graft.Sketches.mightContain(
        urgent.select(col("o_orderkey")), 200000, 0.01, col("l_orderkey")))
    prefiltered.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_items"),
        Cols.moneySum(Cols.dec2(col("l_extendedprice"))).as("sum_price"))
      .filter(col("n_items") >= 8)
      .orderBy("o_custkey")
  }

  /** Per-user sessions (e1's 30-min-gap rule) with RAW timestamps —
    * the interval frame j6 overlaps; e1 itself emits formatted
    * strings, so the boundary logic lives here once. */
  private def sessionIntervals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev").isNull ||
          expr("timestampdiff(SECOND, prev, ts)") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
  }

  /** j6: interval OVERLAP join — per session, how many other users'
    * sessions were concurrent with it (the load/concurrency question
    * behind capacity planning and the reference's connection-overlap
    * view of active sync windows). NOT a pair join at all: because
    * same-user sessions never overlap (sessionize splits on gaps >
    * the timeout), the count is pure inclusion–exclusion over
    * boundary ORDER STATISTICS — n_concurrent(i) = #{st_j ≤ en_i} −
    * #{en_j < st_i} − 1 (self) — so no (a, b) pair row ever
    * materializes. The r8 bin-join form materialized per-hour pairs
    * and went ~20× on 10× data at the sf1 checkpoint (pair mass is
    * quadratic in per-hour density); this form is O(S · per-minute
    * density): boundary counts per MINUTE are one bounded aggregate,
    * their cumulative sums a window over span-minutes metadata (the
    * a12 pattern) broadcast back, and the sub-minute remainder two
    * minute-keyed joins against per-(minute, value) boundary counts
    * whose fan-out is the minute's distinct-boundary count. The
    * unchanged pairwise SQL oracle PROVES the reformulation: the
    * gate hash-matches this plan against the naive overlap join. */
  def j6OverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val sess = sessionIntervals(s, dir).localCheckpoint()
    val minuteSt = date_trunc("minute", col("st"))
    val minuteEn = date_trunc("minute", col("en"))
    // r16 opt (guide §2.4 — operations keyed the same way share one
    // pass): ONE boundary aggregate at (minute, value) grain replaces
    // the three separate session-scale aggregates this plan used to
    // run (the minute table and both sub-minute refine legs are cheap
    // derivations of it). Pinned: ≤ 2·S rows. Measured isolated
    // min-of-4 at sf0.1: 2.32→1.79 s at 32c, flat at 8c (with the
    // bounds pin below kept — dropping it re-ran the minute aggregate
    // + single-partition window per broadcast consumer and gave the
    // win back).
    val vals = sess
      .select(minuteSt.as("m"), col("st").as("v"),
        lit(1L).as("s"), lit(0L).as("e"))
      .unionAll(sess.select(minuteEn.as("m"), col("en").as("v"),
        lit(0L).as("s"), lit(1L).as("e")))
      .groupBy(col("m"), col("v"))
      .agg(sum(col("s")).as("cs"), sum(col("e")).as("ce"))
      .localCheckpoint()
    // boundary-minute table: per minute, #starts/#ends in it and the
    // cumulative counts BEFORE it (bounded: ≤ span-minutes rows; every
    // session's stm/enm appears, so the lookups below are inner-safe)
    val wCum = Window.orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bounds = vals.groupBy(col("m"))
      .agg(sum(col("cs")).as("cs"), sum(col("ce")).as("ce"))
      .withColumn("cum_st_before", coalesce(sum(col("cs")).over(wCum), lit(0L)))
      .withColumn("cum_en_before", coalesce(sum(col("ce")).over(wCum), lit(0L)))
      .select(col("m"), col("cum_st_before"), col("cum_en_before"))
      .localCheckpoint() // bounded metadata; two broadcast consumers
    // sub-minute remainder: distinct boundary values per minute (the
    // exact value v determines its minute, so filtering the grain by
    // side reproduces the old per-side aggregates row for row)
    val enVals = vals.filter(col("ce") > 0)
      .select(col("m"), col("v"), col("ce").as("c"))
    val stVals = vals.filter(col("cs") > 0)
      .select(col("m"), col("v"), col("cs").as("c"))
    val base = sess.select(col("user_id"), col("session_id"),
      col("st"), col("en"), minuteSt.as("stm"), minuteEn.as("enm"))
    // r15 opt (guide §2.4 — two operations keyed the same way share
    // one exchange): the two sub-minute refine legs both aggregate to
    // (user_id, session_id), so they union into ONE keyed aggregate
    // and ONE left join instead of two of each. Sums over the
    // disjoint union equal the separate sums exactly (the other leg
    // contributes literal 0s), and a session absent from both legs is
    // absent from the union too — the same coalesce(·, 0) covers it.
    val refs = base // ca: #{en_j in minute(st_i), en_j < st_i}; cb: #{st_j in minute(en_i), st_j ≤ en_i}
      .join(enVals.withColumnRenamed("m", "stm"), Seq("stm"))
      .filter(col("v") < col("st"))
      .select(col("user_id"), col("session_id"),
        col("c").as("ca"), lit(0L).as("cb"))
      .unionAll(base
        .join(stVals.withColumnRenamed("m", "enm"), Seq("enm"))
        .filter(col("v") <= col("en"))
        .select(col("user_id"), col("session_id"),
          lit(0L).as("ca"), col("c").as("cb")))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sum(col("ca")).as("ref_a"), sum(col("cb")).as("ref_b"))
    base
      .join(broadcast(bounds.select(col("m").as("stm"),
        col("cum_en_before"))), Seq("stm"))
      .join(broadcast(bounds.select(col("m").as("enm"),
        col("cum_st_before"))), Seq("enm"))
      .join(refs, Seq("user_id", "session_id"), "left")
      .select(col("user_id"), col("session_id"),
        Cols.fmtTs(col("st")).as("start_ts"), Cols.fmtTs(col("en")).as("end_ts"),
        (col("cum_st_before") + coalesce(col("ref_b"), lit(0L)) // #{st_j ≤ en_i}
          - col("cum_en_before") - coalesce(col("ref_a"), lit(0L)) // − #{en_j < st_i}
          - 1L).as("n_concurrent")) // − self
  }
  // (r15 opt: j6's trailing global orderBy dropped — the gate hash is
  // order-insensitive, so the range exchange over the session frame
  // was pure cost; guide §2.4.)

  /** a11: sketch rollup table — the incremental-aggregation idiom for
    * COUNT(DISTINCT) over arbitrary windows: materialize ONE tiny HLL
    * sketch per day (mergeable, fixed-size), then answer any date
    * range by UNIONING sketches instead of rescanning events. At
    * 100 TB the daily build is the only full scan ever paid; every
    * range query after that reads KB-sized sketch rows. Weekly
    * distinct users here = union of 7 daily sketches; the ScalaTest
    * pins estimates within HLL error of exact. rows-only (DuckDB has
    * no compatible sketch format). */
  def a11SketchRollup(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    daily
      .withColumn("week", date_trunc("week", col("day")))
      .groupBy(col("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"),
        sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_days"))
      .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("est_users"), col("n_events"), col("n_days"))
      .orderBy("week")
  }

  /** Orphan count of a child key column against a parent key set — a
    * left-anti join collapsed to one row (spec hook for injection). */
  private[graft] def fkOrphans(child: DataFrame, key: String,
      parent: DataFrame, pkey: String, as: String): DataFrame =
    child.select(col(key))
      .join(parent.select(col(pkey)), col(key) === col(pkey), "left_anti")
      .agg(count(lit(1)).as(as))

  /** a15: referential-integrity audit — the FK half of a9's
    * constraint gate: orphan counts for every foreign key of the star
    * schema (lineitem→orders/part/supplier, orders→customer) plus the
    * parent row counts, in ONE output row. Each check is a left-anti
    * join that ships only the key column; dim-parent checks broadcast
    * the parent key set, the fact-fact check (lineitem→orders)
    * shuffles on the join key like any fact join. The six 1-row
    * aggregates assemble by broadcast crossJoin (bounded metadata) —
    * the pre-publish audit that catches a partial load before
    * downstream joins silently drop rows. */
  def a15FkAudit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val checks = Seq(
      fkOrphans(li, "l_orderkey", o, "o_orderkey", "orphan_li_orders"),
      fkOrphans(li, "l_partkey", Tables.part(s, dir), "p_partkey",
        "orphan_li_part"),
      fkOrphans(li, "l_suppkey", Tables.supplier(s, dir), "s_suppkey",
        "orphan_li_supp"),
      fkOrphans(o, "o_custkey", Tables.customer(s, dir), "c_custkey",
        "orphan_ord_cust"),
      li.agg(count(lit(1)).as("n_lineitem")),
      o.agg(count(lit(1)).as("n_orders")))
    checks.reduce((a, b) => a.crossJoin(broadcast(b)))
      .select(col("n_lineitem"), col("n_orders"),
        col("orphan_li_orders"), col("orphan_li_part"),
        col("orphan_li_supp"), col("orphan_ord_cust"))
  }

  /** a16: chi-square test of independence — market segment × customer
    * region (Pearson χ², degrees of freedom, Cramér's V effect size),
    * the categorical-association test behind "does segment mix differ
    * by geography" and every mix-shift alert. The only corpus-scale
    * work is ONE keyed count to the (segment, region) contingency
    * table after a broadcast dim join; everything downstream (row /
    * column totals, expected counts, the χ² fold) runs over the
    * domain-bounded cell frame (|segments| × |regions|), attached via
    * broadcast joins — no unpartitioned window, no driver math. The
    * χ² sum folds ~25 doubles (≪ round-6 noise floor), so the result
    * is cross-engine stable. */
  def a16Chi2(s: SparkSession, dir: String): DataFrame = {
    val nr = Tables.nation(s, dir)
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    val obs = Tables.customer(s, dir)
      .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("r_name").as("reg"))
      .agg(count(lit(1)).as("o"))
    val rt = obs.groupBy(col("seg")).agg(sum(col("o")).as("rt"))
    val ct = obs.groupBy(col("reg")).agg(sum(col("o")).as("ct"))
    val tot = obs.agg(sum(col("o")).as("n"))
    obs.join(broadcast(rt), "seg").join(broadcast(ct), "reg")
      .crossJoin(broadcast(tot)) // 1-row bounded metadata
      // rt·ct in DOUBLE: a 100 TB row count squared overflows int64
      .withColumn("e",
        col("rt").cast("double") * col("ct") / col("n").cast("double"))
      .agg(max(col("n")).as("n"),
        countDistinct(col("seg")).as("n_seg"),
        countDistinct(col("reg")).as("n_reg"),
        ((countDistinct(col("seg")) - 1) *
          (countDistinct(col("reg")) - 1)).as("df"),
        round(sum(pow(col("o") - col("e"), 2) / col("e")), 6).as("chi2"),
        round(sqrt(sum(pow(col("o") - col("e"), 2) / col("e")) /
          (max(col("n")) * least(countDistinct(col("seg")) - 1,
            countDistinct(col("reg")) - 1))), 6).as("cramers_v"))
  }

  val StickinessWindow = 7 // trailing days in the WAU window

  /** w7: stickiness — DAU over trailing-[[StickinessWindow]]-day WAU
    * per day, the engagement ratio every growth dashboard tracks. A
    * rolling COUNT(DISTINCT) cannot ride a window frame, so the
    * standard relational form: the (user, day) DISTINCT activity
    * frame (bounded by ΣDAU, far smaller than events) explodes each
    * activity day into the [[StickinessWindow]] window days it
    * contributes to (j3's day-bin discipline — a bounded ×7 fan-out
    * of the ALREADY-aggregated frame, never of raw events), dedups
    * (user, window_day), and counts per day; DAU joins on the day
    * key. The 100 TB swap is a11's sketch rollup: daily HLL sketches
    * merged over the window replace the exploded exact distinct with
    * KB-sized unions. */
  def w7Stickiness(s: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val dau = active.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = active
      .select(col("user_id"), explode(expr(
        s"sequence(day, day + interval ${StickinessWindow - 1} days, interval 1 day)"))
        .as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day")) // inner: clips the post-corpus tail
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** w8: longest consecutive-day activity streak per user, reported
    * as a streak-length histogram — the classic gaps-and-islands
    * pattern (day − row_number() is CONSTANT within a consecutive
    * run, so runs fall out of one keyed aggregate; no self-join, no
    * recursive CTE). Engagement teams read this as the "habit curve":
    * how many users ever sustained k consecutive days. Scale shape:
    * one distinct (user, day) shuffle; the islands window partitions
    * BY user (millions of tiny partitions hash-spread across the
    * cluster — never a global sort); everything after the per-user
    * max collapses to ≤ #distinct-streak-lengths rows. */
  def w8ActiveStreaks(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val days = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val streaks = days
      .withColumn("grp", date_sub(col("day"), row_number().over(wU)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest"))
    streaks.groupBy(col("longest").as("streak_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("streak_days")
  }

  val OverlapCohortA = "click"
  val OverlapCohortB = "view"

  /** a14: sketch set algebra — audience overlap between two event
    * cohorts WITHOUT a distinct-pair join: |A∩B| estimated by
    * inclusion-exclusion over HLL sketches (est(A) + est(B) −
    * est(A∪B)), plus the Jaccard estimate. The exact form is a
    * corpus-wide user_id INTERSECT (a full distinct shuffle per
    * cohort); the sketch form reads the SAME fixed-size per-cohort
    * sketches a11's rollup table already materializes at scale, so an
    * overlap question costs two KB-sized sketch rows and a union —
    * the mergeable-sketch payoff extended from counting to set
    * algebra. rows-only (estimates engine-specific); the ScalaTest
    * pins the estimate within HLL error of the exact intersection. */
  def a14SketchOverlap(s: SparkSession, dir: String): DataFrame = {
    val sk = Tables.events(s, dir)
      .filter(col("event_type").isin(OverlapCohortA, OverlapCohortB))
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val parts = sk.agg(
      max(when(col("event_type") === OverlapCohortA,
        hll_sketch_estimate(col("sk")))).as("est_a"),
      max(when(col("event_type") === OverlapCohortB,
        hll_sketch_estimate(col("sk")))).as("est_b"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
    parts.select(
      col("est_a"), col("est_b"), col("est_union"),
      (col("est_a") + col("est_b") - col("est_union")).as("est_inter"),
      round((col("est_a") + col("est_b") - col("est_union")).cast("double") /
        col("est_union"), 6).as("jaccard_est"))
  }

  /** q4: TPC-H Q4 shape — order-priority checking: count orders per
    * priority in a quarter where at least one lineitem shipped after
    * the order date (EXISTS → left-semi join). The probe side reads
    * only (l_orderkey, l_shipdate) from lineitem, and the residual
    * `l_shipdate > o_orderdate` predicate rides the same equi-join —
    * no second pass. The final agg is 5 rows (bounded). */
  def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q6: TPC-H Q6 — forecast revenue change: pure scan-side
    * filter + one exact-decimal sum, NO join and NO pre-agg shuffle
    * (partial sums combine into one row). The point at 100 TB: all
    * three predicates push to the parquet scan (min/max row-group
    * pruning on shipdate) and only 3 columns are read —
    * PlanAuditSpec pins PushedFilters + the 3-column ReadSchema. */
  def q6RevenueDelta(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(Cols.moneySum(Cols.dec2(col("l_extendedprice")) *
        Cols.rate(col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))

  /** q19: TPC-H Q19 shape — disjunctive predicate join (OR of three
    * brand/size/quantity conjunctions). part is sf-linear, so the
    * join strategy is CBO/AQE's (broadcast at bench scale, pinned in
    * PlanAuditSpec; shuffle-hash at 100 TB);
    * the part-side conjuncts (brand, size) are pushed below the join
    * on the build side and the lineitem-side quantity bounds
    * (1 ≤ qty ≤ 35, the union of the three branches) prune the fact
    * scan, so the OR only evaluates on rows that already passed both
    * cheap pushdowns. */
  def q19DisjunctiveJoin(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
        col("p_size").between(1, 30))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_quantity").between(1, 35))
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val branch =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
        col("l_quantity").between(10, 25)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
        col("l_quantity").between(20, 35))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(Cols.moneySum(Cols.dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(4, 2)) - Cols.rate(col("l_discount"))))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** w5: sliding event-time windows (1-hour window, 15-minute slide)
    * — the overlapping-window aggregation tumbling (st1) and session
    * (st2) windows can't express; each event lands in exactly 4
    * windows. Spark's `window()` expands rows map-side (the 4×
    * projection, with partial aggregation below the shuffle), then
    * the distinct count plans as the standard two-phase shape: first
    * exchange on (window, user_id) — carrying deduped pairs, not raw
    * events — then a second, much smaller exchange on window alone to
    * finish both aggregates. */
  def w5SlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(Cols.fmtTs(col("window.start")).as("win_start"),
        col("n_events"), col("n_users"))
      .orderBy("win_start")

  /** e4: user-journey transition matrix — per-user consecutive
    * event-type bigrams (lag over the user timeline) rolled up to
    * (prev, curr) counts and row-normalized probabilities (the
    * first-order Markov model of product analytics). ONE user_id
    * shuffle for the lag window; the transition matrix itself is
    * #event_types² rows — bounded metadata, so the probability
    * normalization window costs nothing at any scale. */
  def e4Transitions(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wPrev = Window.partitionBy(col("prev"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(wUser))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("curr"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(wPrev), 6))
      .orderBy("prev", "curr")
  }

  /** q10: TPC-H Q10 shape — returned-item revenue by customer: which
    * customers returned the most revenue this quarter. The fact side
    * collapses to per-customer rows FIRST (one shuffle on o_custkey,
    * partial aggs combine map-side), and only the ~#customers
    * aggregate rows pay the customer/nation joins — never the raw
    * lineitems (q8's attach-dims-after-collapse discipline). Top-20
    * with a key tiebreak compiles to TakeOrderedAndProject. */
  def q10ReturnedRevenue(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val perCust = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(Cols.moneySum(revenue).as("revenue"), count(lit(1)).as("n_items"))
    perCust
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** e5: conversion-lag distribution — "how long from signup to first
    * purchase": per user, the first signup and the first purchase
    * at-or-after it; reported as converter counts, conversion rate,
    * and lag percentiles (integer seconds, so the percentile inputs
    * are bit-identical across engines).
    *
    * ONE scan, ONE user_id exchange (pinned in PlanAuditSpec): the
    * per-user first-signup time is a `min(when(signup))` WINDOW over
    * the user partition, tagged onto every one of that user's rows —
    * so the purchase-after-signup predicate and the lag min are plain
    * row expressions in the per-user aggregate that follows, and that
    * aggregate reuses the window's hash partitioning (no second
    * exchange). The naive three-way form (signup agg ⋈ purchase agg,
    * then re-join) scans events three times and shuffles each; this
    * shape pays the fact cost once at any corpus size. The final
    * distribution is a single bounded (1-row) aggregate. */
  def e5ConversionLag(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("s_us",
        min(when(col("event_type") === "signup", col("ts_us"))).over(wUser))
      .filter(col("s_us").isNotNull) // purchase-only users never signed up
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "purchase" &&
          col("ts_us") >= col("s_us"), col("ts_us") - col("s_us"))).as("lag_us"))
      .withColumn("lag_s", expr("lag_us div 1000000"))
      .agg(count(lit(1)).as("n_signup_users"),
        count(col("lag_us")).as("n_converted"),
        round(count(col("lag_us")).cast("double") / count(lit(1)), 6)
          .as("conv_rate"),
        round(expr("percentile(lag_s, 0.5D)"), 4).as("p50_lag_s"),
        round(expr("percentile(lag_s, 0.9D)"), 4).as("p90_lag_s"))
  }

  /** rfm1: RFM customer segmentation — recency / frequency / monetary
    * tertile scores per customer, aggregated to the 27-cell segment
    * grid (the marketing-warehouse classic behind churn and campaign
    * targeting). Deliberately NOT an ntile window: a global ntile
    * sorts the whole customer dimension in ONE task (the q11/q15
    * single-partition lesson) — instead the two tertile cuts per
    * measure come from one 1-row percentile aggregate, broadcast onto
    * the per-customer frame, so scoring is a row expression and the
    * only shuffles are the two keyed aggregates (orders→customer,
    * customer→segment). Per-customer measures use exact integer days
    * / counts / decimal sums; the interpolated percentile is the same
    * lo+(hi−lo)·frac arithmetic in both engines (a5's precedent). At
    * 1.5B customers the exact percentile swaps for approx_percentile
    * — the prof1→prof1b discipline. */
  def rfm1Segments(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val maxD = o.agg(max(col("o_orderdate")).as("maxd"))
    val c = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("lastd"),
        count(lit(1)).as("f"),
        sum(Cols.dec2(col("o_totalprice"))).as("msum"))
      .crossJoin(broadcast(maxD)) // 1-row bounded metadata
      .select(col("o_custkey"),
        datediff(col("maxd"), col("lastd")).as("r"), col("f"),
        col("msum").cast("double").as("m"))
    val lo = 1.0 / 3; val hi = 2.0 / 3
    // cuts round to 6dp on BOTH engines: with heavy integer ties the
    // interpolation lo+(hi-lo)·g vs (1-g)·lo+g·hi can differ in the
    // last ulp exactly when a value SITS on the cut — rounding makes
    // the comparison identical
    val cuts = c.agg(
      round(expr(s"percentile(r, ${lo}D)"), 6).as("r33"),
      round(expr(s"percentile(r, ${hi}D)"), 6).as("r67"),
      round(expr(s"percentile(f, ${lo}D)"), 6).as("f33"),
      round(expr(s"percentile(f, ${hi}D)"), 6).as("f67"),
      round(expr(s"percentile(m, ${lo}D)"), 6).as("m33"),
      round(expr(s"percentile(m, ${hi}D)"), 6).as("m67"))
    def score(v: String, t33: String, t67: String) =
      (lit(1) + when(col(v) > col(t33), 1).otherwise(0) +
        when(col(v) > col(t67), 1).otherwise(0))
    // recency follows marketing convention: HIGHER r_score = more
    // recently active (days-since-last-order is a smaller-is-better
    // measure, so its tertile score is inverted)
    c.crossJoin(broadcast(cuts)) // 1-row bounded metadata
      .select((lit(4) - score("r", "r33", "r67")).as("r_score"),
        score("f", "f33", "f67").as("f_score"),
        score("m", "m33", "m67").as("m_score"), col("m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("m").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** a17: cross-correlation matrix of the event-type hourly mean
    * series — which metrics move together (the companion to ts6's
    * autocorrelation: same span-bounded hourly frame, correlated
    * ACROSS series instead of against its own lag). A self-join of
    * the bounded hourly aggregate on the hour key (t1 < t2 canonical)
    * feeds a per-pair `corr` moment aggregate — output bounded by
    * (#types choose 2). Corpus-scale work stays the one keyed hour
    * aggregate. */
  def a17CrossCorr(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("v"))
    h.select(col("event_type").as("t1"), col("hr"), col("v").as("v1"))
      .join(h.select(col("event_type").as("t2"), col("hr"), col("v").as("v2")),
        Seq("hr"))
      .filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_hours"),
        round(corr(col("v1"), col("v2")), 6).as("r"))
      .orderBy("t1", "t2")
  }

  /** a18: cohort LTV curves — cumulative purchase revenue per signup
    * cohort by weeks-since-signup, normalized per cohort member (the
    * "when does a cohort pay back" curve behind every acquisition-
    * spend decision; e3 tracks cohort RETENTION, a18 tracks cohort
    * REVENUE). One events scan, one user_id exchange: the per-user
    * first-signup tag is e5's min-over-window (reusing the user
    * partitioning), week arithmetic is exact integer µs division, and
    * everything after the (cohort, offset) aggregate — cohort sizes,
    * the cumulative window — runs on the time-span-bounded cohort
    * frame (the window partitions BY cohort; never corpus-sized).
    * Decimal revenue sums ⇒ bit-stable. */
  def a18CohortLtv(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val WeekUs = 7L * 86400 * 1000000
    val tagged = Tables.events(s, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(date_trunc("week", col("ts"))).as("wk_us"))
      .withColumn("s_us",
        min(when(col("event_type") === "signup", col("ts_us"))).over(wUser))
      .withColumn("cohort_us",
        min(when(col("event_type") === "signup", col("wk_us"))).over(wUser))
      .filter(col("s_us").isNotNull)
    val cohortSize = tagged
      .filter(col("event_type") === "signup")
      .groupBy(col("cohort_us"))
      .agg(countDistinct(col("user_id")).as("cohort_size"))
    val rev = tagged
      .filter(col("event_type") === "purchase" && col("ts_us") >= col("s_us"))
      .withColumn("week_offset", expr(s"(ts_us - s_us) div $WeekUs"))
      .groupBy(col("cohort_us"), col("week_offset"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,6)")).as("rev"))
    val wCum = Window.partitionBy(col("cohort_us")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(cohortSize, Seq("cohort_us")) // cohort-bounded frames
      .withColumn("cum_rev", sum(col("rev")).over(wCum))
      .select(
        date_format(timestamp_micros(col("cohort_us")), "yyyy-MM-dd")
          .as("cohort_week"),
        col("week_offset"), col("cohort_size"), col("n_purchases"),
        round(col("rev").cast("double"), 6).as("revenue"),
        round(col("cum_rev").cast("double"), 6).as("cum_revenue"),
        round(col("cum_rev").cast("double") / col("cohort_size"), 6)
          .as("ltv_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  val RollPctWindow = 24 // trailing hourly buckets
  val RollPct = 0.95

  /** w9: rolling p95 over trailing 24 hours per event type — THE ops
    * SLO chart ("is tail latency drifting"), computed at the hourly
    * grain: exact p95 of the trailing [[RollPctWindow]] hourly mean
    * values. The window is PARTITIONED by type over the span-bounded
    * hourly aggregate (ts1's spine argument) with a ROWS frame of 24
    * — each evaluation buffers 24 doubles, so the exact percentile is
    * safe at any corpus size because the frame is constant, not
    * corpus-sized (contrast a global percentile, where a7's sketch
    * takes over). Hourly means are 6dp-rounded BEFORE the window
    * (identical inputs both engines); the interpolated percentile
    * rounds to 6dp (a5's precedent). */
  def w9RollingPercentile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(-(RollPctWindow - 1), Window.currentRow)
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("v"))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("p95",
        round(expr(s"percentile(v, ${RollPct}D)").over(w), 6))
      .select(col("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("v"), col("n_window"), col("p95"))
      .orderBy("event_type", "hr")
  }

  /** w10: cumulative adoption curve — per day, how many users were
    * seen for the FIRST time and the running total of distinct users
    * to date (the growth chart every product review opens with; a
    * naive per-day COUNT(DISTINCT user) over expanding windows is
    * quadratic — first-seen attribution makes it two keyed
    * aggregates). Scale shape: one user-keyed min aggregate over the
    * corpus (map-side partials, the only fact-scale shuffle), a
    * day-keyed count of the user-bounded frame, and the running sum
    * is an UNPARTITIONED window strictly over the span-bounded day
    * frame (#days rows — the ts1 spine argument, never corpus rows).
    * All-integer ⇒ bit-exact. */
  def w10CumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    val firstSeen = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(date_trunc("day", min(col("ts"))).as("day"))
    firstSeen.groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cumulative_users",
        sum(col("new_users")).over(Window.orderBy(col("day"))))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("cumulative_users"))
      .orderBy("day")
  }

  val PathLen = 3    // journey n-gram length
  val PathTopK = 20
  val PathGapUs: Long = 1800L * 1000000 // e1's 30-minute session rule

  /** e9: common user journeys — the top event-type [[PathLen]]-grams
    * across sessions (e1's 30-minute-gap rule), the "what do users
    * actually do, in order" question behind funnel design; e4's Markov
    * transitions summarize one step, e9 surfaces whole multi-step
    * paths. Per-user window (partitioned, never global) splits
    * sessions; each session's ordered type list is assembled in-row
    * (array_sort over the totally ordered (ts, event_id) struct) and
    * its n-grams generate IN-ROW (g3/b1's discipline — path count per
    * session is bounded by session length, never a self-join); one
    * path-keyed count with map-side partials, key-tiebroken top-K. */
  /** e8: Kaplan–Meier survival curve for signup → first purchase
    * (Kaplan & Meier 1958) — the right-censoring-aware time-to-convert
    * estimator: e5's conversion-lag histogram silently drops users who
    * HAVEN'T converted yet, biasing lag estimates optimistic; KM keeps
    * them at-risk until the observation end (max event day) and steps
    * the survival probability only at event times, S(t) = Π(1−dᵢ/nᵢ).
    * Scale shape: per-user durations are one user-keyed aggregate over
    * the signup/purchase scan (a18's window-tag discipline for
    * "purchase at/after signup"); the KM table then lives on the
    * DISTINCT-duration frame — bounded by the corpus day span, so its
    * cumulative windows order bounded metadata (the a12 pattern),
    * never corpus rows. Determinism: each hazard factor's ln is
    * rounded to 9dp before the SEQUENTIAL cumulative sum (both
    * engines fold identical doubles in the same t-order), survival
    * rounds to 6dp. */
  def e8SurvivalCurve(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val tagged = Tables.events(s, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .withColumn("sday",
        min(when(col("event_type") === "signup", col("day"))).over(wUser))
      .filter(col("sday").isNotNull)
    val maxd = Tables.events(s, dir).agg(max(to_date(col("ts"))).as("maxd"))
    val durs = tagged
      .groupBy(col("user_id"), col("sday"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("day") >= col("sday"), col("day"))).as("pday"))
      .crossJoin(broadcast(maxd)) // 1-row bounded metadata
      .select(
        when(col("pday").isNotNull, datediff(col("pday"), col("sday")))
          .otherwise(datediff(col("maxd"), col("sday"))).as("t"),
        col("pday").isNotNull.as("event"))
    val byT = durs.groupBy(col("t"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("obs"))
    // bounded-metadata windows: ≤ day-span rows (the a12 pattern).
    // r16 (the qc5/mix10 bounded-window totals fold): the old
    // `durs.agg(count)` total was a SECOND consumer of durs, and as
    // plain lineage it re-derived the whole signup/purchase subtree —
    // 4 events scans for one curve
    // (plans/r16/e8_survival_curve_before.txt). The subject total is
    // Σ obs over the bounded byT frame, so it folds as a window over
    // ≤ day-span rows instead: 4 scans → 2 (tagged + maxd). Measured:
    // flat at sf0.1 (isolated min-of-8: 32c 0.50→0.52, 8c 0.49→0.49 —
    // idle cores overlapped the redundant scans inside one job) but
    // −22% at 10× replica data (9.75 → 7.63 s), where the extra
    // corpus passes stop hiding. Exact integer counts ⇒ bit-identical.
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byT
      .withColumn("n", sum(col("obs")).over(wAll))
      .withColumn("n_risk",
        col("n") - coalesce(sum(col("obs")).over(wPrev), lit(0L)))
      .filter(col("d") > 0)
      // clamp: when the last at-risk subject events, 1 − d/n = 0 and
      // ln diverges (DuckDB raises, Spark yields −Inf) — the 1e-12
      // floor makes survival round to exactly 0.0 in both engines
      .withColumn("lnf",
        round(log(greatest(lit(1e-12),
          lit(1.0) - col("d").cast("double") / col("n_risk"))), 9))
      .withColumn("survival", round(exp(sum(col("lnf")).over(wCum)), 6))
      .select(col("t").as("t_days"), col("n_risk"),
        col("d").as("n_events"), col("survival"))
      .orderBy("t_days")
  }

  def e9CommonPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("brk", when(lag(col("ts_us"), 1).over(w).isNull ||
        col("ts_us") - lag(col("ts_us"), 1).over(w) > PathGapUs, 1)
        .otherwise(0))
      .withColumn("sid", sum(col("brk")).over(w))
      .groupBy(col("user_id"), col("sid"))
      .agg(array_sort(collect_list(
        struct(col("ts_us"), col("event_id"), col("event_type")))).as("evs"))
      .select(expr("transform(evs, x -> x.event_type)").as("types"))
      .filter(size(col("types")) >= PathLen)
      .select(explode(expr(
        s"""transform(sequence(0, size(types) - $PathLen),
           |  i -> concat_ws('>', slice(types, i + 1, $PathLen)))""".stripMargin))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(PathTopK)
  }

  val AttributionWindowUs: Long = 72L * 3600 * 1000000 // 72-hour lookback

  /** e7: last-touch attribution — every purchase is credited to the
    * most recent PRIOR click/view by the same user within a 72-hour
    * lookback, else to the 'none' channel (the marketing-analytics
    * question behind every channel-budget decision; reference analog:
    * the updates feed joined to its originating connection). One
    * shuffle by user_id; the "most recent prior touch" is a running
    * struct-max over a window PARTITIONED by user (per-user history,
    * never corpus-wide) with the totally ordered (ts_us, event_id)
    * key — no self-join of purchases against touches, so a hot user
    * costs one partition's sort, not a quadratic blowup. Channel
    * totals are partial-aggregable (decimal revenue sum ⇒ bit-stable;
    * mean lag divides an exact integer µs sum). */
  def e7Attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("lt", max(when(col("event_type") =!= "purchase",
        struct(col("ts_us"), col("event_id"), col("event_type")))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("lt").isNull ||
            col("ts_us") - col("lt.ts_us") > AttributionWindowUs, lit("none"))
          .otherwise(col("lt.event_type")).as("channel"),
        col("value"),
        when(col("lt").isNotNull &&
            col("ts_us") - col("lt.ts_us") <= AttributionWindowUs,
          col("ts_us") - col("lt.ts_us")).as("lag_us"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
          .as("revenue"),
        round(avg(col("lag_us")) / 1e6, 6).as("avg_lag_s"))
      .orderBy(col("channel"))
  }

  /** e11: FIRST-touch attribution — the acquisition-side counterpart
    * of e7's last-touch model (last-touch credits the closer, first-
    * touch credits the introducer; real marketing reporting runs
    * both). The earliest non-purchase touch inside the attribution
    * window before each purchase takes the credit; purchases with no
    * in-window touch report channel 'none'. Spark shape: ONE events
    * scan, a per-user RANGE window frame ([-window, -1] on exact µs)
    * whose min-struct pick is deterministic ((ts, event_id) is a
    * total order) — no self-join, no re-scan; the oracle reaches the
    * same rows via an explicit window join + row_number, proving the
    * frame semantics rather than mirroring the plan. */
  def e11FirstTouch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-AttributionWindowUs, -1)
    Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("ft", min(when(col("event_type") =!= "purchase",
        struct(col("ts_us"), col("event_id"), col("event_type")))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("ft").isNull, lit("none"))
          .otherwise(col("ft.event_type")).as("channel"),
        col("value"),
        when(col("ft").isNotNull, col("ts_us") - col("ft.ts_us"))
          .as("lag_us"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
          .as("revenue"),
        round(avg(col("lag_us")) / 1e6, 6).as("avg_lag_s"))
      .orderBy(col("channel"))
  }

  val DriftTrail = 7 // trailing days in the a12 baseline window

  /** a12: volume-drift anomaly detection — the data-quality monitor a
    * daily ingest needs: per-day event counts scored against the
    * trailing [[DriftTrail]]-day mean/stddev (current day excluded),
    * |z| > 2 flagged. The corpus pays ONE day-keyed aggregate; the
    * z-score windows then run over #days rows — bounded metadata, the
    * same shape as w4's cumulative window. */
  def a12VolumeDrift(s: SparkSession, dir: String): DataFrame = {
    val trail = Window.orderBy(col("day"))
      .rowsBetween(-DriftTrail, -1)
    Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("mu", avg(col("n_events")).over(trail))
      .withColumn("sd", stddev_samp(col("n_events")).over(trail))
      .withColumn("z", when(col("sd") > 0,
        round((col("n_events") - col("mu")) / col("sd"), 6)))
      .select(Cols.fmtDate(col("day")).as("day"), col("n_events"),
        round(col("mu"), 6).as("trail_mean"), col("z"),
        coalesce(abs(col("z")) > 2, lit(false)).as("is_anomaly"))
      .orderBy("day")
  }

  val GiniBuckets = 32 // rank-bucket fan-out for the w11 grouped-rank fold

  /** w11: Gini coefficient of customer revenue concentration — the
    * inequality audit a curation pipeline runs on any "mass per key"
    * distribution (customer revenue here; source token mass, domain
    * doc counts at 100 TB). Exact, via the rank formula
    * G = 2·Σ i·x_i / (n·Σ x_i) − (n+1)/n over cents-exact per-key
    * totals with ranks tie-broken by key. The rank is computed with
    * the f1 grouped-rank discipline, NOT a single-partition global
    * window: [[GiniBuckets]] approx-percentile cuts ride the plan as
    * a broadcast 1-row literal (value-banded, so ties never straddle
    * a bucket), row_number runs per-bucket (bounded partitions), and
    * the global rank is bucket offset + in-bucket rank where offsets
    * come from the ≤[[GiniBuckets]]-row count frame (bounded
    * metadata). Σ i·x_i folds as DECIMAL(38,0) — order-free, exact —
    * and the one double expression is evaluated in a fixed tree both
    * engines share. One fact shuffle (the per-key aggregate); all
    * rank work happens on the key-grain frame. */
  def w11Gini(s: SparkSession, dir: String): DataFrame = {
    rankedCustomerCents(s, dir)
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        // one operand lifts to decimal BEFORE the multiply: i·cents
        // in raw int64 wraps at ~9.2e18 — at 100 TB (1.5 B customers
        // × 1e9-cent totals) the product overflows long before the
        // DECIMAL(38,0) fold would; Spark (non-ANSI) would wrap
        // SILENTLY while DuckDB errors, a silent-vs-loud divergence
        sum(col("i").cast("decimal(38,0)") * col("cents")).as("swx"))
      .select(col("n_customers"), col("total_cents"),
        round((lit(2.0) * col("swx").cast("double")
          / col("total_cents").cast("double")
          - (col("n_customers").cast("double") + lit(1.0)))
          / col("n_customers").cast("double"), 6).as("gini"))
  }

  /** w14: Lorenz curve — the distribution CURVE behind w11's Gini
    * scalar and w12's top-decile point (the full "bottom X% of
    * customers hold Y% of revenue" table a curation pipeline reads
    * off before rebalancing source mass): customers bucketed into
    * revenue deciles by their exact global rank (the w11 grouped-rank
    * scaffold — no single-partition window), one decile-keyed
    * exact-cents aggregate, cumulative sums as a window over the
    * 10-row decile frame. All-integer until the two share divisions;
    * decile assignment is exact integer arithmetic
    * (floor((i−1)·10/n)), so bucket membership cannot drift between
    * engines. */
  def w14Lorenz(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedCustomerCents(s, dir)
    // totals are rank-free: one row per custkey either way, so the
    // shallow per-cust frame gives the identical (n, tot) without
    // duplicating the ranked scaffold (r16, verdict ask #4)
    val tot = custCents(s, dir)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"))
    val byDecile = ranked.crossJoin(broadcast(tot)) // 1-row bounded metadata
      // floor of a correctly-rounded IEEE quotient of exact ints —
      // the quotient is an integer only when exactly divisible, so
      // the floor is engine-stable (same form in the oracle)
      .withColumn("decile",
        floor((col("i") - 1) * 10 / col("n")).cast("long") + 1)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("decile_cents"),
        max(col("tot")).as("tot"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("decile")) // 10-row frame: bounded by construction
    byDecile
      .withColumn("cum_cents", sum(col("decile_cents")).over(w))
      .select(col("decile"), col("n_customers"), col("decile_cents"),
        col("cum_cents"),
        round(col("decile_cents").cast("double") / col("tot"), 6)
          .as("decile_share"),
        round(col("cum_cents").cast("double") / col("tot"), 6)
          .as("cum_share"))
      .orderBy("decile")
  }

  /** Grouped-rank scaffold shared by w11/w12: ascending global rank
    * over a per-key exact-cents aggregate WITHOUT a single-partition
    * window (the f1 discipline): [[GiniBuckets]] approx-percentile
    * cuts ride the plan as a broadcast 1-row literal (value-banded,
    * so ties never straddle a bucket), row_number runs per bucket
    * (bounded partitions), and the global rank i is bucket offset +
    * in-bucket rank with offsets from the ≤[[GiniBuckets]]-row count
    * frame. Returns (o_custkey, cents, i). */
  /** The per-customer exact-cents frame under the w11/w12/w14
    * grouped-rank scaffold — exposed so consumers that only need
    * TOTALS (w12/w14's 1-row n/Σcents frames) aggregate THIS shallow
    * lineage instead of re-consuming the whole ranked scaffold
    * (r16, verdict ask #4: each extra `ranked` consumer duplicated
    * the bounds sketch + bucket + offset + window subtree — the
    * totals are rank-free, so the duplication bought nothing). */
  private def custCents(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(12,2)") * 100)
      .cast("long")
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents).as("cents"))
  }

  private def rankedCustomerCents(s: SparkSession, dir: String): DataFrame = {
    // r16 measured rejection: pinning this per-customer frame
    // (consumed by the bounds sketch, offsets, and ranked subplans)
    // benched WORSE on all three consumers at sf0.1/32c — w11
    // 0.70→0.85, w12 0.70→0.86, w14 0.80→0.84 isolated min-of-4,
    // same window — the eager checkpoint job costs more than the
    // three cheap orders re-aggregates (the r13
    // materialize-vs-recompute rule, recompute side).
    val x = custCents(s, dir)
    val qs = (1 until GiniBuckets).map(_.toDouble / GiniBuckets)
    val bounds = x.agg(
      expr(s"approx_percentile(cents, array(${qs.mkString(",")}), 10000)")
        .as("bs"))
    val bucketed = x.crossJoin(broadcast(bounds)) // 1-row bounded metadata
      .withColumn("bkt", qs.indices
        .map(i => when(col("cents") > element_at(col("bs"), i + 1), 1)
          .otherwise(0)).reduce(_ + _))
      .drop("bs")
    val offs = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("m"))
      .withColumn("off", coalesce(sum(col("m")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val wb = Window.partitionBy(col("bkt"))
      .orderBy(col("cents"), col("o_custkey"))
    bucketed.withColumn("k", row_number().over(wb))
      .join(broadcast(offs), Seq("bkt"))
      .select(col("o_custkey"), col("cents"), (col("off") + col("k")).as("i"))
  }

  /** w12: top-decile revenue share — what fraction of total revenue
    * the top 10% of customers hold (w11's Gini asks "how unequal
    * overall"; w12 answers the operational "how much rides on the
    * head" — the same question a curation pipeline asks of source
    * token mass before capping). Reuses [[rankedCustomerCents]]'s
    * grouped-rank fold; k = ⌈n/10⌉ by integer arithmetic; the share
    * is ONE correctly-rounded division of exact cents totals. The
    * head set is "last k of the ascending (cents, custkey) order", so
    * boundary ties resolve deterministically on every engine. */
  def w12TopDecileShare(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedCustomerCents(s, dir)
    // totals from the shallow per-cust frame (w14's move; verdict #4)
    val tot = custCents(s, dir).agg(count(lit(1)).as("n"),
      sum(col("cents")).as("tot_cents"))
    ranked.crossJoin(broadcast(tot)) // 1-row bounded metadata
      .filter(col("i") > col("n") - expr("(n + 9) div 10"))
      .agg(max(col("n")).as("n_customers"),
        max(expr("(n + 9) div 10")).as("top_k"),
        sum(col("cents")).as("top_cents"),
        max(col("tot_cents")).as("tot_cents"))
      .select(col("n_customers"), col("top_k"), col("top_cents"),
        col("tot_cents"),
        round(col("top_cents").cast("double")
          / col("tot_cents").cast("double"), 6).as("top_share"))
      // degenerate-input guard (r12 advice #3): on an EMPTY orders
      // frame the grouping-free aggregate still emits one all-NULL
      // row while the oracle's GROUP BY form emits zero — drop it so
      // both engines agree on the empty corpus
      .filter(col("n_customers").isNotNull)
  }

  /** e13: per-day bounce/engagement rollup — sessions started,
    * single-event (bounce) sessions, bounce rate, events per session,
    * on e1's EXACT 30-minute-gap rule (same window recipe, so the
    * session definition cannot drift from e1's): the session-quality
    * report every product dashboard pairs with w4's DAU counts. One
    * per-user window pass (e1's), a session-grain aggregate, a
    * day-grain aggregate — all-integer until the two output
    * ratios. */
  def e13BounceRate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(s, dir)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev").isNull ||
          expr("timestampdiff(SECOND, prev, ts)") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("start_ts"))
    sess.groupBy(date_trunc("day", col("start_ts")).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1).otherwise(0)).as("n_bounce"),
        sum(col("n_events")).as("n_ev"))
      .select(Cols.fmtDate(col("day")).as("day"), col("n_sessions"),
        col("n_bounce"),
        round(col("n_bounce").cast("double") / col("n_sessions"), 6)
          .as("bounce_rate"),
        round(col("n_ev").cast("double") / col("n_sessions"), 6)
          .as("avg_events"))
      .orderBy("day")
  }

  /** w13: new-vs-returning daily actives — each day's active users
    * split by whether the day is their FIRST active day (w4 counts
    * actives, w10 accumulates adoption; this is the churn-facing
    * companion every growth dashboard pairs them with). Two keyed
    * aggregates: one user-grain first-seen min (the only fact-scale
    * shuffle, shared shape with w10), one (day)-grain count over the
    * user-day frame with the first-day flag decided row-locally after
    * a user-keyed join. All-integer until the output ratio. */
  def w13NewVsReturning(s: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val firstSeen = userDays.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    userDays.join(firstSeen, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1).otherwise(0))
          .as("n_new"))
      .select(Cols.fmtDate(col("day")).as("day"), col("n_active"),
        col("n_new"), (col("n_active") - col("n_new")).as("n_returning"),
        round(col("n_new").cast("double") / col("n_active"), 6)
          .as("new_frac"))
      .orderBy("day")
  }

  /** e12: peak concurrency per day — the classic interval sweep-line
    * (max simultaneously-active users), the capacity question behind
    * rate limits and session-store sizing. Each user's daily activity
    * interval collapses to TWO boundary rows (+1 at first event, −1
    * at last; +1 sorts first at equal timestamps so touching
    * intervals count as concurrent), and the running sum's max is the
    * peak. The fact table pays one (user, day) aggregate; the sweep
    * window runs on the boundary plane — 2 rows per active
    * (user, day), partitioned by day, never global. The per-day MAX
    * of the running sum is invariant to ordering among equal-(t, d)
    * rows, so the output is deterministic even though interior
    * prefix values are not unique. At 100 TB a single day's boundary
    * partition is user-grain, not event-grain; if even that overflows
    * a partition, sub-bucket by hour and carry the bucket-boundary
    * prefix (the prof9 cross-bucket discipline) — not needed at
    * tested scales. */
  def e12PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min(col("ts")).as("s_ts"), max(col("ts")).as("e_ts"))
    val b = iv.select(col("day"), col("s_ts").as("t"), lit(1).as("d"),
        col("user_id"))
      .unionAll(iv.select(col("day"), col("e_ts").as("t"),
        lit(-1).as("d"), col("user_id")))
    val sweep = Window.partitionBy(col("day"))
      .orderBy(col("t"), col("d").desc, col("user_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    b.withColumn("c", sum(col("d")).over(sweep))
      .groupBy(col("day"))
      .agg((count(lit(1)) / 2).cast("long").as("n_active"),
        max(col("c")).as("peak"))
      .select(Cols.fmtDate(col("day")).as("day"), col("n_active"),
        col("peak"))
      .orderBy("day")
  }

  private val rev = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"

  val oracles: Map[String, String] = Map(
    "a16_chi2" ->
      """WITH nr AS (SELECT n_nationkey, r_name FROM nation
        |    JOIN region ON n_regionkey = r_regionkey),
        |obs AS (SELECT c_mktsegment AS seg, r_name AS reg, count(*) AS o
        |  FROM customer c JOIN nr ON c.c_nationkey = nr.n_nationkey
        |  GROUP BY 1, 2),
        |rt AS (SELECT seg, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
        |ct AS (SELECT reg, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
        |cells AS (SELECT seg, reg, o, rt.rt, ct.ct, tot.n,
        |    CAST(rt.rt AS DOUBLE) * ct.ct / CAST(tot.n AS DOUBLE) AS e
        |  FROM obs JOIN rt USING (seg) JOIN ct USING (reg) CROSS JOIN tot)
        |SELECT max(n) AS n,
        |  count(DISTINCT seg) AS n_seg, count(DISTINCT reg) AS n_reg,
        |  (count(DISTINCT seg) - 1) * (count(DISTINCT reg) - 1) AS df,
        |  round(sum(power(o - e, 2) / e), 6) AS chi2,
        |  round(sqrt(sum(power(o - e, 2) / e) /
        |    (max(n) * least(count(DISTINCT seg) - 1,
        |      count(DISTINCT reg) - 1))), 6) AS cramers_v
        |FROM cells""".stripMargin,
    "a15_fk_audit" ->
      """SELECT
        |  (SELECT COUNT(*) FROM lineitem) AS n_lineitem,
        |  (SELECT COUNT(*) FROM orders) AS n_orders,
        |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS orphan_li_orders,
        |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |    AS orphan_li_part,
        |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |    AS orphan_li_supp,
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS orphan_ord_cust""".stripMargin,
    "w7_stickiness" ->
      s"""WITH active AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
         |  FROM events),
         |dau AS (SELECT day, count(*) AS dau FROM active GROUP BY 1),
         |expanded AS (SELECT DISTINCT user_id, unnest(generate_series(
         |    day, day + INTERVAL ${StickinessWindow - 1} DAY,
         |    INTERVAL 1 DAY)) AS day
         |  FROM active),
         |wau AS (SELECT day, count(*) AS wau FROM expanded GROUP BY 1)
         |SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
         |  round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
         |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($rev) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM($rev * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk_revenue" ->
      s"""SELECT l_orderkey, CAST(SUM($rev) AS DOUBLE) AS revenue,
         |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-03-15'
         |  AND l_shipdate > TIMESTAMP '1998-03-15'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q14_promo_revenue" ->
      s"""SELECT
         |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $rev END) AS DOUBLE)
         |    AS promo_revenue,
         |  CAST(SUM($rev) AS DOUBLE) AS total_revenue,
         |  round(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $rev END) AS DOUBLE)
         |    * 100.0 / CAST(SUM($rev) AS DOUBLE), 6) AS promo_pct
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1998-06-01'
         |  AND l_shipdate < TIMESTAMP '1998-07-01'""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey, CAST(SUM($rev) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1998-04-01'
         |    AND l_shipdate < TIMESTAMP '1998-07-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH pa AS (SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN pa USING (l_partkey)
        |WHERE l_quantity < half_avg""".stripMargin,
    "q22_dormant_customers" ->
      """WITH pos AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS tot,
        |    COUNT(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_mktsegment, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer, pos
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q13_custdist" ->
      """WITH oc AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist FROM oc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 200)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice, sum_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
        |LIMIT 100""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH pair AS (SELECT l_orderkey, l_suppkey,
        |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
        |  FROM lineitem GROUP BY l_orderkey, l_suppkey),
        |stats AS (SELECT l_orderkey, l_suppkey, has_r,
        |    COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
        |    SUM(has_r) OVER (PARTITION BY l_orderkey) AS n_r_supp
        |  FROM pair)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM stats JOIN orders ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
        |  JOIN supplier ON s_suppkey = l_suppkey
        |WHERE has_r = 1 AND n_supp > 1 AND n_r_supp = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q5_region_revenue" ->
      s"""SELECT n_name, CAST(SUM($rev) AS DOUBLE) AS revenue
         |FROM region JOIN nation ON n_regionkey = r_regionkey
         |  JOIN customer ON c_nationkey = n_nationkey
         |  JOIN orders ON o_custkey = c_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin,
    "q7_nation_volume" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INT) AS l_year,
         |  CAST(SUM($rev) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
         |  AND cn.n_name IN ('NATION_1', 'NATION_2')
         |  AND sn.n_name <> cn.n_name
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_cheapest_supplier" ->
      s"""WITH px AS (SELECT l_partkey, l_suppkey, $rev AS price FROM lineitem),
         |m AS (SELECT l_partkey, MIN(price) AS best_price
         |  FROM px GROUP BY l_partkey),
         |w AS (SELECT px.l_partkey, m.best_price,
         |    MIN(px.l_suppkey) AS best_supp
         |  FROM px JOIN m ON px.l_partkey = m.l_partkey
         |    AND px.price = m.best_price
         |  GROUP BY px.l_partkey, m.best_price)
         |SELECT w.l_partkey AS partkey, p.p_name AS part_name,
         |  CAST(w.best_price AS DOUBLE) AS best_price, w.best_supp
         |FROM w JOIN part p ON p.p_partkey = w.l_partkey
         |ORDER BY partkey""".stripMargin,
    "q9_product_profit" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         |  CAST(SUM($rev) AS DOUBLE) AS profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin,
    "q16_supplier_diversity" ->
      """SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO' AND p_brand <> 'Brand#1'
        |GROUP BY p_brand, p_type
        |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC""".stripMargin,
    "q8_market_share" ->
      s"""WITH asia_cust AS (
         |  SELECT c_custkey FROM region
         |  JOIN nation ON n_regionkey = r_regionkey
         |  JOIN customer ON c_nationkey = n_nationkey
         |  WHERE r_name = 'ASIA'),
         |agg AS (
         |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |    CAST(SUM(CASE WHEN n_name = 'NATION_1' THEN $rev END) AS DOUBLE)
         |      AS nation_revenue,
         |    CAST(SUM($rev) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |    AND o_orderdate >= TIMESTAMP '1996-01-01'
         |    AND o_orderdate < TIMESTAMP '1998-01-01'
         |  JOIN asia_cust ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  GROUP BY 1)
         |SELECT o_year, COALESCE(nation_revenue, 0.0) AS nation_revenue,
         |  total_revenue,
         |  round(COALESCE(nation_revenue, 0.0) / total_revenue, 6) AS mkt_share
         |FROM agg ORDER BY o_year""".stripMargin,
    "q11_important_stock" ->
      """WITH pv AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_d
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_1'
        |  GROUP BY l_partkey),
        |tot AS (SELECT l_partkey, value_d,
        |    SUM(value_d) OVER () AS total_d FROM pv)
        |SELECT l_partkey, CAST(value_d AS DOUBLE) AS value
        |FROM tot WHERE value_d * 1000 > total_d
        |ORDER BY value DESC, l_partkey ASC""".stripMargin,
    "q12_priority_lines" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q20_excess_shippers" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty_ps
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_partkey, l_suppkey),
        |q AS (
        |  SELECT l_suppkey, qty_ps,
        |    SUM(qty_ps) OVER (PARTITION BY l_partkey) AS part_total
        |  FROM ps)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM q WHERE qty_ps > part_total * 0.3)
        |ORDER BY s_suppkey""".stripMargin,
    "a10_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin,
    "w6_rank_suite" ->
      """SELECT event_id, user_id,
        |  DENSE_RANK() OVER w AS dr,
        |  round(PERCENT_RANK() OVER w, 6) AS pr,
        |  round(CUME_DIST() OVER w, 6) AS cd
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_type)
        |ORDER BY event_id""".stripMargin,
    "w1_running_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  ROW_NUMBER() OVER w AS rn,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 3
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |ORDER BY l_suppkey, rn""".stripMargin,
    "a1_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "a2_distinct_agg" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "j1_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY tag, c_custkey""".stripMargin,
    "s1_set_ops" ->
      """SELECT nationkey, 'both' AS tag FROM (
        |  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        |  INTERSECT SELECT DISTINCT c_nationkey FROM customer)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS tag FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        |ORDER BY tag, nationkey""".stripMargin,
    "p1_pivot" ->
      """SELECT user_id,
        |  COALESCE(CAST(SUM(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS click_value,
        |  COALESCE(CAST(SUM(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS error_value,
        |  COALESCE(CAST(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS purchase_value,
        |  COALESCE(CAST(SUM(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS signup_value,
        |  COALESCE(CAST(SUM(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS view_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "e1_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000 > 1800
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, CAST(SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS end_ts
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "j6_overlap_join" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000 > 1800
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess0 AS (
        |  SELECT user_id, ts, CAST(SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged),
        |sess AS (SELECT user_id, session_id, MIN(ts) AS st, MAX(ts) AS en
        |  FROM sess0 GROUP BY 1, 2),
        |conc AS (SELECT a.user_id, a.session_id, COUNT(*) AS n_concurrent
        |  FROM sess a JOIN sess b
        |    ON a.user_id <> b.user_id AND a.st <= b.en AND b.st <= a.en
        |  GROUP BY 1, 2)
        |SELECT s.user_id, s.session_id,
        |  strftime(s.st, '%Y-%m-%d %H:%M:%S') AS start_ts,
        |  strftime(s.en, '%Y-%m-%d %H:%M:%S') AS end_ts,
        |  COALESCE(c.n_concurrent, 0) AS n_concurrent
        |FROM sess s LEFT JOIN conc c USING (user_id, session_id)
        |ORDER BY 1, 2""".stripMargin,
    "a4_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "p2_unpivot" ->
      """WITH wide AS (SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM wide
        |ORDER BY l_returnflag, measure""".stripMargin,
    "w2_lead_lag" ->
      """SELECT event_id, user_id,
        |  COALESCE(LAG(value) OVER w, -1.0) AS prev_value,
        |  COALESCE(LEAD(event_type) OVER w, 'none') AS next_type,
        |  NTILE(4) OVER w AS quartile
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "s4_nested_roundtrip" ->
      """SELECT l_orderkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "j4_salted_join" ->
      """WITH ts AS (SELECT event_type,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS type_sum,
        |    COUNT(*) AS type_n
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN CAST(e.value AS DECIMAL(12,2)) * ts.type_n > ts.type_sum
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
        |FROM events e JOIN ts USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j3_range_join" ->
      """SELECT p.o_orderkey AS p_key, COUNT(*) AS n_nearby
        |FROM orders p JOIN orders o
        |  ON p.o_orderkey < 100 AND o.o_orderkey <> p.o_orderkey
        |  AND abs(date_diff('day', p.o_orderdate, o.o_orderdate)) <= 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "w3_rolling_hour" ->
      """SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_last_hour,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_last_hour
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "s3_group_concat" ->
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "a5_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a6_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "j2_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |p AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  COALESCE(c.click_id, -1) AS last_click_id,
        |  COALESCE(strftime(c.ts, '%Y-%m-%d %H:%M:%S'), 'none') AS last_click_ts
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "w4_active_users" ->
      """WITH ev AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id
        |    FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ev GROUP BY 1),
        |fd AS (SELECT user_id, MIN(day) AS day FROM ev GROUP BY 1),
        |nu AS (SELECT day, COUNT(*) AS new_users FROM fd GROUP BY 1)
        |SELECT dau.day, dau,
        |  CAST(COALESCE(new_users, 0) AS BIGINT) AS new_users,
        |  CAST(SUM(COALESCE(new_users, 0)) OVER (
        |    ORDER BY dau.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM dau LEFT JOIN nu USING (day) ORDER BY dau.day""".stripMargin,
    "e2_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |    WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |    JOIN s1 USING (user_id)
        |    WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |    JOIN s2 USING (user_id)
        |    WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1)
        |SELECT s1.user_id,
        |  strftime(t1, '%Y-%m-%d %H:%M:%S') AS signup_ts,
        |  COALESCE(strftime(t2, '%Y-%m-%d %H:%M:%S'), 'none') AS click_ts,
        |  COALESCE(strftime(t3, '%Y-%m-%d %H:%M:%S'), 'none') AS purchase_ts,
        |  1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT) AS stage
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin,
    "a9_constraint_audit" ->
      """WITH m AS (SELECT
        |  COUNT(*) - COUNT(DISTINCT event_id) AS dup_event_id,
        |  SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user,
        |  SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS neg_value,
        |  SUM(CASE WHEN event_type NOT IN
        |    ('click','error','purchase','signup','view') THEN 1 ELSE 0 END) AS bad_type,
        |  SUM(CASE WHEN ts < TIMESTAMP '2020-01-01'
        |    OR ts >= TIMESTAMP '2030-01-01' THEN 1 ELSE 0 END) AS ts_out
        |  FROM events)
        |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS pass
        |FROM (
        |  SELECT 'event_id_unique' AS check_name, dup_event_id AS n_violations FROM m
        |  UNION ALL SELECT 'event_type_in_domain', bad_type FROM m
        |  UNION ALL SELECT 'ts_in_range', ts_out FROM m
        |  UNION ALL SELECT 'user_id_not_null', null_user FROM m
        |  UNION ALL SELECT 'value_non_negative', neg_value FROM m)
        |ORDER BY check_name""".stripMargin,
    "e3_retention_cohorts" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1),
        |sz AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM c GROUP BY 1),
        |r AS (SELECT c.cohort_day, act.day - c.cohort_day AS day_offset,
        |    COUNT(*) AS n_active
        |  FROM act JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT strftime(r.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(day_offset AS INT) AS day_offset, n_active, cohort_size,
        |  round(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
        |FROM r JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "s2_stratified_sample" -> {
      val fracCase = S2Fractions.map { case (t, f) =>
        s"WHEN event_type = '$t' THEN $f"
      }.mkString(" ")
      s"""WITH w AS (SELECT event_id, event_type,
         |    CASE $fracCase ELSE 0.0 END AS f
         |  FROM events)
         |SELECT event_id, event_type FROM w
         |WHERE substring(md5('s2:' || CAST(event_id AS VARCHAR)), 1, 8) <
         |  CASE WHEN f >= 1.0 THEN 'g'
         |    ELSE lpad(lower(to_hex(CAST(floor(f * 4294967296.0) AS BIGINT))), 8, '0') END
         |ORDER BY event_id""".stripMargin
    },
    "s5_reservoir_sample" ->
      s"""SELECT event_type, event_id, rk FROM (
         |  SELECT event_type, event_id, ROW_NUMBER() OVER (
         |      PARTITION BY event_type
         |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
         |  FROM events) WHERE rk <= $ReservoirK
         |ORDER BY event_type, rk""".stripMargin,
    "sc1_scd2_history" ->
      """WITH ev AS (SELECT user_id, event_type AS status, epoch_us(ts) AS ts_us,
        |    event_id FROM events WHERE user_id < 50),
        |runs AS (SELECT user_id, status, ts_us, event_id,
        |    CASE WHEN LAG(status) OVER w IS NULL
        |      OR LAG(status) OVER w <> status THEN 1 ELSE 0 END AS chg
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |vers AS (SELECT user_id, status, ts_us,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS BIGINT) AS version
        |  FROM runs),
        |hist AS (SELECT user_id, version, status, MIN(ts_us) AS valid_from,
        |    COUNT(*) AS n_events FROM vers GROUP BY 1, 2, 3)
        |SELECT user_id, version, status, valid_from,
        |  LEAD(valid_from) OVER w2 AS valid_to, n_events,
        |  LEAD(valid_from) OVER w2 IS NULL AS is_current
        |FROM hist WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin,
    "j5_bloom_prefilter" ->
      """SELECT o_custkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_custkey HAVING COUNT(*) >= 8
        |ORDER BY o_custkey""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q6_revenue_delta" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q19_disjunctive_join" ->
      s"""SELECT CAST(SUM($rev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
         |    AND l_quantity BETWEEN 1 AND 15)
         |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
         |    AND l_quantity BETWEEN 10 AND 25)
         |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
         |    AND l_quantity BETWEEN 20 AND 35))""".stripMargin,
    "w5_sliding_window" ->
      """WITH ev AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS b15,
        |    user_id FROM events),
        |ex AS (SELECT b15 - k * INTERVAL '15 minutes' AS win_start, user_id
        |  FROM ev, (SELECT unnest([0, 1, 2, 3]) AS k))
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin,
    "e4_transitions" ->
      """WITH t AS (SELECT event_type, LAG(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
        |c AS (SELECT prev, event_type AS curr, COUNT(*) AS n FROM t
        |  WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, curr, n,
        |  round(n / SUM(n) OVER (PARTITION BY prev), 6) AS p
        |FROM c ORDER BY prev, curr""".stripMargin,
    "q10_returned_revenue" ->
      s"""WITH r AS (SELECT o_custkey,
         |    CAST(SUM($rev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_returnflag = 'R'
         |    AND o_orderdate >= TIMESTAMP '1996-07-01'
         |    AND o_orderdate < TIMESTAMP '1996-10-01'
         |  GROUP BY o_custkey)
         |SELECT c_custkey, c_name, n_name, revenue, n_items
         |FROM r JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "w10_cumulative_users" ->
      """WITH fs AS (SELECT user_id,
        |    date_trunc('day', min(ts)) AS day FROM events GROUP BY 1),
        |d AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT)
        |    AS cumulative_users
        |FROM d ORDER BY day""".stripMargin,
    "w9_rolling_percentile" ->
      s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
         |    round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
         |      / count(*), 6) AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hr, v,
         |  count(*) OVER w AS n_window,
         |  round(quantile_cont(v, $RollPct) OVER w, 6) AS p95
         |FROM h
         |WINDOW w AS (PARTITION BY event_type ORDER BY hr
         |  ROWS BETWEEN ${RollPctWindow - 1} PRECEDING AND CURRENT ROW)
         |ORDER BY 1, 2""".stripMargin,
    "a18_cohort_ltv" ->
      s"""WITH ev AS (SELECT user_id, event_type, value,
         |    epoch_us(ts) AS ts_us,
         |    epoch_us(date_trunc('week', ts)) AS wk_us
         |  FROM events WHERE event_type IN ('signup', 'purchase')),
         |t AS (SELECT *,
         |    min(CASE WHEN event_type = 'signup' THEN ts_us END)
         |      OVER (PARTITION BY user_id) AS s_us,
         |    min(CASE WHEN event_type = 'signup' THEN wk_us END)
         |      OVER (PARTITION BY user_id) AS cohort_us
         |  FROM ev),
         |cs AS (SELECT cohort_us, count(DISTINCT user_id) AS cohort_size
         |  FROM t WHERE event_type = 'signup' GROUP BY 1),
         |r AS (SELECT cohort_us,
         |    (ts_us - s_us) // ${7L * 86400 * 1000000} AS week_offset,
         |    count(*) AS n_purchases,
         |    SUM(CAST(value AS DECIMAL(18,6))) AS rev
         |  FROM t WHERE event_type = 'purchase' AND s_us IS NOT NULL
         |    AND ts_us >= s_us GROUP BY 1, 2),
         |c AS (SELECT r.*, cs.cohort_size,
         |    sum(rev) OVER (PARTITION BY r.cohort_us ORDER BY week_offset
         |      ROWS UNBOUNDED PRECEDING) AS cum_rev
         |  FROM r JOIN cs USING (cohort_us))
         |SELECT strftime(make_timestamp(cohort_us), '%Y-%m-%d')
         |    AS cohort_week,
         |  week_offset, cohort_size, n_purchases,
         |  round(CAST(rev AS DOUBLE), 6) AS revenue,
         |  round(CAST(cum_rev AS DOUBLE), 6) AS cum_revenue,
         |  round(CAST(cum_rev AS DOUBLE) / cohort_size, 6) AS ltv_per_user
         |FROM c ORDER BY 1, 2""".stripMargin,
    "rfm1_segments" ->
      s"""WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
         |c AS (SELECT o_custkey,
         |    date_diff('day', max(o_orderdate), mx.maxd) AS r,
         |    count(*) AS f,
         |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS m
         |  FROM orders CROSS JOIN mx GROUP BY 1, mx.maxd),
         |t AS (SELECT round(quantile_cont(r, ${1.0 / 3}), 6) AS r33,
         |    round(quantile_cont(r, ${2.0 / 3}), 6) AS r67,
         |    round(quantile_cont(f, ${1.0 / 3}), 6) AS f33,
         |    round(quantile_cont(f, ${2.0 / 3}), 6) AS f67,
         |    round(quantile_cont(m, ${1.0 / 3}), 6) AS m33,
         |    round(quantile_cont(m, ${2.0 / 3}), 6) AS m67 FROM c),
         |sc AS (SELECT
         |    4 - (1 + CAST(r > r33 AS INT) + CAST(r > r67 AS INT)) AS r_score,
         |    1 + CAST(f > f33 AS INT) + CAST(f > f67 AS INT) AS f_score,
         |    1 + CAST(m > m33 AS INT) + CAST(m > m67 AS INT) AS m_score,
         |    m FROM c CROSS JOIN t)
         |SELECT r_score, f_score, m_score, count(*) AS n_customers,
         |  round(CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE)
         |    / count(*), 6) AS avg_monetary
         |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "a17_cross_corr" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
        |    round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*), 6) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  count(*) AS n_hours, round(corr(a.v, b.v), 6) AS r
        |FROM h a JOIN h b ON a.hr = b.hr AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e9_common_paths" ->
      s"""WITH ev AS (SELECT user_id, event_type, event_id,
         |    epoch_us(ts) AS ts_us FROM events),
         |b AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
         |      OR ts_us - lag(ts_us) OVER w > $PathGapUs THEN 1
         |      ELSE 0 END AS brk
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM b),
         |l AS (SELECT user_id, sid,
         |    list(event_type ORDER BY ts_us, event_id) AS types
         |  FROM s2 GROUP BY 1, 2),
         |p AS (SELECT unnest([array_to_string(types[i:i+${PathLen - 1}], '>')
         |    FOR i IN generate_series(1, len(types) - ${PathLen - 1})]) AS path
         |  FROM l WHERE len(types) >= $PathLen)
         |SELECT path, count(*) AS n FROM p GROUP BY 1
         |ORDER BY n DESC, path LIMIT $PathTopK""".stripMargin,
    "w8_active_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |    FROM events),
        |isl AS (SELECT user_id, day - CAST(row_number() OVER (
        |      PARTITION BY user_id ORDER BY day) AS INT) AS grp FROM days),
        |runs AS (SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2),
        |lg AS (SELECT user_id, max(len) AS longest FROM runs GROUP BY 1)
        |SELECT longest AS streak_days, count(*) AS n_users
        |FROM lg GROUP BY 1 ORDER BY 1""".stripMargin,
    "e8_survival_curve" ->
      """WITH pe AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day
        |    FROM events WHERE event_type IN ('signup', 'purchase')),
        |su AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN day END) AS sday
        |  FROM pe GROUP BY 1),
        |mx AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
        |fp AS (SELECT pe.user_id, min(pe.day) AS pday
        |  FROM pe JOIN su ON pe.user_id = su.user_id
        |  WHERE pe.event_type = 'purchase' AND pe.day >= su.sday
        |  GROUP BY 1),
        |du AS (SELECT
        |    CASE WHEN fp.pday IS NOT NULL
        |      THEN date_diff('day', su.sday, fp.pday)
        |      ELSE date_diff('day', su.sday, mx.maxd) END AS t,
        |    fp.pday IS NOT NULL AS event
        |  FROM su CROSS JOIN mx LEFT JOIN fp ON su.user_id = fp.user_id
        |  WHERE su.sday IS NOT NULL),
        |byt AS (SELECT t, CAST(sum(CASE WHEN event THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d,
        |    count(*) AS obs FROM du GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM du),
        |r AS (SELECT t, d, CAST(n - COALESCE(sum(obs) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n_risk
        |  FROM byt CROSS JOIN tot),
        |e AS (SELECT t, d, n_risk,
        |    round(ln(greatest(1e-12,
        |      1.0 - CAST(d AS DOUBLE) / n_risk)), 9) AS lnf
        |  FROM r WHERE d > 0)
        |SELECT t AS t_days, n_risk, d AS n_events,
        |  round(exp(sum(lnf) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |    AS survival
        |FROM e ORDER BY t_days""".stripMargin,
    "e11_first_touch" ->
      s"""WITH ev AS (SELECT event_id, user_id, event_type, value,
         |    epoch_us(ts) AS ts_us FROM events
         |  WHERE event_type IN ('purchase', 'click', 'view')),
         |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
         |t AS (SELECT * FROM ev WHERE event_type <> 'purchase'),
         |j AS (SELECT p.event_id AS pid, t.event_type AS ch,
         |    t.ts_us AS tts,
         |    row_number() OVER (PARTITION BY p.event_id
         |      ORDER BY t.ts_us, t.event_id) AS rn
         |  FROM p JOIN t ON t.user_id = p.user_id
         |    AND t.ts_us >= p.ts_us - $AttributionWindowUs
         |    AND t.ts_us <= p.ts_us - 1),
         |ft AS (SELECT pid, ch, tts FROM j WHERE rn = 1)
         |SELECT COALESCE(ft.ch, 'none') AS channel,
         |  count(*) AS n_purchases,
         |  round(CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE), 6)
         |    AS revenue,
         |  round(AVG(p.ts_us - ft.tts) / 1e6, 6) AS avg_lag_s
         |FROM p LEFT JOIN ft ON ft.pid = p.event_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "e7_attribution" ->
      s"""WITH ev AS (SELECT event_id, user_id, event_type, value,
         |    epoch_us(ts) AS ts_us
         |  FROM events WHERE event_type IN ('purchase', 'click', 'view')),
         |p AS (SELECT *, max(CASE WHEN event_type <> 'purchase'
         |      THEN {'ts_us': ts_us, 'eid': event_id, 'et': event_type} END)
         |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
         |  FROM ev),
         |a AS (SELECT CASE WHEN lt IS NULL
         |        OR ts_us - lt.ts_us > $AttributionWindowUs THEN 'none'
         |      ELSE lt.et END AS channel, value,
         |    CASE WHEN lt IS NOT NULL
         |        AND ts_us - lt.ts_us <= $AttributionWindowUs
         |      THEN ts_us - lt.ts_us END AS lag_us
         |  FROM p WHERE event_type = 'purchase')
         |SELECT channel, count(*) AS n_purchases,
         |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
         |    AS revenue,
         |  round(avg(lag_us) / 1e6, 6) AS avg_lag_s
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "e5_conversion_lag" ->
      """WITH s AS (SELECT user_id, MIN(epoch_us(ts)) AS s_us FROM events
        |    WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT p.user_id, MIN(epoch_us(p.ts) - s.s_us) AS lag_us
        |  FROM events p JOIN s ON p.user_id = s.user_id
        |  WHERE p.event_type = 'purchase' AND epoch_us(p.ts) >= s.s_us
        |  GROUP BY 1)
        |SELECT COUNT(*) AS n_signup_users, COUNT(lag_us) AS n_converted,
        |  round(CAST(COUNT(lag_us) AS DOUBLE) / COUNT(*), 6) AS conv_rate,
        |  round(quantile_cont(lag_us // 1000000, 0.5), 4) AS p50_lag_s,
        |  round(quantile_cont(lag_us // 1000000, 0.9), 4) AS p90_lag_s
        |FROM s LEFT JOIN c USING (user_id)""".stripMargin,
    "w14_lorenz" ->
      """WITH x AS (SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM x),
        |t AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS tot FROM x),
        |d AS (SELECT CAST(floor((i - 1) * 10 / t.n) AS BIGINT) + 1 AS decile,
        |    cents, t.tot FROM r CROSS JOIN t),
        |g AS (SELECT decile, COUNT(*) AS n_customers,
        |    CAST(SUM(cents) AS BIGINT) AS decile_cents, MAX(tot) AS tot
        |  FROM d GROUP BY 1),
        |c AS (SELECT *, CAST(SUM(decile_cents) OVER (ORDER BY decile)
        |    AS BIGINT) AS cum_cents FROM g)
        |SELECT decile, n_customers, decile_cents, cum_cents,
        |  round(CAST(decile_cents AS DOUBLE) / tot, 6) AS decile_share,
        |  round(CAST(cum_cents AS DOUBLE) / tot, 6) AS cum_share
        |FROM c ORDER BY decile""".stripMargin,
    "w11_gini" ->
      """WITH x AS (SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM x),
        |a AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS tot,
        |    SUM(CAST(i AS HUGEINT) * cents) AS swx
        |  FROM r)
        |SELECT n AS n_customers, tot AS total_cents,
        |  round((2.0 * CAST(swx AS DOUBLE) / CAST(tot AS DOUBLE)
        |    - (n + 1.0)) / n, 6) AS gini
        |FROM a""".stripMargin,
    "w13_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        |  FROM events),
        |fs AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1)
        |SELECT strftime(ud.day, '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_active,
        |  CAST(SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  COUNT(*) - CAST(SUM(CASE WHEN ud.day = fs.first_day
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
        |  round(CAST(SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS new_frac
        |FROM ud JOIN fs USING (user_id)
        |GROUP BY ud.day ORDER BY day""".stripMargin,
    "w12_top_decile_share" ->
      """WITH x AS (SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM x),
        |t AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS tot
        |  FROM x)
        |SELECT t.n AS n_customers, (t.n + 9) // 10 AS top_k,
        |  CAST(SUM(r.cents) AS BIGINT) AS top_cents, t.tot AS tot_cents,
        |  round(CAST(SUM(r.cents) AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
        |    AS top_share
        |FROM r CROSS JOIN t
        |WHERE r.i > t.n - (t.n + 9) // 10
        |GROUP BY t.n, t.tot""".stripMargin,
    "e13_bounce_rate" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000 > 1800
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, CAST(SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged),
        |sg AS (SELECT user_id, session_id, COUNT(*) AS n_events,
        |    MIN(ts) AS start_ts
        |  FROM sess GROUP BY 1, 2)
        |SELECT strftime(date_trunc('day', start_ts), '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS bounce_rate,
        |  round(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) AS avg_events
        |FROM sg GROUP BY 1 ORDER BY 1""".stripMargin,
    "e12_peak_concurrency" ->
      """WITH iv AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    MIN(ts) AS s_ts, MAX(ts) AS e_ts FROM events GROUP BY 1, 2),
        |b AS (SELECT day, s_ts AS t, 1 AS d, user_id FROM iv
        |  UNION ALL SELECT day, e_ts, -1, user_id FROM iv),
        |sw AS (SELECT day, SUM(d) OVER (PARTITION BY day
        |    ORDER BY t, d DESC, user_id ROWS UNBOUNDED PRECEDING) AS c
        |  FROM b)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  COUNT(*) // 2 AS n_active, CAST(MAX(c) AS BIGINT) AS peak
        |FROM sw GROUP BY day ORDER BY day""".stripMargin,
    "a12_volume_drift" ->
      s"""WITH d AS (SELECT date_trunc('day', ts) AS day,
         |    COUNT(*) AS n_events FROM events GROUP BY 1),
         |s AS (SELECT day, n_events,
         |    AVG(n_events) OVER w AS mu, STDDEV_SAMP(n_events) OVER w AS sd
         |  FROM d WINDOW w AS (ORDER BY day
         |    ROWS BETWEEN $DriftTrail PRECEDING AND 1 PRECEDING))
         |SELECT strftime(day, '%Y-%m-%d') AS day, n_events,
         |  round(mu, 6) AS trail_mean,
         |  CASE WHEN sd > 0 THEN round((n_events - mu) / sd, 6) END AS z,
         |  COALESCE(abs(CASE WHEN sd > 0
         |    THEN round((n_events - mu) / sd, 6) END) > 2, false) AS is_anomaly
         |FROM s ORDER BY day""".stripMargin,
    "s6_weighted_sample" ->
      s"""WITH w AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words,
         |    (CAST(CAST('0x' || substring(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 1.0) / 4294967296.0 AS u
         |  FROM documents)
         |SELECT doc_id, n_words, round(-ln(u) / n_words, 9) AS es_key
         |FROM w ORDER BY es_key ASC, doc_id LIMIT $WeightedSampleK""".stripMargin,
    "obt1_denormalize" ->
      """SELECT l.l_orderkey, l.l_linenumber,
        |  round(l.l_extendedprice * (1 - l.l_discount), 4) AS revenue,
        |  o.o_orderdate, c.c_name, cn.n_name AS cust_nation,
        |  cr.r_name AS cust_region, p.p_name, s.s_name,
        |  sn.n_name AS supp_nation
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN region cr ON cn.n_regionkey = cr.r_regionkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin)

  /** s6: weighted sampling without replacement — Efraimidis &
    * Spirakis 2006: each row gets key −ln(u)/w (u uniform from a
    * salted md5, w = word count) and the K smallest keys ARE a
    * weight-proportional sample without replacement. s5's uniform
    * discipline with weights: deterministic (same winners every
    * engine/run — the full SQL oracle applies), one scan, and the
    * global top-K compiles to TakeOrderedAndProject (per-partition
    * heaps, no global sort). The md5's first 8 hex chars parse to an
    * exact-in-double 32-bit integer, so u and the key are
    * bit-identical in both engines. */
  def s6WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit("es:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("double") + 1.0) /
      4294967296.0
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_words"), u.as("u"))
      .select(col("doc_id"), col("n_words"),
        round(-log(col("u")) / col("n_words"), 9).as("es_key"))
      .orderBy(col("es_key").asc, col("doc_id"))
      .limit(WeightedSampleK)
  }

  /** obt1: the "One Big Table" star-schema denormalization — the
    * dbt-era materialization every warehouse ships: lineitem widened
    * with its order, customer geography, part, and supplier
    * geography in one pass. Plan shape is THE star-join textbook
    * case: the bounded dims (nation×2, region) broadcast by hint;
    * customer, part, and supplier are sf-linear, so their strategy is
    * CBO/AQE's — broadcast hash tables at bench scale (pinned in
    * PlanAuditSpec), shuffle-hash at 100 TB where a 15 B-row
    * customer build side would OOM. orders is the one fact-sized
    * side and joins on the shuffle; the fact table is scanned exactly
    * once, one orderkey exchange either way. */
  def obt1Denormalize(s: SparkSession, dir: String): DataFrame =
    // r15 opt: the old trailing GLOBAL orderBy was pure cost — the
    // gate's hash is computed over SORTED rows (order-insensitive;
    // tools/oracle_check.py `table_key`), so the range exchange + its
    // sampling pass over the widest frame in the warehouse bought
    // nothing (guide §2.4: "an orderBy used only to make output
    // deterministic"). Dropping it: same rows, same hash, one less
    // global Sort + Exchange (measured 2.34→1.5 s class at sf0.1).
    // The production write shape remains Sources.obt2PartitionedObt.
    denormFrame(s, dir)

  /** The denormalized OBT frame (shared by obt1's oracle-shaped query
    * and obt2's partitioned materialization — see [[obt1Denormalize]]
    * for the plan-shape discussion). */
  private[graft] def denormFrame(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val custNation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"),
        col("n_regionkey"))
    val custGeo = Tables.customer(s, dir)
      .join(broadcast(custNation), col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("cust_nation"),
        col("r_name").as("cust_region"))
    val suppGeo = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name").as("supp_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(custGeo, col("o_custkey") === col("c_custkey"))
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .join(suppGeo, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        col("o_orderdate"), col("c_name"), col("cust_nation"),
        col("cust_region"), col("p_name"), col("s_name"), col("supp_nation"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s6_weighted_sample" -> (s6WeightedSample _),
    "obt1_denormalize" -> (obt1Denormalize _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_topk_revenue" -> (q3TopkRevenue _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q7_nation_volume" -> (q7NationVolume _),
    "q8_cheapest_supplier" -> (q8CheapestSupplier _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q8_market_share" -> (q8MarketShare _),
    "q11_important_stock" -> (q11ImportantStock _),
    "q12_priority_lines" -> (q12PriorityLines _),
    "q20_excess_shippers" -> (q20ExcessShippers _),
    "q16_supplier_diversity" -> (q16SupplierDiversity _),
    "q13_custdist" -> (q13CustDist _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "q22_dormant_customers" -> (q22DormantCustomers _),
    "a10_grouping_sets" -> (a10GroupingSets _),
    "w6_rank_suite" -> (w6RankSuite _),
    "w1_running_window" -> (w1RunningWindow _),
    "a1_rollup" -> (a1Rollup _),
    "a2_distinct_agg" -> (a2DistinctAgg _),
    "a3_approx_distinct" -> (a3ApproxDistinct _),
    "j1_semi_anti" -> (j1SemiAnti _),
    "s1_set_ops" -> (s1SetOps _),
    "p1_pivot" -> (p1Pivot _),
    "e1_sessionize" -> (e1Sessionize _),
    "a4_cube" -> (a4Cube _),
    "p2_unpivot" -> (p2Unpivot _),
    "w2_lead_lag" -> (w2LeadLag _),
    "j2_asof_join" -> (j2AsofJoin _),
    "s2_stratified_sample" -> (s2StratifiedSample _),
    "a5_percentiles" -> (a5Percentiles _),
    "a6_stats" -> (a6Stats _),
    "w3_rolling_hour" -> (w3RollingHour _),
    "s3_group_concat" -> (s3GroupConcat _),
    "j3_range_join" -> (j3RangeJoin _),
    "a7_approx_quantile" -> (a7ApproxQuantile _),
    "j4_salted_join" -> (j4SaltedJoin _),
    "s4_nested_roundtrip" -> (s4NestedRoundtrip _),
    "s5_reservoir_sample" -> (s5ReservoirSample _),
    "a9_constraint_audit" -> (a9ConstraintAudit _),
    "e2_funnel" -> (e2Funnel _),
    "e3_retention_cohorts" -> (e3RetentionCohorts _),
    "w4_active_users" -> (w4ActiveUsers _),
    "sc1_scd2_history" -> (sc1Scd2History _),
    "j5_bloom_prefilter" -> (j5BloomPrefilter _),
    "j6_overlap_join" -> (j6OverlapJoin _),
    "a11_sketch_rollup" -> (a11SketchRollup _),
    "a14_sketch_overlap" -> (a14SketchOverlap _),
    "w7_stickiness" -> (w7Stickiness _),
    "a15_fk_audit" -> (a15FkAudit _),
    "a16_chi2" -> (a16Chi2 _),
    "q4_priority_exists" -> (q4PriorityExists _),
    "q6_revenue_delta" -> (q6RevenueDelta _),
    "q10_returned_revenue" -> (q10ReturnedRevenue _),
    "q19_disjunctive_join" -> (q19DisjunctiveJoin _),
    "w5_sliding_window" -> (w5SlidingWindow _),
    "e4_transitions" -> (e4Transitions _),
    "e5_conversion_lag" -> (e5ConversionLag _),
    "e7_attribution" -> (e7Attribution _),
    "e11_first_touch" -> (e11FirstTouch _),
    "e8_survival_curve" -> (e8SurvivalCurve _),
    "w8_active_streaks" -> (w8ActiveStreaks _),
    "e9_common_paths" -> (e9CommonPaths _),
    "rfm1_segments" -> (rfm1Segments _),
    "a18_cohort_ltv" -> (a18CohortLtv _),
    "w9_rolling_percentile" -> (w9RollingPercentile _),
    "w10_cumulative_users" -> (w10CumulativeUsers _),
    "a17_cross_corr" -> (a17CrossCorr _),
    "a12_volume_drift" -> (a12VolumeDrift _),
    "w11_gini" -> (w11Gini _),
    "w14_lorenz" -> (w14Lorenz _),
    "e12_peak_concurrency" -> (e12PeakConcurrency _),
    "w12_top_decile_share" -> (w12TopDecileShare _),
    "e13_bounce_rate" -> (e13BounceRate _),
    "w13_new_vs_returning" -> (w13NewVsReturning _))
}
