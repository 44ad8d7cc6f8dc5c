package graft.operators

import graft.Tables
import graft.sources.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics (SURVEY §2 row 160): PageRank over the
  * order-derived customer→supplier graph — the iterative keyed-
  * aggregate family beyond d6's connected components (Brin & Page
  * 1998; the DataFrame shape is the standard Pregel-on-relations
  * power iteration).
  */
object Graph {

  val Damping = 0.85
  /** The teleport constant EXACTLY as Spark computes it: Catalyst
    * constant-folds lit(1.0)-lit(Damping) in IEEE double
    * (0.15000000000000002), while DuckDB would evaluate the SQL text
    * `1.0 - 0.85` in exact DECIMAL and convert to the *other*
    * neighboring double (…99944) — a 1-ulp divergence inside g2's
    * floor-quantized recurrence that could flip a rank sitting on a
    * .5 boundary. Interpolating the host-computed double (whose
    * toString round-trips exactly in DuckDB's parser) makes both
    * engines iterate with the identical constant. */
  val OneMinusDamping: Double = 1.0 - Damping
  val PrIters = 10
  val PrTopK = 20

  /** Durable co-order graph index: the DISTINCT (customer, supplier)
    * edge set derived from orders ⋈ lineitem, published ONCE per
    * corpus fingerprint (the shingle/ANN/text index pattern on the
    * graph plane). Every graph operator in this family — g2's
    * PageRank, g4's link prediction, g5's degree profile, g6's BFS —
    * starts from exactly this frame, and before this each of them
    * re-paid the fact-fact join + distinct shuffle per query. At
    * 100 TB the graph IS an ingest artifact: you materialize the edge
    * list when the orders land, and traversals/iterations read
    * committed parquet (the fact tables appear nowhere in their
    * plans). The ANALYTICS stay in-query — only edge derivation is
    * hoisted. */
  /** g8's deterministic ingest split: batch = o_orderkey % 4 == 0 —
    * an ORDER arrives with its lineitems (the realistic ingest grain),
    * so the batch's edge contribution is derivable from the batch
    * orders alone. */
  val GraphBatchMod = 4

  // v3 (v2 added the increment path; v3 adds the touched-keys output):
  // the edge artifact is INCREMENTALLY MAINTAINED (built over the base
  // order slice, then the batch slice applied through the ledger'd
  // increment path) — the salt bump forces stale-recipe rebuilds
  private[graft] val coOrderIndex = Artifact.incremental("graph_index", "orders", "lineitem")(
    s"co-order-v3;incr=mod$GraphBatchMod;touched;")(edgeIncrement)

  /** Distinct (c, sk) pairs contributed by an order slice. */
  private[graft] def pairsOf(s: SparkSession, dir: String,
      orderFilter: org.apache.spark.sql.Column): DataFrame =
    Tables.orders(s, dir).filter(orderFilter)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()

  /** Version N+1 of the co-order edge artifact from version N's
    * COMMITTED pairs plus only the batch's (c, sk) pairs (the d13
    * discipline on the graph plane — and the EASY case, like er4:
    * under ingest, orders only ARRIVE, so the distinct pair set is
    * ADD-ONLY; base ∪ batch = set union, realized as one anti-join of
    * the batch's distinct pairs against the committed table + append.
    * The fact tables are never rescanned). Every graph consumer (g2
    * ranks, g4 pair supports, g5/g6/g7) derives from this committed
    * edge SET, so their
    * existing full-corpus hash oracles double as the proof that
    * increment ≡ rebuild on real data every round. */
  private def edgeIncrement(s: SparkSession, root: String,
      batchPairs: DataFrame, batchId: Long): Seq[(String, DataFrame)] = {
    val committed = graft.sources.AtomicPublish.readOutput(s, root, "co_order")
    val fresh = batchPairs.distinct()
      .join(committed, Seq("c", "sk"), "left_anti")
    Seq(
      "co_order" -> committed.unionByName(fresh),
      // the batch's own customer keys: the ingest report (g8) reads
      // committed state ONLY instead of re-joining the fact tables
      "touched" -> batchPairs.select(col("c")).distinct())
  }

  /** Ensure the committed co-order edge artifact exists (built v1
    * over the base order slice, then INCREMENTED with the batch
    * slice) and return its root — the post-ingest snapshot every
    * graph operator derives from. */
  private[graft] def ensureCoOrder(s: SparkSession, dir: String): String =
    coOrderIndex.ensureIngested(s, dir) {
      (Seq("co_order" -> pairsOf(s, dir, col("o_orderkey") % GraphBatchMod =!= 0)),
        pairsOf(s, dir, col("o_orderkey") % GraphBatchMod === 0))
    }

  /** The committed distinct (c, sk) frame (see [[ensureCoOrder]]). */
  private[graft] def coOrderPairs(s: SparkSession, dir: String): DataFrame =
    graft.sources.AtomicPublish.readOutput(s, ensureCoOrder(s, dir), "co_order")

  /** g8: the ingest batch's adjacency report from the INCREMENTALLY-
    * maintained edge artifact — for every customer the batch touched,
    * the merged corpus-wide degree and the full sorted supplier-list
    * digest (ix4's scalar-digest convention on the graph plane). Reads
    * the committed snapshot plus the batch orders only; the oracle
    * recomputes the same frame from the FULL fact tables, so a hash
    * pass proves anti-join-append maintenance ≡ rebuild, membership
    * and order included. */
  def g8IncrementalEdges(s: SparkSession, dir: String): DataFrame = {
    val root = ensureCoOrder(s, dir) // the post-ingest snapshot
    // committed-state-only read path: the increment published its own
    // touched customer keys (never re-join the fact tables per query)
    val bc = graft.sources.AtomicPublish.readOutput(s, root, "touched")
    graft.sources.AtomicPublish.readOutput(s, root, "co_order")
      .join(bc, Seq("c"), "left_semi")
      .groupBy(col("c"))
      .agg(count(lit(1)).as("degree"),
        md5(array_join(sort_array(collect_list(col("sk"))), ","))
          .as("suppliers_md5"))
      .orderBy("c")
  }

  /** Directed edge list of the co-order graph: customer → supplier
    * for every (order, lineitem) pair, deduped. Node ids are
    * disjointly encoded (customer 2k, supplier 2k+1). Read from the
    * committed [[coOrderPairs]] artifact — the encode is a
    * scan-projection. */
  private[graft] def edges(s: SparkSession, dir: String): DataFrame =
    coOrderPairs(s, dir)
      .select((col("c") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))

  /** Power-iteration PageRank on an arbitrary (src, dst) edge frame.
    * Per round: one src-keyed join+aggregate (contributions), one
    * 1-row dangling-mass aggregate (suppliers have no out-links —
    * their rank teleports uniformly) attached IN-PLAN via a broadcast
    * crossJoin (prof2's scalar pattern — keeping it out of the driver
    * halves the jobs per round: the round's single action is its
    * lineage-truncating checkpoint), one node-keyed left join to form
    * the new rank vector — every step a keyed aggregate or broadcast,
    * lineage TRUNCATED each round (localCheckpoint; the d6/t18
    * discipline — untruncated plans grow geometrically). The rank
    * vector never leaves the cluster; driver state is just the loop
    * counter. */
  private[graft] def pagerank(edgeDf: DataFrame, iters: Int = PrIters)
      : DataFrame = {
    // Plain checkpointed loop inputs, ON PURPOSE: a checkpointed frame
    // reports UnknownPartitioning at the SQL layer (measured — a
    // pre-checkpoint repartition buys nothing downstream), and the
    // §5-recorded round-10 probe showed every "fix" for the per-round
    // edge re-exchange (bucketed tables, cache+co-partition,
    // cache+merge-hints) LOSES to this baseline, because AQE already
    // converts each round's join to a broadcast of the true-small rank
    // vector and re-reads the edge exchange's map outputs locally.
    val e = edgeDf.localCheckpoint()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // the dangling node SET is static across rounds — resolve it ONCE
    // (left join against out-degrees) and carry (outdeg, dangling) as
    // columns of the rank vector, so each round's dangling-mass
    // aggregate is a pure scan of the checkpointed ranks and the
    // share division needs no per-round ranks⋈outdeg join at all
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
      .join(outdeg, col("node") === col("src"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .localCheckpoint()
    val n = nodes.count().toDouble
    // The rank vector is carried as an int64 `rq` in units of 1e-12
    // (the g4/ts9 quantization discipline, applied PER ITERATION):
    // every cross-row summation (the two places floating-point order
    // dependence could creep in) sums exact integers, and the scalar
    // float ops between them are fixed-order IEEE expressions any
    // engine reproduces bit-identically. That is what makes a 10-round
    // power iteration HASH-CHECKABLE against a DuckDB ladder — the one
    // rows-only justification g2 used to carry. Quantization bias is
    // ≤5e-13/node/round, invisible at the 9dp output grain.
    // no checkpoint on the initial vector: it is one constant-column
    // projection over the already-checkpointed nodes frame, so
    // materializing it only added a full copy job per call
    var ranks = nodes
      .withColumn("rq", lit(math.floor(1e12 / n + 0.5).toLong))
    for (i <- 0 until iters) {
      // nodes with no out-edges contribute their whole rank as
      // uniformly-teleported dangling mass — a 1-row bounded aggregate
      val dangling = ranks.filter(col("outdeg") === 0L)
        .agg(coalesce(sum(col("rq")), lit(0L)).as("dmass_q"))
      val contrib = e.join(
        ranks.filter(col("outdeg") > 0L).select(col("node").as("csrc"),
          floor(col("rq").cast("double") / col("outdeg") + lit(0.5))
            .as("share_q")),
        col("src") === col("csrc"))
        .groupBy(col("dst")).agg(sum(col("share_q")).as("inflow_q"))
      val next = nodes.join(contrib, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("outdeg"),
          floor((lit(OneMinusDamping) / lit(n) + lit(Damping) *
            ((coalesce(col("inflow_q"), lit(0L)) + col("dmass_q") / lit(n)) /
              lit(1e12))) * lit(1e12) + lit(0.5)).as("rq"))
      // lineage-truncate every THIRD round (and on the last): one
      // materialization job covers three rounds' plans — still shallow
      // enough for codegen (measured; a deeper span regresses compile
      // time) while cutting the action count to ~iters/3. Re-measured
      // in r11: cadence 5 is 16% SLOWER (5.94 vs 5.12 s min-of-6 at
      // sf0.1 — the deeper codegen span costs more than the saved job)
      ranks = if (i % 3 == 2 || i == iters - 1) next.localCheckpoint()
        else next
    }
    ranks.withColumn("r", col("rq").cast("double") / lit(1e12))
  }

  /** Durable rank-vector table (g2). The iteration parameters are part
    * of the fingerprint: a knob change builds a sibling root. */
  private[graft] val prIndex = Artifact("graph_pr_index", "orders", "lineitem")(
    s"pr-v1;iters=$PrIters;damping=$Damping;quant=1e-12;")

  /** g2: PageRank top-[[PrTopK]] — which suppliers (and customers)
    * sit at the center of the order flow. The rank VECTOR is a
    * published artifact (the g7/m6 argument: a 10-round power
    * iteration over a 100 TB edge set is ingest-time work, paid once
    * per corpus fingerprint — centrality consumers like ranking
    * joins and mix weighting read committed parquet, and the audited
    * iterative plan in [[pagerank]] is the BUILD plan). The exact
    * int64 rq is what's stored; the read path projects/rounds.
    * Deterministic total order (rank desc at 9dp, node asc); FULL
    * hash oracle since round 11: the per-iteration int64 quantization
    * in [[pagerank]] makes the fixed point engine-independent, and
    * the oracle unrolls the same ten rounds as a CTE ladder (the g6
    * pattern) — a hash pass proves published vector ≡ recompute. The
    * 9dp output grain is integer arithmetic on rq — no round()
    * half-boundary hazard. */
  def g2Pagerank(s: SparkSession, dir: String): DataFrame = {
    val root = prIndex.ensure(s, dir) {
      Seq("ranks" -> pagerank(edges(s, dir)).select(col("node"), col("rq")))
    }
    graft.sources.AtomicPublish.readOutput(s, root, "ranks")
      .select(col("node"),
        when(pmod(col("node"), lit(2)) === 0, "customer")
          .otherwise("supplier").as("kind"),
        (floor((col("rq") + lit(500L)).cast("double") / lit(1000.0))
          .cast("double") / lit(1e9)).as("rank"))
      .orderBy(col("rank").desc, col("node").asc)
      .limit(PrTopK)
  }

  val TriMinSupport = 2 // orders a part pair must co-occur in
  val TriTopK = 10

  /** Undirected co-purchase edge list: part pairs co-ordered in
    * ≥ [[TriMinSupport]] orders, u < v canonical — read from the
    * COMMITTED basket index ([[Mining.ensureBasketIndex]]; its
    * build keeps b1's in-row packed-pair generation, never a fact
    * self-join). Support thresholding is what bounds the edge set as
    * the corpus grows; the index floor equals [[TriMinSupport]], so
    * the read is exact. */
  private[graft] def cooccurEdges(s: SparkSession, dir: String): DataFrame = {
    // the index floor must not exceed this consumer's threshold, or
    // the read path would silently miss edges
    require(TriMinSupport >= Mining.BasketMinSupport,
      "g3 threshold below the basket index's support floor")
    graft.sources.AtomicPublish.readOutput(s,
      Mining.ensureBasketIndex(s, dir), "pair_support")
      .filter(col("n_xy") >= TriMinSupport)
      .select(shiftright(col("pk"), 32).as("u"),
        col("pk").bitwiseAND(lit(4294967295L)).as("v"))
  }

  /** Per-node triangle counts of an undirected (u, v) edge frame via
    * DEGREE-ORDERED orientation (the Suri & Vassilvitskii WWW'11 /
    * Cohen '09 MapReduce-triangles discipline): every edge is directed
    * from its lower-(degree, id) endpoint to the higher, so each
    * triangle materializes as exactly one directed wedge a→b, a→c
    * closed by b→c, and the wedge fan-out per node is bounded by its
    * ORIENTED out-degree (O(√m) on any graph — the hub that would
    * explode an id-oriented wedge join points its edges inward
    * instead). Two keyed equi-joins, no cartesian anywhere; per-node
    * counts are orientation-independent, which is what lets the SQL
    * oracle use the simple id-oriented formulation. */
  private[graft] def triangleNodes(und: DataFrame): DataFrame = {
    val e0 = und.localCheckpoint()
    val deg = e0.select(col("u").as("node"))
      .union(e0.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id) rank: src = lower-rank endpoint
    val ranked = e0
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val e = ranked
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint()
    val wedges = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
    val tris = wedges.join(
      e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
    tris.select(col("a").as("part"))
      .union(tris.select(col("b")))
      .union(tris.select(col("c")))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
  }

  /** g3: triangle counting over the co-purchase graph — the local
    * clustering signal behind community detection and recommendation
    * ("parts bought together in threes"). Top-[[TriTopK]] parts by
    * triangle participation, deterministically ordered. */
  def g3TriangleCount(s: SparkSession, dir: String): DataFrame =
    triangleNodes(cooccurEdges(s, dir))
      .orderBy(col("n_triangles").desc, col("part"))
      .limit(TriTopK)

  val BfsMaxHops = 6

  /** Durable hop-distance table (g6); source rule and hop bound ride
    * the fingerprint. */
  private[graft] val bfsIndex = Artifact("graph_bfs_index", "orders", "lineitem")(
    s"bfs-v1;maxhops=$BfsMaxHops;source=min-customer;")

  /** g6: BFS hop distances — shortest hops from a deterministic source
    * (the minimum customer node) to every reachable node of the
    * customer–supplier graph, the traversal primitive behind
    * "blast-radius" questions (how far does a supplier outage
    * propagate; degrees-of-separation in an entity graph). The hop
    * table is a PUBLISHED artifact (the g2/g7 argument — the traversal
    * is ingest-time work; blast-radius consumers read committed
    * parquet) built by [[bfsFrom]], whose audited shape is standard
    * distributed BFS: per round the FRONTIER (only) joins the edge
    * list, discovered nodes are removed by an anti-join against the
    * known set, and lineage truncates every round (the d6/g2
    * discipline) — rounds = graph diameter, per-round work one keyed
    * join on frontier size, never |V|×|E|. Bounded by [[BfsMaxHops]];
    * fully oracle-checkable against a recursive-CTE BFS, so a hash
    * pass proves published hops ≡ re-traversal. */
  def g6BfsHops(s: SparkSession, dir: String): DataFrame = {
    val root = bfsIndex.ensure(s, dir)(Seq("hops" -> bfsFrom(s, dir)))
    graft.sources.AtomicPublish.readOutput(s, root, "hops")
      .select(col("node"),
        when(pmod(col("node"), lit(2)) === 0, "customer")
          .otherwise("supplier").as("kind"),
        col("hops"))
      .orderBy("hops", "node")
  }

  /** The BFS build loop (see [[g6BfsHops]]) — returns (node, hops). */
  private[graft] def bfsFrom(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).localCheckpoint()
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      .localCheckpoint()
    val s0 = e.agg(min(col("src"))).head().getLong(0) // min customer node
    import s.implicits._
    var known = Seq((s0, 0)).toDF("node", "hops").localCheckpoint()
    var frontier = known
    var hops = 0
    while (hops < BfsMaxHops && !frontier.isEmpty) {
      hops += 1
      frontier = frontier.select(col("node").as("u"))
        .join(und, Seq("u"))
        .select(col("v").as("node")).distinct()
        .join(known.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hops", lit(hops))
        .localCheckpoint()
      // known stays LAZY: it is a union of ≤BfsMaxHops already-
      // checkpointed frontiers, so the plan is permanently shallow and
      // checkpointing it per hop only added a full materialization job
      // (the hop count bounds the union depth, unlike d6's unbounded
      // CC rounds where truncation is load-bearing)
      known = known.unionAll(frontier)
    }
    known
  }

  /** g5: degree-distribution profile of the customer–supplier
    * bipartite graph — per side (customer / supplier), the degree
    * histogram plus the log-log OLS slope over the histogram (the
    * power-law check: heavy-tailed degree ⇒ hub-capped algorithms
    * like g4's LpMaxDeg are mandatory; near-uniform ⇒ they're free).
    * This is the graph-side analog of t22's Zipf profile, and the
    * measurement that JUSTIFIES the caps used across g3/g4/d2. Scale
    * shape: one distinct edge shuffle, two keyed degree aggregates,
    * then everything runs on the ≤ #distinct-degrees histogram
    * (bounded metadata); the per-side slope is a covar_pop/var_pop
    * aggregate over 9dp-rounded ln pairs, attached back by a
    * side-keyed broadcast join. */
  def g5DegreeProfile(s: SparkSession, dir: String): DataFrame = {
    val cs = coOrderPairs(s, dir) // committed graph artifact, one scan
    def hist(keyCol: String, side: String) =
      cs.groupBy(col(keyCol)).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .select(lit(side).as("side"), col("deg"), col("n_nodes"))
    // r15 opt: h is consumed by BOTH the slope fit and the final join;
    // without a pin Catalyst re-derives the two-level histogram per
    // branch and scans the pair artifact twice. h is bounded metadata
    // (distinct degrees × 2 sides), so materializing it is free.
    val h = hist("c", "customer").unionAll(hist("sk", "supplier"))
      .localCheckpoint()
    val fit = h
      .select(col("side"), round(log(col("deg").cast("double")), 9).as("x"),
        round(log(col("n_nodes").cast("double")), 9).as("y"))
      .groupBy(col("side"))
      .agg(round(covar_pop(col("x"), col("y")) / var_pop(col("x")), 6)
        .as("slope"))
    h.join(broadcast(fit), Seq("side"))
      .select(col("side"), col("deg").as("degree"), col("n_nodes"),
        col("slope"))
      .orderBy("side", "degree")
  }

  /** Hub-customer cap on g4 pair generation — a SEMANTICS constant,
    * not a tuning detail: pair mass is Σ deg(c)² over kept customers,
    * so at corpus scales where the 30× stretch's linear growth
    * (SCALECHECK_sf3: 3.23×/3× data) is still too much, tightening the
    * cap is THE lever — and it only sheds the hub customers whose
    * shared-demand signal is weakest (the d2 DF-cap argument). The
    * oracle interpolates the same value, so the gate stays exact at
    * any setting, and GraphSpec pins what tightening does to the
    * output (through [[linkPredictAt]]): pairs only vanish, scores
    * only shrink, the top of the ranking is stable. */
  val LpMaxDeg: Int = 50
  val LpTopK = 100

  /** g4: link prediction over the customer–supplier bipartite graph —
    * for every supplier pair sharing customers: common-neighbor count,
    * Jaccard overlap, and Adamic-Adar score (Σ 1/ln deg(c) over shared
    * customers — rare shared customers weigh more; Adamic & Adar 2003,
    * Liben-Nowell & Kleinberg 2003), the "which suppliers serve the
    * same demand" signal behind substitution and consolidation
    * decisions. Pair generation is g3/b1's IN-ROW discipline: one
    * distinct (customer, supplier) edge shuffle, per-customer supplier
    * sets pair up inside the row — never a fact self-join — and hub
    * customers past [[LpMaxDeg]] are dropped before pairing (the
    * quadratic killer; they carry ~no signal, the d2 DF-cap argument).
    * Supplier degrees for Jaccard come from the UNCAPPED edge set via
    * two keyed joins. Determinism: each 1/ln(deg) term is quantized
    * to an int64 at 1e-9 grain and summed as a LONG — an exact,
    * order-INdependent fold (the revenue-sum discipline) at integer-
    * add speed; the decimal(28,9) form of the same fold measured 1.7×
    * slower at sf0.1 from per-row Decimal boxing. Scores round to
    * 6dp, key-tiebroken top-K. The supplier pair is packed into
    * ONE int64 (s1<<32 | s2) before the pair shuffle — half the key
    * bytes and a single-word hash/compare in the map-side combine —
    * decoded after the aggregate; valid while supplier ids < 2^31
    * (re-split the key if ids outgrow 32 bits). */
  def g4LinkPredict(s: SparkSession, dir: String): DataFrame =
    linkPredictAt(s, dir, LpMaxDeg)

  /** Durable supplier-pair support table at a given hub cap — g4's
    * pair aggregate hoisted to a build artifact (the basket-index
    * argument on the bipartite-projection plane: shared-customer
    * counting is ingest-time work; pair mass is the quadratic cost
    * and it is paid ONCE per (corpus, cap)). Stores the exact int64
    * Adamic-Adar sum so the read path rounds, like the ANN edge
    * table stores raw cosines. The cap is part of the fingerprint —
    * changing [[LpMaxDeg]] builds a sibling root, and the old one
    * ages out through the standard vacuum. */
  private[graft] def lpPairsIndex(maxDeg: Int) =
    Artifact("graph_lp_index", "orders", "lineitem")(
      s"lp-pairs-v1;maxdeg=$maxDeg;pack=int64;")

  /** The build-time pair aggregate (factored out so PlanAuditSpec can
    * pin the in-row explode on the BUILD plan — the query plan is a
    * read-path filter and must NOT contain it). The per-customer
    * 1/ln(deg) Adamic-Adar term is quantized ONCE per customer
    * (constant across that customer's pairs), and pairs come from the
    * compiled PackedPairs kernel (see b1); each int64 term ≤ 1.45e9,
    * so the long sum overflows only past ~6e9 shared customers per
    * pair — far past any real corpus. */
  private[graft] def lpPairsBuild(s: SparkSession, dir: String,
      maxDeg: Int): DataFrame =
    coOrderPairs(s, dir) // committed graph artifact
      .groupBy(col("c"))
      .agg(array_sort(collect_set(col("sk"))).as("ss"))
      .filter(size(col("ss")).between(2, maxDeg))
      .select(round(lit(1e9) / log(size(col("ss"))), 0).cast("long")
        .as("invq"), explode(org.apache.spark.sql.graft.PackedPairsExpr
        .packedPairs(col("ss"))).as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("common"),
        sum(col("invq")).as("invq_sum"))

  private[graft] def ensureLpPairs(s: SparkSession, dir: String,
      maxDeg: Int): String =
    lpPairsIndex(maxDeg).ensure(s, dir) {
      Seq("supplier_pairs" -> lpPairsBuild(s, dir, maxDeg))
    }

  /** g4 core at an explicit hub cap — factored out so the stability
    * spec can compare cap settings (see [[LpMaxDeg]]). Scoring reads
    * the committed pair table; Jaccard's supplier degrees come from
    * the UNCAPPED committed edge set via two keyed joins over the
    * pair-sized frame. */
  private[graft] def linkPredictAt(s: SparkSession, dir: String,
      maxDeg: Int): DataFrame = {
    val sdeg = coOrderPairs(s, dir)
      .groupBy(col("sk")).agg(count(lit(1)).as("sdeg"))
    val pairs = graft.sources.AtomicPublish.readOutput(s,
      ensureLpPairs(s, dir, maxDeg), "supplier_pairs")
      .select(shiftright(col("pk"), 32).as("s1"),
        col("pk").bitwiseAND(lit(4294967295L)).as("s2"),
        col("common"),
        round(col("invq_sum").cast("double") / 1e9, 6).as("adamic_adar"))
    pairs
      .join(sdeg.select(col("sk").as("s1"), col("sdeg").as("d1")), Seq("s1"))
      .join(sdeg.select(col("sk").as("s2"), col("sdeg").as("d2")), Seq("s2"))
      .select(col("s1"), col("s2"), col("common"),
        round(col("common").cast("double") /
          (col("d1") + col("d2") - col("common")), 6).as("jaccard"),
        col("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("s1"), col("s2"))
      .limit(LpTopK)
  }

  /** g6 oracle: an UNROLLED BFS ladder (v0..v[[BfsMaxHops]]), each
    * level adding only the UNVISITED neighbors of the previous
    * level's new frontier. The earlier recursive-CTE form deduped on
    * (node, hops) ROWS, so an already-visited node re-expanded at
    * every deeper level — multiplicative frontier growth on denser
    * graphs risked oracle-side timeouts above sf0.01 (this is true
    * per-level BFS, linear in edges × levels). Results are identical:
    * each node appears once with its min hop count. */
  private def g6OracleSql: String = {
    val ladder = (1 to BfsMaxHops).map { h =>
      s"""v$h AS (SELECT node, hops FROM v${h - 1}
         |  UNION ALL
         |  SELECT nx.node, $h AS hops FROM (
         |    SELECT DISTINCT und.v AS node FROM und
         |    JOIN v${h - 1} f ON und.u = f.node AND f.hops = ${h - 1}) nx
         |  WHERE nx.node NOT IN (SELECT node FROM v${h - 1}))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT o_custkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |und AS (SELECT src AS u, dst AS v FROM e
       |  UNION ALL SELECT dst, src FROM e),
       |s AS (SELECT min(src) AS s0 FROM e),
       |v0 AS (SELECT s0 AS node, 0 AS hops FROM s),
       |$ladder
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  CAST(hops AS INT) AS hops
       |FROM v$BfsMaxHops ORDER BY hops, node""".stripMargin
  }

  /** g2 oracle: the quantized power iteration unrolled as a CTE ladder
    * pr0..pr[[PrIters]] (the g6 discipline — no recursive-CTE
    * multi-reference restrictions to fight). Every cross-row sum is
    * over BIGINTs; the scalar float expression between rounds is
    * written with the exact operation order of the Spark plan. */
  private def g2OracleSql: String = {
    val ladder = (1 to PrIters).map { k =>
      s"""pr$k AS (
         |  SELECT nd.node, nd.outdeg,
         |    CAST(floor((($OneMinusDamping) / nn.n + $Damping *
         |      ((coalesce(cf.inflow_q, 0) + dm.dmass_q / nn.n) / 1e12))
         |      * 1e12 + 0.5) AS BIGINT) AS rq
         |  FROM nodes nd
         |  CROSS JOIN nn
         |  CROSS JOIN (SELECT CAST(coalesce(sum(rq), 0) AS BIGINT) AS dmass_q
         |    FROM pr${k - 1} WHERE outdeg = 0) dm
         |  LEFT JOIN (SELECT e.dst,
         |      CAST(sum(CAST(floor(CAST(p.rq AS DOUBLE) / p.outdeg + 0.5)
         |        AS BIGINT)) AS BIGINT) AS inflow_q
         |    FROM e JOIN pr${k - 1} p ON e.src = p.node AND p.outdeg > 0
         |    GROUP BY e.dst) cf ON nd.node = cf.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |outd AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS (SELECT node, coalesce(outdeg, 0) AS outdeg FROM
       |    (SELECT src AS node FROM e UNION SELECT dst FROM e) q
       |  LEFT JOIN outd ON q.node = outd.src),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |pr0 AS (SELECT node, outdeg,
       |    CAST(floor(1e12 / nn.n + 0.5) AS BIGINT) AS rq
       |  FROM nodes CROSS JOIN nn),
       |$ladder
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  floor((rq + 500) / 1000.0) / 1e9 AS rank
       |FROM pr$PrIters
       |ORDER BY rank DESC, node LIMIT $PrTopK""".stripMargin
  }

  /** Synchronous label-propagation rounds for g7. Fixed and part of
    * the index fingerprint: LPA has no natural convergence certificate
    * on bipartite graphs (labels can 2-cycle), so production runs fix
    * the round budget — and a fixed budget is also what makes the CTE
    * ladder oracle exact. */
  val LpaRounds = 4

  /** Durable community-label table (g7). */
  private[graft] val lpaIndex = Artifact("graph_lpa_index", "orders", "lineitem")(
    s"lpa-v1;rounds=$LpaRounds;tie=maxcount-minlabel;")

  /** Synchronous LPA on an arbitrary DIRECTED edge frame (src, dst) —
    * factored out so the spec can plant disjoint components. Labels
    * start as node ids; each round every node adopts its neighbors'
    * most frequent label, ties to the SMALLEST label (Raghavan et al.
    * 2007, with the deterministic tie-break that makes the result
    * engine-exact instead of RNG-dependent). Per round: one edge-keyed
    * join against the label vector, one (node, label) count aggregate,
    * one node-keyed min-struct argmax — all keyed shuffles or
    * broadcasts, O(E) per round, lineage truncated per round (the g2
    * checkpoint discipline). All-integer state ⇒ the hash oracle's
    * unrolled ladder reproduces it bit-for-bit. */
  private[graft] def lpaOn(e: DataFrame): DataFrame = {
    val eb = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var labels = eb.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint()
    (1 to LpaRounds).foreach { _ =>
      labels = eb
        .join(labels.select(col("node").as("src"), col("label")), Seq("src"))
        .select(col("dst").as("node"), col("label"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        // (cnt desc, label asc) argmax as an order-free min over a
        // packed struct — partial-aggregates map-side, unlike a
        // row_number window that would sort each node's label list
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("m"))
        .select(col("node"), col("m.l").as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** g7: community detection — [[LpaRounds]] rounds of synchronous
    * label propagation over the co-order graph, served from a
    * PUBLISHED label table (the m6/d6 argument: at 100 TB community
    * structure is an ingest-time artifact — the iterative edge-mass
    * work is paid once per corpus fingerprint, and every downstream
    * consumer (mix routing, dedup survivorship, segment rollups) is a
    * read-path join against committed parquet). The oracle recomputes
    * the full ladder from the raw tables, so a hash pass proves the
    * published artifact ≡ recompute every round. */
  def g7LabelPropagation(s: SparkSession, dir: String): DataFrame =
    graft.sources.AtomicPublish.readOutput(s, ensureLpaIndex(s, dir), "labels")
      .orderBy("node")

  /** Build-once committed LPA label table — shared by g7 (the table
    * itself) and g11 (modularity over it), so the two read one
    * community definition. */
  private[graft] def ensureLpaIndex(s: SparkSession, dir: String): String =
    lpaIndex.ensure(s, dir)(Seq("labels" -> lpaOn(edges(s, dir))))

  /** g11: modularity (Newman–Girvan 2004) of g7's committed
    * communities — THE quality score for a community assignment:
    * Q = Σ_c [e_c/m − (d_c/2m)²], per-community contribution = the
    * excess of its internal edge fraction over the random-graph
    * expectation at the same degrees. A partition whose Q ≈ 0 is
    * no better than chance — the number that says whether g7's
    * labels mean anything before a pipeline conditions on them
    * (community-stratified sampling, per-community caps). Reads the
    * COMMITTED labels and co-order edge artifacts (read-path, no
    * re-propagation); internal-edge and degree masses are exact
    * integer aggregates (two label attaches per edge, edge- and
    * node-keyed shuffles only), the contribution one fixed IEEE
    * expression over exact ints shared verbatim with the oracle. */
  def g11Modularity(s: SparkSession, dir: String): DataFrame =
    modularityOf(edges(s, dir), graft.sources.AtomicPublish
      .readOutput(s, ensureLpaIndex(s, dir), "labels"))

  /** g11 core over any (src, dst) edge frame + (node, label)
    * assignment — spec hook (planted two-clique fixture). */
  private[graft] def modularityOf(e: DataFrame, lab: DataFrame): DataFrame = {
    val eb = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = e.agg(count(lit(1)).as("m"))
    val internal = e
      .join(lab.select(col("node").as("src"), col("label")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("label").as("lb")),
        Seq("dst"))
      .filter(col("label") === col("lb"))
      .groupBy(col("label")).agg(count(lit(1)).as("e_c"))
    val deg = eb.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val dsum = lab.join(deg, Seq("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("d")).cast("long").as("degree_sum"))
    dsum.join(internal, Seq("label"), "left")
      .crossJoin(broadcast(m)) // 1-row bounded metadata
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_c"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("e_c"), lit(0L)).cast("double") / col("m") -
          (col("degree_sum").cast("double") * col("degree_sum")) /
          (lit(4.0) * col("m") * col("m")), 6).as("contribution"))
      .orderBy("label")
  }

  /** g7 oracle: the LPA recurrence unrolled as a CTE ladder (the
    * g2/g6 discipline) — per round, the (cnt desc, label asc) argmax
    * via row_number over the neighbor-label counts. All-integer. */
  /** The shared WITH-block computing g7's labels in SQL (ends at the
    * `l{LpaRounds}` CTE) — ONE community definition for the g7 and
    * g11 oracles (the t1PredSql discipline). */
  private def g7LabelsWithBlock: String = {
    val ladder = (1 to LpaRounds).map { k =>
      s"""l$k AS (SELECT node, label FROM (
         |  SELECT m.node, m.label,
         |    row_number() OVER (PARTITION BY m.node
         |      ORDER BY m.cnt DESC, m.label) AS rn
         |  FROM (SELECT eb.dst AS node, l.label, COUNT(*) AS cnt
         |    FROM eb JOIN l${k - 1} l ON eb.src = l.node GROUP BY 1, 2) m)
         |WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT o_custkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |eb AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM eb),
       |$ladder""".stripMargin
  }

  private def g7OracleSql: String =
    s"""$g7LabelsWithBlock
       |SELECT node, label FROM l$LpaRounds ORDER BY node""".stripMargin

  /** g11's oracle: the g7 label block + exact integer edge/degree
    * masses + the identical IEEE contribution expression. */
  private def g11OracleSql: String =
    s"""$g7LabelsWithBlock,
       |lab AS (SELECT node, label FROM l$LpaRounds),
       |mm AS (SELECT COUNT(*) AS m FROM e),
       |internal AS (SELECT la.label, COUNT(*) AS e_c
       |  FROM e JOIN lab la ON la.node = e.src
       |  JOIN lab lb ON lb.node = e.dst AND lb.label = la.label
       |  GROUP BY 1),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM eb GROUP BY 1),
       |dsum AS (SELECT l.label, COUNT(*) AS n_nodes,
       |    CAST(SUM(d) AS BIGINT) AS degree_sum
       |  FROM lab l JOIN deg USING (node) GROUP BY 1)
       |SELECT d.label, d.n_nodes,
       |  COALESCE(i.e_c, 0) AS internal_edges, d.degree_sum,
       |  round(CAST(COALESCE(i.e_c, 0) AS DOUBLE) / m
       |    - (CAST(d.degree_sum AS DOUBLE) * d.degree_sum)
       |      / (4.0 * m * m), 6) AS contribution
       |FROM dsum d LEFT JOIN internal i USING (label) CROSS JOIN mm
       |ORDER BY d.label""".stripMargin

  /** g9: degree assortativity (Newman 2002) of the co-order graph —
    * the Pearson correlation of endpoint degrees across edges: do
    * high-degree customers concentrate on high-degree suppliers
    * (r > 0, hub-attracts-hub) or spread across the tail (r < 0,
    * the disassortative shape typical of commerce graphs)? The
    * structural summary behind j4/prof3's skew handling: a strongly
    * disassortative graph means hub joins fan INTO the tail, which is
    * exactly when salting pays. Reads the COMMITTED edge artifact;
    * degrees are two edge-keyed counts joined back 1:1 per edge, and
    * the five moments fold as exact DECIMAL(38,0) sums of bounded
    * integer products (prof8's order-free discipline) — Pearson runs
    * once on the 1-row frame in a fixed IEEE tree, q6 at the
    * boundary. */
  def g9Assortativity(s: SparkSession, dir: String): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))
    val cs = coOrderPairs(s, dir)
    val dc = cs.groupBy(col("c")).agg(count(lit(1)).as("x"))
    val ds = cs.groupBy(col("sk")).agg(count(lit(1)).as("y"))
    val j = cs.join(dc, Seq("c")).join(ds, Seq("sk"))
      .select(col("x"), col("y"))
    // one operand lifts to decimal BEFORE each multiply: a 1e9+
    // degree squared wraps int64 silently in Spark (non-ANSI) while
    // DuckDB errors — the w11 silent-vs-loud divergence (r12 advice)
    j.agg(count(lit(1)).as("n_edges"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("x")) * col("x")).as("sxx"),
        sum(d38(col("y"))).as("sy"), sum(d38(col("y")) * col("y")).as("syy"),
        sum(d38(col("x")) * col("y")).as("sxy"))
      .select(col("n_edges"),
        round(col("sx").cast("double") / col("n_edges"), 6)
          .as("avg_deg_cust"),
        round(col("sy").cast("double") / col("n_edges"), 6)
          .as("avg_deg_supp"),
        TimeSeries.q6((col("n_edges").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n_edges").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n_edges").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))))
          .as("assortativity"))
  }

  val KCoreK = 3      // degree floor of the k-core
  val KCoreRounds = 6 // fixed peel rounds (defined semantics; spec
                      //   pins fixpoint on the test corpus)

  /** The k-core peel loop (see [[g10KCore]]) — the BUILD plan, over
    * an arbitrary directed edge frame: iteratively PEEL nodes of
    * degree < [[KCoreK]] until the remainder is mutually ≥ k
    * connected (fixed [[KCoreRounds]]-round semantics with a fixpoint
    * early-exit — the g2/g7 fixed-round discipline; the GraphSpec
    * fixpoint test proves the budget suffices on this corpus). Each
    * round is one degree aggregate + two semi-joins on the shrinking
    * edge frame. Returns (node_id, core_degree). */
  private[graft] def kcorePeel(base: DataFrame): DataFrame = {
    // explicit persist + unpersist per round, NOT localCheckpoint:
    // checkpoint blocks live outside the CacheManager and are only
    // freed by async GC-driven cleanup, so a multi-pass bench leaked
    // an edge-frame copy per round until the 30× stretch run OOMed.
    // Lineage stays bounded without a checkpoint because the peel is
    // ≤[[KCoreRounds]] joins deep by construction.
    import org.apache.spark.storage.StorageLevel
    val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var e = base.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(base.select(col("dst").as("u"), col("src").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    kept += e
    // early exit at the fixpoint: once a round removes nothing, every
    // remaining round is the identity, so the fixed-round SEMANTICS
    // are preserved while the usual 2–3-round convergence skips the
    // tail (the count also materializes the round's persist)
    var prev = e.count()
    var round = 1
    var done = false
    while (round <= KCoreRounds && !done) {
      val alive = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= KCoreK)
        .select(col("u"))
      e = e.join(alive, Seq("u"), "left_semi")
        .join(alive.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      kept += e
      val n = e.count()
      done = n == prev
      prev = n
      round += 1
    }
    // materialize the node-grain result, then free every edge frame
    val result = e.groupBy(col("u").as("node_id"))
      .agg(count(lit(1)).as("core_degree"))
      .localCheckpoint()
    kept.foreach(_.unpersist(blocking = false))
    result
  }

  /** Durable k-core membership over the committed edge artifact at
    * `edgeRoot`. It reads no table: the recipe chains to the EDGE
    * ARTIFACT'S COMMITTED VERSION, not the fact tables — an
    * `applyBatch` that publishes edge version N+1 changes this root,
    * so the peel re-derives lazily at the next read and stale cores
    * are vacuumed as orphaned siblings — index maintenance driven by
    * the artifact the peel actually consumes. The recipe names the
    * edge root by its `<corpus>-<fp>` dir name, not its path, so the
    * k-core root does not move with the state dir. */
  private[graft] def kcoreIndex(s: SparkSession, edgeRoot: String): Artifact = {
    val ver = graft.sources.AtomicPublish.currentVersion(s, edgeRoot)
      .getOrElse("v0")
    val edges = new java.io.File(edgeRoot).getName
    Artifact("graph_kcore_index")(
      s"kcore-v1;k=$KCoreK;rounds=$KCoreRounds;edges=$edges@$ver")
  }

  /** Published k-core membership over a committed edge artifact:
    * build-once per (edge version, recipe), then a pure read. */
  private[graft] def kcoreAt(s: SparkSession, dir: String,
      edgeRoot: String): DataFrame = {
    val root = kcoreIndex(s, edgeRoot).ensure(s, dir) {
      val e = graft.sources.AtomicPublish.readOutput(s, edgeRoot, "co_order")
        .select((col("c") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      Seq("kcore" -> kcorePeel(e))
    }
    graft.sources.AtomicPublish.readOutput(s, root, "kcore")
  }

  /** g10: k-core decomposition membership (Seidman 1983) — the
    * densest-substructure filter behind community seeding and spam
    * pruning. Since r13 the core table is a PUBLISHED artifact (the
    * g2/g6 build/read split, the r12 verdict's ask #2): the audited
    * iterative peel in [[kcorePeel]] is the BUILD plan, paid once per
    * (edge-artifact version, recipe) — [[kcoreIndex]] keys the root
    * on the committed edge version, so an ingest batch that bumps the
    * edge artifact re-derives the cores lazily — and the query is a
    * read-path projection over committed parquet. The unchanged
    * peel-from-scratch CTE-ladder hash oracle proves published ≡
    * recompute every round. Output: in-core nodes with their core
    * degree. */
  def g10KCore(s: SparkSession, dir: String): DataFrame =
    kcoreAt(s, dir, ensureCoOrder(s, dir))
      .select(col("node_id"), col("core_degree"))
      .orderBy("node_id")

  val oracles: Map[String, String] = Map(
    "g10_kcore" -> {
      // the peel unrolled as a CTE ladder (the g2/g6/g7 oracle
      // pattern): eN = the edge set alive after N peel rounds. Every
      // rung is MATERIALIZED: each eN is referenced three times by
      // level N+1, so DuckDB's default inline-per-reference expansion
      // would re-evaluate the base join 3^rounds times (observed: a
      // spill-to-disk blowup at sf0.1)
      val steps = (1 to KCoreRounds).map { i =>
        s"""a$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u
           |  HAVING COUNT(*) >= $KCoreK),
           |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN a$i x ON e.u = x.u JOIN a$i y ON e.v = y.u)""".stripMargin
      }.mkString(",\n")
      s"""WITH cs AS MATERIALIZED (SELECT DISTINCT o_custkey AS c,
         |    l_suppkey AS sk
         |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e0 AS MATERIALIZED (SELECT c * 2 AS u, sk * 2 + 1 AS v FROM cs
         |  UNION ALL SELECT sk * 2 + 1, c * 2 FROM cs),
         |$steps
         |SELECT u AS node_id, COUNT(*) AS core_degree
         |FROM e$KCoreRounds GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "g9_assortativity" -> {
      def q6s(e: String) = s"CAST(floor(($e) * 1e6 + 0.5) AS BIGINT) / 1e6"
      s"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
         |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |dc AS (SELECT c, count(*) AS x FROM cs GROUP BY 1),
         |ds AS (SELECT sk, count(*) AS y FROM cs GROUP BY 1),
         |j AS (SELECT dc.x, ds.y FROM cs
         |  JOIN dc USING (c) JOIN ds USING (sk)),
         |m AS (SELECT count(*) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy
         |  FROM j)
         |SELECT n AS n_edges,
         |  round(CAST(sx AS DOUBLE) / n, 6) AS avg_deg_cust,
         |  round(CAST(sy AS DOUBLE) / n, 6) AS avg_deg_supp,
         |  ${q6s("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
        "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
        "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) " +
        "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))")} AS assortativity
         |FROM m""".stripMargin
    },
    "g8_incremental_edges" ->
      s"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
         |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |bc AS (SELECT DISTINCT o_custkey AS c
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_orderkey % $GraphBatchMod = 0)
         |SELECT c, count(*) AS degree,
         |  md5(array_to_string(list(sk ORDER BY sk), ',')) AS suppliers_md5
         |FROM cs WHERE c IN (SELECT c FROM bc)
         |GROUP BY c ORDER BY c""".stripMargin,
    "g7_label_propagation" -> g7OracleSql,
    "g11_modularity" -> g11OracleSql,
    "g2_pagerank" -> g2OracleSql,
    "g6_bfs_hops" -> g6OracleSql,
    "g5_degree_profile" ->
      """WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |h AS (
        |  SELECT 'customer' AS side, deg, count(*) AS n_nodes FROM (
        |    SELECT c, count(*) AS deg FROM cs GROUP BY 1) GROUP BY 2
        |  UNION ALL
        |  SELECT 'supplier' AS side, deg, count(*) AS n_nodes FROM (
        |    SELECT sk, count(*) AS deg FROM cs GROUP BY 1) GROUP BY 2),
        |f AS (SELECT side,
        |    round(covar_pop(round(ln(CAST(deg AS DOUBLE)), 9),
        |        round(ln(CAST(n_nodes AS DOUBLE)), 9)) /
        |      var_pop(round(ln(CAST(deg AS DOUBLE)), 9)), 6) AS slope
        |  FROM h GROUP BY 1)
        |SELECT h.side, deg AS degree, n_nodes, f.slope
        |FROM h JOIN f ON h.side = f.side
        |ORDER BY h.side, degree""".stripMargin,
    "g4_link_predict" ->
      s"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |cdeg AS (SELECT c, count(*) AS deg FROM cs GROUP BY 1),
         |keep AS (SELECT c, deg FROM cdeg
         |  WHERE deg BETWEEN 2 AND $LpMaxDeg),
         |sdeg AS (SELECT sk, count(*) AS sdeg FROM cs GROUP BY 1),
         |p AS (SELECT a.sk AS s1, b.sk AS s2, k.deg
         |  FROM cs a JOIN cs b ON a.c = b.c AND a.sk < b.sk
         |  JOIN keep k ON a.c = k.c),
         |g AS (SELECT s1, s2, count(*) AS common,
         |    round(CAST(sum(CAST(round(1e9 / ln(deg), 0) AS BIGINT))
         |      AS DOUBLE) / 1e9, 6) AS adamic_adar
         |  FROM p GROUP BY 1, 2)
         |SELECT g.s1, g.s2, common,
         |  round(CAST(common AS DOUBLE) / (d1.sdeg + d2.sdeg - common), 6)
         |    AS jaccard,
         |  adamic_adar
         |FROM g JOIN sdeg d1 ON g.s1 = d1.sk JOIN sdeg d2 ON g.s2 = d2.sk
         |ORDER BY adamic_adar DESC, s1, s2 LIMIT $LpTopK""".stripMargin,
    "g3_triangle_count" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
         |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1 JOIN e e2 ON e1.v = e2.u
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |n AS (SELECT a AS part FROM t UNION ALL SELECT b FROM t
         |  UNION ALL SELECT c FROM t)
         |SELECT part, count(*) AS n_triangles FROM n GROUP BY 1
         |ORDER BY n_triangles DESC, part LIMIT $TriTopK""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g2_pagerank" -> (g2Pagerank _),
    "g3_triangle_count" -> (g3TriangleCount _),
    "g4_link_predict" -> (g4LinkPredict _),
    "g5_degree_profile" -> (g5DegreeProfile _),
    "g6_bfs_hops" -> (g6BfsHops _),
    "g7_label_propagation" -> (g7LabelPropagation _),
    "g11_modularity" -> (g11Modularity _),
    "g8_incremental_edges" -> (g8IncrementalEdges _),
    "g9_assortativity" -> (g9Assortativity _),
    "g10_kcore" -> (g10KCore _))
}
