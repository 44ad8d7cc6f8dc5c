package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** PageRank (row 160): the distributed power iteration is pinned
  * against an exact driver-side reference on the same edge list, and
  * probability mass conservation is asserted directly.
  */
class GraphSpec extends GraftSpec {

  /** Driver-side mirror of the QUANTIZED power iteration (pagerank
    * carries rank as int64 units of 1e-12 — the discipline that makes
    * the fixed point engine-independent and g2 hash-checkable): same
    * integer sums, same scalar float expression, so the distributed
    * result must match BIT-EXACTLY, not within an epsilon. */
  private def referenceRanks(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toDouble
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var rq = nodes.map(_ -> math.floor(1e12 / n + 0.5).toLong).toMap
    for (_ <- 0 until iters) {
      val dangling = nodes.filterNot(out.contains).map(rq).sum
      val inflow = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((src, dsts) <- out; d <- dsts)
        inflow(d) += math.floor(rq(src).toDouble / dsts.size + 0.5).toLong
      rq = nodes.map(v => v -> math.floor(((1.0 - Graph.Damping) / n +
        Graph.Damping * ((inflow(v) + dangling / n) / 1e12)) * 1e12 + 0.5)
        .toLong).toMap
    }
    rq.map { case (k, v) => k -> v / 1e12 }
  }

  test("g2 matches an exact driver-side power iteration bit-for-bit") {
    val e = Graph.edges(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val want = referenceRanks(e, Graph.PrIters)
    val got = Graph.pagerank(Graph.edges(spark, sf)).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("r")).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (node, r) =>
      assert(r == want(node), s"node $node: $r vs ${want(node)}")
    }
  }

  test("g2 rank mass stays a probability distribution") {
    val ranks = Graph.pagerank(Graph.edges(spark, sf))
    val total = ranks.agg(sum("r")).collect().head.getDouble(0)
    // quantization bias ≤ 5e-13 per node per round — 1e-8 covers any
    // corpus this suite sees with two orders of margin
    assert(math.abs(total - 1.0) < 1e-8, s"mass $total")
    assert(ranks.filter(col("r") <= 0).count() == 0)
  }

  test("g2 top-k is deterministically ordered and typed") {
    val rows = Graph.g2Pagerank(spark, sf).collect()
    assert(rows.length <= Graph.PrTopK && rows.nonEmpty)
    val ranks = rows.map(_.getAs[Double]("rank"))
    assert(ranks.sameElements(ranks.sortBy(-_)))
    rows.foreach { r =>
      val kind = r.getAs[String]("kind")
      val node = r.getAs[Long]("node")
      assert((kind == "customer") == (node % 2 == 0))
    }
  }

  test("g4 hub-cap knob: tightening only removes pairs, only shrinks scores, keeps the head stable") {
    // the LpMaxDeg SEMANTICS constant, taken as a parameter: at 100 TB the
    // pair mass is the g4 scale lever, and this pins what a tighter
    // cap does to the output — hub-customer contributions vanish, so
    // the pair set and both scores are MONOTONE under tightening and
    // the head of the ranking barely moves
    def byPair(maxDeg: Int): Map[(Long, Long), (Long, Double)] =
      Graph.linkPredictAt(spark, sf, maxDeg).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getAs[Double]("adamic_adar")))).toMap
    val loose = byPair(50)
    val tight = byPair(25)
    assert(loose.nonEmpty && tight.nonEmpty)
    // subset + monotonicity hold exactly when the loose frame is not
    // LpTopK-truncated (sf0.001 stays under the limit)
    if (loose.size < Graph.LpTopK) {
      assert(tight.keySet.subsetOf(loose.keySet),
        "tightening the cap must not create pairs")
      tight.foreach { case (k, (common, aa)) =>
        assert(common <= loose(k)._1, s"common grew at $k")
        assert(aa <= loose(k)._2 + 1e-9, s"adamic_adar grew at $k")
      }
    }
    def top10(m: Map[(Long, Long), (Long, Double)]) =
      m.toSeq.sortBy { case (k, (_, aa)) => (-aa, k) }.take(10).map(_._1).toSet
    val overlap = (top10(loose) intersect top10(tight)).size
    assert(overlap >= 6, s"top-10 unstable under cap halving: overlap=$overlap")
  }

  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Int] = {
    val es = edges.map { case (u, v) => (u min v, u max v) }.toSet
    val nodes = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val counts = scala.collection.mutable.Map.empty[Long, Int]
      .withDefaultValue(0)
    for {
      i <- nodes.indices; j <- i + 1 until nodes.length
      k <- j + 1 until nodes.length
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if es((a, b)) && es((b, c)) && es((a, c))
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    counts.toMap
  }

  test("g3 per-node counts on planted graphs match brute force") {
    import spark.implicits._
    // K4 (4 triangles, every node in 3) + pendant path + a pure star
    // hub (hubs make wedges but never triangles)
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val extra = Seq((3L, 10L), (10L, 11L)) ++ (20L to 25L).map(x => (99L, x))
    val edges = k4 ++ extra
    val got = Graph.triangleNodes(edges.toDF("u", "v")).collect()
      .map(r => r.getAs[Long]("part") -> r.getAs[Long]("n_triangles").toInt)
      .toMap
    assert(got == bruteTriangles(edges))
    assert(got(0L) == 3 && got.values.sum == 12) // 4 triangles × 3 nodes
  }

  test("g3 corpus counts match brute force over the co-occurrence edges") {
    val edges = Graph.cooccurEdges(spark, sf).collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"))).toSeq
    val want = bruteTriangles(edges)
    val got = Graph.triangleNodes(Graph.cooccurEdges(spark, sf)).collect()
      .map(r => r.getAs[Long]("part") -> r.getAs[Long]("n_triangles").toInt)
      .toMap
    assert(got == want, s"got ${got.size} nodes, want ${want.size}")
  }

  test("g6 BFS hops equal a driver-side breadth-first search") {
    val e = Graph.edges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (e ++ e.map(_.swap)).groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2).toSet }
    val s0 = e.map(_._1).min
    val want = scala.collection.mutable.Map(s0 -> 0)
    var frontier = Set(s0); var h = 0
    while (h < Graph.BfsMaxHops && frontier.nonEmpty) {
      h += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(want.contains)
      frontier.foreach(n => want(n) = h)
    }
    val got = Graph.g6BfsHops(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Int]("hops")).toMap
    assert(got == want.toMap, s"got ${got.size} nodes, want ${want.size}")
    // bipartite sanity: even hops are customers, odd hops suppliers
    Graph.g6BfsHops(spark, sf).collect().foreach { r =>
      val even = r.getAs[Int]("hops") % 2 == 0
      assert((r.getAs[String]("kind") == "customer") == even)
    }
  }

  test("g4 link-prediction scores match a brute-force set recompute") {
    val cs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct().collect()
      .map(r => (r.getAs[Long]("c"), r.getAs[Long]("sk")))
    val byCust = cs.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSet }
    val sdeg = cs.groupBy(_._2).map { case (s0, xs) => s0 -> xs.size }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Graph.g4LinkPredict(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= Graph.LpTopK)
    rows.foreach { r =>
      val s1 = r.getAs[Long]("s1"); val s2 = r.getAs[Long]("s2")
      assert(s1 < s2, "canonical pair order")
      val shared = byCust.valuesIterator.filter(ss =>
        ss.size >= 2 && ss.size <= Graph.LpMaxDeg &&
          ss(s1) && ss(s2)).toSeq
      assert(r.getAs[Long]("common") == shared.size, s"common($s1,$s2)")
      val aa = r6(shared.map(ss => r9(1.0 / math.log(ss.size))).sum)
      assert(math.abs(r.getAs[Double]("adamic_adar") - aa) < 1e-9)
      val jac = r6(shared.size.toDouble /
        (sdeg(s1) + sdeg(s2) - shared.size))
      assert(math.abs(r.getAs[Double]("jaccard") - jac) < 1e-9)
    }
    // ranking is by score desc with key tie-break
    val scores = rows.map(r => (r.getAs[Double]("adamic_adar"),
      r.getAs[Long]("s1"), r.getAs[Long]("s2")))
    assert(scores.sliding(2).forall { case Array(a, b) =>
      a._1 > b._1 || (a._1 == b._1 &&
        (a._2 < b._2 || (a._2 == b._2 && a._3 < b._3)))
    })
  }

  test("g5 degree histogram conserves edges and nodes; slope matches a driver OLS") {
    import org.apache.spark.sql.functions._
    val rows = Graph.g5DegreeProfile(spark, sf).collect()
    val edges = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
    val nEdges = edges.count()
    Seq("customer", "supplier").foreach { side =>
      val h = rows.filter(_.getString(0) == side)
      assert(h.nonEmpty)
      // Σ degree × n_nodes = |edges| per side (each edge counted once)
      assert(h.map(r => r.getAs[Long]("degree") * r.getAs[Long]("n_nodes")).sum
        == nEdges, s"$side histogram does not conserve edges")
      // slope equals a driver-side OLS over the same rounded ln pairs
      val pts = h.map(r => (math.rint(math.log(r.getAs[Long]("degree").toDouble) * 1e9) / 1e9,
        math.rint(math.log(r.getAs[Long]("n_nodes").toDouble) * 1e9) / 1e9))
      val mx = pts.map(_._1).sum / pts.length
      val my = pts.map(_._2).sum / pts.length
      val want = pts.map(p => (p._1 - mx) * (p._2 - my)).sum /
        pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      val got = h.head.getAs[Double]("slope")
      assert(math.abs(got - math.rint(want * 1e6) / 1e6) <= 1e-6,
        s"$side slope $got vs driver $want")
      assert(h.forall(_.getAs[Double]("slope") == got), "slope constant per side")
    }
  }

  test("g8: chained edge increments equal the distinct union; duplicates and replays are no-ops") {
    import spark.implicits._
    def pairs(rows: (Long, Long)*) = rows.toDF("c", "sk")
    val base = pairs(1L -> 10L, 2L -> 20L)
    val b1 = pairs(1L -> 20L, 1L -> 10L) // one new edge + one duplicate
    val b2 = pairs(3L -> 30L, 2L -> 20L) // new customer + duplicate
    val root = tempDir("g8_spec")
    Graph.coOrderIndex.publishBase(spark, root, Seq("co_order" -> base))
    assert(Graph.coOrderIndex.applyBatch(spark, root, b1, 1L))
    assert(Graph.coOrderIndex.applyBatch(spark, root, b2, 2L))
    val got = graft.sources.AtomicPublish.readOutput(spark, root, "co_order")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set(1L -> 10L, 2L -> 20L, 1L -> 20L, 3L -> 30L))
    // replayed id and empty batch: ledger-refused, no version churn
    val before = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(!Graph.coOrderIndex.applyBatch(spark, root, b1, 1L))
    assert(!Graph.coOrderIndex.applyBatch(spark, root, pairs(), 99L))
    assert(graft.sources.AtomicPublish.currentVersion(spark, root) == before)
  }

  test("streaming graph maintenance: three micro-batches equal the rebuild edge set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("g8_stream")
    val ckpt = tempDir("g8_sckpt")
    Graph.coOrderIndex.publishBase(spark, root,
      Seq("co_order" -> Seq((1L, 10L)).toDF("c", "sk")))
    val input = MemoryStream[(Long, Long)]
    val q = Graph.coOrderIndex.streamingMaintenance(
      input.toDF().toDF("c", "sk"), root, ckpt)
    try {
      for (b <- Seq(Seq(2L -> 20L), Seq(1L -> 20L, 1L -> 10L),
          Seq(3L -> 30L))) {
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val got = graft.sources.AtomicPublish.readOutput(spark, root, "co_order")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set(1L -> 10L, 2L -> 20L, 1L -> 20L, 3L -> 30L))
    assert(graft.sources.AtomicPublish.currentVersion(spark, root)
      .contains("v4"))
  }

  test("g7: LPA settles each planted clique on its min-id label, components never mix") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("src", "dst")
    val labels = graft.operators.Graph.lpaOn(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 6)
    assert(Set(1L, 2L, 3L).map(labels) == Set(1L), labels.toString)
    assert(Set(10L, 11L, 12L).map(labels) == Set(10L), labels.toString)
  }

  test("g7: published labels cover every co-order node exactly once") {
    val rows = graft.operators.Graph.g7LabelPropagation(spark, sf).collect()
    val nodes = rows.map(_.getLong(0))
    assert(nodes.distinct.length == nodes.length)
    val nNodes = graft.operators.Graph.coOrderPairs(spark, sf)
      .select(col("c") * 2).distinct().count() +
      graft.operators.Graph.coOrderPairs(spark, sf)
        .select(col("sk") * 2 + 1).distinct().count()
    assert(nodes.length.toLong == nNodes)
    // labels are node ids that exist in the graph
    val nodeSet = nodes.toSet
    assert(rows.forall(r => nodeSet.contains(r.getLong(1))))
  }

  test("g9: assortativity matches a driver-side moment recompute, r in [-1, 1]") {
    val r = Graph.g9Assortativity(spark, sf).head()
    val pairs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val dc = pairs.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val ds = pairs.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val xy = pairs.map { case (c, sk) => (dc(c), ds(sk)) }
    val n = xy.length.toDouble
    val (sx, sy) = (xy.map(_._1).sum.toDouble, xy.map(_._2).sum.toDouble)
    val sxx = xy.map(p => p._1 * p._1).sum.toDouble
    val syy = xy.map(p => p._2 * p._2).sum.toDouble
    val sxy = xy.map(p => p._1 * p._2).sum.toDouble
    val expected = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(r.getAs[Long]("n_edges") == xy.length)
    val got = r.getAs[Double]("assortativity")
    assert(math.abs(got - expected) < 2e-6, s"got $got expected $expected")
    assert(got >= -1.0 && got <= 1.0)
  }

  test("g10: 6-round peel reaches the true k-core fixpoint on this corpus") {
    val pairs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(x => (x.getLong(0) * 2, x.getLong(1) * 2 + 1))
    var edges = pairs.flatMap(p => Seq(p, p.swap)).toSet
    var rounds = 0
    var changed = true
    while (changed) {
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
      val alive = deg.filter(_._2 >= Graph.KCoreK).keySet
      val next = edges.filter(e => alive(e._1) && alive(e._2))
      changed = next.size != edges.size
      if (changed) rounds += 1
      edges = next
    }
    assert(rounds <= Graph.KCoreRounds,
      s"peel must converge within the fixed budget (took $rounds)")
    val expected = edges.groupBy(_._1)
      .map { case (k, v) => k -> v.size.toLong }
    val rows = Graph.g10KCore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == expected, "fixed-round peel == driver fixpoint peel")
    assert(rows.values.forall(_ >= Graph.KCoreK), "every survivor is >= k inside the core")
  }

  test("g10: kcore index re-derives on an edge-version bump; same version reuses the root") {
    import spark.implicits._
    def pairs(rows: (Long, Long)*) = rows.toDF("c", "sk")
    // K3,3 bipartite core (every node degree 3 = KCoreK) + a pendant
    // customer 4 that v1 peels; the ingest batch completes 4's edges
    // so it joins the core at v2
    val base = pairs(
      1L -> 10L, 1L -> 20L, 1L -> 30L,
      2L -> 10L, 2L -> 20L, 2L -> 30L,
      3L -> 10L, 3L -> 20L, 3L -> 30L,
      4L -> 10L)
    val edgeRoot = tempDir("kcore_edges")
    Graph.coOrderIndex.publishBase(spark, edgeRoot, Seq("co_order" -> base))

    def driverCores(ps: Set[(Long, Long)]): Map[Long, Long] = {
      var edges = ps.flatMap(p =>
        Set((p._1 * 2, p._2 * 2 + 1), (p._2 * 2 + 1, p._1 * 2)))
      var changed = true
      while (changed) {
        val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
        val alive = deg.filter(_._2 >= Graph.KCoreK).keySet
        val next = edges.filter(e => alive(e._1) && alive(e._2))
        changed = next.size != edges.size
        edges = next
      }
      edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    }
    def basePairs = Set(1L -> 10L, 1L -> 20L, 1L -> 30L,
      2L -> 10L, 2L -> 20L, 2L -> 30L,
      3L -> 10L, 3L -> 20L, 3L -> 30L, 4L -> 10L)

    val root1 = Graph.kcoreIndex(spark, edgeRoot).root(edgeRoot)
    val got1 = Graph.kcoreAt(spark, edgeRoot, edgeRoot).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == driverCores(basePairs), "v1 cores == driver peel on base edges")
    assert(!got1.contains(8L), "pendant customer 4 (node 8) peeled at v1")
    // no bump → identical root: the committed build is reused as-is
    assert(Graph.kcoreIndex(spark, edgeRoot).root(edgeRoot) == root1)

    // ingest batch bumps the edge artifact to version N+1
    assert(Graph.coOrderIndex.applyBatch(spark, edgeRoot, pairs(4L -> 20L, 4L -> 30L), 1L))
    val root2 = Graph.kcoreIndex(spark, edgeRoot).root(edgeRoot)
    assert(root2 != root1, "edge-version bump must re-key the kcore root")
    val merged = basePairs ++ Set(4L -> 20L, 4L -> 30L)
    val got2 = Graph.kcoreAt(spark, edgeRoot, edgeRoot).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == driverCores(merged), "v2 cores == driver peel on merged edges")
    assert(got2.contains(8L), "customer 4 (node 8) joins the core after the bump")
  }

  test("g11: corpus modularity == driver recompute; planted cliques score high") {
    import spark.implicits._
    // corpus: contributions recompute exactly from g7's labels + edges
    val lab = Graph.g7LabelPropagation(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val es = Graph.edges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val m = es.length.toDouble
    val deg = (es.map(_._1) ++ es.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byLabel = lab.groupBy(_._2)
    val rows = Graph.g11Modularity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSet == byLabel.keySet)
    var q = 0.0
    for ((label, nNodes, eC, dSum, contrib) <- rows) {
      val members = byLabel(label).map(_._1).toSet
      assert(nNodes == members.size.toLong)
      assert(eC == es.count { case (a, b) =>
        members.contains(a) && members.contains(b) }.toLong)
      assert(dSum == members.toSeq.map(deg).sum)
      val exp = eC / m - (dSum.toDouble * dSum) / (4.0 * m * m)
      assert(math.abs(contrib - exp) < 1e-9, s"label $label contribution")
      q += contrib
    }
    assert(q >= -1.0 && q <= 1.0, s"modularity Q=$q out of range")
    // planted fixture: two 4-cliques joined by one bridge edge under
    // their natural partition — strong community structure, Q well
    // above 0; the all-in-one-community partition scores ~0
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- i + 1 until ids.size)
        yield (ids(i), ids(j))
    val e2 = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) ++
      Seq((4L, 5L))).toDF("src", "dst")
    val goodLab = (1L to 8L).map(n => (n, if (n <= 4) 1L else 5L))
      .toDF("node", "label")
    val qGood = Graph.modularityOf(e2, goodLab).collect()
      .map(_.getDouble(4)).sum
    assert(qGood > 0.3, s"two-clique partition Q=$qGood")
    val oneLab = (1L to 8L).map(n => (n, 1L)).toDF("node", "label")
    val qOne = Graph.modularityOf(e2, oneLab).collect()
      .map(_.getDouble(4)).sum
    assert(math.abs(qOne) < 1e-9, s"trivial partition Q=$qOne")
    assert(qGood > qOne)
  }

  test("g2's oracle iterates with the host-computed teleport constant") {
    // DuckDB parsing `1.0 - 0.85` in DECIMAL lands on the OTHER
    // neighboring double of 0.15 — the oracle must interpolate the
    // exact double Spark's constant folding produces, and the Spark
    // plan must use the same shared constant
    val printed = graft.operators.Graph.OneMinusDamping.toString
    assert(printed == "0.15000000000000002",
      s"host 1.0-0.85 printed unexpectedly: $printed")
    assert(graft.operators.Graph.oracles("g2_pagerank").contains(printed),
      "g2 oracle must embed the host-computed teleport constant")
    assert(!graft.operators.Graph.oracles("g2_pagerank").contains("(1.0 - 0.85)"),
      "g2 oracle must not re-derive the constant in SQL decimal")
  }
}
