package graft

import graft.operators.{Analytics, Dedup, Relational, Similarity, TextAnalysis}
import graft.sources.Sources
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Physical-plan audit (SURVEY §5): asserts the scale-critical plan
  * properties directly, so a regression that silently de-optimizes a
  * plan (lost pushdown, broadcast falling back to shuffle, partition
  * pruning dropped) fails CI rather than only showing up as a 100 TB
  * incident.
  */
class PlanAuditSpec extends GraftSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The FINAL adaptive plan TREE only: AQE performs exchange/stage
    * reuse at runtime, so properties like ReusedExchange only appear
    * after the query has been driven to completion — and the executed
    * explain string contains BOTH the final and the (reuse-free)
    * initial tree, so shape assertions must slice to the final one.
    * Results here are bounded (top-k / scalar outputs), so collect()
    * is safe. */
  private def finalTreeOf(df: DataFrame): String = {
    df.collect()
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val start = full.indexOf("== Final Plan ==")
    val end = full.indexOf("== Initial Plan ==")
    if (start >= 0 && end > start) full.substring(start, end) else full
  }

  test("r1: filter and projection reach the parquet scan") {
    val plan = planOf(Relational.r1FilteredScan(spark, sf))
    assert(plan.contains("PushedFilters:"), "expected scan pushdown section")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(event_type,error\\).*"),
      s"event_type filter not pushed:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThan\\(value,100.*"),
      s"value filter not pushed:\n$plan")
    // column pruning: the scan must not read the unused props column
    assert(!plan.contains("props"), s"scan reads unused column 'props':\n$plan")
  }

  test("q5: every dimension joins as a broadcast, fact join is the only shuffle join") {
    val plan = planOf(Analytics.q5RegionRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast joins in q5:\n$plan")
    // the only non-broadcast join allowed is lineitem ⋈ orders
    val sortMerge = "SortMergeJoin".r.findAllIn(plan).size
    val shuffledHash = "ShuffledHashJoin".r.findAllIn(plan).size
    assert(sortMerge + shuffledHash <= 1,
      s"expected at most one shuffle join (lineitem-orders), got ${sortMerge + shuffledHash}:\n$plan")
  }

  test("r2: orderBy+limit compiles to TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Relational.r2PriorityTopk(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"top-K not TakeOrderedAndProject:\n$plan")
  }

  test("d5 edge BUILD hot path uses the native graft_dot kernel inside codegen") {
    // the pair-scoring plan now runs at ANN-index build; audit it
    // directly (neardupPairs is the same plan the build publishes)
    val e = graft.operators.Similarity.corpus(spark, sf)
    val df = Dedup.neardupPairs(spark, e)
    val plan = planOf(df)
    assert(plan.contains("graft_dot"), s"native dot kernel missing from d5 build plan:\n$plan")
    // codegen explain compiles the stages even before execution (the
    // formatted plan under AQE shows isFinalPlan=false and no spans)
    val codegen = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), s"no whole-stage codegen in d5 build plan:\n$codegen")
  }

  test("q7: nation-tagged dims broadcast; lineitem-orders is the only shuffle join") {
    val plan = planOf(Analytics.q7NationVolume(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast joins in q7:\n$plan")
    val shuffleJoins = "SortMergeJoin".r.findAllIn(plan).size +
      "ShuffledHashJoin".r.findAllIn(plan).size
    assert(shuffleJoins <= 1,
      s"expected at most one shuffle join (lineitem-orders), got $shuffleJoins:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("k7: the conditional-update merge is a keyed full-outer join, never a nested loop") {
    import spark.implicits._
    val target = Seq((1L, "ok", 0L), (2L, "error", 2L)).toDF("user_id", "status", "retry_count")
    val updates = Seq((2L, "error", 1L), (3L, "ok", 0L)).toDF("user_id", "status", "retry_count")
    val merged = Sources.mergedFrame(target, updates, Seq("user_id"),
      set = Seq("status" -> col("u.status"),
        "retry_count" -> (col("t.retry_count") + col("u.retry_count"))),
      insert = Seq("status" -> col("u.status"), "retry_count" -> col("u.retry_count")))
    val plan = planOf(merged)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"k7 merge plan degraded to a nested loop:\n$plan")
    assert(plan.contains("FullOuter"), s"expected a keyed full-outer join:\n$plan")
    // and the semantics hold on this tiny fixture
    val got = merged.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (("ok", 0L)), 2L -> (("error", 3L)), 3L -> (("ok", 0L))))
  }

  test("d5: the query reads the published edge table — no join; the build is a cell equi-join") {
    val readPlan = planOf(Dedup.d5EmbeddingNeardup(spark, sf))
    assert(readPlan.contains("ann_index"),
      s"d5 must read the published ANN index:\n$readPlan")
    assert(!readPlan.contains("Join"),
      s"d5's read path must not re-join pairs:\n$readPlan")
    // the build-side pair plan stays a cell equi-join, never a
    // nested-loop/cartesian corpus join
    val e = graft.operators.Similarity.corpus(spark, sf)
    val buildPlan = planOf(Dedup.neardupPairs(spark, e))
    assert(!buildPlan.contains("BroadcastNestedLoopJoin"),
      s"d5 build fell back to a corpus nested-loop join:\n$buildPlan")
    assert(!buildPlan.contains("CartesianProduct"),
      s"d5 build plan contains a cartesian product:\n$buildPlan")
  }

  test("partitioned sink: read-side filter on the partition column prunes partitions") {
    Sources.k1PartitionedSink(spark, sf).collect() // materialize the sink
    val path = s"${graft.TmpRoots.perProcess("graft_sources")}/k1_part"
    val pruned = spark.read.parquet(path).filter(col("event_type") === "click")
    val plan = planOf(pruned)
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*event_type[^\\]]*\\].*"),
      s"partition filter not applied at scan:\n$plan")
  }

  test("k2: bucketed fact join needs no shuffle or sort below the join") {
    Sources.k2BucketedJoin(spark, sf).collect() // materialize bucketed tables
    val joined = spark.table("graft_lineitem_b").hint("merge")
      .join(spark.table("graft_orders_b"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("o_orderpriority"))
    val plan = planOf(joined)
    assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join should read co-located buckets with no shuffle:\n$plan")
  }

  test("j3: binned range join broadcasts the probe side, no cartesian product") {
    val plan = planOf(Analytics.j3RangeJoin(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"probe side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to an O(n*m) join:\n$plan")
  }

  test("d3: LSH candidate generation is an equi-join, never a cartesian product") {
    val plan = planOf(Dedup.d3MinhashLsh(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"band join degenerated to a cartesian product:\n$plan")
  }

  test("j2: as-of join is one shuffle on the key plus the output sort") {
    val plan = planOf(Analytics.j2AsofJoin(spark, sf))
    // count physical Exchange NODES (the formatted text lists each node
    // twice: once in the tree, once in the details section)
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 3, // clicks-dedup agg + shared window shuffle + output sort
      s"as-of join shuffles more than expected ($exchanges):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"as-of should be a window carry-forward, not a join:\n$plan")
  }

  test("n3: corpus cell assignment is a zero-Exchange projection") {
    val e = Similarity.corpus(spark, sf)
    val dim = e.select(size(col("v"))).head.getInt(0)
    val cells = Seq((0L, Array.fill(dim)(0.1), 1.0),
      (1L, Array.fill(dim)(-0.1), 1.0))
    val plan = planOf(Similarity.n3Assign(e, cells))
    assert(!plan.contains("Exchange"),
      s"per-row argmax assignment must not shuffle the corpus:\n$plan")
    assert(plan.contains("graft_dot"), s"argmax should use the native dot kernel:\n$plan")
  }

  test("n3: full IVF plan never shuffles on vec_id (corpus stays unshuffled until the probe join)") {
    val plan = planOf(Similarity.n3IvfAnn(spark, sf))
    assert(!plan.matches("(?s).*Exchange hashpartitioning\\(vec_id.*"),
      s"corpus-wide shuffle on vec_id crept back into n3:\n$plan")
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val plan = planOf(Analytics.q1PricingSummary(spark, sf))
    // formatted explain lists two HashAggregate nodes per agg: partial + final
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final HashAggregate pair:\n$plan")
  }

  test("t15: the eval-holdout side broadcasts; the corpus is never hash-join-shuffled") {
    val plan = planOf(graft.operators.TextAnalysis.t15Decontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval shingle set should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus side must not shuffle for the join:\n$plan")
  }

  test("t16/t17/t22: consumers read the published term index — no corpus scan, no kernel") {
    // the build lineage: ONE documents scan through the kernel
    val buildPlan = planOf(graft.operators.TextAnalysis.termFreqBuild(spark, sf))
    assert("documents\\.parquet".r.findAllIn(buildPlan).size == 1,
      s"term-index build should scan documents once:\n$buildPlan")
    assert(buildPlan.contains("graft_term_freqs"),
      s"build must use the native kernel:\n$buildPlan")
    // every consumer: ZERO documents scans, ZERO kernel invocations —
    // all lexical statistics read the committed termfreq parquet
    for ((name, df) <- Seq(
        "t16" -> graft.operators.TextAnalysis.t16TfIdf(spark, sf),
        "t17" -> graft.operators.TextAnalysis.t17Surprisal(spark, sf),
        "t22" -> graft.operators.TextAnalysis.t22ZipfProfile(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("documents.parquet"),
        s"$name re-scans documents instead of reading the term index:\n$plan")
      assert(!plan.contains("graft_term_freqs"),
        s"$name re-runs the term-freq kernel:\n$plan")
    }
  }

  test("d13/t25: incremental-index reads consume the published snapshot — no corpus scan, no kernels") {
    for ((name, df) <- Seq(
        "d13" -> graft.operators.Incremental.d13IncrementalIndex(spark, sf),
        "t25" -> graft.operators.Incremental.t25IncrementalTfidf(spark, sf),
        "d14" -> graft.operators.Incremental.d14IncrementalPassages(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("documents.parquet"),
        s"$name re-scans the corpus instead of the maintained index:\n$plan")
      assert(plan.contains("incr_index"),
        s"$name must read the incremental family root:\n$plan")
      assert(!plan.contains("graft_term_freqs") &&
        !plan.contains("distinct_word_ngrams"),
        s"$name re-runs a build kernel in the read path:\n$plan")
    }
    val m7Plan = planOf(graft.operators.Multimodal.m7IncrementalMedia(spark, sf))
    assert(!m7Plan.contains("documents.parquet") &&
      m7Plan.contains("media_incr_index"),
      s"m7 must read only the maintained media index:\n$m7Plan")
  }

  test("mix6: leakage audit reads the published cluster index — no pair generation") {
    val plan = planOf(graft.operators.Pipeline.mix6SplitLeakage(spark, sf))
    // ONE documents scan (mix3's row-local split hash) — the cluster
    // side must come from the committed parquet, not a d2 re-run
    assert("documents\\.parquet".r.findAllIn(plan).size == 1,
      s"mix6 should scan documents exactly once (split side):\n$plan")
    assert(plan.contains("cluster_index"),
      s"mix6 must read the published cluster index:\n$plan")
    // no shingle machinery anywhere in the read path
    assert(!plan.contains("xxhash64"),
      s"mix6 must not re-run shingle hashing:\n$plan")
  }

  test("prof5: marginals derive from the cell aggregate — one scan per audited table") {
    val tree = finalTreeOf(graft.operators.Profiling.prof5MutualInfo(spark, sf))
    // marginals/totals are WINDOWS over the bounded cell frame inside
    // one tree — exactly one fact scan per audited table (the union
    // has two tables → two scans). The rejected frame-per-marginal
    // form measured FOUR scans per table: Catalyst collapses each
    // aggregate-of-aggregate into its own direct scan+aggregate and
    // AQE gets nothing to reuse — the 100 TB regression this row pins.
    val n = "Scan parquet".r.findAllIn(tree).size
    assert(n == MiPairsCount,
      s"prof5 should scan each audited table exactly once, saw $n scans:\n$tree")
  }
  private val MiPairsCount = 2 // (orders, lineitem) — one scan each

  test("s5: the hash-threshold pre-filter sits below the per-group window sort") {
    val plan = planOf(Analytics.s5ReservoirSample(spark, sf))
    // the window operator must consume the FILTERED side: the plan has a
    // Filter on the conv(substring(hkey..)) predicate feeding the sort
    assert(plan.contains("Window"), s"expected a window operator:\n$plan")
    assert(plan.matches("(?s).*Filter.*conv\\(substring\\(.*Window.*") ||
      plan.matches("(?s).*Window.*Filter.*conv\\(substring\\(.*"),
      s"hash-threshold pre-filter missing:\n$plan")
    // group-count side is a broadcast, not a corpus shuffle join
    assert(plan.contains("BroadcastHashJoin"),
      s"per-group count should broadcast:\n$plan")
  }

  // Formatted-plan node ids are post-order (a child's id is smaller than
  // every ancestor's), so "operator X sits below operator Y" is idOf(X) <
  // idOf(Y) whenever Y is on X's root path.
  private def detailIds(plan: String, node: String, bodyRe: String): Seq[Int] =
    s"(?s)\\((\\d+)\\) $node(?: \\[[^\\]]*\\])?\\n.{0,400}?$bodyRe".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toSeq

  test("j5: the bloom might_contain filter prunes BELOW the join's shuffle exchange") {
    val df = Analytics.j5BloomPrefilter(spark, sf)
    // the filter is built in-plan by a scalar subquery, not a binary literal
    val filters = df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(
      _.collect { case m: BloomFilterMightContain => m.bloomFilterExpression })
    assert(filters.nonEmpty && filters.forall(_.isInstanceOf[ScalarSubquery]),
      s"might_contain must probe a scalar subquery: $filters")
    val plan = planOf(df)
    val bloomFilterIds = detailIds(plan, "Filter", "Condition : .?might_contain")
    val shuffleIds = detailIds(plan, "Exchange", "Arguments: (?:hash|range)partitioning")
    assert(bloomFilterIds.nonEmpty, s"no might_contain filter in plan:\n$plan")
    assert(shuffleIds.nonEmpty, s"no shuffle exchange in plan:\n$plan")
    assert(bloomFilterIds.min < shuffleIds.min,
      s"might_contain (node ${bloomFilterIds.min}) must sit below every shuffle " +
        s"(first at node ${shuffleIds.min}):\n$plan")
  }

  test("n9, d12, t7 and j5 build their DataFrames without running a Spark job") {
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "n9" -> Similarity.n9PcaProject, "d12" -> Dedup.d12SketchCalibration,
      "t7" -> TextAnalysis.t7HeavyHitters, "j5" -> Analytics.j5BloomPrefilter)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(started.add)
    }
    val sc = spark.sparkContext
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try queries.foreach { case (name, fn) =>
      fn(spark, sf) // warm: builds the artifacts, caches their relations
      inGroup(name)(fn(spark, sf))
      // the bus delivers in order: once this marker job's start arrives,
      // so has the start of every job the construction ran
      inGroup(s"$name/drained")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!started.contains(s"$name/drained") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains(s"$name/drained"), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    val jobs = queries.map { case (name, _) => name -> started.asScala.count(_ == name) }
    assert(jobs.forall(_._2 == 0), s"Spark jobs run while building the DataFrame: $jobs")
  }

  test("sc1: ONE user_id hash exchange serves both windows and the aggregate; slice filter pushed") {
    val plan = planOf(Analytics.sc1Scd2History(spark, sf))
    val hashExchanges = detailIds(plan, "Exchange", "Arguments: hashpartitioning\\(user_id")
    assert(hashExchanges.size == 1,
      s"expected exactly one user_id hash exchange, got ${hashExchanges.size}:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(user_id,50\\).*"),
      s"user_id < 50 not pushed to the events scan:\n$plan")
  }

  test("n6: semantic-dedup candidate pairs come from a cell equi-join, not a cartesian product") {
    val plan = planOf(Similarity.n6SemanticDedup(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"within-cell pairing must be an equi-join on cell_id:\n$plan")
  }

  test("q10: the fact side collapses to per-customer rows BELOW the customer join") {
    val plan = planOf(Analytics.q10ReturnedRevenue(spark, sf))
    val aggIds = detailIds(plan, "HashAggregate", "Keys \\[1\\]: \\[o_custkey")
    val custJoin = "Left keys \\[1\\]: \\[o_custkey.{0,120}?\\[c_custkey"
    val joinIds =
      detailIds(plan, "BroadcastHashJoin", custJoin) ++
      detailIds(plan, "SortMergeJoin", custJoin) ++
      detailIds(plan, "ShuffledHashJoin", custJoin)
    assert(aggIds.nonEmpty, s"no per-customer aggregate in plan:\n$plan")
    assert(joinIds.nonEmpty, s"no customer join in plan:\n$plan")
    assert(aggIds.min < joinIds.min,
      s"the o_custkey aggregate (node ${aggIds.min}) must sit below the " +
        s"customer join (node ${joinIds.min}) — raw lineitems must never " +
        s"pay a dim join:\n$plan")
  }

  test("e4: exactly one user_id exchange feeds the lag window") {
    val plan = planOf(Analytics.e4Transitions(spark, sf))
    val userExchanges = detailIds(plan, "Exchange", "Arguments: hashpartitioning\\(user_id")
    assert(userExchanges.size == 1,
      s"expected exactly one user_id hash exchange, got ${userExchanges.size}:\n$plan")
  }

  test("mix2: the oversampled hash prefilter sits below the running-sum window") {
    val plan = planOf(graft.operators.Pipeline.mix2TokenBudget(spark, sf))
    // Catalyst may keep the hk < thr prune as a Filter or fuse it into
    // the broadcast join's residual condition — both sit below the window
    val filterIds = detailIds(plan, "Filter", "Condition : .{0,60}?hk") ++
      detailIds(plan, "BroadcastHashJoin", "Join condition: .{0,60}?hk")
    val windowIds = detailIds(plan, "Window", "sum\\(n_tokens")
    assert(filterIds.nonEmpty, s"no hash-threshold prune in plan:\n$plan")
    assert(windowIds.nonEmpty, s"no running-sum window in plan:\n$plan")
    assert(filterIds.min < windowIds.min,
      s"the hk < thr prefilter (node ${filterIds.min}) must sit below the " +
        s"window (node ${windowIds.min}) — the exact sort must only see " +
        s"O(budget) survivors:\n$plan")
    // the domain-totals side broadcasts; the corpus is never shuffled for it
    assert(plan.contains("BroadcastHashJoin"),
      s"domain thresholds should broadcast:\n$plan")
  }

  test("q6: all three predicates push to the scan and only the 4 used columns are read") {
    val plan = planOf(Analytics.q6RevenueDelta(spark, sf))
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_shipdate.*"),
      s"shipdate bound not pushed:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_discount,0.05.*"),
      s"discount bound not pushed:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(l_quantity,24.*"),
      s"quantity bound not pushed:\n$plan")
    // column pruning: a 16-column fact scan reading more than the 4
    // referenced columns is the wrong plan at any scale
    assert(!plan.contains("l_orderkey") && !plan.contains("l_partkey") &&
      !plan.contains("l_returnflag"),
      s"scan reads columns q6 never uses:\n$plan")
  }

  test("q21: one lineitem scan, one order-key exchange serves agg and both windows") {
    val plan = planOf(Analytics.q21WaitingSuppliers(spark, sf))
    // the EXISTS / NOT EXISTS rewrite must NOT re-scan the fact: one
    // scan per table (lineitem, orders, supplier), no duplicates
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 3, s"expected 3 table scans (no duplicate fact scan), got $scans:\n$plan")
    // one repartition on the order key feeds the pair aggregate AND
    // the two order-window counts — a second l_orderkey exchange means
    // the window stopped reusing the aggregate's partitioning
    val ordKeyExchanges = detailIds(plan, "Exchange", "Arguments: hashpartitioning\\(l_orderkey")
    assert(ordKeyExchanges.size == 1,
      s"expected exactly one l_orderkey exchange, got ${ordKeyExchanges.size}:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("e5: a single events scan and a single user_id exchange serve signup, purchase, and lag") {
    val plan = planOf(Analytics.e5ConversionLag(spark, sf))
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"e5 must scan events exactly once, got $scans scans:\n$plan")
    val userExchanges = detailIds(plan, "Exchange", "Arguments: hashpartitioning\\(user_id")
    assert(userExchanges.size == 1,
      s"expected exactly one user_id hash exchange (window + per-user agg " +
        s"share it), got ${userExchanges.size}:\n$plan")
    // the signup/purchase disjunction reaches the scan
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(event_type.*"),
      s"event_type IN (signup, purchase) not pushed:\n$plan")
  }

  test("w5: sliding-window partial aggregation sits below the first shuffle") {
    val plan = planOf(Analytics.w5SlidingWindow(spark, sf))
    // Expand (the 4x window replication) feeds a partial_count BEFORE
    // any exchange: raw expanded rows must never cross the wire
    val partialIds = detailIds(plan, "HashAggregate", "Functions \\[1\\]: \\[partial_count")
    val exchangeIds = detailIds(plan, "Exchange", "Arguments: hashpartitioning")
    assert(partialIds.nonEmpty, s"no map-side partial count in plan:\n$plan")
    assert(exchangeIds.nonEmpty, s"no hash exchange in plan:\n$plan")
    assert(partialIds.min < exchangeIds.min,
      s"partial aggregation (node ${partialIds.min}) must sit below the " +
        s"first shuffle (node ${exchangeIds.min}):\n$plan")
    // distinct-count is the standard two-phase shape: (window,user) then (window)
    assert(exchangeIds.size == 2,
      s"expected the two-exchange distinct shape, got ${exchangeIds.size}:\n$plan")
  }

  test("r13: keyset page is TakeOrderedAndProject on both sides; no global sort") {
    val plan = planOf(Relational.r13KeysetPage(spark, sf))
    // page extraction AND the page-1 boundary probe are both top-K
    // operators — a rangepartitioning exchange would mean a full sort
    val topK = "(?m)^\\(\\d+\\) TakeOrderedAndProject".r.findAllIn(plan).size
    assert(topK == 2, s"expected 2 TakeOrderedAndProject (page + boundary), got $topK:\n$plan")
    assert(detailIds(plan, "Exchange", "Arguments: rangepartitioning").isEmpty,
      s"keyset pagination must never globally sort the table:\n$plan")
    // the 1-row boundary broadcasts; the cross join is against that
    // single row (the one place a nested-loop join is the RIGHT plan)
    assert(plan.contains("BroadcastExchange"), s"boundary row not broadcast:\n$plan")
  }

  test("n2/n3 probes read the persisted ANN index, never the raw embeddings parquet") {
    Similarity.ensureAnnIndex(spark, sf) // build once (the ingest step)
    for ((name, df) <- Seq("n3" -> Similarity.n3IvfAnn(spark, sf),
                           "n2" -> Similarity.n2AnnLsh(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("embeddings.parquet"),
        s"$name probe must touch index tables only, not the corpus:\n$plan")
      assert(plan.contains(Similarity.annIndex.root(sf)),
        s"$name probe should scan the published durable index:\n$plan")
    }
  }

  test("q15/q17: view-then-max and correlated-average run on ONE fact scan each") {
    // the naive subquery forms scan lineitem twice (once for the
    // aggregate, once for the probe); the rewrites must not
    val q15 = finalTreeOf(Analytics.q15TopSupplier(spark, sf))
    assert("Scan parquet".r.findAllIn(q15).size == 2, // lineitem + supplier
      s"q15 must scan lineitem once and supplier once:\n$q15")
    // the global max must NOT be an empty-frame window (it would funnel
    // the |suppliers|-sized view through one task's sort at 100 TB);
    // it rides a broadcast 1-row aggregate whose per-suppkey shuffle is
    // shared with the view via ReuseExchange
    assert(!q15.contains("Window"),
      s"q15 must not compute the max with an unpartitioned window:\n$q15")
    assert(q15.contains("ReusedExchange"),
      s"q15's view and its max must share the per-suppkey shuffle:\n$q15")
    val q17 = planOf(Analytics.q17SmallQtyRevenue(spark, sf))
    assert("(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(q17).size == 1,
      s"q17 must scan lineitem exactly once:\n$q17")
    assert(detailIds(q17, "Exchange", "Arguments: hashpartitioning\\(l_partkey").size == 1,
      s"q17: one partkey exchange serves the window and the filter:\n$q17")
  }

  test("q18: the HAVING aggregate collapses lineitem BELOW every join") {
    val plan = planOf(Analytics.q18LargeOrders(spark, sf))
    val aggIds = detailIds(plan, "HashAggregate", "Keys \\[1\\]: \\[l_orderkey")
    val joinIds =
      detailIds(plan, "BroadcastHashJoin", "") ++
      detailIds(plan, "SortMergeJoin", "") ++
      detailIds(plan, "ShuffledHashJoin", "")
    assert(aggIds.nonEmpty, s"no per-order aggregate in plan:\n$plan")
    assert(joinIds.nonEmpty, s"no joins in plan:\n$plan")
    assert(aggIds.min < joinIds.min,
      s"the quantity HAVING (node ${aggIds.min}) must run before any join " +
        s"(first at node ${joinIds.min}) — joins see survivors, not the corpus:\n$plan")
  }

  test("q14: part broadcasts and both ratio legs come from one aggregate") {
    val plan = planOf(Analytics.q14PromoRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"part side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"q14 must not shuffle the fact for a dim join:\n$plan")
    assert("(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 2, // lineitem + part
      s"numerator and denominator must share one fact scan:\n$plan")
  }

  test("k12: discovery and rewrite scans are partition-pruned; the deletion set always broadcasts") {
    // materialize the bucketed layout once so the audited scans bind to it
    Sources.k12UserErasure(spark, sf).collect()
    val path = s"${graft.TmpRoots.perProcess("graft_sources")}/k12_erasure"
    val discovery = planOf(Sources.k12Touched(spark, path))
    // the bucket predicate must prune partitions (it's a partition
    // column, so it lands in PartitionFilters — not in data filters)
    assert(discovery.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"discovery scan not partition-pruned on bucket:\n$discovery")
    assert(discovery.contains("BroadcastHashJoin") &&
      !discovery.contains("SortMergeJoin") && !discovery.contains("ShuffledHashJoin"),
      s"deletion set must join as a broadcast semi, never a shuffle:\n$discovery")
    val rewrite = planOf(Sources.k12Survivors(spark, path, Seq(7L, 13L, 42L)))
    assert(rewrite.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"rewrite scan not partition-pruned to touched buckets:\n$rewrite")
    assert(rewrite.contains("BroadcastHashJoin") &&
      !rewrite.contains("SortMergeJoin") && !rewrite.contains("ShuffledHashJoin"),
      s"anti-join must broadcast the deletion set:\n$rewrite")
  }

  test("q9: name filter pushes to the part scan; dims broadcast; one shuffle join") {
    val plan = planOf(Analytics.q9ProductProfit(spark, sf))
    // the %red% prune must reach the part scan — the fact stream then
    // shrinks inside the broadcast join, before any shuffle
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*StringContains\\(p_name,red\\).*"),
      s"p_name LIKE '%red%' not pushed to the part scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
    val shuffleJoins = "SortMergeJoin".r.findAllIn(plan).size +
      "ShuffledHashJoin".r.findAllIn(plan).size
    assert(shuffleJoins <= 1,
      s"expected at most one shuffle join (lineitem-orders), got $shuffleJoins:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("t14: the repetition kernel makes the digest a zero-shuffle scan+project") {
    val plan = planOf(TextAnalysis.t14Repetition(spark, sf))
    assert(plan.contains("graft_repetition"),
      s"native repetition kernel missing:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"),
      s"per-doc digests must not aggregate exploded gram rows:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the only exchange allowed is the output sort's range partitioning:\n$plan")
  }

  test("d10: canonical pick consumes the published cluster table; d2+CC absent from its plan") {
    graft.operators.Dedup.ensureClusterIndex(spark, sf)
    val plan = planOf(Dedup.d10CanonicalPick(spark, sf))
    assert(plan.contains("cluster_index"),
      s"d10 must read the published cluster table:\n$plan")
    assert(!plan.contains("graft_distinct_ngrams"),
      s"d10 must not re-run d2 pair generation:\n$plan")
    // only the (doc_id, length(text)) join against documents is allowed;
    // a shingle/band/pair shuffle chain would show as >2 hash exchanges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3,
      s"d10 should be read + join + aggregate, got $exchanges exchanges:\n$plan")
  }

  test("d2/d6: per-doc shingle dedup is in-row — no corpus-wide DISTINCT shuffle") {
    val plan = planOf(Dedup.shingles(spark, sf))
    assert(plan.contains("graft_distinct_ngrams"),
      s"native distinct-ngrams kernel missing:\n$plan")
    // The invariant is that no (doc, shingle) rows are HASH-shuffled
    // for a corpus-wide DISTINCT (the kernel dedups in-row). (The r15
    // Cols.spread that used to sit below the kernel was reverted in
    // r16 — measured slower for every aggregate-feeding consumer —
    // so the plan is again a pure scan→kernel→explode projection;
    // the audit still distinguishes partitioning kinds rather than
    // counting exchanges, so either shape passes.)
    assert(!plan.contains("HashAggregate") &&
        !plan.contains("Exchange hashpartitioning"),
      s"per-doc dedup must not shuffle (doc, shingle) rows:\n$plan")
  }

  test("d2/d7: scoring reads the published overlaps table — no inline pair join at all") {
    // Read-path discipline, tightened in r12: the capped pair
    // self-join runs ONCE at index build, so d2's and d7's plans must
    // contain NO document-kernel scan, NO sh-keyed exchange, and NO
    // join whatsoever — they are filters over the committed pair
    // artifact (the r11 "d2+d7 double-pay" ask).
    graft.operators.Dedup.ensureShingleIndex(spark, sf)
    for (df <- Seq(Dedup.d2NgramJaccard(spark, sf),
        Dedup.d7ContainmentDedup(spark, sf))) {
      val plan = planOf(df)
      assert(plan.contains("shingle_index"),
        s"must read the published shingle index:\n$plan")
      assert(!plan.contains("graft_distinct_ngrams"),
        s"read path must not re-run the shingle kernel:\n$plan")
      val finalPlan = finalTreeOf(df)
      assert(detailIds(finalPlan, "Exchange", "Arguments: hashpartitioning\\(sh").isEmpty,
        s"read path must not shuffle postings:\n$finalPlan")
      assert(!finalPlan.contains("Join"),
        s"read path must not re-join pairs:\n$finalPlan")
    }
  }

  test("t16/t17: the term-freq build lineage is kernel-computed — no token-stream shuffle") {
    val plan = planOf(TextAnalysis.termFreqBuild(spark, sf))
    assert(plan.contains("graft_term_freqs"),
      s"native term-freq kernel missing:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("Exchange"),
      s"per-doc term counting must not shuffle the token stream:\n$plan")
  }

  test("q8: dims broadcast; both ratio legs share one aggregate; at most one shuffle join") {
    val plan = planOf(Analytics.q8MarketShare(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
    val shuffleJoins = "(?m)^\\(\\d+\\) (SortMergeJoin|ShuffledHashJoin)"
      .r.findAllIn(plan).size
    assert(shuffleJoins <= 1,
      s"only lineitem-orders may shuffle, got $shuffleJoins:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // numerator and denominator come from ONE grouped aggregate — the
    // fact tree appears once (lineitem, orders, region, nation ×2
    // tags, customer, supplier = 7 scans; a two-tree ratio would double
    // the fact scans)
    assert("(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 7,
      s"ratio legs must share one join tree:\n$plan")
  }

  test("q11: the global total rides the aggregated per-part view — one fact scan") {
    // sf0.01: at sf0.001 the nation slice is empty and AQE collapses
    // the whole tree to EmptyRelation, leaving no shape to audit
    val plan = finalTreeOf(Analytics.q11ImportantStock(spark, "/root/testdata/sf0.01"))
    assert("Scan parquet".r.findAllIn(plan).size == 3, // lineitem+supplier+nation
      s"the HAVING scalar must not re-scan the fact:\n$plan")
    // no unpartitioned window over the fact-derived per-part view — the
    // global total is a broadcast 1-row aggregate, and its per-partkey
    // shuffle is shared with the view via ReuseExchange
    assert(!plan.contains("Window"),
      s"q11 must not compute the total with an unpartitioned window:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"q11's view and its total must share the per-partkey shuffle:\n$plan")
  }

  test("q12: date window and flag filter push to the fact scan; both counts ride one join") {
    val plan = planOf(Analytics.q12PriorityLines(spark, sf))
    // [^\n]* keeps the match inside ONE PushedFilters line (In(...,[A,R])
    // closes a bracket mid-list, so the [^\]]* idiom can't span it)
    assert(plan.matches("(?s).*PushedFilters: [^\n]*GreaterThanOrEqual\\(l_shipdate.*"),
      s"shipdate window not pushed to the lineitem scan:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: [^\n]*In\\(l_returnflag.*"),
      s"returnflag IN not pushed to the lineitem scan:\n$plan")
    // conditional agg = both class counts from ONE pass: 2 scans, 1 join
    assert("(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 2,
      s"high/low counts must share one lineitem and one orders scan:\n$plan")
    val joins = "(?m)^\\(\\d+\\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
      .r.findAllIn(plan).size
    assert(joins == 1, s"expected exactly the one orderkey join, got $joins:\n$plan")
  }

  test("q20: the aggregate subquery reuses ONE fact scan; suppliers attach by semi-join") {
    val plan = planOf(Analytics.q20ExcessShippers(spark, sf))
    // window-over-aggregate rewrite: the textbook correlated form scans
    // lineitem twice (once for per-pair qty, once for the part total)
    assert("(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 3, // lineitem+part+supplier
      s"the per-part total must come from the aggregated view, not a fact re-scan:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"the qualifying-set probe must be a semi-join (existence only):\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*StringContains\\(p_name,red\\).*"),
      s"red-part prune must reach the part scan before its broadcast:\n$plan")
  }

  test("q16: the distinct aggregate dedups (brand,type,suppkey) BELOW its shuffle") {
    val plan = planOf(Analytics.q16SupplierDiversity(spark, sf))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"the part dim must broadcast, never shuffle the fact:\n$plan")
    // two-phase COUNT(DISTINCT): the map-side partial keyed on
    // (brand, type, suppkey) must sit below the exchange, so the
    // shuffle carries deduped triples, not raw fact rows
    val partialIds = detailIds(plan, "HashAggregate",
      "Keys \\[3\\]: \\[p_brand[^\\]]*l_suppkey")
    val exchangeIds = detailIds(plan, "Exchange", "Arguments: hashpartitioning\\(p_brand")
    assert(partialIds.nonEmpty, s"no (brand,type,suppkey) partial aggregate:\n$plan")
    assert(exchangeIds.nonEmpty, s"no brand/type exchange in plan:\n$plan")
    assert(partialIds.min < exchangeIds.min,
      s"map-side dedup (node ${partialIds.min}) must sit below the shuffle " +
        s"(node ${exchangeIds.min}):\n$plan")
  }

  test("k13: the maintenance read prunes to the touched day partitions") {
    Sources.k13IncrementalRollup(spark, sf).collect() // materialize the rollup
    val path = s"${graft.TmpRoots.perProcess("graft_sources")}/k13_rollup"
    val plan = planOf(Sources.k13Current(spark, path, Seq("2024-01-05", "2024-01-06")))
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
      s"touched-day predicate must land in PartitionFilters (file-listing prune), " +
        s"not a data filter:\n$plan")
  }

  test("AQE splits a deliberately skewed shuffle-join partition at runtime") {
    // SURVEY §5's fact-fact skew policy, MEASURED: j4's manual salting
    // is the explicit tool for KNOWN hot keys; for the rest, AQE's
    // runtime skew-join split is the backstop. This pins that the
    // backstop actually fires: one key owns ~90% of the left side, so
    // its shuffle partition exceeds the (test-lowered) skew threshold
    // and the final adaptive plan must show the SMJ marked skew=true
    // with the hot partition split into multiple reader slices.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      // the payload must (a) survive column pruning — the aggregate
      // reads it — and (b) be incompressible — md5 digests — because
      // skew detection runs on the COMPRESSED map-output sizes; a
      // constant hot key with no payload compresses below any
      // threshold and never looks skewed
      val left = spark.range(0, 120000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(pmod(col("id"), lit(31)) + 1).as("k"),
        md5(col("id").cast("string")).as("pad"))
      val right = spark.range(0, 32).select(col("id").as("k"),
        concat(lit("r"), col("id").cast("string")).as("rv"))
      val joined = left.join(right, "k").groupBy(col("rv"))
        .agg(count(lit(1)).as("n"), max(col("pad")).as("mx"))
      joined.collect()
      val full = joined.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      val start = full.indexOf("== Final Plan ==")
      val end = full.indexOf("== Initial Plan ==")
      val tree = if (start >= 0 && end > start) full.substring(start, end) else full
      assert(tree.contains("SortMergeJoin") || tree.contains("ShuffledHashJoin"),
        s"fixture must produce a shuffle join:\n$tree")
      assert(full.contains("skew=true"),
        s"AQE did not mark the hot-key join skewed:\n$full")
      // and the hot partition was actually SPLIT: pull the skew metrics
      // off the final plan's AQE reads (query stages are leaves — their
      // subtrees live in .plan, so the walk must descend explicitly)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
      def reads(p: SparkPlan): Seq[AQEShuffleReadExec] = p.collect {
        case r: AQEShuffleReadExec => Seq(r)
        case q: QueryStageExec => reads(q.plan)
      }.flatten
      val adaptive = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a }.get
      val skewSplits = reads(adaptive.executedPlan)
        .flatMap(_.metrics.get("numSkewedSplits")).map(_.value).sum
      assert(skewSplits >= 2,
        s"expected the hot partition split into multiple reader slices, got $skewSplits")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("g1/t19: quality rules and HTML extraction are zero-Exchange scan-projects") {
    // Both are row-local expression pipelines: any Exchange besides
    // the output ordering's range partition means a shuffle crept in.
    Seq(graft.operators.Quality.g1GopherQuality(spark, sf),
      TextAnalysis.t19HtmlExtract(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("hashpartitioning"),
        s"only the output-sort range exchange is allowed, plan:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("HashAggregate"),
        s"row-local op must not join or aggregate:\n$plan")
    }
  }

  test("t20: unigram table broadcasts; bigram joins are equi-joins, never nested loops") {
    val plan = finalTreeOf(TextAnalysis.t20BigramPerplexity(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"vocabulary-bounded c1/V must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian allowed (V attaches via 1-row broadcast):\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"only the 1-row V crossJoin may be a BNLJ:\n$plan")
  }

  test("ix2: search reads ONLY the index with the term filter pushed; corpus never scanned") {
    graft.operators.TextIndex.ensureTextIndex(spark, sf)
    val plan = planOf(graft.operators.TextIndex.ix2BooleanSearch(spark, sf))
    assert(!plan.contains("documents.parquet"),
      s"search must not rescan the raw corpus:\n$plan")
    assert(plan.contains("text_index") || plan.contains("postings"),
      s"search must read the persisted index:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(term.*"),
      s"query terms must push to the index scan:\n$plan")
  }

  test("ix5: BM25 reads ONLY the index (positions/postings/doclens); corpus never scanned") {
    graft.operators.TextIndex.ensureTextIndex(spark, sf)
    val plan = planOf(graft.operators.TextIndex.ix5Bm25Search(spark, sf))
    assert(!plan.contains("documents.parquet"),
      s"BM25 must not rescan the raw corpus:\n$plan")
    assert(plan.contains("doclens") && plan.contains("positions"),
      s"BM25 must read the committed length and positional tables:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(term.*"),
      s"query terms must push to the index scan:\n$plan")
  }

  test("ts13/ts14: the bounded series frame is checkpointed — no per-branch events rescan") {
    // both operators branch their bounded day/hour frame into several
    // consumers; without the checkpoint Catalyst re-derives the frame
    // per branch and the plan scans events 4-6× (the prof5 lesson)
    for ((n, df) <- Seq(
        "ts13" -> graft.operators.TimeSeries.ts13TheilSen(spark, sf),
        "ts14" -> graft.operators.TimeSeries.ts14SeasonalAdjust(spark, sf))) {
      val plan = planOf(df)
      val scans = "events\\.parquet".r.findAllIn(plan).size
      assert(scans <= 1, s"$n re-scans events ($scans scans):\n$plan")
    }
  }

  test("ix3: phrase search reads ONLY the positional index; corpus never scanned") {
    graft.operators.TextIndex.ensureTextIndex(spark, sf)
    val plan = planOf(graft.operators.TextIndex.ix3PhraseSearch(spark, sf))
    assert(!plan.contains("documents.parquet"),
      s"phrase search must not rescan the raw corpus:\n$plan")
    assert(plan.contains("positions"),
      s"phrase search must read the positional table:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(term.*") ||
      plan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(term.*"),
      s"phrase terms must push to the index scan:\n$plan")
  }

  test("q19: part joins as a broadcast; the disjunctive filter never degrades the join") {
    val plan = planOf(Analytics.q19DisjunctiveJoin(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"part side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"q19 must not shuffle the fact table for a dim-sized build side:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the OR predicate must stay a post-join filter, not the join condition:\n$plan")
  }

  test("ts1/ts3: one fact scan; the spine/bounds attach by broadcast, never cartesian") {
    val p1 = planOf(graft.operators.TimeSeries.ts1GapFill(spark, sf))
    assert("events.parquet".r.findAllIn(p1).size <= 2,
      s"ts1 reads events for the hourly agg + the bounded spine only:\n$p1")
    assert(!p1.contains("CartesianProduct"),
      s"the 1-row span must attach as a broadcast, not a cartesian:\n$p1")
    val p3 = planOf(graft.operators.TimeSeries.ts3Trend(spark, sf))
    assert(!p3.contains("CartesianProduct") &&
      !p3.contains("SortMergeJoin") && !p3.contains("ShuffledHashJoin"),
      s"ts3's day-min must be a 1-row broadcast onto the day aggregate:\n$p3")
  }

  test("er1: fuzzy matching runs on the aggregated name catalog, never a row-grain self-join") {
    val plan = planOf(graft.operators.EntityResolution.er1FuzzyMatch(spark, sf))
    // both join inputs must be HashAggregate outputs (the distinct-name
    // catalog), i.e. the aggregate sits BELOW the self-join
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0, s"expected the blocked candidate join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"blocking must keep the candidate join an equi-join:\n$plan")
    val aggCount = "HashAggregate".r.findAllIn(plan).size
    assert(aggCount >= 2, s"name-catalog aggregates must feed the join:\n$plan")
  }

  test("sky1: dominance is one partitioned window pass, not a self-join of part rows") {
    val plan = planOf(graft.operators.Mining.sky1ParetoFront(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the NOT-EXISTS form would be a nested loop; the window form must not:\n$plan")
    assert(plan.contains("Window"), s"expected the running-max window:\n$plan")
    assert(plan.matches("(?s).*windowspecdefinition\\(p_brand.*"),
      s"the window must be PARTITIONED by brand (no global sort):\n$plan")
  }

  test("g3: triangle closure is equi-joins only; no cartesian wedge explosion") {
    val plan = planOf(graft.operators.Graph.g3TriangleCount(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge + closure must stay keyed equi-joins:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not be a global sort:\n$plan")
  }

  test("n12: PQ encoding is a zero-shuffle scan+project (no exchange below the codes)") {
    val plan = planOf(Similarity.pqCodes(spark, sf))
    assert(!plan.contains("Exchange"),
      s"code assignment must be a pure scan+project against literal codebooks:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"),
      s"no window/join in the encode path:\n$plan")
  }

  test("t21: dictionary tagging shuffles nothing but the output sort") {
    val plan = planOf(TextAnalysis.t21KeywordTag(spark, sf))
    // one automaton pass + explode; the single Exchange is the
    // rangepartitioning sort of the bounded tagged output
    val exchanges = "Exchange (range|hash)partitioning".r
      .findAllIn(plan).toSeq
    assert(exchanges.forall(_.contains("range")) && exchanges.size <= 1,
      s"tagging must not shuffle before the output sort:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"the dictionary is a plan literal, never a join side:\n$plan")
  }

  test("j6: concurrency via boundary counting — no pair join, no cartesian, no Expand") {
    val plan = planOf(Analytics.j6OverlapJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"overlap counting must never cross-join intervals:\n$plan")
    // the r8 pair-join form needed a countDistinct Expand over the pair
    // mass (the sf1 20× scaler); the order-statistics form has none
    assert(!plan.contains("Expand"),
      s"no distinct-pair Expand allowed — pairs must not materialize:\n$plan")
    // cumulative boundary tables attach by broadcast, not shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"bounded cum tables must broadcast:\n$plan")
  }

  test("dc1: the corpus-facing window ranks (source, salt), never bare source") {
    val q = graft.operators.Quality.dc1SourceCaps(spark, sf)
    val plan = planOf(q)
    // two Window nodes: the salted phase-1 pass and the bounded phase-2
    val nWindows = "\\bWindow\\b".r.findAllIn(plan).size
    assert(nWindows >= 2, s"expected the two-phase window pair:\n$plan")
    // phase 1 partitions by (source, pmod(doc_id, salts)) — the pmod key
    // must appear in a window partition spec, proving the corpus-sized
    // pass is salted (the bare-source sort only sees ≤ salts×K rows)
    assert(plan.contains("pmod(doc_id#"),
      s"phase-1 window must carry the salt key:\n$plan")
  }

  test("e7/e9/a18: every corpus-facing window is PARTITIONED by user/shard") {
    Seq(
      ("e7", Analytics.e7Attribution(spark, sf)),
      ("e9", Analytics.e9CommonPaths(spark, sf)),
      ("a18", Analytics.a18CohortLtv(spark, sf))).foreach { case (n, df) =>
      val plan = planOf(df)
      // every windowspecdefinition must carry a partition key (the
      // empty-frame form starts with the order spec directly)
      val specs = "windowspecdefinition\\(([a-z_]+)#".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(specs.nonEmpty, s"$n: expected windows:\n$plan")
      assert(specs.forall(k => k.nonEmpty), n)
      // a18's cumulative window partitions by cohort; e7/e9 by user
      val want = if (n == "a18") Set("user_id", "cohort_us")
        else Set("user_id")
      assert(specs.toSet.subsetOf(want),
        s"$n: unexpected window partition keys $specs:\n$plan")
    }
  }

  test("rfm1: scoring is a broadcast-cut row expression, never an ntile sort") {
    val plan = planOf(Analytics.rfm1Segments(spark, sf))
    assert(!plan.contains("Window"),
      s"RFM must not rank customers with a window (global ntile):\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the percentile cuts must broadcast:\n$plan")
  }

  test("imp2: the bootstrap collapses into a replicate-keyed aggregate") {
    val plan = planOf(graft.operators.Quality.imp2BootstrapCi(spark, sf))
    assert(!plan.contains("Window"),
      s"no window anywhere in the bootstrap:\n$plan")
    assert(plan.contains("Generate") && plan.contains("HashAggregate"),
      s"expected the replicate explode feeding a keyed aggregate:\n$plan")
    // partial aggregation: the explode's fanout combines map-side
    val partials = "HashAggregate".r.findAllIn(plan).size
    assert(partials >= 2, s"expected partial+final aggregate pair:\n$plan")
  }

  test("mix4: the epoch-order rank window partitions by shard") {
    val plan = planOf(graft.operators.Pipeline.mix4EpochOrder(spark, sf))
    assert(plan.matches("(?s).*windowspecdefinition\\(shard#.*"),
      s"rank window must be shard-partitioned, never global:\n$plan")
  }

  test("b2: rule scoring reads the basket index; the build explodes pairs in-row") {
    // r12: pair/item supports are committed basket-index outputs; b2's
    // plan is keyed joins over them — the fact table appears nowhere
    graft.operators.Mining.ensureBasketIndex(spark, sf)
    val plan = planOf(graft.operators.Mining.b2AssociationRules(spark, sf))
    assert(plan.contains("basket_index"),
      s"b2 must read the published basket index:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"b2 must not pair-join facts:\n$plan")
    // the ONE nested-loop join allowed is the 1-row basket-total
    // broadcast (the codebase-wide crossJoin(broadcast(...)) scalar
    // pattern). Formatted explain lists each node twice (tree +
    // detail), so count the numbered detail headers.
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"only the 1-row total may nested-loop:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must not be a global sort:\n$plan")
    // the in-row compiled pair explode lives in the BUILD plan
    val buildPlan = planOf(Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_orderkey"))
      .agg(org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.collect_set(col("l_partkey"))).as("parts"))
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.graft.PackedPairsExpr.packedPairs(col("parts")))
        .as("pk")))
    assert(buildPlan.contains("explode(graft_packed_pairs"),
      s"expected the in-row compiled pair explode in the build:\n$buildPlan")
  }

  test("g6: BFS result reads checkpointed state — no edge-list rejoin in the output") {
    val df = graft.operators.Graph.g6BfsHops(spark, sf)
    val plan = planOf(df)
    // the iterative work already ran (localCheckpoint per round); the
    // emitted plan must be a scan of the known set, not a re-traversal
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Exchange hashpartitioning"),
      s"output must read BFS state, not re-join the edge list:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("w9: the rolling-percentile window partitions by type with a ROWS frame") {
    val plan = planOf(Analytics.w9RollingPercentile(spark, sf))
    assert(plan.matches("(?s).*windowspecdefinition\\(event_type#.*"),
      s"window must partition by event_type:\n$plan")
    assert(plan.contains("rowsbetween") ||
      plan.matches("(?s).*ROWS BETWEEN.*") ||
      plan.contains("specifiedwindowframe(RowFrame"),
      s"expected the constant ROWS frame:\n$plan")
  }

  test("g4: pair generation is in-row; degree joins are keyed, never cartesian") {
    // BUILD plan: the quadratic pair mass is generated by the in-row
    // compiled explode (never a fact self-join)...
    val buildPlan = planOf(graft.operators.Graph.lpPairsBuild(spark, sf,
      graft.operators.Graph.LpMaxDeg))
    assert(!buildPlan.contains("CartesianProduct") &&
      !buildPlan.contains("BroadcastNestedLoopJoin"),
      s"supplier pairs must come from the in-row explode, not a self-join:\n$buildPlan")
    assert(buildPlan.contains("Generate") &&
      buildPlan.contains("explode(graft_packed_pairs"),
      s"expected the in-row compiled pair explode:\n$buildPlan")
    // ...and the QUERY plan is a read-path over the published pair
    // table: it scores/joins committed parquet and must NOT re-run
    // the pair generator (the r11 ask-5 discipline, g4 edition).
    val plan = planOf(graft.operators.Graph.g4LinkPredict(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"degree joins must stay keyed:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not be a global sort:\n$plan")
    assert(plan.contains("supplier_pairs"),
      s"g4 must read the published pair table:\n$plan")
    assert(!plan.contains("graft_packed_pairs"),
      s"g4 query must not regenerate pairs inline:\n$plan")
  }

  test("m5: candidates ride the band equi-join, never an all-pairs loop") {
    val plan = planOf(graft.operators.Multimodal.m5PhashNeardup(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pHash candidates must be band-bucket-confined:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on (band, value):\n$plan")
  }

  test("t22: the rank window orders the top-1000 head, not the vocabulary") {
    val plan = planOf(TextAnalysis.t22ZipfProfile(spark, sf))
    // the head selection must be a TakeOrdered, and the single global
    // window must sit ABOVE it (bounded input), not over the term frame
    assert(plan.contains("TakeOrderedAndProject"),
      s"head selection must be TakeOrdered, not a global sort:\n$plan")
    val takeIdx = plan.indexOf("TakeOrderedAndProject")
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, s"expected the rank window:\n$plan")
    // formatted explain lists operators leaves-last: the window node
    // must appear BEFORE the TakeOrdered that feeds it
    assert(winIdx < takeIdx,
      s"rank window must consume the TakeOrdered head:\n$plan")
  }

  test("b5: pure read-path — the lineitem fact table appears nowhere in the plan") {
    val plan = planOf(graft.operators.Mining.b5BasketAffinity(spark, sf))
    assert(!plan.contains("lineitem.parquet"),
      s"b5 must read the committed basket index, not the fact table:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"b5 top-K must not global-sort:\n$plan")
  }

  test("d15: reads the committed cluster table and only (doc_id, source) from documents") {
    val plan = planOf(Dedup.d15SourceOverlap(spark, sf))
    assert(!plan.contains("text"),
      s"d15 must not scan document text:\n$plan")
    assert(plan.contains("cluster_index") || plan.contains("clusters"),
      s"d15 must read the published cluster parquet:\n$plan")
  }

  test("g10: pure read path over the published kcore index — no join, fact tables nowhere") {
    val plan = planOf(graft.operators.Graph.g10KCore(spark, sf))
    assert(plan.contains("graph_kcore_index"),
      s"g10 must read the published kcore table:\n$plan")
    assert(!plan.contains("Join"),
      s"g10's read path must not re-run the peel:\n$plan")
    assert(!plan.contains("orders.parquet") && !plan.contains("lineitem.parquet"),
      s"fact tables must not appear in g10's read plan:\n$plan")
  }

  test("w11/w12: the only rank windows are bucket-partitioned (no fact-scale global window)") {
    for ((name, df) <- Seq("w11" -> Analytics.w11Gini(spark, sf),
        "w12" -> Analytics.w12TopDecileShare(spark, sf))) {
      val plan = planOf(df)
      // the per-customer rank window must be partitioned by the bucket
      // column; the only unpartitioned window is the <=32-row offset
      // cumsum over the bucket-count frame
      assert(plan.contains("row_number"), s"$name: expected a rank window:\n$plan")
      assert("partitionBy=\\[bkt".r.findAllIn(plan).nonEmpty ||
        plan.contains("PartitionSpec: [bkt") || plan.contains("[bkt"),
        s"$name: rank window not bucket-partitioned:\n$plan")
    }
  }

  test("f5: one exchange total — the hashed-feature count shuffles only (source, bucket)") {
    val plan = finalTreeOf(graft.operators.Mining.f5FeatureHashing(spark, sf))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    // one partial->final count exchange + the output sort's range exchange
    assert(exchanges <= 2, s"f5 must shuffle once (plus output sort), got $exchanges:\n$plan")
  }

  test("t29: the only text scan is the batch slice (pushed modulo filter)") {
    val plan = planOf(graft.operators.Incremental.t29IncrementalNovelty(spark, sf))
    assert(plan.contains("novelty_index") || plan.contains("firsts"),
      s"t29 must read the committed firsts:\n$plan")
    // the documents scan exists ONLY for the batch slice; its filter
    // must sit directly on the scan's data filters
    assert(plan.contains("documents.parquet"),
      "t29 scans the batch slice of documents")
  }

  test("obt2: the partitioned materialization has no global sort / range exchange") {
    // obt1's trailing global orderBy exists for the hash oracle; the
    // production write (obt2) must never range-shuffle the widest
    // table in the warehouse — partition fan-out is a hash
    // repartition, ordering is sortWithinPartitions (per-task only)
    val plan = planOf(Sources.obt2WriteFrame(spark, sf))
    assert(!plan.contains("rangepartitioning"),
      s"obt2 write plan contains a range exchange (global sort):\n$plan")
    assert(plan.contains("hashpartitioning"),
      s"obt2 write plan must fan out via hash repartition:\n$plan")
    // the cluster sort is local: every Sort node must be non-global
    val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(plan).size
    assert(globalSorts == 0, s"obt2 write plan contains a global Sort:\n$plan")
  }

  test("d18/d19: read paths consume the published span index — no gram re-sweep") {
    val p18 = planOf(Dedup.d18ExactSpans(spark, sf))
    assert(p18.contains("span_index"),
      s"d18 must read the published span index:\n$p18")
    assert(!p18.contains("xxhash64"),
      s"d18's read path must not re-hash the corpus grams:\n$p18")
    val p19 = planOf(Dedup.d19SpanExtents(spark, sf))
    assert(p19.contains("span_index"),
      s"d19 must read the published span index:\n$p19")
    assert(!p19.contains("documents.parquet"),
      s"d19 is a pure index read — the corpus must appear nowhere:\n$p19")
  }

  test("broadcast-hint policy: no hint pins an sf-linear table (SURVEY §5)") {
    // The r12 verdict's one systemic scale defect: a hard broadcast()
    // on customer/part/supplier OVERRIDES Spark's size check, and
    // those tables grow linearly with scale factor (~15 B customers /
    // ~20 B parts at a 100 TB TPC-H) — the hint that is free at bench
    // scale OOMs the build side at cluster scale. Policy (SURVEY §5):
    // a broadcast hint may wrap a subtree only if its cardinality is
    // bounded INDEPENDENT of scale factor — it aggregates (grouping
    // keys bound it), limits, dedups, is sliced to a constant key
    // range (`id < K`, the query-probe pattern), or scans only the
    // fixed-size dims (nation: 25 rows, region: 5 — at ANY sf).
    // Everything else is the planner's call. Swept over EVERY gate
    // query's analyzed plan so a future hint regression fails here.
    import org.apache.spark.sql.catalyst.expressions.{LessThan, LessThanOrEqual}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.{IntegerType, LongType}

    val sfLinearScan =
      "/(customer|part|supplier|orders|lineitem|events|documents|embeddings)\\.parquet$".r
    def sfLinearLeaves(p: LogicalPlan): Seq[String] = p.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          .filter(path => sfLinearScan.findFirstIn(path).isDefined)
        case _ => Nil
      }
      case _ => Nil
    }
    def isBounded(p: LogicalPlan): Boolean = {
      val aggregatesOrLimits = p.collectFirst {
        case _: Aggregate => (); case _: GlobalLimit => ()
        case _: Deduplicate => (); case _: Distinct => ()
      }.isDefined
      // `id < K` with a constant int/long bound slices a constant ROW
      // COUNT over this corpus's dense-from-zero ids (the query-probe
      // pattern: n1's vec_id < NumQueries, j3's o_orderkey < 100). A
      // fraction-selecting filter — LIKE, equality on a category, a
      // date range — does NOT qualify and must not reinstate a hint.
      // Foldable (not bare-Literal) match: the analyzed plan wraps
      // type-promoted literals in Cast.
      def intFoldable(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        e.foldable && (e.dataType == IntegerType || e.dataType == LongType)
      def constKeySlice = p.collect { case f: Filter => f.condition }.exists(c =>
        c.collectFirst {
          case LessThan(a, bound) if a.references.nonEmpty && intFoldable(bound) => ()
          case LessThanOrEqual(a, bound) if a.references.nonEmpty && intFoldable(bound) => ()
        }.isDefined)
      aggregatesOrLimits || constKeySlice || sfLinearLeaves(p).isEmpty
    }

    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val analyzed = fn(spark, sf).queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.nonEmpty && !isBounded(h.child) =>
          offenders += s"$name: hint pins sf-linear scan(s) " +
            sfLinearLeaves(h.child).mkString(", ")
        case _ => ()
      }
    }
    assert(offenders.isEmpty,
      s"broadcast hints on unbounded sf-linear subtrees:\n${offenders.mkString("\n")}")
  }

  test("de-hinted star joins: CBO/AQE still picks broadcast at bench scale") {
    // The de-hint (r13) must be FREE locally: with the hint gone, the
    // size-based planner still builds a broadcast hash table for the
    // small dim at bench scale — only beyond the threshold does the
    // plan degrade to a shuffle join. Representative cohort of the 14
    // formerly-hinted queries.
    val cohort = Seq[(String, DataFrame)](
      "q3" -> Analytics.q3TopkRevenue(spark, sf),
      "q9" -> Analytics.q9ProductProfit(spark, sf),
      "q16" -> Analytics.q16SupplierDiversity(spark, sf),
      "q19" -> Analytics.q19DisjunctiveJoin(spark, sf),
      "obt1" -> Analytics.obt1Denormalize(spark, sf))
    for ((name, df) <- cohort) {
      val plan = finalTreeOf(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: planner no longer broadcasts the dim at bench scale:\n$plan")
      val shuffleJoins = "SortMergeJoin".r.findAllIn(plan).size +
        "ShuffledHashJoin".r.findAllIn(plan).size
      assert(shuffleJoins <= 1,
        s"$name: expected at most one shuffle join (the fact join), got $shuffleJoins:\n$plan")
    }
  }

  test("prof11: fan-out scales with input, bucket search is native, no Expand (r13 ask #1)") {
    import graft.operators.Profiling
    // the scaling law itself: ~fixed rows per rank bucket above the
    // floor, so the per-bucket row_number partition stays bounded at
    // ANY scale factor (constant-32 was the suite's one scale-killer)
    assert(Profiling.rankFanoutFor(1L) == Profiling.RankFanoutFloor)
    assert(Profiling.rankFanoutFor(600000L) == Profiling.RankFanoutFloor)
    assert(Profiling.rankFanoutFor(64L * Profiling.RankTargetRows) == 64)
    assert(Profiling.rankFanoutFor(6L * 1000 * 1000 * 1000) == 3000)
    assert(Profiling.rankFanoutFor(600L * 1000 * 1000 * 1000) == 300000)
    assert(Profiling.rankFanoutFor(Long.MaxValue / 4) == 1000000,
      "cut-array cap: the broadcast side must stay bounded")
    val ns = Seq(1L, 1000000L, 100000000L, 10000000000L, 1000000000000L)
    assert(ns.map(Profiling.rankFanoutFor) == ns.map(Profiling.rankFanoutFor).sorted,
      "fan-out must be monotone in the row count")
    // rows-per-bucket boundedness through the 100 TB grain (lineitem
    // at a 100 TB TPC-H is ~6e11 rows; the 1M-bucket cap only starts
    // trading bucket size for broadcast boundedness beyond 2e12)
    for (n <- Seq(1e9.toLong, 1e11.toLong, 1e12.toLong)) {
      val perBucket = n / Profiling.rankFanoutFor(n)
      assert(perBucket <= 2 * Profiling.RankTargetRows,
        s"n=$n: $perBucket rows/bucket exceeds the window-sort budget")
    }
    // and the plan: bucket assignment is the O(log B) native search
    // (an O(B)-per-row HOF filter would undo the proportional fan-out)
    // and the single distinct aggregate plans WITHOUT an Expand
    val plan = planOf(Profiling.prof11DepthHistogram(spark, sf))
    assert(plan.contains("graft_search_sorted"),
      s"prof11 must assign buckets via the native binary search:\n$plan")
    assert(!plan.contains("Expand"),
      s"countDistinct must plan as two-stage partial-distinct, not Expand:\n$plan")
  }

  test("r14 ask #2: every unpartitioned Window in every gate query rides a bounded input") {
    // The gate log carries hundreds of single-partition Window
    // warnings; each one is fine ONLY because its input was already
    // reduced to bounded metadata (a keyed aggregate, a limit, or a
    // committed-artifact/bounded-literal scan). That convention used
    // to rest on per-operator docstrings — this sweep ENFORCES it:
    // walk the FINAL adaptive physical plan of every SparkEntry query
    // and require each WindowExec/WindowGroupLimitExec with an empty
    // partitionSpec to have such a reducer in its input subtree. A
    // regression that floats a global window onto a fact-scale frame
    // fails here instead of at the 100 TB incident.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val expanded = (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }) ++ p.subqueries // scalar attaches hide windows in subquery plans
      p +: expanded.flatMap(walk)
    }

    def isBoundedReducer(p: SparkPlan): Boolean = p match {
      // a keyed (or global) aggregate collapsed the rows
      case _: BaseAggregateExec => true
      // an explicit limit bounds the frame
      case _: LocalLimitExec | _: GlobalLimitExec |
          _: TakeOrderedAndProjectExec => true
      // driver-literal data (plan constants, query sets)
      case _: LocalTableScanExec => true
      // localCheckpoint of a frame that was ALREADY reduced — the
      // checkpoint erases lineage, and every checkpointed frame in
      // the repo is the output of an audited bounded reduction
      // (ts13/ts14 series bounds, prof11 pinned cuts)
      case _: RDDScanExec => true
      // committed index artifacts (AtomicPublish version dirs) are
      // bounded by construction (span/sig/term/cluster indexes)
      case f: FileSourceScanExec =>
        val paths = f.relation.location.rootPaths.mkString(",")
        paths.contains("/versions/") ||
          // the bounded literal dims (≤ 25 rows at any SF)
          paths.contains("nation.parquet") || paths.contains("region.parquet")
      case _ => false
    }

    val violations = scala.collection.mutable.ArrayBuffer[String]()
    var nGlobalWindows = 0
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf)
      df.collect() // drive to completion so AQE's FINAL plan exists
      val nodes = walk(df.queryExecution.executedPlan)
      val globals = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => (w: SparkPlan, w.child)
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          (w: SparkPlan, w.child)
      }
      nGlobalWindows += globals.size
      for ((w, child) <- globals)
        if (!walk(child).exists(isBoundedReducer))
          violations += s"$name: ${w.nodeName} over ${child.nodeName}"
    }
    assert(violations.isEmpty,
      s"unbounded global windows found:\n${violations.mkString("\n")}")
    // the sweep must have actually seen the warned-about windows
    // (the gate log's warning count is higher because it re-warns per
    // execution and includes one-shot index-BUILD plans, which have
    // their own audits; the read-path query surface carries ~22)
    assert(nGlobalWindows >= 20,
      s"sweep saw only $nGlobalWindows global windows — harness broken?")
  }

  test("wave-4 kernel spreads: round-robin below the kernel, identity at scale") {
    // The r15 wave-4 spreads (t10 BPE encode, t13 regex redaction, r9
    // JSON extraction, prof11's histogram pass) parallelize a heavy
    // row-local stage off the ONE task a single-row-group scan plans.
    // Each plan must carry the round-robin exchange BELOW the kernel —
    // and no new hash exchange (results stay key-aggregated or behind
    // the trailing output sort).
    val spreadQueries: Seq[(String, DataFrame)] = Seq(
      ("t10", TextAnalysis.t10BpeTokens(spark, sf)),
      ("t13", TextAnalysis.t13Redact(spark, sf)),
      ("r9", Relational.r9JsonExtract(spark, sf)),
      ("prof11", graft.operators.Profiling.prof11DepthHistogram(spark, sf)))
    for ((name, df) <- spreadQueries) {
      val plan = planOf(df)
      assert(plan.contains("RoundRobinPartitioning"),
        s"$name: wave-4 spread exchange missing:\n$plan")
    }
    // Cols.spread's scale contract: on a frame already at (or above)
    // session parallelism it is the IDENTITY — same reference, no
    // exchange added — so a 100 TB scan (>= cores partitions) pays
    // nothing. This is what keeps the spreads out of the
    // local-only-config category.
    val cores = spark.sparkContext.defaultParallelism
    val wide = spark.range(1000).toDF("v").repartition(cores)
    assert(graft.Cols.spread(wide) eq wide,
      "spread must be the identity on an already-parallel frame")
    val narrow = spark.range(1000).toDF("v").coalesce(1)
    assert(graft.Cols.spread(narrow).queryExecution.explainString(
        ExplainMode.fromString("formatted")).contains("RoundRobinPartitioning"),
      "spread must round-robin a single-partition frame")
  }
}
