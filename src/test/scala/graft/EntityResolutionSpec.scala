package graft

import graft.operators.EntityResolution
import org.apache.spark.sql.functions._

/** Blocked fuzzy matching (row 165): the emitted pair set is recomputed
  * driver-side with an independent textbook DP edit distance (pinning
  * Spark's levenshtein kernel), and the blocking contract is asserted
  * explicitly — matches share a block, non-candidates never pay the
  * kernel.
  */
class EntityResolutionSpec extends GraftSpec {

  private def editDistance(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("er1 pairs match a driver-side blocked recompute with reference DP distance") {
    val names = Tables.part(spark, sf).groupBy("p_name").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count"))
    val byBlock = names.toSeq.groupBy(_._1.split(" ").last)
    val want = byBlock.values.flatMap { block =>
      for {
        (na, ca) <- block; (nb, cb) <- block
        if na < nb
        d = editDistance(na, nb)
        if d <= EntityResolution.MaxEditDistance
      } yield (na, nb, d, ca, cb)
    }.toSeq.sortBy(p => (p._1, p._2))
    val got = EntityResolution.er1FuzzyMatch(spark, sf).collect()
      .map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b"),
        r.getAs[Int]("dist"), r.getAs[Long]("n_parts_a"),
        r.getAs[Long]("n_parts_b"))).toSeq
    assert(got == want, s"got ${got.take(5)}...\nwant ${want.take(5)}...")
    assert(got.nonEmpty, "fixture should contain fuzzy matches")
  }

  test("er3 blocking metrics match a driver-side all-pairs ground truth") {
    val names = Tables.part(spark, sf).groupBy("p_name").count().collect()
      .map(_.getString(0)).toSeq.sorted
    var nTrue = 0L
    var nCand = 0L
    var nTrueInBlock = 0L
    for {
      a <- names; b <- names
      if a < b && math.abs(a.length - b.length) <= EntityResolution.MaxEditDistance
    } {
      val inBlock = a.split(" ").last == b.split(" ").last
      val isTrue = editDistance(a, b) <= EntityResolution.MaxEditDistance
      if (inBlock) nCand += 1
      if (isTrue) { nTrue += 1; if (inBlock) nTrueInBlock += 1 }
    }
    val r = EntityResolution.er3BlockingEval(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_names") == names.length)
    assert(row.getAs[Long]("n_true") == nTrue)
    assert(row.getAs[Long]("n_candidates") == nCand)
    assert(row.getAs[Long]("n_true_in_block") == nTrueInBlock)
    assert(nTrue > 0, "fixture should contain true matches")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getAs[Double]("pair_completeness") ==
      r6(nTrueInBlock.toDouble / nTrue))
    val total = names.length.toDouble * (names.length - 1) / 2
    assert(row.getAs[Double]("reduction_ratio") == r6(1.0 - nCand / total))
    // head-token blocking on this catalog must be both sound and useful
    assert(row.getAs[Double]("pair_completeness") >= 0.9)
    assert(row.getAs[Double]("reduction_ratio") >= 0.5)
  }

  test("er2 clusters match a driver-side union-find over the er1 pairs") {
    val catalog = Tables.part(spark, sf)
      .groupBy("p_name").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_parts"),
        org.apache.spark.sql.functions.min("p_partkey").as("canon"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_parts"), r.getAs[Long]("canon")))
    val canonOf = catalog.map(c => c._1 -> c._3).toMap
    val parent = scala.collection.mutable.Map(canonOf.values.map(v => v -> v).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      (na, _, _) <- catalog; (nb, _, _) <- catalog
      if na < nb && na.split(" ").last == nb.split(" ").last
      if editDistance(na, nb) <= EntityResolution.MaxEditDistance
    } {
      val (ra, rb) = (find(canonOf(na)), find(canonOf(nb)))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    // path-compress to true minima: find() roots are component minima
    // because unions always point the larger root at the smaller
    val wantLabel = canonOf.map { case (n, c) => n -> find(c) }
    val wantSize = wantLabel.values.groupBy(identity).view.mapValues(_.size).toMap
    val got = EntityResolution.er2EntityClusters(spark, sf).collect()
    assert(got.length == catalog.length)
    got.foreach { r =>
      val name = r.getAs[String]("p_name")
      assert(r.getAs[Long]("cluster_key") == wantLabel(name), s"label of $name")
      assert(r.getAs[Long]("cluster_size") == wantSize(wantLabel(name)),
        s"size of $name's cluster")
    }
    assert(got.exists(_.getAs[Long]("cluster_size") > 1),
      "fixture should contain a non-trivial cluster")
  }

  test("er1 emitted pairs always share a block and clear the length prune") {
    EntityResolution.er1FuzzyMatch(spark, sf).collect().foreach { r =>
      val (a, b) = (r.getAs[String]("name_a"), r.getAs[String]("name_b"))
      assert(a.split(" ").last == b.split(" ").last, s"cross-block pair $a / $b")
      assert(math.abs(a.length - b.length) <= EntityResolution.MaxEditDistance)
    }
  }

  test("er4 core: incremental ER equals rebuild — bridge merge, re-canonicalization, new singleton") {
    import spark.implicits._
    def parts(rows: Seq[(Long, String)]) = rows.toDF("p_partkey", "p_name")
    // base (keys % 3 != 0): two separate 'car' clusters (lev 3 apart)
    // and a truck singleton
    val base = Seq(1L -> "aaaaa car", 2L -> "aaaab car",
      4L -> "bbbaa car", 5L -> "bbbab car", 7L -> "zzz truck")
    // batch (keys % 3 == 0): a BRIDGE name within lev 2 of both car
    // clusters (add-only edges can merge components), a smaller key
    // for the existing truck name (cluster re-canonicalizes to 3),
    // and a brand-new singleton
    val batch = Seq(9L -> "bbaaa car", 3L -> "zzz truck", 6L -> "qqq bike")
    val root = tempDir("er_incr")
    EntityResolution.incrErIndex.publishBase(spark, root,
      EntityResolution.buildErOutputs(spark, parts(base)))
    EntityResolution.incrErIndex.publishIncrement(spark, root, parts(batch))
    def sets(outs: Seq[(String, org.apache.spark.sql.DataFrame)]) =
      outs.map { case (n, d) => n -> d.collect().map(_.mkString("|")).toSet }.toMap
    val want = sets(EntityResolution.buildErOutputs(spark, parts(base ++ batch)))
    for (name <- Seq("names", "edges", "clusters")) {
      val got = graft.sources.AtomicPublish.readOutput(spark, root, name)
        .collect().map(_.mkString("|")).toSet
      assert(got == want(name), s"$name diverged:\n got $got\n want ${want(name)}")
    }
    val clusters = graft.sources.AtomicPublish.readOutput(spark, root, "clusters")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the bridge merged both car clusters under the global min canon
    Seq("aaaaa car", "aaaab car", "bbbaa car", "bbbab car", "bbaaa car")
      .foreach(n => assert(clusters(n) == 1L, s"$n not merged: ${clusters(n)}"))
    assert(clusters("zzz truck") == 3L, "truck cluster must re-canonicalize to the batch's smaller key")
    assert(clusters("qqq bike") == 6L)
  }

  test("er4 on the real corpus: incremental snapshot equals a scratch recompute") {
    val got = EntityResolution.er4IncrementalEntities(spark, sf).collect()
      .map(_.mkString("|")).toSet
    val outs = EntityResolution.buildErOutputs(spark, Tables.part(spark, sf)).toMap
    val want = outs("clusters").join(outs("names"), Seq("p_name"))
      .groupBy(col("cluster_key"))
      .agg(count(lit(1)).as("n_names"), sum(col("n_parts")).as("n_parts"),
        sum(col("n_parts_batch")).as("n_parts_batch"))
      .collect().map(_.mkString("|")).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming ER maintenance: three chained micro-batches equal a rebuild, replay refused") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def parts(rows: Seq[(Long, String)]) = rows.toDF("p_partkey", "p_name")
    val base = Seq(1L -> "aaaaa car", 2L -> "aaaab car",
      4L -> "bbbaa car", 5L -> "bbbab car", 7L -> "zzz truck")
    // three arrivals whose state CHAINS across versions: the bridge
    // merge + re-canonicalization, a new singleton, then a near-dup of
    // THAT singleton (an edge between two streamed batches)
    val b1 = Seq(9L -> "bbaaa car", 3L -> "zzz truck")
    val b2 = Seq(6L -> "qqq bike")
    val b3 = Seq(12L -> "qqr bike")
    val root = tempDir("er_stream")
    val ckpt = tempDir("er_sckpt")
    EntityResolution.incrErIndex.publishBase(spark, root,
      EntityResolution.buildErOutputs(spark, parts(base)))
    val input = MemoryStream[(Long, String)]
    val q = EntityResolution.incrErIndex.streamingMaintenance(
      input.toDF().toDF("p_partkey", "p_name"), root, ckpt)
    try {
      for (b <- Seq(b1, b2, b3)) { input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.sources.AtomicPublish.currentVersion(spark, root)
      .contains("v4"))
    val want = EntityResolution.buildErOutputs(spark, parts(base ++ b1 ++ b2 ++ b3))
      .toMap
    for (name <- Seq("names", "edges", "clusters")) {
      val got = graft.sources.AtomicPublish.readOutput(spark, root, name)
        .collect().map(_.mkString("|")).toSet
      assert(got == want(name).collect().map(_.mkString("|")).toSet,
        s"$name diverged after chained streaming increments")
    }
    // the cross-batch near-dup pair clustered together
    val clusters = graft.sources.AtomicPublish.readOutput(spark, root, "clusters")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clusters("qqq bike") == clusters("qqr bike"))
    // exactly-once: replayed id and empty trigger are no-ops
    val before = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(!EntityResolution.incrErIndex.applyBatch(spark, root, parts(b2), 1L))
    assert(!EntityResolution.incrErIndex.applyBatch(spark, root, parts(Seq.empty), 99L))
    assert(graft.sources.AtomicPublish.currentVersion(spark, root) == before)
  }
}
