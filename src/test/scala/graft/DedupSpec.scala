package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dedup-family checks (rows 24-28). d3/d4 have no SQL oracle — the
  * assertions here ARE their correctness contract: LSH candidates
  * must cover the high-similarity pairs found exactly, signatures
  * must be deterministic.
  */
class DedupSpec extends GraftSpec {

  test("d1 keeps one representative per distinct content") {
    val docs = Tables.documents(spark, sf).count()
    val d1 = Dedup.d1DedupExact(spark, sf)
    assert(d1.agg(sum("n_copies")).collect().head.getLong(0) == docs)
    assert(d1.select("content_hash").distinct().count() == d1.count())
  }

  test("d8: batch survivors are new to history, unique, and min-id per content") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), md5(col("text")).as("h"))
    val hist = docs.filter(col("doc_id") % 7 =!= 0).select("h").distinct()
      .collect().map(_.getString(0)).toSet
    val batch = docs.filter(col("doc_id") % 7 === 0).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val out = Dedup.d8IncrementalDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(out.nonEmpty)
    // every survivor is genuinely new and is its hash's min batch id
    val minPerHash = batch.groupBy(_._2).map { case (h, xs) => h -> xs.map(_._1).min }
    out.foreach { case (id, h) =>
      assert(!hist.contains(h), s"survivor $id duplicates history")
      assert(minPerHash(h) == id, s"survivor $id is not min doc_id for its content")
    }
    assert(out.map(_._2).distinct.length == out.length, "survivor hashes must be unique")
    // completeness: every new batch hash has exactly one survivor
    assert(out.length == minPerHash.keySet.diff(hist).size)
  }

  test("d9: planted repeated passages are masked everywhere except their first occurrence") {
    import spark.implicits._
    // 60 words = 3 windows of PassageWords(=20). The boilerplate
    // passage occupies doc 1's window 0, doc 3's window 2, and doc
    // 4's windows 0 AND 1 — the global first (doc 1, idx 0) is kept,
    // the other three occurrences masked. docs 0/2 share nothing.
    val bp = (1 to Dedup.PassageWords).map(i => s"bp$i").mkString(" ")
    def junk(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      0L -> junk("a", 60),
      1L -> s"$bp ${junk("b", 40)}",
      2L -> junk("c", 60),
      3L -> s"${junk("d", 40)} $bp",
      4L -> s"$bp $bp ${junk("e", 20)}").toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(out(0L) == ((3L, 0L, 0L, 0.0)))
    assert(out(2L) == ((3L, 0L, 0L, 0.0)))
    // doc 1 owns the first occurrence: duplicated but NOT masked
    assert(out(1L) == ((3L, 1L, 0L, 0.0)))
    // doc 3's copy is masked: 20 of its 60 words
    assert(out(3L) == ((3L, 1L, 1L, 0.333333)))
    // doc 4 repeats it twice, both masked (keep-one is global)
    assert(out(4L) == ((3L, 2L, 2L, 0.666667)))
  }

  test("d9 on a passage-unique corpus masks nothing") {
    import spark.implicits._
    val docs = (0L to 9L).map(d =>
      d -> (1 to 50).map(i => s"w${d}_$i").mkString(" ")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs).collect()
    assert(out.length == 10)
    assert(out.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
  }

  test("d3 minhash-LSH recovers all exact-Jaccard >= 0.8 pairs") {
    val exact = Dedup.d2NgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.d3MinhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed true near-dups: $missed")
  }

  test("d3 estimated jaccard within 0.35 of exact on shared pairs") {
    val exact = Dedup.d2NgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = Dedup.d3MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = exact.keySet intersect est.keySet
    assert(shared.nonEmpty)
    shared.foreach { k =>
      assert(math.abs(exact(k) - est(k)) <= 0.35,
        s"pair $k exact=${exact(k)} est=${est(k)}")
    }
  }

  test("shingle kernel dedup equals the explode+corpus-DISTINCT form") {
    // the retired formulation as semantic reference: explode every
    // shingle occurrence, then a corpus-wide DISTINCT on (doc, shingle)
    val reference = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.WordNgramsExpr.wordNgrams(col("text"), 3))
        .as("sh"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val kernel = Dedup.shingles(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kernel == reference, "in-row dedup diverged from corpus DISTINCT")
  }

  test("d3 kernel signatures are bit-identical to the explode+distinct+min aggregate form") {
    import spark.implicits._
    // the retired formulation as semantic reference: distinct shingle
    // rows, 32 min(xxhash64(i, sh)) aggregates
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.WordNgramsExpr.wordNgrams(col("text"), 3))
        .as("sh"))
      .distinct()
    val mins = (0 until Dedup.MinhashK).map(i =>
      min(xxhash64(lit(i), col("sh"))).as(s"mh$i"))
    val reference = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to Dedup.MinhashK).map(r.getLong).toVector).toMap
    val kernel = Tables.documents(spark, sf)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.MinHash32.minhash32(col("text")).as("mh"))
      .filter(size(col("mh")) === Dedup.MinhashK)
      .as[(Long, Vector[Long])].collect().toMap
    assert(kernel == reference, "kernel minhash diverged from the aggregate form")
  }

  test("d4 kernel signatures are bit-identical to the explode+vote aggregate form") {
    import spark.implicits._
    // the retired formulation survives here as the semantic reference:
    // explode to token rows, 64 conditional vote sums, sign assembly
    val votes = (0 until 64).map(i =>
      sum(when(expr(s"((h >> $i) & 1) = 1"), 1).otherwise(-1)).as(s"b$i"))
    val assemble = (0 until 64)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val reference = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.WordNgramsExpr.wordNgrams(col("text"), 1))
        .as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), assemble.as("simhash"))
      .as[(Long, Long)].collect().toMap
    val kernel = Tables.documents(spark, sf)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.SimHash64.simhash64(col("text")))
      .as[(Long, Long)].collect().toMap
    assert(kernel == reference, "kernel signature diverged from the vote aggregate")
  }

  test("d4 simhash signature is deterministic and near-dups have small hamming") {
    val a = Dedup.d4Simhash(spark, sf).collect()
    val b = Dedup.d4Simhash(spark, sf).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    a.foreach(r => assert(r.getAs[Int]("hamming") <= 12))
  }

  test("d4 finds the exact duplicate pairs (hamming 0)") {
    // exact content dups (d1 n_copies > 1) must appear with hamming 0
    val dupGroups = Dedup.d1DedupExact(spark, sf)
      .filter(col("n_copies") > 1).count()
    if (dupGroups > 0) {
      val zero = Dedup.d4Simhash(spark, sf)
        .filter(col("hamming") === 0).count()
      assert(zero > 0)
    }
  }

  test("d6 clusters: both ends of every near-dup pair share a cluster, id = min member") {
    val pairs = Dedup.d2NgramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cluster = Dedup.d6DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    cluster.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min, s"cluster $cid is not its min member")
    }
  }

  test("d10 keeps the longest member per cluster, ties to the smallest id") {
    val cluster = Dedup.d6DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lens = Tables.documents(spark, sf)
      .selectExpr("doc_id", "length(text) AS len").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = cluster.groupBy(_._2).map { case (cid, ms) =>
      val members = ms.keys.toSeq
      val maxLen = members.map(lens).max
      cid -> (members.filter(lens(_) == maxLen).min, maxLen, members.size)
    }
    val got = Dedup.d10CanonicalPick(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("keep_id"), r.getAs[Int]("keep_len"),
          r.getAs[Long]("n_members").toInt))).toMap
    assert(got == want, s"${got.size} clusters vs ${want.size}")
    assert(got.values.exists(_._3 > 1), "fixture should have real clusters")
  }

  test("d6 core: a diameter-30 chain converges in O(log diameter) rounds, bounded plan depth") {
    import spark.implicits._
    // path graph 1-2-...-30: plain min-label propagation needs ~29
    // rounds; large-star/small-star halves depth per round. Force the
    // DISTRIBUTED loop (the small fixture would otherwise take the
    // union-find fast path) — this spec is about the loop's round and
    // lineage bounds at cluster scale.
    val pairs = (1L to 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 30, s"expected 30 nodes, got ${labels.size}")
    assert(labels.values.forall(_ == 1L),
      s"chain should collapse to cluster 1: $labels")
    assert(Dedup.ccRounds <= 8,
      s"star alternation should need ~log2(30) rounds, took ${Dedup.ccRounds}")
    // without the cadence checkpoint the per-round plan grows with
    // round count; with it, depth stays O(cadence) — the property that
    // keeps recovery lineage bounded on deep graphs at cluster scale
    assert(Dedup.ccMaxPlanDepth <= 80,
      s"plan depth grew with rounds, lineage unbounded: ${Dedup.ccMaxPlanDepth}")
  }

  test("d6 core: the union-find fast path labels exactly like the distributed star loop") {
    import spark.implicits._
    // chains, a star, singleton-pair, and cross-links — awkward enough
    // to catch any divergence in min-label semantics
    val es = ((1L to 29L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L), (102L, 103L),
        (200L, 300L), (300L, 250L), (15L, 103L))).toDF("doc_a", "doc_b")
    def run(threshold: Long): Map[Long, Long] =
      Dedup.connectedComponents(es, threshold).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = run(1000000)
    assert(Dedup.ccRounds == 0, "fixture should have taken the fast path")
    val loop = run(0)
    assert(Dedup.ccRounds > 0, "threshold 0 should force the star loop")
    assert(fast == loop)
  }

  test("DF cap keeps candidate counts linear when a hot shingle is injected") {
    import spark.implicits._
    val n = 3 * Dedup.ShingleDfCap // hot shingle df = 3x over the cap
    // every doc carries hot shingle 0 plus two private shingles — the
    // hot bucket alone would emit n(n-1)/2 candidate pairs un-capped
    val sh = (0 until n).flatMap { d =>
      Seq((d.toLong, 0L), (d.toLong, 100L + 2 * d), (d.toLong, 101L + 2 * d))
    }.toDF("doc_id", "sh")
    val capped = Dedup.capByDf(sh)
    assert(capped.filter(col("sh") === 0L).count() == 0, "hot shingle must be dropped")
    assert(capped.count() == 2L * n, "private shingles must survive")
    val candidates = capped.as("a")
      .join(capped.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .count()
    assert(candidates == 0,
      s"hot-shingle bucket leaked $candidates quadratic candidate pairs")
    // below-cap shingles are untouched
    val small = Seq((1L, 7L), (2L, 7L), (3L, 8L)).toDF("doc_id", "sh")
    assert(Dedup.capByDf(small).count() == 3)
  }

  test("d5 cosine near-dup pairs are symmetric-free and above threshold") {
    val rows = Dedup.d5EmbeddingNeardup(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("d5 triangle-inequality bound prunes separated cell pairs, keeps near ones") {
    // two tight clusters on orthogonal axes: θ(c0,c1) = π/2 ≈ 1.571
    val c0 = (0L, Array(1.0, 0.0, 0.0), 1.0)
    val c1 = (1L, Array(0.0, 1.0, 0.0), 1.0)
    val radii = Map(0L -> 0.1, 1L -> 0.1)
    // τ=0.9 → θ_τ ≈ 0.451: 0.1+0.1+0.451 < π/2 → cross pair provably empty
    val tight = Dedup.cellPairCandidates(Seq(c0, c1), radii, math.acos(0.9)).toSet
    assert(tight == Set((0L, 0L), (1L, 1L)), s"expected cross-cell prune, got $tight")
    // τ=0 → θ_τ = π/2: 0.1+0.1+π/2 > π/2, bound can't exclude the cross pair
    val loose = Dedup.cellPairCandidates(Seq(c0, c1), radii, math.acos(0.0)).toSet
    assert(loose == Set((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L)))
  }

  test("d5 cell-pruned plan equals the all-pairs brute force on a clustered corpus") {
    // 120 vectors in two tight clusters (deterministic noise); the
    // retired corpus² BNLJ form survives here as the recall reference
    val vecs = (0 until 120).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0.0, 0.0, 0.0) else Array(0.0, 1.0, 0.0, 0.0)
      val noise = Array.tabulate(4)(j => (((i * 31 + j * 7) % 13) - 6) * 0.01)
      (i.toLong, base.zip(noise).map { case (b, n) => b + n })
    }
    import spark.implicits._
    val e = vecs.toSeq.toDF("vec_id", "v")
      .withColumn("nrm", graft.functions.VectorFunctions.l2normNative("v"))
    val got = Dedup.neardupPairs(spark, e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      na = math.sqrt(va.map(x => x * x).sum)
      nb = math.sqrt(vb.map(x => x * x).sum)
      cos = dot / (na * nb) if cos >= Dedup.NeardupTau
    } yield (ia, ib, BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(want.nonEmpty, "clustered fixture must contain qualifying pairs")
    assert(got.map(p => (p._1, p._2)) == want.map(p => (p._1, p._2)),
      s"pair sets differ: missing=${want.map(p => (p._1, p._2)) -- got.map(p => (p._1, p._2))} " +
        s"extra=${got.map(p => (p._1, p._2)) -- want.map(p => (p._1, p._2))}")
    // cosines agree to the rounded precision
    val gotMap = got.map(p => (p._1, p._2) -> p._3).toMap
    want.foreach { case (a, b, c) =>
      assert(math.abs(gotMap((a, b)) - c) <= 1e-6, s"cosine mismatch for ($a,$b)")
    }
  }

  test("d12 sketch calibration: MinHash error tracks the binomial bound") {
    val r = Dedup.d12SketchCalibration(spark, sf).collect().head
    assert(r.getAs[Long]("n_pairs") ==
      Dedup.d2NgramJaccard(spark, sf).count(),
      "calibration must cover every exact near-dup pair")
    val mae = r.getAs[Double]("mae")
    val se = r.getAs[Double]("mean_theoretical_se")
    assert(mae >= 0 && se > 0)
    // MAE of a binomial-SE estimator concentrates near 0.8·SE; allow
    // a generous 2× for the small pair population
    assert(mae <= 2.0 * se, s"MAE $mae vs theoretical SE $se")
    assert(math.abs(r.getAs[Double]("bias")) <= mae + 1e-9)
    assert(r.getAs[Double]("p90_abs_err") >= mae)
  }

  test("d11 histogram: planted duplicate groups land in exact size buckets") {
    import spark.implicits._
    // 4 copies of A, 2 of B, 3 distinct singletons
    val docs = (Seq.fill(4)("aaa") ++ Seq.fill(2)("bbb") ++
      Seq("c", "d", "e")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Dedup.dupHistogram(docs).collect()
      .map(r => r.getAs[Long]("group_size") ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_removable"))).toMap
    assert(got == Map(1L -> ((3L, 3L, 0L)), 2L -> ((1L, 2L, 1L)),
      4L -> ((1L, 4L, 3L))))
    // corpus invariant: doc mass is conserved and removable = docs −
    // groups, in total
    val corpus = Dedup.d11DupHistogram(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(corpus.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(corpus.map(_.getAs[Long]("n_removable")).sum ==
      nDocs - corpus.map(_.getAs[Long]("n_groups")).sum)
  }

  test("d7 containment bounds hold and it subsumes high-Jaccard d2 pairs") {
    val d7 = Dedup.d7ContainmentDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment"),
        r.getAs[Long]("contained_id")))
    assert(d7.nonEmpty)
    d7.foreach { case (a, b, c, cid) =>
      assert(a < b)
      assert(c >= Dedup.ContainmentTau && c <= 1.0 + 1e-12, s"containment $c")
      assert(cid == a || cid == b)
    }
    // containment ≥ jaccard always (min(|A|,|B|) ≤ |A∪B|), so every d2
    // pair at/above the containment threshold must appear in d7
    val d7Pairs = d7.map(t => (t._1, t._2)).toSet
    Dedup.d2NgramJaccard(spark, sf).collect()
      .filter(_.getAs[Double]("jaccard") >= Dedup.ContainmentTau)
      .foreach { r =>
        assert(d7Pairs.contains((r.getLong(0), r.getLong(1))),
          s"high-Jaccard pair (${r.getLong(0)},${r.getLong(1)}) missing from d7")
      }
  }

  test("d15: source-overlap matrix == direct pair count over the cluster table") {
    val clusters = Dedup.d6DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val srcOf = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = clusters.toSeq.groupBy(_._2)
      .map { case (_, ms) => ms.map(m => srcOf(m._1)).distinct.sorted }
      .filter(_.size >= 2)
      .flatMap(ss => for (i <- ss.indices; j <- i + 1 until ss.size)
        yield (ss(i), ss(j)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val rows = Dedup.d15SourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows == expected, "in-row pair generation == driver recompute")
    assert(rows.keys.forall { case (a, b) => a < b }, "canonical pair order")
  }

  test("d25: per-source savings == a driver recompute over the cluster table") {
    val clusters = Dedup.d6DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(Dedup.spanTokens(col("text"))).cast("long").as("n_tok"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val rows = Dedup.d25DedupSavings(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val bySrc = docs.groupBy(_._2)
    assert(rows.map(_._1).toSeq == bySrc.keys.toSeq.sorted)
    for ((src, nDocs, nDup, rawTok, dupTok, frac) <- rows) {
      val mine = bySrc(src)
      val dups = mine.filter { case (id, _, _) =>
        clusters.get(id).exists(_ != id) }
      assert(nDocs == mine.length.toLong)
      assert(nDup == dups.length.toLong, s"$src dup-doc recompute")
      assert(rawTok == mine.map(_._3).sum)
      assert(dupTok == dups.map(_._3).sum, s"$src dup-token recompute")
      assert(nDup <= nDocs && dupTok <= rawTok)
      assert(frac == BigDecimal(dupTok.toDouble / rawTok)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // conservation across the report
    assert(rows.map(_._2).sum == docs.length.toLong)
    // the corpus genuinely contains near-dup redundancy to account for
    assert(rows.map(_._3).sum > 0)
  }

  test("d16: df histogram masses reconcile with the shingle plane") {
    val rows = Dedup.d16ShingleDfHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val occ = Dedup.shingles(spark, sf)
    val nShingles = occ.select(md5(col("sh"))).distinct().count()
    val nPostings = occ.count()
    assert(rows.map(_._2).sum == nShingles, "every shingle in one df bucket")
    assert(rows.map(_._3).sum == nPostings, "postings mass conserved")
    assert(rows.forall(t => t._3 == t._1 * t._2), "n_postings = df * n_shingles")
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq, "ordered by df")
  }

  test("d17: cluster histogram masses reconcile with the published cluster table") {
    val rows = Dedup.d17ClusterHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val clusters = Dedup.d6DedupClusters(spark, sf).collect()
      .map(r => r.getLong(1))
    val sizes = clusters.groupBy(identity).map(_._2.length.toLong)
    assert(rows.map(_._2).sum == sizes.size, "every cluster in one bucket")
    assert(rows.map(_._3).sum == clusters.length, "doc mass conserved")
    assert(rows.forall { case (sz, n, docs, rem) =>
      docs == sz * n && rem == (sz - 1) * n && sz >= 2 })
  }

  test("d18: catches a planted UNALIGNED duplicated span that d9's window grain misses") {
    import spark.implicits._
    val K = Dedup.ExactSpanTokens
    // doc 1: 100 unique tokens a0..a99; doc 2: a 25-token span of doc 1
    // (a13..a37) embedded at offset 10 — NOT on the 20-token grid
    val span = (13 to 37).map(i => s"a$i")
    val doc1 = (0 until 100).map(i => s"a$i")
    val doc2 = (0 until 10).map(i => s"b$i") ++ span ++ (10 until 75).map(i => s"b$i")
    val docs = Seq((1L, doc1.mkString(" ")), (2L, doc2.mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.exactSpanMask(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d2r = got(2L)
    assert(d2r.getLong(d2r.fieldIndex("n_tokens")) == 100L)
    assert(d2r.getLong(d2r.fieldIndex("n_windows")) == 81L)
    // 25-token shared span ⇒ 25-K+1 = 6 duplicated grams, all masked
    // in doc 2 (doc 1 holds the global firsts), covering EXACTLY the
    // 25 span tokens (the gap-capped interval union: 5×1 + K)
    assert(d2r.getLong(d2r.fieldIndex("n_dup_windows")) == (25 - K + 1).toLong)
    assert(d2r.getLong(d2r.fieldIndex("n_masked_windows")) == (25 - K + 1).toLong)
    assert(d2r.getLong(d2r.fieldIndex("n_masked_tokens")) == 25L)
    assert(d2r.getDouble(d2r.fieldIndex("masked_token_frac")) == 0.25)
    // doc 1 carries the firsts: duplicated but ZERO masked
    val d1r = got(1L)
    assert(d1r.getLong(d1r.fieldIndex("n_dup_windows")) == (25 - K + 1).toLong)
    assert(d1r.getLong(d1r.fieldIndex("n_masked_tokens")) == 0L)
    // and d9's ALIGNED stride-20 grain sees nothing: no aligned
    // window of doc 2 equals any aligned window of doc 1
    val d9 = Dedup.substringDedup(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(r.fieldIndex("n_masked"))).toMap
    assert(d9.values.forall(_ == 0L),
      "the unaligned span must be invisible at d9's window grain")
  }

  test("d18/d19: index-backed reads reconcile — published ≡ recompute, extents tile the mask") {
    // (a) the published-index read path equals the from-scratch form
    val direct = Dedup.exactSpanMask(Tables.documents(spark, sf)).collect()
      .map(_.toString).sorted
    val indexed = Dedup.d18ExactSpans(spark, sf).collect()
      .map(_.toString).sorted
    assert(indexed.sameElements(direct), "index-backed d18 != from-scratch mask")
    // (b) d19's maximal extents exactly tile d18's masked tokens:
    // per doc, Σ span_tokens == n_masked_tokens; islands are disjoint
    // with a real hole between them; every span covers ≥ K tokens
    val spans = Dedup.d19SpanExtents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(r.fieldIndex("span_tokens"))))
    assert(spans.nonEmpty, "corpus should contain duplicated spans")
    assert(spans.forall { case (_, s0, s1, t) =>
      t == s1 - s0 + 1 && t >= Dedup.ExactSpanTokens })
    spans.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2 > a._3 + 1,
            s"islands must be separated by an uncovered hole: $a then $b")
        case _ => ()
      }
    }
    val sumByDoc = spans.groupBy(_._1).map { case (d, ss) => d -> ss.map(_._4).sum }
    val maskByDoc = Dedup.d18ExactSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(r.fieldIndex("n_masked_tokens")))
      .filter(_._2 > 0).toMap
    assert(sumByDoc == maskByDoc,
      "span extents must cover exactly the d18 masked-token mass")
  }

  test("d18: random overlapping-slice corpora match an independent set-union reference") {
    import spark.implicits._
    val k = Dedup.ExactSpanTokens
    val rnd = new scala.util.Random(13)
    // docs are random slices of one shared token pool (plus unique
    // prefixes), so duplicated spans appear at ARBITRARY alignments
    // and lengths — the shapes the gap-capped interval-union formula
    // must get right (adjacent windows, overlaps, singletons)
    val pool = (0 until 60).map(i => s"w$i")
    for (trial <- 1 to 5) {
      val docs = (1L to 8L).map { id =>
        val start = rnd.nextInt(pool.length - k)
        val len = k + rnd.nextInt(pool.length - k - start)
        val prefix = (0 until rnd.nextInt(6)).map(j => s"u${trial}_${id}_$j")
        id -> (prefix ++ pool.slice(start, start + len)).mkString(" ")
      }
      // independent reference: string-keyed gram duplicates, keep-first
      // by (doc, idx) min, coverage as a LITERAL token-position SET
      // union (no gap-cap formula — cross-validates the engine's)
      val toks = docs.map { case (id, t) => id -> t.split(" ") }
        .filter(_._2.length >= k)
      val occ = toks.flatMap { case (id, ws) =>
        (0 to ws.length - k).map(i => (id, i, ws.slice(i, i + k).mkString(" ")))
      }
      val byGram = occ.groupBy(_._3)
      val dupGrams = byGram.filter(_._2.size > 1)
      val firstOf = dupGrams.map { case (g, os) =>
        g -> os.map(o => (o._1, o._2)).min }
      val want = toks.map { case (id, ws) =>
        val dups = occ.filter(o => o._1 == id && dupGrams.contains(o._3))
        val masked = dups.filter(o => firstOf(o._3) != ((o._1, o._2)))
        val covered = masked.flatMap(o => o._2 until o._2 + k).toSet
        id -> (ws.length.toLong, (ws.length - k + 1).toLong,
          dups.size.toLong, masked.size.toLong, covered.size.toLong)
      }.toMap
      val got = Dedup.exactSpanMask(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
      assert(got == want, s"trial $trial diverged:\ngot  $got\nwant $want")
    }
  }

  test("d18: d9's full-window mask is a subset of the exact-span mask on the corpus") {
    // the containment claim (r12 verdict ask #5): every token d9
    // masks via a duplicated ALIGNED full window is covered by d18's
    // arbitrary-alignment mask — d18's stride-1 occurrences are a
    // superset, and its global first can only be ≤ d9's aligned first
    assert(Dedup.ExactSpanTokens == Dedup.PassageWords,
      "containment requires the two grains to share K")
    val docs = Tables.documents(spark, sf)
    val occ = Dedup.passageOccurrencesOf(docs)
    val d9Masked = occ.join(Dedup.passageStatsOf(occ), Seq("ph"))
      .filter(col("n_occ") > 1 &&
        !(col("doc_id") === col("first.doc_id") &&
          col("pidx") === col("first.pidx")) &&
        col("plen") === Dedup.PassageWords) // full windows only: the
      // tail window is shorter than K and has no exact-span analog
      .select(col("doc_id"), col("pidx")).collect()
      .flatMap { r =>
        val d = r.getLong(0); val p = r.getInt(1)
        (p * Dedup.PassageWords until (p + 1) * Dedup.PassageWords)
          .map(t => (d, t))
      }.toSet
    val d18Covered = Dedup.exactSpanMaskedStarts(docs).collect()
      .flatMap { r =>
        val d = r.getLong(0); val t0 = r.getInt(1)
        (t0 until t0 + Dedup.ExactSpanTokens).map(t => (d, t))
      }.toSet
    assert(d9Masked.nonEmpty, "corpus should contain aligned duplicated windows")
    val escaped = d9Masked -- d18Covered
    assert(escaped.isEmpty,
      s"${escaped.size} d9-masked token positions escape d18's exact mask: " +
        escaped.take(5).mkString(", "))
  }

  test("d21: excises exactly the planted span; the kept-first doc is byte-unchanged") {
    import spark.implicits._
    // the d18 planted corpus: doc 1 holds the global firsts, doc 2
    // carries the unaligned 25-token copy at offset 10
    val span = (13 to 37).map(i => s"a$i")
    val doc1 = (0 until 100).map(i => s"a$i")
    val doc2 = (0 until 10).map(i => s"b$i") ++ span ++ (10 until 75).map(i => s"b$i")
    val docs = Seq((1L, doc1.mkString(" ")), (2L, doc2.mkString(" ")))
      .toDF("doc_id", "text")
    val extents = Dedup.spanIslands(Dedup.exactSpanMaskedStarts(docs))
    val got = Dedup.d21Scrub(docs, extents)
      .select(col("doc_id"), col("n_tokens"), col("n_spans_removed"),
        col("n_tokens_removed"), concat_ws(" ", col("kept")).as("scrubbed"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 (keep-one first): byte-identical pass-through
    val r1 = got(1L)
    assert(r1.getLong(r1.fieldIndex("n_spans_removed")) == 0L)
    assert(r1.getString(r1.fieldIndex("scrubbed")) == doc1.mkString(" "))
    // doc 2: exactly the 25 planted span tokens excised, splice clean
    val r2 = got(2L)
    assert(r2.getLong(r2.fieldIndex("n_spans_removed")) == 1L)
    assert(r2.getLong(r2.fieldIndex("n_tokens_removed")) == 25L)
    assert(r2.getString(r2.fieldIndex("scrubbed")) ==
      ((0 until 10).map(i => s"b$i") ++ (10 until 75).map(i => s"b$i"))
        .mkString(" "))
  }

  test("d21: corpus conservation — kept ≡ n_tokens − d18 mask; re-profile shows zero residual") {
    // (a) emitted token counts reconcile with d18's mask PER DOC
    val scrub = Dedup.d21SpanScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d18 = Dedup.d18ExactSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(d18.nonEmpty && scrub.size >= d18.size)
    for ((id, m) <- d18) {
      val sR = scrub(id)
      assert(sR.getLong(sR.fieldIndex("n_tokens_kept")) ==
        m.getLong(m.fieldIndex("n_tokens")) -
          m.getLong(m.fieldIndex("n_masked_tokens")),
        s"doc $id: kept != n_tokens - masked")
    }
    // short docs (< K tokens, absent from the profile) pass through
    for ((id, sR) <- scrub if !d18.contains(id))
      assert(sR.getLong(sR.fieldIndex("n_tokens_removed")) == 0L,
        s"short doc $id must be untouched")
    // (b) the scrubbed corpus re-profiled by d18 at the same K holds
    // ZERO masked tokens: every duplicated gram lost all non-first
    // occurrences, and no splice-point gram re-collides on this corpus
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val extents = Dedup.spanIslands(Dedup.exactSpanMaskedStarts(docs))
    val scrubbedDocs = Dedup.d21Scrub(docs, extents)
      .select(col("doc_id"), concat_ws(" ", col("kept")).as("text"))
    val residual = Dedup.exactSpanMask(scrubbedDocs)
      .agg(sum(col("n_masked_tokens"))).collect()(0).getLong(0)
    assert(residual == 0L,
      s"scrubbed corpus still carries $residual masked tokens")
  }

  test("d24: banding catches every J>=0.8 pair and spends a bounded candidate budget") {
    val r = Dedup.d24LshPairEval(spark, sf).collect()(0)
    val nCand = r.getAs[Long]("n_candidates")
    val nTrue = r.getAs[Long]("n_true")
    val nCaught = r.getAs[Long]("n_caught")
    val nDocs = r.getAs[Long]("n_docs")
    assert(nTrue > 0, "fixture must contain J>=0.8 near-dup pairs")
    // the d3 coverage spec's guarantee, read off d24's report: at this
    // corpus the 8x4 banding misses nothing above its design threshold
    assert(nCaught == nTrue, s"recall: $nCaught/$nTrue")
    assert(r.getAs[Double]("recall") == 1.0)
    assert(nCaught <= nCand)
    // the quadratic-work budget: candidates are a tiny fraction of all
    // pairs — the whole point of banding
    val allPairs = nDocs.toDouble * (nDocs - 1) / 2.0
    assert(nCand < 0.1 * allPairs,
      s"banding compared $nCand of ${allPairs.toLong} pairs")
    assert(r.getAs[Double]("candidate_frac") ==
      BigDecimal(nCand / allPairs).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // read-path consistency: d3 serves from the SAME committed bands
    // table d24 evaluates, so every d3 pair is a d24 candidate
    val d3Pairs = Dedup.d3MinhashLsh(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(d3Pairs.size <= nCand)
  }
}
