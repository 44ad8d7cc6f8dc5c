package graft

import graft.operators.Similarity

/** ANN recall contracts (rows 29-31): the approximate paths must
  * recover a healthy fraction of the exact top-k neighbors. */
class SimilaritySpec extends GraftSpec {

  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private lazy val exact = topkSets(Similarity.n1CosineTopk(spark, sf))

  test("n1 returns exactly top-k rows per query with ranks 1..k") {
    val byQ = Similarity.n1CosineTopk(spark, sf)
      .collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == Similarity.NumQueries)
    byQ.values.foreach { rs =>
      assert(rs.length == Similarity.TopK)
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to Similarity.TopK))
    }
  }

  test("n15 IVF+PQ recall >= 0.6 vs exact, and ranks are exact-cosine ordered") {
    val exact = Similarity.n1CosineTopk(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val got = Similarity.n15IvfPq(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(got.keySet == exact.keySet)
    val recalls = exact.map { case (q, want) =>
      val have = got(q).map(_.getAs[Long]("neighbor_id")).toSet
      (want intersect have).size.toDouble / want.size
    }
    val macroRecall = recalls.sum / recalls.size
    assert(macroRecall >= 0.6, s"IVF+PQ macro recall $macroRecall < 0.6")
    // within each query, output is ordered by the EXACT rerank cosine
    got.values.foreach { rs =>
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      val cosines = ordered.map(_.getAs[Double]("cosine"))
      assert(cosines.sliding(2).forall { case Array(a, b) => a >= b })
    }
  }

  test("n14 range search equals a brute-force radius filter and agrees with n1") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val want = (for {
      (q, qv) <- vecs.toSeq if q < Similarity.NumQueries
      (n, nv) <- vecs.toSeq if n != q
      c = cos(qv, nv) if c >= Similarity.RangeTau
    } yield (q, n)).toSet
    val got = Similarity.n14RangeSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(got.toSet == want, s"got ${got.length}, want ${want.size}")
    got.foreach { case (q, n) => assert(cos(vecs(q), vecs(n)) >= Similarity.RangeTau) }
    // n1 consistency: every top-k hit at/above the radius is in range
    Similarity.n1CosineTopk(spark, sf).collect()
      .filter(_.getAs[Double]("cosine") >= Similarity.RangeTau)
      .foreach { r =>
        assert(want((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
      }
  }

  // bounds match SURVEY §6's claims; measured with the default knobs:
  // n2 = 0.96/1.00 at sf0.001/sf0.01 (6 tables × 5 multiprobes),
  // n3 = 0.82 / 0.78
  test("n2 LSH multiprobe recall >= 0.9 vs exact") {
    val approx = topkSets(Similarity.n2AnnLsh(spark, sf))
    val recall = exact.map { case (q, t) =>
      approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / exact.size
    assert(recall >= 0.9, s"n2 recall=$recall")
  }

  test("n8 quantized top-k recall >= 0.9 vs exact") {
    val approx = topkSets(Similarity.n8QuantizedTopk(spark, sf))
    val recall = exact.map { case (q, t) =>
      approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / exact.size
    assert(recall >= 0.9, s"n8 recall=$recall")
  }

  test("n12 PQ-ADC recall >= 0.8 vs exact") {
    val approx = topkSets(Similarity.n12PqTopk(spark, sf))
    val recall = exact.map { case (q, t) =>
      (t intersect approx.getOrElse(q, Set.empty)).size.toDouble / t.size
    }.sum / exact.size
    assert(recall >= 0.8, s"n12 recall=$recall")
  }

  test("n12 codes are in range and match a driver-side argmin recompute") {
    val e = Similarity.corpus(spark, sf)
    val books = Similarity.pqCodebooks(e)
    val sub = books.head.head.length
    val vecs = e.select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val rows = Similarity.pqCodes(spark, sf).collect()
    assert(rows.length == vecs.size)
    rows.foreach { r =>
      val v = vecs(r.getAs[Long]("vec_id"))
      for (m <- 0 until Similarity.PqM) {
        val code = r.getAs[Int](s"code$m")
        assert(code >= 0 && code < Similarity.PqK)
        val x = v.slice(m * sub, (m + 1) * sub)
        val want = books(m).zipWithIndex.minBy { case (c, k) =>
          (x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, k)
        }._2
        assert(code == want,
          s"vec ${r.getAs[Long]("vec_id")} sub $m: code $code vs argmin $want")
      }
    }
  }

  test("n3 IVF recall >= 0.75 vs exact") {
    val approx = topkSets(Similarity.n3IvfAnn(spark, sf))
    val recall = exact.map { case (q, t) =>
      approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / exact.size
    assert(recall >= 0.75, s"n3 recall=$recall")
  }

  test("n6 semantic dedup matches a brute-force within-cell recompute") {
    val out = Similarity.n6SemanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getLong(3),
        r.getDouble(4))).toMap
    val vecs = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(out.keySet == vecs.keySet) // one verdict per vector
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val cells = out.toSeq.groupBy(_._2._1)
    cells.foreach { case (_, members) =>
      val ids = members.map(_._1).sorted
      ids.foreach { b =>
        val hits = ids.filter(_ < b)
          .map(a => (a, cos(vecs(a), vecs(b)))).filter(_._2 >= Similarity.SemDedupTau)
        val (_, keep, dupOf, maxCos) = out(b)
        if (hits.isEmpty) assert(keep && dupOf == -1L)
        else {
          assert(!keep)
          assert(dupOf == hits.map(_._1).min)
          assert(math.abs(maxCos - hits.map(_._2).max) < 1e-4)
        }
      }
    }
    // invariant: no two KEPT vectors in the same cell are near-dups
    cells.foreach { case (_, members) =>
      val kept = members.filter(_._2._2).map(_._1)
      for (a <- kept; b <- kept if a < b)
        assert(cos(vecs(a), vecs(b)) < Similarity.SemDedupTau)
    }
  }

  // --- n9 PCA contracts ---

  private lazy val pca = {
    val e = graft.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")
          .cast("array<double>").as("v"))
    Similarity.pcaModel(e)
  }

  test("n20 filtered ANN: label invariant, full result sets, recall vs exact filtered") {
    val rows = Similarity.n20FilteredAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val byId = emb.map(e => e._1 -> e).toMap
    // every neighbor carries the query's own label — the filter is
    // pushed into candidate generation, never applied after top-k
    rows.foreach { case (q, l, nb, _) =>
      assert(byId(q)._3 == l, s"query $q label mismatch")
      assert(byId(nb)._3 == l, s"neighbor $nb of query $q breaks the filter")
    }
    // full result sets: the post-filter bug would return < TopK rows
    val perQ = rows.groupBy(_._1)
    assert(perQ.size == Similarity.NumQueries)
    perQ.foreach { case (q, rs) =>
      assert(rs.length == Similarity.TopK, s"query $q returned ${rs.length}")
      assert(rs.map(_._4).sorted.toSeq == (1 to Similarity.TopK))
    }
    // recall vs the exact same-label brute force
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val recall = (0L until Similarity.NumQueries).map { q =>
      val (_, qv, ql) = byId(q)
      val ex = emb.filter(e => e._3 == ql && e._1 != q)
        .map(e => (e._1, cos(qv, e._2)))
        .sortBy { case (id, c) => (-c, id) }
        .take(Similarity.TopK).map(_._1).toSet
      val got = perQ(q).map(_._3).toSet
      (ex intersect got).size.toDouble / ex.size
    }.sum / Similarity.NumQueries
    assert(recall >= 0.8, s"n20 filtered recall=$recall")
  }

  test("n21 RRF fusion equals a driver recompute and genuinely mixes both rankers") {
    val rows = Similarity.n21RrfFusion(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Int]), r.getDouble(4)))
    // driver recompute: both pools + fusion from the component ops
    val bm = graft.operators.TextIndex.ix5Bm25Search(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("bm25")))
      .filter(_._1 != 0L)
    val lexPool = bm.sortBy { case (id, s) => (-s, id) }
      .take(Similarity.FusePool).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val qv = emb(0L)
    val semPool = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(qv, v)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(Similarity.FusePool).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    def rrf(id: Long): Double =
      lexPool.get(id).map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0) +
        semPool.get(id).map(r => 1.0 / (Similarity.RrfK + r)).getOrElse(0.0)
    val expTop = (lexPool.keySet ++ semPool.keySet).toSeq
      .sortBy(id => (-rrf(id), id)).take(Similarity.FuseTopK)
    assert(rows.map(_._2).toSeq == expTop, "fused order recompute")
    for ((rank, id, rl, rs, score) <- rows) {
      assert(rl == lexPool.get(id) && rs == semPool.get(id))
      assert(math.abs(score - BigDecimal(rrf(id))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      assert(rl.isDefined || rs.isDefined, "every result came from a pool")
    }
    assert(rows.map(_._1).toSeq == (1 to Similarity.FuseTopK))
    // fusion genuinely mixes: the winner sits in BOTH pools and beats
    // each ranker's own #1 (the RRF consensus property on this data),
    // and each ranker contributes at least one exclusive result
    val top = rows.head
    assert(top._3.isDefined && top._4.isDefined, "top hit is a consensus doc")
    assert(rows.exists(r => r._3.isDefined && r._4.isEmpty), "lex-only result")
    assert(rows.exists(r => r._3.isEmpty && r._4.isDefined), "sem-only result")
  }

  test("n9 PCA components are orthonormal with descending positive eigenvalues") {
    val (_, _, comps) = pca
    assert(comps.size == Similarity.PcaK)
    val ls = comps.map(_._1)
    assert(ls.forall(_ > 0), s"eigenvalues $ls")
    assert(ls == ls.sortBy(-_), s"not descending: $ls")
    for (i <- comps.indices; j <- i until comps.size) {
      val d = comps(i)._2.zip(comps(j)._2).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-8, s"p${i}.p${j} = $d")
    }
  }

  test("n9 projected variance per component equals its eigenvalue") {
    val (n, _, comps) = pca
    val rows = Similarity.n9PcaProject(spark, sf).collect()
    assert(rows.length == n)
    comps.zipWithIndex.foreach { case ((lambda, _), j) =>
      val xs = rows.map(_.getDouble(j + 1))
      val mean = xs.sum / n
      assert(math.abs(mean) < 1e-4, s"pc$j mean $mean") // centered
      val variance = xs.map(x => (x - mean) * (x - mean)).sum / n
      assert(math.abs(variance - lambda) < 1e-4 * math.max(1.0, lambda),
        s"pc$j variance $variance vs eigenvalue $lambda")
    }
  }

  test("n9 top eigenvalue dominates every coordinate-axis variance") {
    val (n, mu, comps) = pca
    val vecs = graft.Tables.embeddings(spark, sf).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val axisVar = mu.indices.map { j =>
      vecs.map(v => (v(j) - mu(j)) * (v(j) - mu(j))).sum / n
    }
    // PCA optimality: the leading component captures at least as much
    // variance as the best single coordinate
    assert(comps.head._1 >= axisVar.max - 1e-9,
      s"lambda1 ${comps.head._1} < max axis variance ${axisVar.max}")
  }

  test("n10 kNN vote matches a driver-side brute-force recompute") {
    val got = Similarity.n10KnnClassify(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    val all = graft.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val queries = all.filter(_._1 < Similarity.NumQueries)
    assert(got.keySet == queries.map(_._1).toSet)
    queries.foreach { case (qid, qv, qlabel) =>
      val neigh = all.filter(_._1 != qid)
        .map { case (id, v, l) => (cos(qv, v), id, l) }
        .sortBy { case (c, id, _) => (-c, id) }
        .take(Similarity.KnnK)
      val (predLabel, nVotes) = neigh.groupBy(_._3).view
        .mapValues(_.length).toSeq
        .minBy { case (l, n) => (-n, l) }
      val (trueL, pred, votes) = got(qid)
      assert(trueL == qlabel && pred == predLabel && votes == nVotes.toLong,
        s"query $qid: got ($trueL,$pred,$votes) expected ($qlabel,$predLabel,$nVotes)")
    }
  }

  test("n13 recall equals a recompute from the n1/n2 frames it joins") {
    def keyset(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = keyset(Similarity.n1CosineTopk(spark, sf))
    val approx = keyset(Similarity.n2AnnLsh(spark, sf))
    val got = Similarity.n13RecallEval(spark, sf).collect()
    assert(got.map(_.getAs[Long]("query_id")).toSet == exact.keySet)
    got.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val hits = exact(q).intersect(approx.getOrElse(q, Set.empty)).size
      assert(r.getAs[Long]("n_exact") == exact(q).size.toLong)
      assert(r.getAs[Long]("n_hit") == hits.toLong, s"query $q hits")
      val want = BigDecimal(hits.toDouble / exact(q).size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("recall") == want)
      assert(r.getAs[Double]("recall") >= 0.0 && r.getAs[Double]("recall") <= 1.0)
    }
  }

  test("n4 cell audit: population conserved, shares sum to 1, argmax margin never negative") {
    val rows = graft.operators.Similarity.n4CellAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == nVecs)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    rows.foreach { r =>
      // assignment IS the cosine argmax, so own ≥ best-other for every
      // member — the per-cell min margin cannot be negative
      assert(r.getAs[Double]("min_margin") >= -1e-9,
        s"cell ${r.getLong(0)} has a misassigned vector")
      assert(r.getAs[Double]("mean_own_cos") >= r.getAs[Double]("mean_other_cos") - 1e-9)
      assert(r.getAs[Double]("mean_own_cos") <= 1.0 + 1e-9)
    }
  }

  test("n18 truncation eval matches a driver-side dual-ranking recompute") {
    import graft.operators.Similarity.{NumQueries, TopK, TruncDims}
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def top(q: Long, d: Int): Set[Long] =
      vecs.keys.filter(_ != q).toSeq
        .map(n => (n, cos(vecs(q), vecs(n), d)))
        .sortBy { case (n, c) => (-c, n) }.take(TopK).map(_._1).toSet
    val got = graft.operators.Similarity.n18TruncationEval(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == (0L until NumQueries).toSet)
    for (q <- 0L until NumQueries) {
      val hits = top(q, vecs(q).length).intersect(top(q, TruncDims)).size
      val r = got(q)
      assert(r.getAs[Long]("n_hit") == hits.toLong, s"query $q")
      assert(r.getAs[Double]("recall") == hits.toDouble / TopK)
    }
  }

  test("n19 binary recall matches a driver-side sign-pack + hamming recompute") {
    import graft.operators.Similarity.{BinDims, NumQueries, TopK}
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def pack(v: Array[Double]): Long =
      (0 until BinDims).foldLeft(0L)((acc, i) =>
        if (v(i) >= 0) acc | (1L << i) else acc)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def exactTop(q: Long): Set[Long] =
      vecs.keys.filter(_ != q).toSeq.map(n => (n, cos(vecs(q), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(TopK).map(_._1).toSet
    def binTop(q: Long): Set[Long] = {
      val qs = pack(vecs(q))
      vecs.keys.filter(_ != q).toSeq
        .map(n => (n, BinDims - java.lang.Long.bitCount(qs ^ pack(vecs(n)))))
        .sortBy { case (n, s) => (-s, n) }.take(TopK).map(_._1).toSet
    }
    val got = graft.operators.Similarity.n19BinaryRecall(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == (0L until NumQueries).toSet)
    for (q <- 0L until NumQueries) {
      val hits = exactTop(q).intersect(binTop(q)).size
      assert(got(q).getAs[Long]("n_hit") == hits.toLong, s"query $q")
      assert(got(q).getAs[Double]("recall") == hits.toDouble / TopK)
    }
  }

  test("n11's oracle interpolates the host-computed (1-λ) double, never SQL decimal") {
    // DuckDB types `1 - 0.7` as DECIMAL(12,1) whose double cast is
    // 0.29999999999999998890 — 1 ulp BELOW the kernel's IEEE
    // 1 - 0.7 = 0.30000000000000004441; on near-tie data that flips
    // the greedy argmax (the g2 teleport-constant lesson, applied
    // to the MMR plane)
    val printed = (1 - graft.operators.Similarity.MmrLambda).toString
    assert(printed == "0.30000000000000004",
      s"host 1-0.7 printed unexpectedly: $printed")
    val sql = graft.operators.Similarity.oracles("n11_mmr_rerank")
    assert(sql.contains(printed),
      "n11 oracle must embed the host-computed redundancy weight")
    assert(!sql.contains("(1 - 0.7)"),
      "n11 oracle must not re-derive (1-λ) in SQL decimal")
  }

  test("n4's quantized-cosine folds sum through decimal(38,0) on both engines") {
    // a plain long sum of 1e9-scale quanta wraps past ~9.2e9
    // rows/cell in non-ANSI Spark while the DuckDB oracle's SUM
    // widens to HUGEINT — the silent-vs-loud class obt2 closed
    val plan = graft.operators.Similarity.n4CellAudit(spark, sf)
      .queryExecution.analyzed.toString
    assert(plan.contains("cast(sq_own") && plan.contains("decimal(38,0)"),
      "n4 must lift the quantized sums to decimal before folding")
    val sql = graft.operators.Similarity.oracles("n4_cell_audit")
    assert(sql.contains("SUM(CAST(sq_own AS DECIMAL(38,0)))") &&
      sql.contains("SUM(CAST(sq_oth AS DECIMAL(38,0)))"),
      "n4 oracle must mirror the decimal lift")
  }
}
