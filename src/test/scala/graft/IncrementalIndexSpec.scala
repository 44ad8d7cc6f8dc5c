package graft

import graft.operators.{Dedup, Incremental}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental index maintenance (SURVEY §2 d13): version N+1 of the
  * dedup-index family, derived from version N's published outputs plus
  * ONLY the batch text, must equal a from-scratch rebuild over the
  * combined corpus — on a fixture engineered to hit every non-obvious
  * consequence of a batch:
  *
  *  - the batch pushes a base-surviving shingle family over the DF
  *    cap, which (a) REMOVES a base-base near-dup edge whose overlap
  *    was hot-shingle-carried (cluster split), and (b) CREATES a
  *    base-base edge (Jaccard is not monotone under a drop: shedding
  *    one-sided shingles raises it);
  *  - a batch doc exactly duplicates a base doc (batch joins an
  *    existing cluster);
  *  - two batch docs form a brand-new cluster of brand-new shingles;
  *  - a sub-3-token batch doc contributes nothing anywhere.
  *
  * The d13 driver row then proves the same theorem on real data: its
  * oracle recomputes clusters+sizes from scratch in DuckDB over the
  * full corpus, so a hash pass IS "incremental ≡ rebuild" at sf0.01.
  */
class IncrementalIndexSpec extends GraftSpec {

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // 10-word hot block: its 8 interior trigrams' df counts every doc
  // that embeds the block verbatim
  private val H = (1 to 10).map(i => s"h$i").mkString(" ")
  private val S1 = (1 to 8).map(i => s"s$i").mkString(" ")
  private val S2 = (1 to 8).map(i => s"n$i").mkString(" ")

  // base: 96 fillers + 220/240/241 all embed H → df(H-trigrams) = 99
  // (just under the cap of 100)
  private val baseDocs: Seq[(Long, String)] =
    (1 to 96).map(i => i.toLong -> s"$H f${i}a f${i}b") ++ Seq(
      210L -> S1, 212L -> S1,                  // exact-dup cluster
      220L -> s"$H c1 c2 c3 c4",               // edge to 221 only AFTER the drop
      221L -> "c1 c2 c3 c4",
      240L -> s"$H t240", 241L -> s"$H t241")  // hot-carried edge, splits after

  // batch: two more H-embedders (df → 101 > cap → H trigrams drop),
  // an exact dup of 212, a brand-new near-dup pair, a 2-token doc
  private val batchDocs: Seq[(Long, String)] = Seq(
    330L -> s"$H t330", 331L -> s"$H t331",
    350L -> S1,
    340L -> S2, 341L -> s"$S2 u341",
    360L -> "one two")

  private def outputsAsSets(outs: Seq[(String, DataFrame)]): Map[String, Set[String]] =
    outs.map { case (name, d) =>
      name -> d.collect().map(_.mkString("|")).toSet
    }.toMap

  private lazy val (root, v1Sets, v2Sets, rebuildSets) = {
    val r = tempDir("incr_spec")
    val v1 = Incremental.buildOutputs(spark, df(baseDocs))
    val v1Collected = outputsAsSets(v1)
    Incremental.incrIndex.publishBase(spark, r, v1)
    val v2 = Incremental.incrIndex.publishIncrement(spark, r, df(batchDocs))
    assert(v2 == "v2")
    val names = v1.map(_._1)
    val v2Sets = outputsAsSets(names.map(n =>
      n -> graft.sources.AtomicPublish.readOutput(spark, r, n)))
    val rebuild = outputsAsSets(
      Incremental.buildOutputs(spark, df(baseDocs ++ batchDocs)))
    (r, v1Collected, v2Sets, rebuild)
  }

  test("incremental v2 equals a from-scratch rebuild, output for output") {
    for (name <- Seq("shingles", "df", "sizes", "edges", "clusters",
        "minhash", "simhash", "termfreq", "termdf", "stats",
        "passage_occ", "passages", "span_occ", "span_stats")) {
      val extra = v2Sets(name) -- rebuildSets(name)
      val missing = rebuildSets(name) -- v2Sets(name)
      assert(extra.isEmpty && missing.isEmpty,
        s"$name diverged: extra=${extra.take(5)} missing=${missing.take(5)}")
    }
  }

  test("the batch-driven cap drop removes the hot-carried edge and creates the uncovered one") {
    def pairs(sets: Set[String]): Set[(Long, Long)] =
      sets.map { s => val p = s.split('|'); (p(0).toLong, p(1).toLong) }
    val v1Edges = pairs(v1Sets("edges"))
    val v2Edges = pairs(v2Sets("edges"))
    // base: 240-241 held together by hot trigrams; 220-221 under 0.5
    assert(v1Edges.contains((240L, 241L)))
    assert(!v1Edges.contains((220L, 221L)))
    // after the batch pushes df(H) to 101 > cap: the first splits, the
    // second appears (220 sheds 8 one-sided shingles → J hits 0.5)
    assert(!v2Edges.contains((240L, 241L)))
    assert(v2Edges.contains((220L, 221L)))
    // batch dup joins the base cluster; batch pair forms a new cluster
    assert(v2Edges.contains((212L, 350L)) || v2Edges.contains((210L, 350L)))
    assert(v2Edges.contains((340L, 341L)))
  }

  test("cluster table reflects splits, joins, and new clusters after the increment") {
    def clusters(sets: Set[String]): Map[Long, Long] =
      sets.map { s => val p = s.split('|'); p(0).toLong -> p(1).toLong }.toMap
    val v1C = clusters(v1Sets("clusters"))
    val v2C = clusters(v2Sets("clusters"))
    assert(v1C(240L) == v1C(241L)) // together at base
    assert(!v2C.contains(240L) && !v2C.contains(241L)) // split to singletons → out of the pair graph
    assert(v2C(350L) == v2C(210L) && v2C(350L) == v2C(212L)) // batch joined
    assert(v2C(340L) == v2C(341L)) // brand-new cluster
    assert(v2C(220L) == v2C(221L)) // the created edge
    assert(!v2C.contains(360L)) // sub-3-token doc is nowhere
  }

  test("version N stays readable after the increment (time travel = ingest rollback path)") {
    val v1Clusters = graft.sources.AtomicPublish
      .readOutputAt(spark, root, "v1", "clusters")
      .collect().map(_.mkString("|")).toSet
    assert(v1Clusters == v1Sets("clusters"))
  }

  test("streaming ingest maintains the family: three chained micro-batch increments ≡ rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("incr_stream")
    val ckpt = tempDir("incr_ckpt")
    Incremental.incrIndex.publishBase(spark, root,
      Incremental.buildOutputs(spark, df(baseDocs)))
    // three arrivals: the cap-crossing batch, a near-dup of a base doc,
    // and a doc bridging into batch-2's content — state chains across
    // versions, not just across one increment
    val b1 = batchDocs
    val b2 = Seq(500L -> s"$S2 u500")
    val b3 = Seq(600L -> s"$S2 u600 extra tail")
    val input = MemoryStream[(Long, String)]
    val q = Incremental.incrIndex.streamingMaintenance(
      input.toDF().toDF("doc_id", "text"), root, ckpt)
    try {
      for (b <- Seq(b1, b2, b3)) { input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.sources.AtomicPublish.currentVersion(spark, root)
      .contains("v4")) // v1 base + three applied batches
    val want = outputsAsSets(
      Incremental.buildOutputs(spark, df(baseDocs ++ b1 ++ b2 ++ b3)))
    for (name <- want.keySet) {
      val got = graft.sources.AtomicPublish.readOutput(spark, root, name)
        .collect().map(_.mkString("|")).toSet
      assert(got == want(name), s"$name diverged after chained increments")
    }
    // exactly-once: a REPLAYED batch id must be a no-op — the ledger
    // rides the same atomic publish as the data, so the check reads
    // the committed snapshot alone
    val before = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(!Incremental.incrIndex.applyBatch(spark, root, df(b2), 1L),
      "replaying an applied batch id must be refused")
    assert(!Incremental.incrIndex.applyBatch(spark, root, df(Seq.empty), 99L),
      "an empty trigger must not publish")
    assert(graft.sources.AtomicPublish.currentVersion(spark, root) == before)
  }

  test("d20 on the real corpus: batch span profile equals the from-scratch exact mask") {
    val got = Incremental.d20IncrementalSpans(spark, sf).collect()
      .map(_.mkString("|")).toSet
    val want = graft.operators.Dedup
      .exactSpanMask(Tables.documents(spark, sf))
      .filter(col("doc_id") % Incremental.BatchMod === 0)
      .collect().map(_.mkString("|")).toSet
    assert(got == want,
      "incremental span plane must equal d18's from-scratch mask on the batch slice")
  }

  test("d22 on the real corpus: batch scrub equals the from-scratch excision and conserves d20's mask") {
    // from-scratch reference: the FULL corpus mask (keep-one-first over
    // every doc), islands restricted to the batch, excision over the
    // batch docs — exactly what d22 derives from the committed snapshot
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val batch = col("doc_id") % Incremental.BatchMod === 0
    val maskedBatch = graft.operators.Dedup.exactSpanMaskedStarts(docs)
      .filter(batch)
    val want = graft.operators.Dedup.d21Scrub(docs.filter(batch),
        graft.operators.Dedup.spanIslands(maskedBatch)
          .select(col("doc_id"), col("span_start"), col("span_end")))
      .select(col("doc_id"), col("n_tokens"), col("n_spans_removed"),
        col("n_tokens_removed"),
        size(col("kept")).cast("long").as("n_tokens_kept"),
        md5(concat_ws(" ", col("kept"))).as("scrubbed_md5"))
      .collect().map(_.mkString("|")).toSet
    val gotRows = Incremental.d22IncrementalScrub(spark, sf).collect()
    assert(gotRows.map(_.mkString("|")).toSet == want,
      "incremental batch scrub must equal the from-scratch excision")
    // and it conserves d20's mask accounting per doc
    val d20 = Incremental.d20IncrementalSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val got = gotRows.map(r => r.getLong(0) -> r).toMap
    for ((id, m) <- d20) {
      val sR = got(id)
      assert(sR.getLong(sR.fieldIndex("n_tokens_kept")) ==
        m.getLong(m.fieldIndex("n_tokens")) -
          m.getLong(m.fieldIndex("n_masked_tokens")),
        s"doc $id: kept != n_tokens - masked")
    }
  }

  test("d23 hotspots: ordered, K-token texts, and the full report equals a driver recompute") {
    val k = graft.operators.Dedup.ExactSpanTokens
    val rows = Incremental.d23SpanHotspots(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= Incremental.HotspotK)
    // well-formed: strictly descending by the total order, exact
    // K-token reconstructed text, every hotspot genuinely duplicated
    val keys = rows.map(r => (-r.getLong(r.fieldIndex("n_occ")),
      r.getLong(r.fieldIndex("first_doc")),
      r.getInt(r.fieldIndex("first_tidx"))))
    assert(keys.sameElements(keys.sorted), "report must follow the total order")
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_occ")) >= 2L)
      assert(r.getString(r.fieldIndex("span_text")).split(" ").length == k)
    }
    // ground truth: count every stride-1 k-gram driver-side
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" "))
    val occ = collection.mutable.Map.empty[String, (Long, (Long, Int))]
    for ((id, ws) <- texts.sortBy(_._1); i <- 0 to ws.length - k) {
      val g = ws.slice(i, i + k).mkString(" ")
      val (n, first) = occ.getOrElse(g, (0L, (id, i)))
      occ(g) = (n + 1, if (n == 0) (id, i) else first)
    }
    val want = occ.toSeq.collect { case (g, (n, (d, t))) if n >= 2 => (g, n, d, t) }
      .sortBy { case (_, n, d, t) => (-n, d, t) }.take(Incremental.HotspotK)
    val got = rows.map(r => (r.getString(r.fieldIndex("span_text")),
      r.getLong(r.fieldIndex("n_occ")),
      r.getLong(r.fieldIndex("first_doc")),
      r.getInt(r.fieldIndex("first_tidx"))))
    assert(got.sameElements(want),
      s"hotspot report != driver recompute:\n${got.take(3).mkString("\n")}\nvs\n${want.take(3).mkString("\n")}")
  }

  test("d13 on the real corpus: incremental snapshot equals scratch recompute") {
    val got = Incremental.d13IncrementalIndex(spark, sf)
    assert(got.columns.toSeq ==
      Seq("doc_id", "cluster_id", "n_shingles", "is_batch"))
    val outs = Incremental.buildOutputs(spark, Tables.documents(spark, sf))
      .toMap
    val want = outs("clusters").join(outs("sizes"), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("n").as("n_shingles"),
        (col("doc_id") % Incremental.BatchMod === 0).cast("int").as("is_batch"))
    assert(got.collect().map(_.mkString("|")).toSet ==
      want.collect().map(_.mkString("|")).toSet)
    assert(got.count() > 0)
  }

  test("pipe5: batch admission verdicts compose the committed planes (cross-checked against d13)") {
    val rows = Incremental.pipe5IncrementalCorpus(spark, sf).collect()
    val nBatch = Tables.documents(spark, sf)
      .filter(col("doc_id") % Incremental.BatchMod === 0 &&
        col("text").isNotNull).count()
    assert(rows.length.toLong == nBatch, "every batch doc gets a verdict")
    val d13 = Incremental.d13IncrementalIndex(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    rows.foreach { r =>
      val (id, cid) = (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))
      val (dup, kept) = (r.getAs[Int]("is_dup"), r.getAs[Int]("kept"))
      assert(kept == (if (dup == 0 &&
        r.getAs[Long]("n_tokens") >= Incremental.Pipe5MinTokens) 1 else 0),
        r.toString)
      if (dup == 1) assert(cid != id, s"dup $id must defer to canonical $cid")
      // cluster ids agree with the d13 snapshot wherever both report
      d13.get(id).foreach(c => assert(c == cid, s"$id: $c vs $cid"))
    }
    assert(rows.exists(_.getAs[Int]("is_dup") == 1),
      "fixture should contain batch near-dups")
    assert(rows.exists(_.getAs[Int]("kept") == 1))
  }

  test("t29 novelty plane: chained min-merge increments equal a from-scratch rebuild") {
    import spark.implicits._
    // base holds firsts; batch 1 contains an OUT-OF-ORDER id (50) that
    // must steal first-occurrence from base doc 100; batch 2 appends
    val base = Seq((100L, "a b c d e"), (101L, "a b c x y"))
    val b1 = Seq((50L, "a b c d e"), (102L, "p q r s"))
    val b2 = Seq((103L, "p q r z"))
    val r = tempDir("novelty")
    Incremental.noveltyIndex.publishBase(spark, r,
      Seq("firsts" -> Incremental.noveltyFirstsOf(df(base))))
    Incremental.noveltyIndex.publishIncrement(spark, r, df(b1), 1L)
    Incremental.noveltyIndex.publishIncrement(spark, r, df(b2), 2L)
    val got = graft.sources.AtomicPublish.readOutput(spark, r, "firsts")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = Incremental.noveltyFirstsOf(df(base ++ b1 ++ b2))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == want,
      "chained increments == rebuild (incl. the out-of-order id-50 steal)")
    // the id-50 steal actually happened (shared trigram 'a b c')
    val abc = df(Seq((0L, "a b c"))).select(
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.lit("a b c"))).head().getString(0)
    assert(got(abc) == 50L, "out-of-order batch id must take the first")
    assert(graft.sources.AtomicPublish.readOutput(spark, r, graft.sources.Artifact.Ledger)
      .collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
  }

  test("d14's oracle actually rewrote its d9 anchor (batch filter present)") {
    val sql = graft.operators.Incremental.oracles("d14_incremental_passages")
    assert(sql.contains(
      s"WHERE occ.doc_id % ${graft.operators.Incremental.BatchMod} = 0"),
      "d14 oracle must carry the batch-slice filter")
  }

  test("t29's oracle comes from the parameterized t27 builder") {
    val t29 = graft.operators.Incremental.oracles("t29_incremental_novelty")
    assert(t29.contains(
      s"WHERE s.doc_id % ${graft.operators.Incremental.BatchMod} = 0"),
      "t29 oracle must carry the batch-slice predicate")
    // unparameterized builder IS t27's shipped oracle — shared
    // statistics CTEs by construction, not by string match
    assert(graft.operators.TextAnalysis.oracles("t27_novelty") ==
      graft.operators.TextAnalysis.t27NoveltyOracle(None))
  }
}
