package graft

import graft.operators.TextIndex
import org.apache.spark.sql.functions._

/** Inverted index build + boolean search (rows 156-157). */
class TextIndexSpec extends GraftSpec {

  test("ix1 postings are sorted, df-consistent, and cover the corpus") {
    // the raw array form lives in the published table; ix1's query
    // output is the scalar digest of exactly that list
    val root = {
      TextIndex.ix2BooleanSearch(spark, sf).collect() // ensure built
      TextIndex.textIndex.root(sf)
    }
    val raw = graft.sources.AtomicPublish.readOutput(spark, root, "postings")
      .collect()
    assert(raw.nonEmpty)
    raw.foreach { r =>
      val postings = r.getSeq[Long](r.fieldIndex("postings"))
      assert(postings == postings.sorted, "postings must be sorted")
      assert(postings.distinct.size == postings.size, "postings must be unique")
      assert(r.getAs[Long]("df") == postings.size)
    }
    // every doc appears in at least one posting list
    val docsInIndex =
      raw.flatMap(r => r.getSeq[Long](r.fieldIndex("postings"))).toSet
    assert(docsInIndex.size == Tables.documents(spark, sf).count())
    // ix1's digest is the md5 of the comma-joined raw list
    val wantDigest = raw.map { r =>
      val p = r.getSeq[Long](r.fieldIndex("postings"))
      r.getAs[String]("term") ->
        java.security.MessageDigest.getInstance("MD5")
          .digest(p.mkString(",").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
    }.toMap
    val got = TextIndex.ix1InvertedIndex(spark, sf).collect()
    assert(got.nonEmpty && got.length == raw.length)
    got.foreach { r =>
      assert(r.getAs[String]("postings_md5") ==
        wantDigest(r.getAs[String]("term")))
    }
  }

  test("ix2 equals a brute-force conjunctive search over the raw corpus") {
    val want = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .flatMap { r =>
        val terms = r.getString(1).split(" ", -1).toSet
        val hits = TextIndex.QueryTerms.count(terms.contains)
        if (hits == TextIndex.QueryTerms.size) Some(r.getLong(0)) else None
      }.sorted.toSeq
    val got = TextIndex.ix2BooleanSearch(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("ix3 equals a brute-force phrase scan over the raw corpus") {
    val k = TextIndex.PhraseTerms.size
    val want = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .flatMap { r =>
        val toks = r.getString(1).split(" ", -1)
        val starts = (0 to toks.length - k).filter(i =>
          TextIndex.PhraseTerms.indices.forall(j =>
            toks(i + j) == TextIndex.PhraseTerms(j)))
        if (starts.nonEmpty)
          Some((r.getLong(0), starts.length.toLong, starts.min + 1))
        else None
      }.sortBy(_._1).toSeq
    assert(want.nonEmpty, "fixture should contain the phrase")
    val got = TextIndex.ix3PhraseSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_occurrences"),
        r.getAs[Int]("first_pos"))).toSeq
    assert(got == want)
  }

  test("the index is build-once: a second call reuses the committed version") {
    TextIndex.ix2BooleanSearch(spark, sf).collect()
    val root = TextIndex.textIndex.root(sf)
    val v1 = graft.sources.AtomicPublish.currentVersion(spark, root)
    TextIndex.ix1InvertedIndex(spark, sf).collect()
    val v2 = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(v1.nonEmpty && v1 == v2, s"rebuild detected: $v1 -> $v2")
  }

  test("chained increments equal a from-scratch build, and a replayed batch is refused") {
    import spark.implicits._
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // overlapping vocabularies across the three slices so the merge
    // path (df add + disjoint-sorted-list concat) actually merges
    val a = docs(1L -> "red fox runs", 2L -> "blue fox sleeps")
    val b = docs(10L -> "red wolf runs fast", 11L -> "green owl")
    val c = docs(20L -> "blue wolf red fox")
    val root = tempDir("ix_incr_spec")
    TextIndex.textIndex.publishBase(spark, root,
      TextIndex.buildIndexOutputs(spark, a))
    assert(TextIndex.textIndex.applyBatch(spark, root, b, 1L))
    assert(TextIndex.textIndex.applyBatch(spark, root, c, 2L))
    def sets(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.collect().map(_.mkString("|")).toSet
    val all = docs((a.collect() ++ b.collect() ++ c.collect())
      .map(r => r.getLong(0) -> r.getString(1)).toIndexedSeq: _*)
    assert(sets(graft.sources.AtomicPublish.readOutput(spark, root, "postings"))
      == sets(TextIndex.buildPostings(all)))
    assert(sets(graft.sources.AtomicPublish.readOutput(spark, root, "positions"))
      == sets(TextIndex.buildPositions(all)))
    assert(sets(graft.sources.AtomicPublish.readOutput(spark, root, "doclens"))
      == sets(TextIndex.buildDoclens(all)))
    // replayed micro-batch: ledger-refused, no version churn
    val before = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(!TextIndex.textIndex.applyBatch(spark, root, b, 1L))
    assert(graft.sources.AtomicPublish.currentVersion(spark, root) == before)
  }

  test("streaming text-index maintenance: three chained micro-batches equal a rebuild, replay refused") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val base = Seq(1L -> "red fox runs", 2L -> "blue fox sleeps")
    // overlapping vocabulary across arrivals so the postings merge
    // path (df add + disjoint-sorted concat) runs on every batch
    val b1 = Seq(10L -> "red wolf runs fast")
    val b2 = Seq(11L -> "green owl", 12L -> "blue wolf")
    val b3 = Seq(20L -> "red owl runs")
    val root = tempDir("ix_stream")
    val ckpt = tempDir("ix_sckpt")
    TextIndex.textIndex.publishBase(spark, root,
      TextIndex.buildIndexOutputs(spark, docs(base)))
    val input = MemoryStream[(Long, String)]
    val q = TextIndex.textIndex.streamingMaintenance(
      input.toDF().toDF("doc_id", "text"), root, ckpt)
    try {
      for (b <- Seq(b1, b2, b3)) { input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.sources.AtomicPublish.currentVersion(spark, root)
      .contains("v4"))
    val all = docs(base ++ b1 ++ b2 ++ b3)
    def sets(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.collect().map(_.mkString("|")).toSet
    assert(sets(graft.sources.AtomicPublish.readOutput(spark, root, "postings"))
      == sets(TextIndex.buildPostings(all)), "postings diverged")
    assert(sets(graft.sources.AtomicPublish.readOutput(spark, root, "positions"))
      == sets(TextIndex.buildPositions(all)), "positions diverged")
    assert(sets(graft.sources.AtomicPublish.readOutput(spark, root, "doclens"))
      == sets(TextIndex.buildDoclens(all)), "doclens diverged")
    // exactly-once: replayed id and empty trigger are no-ops
    val before = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(!TextIndex.textIndex.applyBatch(spark, root, docs(b2), 1L))
    assert(!TextIndex.textIndex.applyBatch(spark, root, docs(Seq.empty), 99L))
    assert(graft.sources.AtomicPublish.currentVersion(spark, root) == before)
  }

  test("ix5: BM25 over the committed index equals a driver-side recompute") {
    import spark.implicits._
    // fixture vocabulary includes the fixed QueryTerms ("table join
    // fast"), with varying tf and doc lengths so every BM25 component
    // (idf, tf saturation, length normalization) is exercised
    val docs = Seq(
      1L -> "table join fast table",
      2L -> "table scan slow and very long padding words here now",
      3L -> "join join join",
      4L -> "nothing relevant at all",
      5L -> "fast").toDF("doc_id", "text")
    val root = tempDir("ix5_spec")
    TextIndex.textIndex.publishBase(spark, root,
      TextIndex.buildIndexOutputs(spark, docs))
    val got = TextIndex.bm25From(spark, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_terms_hit"), r.getAs[Double]("bm25"))).toMap
    // driver recompute with the same formula and quantization
    val toks = docs.collect().map(r => r.getLong(0) -> r.getString(1)
      .split(" ", -1).toSeq).toMap
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / toks.size
    val want = toks.flatMap { case (id, ts) =>
      val hits = TextIndex.QueryTerms.filter(ts.contains)
      if (hits.isEmpty) None else Some(id -> (hits.size.toLong,
        hits.map { t =>
          val tf = ts.count(_ == t).toDouble
          val df = toks.values.count(_.contains(t)).toDouble
          val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
          val norm = tf * (TextIndex.Bm25K1 + 1.0) /
            (tf + TextIndex.Bm25K1 * (1.0 - TextIndex.Bm25B +
              TextIndex.Bm25B * (ts.size / avgdl)))
          math.floor(idf * norm * 1e9 + 0.5).toLong
        }.sum.toDouble / 1e9))
    }
    assert(got == want, s"$got vs $want")
  }

  test("ix6: snippets are optimal query-term windows over the top BM25 pool") {
    import graft.operators.TextIndex
    val rows = TextIndex.ix6Snippets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(rows.length == TextIndex.SnippetDocs)
    // the candidate set is exactly the BM25 top pool
    val pool = TextIndex.ix5Bm25Search(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("bm25")))
      .sortBy { case (id, s) => (-s, id) }.take(TextIndex.SnippetDocs)
      .map(_._1).toSet
    assert(rows.map(_._1).toSet == pool)
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val terms = TextIndex.QueryTerms.toSet
    val W = TextIndex.SnippetWindow
    for ((id, _, start, nHits, snippet) <- rows) {
      val toks = texts(id).split(" ")
      val pos = toks.indices.filter(i => terms.contains(toks(i)))
      def hits(p: Int) = pos.count(q => q >= p && q < p + W)
      // recompute the two-pass argmax: max hits, then earliest start
      val bestCnt = pos.map(hits).max
      assert(nHits == bestCnt, s"doc $id window density")
      assert(start == pos.filter(p => hits(p) == bestCnt).min,
        s"doc $id earliest optimal start")
      // the rendered snippet is the exact slice and contains its hits
      assert(snippet == toks.slice(start, start + W).mkString(" "))
      assert(toks.slice(start, start + W).count(terms.contains) == nHits)
      assert(nHits >= 1 && snippet.nonEmpty)
      // optimality against EVERY possible start, not just anchors:
      // a window not anchored at a hit is dominated by the anchored
      // one starting at its first interior hit
      assert((0 until toks.length).forall(p => hits(p) <= bestCnt))
    }
  }
}
