package graft.operators

import graft.Tables
import graft.sources.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted text index (SURVEY §2 rows 156-157): the text-search
  * analog of the persisted ANN index — build ONCE per corpus
  * (term → sorted posting list, published through AtomicPublish under
  * a corpus-fingerprinted durable root, shared [[graft.sources.DurableIndex]]
  * fence), then every boolean search reads ONLY the index parquet
  * with the query terms pushed to the scan. At 100 TB a search
  * touches O(postings of the query terms) — the corpus is never
  * rescanned per query, which is the entire point of an index.
  */
object TextIndex {

  /** The fixed conjunctive query ix2 answers (literal terms — at the
    * API level these are the function's parameters). */
  val QueryTerms: Seq[String] = Seq("table", "join", "fast")

  /** ix4's deterministic ingest split: batch = doc_id % 5 == 0 — the
    * d13 convention on the documents table, so ix1/ix2/ix3's
    * full-corpus oracles double as the proof that the incrementally-
    * maintained index ≡ a from-scratch build. */
  val IncrBatchMod = 5

  // v4 (was v3): the index additionally carries per-doc token lengths
  // (doclens) for BM25 ranking — the salt bump forces stale-recipe
  // rebuilds (the r9 ADVICE stale-index trap)
  private[graft] val textIndex = Artifact.incremental("text_index", "documents")(
    s"textindex-v4;grain=word1-distinct+positions+doclens;incr=mod$IncrBatchMod")(
    textIncrement)

  /** Posting-list frame from the raw corpus: one row per (term) with
    * document frequency and the SORTED posting list. In-row distinct
    * terms (DistinctWordNgrams kernel) mean one row per (doc, term)
    * enters the term-keyed aggregate — never one per token. Posting
    * lists are per-term arrays; the pathological hot-term row (a
    * stopword's postings ≈ the corpus) is the textbook reason real
    * deployments shard postings by (term, block) — at this corpus'
    * vocabulary the lists are bounded and the single-array form keeps
    * the search join trivial. */
  private[graft] def buildPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(
      org.apache.spark.sql.graft.WordNgramsExpr
        .distinctWordNgrams(col("text"), 1)).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))

  /** Positional postings at token grain: (term, doc_id, pos), pos
    * 1-based to match the oracle's array indexing. Token-grain rows
    * are the standard positional-index cost — at 100 TB this is the
    * index every phrase/proximity query engine carries, sharded by
    * term exactly like the boolean postings. */
  private[graft] def buildPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")))
      .select(col("col").as("term"), col("doc_id"),
        (col("pos") + 1).as("pos"))

  /** Per-doc token lengths (doc_id, dl) — the BM25 length-
    * normalization plane; derived from the SAME tokenization as the
    * positional index (null-text docs contribute no tokens and no dl
    * row in either engine). */
  private[graft] def buildDoclens(docs: DataFrame): DataFrame =
    buildPositions(docs).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"))

  /** All index outputs built from scratch over `docs` — v1 of the
    * root, and the chained-increment spec's ground truth. */
  private[graft] def buildIndexOutputs(s: SparkSession,
      docs: DataFrame): Seq[(String, DataFrame)] =
    Seq("postings" -> buildPostings(docs),
      "positions" -> buildPositions(docs),
      "doclens" -> buildDoclens(docs))

  /** Version N+1 of the text index from version N's COMMITTED
    * outputs plus only the batch text (the d13 discipline on the ix
    * plane — t25 already proved the additive machinery on the term
    * plane; postings are its associative extension): batch doc_ids are
    * NEW (ingest contract), so per-term df simply ADDS and the merged
    * posting list is the sorted concat of two DISJOINT sorted lists;
    * positional rows append verbatim. The only text scan is the batch
    * slice; the merge is one term-keyed full join against the
    * committed postings — O(index ∪ batch vocabulary), never a corpus
    * re-scan. */
  private def textIncrement(s: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Seq[(String, DataFrame)] = {
    import graft.sources.AtomicPublish.readOutput
    val bPost = buildPostings(batch)
    val empty = array().cast("array<bigint>")
    val merged = readOutput(s, root, "postings").as("a")
      .join(bPost.as("b"), Seq("term"), "full")
      .select(col("term"),
        (coalesce(col("a.df"), lit(0L)) + coalesce(col("b.df"), lit(0L)))
          .as("df"),
        sort_array(concat(coalesce(col("a.postings"), empty),
          coalesce(col("b.postings"), empty))).as("postings"))
    Seq(
      "postings" -> merged,
      "positions" -> readOutput(s, root, "positions")
        .unionByName(buildPositions(batch)),
      // batch doc_ids are NEW (ingest contract) ⇒ doclens rows append
      // verbatim, like the positional rows
      "doclens" -> readOutput(s, root, "doclens")
        .unionByName(buildDoclens(batch)))
  }

  /** The index is built v1-over-base then INCREMENTED with the batch
    * slice — ix1/ix2/ix3 read the committed post-ingest snapshot, and
    * their full-corpus oracles prove incremental ≡ rebuild on real
    * data every round. */
  private[graft] def ensureTextIndex(s: SparkSession, dir: String): String =
    textIndex.ensureIngested(s, dir) {
      val docs = Tables.documents(s, dir)
      (buildIndexOutputs(s, docs.filter(col("doc_id") % IncrBatchMod =!= 0)),
        docs.filter(col("doc_id") % IncrBatchMod === 0))
    }

  /** ix1: the inverted index itself — (term, df, posting-list digest),
    * read back from the PUBLISHED index (so the correctness gate
    * exercises the durable build+read path; the oracle recomputes the
    * same table from the raw documents). The sorted posting list is
    * emitted as an md5 over its comma-joined form rather than the raw
    * array<bigint>: the digest covers the FULL list content (order and
    * membership) for the hash gate while keeping the output schema
    * scalar-only — the driver's pandas-based compare cannot sort/hash
    * frames with top-level numpy-array columns (the r8 ix1 failure).
    * ix2 still consumes the raw array form from the published table. */
  def ix1InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTextIndex(s, dir)
    graft.sources.AtomicPublish.readOutput(s, root, "postings")
      .select(col("term"), col("df"),
        md5(array_join(col("postings"), ",")).as("postings_md5"))
      .orderBy("term")
  }

  /** ix2: conjunctive boolean search (term₁ AND term₂ AND term₃) —
    * reads ONLY the index: the IN-filter on the term key pushes to
    * the postings scan (parquet row-group pruning at scale, the k9
    * discipline), the ≤|query| surviving posting rows explode to
    * (doc, term-hit) pairs, and a doc-keyed count == |query| closes
    * the intersection. The corpus parquet appears nowhere in the
    * plan (PlanAuditSpec pins this, like the n2/n3 no-raw-scan
    * audit). */
  def ix2BooleanSearch(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTextIndex(s, dir)
    graft.sources.AtomicPublish.readOutput(s, root, "postings")
      .filter(col("term").isin(QueryTerms: _*))
      .select(explode(col("postings")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"))
      .filter(col("n_terms_hit") === QueryTerms.size)
      .orderBy("doc_id")
  }

  /** The fixed phrase ix3 answers (consecutive words, in order). */
  val PhraseTerms: Seq[String] = Seq("table", "hash")

  /** ix3: exact phrase search — the terms must appear CONSECUTIVELY,
    * which boolean postings can't express; this is what the positional
    * index exists for. Each term's positions are read from the index
    * (term IN-filter pushed to the scan, k9 discipline), shifted by
    * the term's offset in the phrase, and intersected on
    * (doc, start): a phrase occurrence is exactly a (doc, start) all
    * |phrase| shifted streams share. Joins are equi-joins on
    * (doc_id, start) between per-term posting slices — O(Σ postings
    * of the phrase terms), the corpus parquet appears nowhere in the
    * plan (PlanAuditSpec pins it). Output: per matching doc, the
    * occurrence count and first match position. */
  def ix3PhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTextIndex(s, dir)
    val pos = graft.sources.AtomicPublish.readOutput(s, root, "positions")
      .filter(col("term").isin(PhraseTerms: _*))
    val hits = PhraseTerms.zipWithIndex.map { case (t, i) =>
      pos.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }.reduce((l, r) => l.join(r, Seq("doc_id", "start")))
    hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("start")).as("first_pos"))
      .orderBy("doc_id")
  }

  /** ix4: the ingest batch's postings report from the INCREMENTALLY-
    * maintained index — for every term the batch touched, the merged
    * corpus-wide df and the full sorted posting-list digest (ix1's
    * scalar-digest convention). Reads the committed snapshot plus the
    * batch text only; the oracle recomputes the same frame from the
    * FULL corpus, so a hash pass proves df-add + disjoint-sorted-merge
    * maintenance ≡ rebuild for every touched posting list, content and
    * order included. */
  def ix4IncrementalPostings(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTextIndex(s, dir)
    val bTerms = Tables.documents(s, dir)
      .filter(col("doc_id") % IncrBatchMod === 0)
      .select(explode(org.apache.spark.sql.graft.WordNgramsExpr
        .distinctWordNgrams(col("text"), 1)).as("term"))
      .distinct()
    graft.sources.AtomicPublish.readOutput(s, root, "postings")
      .join(bTerms, Seq("term"), "left_semi")
      .select(col("term"), col("df"),
        md5(array_join(col("postings"), ",")).as("postings_md5"))
      .orderBy("term")
  }

  /** BM25 constants (Robertson & Spärck Jones's standard defaults).
    * HOST doubles interpolated into BOTH plans (the g2 rule). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** ix5: BM25 ranked retrieval (Robertson et al., TREC-3) over the
    * SAME fixed query terms as ix2, disjunctive this time — the
    * scoring layer every search stack puts on top of the boolean
    * postings, and the reason the index carries doclens: score =
    * Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)). Reads ONLY
    * the published index: per-term tf from the positional rows (term
    * IN-filter pushed to the scan, k9 discipline), df from the
    * postings row, dl from doclens, N/avgdl from ONE 1-row broadcast
    * aggregate of doclens — the corpus parquet appears nowhere in the
    * plan (PlanAuditSpec). Determinism: idf and the tf norm are
    * fixed-order IEEE expressions on exact-integer inputs (each
    * division correctly rounded, constants host-interpolated); each
    * (doc, term) partial score is int64-quantized at 1e-9 grain so
    * the per-doc sum is an exact order-free fold (the g2 rq
    * discipline). All matching docs are emitted (score-ordered rank
    * cuts would let a float decide membership; doc_id order keeps the
    * hash gate structural). */
  def ix5Bm25Search(s: SparkSession, dir: String): DataFrame =
    bm25From(s, ensureTextIndex(s, dir))

  /** ix5 core over an arbitrary committed index root — factored out so
    * the spec can score a synthetic fixture and recompute BM25 in the
    * driver. */
  private[graft] def bm25From(s: SparkSession, root: String): DataFrame = {
    import graft.sources.AtomicPublish.readOutput
    val dls = readOutput(s, root, "doclens")
    val stats = dls.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = readOutput(s, root, "positions")
      .filter(col("term").isin(QueryTerms: _*))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val df = readOutput(s, root, "postings")
      .filter(col("term").isin(QueryTerms: _*))
      .select(col("term"), col("df"))
    val idf = log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfNorm = (col("tf").cast("double") * lit(Bm25K1 + 1.0)) /
      (col("tf").cast("double") + lit(Bm25K1) *
        (lit(1.0 - Bm25B) + lit(Bm25B) *
          (col("dl").cast("double") / col("avgdl"))))
    tf.join(broadcast(df), Seq("term"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(stats)) // 1-row bounded metadata
      .select(col("doc_id"),
        floor(idf * tfNorm * lit(1e9) + lit(0.5)).cast("long").as("sq"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        (sum(col("sq")).cast("double") / lit(1e9)).as("bm25"))
      .orderBy("doc_id")
  }

  /** ix6's snippet geometry — `final val` compile-time constants (the
    * PassageWords rule). */
  final val SnippetWindow = 15
  final val SnippetDocs = 20

  /** ix6: result snippets — the best [[SnippetWindow]]-token window
    * of each top-[[SnippetDocs]] BM25 hit, chosen as the window
    * anchored at a query-term occurrence containing the MOST
    * query-term occurrences (ties to the earliest start): the
    * search-result highlight every retrieval UI renders next to
    * ix5's ranking. Scale shape: candidate selection is ix5's
    * committed-index read + a TakeOrderedAndProject pool cut; the
    * per-doc window argmax runs HOF-row-local over ONLY the bounded
    * pool (≤ [[SnippetDocs]] docs — interpreted lambdas are fine at
    * pool grain; the imp2 kernel rule applies to corpus-per-row HOFs,
    * not to 20 rows), with cost O(k²) in a doc's query-term hit
    * count. Exactness: integer positions and counts, two-pass
    * argmax (max count, then min qualifying start) instead of a
    * struct compare so both engines run the identical rule. */
  def ix6Snippets(s: SparkSession, dir: String): DataFrame = {
    val termsSql = QueryTerms.map(t => s"'$t'").mkString(", ")
    val top = ix5Bm25Search(s, dir)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(SnippetDocs)
    top.join(Tables.documents(s, dir).select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("pos", expr(
        s"""filter(transform(toks, (t, i) ->
           |  IF(t IN ($termsSql), i, -1)), x -> x >= 0)""".stripMargin))
      .withColumn("cnts", expr(
        s"transform(pos, p -> size(filter(pos, q -> q >= p AND q < p + $SnippetWindow)))"))
      .withColumn("best_cnt", expr("array_max(cnts)"))
      .withColumn("best_start", expr(
        s"""array_min(filter(pos, p -> size(filter(pos, q ->
           |  q >= p AND q < p + $SnippetWindow)) = best_cnt))""".stripMargin))
      .select(col("doc_id"), round(col("bm25"), 6).as("bm25"),
        col("best_start").cast("int").as("snippet_start"),
        col("best_cnt").cast("int").as("n_hits"),
        expr(s"array_join(slice(toks, best_start + 1, $SnippetWindow), ' ')")
          .as("snippet"))
      .orderBy("doc_id")
  }

  /** ix5's full BM25 scoring SQL as ONE reusable block (ends in a
    * relation with doc_id, n_terms_hit, bm25) — shared by the ix5
    * oracle and n21's hybrid-search fusion so the lexical scoring
    * rule cannot drift between the two (the t1PredSql discipline). */
  private[graft] def ix5BmSql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents),
       |dls AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls),
       |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
       |  WHERE term IN ($terms) GROUP BY 1, 2),
       |dfr AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
       |  WHERE term IN ($terms) GROUP BY 1)
       |SELECT doc_id, count(*) AS n_terms_hit,
       |  CAST(sum(CAST(floor(
       |    ln((CAST(n_docs - df AS DOUBLE) + 0.5) /
       |        (CAST(df AS DOUBLE) + 0.5) + 1.0) *
       |    ((CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0}) /
       |     (CAST(tf AS DOUBLE) + $Bm25K1 *
       |      (${1.0 - Bm25B} + $Bm25B * (CAST(dl AS DOUBLE) / avgdl))))
       |    * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS bm25
       |FROM tf JOIN dfr USING (term) JOIN dls USING (doc_id)
       |CROSS JOIN stats
       |GROUP BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ix5_bm25_search" -> s"$ix5BmSql\nORDER BY doc_id",
    "ix6_snippets" -> {
      val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH b AS (SELECT * FROM (
         |$ix5BmSql) t),
         |top AS (SELECT doc_id, bm25, ROW_NUMBER() OVER (
         |    ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM b QUALIFY rn <= $SnippetDocs),
         |d AS (SELECT t.doc_id, t.bm25, string_split(doc.text, ' ') AS toks
         |  FROM top t JOIN documents doc USING (doc_id)),
         |p AS (SELECT doc_id, bm25, toks,
         |    list_filter(list_transform(generate_series(1, len(toks)),
         |      i -> CASE WHEN toks[i] IN ($terms) THEN i - 1 ELSE -1 END),
         |      x -> x >= 0) AS pos FROM d),
         |m AS (SELECT *, list_max(list_transform(pos,
         |    p1 -> len(list_filter(pos, q -> q >= p1 AND q < p1 + $SnippetWindow))))
         |    AS best_cnt FROM p),
         |s AS (SELECT *, list_min(list_filter(pos, p1 -> len(list_filter(pos,
         |    q -> q >= p1 AND q < p1 + $SnippetWindow)) = best_cnt))
         |    AS best_start FROM m)
         |SELECT doc_id, round(bm25, 6) AS bm25,
         |  CAST(best_start AS INT) AS snippet_start,
         |  CAST(best_cnt AS INT) AS n_hits,
         |  array_to_string(toks[best_start + 1 : best_start + $SnippetWindow], ' ')
         |    AS snippet
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "ix4_incremental_postings" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id,
         |    unnest(string_split(text, ' ')) AS term FROM documents),
         |bt AS (SELECT DISTINCT term FROM tok WHERE doc_id % $IncrBatchMod = 0)
         |SELECT term, COUNT(*) AS df,
         |  md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS postings_md5
         |FROM tok WHERE term IN (SELECT term FROM bt)
         |GROUP BY term ORDER BY term""".stripMargin,
    "ix3_phrase_search" -> {
      val k = PhraseTerms.size
      val conds = PhraseTerms.zipWithIndex
        .map { case (t, i) => s"t[i + $i] = '$t'" }.mkString(" AND ")
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
         |    FROM documents),
         |hits AS (SELECT doc_id,
         |    unnest([i FOR i IN generate_series(1, len(t) - ${k - 1})
         |      IF $conds]) AS start
         |  FROM tok)
         |SELECT doc_id, count(*) AS n_occurrences,
         |  CAST(min(start) AS INT) AS first_pos
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "ix1_inverted_index" ->
      """WITH tok AS (SELECT DISTINCT doc_id,
        |    unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, COUNT(*) AS df,
        |  md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS postings_md5
        |FROM tok GROUP BY term ORDER BY term""".stripMargin,
    "ix2_boolean_search" -> {
      val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT DISTINCT doc_id,
         |    unnest(string_split(text, ' ')) AS term FROM documents)
         |SELECT doc_id, COUNT(*) AS n_terms_hit
         |FROM tok WHERE term IN ($terms)
         |GROUP BY doc_id HAVING COUNT(*) = ${QueryTerms.size}
         |ORDER BY doc_id""".stripMargin
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ix1_inverted_index" -> (ix1InvertedIndex _),
    "ix2_boolean_search" -> (ix2BooleanSearch _),
    "ix3_phrase_search" -> (ix3PhraseSearch _),
    "ix4_incremental_postings" -> (ix4IncrementalPostings _),
    "ix5_bm25_search" -> (ix5Bm25Search _),
    "ix6_snippets" -> (ix6Snippets _))
}
