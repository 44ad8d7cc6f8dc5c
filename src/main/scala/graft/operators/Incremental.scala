package graft.operators

import graft.Tables
import graft.sources.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** INCREMENTAL maintenance for the durable dedup-index family
  * (shingle postings + DF table + sizes, MinHash/SimHash signatures,
  * near-dup pair edges, connected-component clusters) — the reference's
  * core loop is a *polling ingest* (hive-backend server.mjs:129-142,
  * upserts arriving continuously), and a corpus-fingerprinted
  * build-once index would force a FULL rebuild of every artifact on
  * every ingest batch. This module publishes version N+1 of the whole
  * family derived from version N's PUBLISHED outputs plus ONLY the
  * batch's text — the base corpus text is never re-scanned.
  *
  * The family lives under ONE [[graft.sources.AtomicPublish]] root, so
  * each version is an atomic, mutually-consistent snapshot of all
  * seven outputs (postings and clusters can never disagree about which
  * corpus they describe), and historical versions remain readable via
  * `readOutputAt` until vacuumed — an ingest pipeline's rollback path.
  *
  * Exactness argument (the spec proves this against a from-scratch
  * rebuild, and the d13 oracle proves it against DuckDB on the full
  * corpus):
  *
  *  - '''postings/df''': document shingle sets are row-local and batch
  *    doc_ids are NEW (ingest contract), so total df(sh) = base df +
  *    batch df. The DF cap is monotone under ingest — df only grows —
  *    so a shingle dropped at base stays dropped (its batch postings
  *    are dropped on arrival), and a base-surviving shingle pushed
  *    over the cap by the batch has ALL its base postings still in the
  *    index, ready to be anti-joined out. Keeping df rows for capped
  *    shingles too is what distinguishes "brand-new shingle" from
  *    "dropped long ago" without touching base text.
  *  - '''sizes''': only docs holding a NEWLY-dropped shingle change,
  *    by exactly their count of dropped postings — index-side
  *    arithmetic.
  *  - '''edges''': a base-base pair's Jaccard moves ONLY via dropped
  *    shingles (sizes and intersections are otherwise untouched), and
  *    a dropped shingle marks every holder AFFECTED — so edges between
  *    two unaffected docs are carried over verbatim, and every pair
  *    with ≥1 affected endpoint is re-scored against the full postings
  *    index. Note Jaccard is NOT monotone under a drop (removing a
  *    one-sided shingle *raises* it), so affected×unaffected pairs can
  *    both appear and disappear — re-scoring that slice is required
  *    for exactness, not pessimism.
  *  - '''clusters''': connected components re-run over the maintained
  *    edge list. Components can SPLIT when edges vanish, so no
  *    label-contraction shortcut is sound; but the edge list is
  *    near-dup-pair-sized (corpus duplication mass, not corpus mass),
  *    so CC over it is the cheap step — what the incremental path
  *    removes is the corpus-wide kernel scan + pair self-join.
  *  - '''minhash/simhash''': row-local signatures; compute the batch,
  *    append.
  *
  * Scale shape: the only text scan is the batch parquet slice; every
  * other input is a committed index output. The affected set is
  * batch-proportional (batch docs + holders of batch-dropped shingles,
  * the latter ≤ cap per dropped shingle), so it is broadcast below;
  * a pathological batch that drops a large fraction of shingles
  * degrades to a shuffle join, not an error. Pair re-scoring joins the
  * affected slice against the sh-partitioned postings index — the d2
  * co-partitioning discipline.
  */
object Incremental {

  /** d13's deterministic ingest split: batch = doc_id % 5 == 0 (~20%
    * of the corpus arrives as "the new batch"), mirroring d8's % 7
    * convention so the full DuckDB oracle applies. */
  val BatchMod = 5

  // v4: the family grew the term plane (v2), the passage plane (v3),
  // and the applied-batch ledger (v4) — each recipe bump forces
  // stale-family rebuilds
  private[graft] val incrIndex = Artifact.incremental("incr_index", "documents")(
    s"incr-v6;split=mod$BatchMod;dfcap=${Dedup.ShingleDfCap};tau=0.5;" +
      s"minhash=k${Dedup.MinhashK}-xxh64;simhash=64-seed42;kernel=word3gram-xxh64;" +
      s"term=doc-term-tf-space;passage=w${Dedup.PassageWords}-xxh64;" +
      s"span=k${Dedup.ExactSpanTokens}-stride1-xxh64")(increment)

  /** All seven family outputs built FROM SCRATCH over `docs` — v1 of
    * the root, and the spec's ground truth for "incremental ≡
    * rebuild". Plans reuse the exact d2/d3/d4/d6 build machinery
    * (shared kernels, shared overlap join), so the family's semantics
    * cannot drift from the query-side operators'. */
  private[graft] def buildOutputs(s: SparkSession,
      docs: DataFrame): Seq[(String, DataFrame)] = {
    // raw postings feed both the df aggregate and the cap anti-join;
    // localCheckpoint pays the kernel scan once (blocks freed when the
    // build returns — the ensureShingleIndex discipline)
    val raw = Dedup.shinglesOf(docs)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh"))
      .localCheckpoint()
    // df is kept for ALL shingles (capped ones too): the incremental
    // path needs "seen and dropped" to be distinguishable from "new"
    val df = raw.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val hot = df.filter(col("df") > Dedup.ShingleDfCap).select(col("sh"))
    val kept = raw.join(broadcast(hot), Seq("sh"), "left_anti")
      .localCheckpoint()
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val edges = Dedup.overlapFrom(s, kept, sizes)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .localCheckpoint()
    val clusters = Dedup.connectedComponents(edges.select(col("doc_a"), col("doc_b")))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    // term plane (t16/t17/t20/t22's statistics): postings are
    // row-local kernel output, df/n_docs are ADDITIVE under ingest —
    // the easy half of the family, maintained in the same snapshot so
    // lexical stats and dedup state can never describe different
    // corpus versions
    val tf = graft.operators.TextAnalysis.termFreqsOf(docs).localCheckpoint()
    val termdf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    // passage plane (d9's Lee-et-al substring dedup): occurrence rows
    // are row-local windows; the per-passage count is additive and the
    // keep-one FIRST occurrence is an associative (doc_id, pidx) min —
    // exactly incremental even though the mod split means a batch doc
    // CAN become a passage's global first (min merge handles it)
    val occ = Dedup.passageOccurrencesOf(docs).localCheckpoint()
    // span plane (d18/d19's EXACT arbitrary-alignment dedup): stride-1
    // gram occurrence rows are row-local windows, the per-gram count
    // is additive, and the keep-one first occurrence is an associative
    // (doc_id, tidx) min — the passage plane's exactness argument at
    // the exact grain (r13)
    val sOcc = Dedup.spanGramsOf(docs).localCheckpoint()
    Seq("shingles" -> kept, "df" -> df, "sizes" -> sizes,
      "edges" -> edges, "clusters" -> clusters,
      "minhash" -> Dedup.minhashOf(docs), "simhash" -> Dedup.simhashOf(docs),
      "termfreq" -> tf, "termdf" -> termdf, "stats" -> stats,
      "passage_occ" -> occ, "passages" -> Dedup.passageStatsOf(occ),
      "span_occ" -> sOcc, "span_stats" -> spanStatsOf(sOcc))
  }

  /** Per-gram count + global first occurrence over a span-gram
    * occurrence frame — both partial-aggregable (the passage plane's
    * merge shape on (doc_id, tidx)). */
  private[graft] def spanStatsOf(sOcc: DataFrame): DataFrame =
    sOcc.groupBy(col("gh"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("tidx"))).as("first"))

  /** Version N+1 of the family at `root` from version N's committed
    * outputs plus `batch` (NEW doc_ids only — the ingest contract;
    * enforced nowhere because doc_id collisions are a producer bug the
    * exactness argument above does not survive). */
  private def increment(s: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Seq[(String, DataFrame)] = {
    import graft.sources.AtomicPublish.readOutput
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val baseP = readOutput(s, root, "shingles")
    val baseDf = readOutput(s, root, "df")
    val baseSizes = readOutput(s, root, "sizes")
    val baseEdges = readOutput(s, root, "edges")

    // THE only text scan in this function: the batch slice
    val bRaw = Dedup.shinglesOf(batch)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh"))
      .localCheckpoint()
    val bDf = bRaw.groupBy(col("sh")).agg(count(lit(1)).as("bdf"))
      .localCheckpoint()
    // per batch-touched shingle: base df (0 if new) and new total
    val touched = bDf.join(baseDf, Seq("sh"), "left")
      .select(col("sh"), coalesce(col("df"), lit(0L)).as("df0"),
        (coalesce(col("df"), lit(0L)) + col("bdf")).as("df2"))
      .localCheckpoint()
    val newDf = baseDf.join(touched.select(col("sh")), Seq("sh"), "left_anti")
      .unionByName(touched.select(col("sh"), col("df2").as("df")))
    // newly dropped: survived the cap at base (df0 in 1..cap, so its
    // postings ARE in the index) and pushed over it by the batch.
    // Bounded: each such shingle needs ≥1 batch posting, so |dropped|
    // ≤ batch postings — broadcast-safe by batch-proportionality.
    val dropped = touched
      .filter(col("df0") > 0 && col("df0") <= Dedup.ShingleDfCap &&
        col("df2") > Dedup.ShingleDfCap)
      .select(col("sh"))
    // batch postings of shingles whose new TOTAL respects the cap
    val bKept = bRaw.join(touched.filter(col("df2") <= Dedup.ShingleDfCap)
      .select(col("sh")), Seq("sh"), "left_semi")
    val pKept = baseP.join(broadcast(dropped), Seq("sh"), "left_anti")
    // sh-partitioned ONCE before the checkpoint: both pair-join sides
    // below read co-partitioned blocks with no further exchange (the
    // d2 r8 postmortem), and the broadcast doc_id joins that carve
    // pa/pFlag out of it preserve the partitioning
    val newP = pKept.unionByName(bKept)
      .repartition(nPart, col("sh")).localCheckpoint()

    // sizes: only drop-affected base docs and batch docs change
    val removals = baseP.join(broadcast(dropped), Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("rem"))
    val newSizes = baseSizes.join(removals, Seq("doc_id"), "left")
      .select(col("doc_id"), (col("n") - coalesce(col("rem"), lit(0L))).as("n"))
      .filter(col("n") > 0)
      .unionByName(bKept.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
      .localCheckpoint()

    // affected docs: every batch doc + every holder of a dropped
    // shingle (batch-proportional — see class doc — hence broadcast)
    val affected = bKept.select(col("doc_id"))
      .unionByName(baseP.join(broadcast(dropped), Seq("sh"), "left_semi")
        .select(col("doc_id")))
      .distinct()
      .localCheckpoint()
    // pairs with ≥1 affected endpoint over the NEW postings. The join
    // condition admits each unordered pair exactly once: both-affected
    // pairs only as (smaller, larger); one-affected pairs only with
    // the affected doc on the a-side.
    val pa = newP.join(broadcast(affected), Seq("doc_id"), "left_semi")
    val pFlag = newP.join(broadcast(affected.withColumn("aff", lit(true))),
      Seq("doc_id"), "left")
      .select(col("doc_id"), col("sh"), coalesce(col("aff"), lit(false)).as("aff"))
    val inter = pa.as("a")
      .join(pFlag.as("b"), col("a.sh") === col("b.sh") &&
        (col("a.doc_id") < col("b.doc_id") ||
          (col("a.doc_id") > col("b.doc_id") && !col("b.aff"))))
      .groupBy(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val newEdges = inter
      .join(newSizes.as("x"), col("doc_a") === col("x.doc_id"))
      .join(newSizes.as("y"), col("doc_b") === col("y.doc_id"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("x.n") + col("y.n") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // unaffected×unaffected edges carry over verbatim (exactness
    // argument in the class doc); disjoint from newEdges by definition
    val keptEdges = baseEdges
      .join(broadcast(affected.withColumnRenamed("doc_id", "doc_a")),
        Seq("doc_a"), "left_anti")
      .join(broadcast(affected.withColumnRenamed("doc_id", "doc_b")),
        Seq("doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val edges2 = keptEdges.unionByName(newEdges).localCheckpoint()
    val clusters2 = Dedup.connectedComponents(
      edges2.select(col("doc_a"), col("doc_b")))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))

    // term plane: postings append (row-local kernel over the batch
    // only); df merges additively (batch doc_ids are new, so per-term
    // df simply adds); n_docs adds the batch's tokenized-doc count
    val bTf = graft.operators.TextAnalysis.termFreqsOf(batch).localCheckpoint()
    val bDfT = bTf.groupBy(col("term")).agg(count(lit(1)).as("bdf"))
    val baseTdf = readOutput(s, root, "termdf")
    val newTdf = baseTdf.join(bDfT, Seq("term"), "full")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("bdf"), lit(0L))).as("df"))
    val newStats = readOutput(s, root, "stats").crossJoin(
      broadcast(bTf.agg(countDistinct(col("doc_id")).as("bn"))))
      .select((col("n_docs") + col("bn")).as("n_docs"))

    // passage plane: occurrences append; stats merge by count-add and
    // struct-min (least() over the (doc_id, pidx) struct — NULL-safe
    // via the full join's coalesce split)
    val bOcc = Dedup.passageOccurrencesOf(batch).localCheckpoint()
    val bPass = Dedup.passageStatsOf(bOcc)
    val newPassages = readOutput(s, root, "passages").as("a")
      .join(bPass.as("b"), Seq("ph"), "full")
      .select(col("ph"),
        (coalesce(col("a.n_occ"), lit(0L)) + coalesce(col("b.n_occ"), lit(0L)))
          .as("n_occ"),
        when(col("a.first").isNull, col("b.first"))
          .when(col("b.first").isNull, col("a.first"))
          .otherwise(least(col("a.first"), col("b.first"))).as("first"))

    // span plane: occurrences append; stats merge exactly like the
    // passage plane (count-add + NULL-safe struct-min on (doc, tidx))
    val bSOcc = Dedup.spanGramsOf(batch).localCheckpoint()
    val newSpanStats = readOutput(s, root, "span_stats").as("a")
      .join(spanStatsOf(bSOcc).as("b"), Seq("gh"), "full")
      .select(col("gh"),
        (coalesce(col("a.n_occ"), lit(0L)) + coalesce(col("b.n_occ"), lit(0L)))
          .as("n_occ"),
        when(col("a.first").isNull, col("b.first"))
          .when(col("b.first").isNull, col("a.first"))
          .otherwise(least(col("a.first"), col("b.first"))).as("first"))

    Seq(
      "shingles" -> newP, "df" -> newDf, "sizes" -> newSizes,
      "edges" -> edges2, "clusters" -> clusters2,
      "minhash" -> readOutput(s, root, "minhash")
        .unionByName(Dedup.minhashOf(batch)),
      "simhash" -> readOutput(s, root, "simhash")
        .unionByName(Dedup.simhashOf(batch)),
      "termfreq" -> readOutput(s, root, "termfreq").unionByName(bTf),
      "termdf" -> newTdf,
      "stats" -> newStats,
      "passage_occ" -> readOutput(s, root, "passage_occ").unionByName(bOcc),
      "passages" -> newPassages,
      "span_occ" -> readOutput(s, root, "span_occ").unionByName(bSOcc),
      "span_stats" -> newSpanStats)
  }

  /** Build v1 over the base slice, then incrementally publish v2
    * covering base+batch — both under one durable fence, so the d13
    * read path always sees the post-ingest snapshot. */
  private[graft] def ensureIncrementalIndex(s: SparkSession,
      dir: String): String =
    incrIndex.ensureIngested(s, dir) {
      val docs = Tables.documents(s, dir)
      (buildOutputs(s, docs.filter(col("doc_id") % BatchMod =!= 0)),
        docs.filter(col("doc_id") % BatchMod === 0))
    }

  /** d13: incrementally-maintained index snapshot — per clustered doc,
    * its cluster id and capped shingle-set size AFTER the ingest batch
    * was applied to the v1 index, plus the batch provenance flag. The
    * oracle computes the same frame from scratch over the FULL corpus
    * (d6's shared recursive-CTE block), so a hash pass IS the proof
    * that version N+1 ≡ rebuild-from-scratch on real data. */
  def d13IncrementalIndex(s: SparkSession, dir: String): DataFrame = {
    val root = ensureIncrementalIndex(s, dir)
    val cl = graft.sources.AtomicPublish.readOutput(s, root, "clusters")
    val sz = graft.sources.AtomicPublish.readOutput(s, root, "sizes")
    cl.join(sz, Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("n").as("n_shingles"),
        (col("doc_id") % BatchMod === 0).cast("int").as("is_batch"))
      .orderBy("doc_id")
  }

  /** t25: batch TF-IDF against incrementally-maintained corpus
    * statistics — the lexical half of the ingest story: a fresh
    * batch's characteristic terms are scored against CORPUS-WIDE
    * df/n_docs that version N+1 maintained additively, so the scores
    * equal a full-corpus recompute (the oracle) without one. Same
    * formula/ranking as t16 (rank on the unrounded score, term asc). */
  def t25IncrementalTfidf(s: SparkSession, dir: String): DataFrame = {
    val root = ensureIncrementalIndex(s, dir)
    val tf = graft.sources.AtomicPublish.readOutput(s, root, "termfreq")
      .filter(col("doc_id") % BatchMod === 0)
    val df = graft.sources.AtomicPublish.readOutput(s, root, "termdf")
    val nd = graft.sources.AtomicPublish.readOutput(s, root, "stats")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_raw").desc, col("term").asc)
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(nd)) // 1-row bounded metadata
      .withColumn("tfidf_raw",
        col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TextAnalysis.TfidfTopK)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("tfidf_raw"), 6).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** d14: batch mask profile against the incrementally-maintained
    * passage index — what an ingest pipeline actually asks after a
    * batch lands: how much of the NEW text duplicates passages the
    * corpus (including the batch itself) already holds, under d9's
    * exact keep-one-first masking. Reads only the committed snapshot
    * (occurrences filtered to the batch slice ⋈ merged passage stats);
    * the oracle recomputes d9 over the full corpus and filters to the
    * batch — a hash pass proves count-add + struct-min maintenance ≡
    * from-scratch. */
  def d14IncrementalPassages(s: SparkSession, dir: String): DataFrame = {
    val root = ensureIncrementalIndex(s, dir)
    val occ = graft.sources.AtomicPublish.readOutput(s, root, "passage_occ")
      .filter(col("doc_id") % BatchMod === 0)
    val stats = graft.sources.AtomicPublish.readOutput(s, root, "passages")
    Dedup.maskProfileOf(occ.join(stats, Seq("ph")))
  }

  /** d20: batch EXACT-span mask profile against the incrementally-
    * maintained span plane — d14 at d18's arbitrary-alignment grain:
    * after an ingest batch lands, how much of the new text sits
    * inside a duplicated span of length ≥ K at ANY alignment, under
    * corpus-wide keep-one-first masking. Reads ONLY the committed
    * snapshot (batch-slice gram occurrences ⋈ merged corpus-wide
    * stats; doc lengths derive from the occurrence counts — stride-1
    * full windows give n_tokens = n_windows + K − 1, so no text is
    * rescanned); the oracle recomputes d18 over the FULL corpus and
    * filters to the batch — a hash pass proves count-add + struct-min
    * span maintenance ≡ from-scratch. */
  def d20IncrementalSpans(s: SparkSession, dir: String): DataFrame = {
    val root = ensureIncrementalIndex(s, dir)
    val occ = graft.sources.AtomicPublish.readOutput(s, root, "span_occ")
      .filter(col("doc_id") % BatchMod === 0)
    val stats = graft.sources.AtomicPublish.readOutput(s, root, "span_stats")
    val tagged = occ.join(stats, Seq("gh"))
    val perDoc = occ.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    val dupPerDoc = tagged.filter(col("n_occ") > 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("tidx"))
    val k = Dedup.ExactSpanTokens
    val cov = tagged.filter(col("n_occ") > 1 &&
        !(col("doc_id") === col("first.doc_id") &&
          col("tidx") === col("first.tidx")))
      .select(col("doc_id"), col("tidx"))
      .withColumn("nxt", lead(col("tidx"), 1).over(wD))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_masked_windows"),
        sum(when(col("nxt").isNull, lit(k))
          .otherwise(least(lit(k), col("nxt") - col("tidx"))))
          .cast("long").as("n_masked_tokens"))
    perDoc
      .select(col("doc_id"), (col("n_windows") + k - 1).as("n_tokens"),
        col("n_windows"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_masked_windows"), lit(0L)).as("n_masked_windows"),
        coalesce(col("n_masked_tokens"), lit(0L)).as("n_masked_tokens"),
        round(coalesce(col("n_masked_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("masked_token_frac"))
      .orderBy("doc_id")
  }

  /** d22: batch span SCRUB against the incrementally-maintained span
    * plane — d21's excision at the ingest grain, completing the
    * plane's lifecycle (profile: d18→d20; extents: d19; removal:
    * d21→d22): after a batch lands, EMIT the batch's documents with
    * every token masked by CORPUS-WIDE keep-one-first span stats
    * excised. Mask derivation reads only the committed snapshot
    * (batch-slice occurrences ⋈ merged stats — the d20 read path);
    * the excision then reads the BATCH docs' text, which is inherent
    * to a scrub (the corpus is never rescanned — at 100 TB the batch
    * is exactly the text an ingest job already holds). A batch doc
    * whose gram is the corpus-wide FIRST occurrence keeps it; copies
    * of text the corpus already holds are excised. Oracle: the
    * from-scratch d18 mask CTEs + the shared span-scrub excision
    * tail, batch-filtered — one hash proves count-add + struct-min
    * maintenance ≡ rebuild AND the excision conservation
    * (n_tokens_kept = size(kept) vs n_tokens − removed, d21's
    * trick). */
  def d22IncrementalScrub(s: SparkSession, dir: String): DataFrame = {
    val root = ensureIncrementalIndex(s, dir)
    val occ = graft.sources.AtomicPublish.readOutput(s, root, "span_occ")
      .filter(col("doc_id") % BatchMod === 0)
    val stats = graft.sources.AtomicPublish.readOutput(s, root, "span_stats")
    val masked = occ.join(stats, Seq("gh"))
      .filter(col("n_occ") > 1 &&
        !(col("doc_id") === col("first.doc_id") &&
          col("tidx") === col("first.tidx")))
      .select(col("doc_id"), col("tidx"))
    Dedup.d21Scrub(
        Tables.documents(s, dir).filter(col("doc_id") % BatchMod === 0),
        Dedup.spanIslands(masked)
          .select(col("doc_id"), col("span_start"), col("span_end")))
      .select(col("doc_id"), col("n_tokens"), col("n_spans_removed"),
        col("n_tokens_removed"),
        size(col("kept")).cast("long").as("n_tokens_kept"),
        md5(Dedup.scrubbedTextCol).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** d23's report size: hotspots surfaced per run. */
  val HotspotK = 10

  /** d23: duplication HOTSPOTS — the top-[[HotspotK]] most-repeated
    * K-token grams with their RECONSTRUCTED TEXT, the one-page "what
    * exactly is this corpus's boilerplate" report a human reads
    * before signing off a d21/d22 scrub (counts and fractions say how
    * much; this says WHAT — license headers, navigation chrome,
    * templated disclaimers). Read path over the committed span plane:
    * per-gram counts + global-first positions come from the snapshot's
    * span_stats (duplication-mass bounded), the top-K cut is a
    * distributed TakeOrdered on the TOTAL order (n_occ desc,
    * first.doc_id, first.tidx — a position holds ONE gram, so the
    * tie-break is engine-independent and never leans on the 64-bit
    * hash), and only the K winners join the corpus to slice their
    * text out of the first-occurrence document. Overlap caveat
    * (documented, not hidden): a duplicated span of length L ≥ K
    * contributes L−K+1 overlapping grams with equal counts — the
    * report shows the span through its constituent grams, which is
    * what the d19 extents view is for when region boundaries matter.
    * Oracle: the same report from gram STRINGS (d18's no-xxhash64
    * style) — a hash pass proves the committed stats, the top-K cut,
    * and the text reconstruction all at once. */
  def d23SpanHotspots(s: SparkSession, dir: String): DataFrame = {
    val k = Dedup.ExactSpanTokens
    val root = ensureIncrementalIndex(s, dir)
    val top = graft.sources.AtomicPublish.readOutput(s, root, "span_stats")
      .filter(col("n_occ") > 1)
      .select(col("n_occ"), col("first.doc_id").as("first_doc"),
        col("first.tidx").as("first_tidx"))
      .orderBy(col("n_occ").desc, col("first_doc"), col("first_tidx"))
      .limit(HotspotK)
    val w = Window.orderBy(col("n_occ").desc, col("first_doc"),
      col("first_tidx"))
    top
      .join(Tables.documents(s, dir)
        .select(col("doc_id").as("first_doc"),
          Dedup.spanTokens(col("text")).as("ws")), Seq("first_doc"))
      .select(col("n_occ"), col("first_doc"), col("first_tidx"),
        concat_ws(" ",
          slice(col("ws"), col("first_tidx") + 1, lit(k))).as("span_text"))
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("n_occ"), col("first_doc"),
        col("first_tidx"), col("span_text"))
      .orderBy("rank")
  }

  /** pipe5's quality floor: minimum token count for a batch document
    * to enter the curated corpus (the g1 length rule's cheap proxy,
    * evaluable from the committed term plane alone). */
  val Pipe5MinTokens = 20

  /** pipe5: the composed ingest-batch curation verdict — the end-to-end
    * pipeline the incremental planes exist FOR, as one read-path query:
    * per batch document, its near-dup verdict from the committed
    * cluster table (duplicate ⟺ clustered with cluster_id ≠ self — the
    * d6 min-member canonical convention, so survivorship is
    * deterministic), its token mass from the committed term plane, and
    * the final keep/drop decision (not a duplicate AND ≥
    * [[Pipe5MinTokens]] tokens). NOTHING here scans text: every input
    * is committed index parquet maintained incrementally by d13's
    * machinery, which is exactly how a 100 TB ingest pipeline decides
    * batch admission — the oracle recomputes the same verdicts from the
    * FULL corpus (recursive-CTE clusters + raw token counts), so a
    * hash pass proves the composed read-path decision ≡ a from-scratch
    * decision every round. */
  def pipe5IncrementalCorpus(s: SparkSession, dir: String): DataFrame = {
    val root = ensureIncrementalIndex(s, dir)
    val cl = graft.sources.AtomicPublish.readOutput(s, root, "clusters")
    val csz = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("cl_size"))
    val ntok = graft.sources.AtomicPublish.readOutput(s, root, "termfreq")
      .filter(col("doc_id") % BatchMod === 0)
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("n_tokens"))
    val isDup = (col("cl").isNotNull && col("cl_size") > 1 &&
      col("doc_id") =!= col("cl")).cast("int")
    ntok
      .join(cl.select(col("doc_id"), col("cluster_id").as("cl")), Seq("doc_id"), "left")
      .join(csz.select(col("cluster_id").as("cl"), col("cl_size")), Seq("cl"), "left")
      .select(col("doc_id"), coalesce(col("cl"), col("doc_id")).as("cluster_id"),
        col("n_tokens"), isDup.as("is_dup"),
        (isDup === 0 && col("n_tokens") >= Pipe5MinTokens).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  /** The novelty plane's first-occurrence table over an arbitrary doc
    * frame: md5 shingle digest → smallest holding doc_id. Deliberately
    * UNCAPPED and md5-keyed (unlike the family's DF-capped xxhash64
    * postings): novelty needs true first-occurrence for COMMON
    * shingles most of all, and md5 keeps the full SQL oracle
    * applicable. */
  private[graft] def noveltyFirstsOf(docs: DataFrame): DataFrame =
    Dedup.shinglesOf(docs)
      .select(col("doc_id"), md5(col("sh")).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("fdoc"))

  private[graft] val noveltyIndex = Artifact.incremental("novelty_index", "documents")(
    s"novelty-v1;split=mod$BatchMod;kernel=word3gram-md5;uncapped")(noveltyIncrement)

  /** Version N+1 of the novelty index from version N's COMMITTED
    * firsts plus only the batch text: first-occurrence is an
    * associative min, so the merge is ONE keyed full-join (the
    * passage plane's `first` merge at shingle grain). With an
    * arrival-ordered id the merge degenerates to pure append (history
    * firsts are immutable — new docs can only be non-novel against
    * them); the min handles the general out-of-order case exactly. */
  private def noveltyIncrement(s: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Seq[(String, DataFrame)] = {
    val bF = noveltyFirstsOf(batch)
    val merged = graft.sources.AtomicPublish.readOutput(s, root, "firsts").as("a")
      .join(bF.as("b"), Seq("h"), "full")
      .select(col("h"),
        when(col("a.fdoc").isNull, col("b.fdoc"))
          .when(col("b.fdoc").isNull, col("a.fdoc"))
          .otherwise(least(col("a.fdoc"), col("b.fdoc"))).as("fdoc"))
    Seq("firsts" -> merged)
  }

  /** Build v1 over the base slice, then incrementally publish v2
    * covering base+batch (the [[ensureIncrementalIndex]] shape on the
    * novelty plane). */
  private[graft] def ensureNoveltyIndex(s: SparkSession, dir: String): String =
    noveltyIndex.ensureIngested(s, dir) {
      val docs = Tables.documents(s, dir)
      (Seq("firsts" -> noveltyFirstsOf(docs.filter(col("doc_id") % BatchMod =!= 0))),
        docs.filter(col("doc_id") % BatchMod === 0))
    }

  /** t29: batch novelty against the incrementally-maintained
    * first-occurrence index — t27's per-doc novelty score for an
    * ingest batch WITHOUT rescanning the base corpus (the curation
    * signal a streaming pipeline actually wants: "does this batch add
    * anything new?"). The only text scan is the batch slice; firsts
    * come from the committed snapshot the ingest maintained. The
    * oracle recomputes first-occurrence over the FULL corpus and
    * filters to the batch, so a hash pass proves the min-merge
    * maintenance ≡ a from-scratch recompute. */
  def t29IncrementalNovelty(s: SparkSession, dir: String): DataFrame = {
    val root = ensureNoveltyIndex(s, dir)
    val firsts = graft.sources.AtomicPublish.readOutput(s, root, "firsts")
    val occ = Dedup.shinglesOf(
      Tables.documents(s, dir).filter(col("doc_id") % BatchMod === 0))
      .select(col("doc_id"), md5(col("sh")).as("h"))
    occ.join(firsts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fdoc") === col("doc_id"), 1).otherwise(0))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t29_incremental_novelty" -> (t29IncrementalNovelty _),
    "d20_incremental_spans" -> (d20IncrementalSpans _),
    "d22_incremental_scrub" -> (d22IncrementalScrub _),
    "d23_span_hotspots" -> (d23SpanHotspots _),
    "d13_incremental_index" -> (d13IncrementalIndex _),
    "t25_incremental_tfidf" -> (t25IncrementalTfidf _),
    "pipe5_incremental_corpus" -> (pipe5IncrementalCorpus _),
    "d14_incremental_passages" -> (d14IncrementalPassages _))

  val oracles: Map[String, String] = Map(
    // t27's full-corpus first-occurrence recompute, filtered to the
    // batch slice — a hash pass proves the novelty index's min-merge
    // maintenance equals a from-scratch recompute
    "t29_incremental_novelty" ->
      // the parameterized t27 builder (not string surgery on t27's
      // shipped SQL — r12 advice #4): shared statistics CTEs by
      // construction, the batch predicate lands exactly once
      TextAnalysis.t27NoveltyOracle(Some(s"s.doc_id % $BatchMod = 0")),
    "pipe5_incremental_corpus" ->
      s"""${Dedup.ClusterOracleCte},
         |csz AS (SELECT cluster_id, COUNT(*) AS cl_size FROM cl GROUP BY 1),
         |ntok AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT n.doc_id, COALESCE(cl.cluster_id, n.doc_id) AS cluster_id,
         |  n.n_tokens,
         |  CAST(CASE WHEN cl.cluster_id IS NOT NULL AND csz.cl_size > 1
         |      AND n.doc_id != cl.cluster_id THEN 1 ELSE 0 END AS INT)
         |    AS is_dup,
         |  CAST(CASE WHEN NOT (cl.cluster_id IS NOT NULL AND csz.cl_size > 1
         |      AND n.doc_id != cl.cluster_id)
         |      AND n.n_tokens >= $Pipe5MinTokens THEN 1 ELSE 0 END AS INT)
         |    AS kept
         |FROM ntok n LEFT JOIN cl ON n.doc_id = cl.doc_id
         |LEFT JOIN csz ON cl.cluster_id = csz.cluster_id
         |WHERE n.doc_id % $BatchMod = 0 ORDER BY n.doc_id""".stripMargin,
    "d13_incremental_index" ->
      s"""${Dedup.ClusterOracleCte}
        |SELECT cl.doc_id, cl.cluster_id, sz.n AS n_shingles,
        |  CAST(CASE WHEN cl.doc_id % $BatchMod = 0 THEN 1 ELSE 0 END AS INT) AS is_batch
        |FROM cl JOIN sz USING (doc_id)
        |ORDER BY cl.doc_id""".stripMargin,
    "t25_incremental_tfidf" ->
      // t16's full-corpus statistics, scored rows filtered to the
      // batch slice — a hash pass proves the additive df/n_docs
      // maintenance equals a from-scratch recompute
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM tf),
         |scored AS (SELECT doc_id, term,
         |    tf * ln((nd + 1.0) / (df + 1.0)) AS tfidf_raw,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY tf * ln((nd + 1.0) / (df + 1.0)) DESC, term ASC) AS rank
         |  FROM tf JOIN df USING (term) CROSS JOIN n
         |  WHERE doc_id % $BatchMod = 0)
         |SELECT doc_id, rank, term, round(tfidf_raw, 6) AS tfidf
         |FROM scored WHERE rank <= ${TextAnalysis.TfidfTopK}
         |ORDER BY doc_id, rank""".stripMargin,
    // d9's full-corpus oracle with its final aggregate filtered to the
    // batch slice (stats stay corpus-wide — that's the point)
    "d14_incremental_passages" ->
      Dedup.d9SubstringOracle(Some(s"occ.doc_id % $BatchMod = 0")),
    // d18's full-corpus oracle with the profiled docs filtered to the
    // batch slice (gram statistics stay corpus-wide — that's the
    // point); via the parameterized builder, not string surgery
    "d20_incremental_spans" ->
      Dedup.d18SpansOracle(Some(s"tok.doc_id % $BatchMod = 0")),
    // the from-scratch span-mask CTEs + the shared excision tail,
    // batch-filtered: one hash proves incremental maintenance ==
    // rebuild AND the excision conservation (d21's trick) at once
    "d22_incremental_scrub" ->
      Dedup.spanScrubOracleFrom(Dedup.spanMaskCtePrefix,
        Some(s"doc_id % $BatchMod = 0")),
    // the shared mask-CTE prefix already defines st (per-gram counts)
    // and fst (global first occurrence) over gram STRINGS — the
    // hotspot report is a top-K + text projection over them
    "d23_span_hotspots" ->
      s"""${Dedup.spanMaskCtePrefix},
         |top AS (SELECT st.gram, st.n_occ, fst.fdoc, fst.ftidx
         |  FROM st JOIN fst USING (gram) WHERE st.n_occ > 1
         |  ORDER BY st.n_occ DESC, fst.fdoc, fst.ftidx LIMIT $HotspotK)
         |SELECT ROW_NUMBER() OVER (ORDER BY n_occ DESC, fdoc, ftidx)
         |    AS rank,
         |  n_occ, fdoc AS first_doc, ftidx AS first_tidx,
         |  gram AS span_text
         |FROM top ORDER BY rank""".stripMargin)
}
