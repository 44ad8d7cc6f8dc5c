package graft.operators

import graft.Tables
import graft.sources.Artifact
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for LLM training-data pipelines (SURVEY §2
  * rows 24-28): exact hash dedup, n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale design: nothing here is O(n²) on the full corpus. Candidate
  * pairs come from equi-joins on shared shingles / LSH band buckets /
  * hamming chunks, so the cost is linear in the bucket sizes. The
  * verification step (exact Jaccard / hamming / cosine) only touches
  * candidates. At 100 TB the shingle and band joins shuffle on their
  * keys; ultra-common shingles are dropped by the document-frequency
  * cap below, which is what keeps the candidate join linear — a
  * within-bucket pair explosion cannot be fixed by AQE skew splitting
  * because every pair in the bucket is a real join output.
  */
object Dedup {

  /** Max documents a shingle may appear in and still generate
    * candidates. A shingle shared by k documents emits k(k-1)/2
    * candidate pairs, so one corpus-common trigram ("terms of
    * service") turns the candidate join quadratic; shingles this
    * common carry no near-dup signal. Jaccard is computed over the
    * capped shingle space on BOTH engines (intersections AND sizes),
    * so the oracle semantics stay exactly comparable. */
  val ShingleDfCap = 100

  /** Drop shingles whose document frequency exceeds [[ShingleDfCap]].
    * One aggregate on the shingle key (map-side partial counts), then
    * a broadcast anti-join: the hot set is tiny BY CONSTRUCTION (at
    * most n_shingles/cap shingles can exceed the cap), so no second
    * corpus-wide shuffle. */
  private[graft] def capByDf(sh: DataFrame): DataFrame = {
    val hot = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap)
      .select(col("sh"))
    sh.join(broadcast(hot), Seq("sh"), "left_anti")
  }

  /** Distinct word 3-gram shingles per document. Native
    * DistinctWordNgrams expression: one compiled call per row, deduped
    * in-row (docs with <3 tokens yield an empty array, which explode
    * drops). */
  private[graft] def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(s, dir))

  /** [[shingles]] over an arbitrary (doc_id, text) frame — the
    * incremental index path ([[Incremental]]) runs the kernel over
    * ONLY an ingest batch. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    // per-doc dedup is ROW-LOCAL: the kernel dedups inside each
    // document and the explode is a pure projection — the old
    // explode + corpus-wide DISTINCT paid a full (doc, shingle)
    // shuffle for the same per-row set (doc_id was in every key).
    // r16: the r15 Cols.spread here is REVERTED. The r15 driver
    // capture flagged its consumers (d16 2.83×, t27 2.03× vs the r14
    // cohort) and a controlled full-suite A/B this round confirmed
    // it: with the spread removed and host drift normalized out via
    // the 287 untouched queries (control geomean 0.852), d16 ran
    // 0.50× (≈2× real win), t27 0.65×, t29 0.74×, d3 0.72×, and no
    // consumer regressed. Every shinglesOf consumer feeds a keyed
    // aggregation tree, so the round-robin text shuffle paid more
    // than the kernel parallelism bought — exactly the wave-4 rule
    // ("spread pays only when kernel output flows straight to the
    // result") that already rejected spreads for t20/t26/t11.
    docs
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.WordNgramsExpr.distinctWordNgrams(col("text"), 3))
        .as("sh"))

  /** d1: exact-content dedup via md5 hash-groupBy — the 100 TB-safe
    * form of DISTINCT ON (content): one shuffle on the 128-bit hash,
    * never on the full text. */
  def d1DedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** d12: sketch calibration — MinHash-vs-exact Jaccard error over the
    * exact near-dup pair set (n13's "eval your index in-engine"
    * discipline applied to d3's sketches): MAE, p90 |error|, signed
    * bias, and the theoretical binomial SE √(J(1−J)/K) the errors
    * should track. At 100 TB one runs this on a SAMPLE before trusting
    * a K/band choice corpus-wide — sketch parameters are picked from
    * measured calibration, not vibes. The exact pair set is d2's
    * bounded output, so both signature joins are keyed lookups against
    * it; the reduction is one row. FULL hash oracle since r15 (r14
    * ask #3a): the signatures are committed `sig_index` parquet, so
    * DuckDB replays the agree-count + error arithmetic from the
    * version-resolved tables (the n13 discipline); the spec
    * additionally bounds MAE by the binomial SE. Every mean folds as
    * 1e-9-quantized decimal sums (order-free, overflow-proof) and
    * p90 interpolates over the SAME quantized grid — integer-valued
    * doubles make `percentile`/`quantile_cont` bit-identical. */
  def d12SketchCalibration(s: SparkSession, dir: String): DataFrame = {
    val exact = d2NgramJaccard(s, dir)
    val wide = minhashWide(s, dir)
    val agree = (0 until MinhashK)
      .map(i => when(col(s"x.mh$i") === col(s"y.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    exact
      .join(wide.as("x"), col("doc_a") === col("x.doc_id"))
      .join(wide.as("y"), col("doc_b") === col("y.doc_id"))
      .withColumn("est", agree.cast("double") / MinhashK)
      .select(col("jaccard"), col("est"))
      .withColumn("q_abs",
        floor(abs(col("est") - col("jaccard")) * lit(1e9) + lit(0.5))
          .cast("long"))
      .withColumn("q_bias",
        floor((col("est") - col("jaccard")) * lit(1e9) + lit(0.5))
          .cast("long"))
      .withColumn("q_se",
        floor(sqrt(col("jaccard") * (lit(1.0) - col("jaccard")) / MinhashK) *
          lit(1e9) + lit(0.5)).cast("long"))
      .agg(count(lit(1)).as("n_pairs"),
        round((sum(col("q_abs").cast("decimal(38,0)")).cast("double") /
          count(lit(1))) / lit(1e9), 6).as("mae"),
        round(expr("percentile(q_abs, 0.9D)") / lit(1e9), 6)
          .as("p90_abs_err"),
        round((sum(col("q_bias").cast("decimal(38,0)")).cast("double") /
          count(lit(1))) / lit(1e9), 6).as("bias"),
        round((sum(col("q_se").cast("decimal(38,0)")).cast("double") /
          count(lit(1))) / lit(1e9), 6).as("mean_theoretical_se"))
  }

  /** d11: duplication audit report — the cluster-size histogram of
    * exact-duplicate groups (how many singletons / pairs / k-way
    * copies, and the removable-row count per size): the one-page
    * answer to "how duplicated is this corpus and what does dedup buy
    * us", produced BEFORE committing to a d1 pass — every corpus-prep
    * run reports this next to its token counts. Grouping key is
    * md5(text), not the text itself, so the first shuffle moves 32-
    * byte digests instead of document bodies; the histogram is a
    * second aggregate over the group-size frame (bounded by #distinct
    * sizes). All-integer ⇒ bit-exact across engines. */
  private[graft] def dupHistogram(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"),
        ((col("group_size") - 1) * col("n_groups")).as("n_removable"))
      .orderBy("group_size")

  def d11DupHistogram(s: SparkSession, dir: String): DataFrame =
    dupHistogram(Tables.documents(s, dir))

  /** d2: exact n-gram Jaccard near-dup pairs. Candidates = pairs that
    * share ≥1 surviving (DF-capped) shingle (equi-join on shingle),
    * so disjoint documents are never compared and hot shingles never
    * go quadratic. Jaccard is an exact integer ratio → bit-identical
    * doubles across engines. */
  def d2NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // the candidate self-join (64-bit hashed shingles, DF-capped,
    // co-partitioned — the full scale commentary lives on
    // overlapFrom/ensureShingleIndex) runs ONCE at index build; this
    // query is a filter over the committed pair table
    shingleOverlap(s, dir)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Durable DF-capped shingle index: the (doc_id, sh) postings frame
    * at word-trigram grain plus the per-doc set sizes, built ONCE per
    * corpus fingerprint and published through [[graft.sources.AtomicPublish]]
    * (the ANN/text/cluster index pattern applied one layer deeper).
    * Three consumers read it — d2's Jaccard scoring, d7's containment
    * scoring, and the cluster-index build (via d2) — and before this
    * each of them re-ran the shingle kernel scan + the DF-cap
    * aggregate over the whole corpus. At 100 TB the shingle frame is
    * an ingest-time artifact: every near-dup sweep is a read-path
    * equi-join against committed parquet, never a corpus re-scan. */
  private[graft] val shingleIndex = Artifact("shingle_index", "documents")(
    // build-recipe salt: a cap/kernel change must NOT silently serve
    // an index built under the old parameters. v2: the index grew the
    // scored OVERLAPS table — pair scoring is now a build artifact,
    // not a per-query join
    s"shingle-v2;dfcap=$ShingleDfCap;kernel=word3gram-xxh64;" +
      s"overlaps=cont${OverlapFloorPct}pct")

  /** The published pair table's admission floor, as an exact integer
    * predicate: containment = inter/min(n_a,n_b) ≥ 0.5 ⇔ 2·inter ≥
    * min. Containment ≥ Jaccard always (min ≤ union), so this ONE
    * floor admits a superset of BOTH consumers' thresholds — d2's
    * jaccard ≥ 0.5 and d7's containment ≥ [[ContainmentTau]] — and
    * each reads the committed table and applies its own exact filter.
    * Pairs below it are noise neither operator can ever emit. */
  val OverlapFloorPct = 50

  private[graft] def ensureShingleIndex(s: SparkSession, dir: String): String =
    shingleIndex.ensure(s, dir) {
      // localCheckpoint: all published outputs derive from the capped
      // frame; without it the "sizes" stage would re-run the kernel
      // scan + cap aggregate (blocks are freed when the build returns)
      val sh = capByDf(shingles(s, dir)
        .select(col("doc_id"), xxhash64(col("sh")).as("sh")))
        .localCheckpoint()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      // the pair self-join runs ONCE here, at build — d2's Jaccard and
      // d7's containment verdicts (and d12's calibration, via d2) are
      // read-path filters over this committed table (the r11 verdict's
      // "double-pay" ask: at sf1 d2+d7 each re-ran this join)
      val overlaps = overlapFrom(s, sh, sizes)
        .filter(col("inter") * (100 / OverlapFloorPct) >=
          least(col("n_a"), col("n_b")))
      Seq("shingles" -> sh, "sizes" -> sizes, "overlaps" -> overlaps)
    }

  /** Shared candidate frame for d2/d7: per-pair shingle intersection
    * counts plus both set sizes — read from the PUBLISHED `overlaps`
    * table ([[ensureShingleIndex]] runs the capped self-join ONCE at
    * build; see [[OverlapFloorPct]] for why its floor admits a
    * superset of both consumers' thresholds). The read path is a pure
    * committed-parquet scan: no pair join, no shingle kernel, no
    * sh-exchange at all (PlanAuditSpec pins all three) — at 100 TB a
    * near-dup sweep is a filter over the ingest-time pair artifact. */
  private[graft] def shingleOverlap(s: SparkSession, dir: String): DataFrame =
    graft.sources.AtomicPublish.readOutput(
      s, ensureShingleIndex(s, dir), "overlaps")

  /** The overlap self-join over an EXPLICIT capped postings + sizes
    * pair — shared by the published-index read path above and the
    * incremental index build ([[Incremental]]), so the pair semantics
    * cannot drift between them. */
  private[graft] def overlapFrom(s: SparkSession, shRaw: DataFrame,
      sz: DataFrame): DataFrame = {
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sh = shRaw.repartition(nPart, col("sh"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sz.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
  }

  val ContainmentTau = 0.8 // min overlap fraction of the SMALLER set

  /** d7: containment near-dup pairs — |A∩B| / min(|A|,|B|) ≥
    * [[ContainmentTau]] over the same capped shingle space as d2.
    * Jaccard misses ASYMMETRIC duplication by construction: a page
    * quoted whole inside a 10× larger page has J ≈ 0.1 but
    * containment 1.0, and web corpora are full of exactly that
    * (boilerplate-wrapped articles, quoted posts, aggregator pages —
    * the case Broder's resemblance/containment split was invented
    * for, SEQUENCES'97). Emits which doc is the contained one (the
    * smaller set; ties to doc_a). Same candidate plan as d2 —
    * DF-capped equi-join, never all-pairs — so the scale story is
    * d2's, and exact integer ratios keep it fully hash-checkable. */
  def d7ContainmentDedup(s: SparkSession, dir: String): DataFrame =
    shingleOverlap(s, dir)
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= ContainmentTau)
      .select(col("doc_a"), col("doc_b"), col("containment"),
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_id"))
      .orderBy("doc_a", "doc_b")

  val MinhashK = 32 // signature length
  val BandSize = 4 // rows per LSH band → 8 bands: P(miss a 0.8-Jaccard
  // pair) = (1 - 0.8^4)^8 ≈ 1.5%, vs 12% at 4 bands

  /** Per-document MinHash signature as ONE wide row (doc_id,
    * mh0..mh31) — computed by the native
    * [[org.apache.spark.sql.graft.MinHash32]] kernel in a single call
    * per document (in-row shingle dedup + 32 mins, hash family
    * identical to the SQL `xxhash64(i, sh)` the aggregate form used —
    * DedupSpec pins bit-equality). MinHash is row-local, so the
    * signature stage is a zero-shuffle scan+project; the explode +
    * corpus-wide DISTINCT + 32-min aggregate it replaces paid two
    * corpus shuffles. Docs with <3 tokens have no shingles and are
    * dropped, mirroring the aggregate form. */
  private def minhashBuild(s: SparkSession, dir: String): DataFrame =
    minhashOf(Tables.documents(s, dir))

  /** MinHash signatures over an arbitrary (doc_id, text) frame —
    * row-local, so an incremental ingest computes ONLY the batch's
    * signatures and appends ([[Incremental]]). */
  private[graft] def minhashOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        org.apache.spark.sql.graft.MinHash32.minhash32(col("text")).as("mh"))
      .filter(size(col("mh")) === MinhashK)
      .select((col("doc_id") +:
        (0 until MinhashK).map(i => col("mh")(i).as(s"mh$i"))): _*)

  /** Durable signature index: MinHash-32 and SimHash-64 signatures
    * per document, built ONCE per corpus fingerprint and published
    * together (one fence, two outputs — they share the rebuild
    * trigger). Sketch signatures are THE canonical ingest-time
    * artifact of a dedup pipeline: d3's banding, d4's hamming
    * chunks, and d12's calibration all consume committed 33-column /
    * 2-column parquet instead of re-running the signature kernels
    * over the corpus per query. */
  private[graft] val sigIndex = Artifact("sig_index", "documents")(
    // v2: the index grew the BANDS table — banding is an ingest-time
    // artifact now (d3 reads it, d24 evaluates it, the oracle replays
    // it), not a per-query recompute
    s"sig-v2;minhash=k$MinhashK-xxh64;simhash=64-seed42;" +
      s"bands=b${MinhashK / BandSize}x$BandSize-xxh64")

  /** LSH band keys from the wide (doc_id, mh0..mh31) signature frame:
    * MinhashK/BandSize keys per doc, the band index mixed into each
    * key so cross-band collisions vanish and ONE equi-join on
    * band_key yields candidates. Shared by the sig-index build (which
    * publishes it) and nothing else — consumers read the committed
    * table. */
  private[graft] def bandsOf(wide: DataFrame): DataFrame = {
    val bandKeys = array((0 until MinhashK / BandSize).map(b =>
      xxhash64((lit(b) +: (0 until BandSize).map(r =>
        col(s"mh${b * BandSize + r}"))): _*)): _*)
    wide.select(col("doc_id"), explode(bandKeys).as("band_key"))
  }

  private[graft] def ensureSigIndex(s: SparkSession, dir: String): String =
    sigIndex.ensure(s, dir) {
      // one kernel scan feeds both the signature table and its bands
      val mh = minhashBuild(s, dir).localCheckpoint()
      Seq("minhash" -> mh,
        "bands" -> bandsOf(mh),
        "simhash" -> simhashBuild(s, dir))
    }

  /** Read one sig-index output, recording its committed version for
    * the d3/d4/d12/d24 oracles (d12's DuckDB oracle reads the SAME
    * committed minhash parquet). */
  private def sigOutput(s: SparkSession, dir: String,
      name: String): DataFrame = {
    val root = ensureSigIndex(s, dir)
    sigIndex.recordVersion(s, dir)
    graft.sources.AtomicPublish.readOutput(s, root, name)
  }

  /** The wide (doc_id, mh0..mh31) signature frame, read from the
    * published signature index. */
  private def minhashWide(s: SparkSession, dir: String): DataFrame =
    sigOutput(s, dir, "minhash")

  /** d3: MinHash + LSH banding. Signatures band into MinhashK/BandSize
    * buckets; docs colliding in ≥1 band become candidates; the
    * estimated Jaccard is the fraction of agreeing signature slots.
    * The band index is mixed into each band key, so cross-band key
    * collisions are vanishing and one equi-join on band_key suffices.
    * FULL hash oracle since r15: both the bands and the signatures
    * are committed sig_index parquet, so DuckDB replays candidate
    * generation AND the agree-count estimate from the
    * version-resolved tables; ScalaTest additionally asserts the
    * candidates cover all true Jaccard≥0.8 pairs from d2. */
  def d3MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    // index-backed: candidates come from the COMMITTED bands table
    // (published at sig-index build since sig-v2 — so d24's eval
    // grades exactly the table d3 serves from) and both verification
    // sides re-read the published signature parquet (cheap,
    // column-pruned)
    val wide = minhashWide(s, dir)
    val bands = sigOutput(s, dir, "bands")
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val agree = (0 until MinhashK)
      .map(i => when(col(s"x.mh$i") === col(s"y.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(wide.as("x"), col("doc_a") === col("x.doc_id"))
      .join(wide.as("y"), col("doc_b") === col("y.doc_id"))
      .withColumn("est_jaccard", agree.cast("double") / MinhashK)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The banding's design-point truth threshold for [[d24LshPairEval]]:
    * with 8 bands × 4 rows, P(catch a J=0.8 pair) = 1−(1−0.8⁴)⁸ ≈
    * 98.5% — the parameter choice d24 measures against. */
  val LshTrueJaccard = 0.8

  /** d24: LSH banding retrieval eval — d12 measures the SIGNATURE's
    * estimation error; this measures the BANDING's retrieval quality,
    * the number an operator actually tunes band counts against:
    * candidates from the committed `bands` table (the SAME table d3
    * serves from) scored against the exact d2 pair set at the
    * banding's design threshold J ≥ [[LshTrueJaccard]]. One row:
    * candidate count, true-pair count, caught count, recall (theory
    * ≈ 98.5% at 8×4), corpus size, and candidate_frac — the fraction
    * of all n·(n−1)/2 pairs the banding ever compares, i.e. the
    * quadratic-work budget it spends to buy that recall. At 100 TB
    * this runs on a sample BEFORE committing band parameters
    * corpus-wide (d12's calibration discipline at the pair grain).
    * All-integer counts, exact ratios, 1-row broadcast reductions. */
  def d24LshPairEval(s: SparkSession, dir: String): DataFrame = {
    val bands = sigOutput(s, dir, "bands")
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val truth = d2NgramJaccard(s, dir)
      .filter(col("jaccard") >= LshTrueJaccard)
      .select(col("doc_a"), col("doc_b"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nHit = truth.join(cand, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_caught"))
    val nDocs = minhashWide(s, dir).agg(count(lit(1)).as("n_docs"))
    nCand.crossJoin(broadcast(nTrue)).crossJoin(broadcast(nHit))
      .crossJoin(broadcast(nDocs)) // 1-row bounded metadata
      .select(col("n_candidates"), col("n_true"), col("n_caught"),
        when(col("n_true") === 0, lit(1.0))
          .otherwise(col("n_caught") / col("n_true").cast("double"))
          .as("recall"),
        col("n_docs"),
        round(col("n_candidates") / (col("n_docs").cast("double") *
          (col("n_docs") - 1) / 2.0), 6).as("candidate_frac"))
  }

  /** d4: 64-bit SimHash near-dup. Signature bit i is the sign of the
    * sum over tokens of ±1 from the token hash's bit i (bit_or
    * assembly avoids int64 overflow). Candidates share ≥1 of four
    * 16-bit chunks (pigeonhole: covers all pairs with hamming ≤ 3,
    * and most up to the [[SimhashMaxHamming]] output threshold);
    * verified hamming = bit_count(xor). FULL hash oracle since r15:
    * the signatures are committed sig_index parquet and chunking /
    * hamming are two's-complement BIGINT ops DuckDB shares with the
    * JVM; ScalaTest on top. */
  def d4Simhash(s: SparkSession, dir: String): DataFrame = {
    val sig = simhashSignatures(s, dir)
    val chunks = sig.select(col("doc_id"), col("simhash"), explode(expr(
      "transform(sequence(0, 3), c -> named_struct('c', c, 'v', (simhash >> (c * 16)) & 65535))"))
      .as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.c").as("c"), col("ch.v").as("v"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** d4's output threshold: pairs within this hamming distance are
    * near-dups (the 4×16-bit chunk pigeonhole guarantees candidates
    * to hamming ≤ 3 and covers most of the band up to here). Shared
    * with the committed-signature oracle. */
  val SimhashMaxHamming = 12

  /** 64-bit SimHash signature per document — ONE compiled call per
    * row via the native [[org.apache.spark.sql.graft.SimHash64]]
    * kernel (tokenize → xxhash64-seed-42 per token → 64 votes →
    * sign-bit assembly, all in a flat loop). SimHash is row-local by
    * definition, so the signature stage is a zero-shuffle
    * scan+project; the explode-to-token-rows + 64-column vote
    * aggregate this replaces shuffled corpus×tokens rows just to
    * compute a per-document value (DedupSpec pins bit-identical
    * signatures against that aggregate formulation). */
  private[graft] def simhashBuild(s: SparkSession, dir: String): DataFrame =
    simhashOf(Tables.documents(s, dir))

  /** SimHash signatures over an arbitrary (doc_id, text) frame (see
    * [[minhashOf]]). */
  private[graft] def simhashOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        org.apache.spark.sql.graft.SimHash64.simhash64(col("text")).as("simhash"))

  /** The (doc_id, simhash) frame, read from the published signature
    * index (see [[sigIndex]]). */
  private[operators] def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    sigOutput(s, dir, "simhash")

  val NeardupTau = 0.4 // cosine threshold for d5 near-dup pairs

  /** Candidate cell pairs under the exact angular triangle-inequality
    * bound: for vectors a∈cell i, b∈cell j,
    * θ(a,b) ≥ θ(cᵢ,cⱼ) − rᵢ − rⱼ (rᵢ = max angle of a member to its
    * centroid), so any cell pair with θ(cᵢ,cⱼ) > rᵢ + rⱼ + θ_τ cannot
    * contain a qualifying pair and is pruned with NO recall loss.
    * Pure driver-side math over the bounded centroid set (≤IvfCells²
    * comparisons on a few KB). Emits ordered pairs both ways plus
    * (i,i), so each unordered vector pair matches exactly one entry. */
  private[graft] def cellPairCandidates(
      cells: Seq[(Long, Array[Double], Double)],
      radii: Map[Long, Double],
      thetaTau: Double): Seq[(Long, Long)] = {
    def angle(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Double = {
      var d = 0.0
      var i = 0
      val n = math.min(a._2.length, b._2.length)
      while (i < n) { d += a._2(i) * b._2(i); i += 1 }
      math.acos(math.max(-1.0, math.min(1.0, d / (a._3 * b._3))))
    }
    for {
      a <- cells
      b <- cells
      if angle(a, b) <=
        radii.getOrElse(a._1, 0.0) + radii.getOrElse(b._1, 0.0) + thetaTau
    } yield (a._1, b._1)
  }

  /** d5 core over an arbitrary (vec_id, v, nrm) corpus: EXACT
    * cosine-threshold self-join, shaped for a cluster. Why not LSH
    * candidates: at τ=0.4 a random-hyperplane bit agrees with
    * probability 1−θ_τ/π ≈ 0.63, so a 4-bit table catches a
    * borderline pair with p⁴ ≈ 0.16 and even 16 tables miss ~6% of
    * them — measured on this corpus every qualifying pair lies in
    * cosine 0.40–0.51, so approximate candidates can never match the
    * exact oracle; ~78 tables would be needed for reliable full
    * recall. Exact pruning instead: vectors get the zero-shuffle IVF
    * cell assignment shared with n3, per-cell angular radii are one
    * bounded aggregate, and [[cellPairCandidates]] drops every cell
    * pair the triangle inequality proves empty. The surviving pairs
    * flow through an EQUI-join on the cell key — a shuffled hash
    * join with per-task memory bounded by cell size, never a
    * BroadcastNestedLoopJoin of the corpus (PlanAuditSpec pins
    * this). On clustered corpora (the realistic near-dup setting)
    * pruning is super-linear; on uniform data it degrades to a
    * blocked, evenly-partitioned all-pairs — the unavoidable cost of
    * EXACT threshold semantics, with cell count as the parallelism
    * knob. The approximate scale paths remain n2 (LSH) and n6
    * (SemDeDup). */
  private[graft] def neardupPairs(s: SparkSession, e: DataFrame): DataFrame = {
    val cents = Similarity.ivfCentroids(e)
    // localCheckpoint (not cache): consumed by the radii collect below
    // AND both sides of the returned join plan; a cache() would stay
    // pinned after the caller's terminal action.
    neardupFromAssigned(s, cents, Similarity.n3Assign(e, cents).localCheckpoint())
  }

  /** The pair phase of [[neardupPairs]] on an already-assigned frame
    * (vec_id, v, nrm, cell_id) — factored out so d5 can run it over
    * the PERSISTED ANN index assignments instead of re-clustering the
    * corpus per query. Exactness never depends on the centroids:
    * [[cellPairCandidates]]' triangle-inequality bound covers every
    * qualifying pair for ANY cell layout. */
  private[graft] def neardupFromAssigned(s: SparkSession,
      cents: Seq[(Long, Array[Double], Double)], assigned: DataFrame): DataFrame =
    neardupEdgesRaw(s, cents, assigned)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")

  /** The UNROUNDED qualifying-pair frame (vec_a, vec_b, cosine ≥
    * [[NeardupTau]]) — what the ANN index publishes as its
    * `neardup_edges` build artifact (d5's read path; see
    * [[Similarity.ensureAnnIndex]]). */
  private[graft] def neardupEdgesRaw(s: SparkSession,
      cents: Seq[(Long, Array[Double], Double)], assigned: DataFrame): DataFrame = {
    import s.implicits._
    // cosine of each vector to its OWN centroid: codegen'd when-chain
    // over the ≤IvfCells literal centroids (CaseWhen short-circuits)
    val ownCos = cents.foldLeft(lit(1.0)) { case (acc, (id, cv, cn)) =>
      when(col("cell_id") === id,
        VectorFunctions.cosineFromParts(
          org.apache.spark.sql.graft.ArrayMathExpr.dotNative(col("v"), typedlit(cv)),
          col("nrm"), lit(cn))).otherwise(acc)
    }
    val radii = assigned
      .withColumn("theta", acos(greatest(lit(-1.0), least(lit(1.0), ownCos))))
      .groupBy(col("cell_id")).agg(max(col("theta")).as("r"))
      .collect() // bounded: ≤IvfCells rows
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cand = cellPairCandidates(cents, radii, math.acos(NeardupTau))
    val cp = cand.toDF("ca", "cb")
    val a = assigned.select(col("vec_id").as("vec_a"), col("v").as("av"),
      col("nrm").as("an"), col("cell_id").as("ca"))
    val b = assigned.select(col("vec_id").as("vec_b"), col("v").as("bv"),
      col("nrm").as("bn"), col("cell_id").as("cb"))
    a.join(broadcast(cp), Seq("ca"))
      .join(b, Seq("cb"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", VectorFunctions.cosineFromParts(
        org.apache.spark.sql.graft.ArrayMathExpr.dotNative(col("av"), col("bv")),
        col("an"), col("bn")))
      .filter(col("cosine") >= NeardupTau)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** d5: embedding-cosine near-dup pairs above [[NeardupTau]] — exact
    * semantics (full hash oracle), read from the ANN index's
    * PUBLISHED `neardup_edges` table (the build runs the cell-pruned
    * equi-join of [[neardupPairs]] once; the r11 d5 watch item closed
    * by construction): a dedup sweep at 100 TB reads the ingest-time
    * pair artifact, it does not re-score the corpus. Rounding happens
    * at read so the committed edges stay full-precision for other
    * consumers. */
  def d5EmbeddingNeardup(s: SparkSession, dir: String): DataFrame =
    graft.sources.AtomicPublish.readOutput(s,
      Similarity.ensureAnnIndex(s, dir), "neardup_edges")
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")

  /** d6: near-dup clustering — connected components over the d2 pair
    * graph, so each duplicate group gets one canonical cluster_id
    * (the min doc_id reachable). Large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm): each round rewires every node
    * toward its neighborhood minimum, which HALVES component depth
    * per round, so convergence takes O(log diameter) rounds instead
    * of plain label propagation's O(diameter) (the DedupSpec chain-30
    * fixture converges in ≤8 rounds where propagation needed 29).
    * Both star steps are min-aggregates + a co-partitioned join on
    * the SAME node key — duplicate-insensitive, no collect_list, so
    * hot (high-degree) nodes cost one combiner, not one reducer
    * buffer. The driver loop only compares a (count, hash-sum)
    * fingerprint per round; it never holds edge data. */
  def d6DedupClusters(s: SparkSession, dir: String): DataFrame =
    graft.sources.AtomicPublish
      .readOutput(s, ensureClusterIndex(s, dir), "clusters")
      .orderBy("doc_id")

  /** Durable near-dup cluster table (doc_id → cluster_id): the d6
    * pipeline (d2 candidate pairs → connected components) published
    * ONCE per corpus under a fingerprinted root, exactly like the ANN
    * and text indexes. Downstream consumers (d10's canonical pick —
    * and at 100 TB anything else keyed on duplicate groups) read the
    * committed parquet instead of re-running pair generation + CC:
    * clustering the corpus is a build step, not a per-query cost. */
  private[graft] val clusterIndex =
    Artifact("cluster_index", "documents")(s"cluster-v1;dfcap=$ShingleDfCap;tau=0.5")

  private[graft] def ensureClusterIndex(s: SparkSession, dir: String): String =
    clusterIndex.ensure(s, dir) {
      Seq("clusters" -> connectedComponents(
        d2NgramJaccard(s, dir).select(col("doc_a"), col("doc_b")))
        .select(col("id").as("doc_id"), col("label").as("cluster_id")))
    }

  /** d10: canonical selection — collapse each near-dup cluster (d6's
    * components) to ONE canonical document by an explicit survival
    * rule: longest text wins, ties to the smallest doc_id (exact dups
    * make "min id" the only defensible rule — d1 — but NEAR-dup
    * members differ, and real corpus prep keeps the most complete
    * variant, not the accidental id minimum). The rule is a single
    * partial-aggregable struct-max per cluster (max(len, −id) ≡
    * "max len, then min id" — no per-cluster sort, no window); the
    * member join touches only (doc_id, length) columns. Consumes the
    * PUBLISHED cluster table ([[ensureClusterIndex]]) — canonical
    * selection at 100 TB reads the clustering build's output, it
    * does not re-run pair generation + connected components. */
  def d10CanonicalPick(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.sources.AtomicPublish
      .readOutput(s, ensureClusterIndex(s, dir), "clusters")
    val lens = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("len"))
    clusters.join(lens, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("len").as("len"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"),
        (-col("best.nid")).as("keep_id"),
        col("best.len").as("keep_len"),
        col("n_members"))
      .orderBy("cluster_id")
  }

  /** d15: cross-source duplication matrix — for every pair of
    * sources, how many near-dup clusters span both (the "who is
    * copying whom" report behind source-level dedup policy: a corpus
    * with heavy cross-source duplication double-counts content that
    * per-source caps — dc1 — cannot see). Reads the PUBLISHED cluster
    * table (d6's build artifact) and joins only the (doc_id, source)
    * column plane; each cluster collapses to its DISTINCT source set
    * in one aggregate (bounded by the source domain, not cluster
    * size), and source pairs generate IN-ROW from the sorted set —
    * b1's discipline, quadratic only in #distinct-sources-per-cluster
    * (≤ the source domain, a small constant), never in docs. One
    * cluster-keyed shuffle, one pair-keyed count. */
  /** d25: dedup-savings accounting — per source, how much raw doc and
    * token mass is near-dup REDUNDANCY (cluster members that are not
    * their cluster's min-label canonical), read from the PUBLISHED
    * cluster index: the number a data team tracks across ingests
    * ("dedup saved 31% of src7's tokens this month") and the
    * per-source complement of d11's corpus-wide dup histogram and
    * d15's cross-source pair matrix. Token grain = the span plane's
    * segmentation rule ([[spanTokens]] — CJK docs count codepoints).
    * Scale shape: one corpus scan, doc-keyed left join against the
    * published cluster table, source-keyed aggregate (map-side
    * partials) — the read-path removal pattern; nothing re-scores
    * pairs. */
  def d25DedupSavings(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.sources.AtomicPublish
      .readOutput(s, ensureClusterIndex(s, dir), "clusters")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(spanTokens(col("text"))).cast("long").as("n_tok"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("dup", (col("cluster_id").isNotNull &&
        col("cluster_id") =!= col("doc_id")).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dup")).cast("long").as("n_dup_docs"),
        sum(col("n_tok")).as("raw_tokens"),
        sum(col("n_tok") * col("dup")).as("dup_tokens"))
      .withColumn("savings_frac",
        round(col("dup_tokens").cast("double") / col("raw_tokens"), 6))
      .orderBy("source")
  }

  def d15SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.sources.AtomicPublish
      .readOutput(s, ensureClusterIndex(s, dir), "clusters")
    val srcs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
    clusters.join(srcs, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(array_sort(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss) - i - 1), b ->
          |    struct(a AS source_a, b AS source_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_clusters"))
      .orderBy("source_a", "source_b")
  }

  /** d17: near-dup cluster-size histogram — the cluster-grain
    * companion of d11's exact-duplicate histogram: how many NEAR-dup
    * clusters exist at each size, how many docs they hold, and how
    * many a keep-one policy removes (d11 answers this for byte-exact
    * groups; near-dup mass is usually far larger and is what mix7's
    * weights and d10's survivorship actually act on). Pure read-path
    * over the PUBLISHED cluster table: one cluster-keyed count, one
    * size-grain aggregate whose output is bounded by the max cluster
    * size. */
  def d17ClusterHistogram(s: SparkSession, dir: String): DataFrame =
    graft.sources.AtomicPublish
      .readOutput(s, ensureClusterIndex(s, dir), "clusters")
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"),
        ((col("sz") - 1) * col("n_clusters")).as("n_removable"))
      .orderBy("cluster_size")

  /** d16: shingle document-frequency histogram — the measurement that
    * JUSTIFIES [[ShingleDfCap]], exactly as g5's degree profile
    * justifies g4's hub cap: the distribution of word-trigram df over
    * the UNCAPPED shingle plane (df → #shingles, posting mass) shows
    * where candidate-pair mass would explode without the cap (a
    * df-d shingle alone generates d·(d−1)/2 pairs). Deliberately NOT
    * served from the published shingle index — that index is capped
    * and xxhash64-keyed; the audit must see the tail the cap removes.
    * One digest-keyed shuffle (md5, not shingle text — d1's 128-bit
    * discipline) + a df-grain aggregate whose output is bounded by
    * the max df, never the corpus. */
  def d16ShingleDfHistogram(s: SparkSession, dir: String): DataFrame =
    shingles(s, dir)
      .select(md5(col("sh")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .groupBy(col("df")).agg(count(lit(1)).as("n_shingles"))
      .select(col("df"), col("n_shingles"),
        (col("df") * col("n_shingles")).as("n_postings"))
      .orderBy("df")

  /** Max plan-tree depth observed across the generations of the most
    * recent [[connectedComponents]] run — instrumentation for the
    * bounded-lineage spec (a diameter-30 chain must not grow a
    * depth-30 plan). */
  @volatile private[graft] var ccMaxPlanDepth = 0

  /** Rounds the most recent [[connectedComponents]] run took to
    * converge — instrumentation for the O(log diameter) spec. */
  @volatile private[graft] var ccRounds = 0

  /** Large-star step: every node connects its STRICTLY LARGER
    * neighbors to the minimum of its closed neighborhood. Input and
    * output edges are (u, v) with v < u (min-oriented); the symmetric
    * view is built inline so one hash exchange on the node key serves
    * both the min-aggregate and the emit join. */
  private def largeStar(oriented: DataFrame): DataFrame = {
    val sym = oriented.unionAll(
      oriented.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u")
      .agg(min(least(col("v"), col("u"))).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star step: every node connects its smaller neighbors (and
    * itself) to the minimum among them. Min-oriented in, min-oriented
    * out; the one `distinct` per round bounds duplicate-edge growth. */
  private def smallStar(oriented: DataFrame): DataFrame = {
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(mins, "u")
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionAll(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Driver union-find with path halving; label = min id reachable —
    * the exact contract of the distributed loop. Generic in the node
    * type (d6/m6 cluster on longs, er4 on name strings; the ordering
    * supplies the min-label rule). */
  private def localComponents[T](es: Array[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x0: T): T = {
      var x = x0
      while (parent.getOrElseUpdate(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElseUpdate(p, p)
        x = parent(x)
      }
      x
    }
    es.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(ord.max(ru, rv)) = ord.min(ru, rv)
    }
    // second pass: full compression, then min id per root IS the root
    // (unions always attach the larger root under the smaller)
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** Connected components over an undirected pair list (a, b) →
    * (id, label) with label = min reachable id. Edge lists of at most
    * `localThreshold` edges (0 disables) take the driver-side
    * [[localComponents]] union-find; otherwise alternating
    * large-star/small-star rounds, O(log diameter) of them; lineage
    * truncated every round (see the loop comment). Near-dup pair
    * graphs are DUPLICATION-MASS-sized, not corpus-sized, so at every
    * tested scale the star loop's cost is per-round JOB LATENCY, not
    * data (the m6 inline-CC lesson: 6.0 s of driver-loop latency on a
    * tiny pair graph). Below the threshold the edge list is bounded
    * metadata by definition — one collect, an O(E α(E)) union-find,
    * identical min-label output (r11: the d13 build's two CC runs
    * dropped from ~9 s to sub-second; equality pinned by DedupSpec). */
  private[graft] def connectedComponents(pairs: DataFrame,
      localThreshold: Long = 200000): DataFrame = {
    val cols = pairs.columns
    val a = col(cols(0))
    val b = col(cols(1))
    // min-orient (larger endpoint first) and drop self-loops/dupes
    var edges = pairs.where(a =!= b)
      .select(greatest(a, b).as("u"), least(a, b).as("v"))
      .distinct().cache()
    // node set from the CACHED edges, not from `pairs` — the pair
    // source may be an expensive query (d2), and reading it twice
    // would recompute it (self-loop-only nodes don't occur: pair
    // producers emit a < b)
    val ids = edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id"))).distinct().cache()
    var gen = edges // handle to the cached generation, for unpersist
    def fingerprint(e: DataFrame): (Long, BigDecimal) = {
      // decimal sum: overflow-proof under ANSI mode, order-insensitive
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var fp = fingerprint(edges)
    if (fp._1 > 0 && fp._1 <= localThreshold) {
      // bounded by the threshold — the collect is metadata-sized by
      // construction (the t7/indexCells discipline). Typed per node
      // column (long ids for the doc/media graphs, strings for er4's
      // name graph); an exotic node type falls through to the
      // type-agnostic distributed loop below.
      val s = pairs.sparkSession
      import s.implicits._
      val fast: Option[DataFrame] =
        edges.schema.head.dataType match {
          case org.apache.spark.sql.types.LongType =>
            Some(localComponents(edges.collect()
              .map(r => (r.getLong(0), r.getLong(1))))
              .toSeq.sortBy(_._1).toDF("id", "label"))
          case org.apache.spark.sql.types.StringType =>
            Some(localComponents(edges.collect()
              .map(r => (r.getString(0), r.getString(1))))
              .toSeq.sortBy(_._1).toDF("id", "label"))
          case _ => None
        }
      fast.foreach { out =>
        ccRounds = 0
        ccMaxPlanDepth = 0
        edges.unpersist()
        ids.unpersist()
      }
      if (fast.isDefined) return fast.get
    }
    var converged = edges.isEmpty
    var iter = 0
    ccMaxPlanDepth = 0
    while (!converged && iter < 50) {
      // per-round checkpoint: the star steps each reference their
      // input 2-3× (aggregate + emit join), so un-truncated lineage
      // grows GEOMETRICALLY in rounds — unlike plain propagation's
      // linear growth, a cadence is not enough. The checkpoint is
      // LAZY so the round runs as ONE action: the fingerprint
      // aggregate below materializes the checkpoint blocks in the
      // same job, instead of an eager-checkpoint job followed by a
      // fingerprint job over the cached blocks. The plan still
      // resets to a leaf and recovery lineage stays one round. (On
      // a cluster, swap localCheckpoint for reliable checkpoint to
      // survive executor loss.)
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      ccMaxPlanDepth = math.max(ccMaxPlanDepth, planDepth(next))
      val nfp = fingerprint(next)
      converged = nfp == fp // fixed point: stars around component minima
      fp = nfp
      gen.unpersist() // superseded generation — at scale these are big
      gen = next
      edges = next
      iter += 1
    }
    ccRounds = iter
    // converged edges are (member, component-min) stars; roots and
    // isolated nodes label themselves. Materialize to cut the
    // iterative lineage, THEN release the loop's caches.
    val out = ids
      .join(edges.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("label"))
      .localCheckpoint()
    gen.unpersist()
    ids.unpersist()
    out
  }

  private def planDepth(df: DataFrame): Int = {
    def depth(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
      1 + (if (p.children.isEmpty) 0
           else p.children.map(c =>
             depth(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]])).max)
    depth(df.queryExecution.logical)
  }

  /** The d6 cluster assignment as a reusable DuckDB CTE block (ends at
    * a `cl(doc_id, cluster_id)` relation): shingle → DF-capped
    * Jaccard pairs → recursive-CTE reachability → min-label clusters.
    * Shared by the d6 oracle and every oracle that audits something
    * PER near-dup cluster (mix6's split-leakage check) so the oracle
    * cluster definition can never drift from d6's. */
  private[graft] val ClusterOracleCte: String =
    s"""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id,
      |    unnest([array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t) - 2)]) AS sh
      |  FROM tok),
      |sh AS (SELECT doc_id, sh FROM sh0
      |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= $ShingleDfCap),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b
      |  FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM e) t
      |  UNION
      |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      |cl AS (SELECT a AS doc_id, MIN(b) AS cluster_id
      |  FROM reach GROUP BY a)""".stripMargin

  /** d9's passage-dedup oracle, parameterized on an optional
    * predicate over the AGGREGATED docs (occurrence/first-occurrence
    * statistics stay corpus-wide — d14's incremental gate filters
    * only the final per-doc aggregate). A builder instead of post-hoc
    * string surgery on the shared SQL (r12 advice #4). */
  private[graft] def d9SubstringOracle(batchPredicate: Option[String] = None): String = {
    val where = batchPredicate.map(p => s"WHERE $p\n").getOrElse("")
    s"""WITH w AS (SELECT doc_id, $SpanTokensSql AS ws FROM documents),
       |occ AS (SELECT doc_id, i AS pidx,
       |    array_to_string(ws[(i*$PassageWords+1):(i*$PassageWords+$PassageWords)], ' ') AS passage,
       |    len(ws[(i*$PassageWords+1):(i*$PassageWords+$PassageWords)]) AS plen
       |  FROM w, LATERAL (SELECT unnest(generate_series(0,
       |    CAST(ceil(len(ws)/$PassageWords.0) AS INT)-1)) AS i) g(i)),
       |per AS (SELECT passage, COUNT(*) AS n_occ, MIN(doc_id) AS fdoc
       |  FROM occ GROUP BY passage),
       |perf AS (SELECT per.passage, per.n_occ, per.fdoc, MIN(occ.pidx) AS fidx
       |  FROM per JOIN occ ON occ.passage = per.passage AND occ.doc_id = per.fdoc
       |  GROUP BY per.passage, per.n_occ, per.fdoc)
       |SELECT occ.doc_id, COUNT(*) AS n_passages,
       |  CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
       |  CAST(SUM(CASE WHEN n_occ > 1 AND NOT (occ.doc_id = fdoc AND occ.pidx = fidx)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |  round(SUM(CASE WHEN n_occ > 1 AND NOT (occ.doc_id = fdoc AND occ.pidx = fidx)
       |    THEN plen ELSE 0 END) / CAST(SUM(plen) AS DOUBLE), 6) AS masked_word_frac
       |FROM occ JOIN perf ON occ.passage = perf.passage
       |${where}GROUP BY occ.doc_id ORDER BY occ.doc_id""".stripMargin
  }

  /** The exact-span plane rebuilt FROM SCRATCH in SQL, through the
    * masked-starts CTE `mk` — shared by the d18 and d19 oracles (a
    * builder, not string surgery: the advice-#4 rule), so a hash pass
    * on either proves the published span index ≡ recompute. */
  private[graft] def spanMaskCtePrefix: String =
    s"""WITH w AS (SELECT doc_id, $SpanTokensSql AS ws FROM documents),
       |tok AS (SELECT doc_id, ws, len(ws) AS n_tok FROM w
       |  WHERE len(ws) >= $ExactSpanTokens),
       |g AS (SELECT doc_id, i - 1 AS tidx,
       |    array_to_string(ws[i:i+${ExactSpanTokens - 1}], ' ') AS gram
       |  FROM tok, LATERAL (SELECT unnest(generate_series(1,
       |    CAST(n_tok - $ExactSpanTokens + 1 AS INT))) AS i) s(i)),
       |st AS (SELECT gram, COUNT(*) AS n_occ FROM g GROUP BY 1),
       |fst AS (SELECT gram, doc_id AS fdoc, tidx AS ftidx FROM (
       |  SELECT gram, doc_id, tidx, ROW_NUMBER() OVER (PARTITION BY gram
       |    ORDER BY doc_id, tidx) AS rn FROM g) WHERE rn = 1),
       |mk AS (SELECT g.doc_id, g.tidx FROM g
       |  JOIN st USING (gram) JOIN fst USING (gram)
       |  WHERE st.n_occ > 1
       |    AND NOT (g.doc_id = fst.fdoc AND g.tidx = fst.ftidx))""".stripMargin

  /** d18's exact-span profile oracle, parameterized on an optional
    * predicate over the PROFILED docs (gram statistics stay
    * corpus-wide — d20's incremental gate filters only the final
    * per-doc frame). The t27/d9 builder rule (r12 advice #4). */
  private[graft] def d18SpansOracle(batchPredicate: Option[String] = None): String = {
    val where = batchPredicate.map(p => s"WHERE $p\n").getOrElse("")
    s"""$spanMaskCtePrefix,
       |dupw AS (SELECT g.doc_id, COUNT(*) AS n_dup FROM g
       |  JOIN st USING (gram) WHERE st.n_occ > 1 GROUP BY 1),
       |cov AS (SELECT doc_id, tidx,
       |    LEAD(tidx) OVER (PARTITION BY doc_id ORDER BY tidx) AS nxt
       |  FROM mk),
       |cv AS (SELECT doc_id, COUNT(*) AS n_masked_windows,
       |    CAST(SUM(CASE WHEN nxt IS NULL THEN $ExactSpanTokens
       |      ELSE LEAST($ExactSpanTokens, nxt - tidx) END) AS BIGINT)
       |      AS n_masked_tokens
       |  FROM cov GROUP BY 1)
       |SELECT tok.doc_id, CAST(tok.n_tok AS BIGINT) AS n_tokens,
       |  CAST(tok.n_tok - $ExactSpanTokens + 1 AS BIGINT) AS n_windows,
       |  COALESCE(dupw.n_dup, 0) AS n_dup_windows,
       |  COALESCE(cv.n_masked_windows, 0) AS n_masked_windows,
       |  COALESCE(cv.n_masked_tokens, 0) AS n_masked_tokens,
       |  round(COALESCE(cv.n_masked_tokens, 0)
       |    / CAST(tok.n_tok AS DOUBLE), 6) AS masked_token_frac
       |FROM tok LEFT JOIN dupw USING (doc_id) LEFT JOIN cv USING (doc_id)
       |${where}ORDER BY tok.doc_id""".stripMargin
  }

  /** The excision + reconstruction + conservation-report SQL shared
    * by the span-scrub oracles (d21 on the dup mask, t32 on the
    * contamination mask — the advice-#4 builder rule): `maskCtes`
    * must be a WITH-chain ending in a CTE `mk (doc_id, tidx)` of
    * masked gram starts; `docPredicate` filters which docs are
    * EMITTED (gram statistics stay whatever the mask CTEs computed).
    * n_tokens_kept is computed as n_tokens − removed here while the
    * Spark side emits size(kept) — the hash proves the excision
    * removed exactly the masked positions. */
  private[graft] def spanScrubOracleFrom(maskCtes: String,
      docPredicate: Option[String] = None): String = {
    val where = docPredicate.map(p => s"WHERE $p").getOrElse("")
    s"""$maskCtes,
       |brks AS (SELECT doc_id, tidx,
       |    CASE WHEN tidx - LAG(tidx) OVER (PARTITION BY doc_id
       |      ORDER BY tidx) <= $ExactSpanTokens THEN 0 ELSE 1 END AS brk
       |  FROM mk),
       |isl AS (SELECT doc_id, tidx,
       |    CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY tidx)
       |      AS BIGINT) AS span_id
       |  FROM brks),
       |sp AS (SELECT doc_id, span_id, MIN(tidx) AS s,
       |    MAX(tidx) + ${ExactSpanTokens - 1} AS e
       |  FROM isl GROUP BY 1, 2),
       |ad AS (SELECT doc_id, $SpanTokensSql AS ws,
       |    len($SpanTokensSql) AS n_tok,
       |    contains(text, ' ') AS seg FROM documents $where),
       |tk AS (SELECT doc_id, seg, i - 1 AS tidx, ws[i] AS tokstr
       |  FROM ad, LATERAL (SELECT unnest(generate_series(1,
       |    CAST(n_tok AS INT))) AS i) ix(i)),
       |kept AS (SELECT t.doc_id, t.seg, t.tidx, t.tokstr FROM tk t
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |    WHERE sp.doc_id = t.doc_id AND t.tidx BETWEEN sp.s AND sp.e)),
       |scr AS (SELECT doc_id,
       |    COALESCE(CASE WHEN bool_or(seg)
       |      THEN string_agg(tokstr, ' ' ORDER BY tidx)
       |      ELSE string_agg(tokstr, '' ORDER BY tidx) END, '') AS stext
       |  FROM kept GROUP BY 1),
       |ns AS (SELECT doc_id, COUNT(*) AS n_spans,
       |    CAST(SUM(e - s + 1) AS BIGINT) AS rm_tokens
       |  FROM sp GROUP BY 1)
       |SELECT ad.doc_id, CAST(ad.n_tok AS BIGINT) AS n_tokens,
       |  COALESCE(ns.n_spans, 0) AS n_spans_removed,
       |  COALESCE(ns.rm_tokens, 0) AS n_tokens_removed,
       |  CAST(ad.n_tok - COALESCE(ns.rm_tokens, 0) AS BIGINT)
       |    AS n_tokens_kept,
       |  md5(COALESCE(scr.stext, '')) AS scrubbed_md5
       |FROM ad LEFT JOIN ns USING (doc_id) LEFT JOIN scr USING (doc_id)
       |ORDER BY ad.doc_id""".stripMargin
  }

  /** d2's exact-pair computation as shared CTEs ending in `exact`
    * (doc_a, doc_b, jaccard ≥ 0.5) — one parameterized builder for
    * the d2 entry and d12's calibration replay, so the pair
    * semantics cannot drift between them (the d14 rule: shared SQL
    * is a builder, never String.replace). */
  private def exactPairCtes: String =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh0 AS (SELECT DISTINCT doc_id,
       |    unnest([array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t) - 2)]) AS sh
       |  FROM tok),
       |sh AS (SELECT doc_id, sh FROM sh0
       |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= $ShingleDfCap),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |exact AS (SELECT doc_a, doc_b,
       |    CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
       |  FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5)""".stripMargin

  /** DuckDB replay of d12 against the COMMITTED minhash signatures
    * (r14 ask #3a): the exact side is d2's builder above; the
    * estimate is the same 32-slot agree count over the
    * version-resolved sig_index parquet; the one-row stats fold as
    * 1e-9-quantized decimal sums and the p90 interpolates on the
    * quantized integer grid (where `quantile_cont` and Spark's
    * `percentile` are the same IEEE expression). */
  private def d12Oracle(verDir: String): String = {
    val agree = (0 until MinhashK)
      .map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$exactPairCtes,
       |mh AS (SELECT * FROM read_parquet('$verDir/minhash/*.parquet')),
       |p AS (SELECT e.jaccard,
       |    CAST($agree AS DOUBLE) / $MinhashK AS est
       |  FROM exact e JOIN mh x ON e.doc_a = x.doc_id
       |    JOIN mh y ON e.doc_b = y.doc_id),
       |q AS (SELECT
       |    CAST(floor(abs(est - jaccard) * 1e9 + 0.5) AS BIGINT) AS q_abs,
       |    CAST(floor((est - jaccard) * 1e9 + 0.5) AS BIGINT) AS q_bias,
       |    CAST(floor(sqrt(jaccard * (1.0 - jaccard) / $MinhashK) * 1e9 + 0.5)
       |      AS BIGINT) AS q_se
       |  FROM p)
       |SELECT COUNT(*) AS n_pairs,
       |  round((CAST(SUM(CAST(q_abs AS DECIMAL(38,0))) AS DOUBLE)
       |    / COUNT(*)) / 1e9, 6) AS mae,
       |  round(quantile_cont(q_abs, 0.9) / 1e9, 6) AS p90_abs_err,
       |  round((CAST(SUM(CAST(q_bias AS DECIMAL(38,0))) AS DOUBLE)
       |    / COUNT(*)) / 1e9, 6) AS bias,
       |  round((CAST(SUM(CAST(q_se AS DECIMAL(38,0))) AS DOUBLE)
       |    / COUNT(*)) / 1e9, 6) AS mean_theoretical_se
       |FROM q""".stripMargin
  }

  /** DuckDB replay of d24 against the COMMITTED bands table: the
    * exact side is d2's builder at the banding's design threshold;
    * candidates are the same band-key self-join over the
    * version-resolved parquet; the one-row report is all-integer
    * counts plus exact ratios (same expression trees both sides). */
  private def d24Oracle(verDir: String): String =
    s"""$exactPairCtes,
       |t8 AS (SELECT doc_a, doc_b FROM exact
       |  WHERE jaccard >= $LshTrueJaccard),
       |bands AS (SELECT doc_id, band_key
       |  FROM read_parquet('$verDir/bands/*.parquet')),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |nc AS (SELECT COUNT(*) AS n_candidates FROM cand),
       |nt AS (SELECT COUNT(*) AS n_true FROM t8),
       |nh AS (SELECT COUNT(*) AS n_caught
       |  FROM t8 JOIN cand USING (doc_a, doc_b)),
       |nd AS (SELECT COUNT(*) AS n_docs
       |  FROM read_parquet('$verDir/minhash/*.parquet'))
       |SELECT nc.n_candidates, nt.n_true, nh.n_caught,
       |  CASE WHEN nt.n_true = 0 THEN 1.0
       |    ELSE nh.n_caught / CAST(nt.n_true AS DOUBLE) END AS recall,
       |  nd.n_docs,
       |  round(nc.n_candidates / (CAST(nd.n_docs AS DOUBLE)
       |    * (nd.n_docs - 1) / 2.0), 6) AS candidate_frac
       |FROM nc CROSS JOIN nt CROSS JOIN nh CROSS JOIN nd""".stripMargin

  /** DuckDB replay of d3 from the committed sig_index: candidates are
    * the band-key self-join over the published bands parquet, the
    * estimate the 32-slot agree count over the published signatures —
    * "engine-specific" ended when the signatures COMMITTED (the r14
    * conversion-wave rule finally applied to the operator that coined
    * the excuse). */
  private def d3Oracle(verDir: String): String = {
    val agree = (0 until MinhashK)
      .map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH mh AS (SELECT * FROM read_parquet('$verDir/minhash/*.parquet')),
       |bands AS (SELECT doc_id, band_key
       |  FROM read_parquet('$verDir/bands/*.parquet')),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST($agree AS DOUBLE) / $MinhashK AS est_jaccard
       |FROM cand JOIN mh x ON doc_a = x.doc_id JOIN mh y ON doc_b = y.doc_id
       |WHERE CAST($agree AS DOUBLE) / $MinhashK >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB replay of d4 from the committed simhash signatures:
    * chunk extraction, the chunk equi-join, and the hamming verdict
    * are all two's-complement BIGINT arithmetic DuckDB shares with
    * the JVM (arithmetic >>, &, bit_count(xor) — verified on
    * negative signatures). */
  private def d4Oracle(verDir: String): String =
    s"""WITH sig AS (SELECT doc_id, simhash
       |    FROM read_parquet('$verDir/simhash/*.parquet')),
       |ch AS (SELECT doc_id, simhash, c, (simhash >> (c * 16)) & 65535 AS v
       |  FROM sig, LATERAL (SELECT unnest(generate_series(0, 3)) AS c) g(c)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sig_a, b.simhash AS sig_b
       |  FROM ch a JOIN ch b ON a.c = b.c AND a.v = b.v
       |    AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= $SimhashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** A `def` (qc2's discipline): the sig-index-backed d3/d4/d12/d24
    * entries resolve the committed version path after the queries
    * ran, and only when exactly ONE corpus ran in this JVM
    * (ambiguity ⇒ rows-only, never a wrong-corpus oracle). */
  def oracles: Map[String, String] = staticOracles ++
    sigIndex.oracleVersion.toSeq.flatMap(ver => Seq(
      "d12_sketch_calibration" -> d12Oracle(ver),
      "d24_lsh_pair_eval" -> d24Oracle(ver),
      "d3_minhash_lsh" -> d3Oracle(ver),
      "d4_simhash" -> d4Oracle(ver)))

  private val staticOracles: Map[String, String] = Map(
    "d18_exact_spans" -> d18SpansOracle(),
    "d21_span_scrub" -> spanScrubOracleFrom(spanMaskCtePrefix),
    "d19_span_extents" ->
      s"""$spanMaskCtePrefix,
         |brks AS (SELECT doc_id, tidx,
         |    CASE WHEN tidx - LAG(tidx) OVER (PARTITION BY doc_id
         |      ORDER BY tidx) <= $ExactSpanTokens THEN 0 ELSE 1 END AS brk
         |  FROM mk),
         |isl AS (SELECT doc_id, tidx,
         |    CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY tidx)
         |      AS BIGINT) AS span_id
         |  FROM brks)
         |SELECT doc_id, span_id, CAST(MIN(tidx) AS BIGINT) AS span_start,
         |  CAST(MAX(tidx) + ${ExactSpanTokens - 1} AS BIGINT) AS span_end,
         |  CAST(MAX(tidx) + $ExactSpanTokens - MIN(tidx) AS BIGINT)
         |    AS span_tokens,
         |  COUNT(*) AS n_windows
         |FROM isl GROUP BY 1, 2 ORDER BY doc_id, span_start""".stripMargin,
    "d11_dup_histogram" ->
      """WITH g AS (SELECT md5(text) AS h, count(*) AS sz
        |  FROM documents GROUP BY 1)
        |SELECT sz AS group_size, count(*) AS n_groups,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs,
        |  CAST((sz - 1) * count(*) AS BIGINT) AS n_removable
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "d9_substring_dedup" -> d9SubstringOracle(),
    "d8_incremental_dedup" ->
      """WITH batch AS (SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id
        |    FROM documents WHERE doc_id % 7 = 0 GROUP BY md5(text)),
        |hist AS (SELECT DISTINCT md5(text) AS h
        |    FROM documents WHERE doc_id % 7 <> 0)
        |SELECT doc_id, content_hash FROM batch
        |WHERE content_hash NOT IN (SELECT h FROM hist)
        |ORDER BY doc_id""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "d7_containment_dedup" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh0 AS (SELECT DISTINCT doc_id,
        |    unnest([array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t) - 2)]) AS sh
        |  FROM tok),
        |sh AS (SELECT doc_id, sh FROM sh0
        |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= $ShingleDfCap),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(i AS DOUBLE) / least(x.n, y.n) AS containment,
        |  CASE WHEN x.n <= y.n THEN doc_a ELSE doc_b END AS contained_id
        |FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / least(x.n, y.n) >= $ContainmentTau
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d2_ngram_jaccard" ->
      s"""$exactPairCtes
        |SELECT doc_a, doc_b, jaccard FROM exact
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d10_canonical_pick" ->
      s"""$ClusterOracleCte,
        |m AS (SELECT cl.cluster_id, cl.doc_id, length(d.text) AS len
        |  FROM cl JOIN documents d USING (doc_id)),
        |mx AS (SELECT cluster_id, MAX(len) AS keep_len, COUNT(*) AS n_members
        |  FROM m GROUP BY 1)
        |SELECT m.cluster_id, MIN(m.doc_id) AS keep_id,
        |  mx.keep_len, mx.n_members
        |FROM m JOIN mx ON m.cluster_id = mx.cluster_id AND m.len = mx.keep_len
        |GROUP BY m.cluster_id, mx.keep_len, mx.n_members
        |ORDER BY m.cluster_id""".stripMargin,
    "d6_dedup_clusters" ->
      s"""$ClusterOracleCte
        |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin,
    "d17_cluster_histogram" ->
      s"""$ClusterOracleCte,
        |cz AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY 1)
        |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
        |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
        |  CAST((sz - 1) * COUNT(*) AS BIGINT) AS n_removable
        |FROM cz GROUP BY sz ORDER BY sz""".stripMargin,
    "d16_shingle_df_histogram" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh0 AS (SELECT DISTINCT doc_id,
        |    unnest([array_to_string(t[i:i+2], ' ')
        |      FOR i IN generate_series(1, len(t) - 2)]) AS sh
        |  FROM tok),
        |f AS (SELECT sh, COUNT(*) AS df FROM sh0 GROUP BY 1)
        |SELECT df, COUNT(*) AS n_shingles,
        |  CAST(df * COUNT(*) AS BIGINT) AS n_postings
        |FROM f GROUP BY df ORDER BY df""".stripMargin,
    "d25_dedup_savings" ->
      s"""$ClusterOracleCte,
        |d AS (SELECT doc_id, source,
        |    CAST(len($SpanTokensSql) AS BIGINT) AS n_tok FROM documents),
        |m AS (SELECT d.*, CASE WHEN cl.cluster_id IS NOT NULL
        |    AND cl.cluster_id <> d.doc_id THEN 1 ELSE 0 END AS dup
        |  FROM d LEFT JOIN cl USING (doc_id))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(dup) AS BIGINT) AS n_dup_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
        |  CAST(SUM(n_tok * dup) AS BIGINT) AS dup_tokens,
        |  round(CAST(SUM(n_tok * dup) AS DOUBLE) / SUM(n_tok), 6)
        |    AS savings_frac
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "d15_source_overlap" ->
      s"""$ClusterOracleCte,
        |cs AS (SELECT DISTINCT cl.cluster_id, d.source
        |  FROM cl JOIN documents d USING (doc_id))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  COUNT(*) AS n_shared_clusters
        |FROM cs a JOIN cs b
        |  ON a.cluster_id = b.cluster_id AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d5_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin)

  /** d8: incremental ingest dedup — deduplicate a NEW batch against
    * the corpus HISTORY without rescanning history text. The history
    * side is only a distinct content-hash index (at 100 TB: a few
    * percent of corpus bytes, persisted and bucketed by hash once per
    * publish, so every daily ingest anti-joins against co-located
    * hash buckets with zero history shuffle); the batch side dedups
    * within itself (min doc_id per hash) and then anti-joins the
    * index. A batch row never survives twice across ingests because
    * surviving hashes append to the index. Here the batch/history
    * split is a deterministic doc_id slice so the full SQL oracle
    * applies. */
  def d8IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val historyIndex = docs.filter(col("doc_id") % 7 =!= 0)
      .select(md5(col("text")).as("content_hash")).distinct()
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    batch
      .groupBy("content_hash").agg(min(col("doc_id")).as("doc_id"))
      .join(historyIndex, Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
      .orderBy("doc_id")
  }

  /** Words per passage window for [[d9SubstringDedup]]. `final` without
    * a type annotation = compile-time constant, so the `oracles` val
    * (declared earlier in this object) inlines 20 instead of reading a
    * not-yet-initialized field as 0. */
  final val PassageWords = 20

  /** One occurrence row per consecutive [[PassageWords]]-word window
    * (last window may be shorter); linear in corpus words / P. Only
    * the 64-bit passage hash ever shuffles, never the passage text
    * (d2's width argument: a collision perturbs one count by 1).
    * Shared by d9's inline pipeline and the incremental passage index
    * ([[Incremental]] — occurrence rows append, the per-passage count
    * is additive, and the first occurrence is an associative min). */
  private[graft] def passageOccurrencesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), spanTokens(col("text")).as("ws"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0),
          ceil(size(col("ws")) / lit(PassageWords.toDouble)).cast("int") - 1),
        i => slice(col("ws"), i * PassageWords + 1, lit(PassageWords)))))
      .select(col("doc_id"), col("pos").as("pidx"),
        xxhash64(concat_ws(" ", col("col"))).as("ph"),
        size(col("col")).as("plen"))

  /** Per-passage occurrence count + global first occurrence, both
    * partial-aggregable (min over a (doc_id, pidx) struct). */
  private[graft] def passageStatsOf(occ: DataFrame): DataFrame =
    occ.groupBy(col("ph"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pidx"))).as("first"))

  /** The per-document mask profile over an occurrence frame already
    * joined with its passage stats (n_occ, first) — the keep-one
    * masking policy in one place so d9 and the incremental d14 read
    * path can never drift. */
  private[graft] def maskProfileOf(occWithStats: DataFrame): DataFrame = {
    val masked = col("n_occ") > 1 &&
      !(col("doc_id") === col("first.doc_id") && col("pidx") === col("first.pidx"))
    occWithStats
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_passages"),
        sum(when(masked, 1L).otherwise(0L)).as("n_masked"),
        round(sum(when(masked, col("plen")).otherwise(0)).cast("double") /
          sum(col("plen")), 6).as("masked_word_frac"))
      .orderBy("doc_id")
  }

  /** d9 core on an arbitrary (doc_id, text) frame; factored out so the
    * spec can drive it with planted passages. */
  private[graft] def substringDedup(docs: DataFrame): DataFrame = {
    val occ = passageOccurrencesOf(docs)
    maskProfileOf(occ.join(passageStatsOf(occ), Seq("ph")))
  }

  /** d9: passage-level (substring) dedup — the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * family: repeated PASSAGES inside otherwise-unique documents
    * (boilerplate, licenses, templated spans) are the contamination
    * d1–d8's whole-document grain cannot see. Documents split into
    * consecutive [[PassageWords]]-word windows; a window occurring
    * more than once corpus-wide is a duplicated passage, and every
    * occurrence EXCEPT the global first (min (doc_id, idx) — Lee et
    * al.'s keep-one policy) is masked. Output is the per-document
    * mask profile: window count, duplicated/masked counts, and the
    * masked word fraction. Scale shape: occurrence rows are linear in
    * corpus words ÷ P; the per-passage count and the occurrence⋈count
    * join both hash-partition on the 64-bit window hash (the two
    * sides share one exchange via AQE reuse), so nothing is all-pairs
    * and no passage text ever shuffles. */
  def d9SubstringDedup(s: SparkSession, dir: String): DataFrame =
    substringDedup(Tables.documents(s, dir))

  /** Token length of the exact-span grain for [[d18ExactSpans]] —
    * EQUAL to [[PassageWords]] by construction: that equality is what
    * makes d9's aligned window mask a provable SUBSET of d18's exact
    * mask (DedupSpec pins it). `final` constant for the same
    * initialization-order reason as PassageWords. */
  final val ExactSpanTokens = PassageWords

  /** Span-plane segmentation rule (r14 ask #4, SURVEY §4): a document
    * containing at least one space tokenizes on single spaces (the
    * word grain every oracle shares); a document with NO space is
    * UNSEGMENTED (CJK/Thai/unspaced scripts) and falls back to
    * CODEPOINT tokens, so span dedup / decontamination / scrubbing
    * see a repeated CJK span instead of silently treating the whole
    * document as one token. The fallback is the conservative
    * per-codepoint grain (a K-codepoint repeat is a shorter repeated
    * string than K words, so the mask is stricter, never looser);
    * mixed-script documents WITH spaces stay at word grain —
    * documented limitation, not detection failure. Both engines
    * implement the same rule ([[SpanTokensSql]] mirrors this
    * expression in DuckDB; regexp '(?s).' is codepoint-aware in
    * both). Scope: the SPAN plane (d9/d14, d18–d23, t31/t32) — the
    * term/shingle planes keep their kernel tokenizers. */
  private[graft] def spanSegmented(c: Column): Column = c.contains(" ")

  /** The span plane's tokenizer — see [[spanSegmented]]. */
  private[graft] def spanTokens(c: Column): Column =
    when(spanSegmented(c), split(c, " "))
      .otherwise(regexp_extract_all(c, lit("(?s)."), lit(0)))

  /** [[spanTokens]] as a DuckDB expression over a column named
    * `text` — every span-plane oracle builder tokenizes through this
    * ONE fragment so the rule cannot drift between engines. `final`
    * without a type annotation = compile-time constant (the
    * PassageWords initialization-order rule): the `staticOracles`
    * val earlier in this object inlines the string instead of
    * reading a not-yet-initialized field as null. */
  private[graft] final val SpanTokensSql =
    "CASE WHEN contains(text, ' ') THEN string_split(text, ' ') ELSE regexp_extract_all(text, '(?s).') END"

  /** Scrub reassembly over the d21Scrub frame (kept, seg): segmented
    * docs rejoin with single spaces, unsegmented docs with the empty
    * string — the inverse of [[spanTokens]], shared by d21/d22/t32 so
    * the three scrub surfaces cannot disagree on reconstruction. */
  private[graft] def scrubbedTextCol: Column =
    when(col("seg"), concat_ws(" ", col("kept")))
      .otherwise(concat_ws("", col("kept")))

  /** Stride-1 K-token gram hashes with start index: (doc_id, tidx,
    * gh). Only full windows (docs shorter than K have none); only the
    * 64-bit hash ever leaves the row. */
  private[graft] def spanGramsOf(docs: DataFrame): DataFrame =
    // r15 opt: the tokenize→explode→hash pipeline is the span plane's
    // CPU-heavy kernel; over a one-row-group parquet scan it runs as a
    // single task (guide §2.2/§6 — unsplittable input), so the whole
    // gram sweep serialized on one core. Cols.spread floors the stage
    // at the session's parallelism (identity at 100 TB where the scan
    // already fans out). Measured at sf0.1: t31 1.30→0.9 s class.
    // (r16 re-measure: unlike shinglesOf, removing THIS spread in a
    // controlled full-suite A/B moved the span family only with the
    // host drift — vs-control ratios 0.9-1.1, mean ~1.02, slight lean
    // toward keeping it — so the r15 isolated win stands and the
    // spread stays.)
    graft.Cols.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), spanTokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= ExactSpanTokens)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("ws")) - lit(ExactSpanTokens)),
        i => xxhash64(concat_ws(" ",
          slice(col("ws"), i + lit(1), lit(ExactSpanTokens)))))))
      .select(col("doc_id"), col("pos").as("tidx"), col("col").as("gh"))

  /** The masked gram starts of the exact-span plane: every stride-1
    * duplicated K-gram occurrence EXCEPT its global first (min
    * (doc_id, tidx)) — the keep-one policy at arbitrary alignment.
    * Factored for the d9⊆d18 containment spec. */
  private[graft] def exactSpanMaskedStarts(docs: DataFrame): DataFrame = {
    val grams = spanGramsOf(docs)
    val stats = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("tidx"))).as("first"))
    grams.join(stats, Seq("gh"))
      .filter(col("n_occ") > 1 &&
        !(col("doc_id") === col("first.doc_id") &&
          col("tidx") === col("first.tidx")))
      .select(col("doc_id"), col("tidx"))
  }

  /** d18 core on an arbitrary (doc_id, text) frame — factored for the
    * planted-span and containment specs. */
  private[graft] def exactSpanMask(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), spanTokens(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_tok"))
      .filter(col("n_tok") >= ExactSpanTokens)
    val grams = spanGramsOf(docs)
    val stats = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("tidx"))).as("first"))
    val tagged = grams.join(stats, Seq("gh"))
    val dupPerDoc = tagged.filter(col("n_occ") > 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
    val maskedStarts = tagged.filter(col("n_occ") > 1 &&
        !(col("doc_id") === col("first.doc_id") &&
          col("tidx") === col("first.tidx")))
      .select(col("doc_id"), col("tidx"))
    // interval-union size WITHOUT materializing per-token rows: sorted
    // masked starts per doc, each start covers min(K, gap-to-next)
    // tokens — one per-DOC window pass (partitions bounded by doc
    // length, never corpus-global)
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tidx"))
    val cov = maskedStarts.withColumn("nxt", lead(col("tidx"), 1).over(wD))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_masked_windows"),
        sum(when(col("nxt").isNull, lit(ExactSpanTokens))
          .otherwise(least(lit(ExactSpanTokens), col("nxt") - col("tidx"))))
          .cast("long").as("n_masked_tokens"))
    base.select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"),
        (col("n_tok") - lit(ExactSpanTokens) + 1).cast("long").as("n_windows"))
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

  /** Durable exact-span index — K and the gram kernel ride the
    * recipe salt. */
  private[graft] val spanIndex = Artifact("span_index", "documents")(
    s"span-v2;k=$ExactSpanTokens;kernel=stride1-xxh64;seg=ws-or-codepoint")

  /** Publish the exact-span plane ONCE per corpus fingerprint: the
    * duplicated-gram occurrence table `dup` (doc_id, tidx, is_first)
    * — every occurrence of every gram that repeats corpus-wide, with
    * the global first flagged. The table is bounded by the corpus's
    * DUPLICATION MASS, not its token count (unique grams never leave
    * the build), so the published artifact stays small on a clean
    * corpus and the full gram sweep — the expensive part — is
    * ingest-time work (the g2/g6/g10 argument on the passage
    * plane). */
  private[graft] def ensureSpanIndex(s: SparkSession, dir: String): String =
    spanIndex.ensure(s, dir) {
      val grams = spanGramsOf(Tables.documents(s, dir)).localCheckpoint()
      val dupStats = grams.groupBy(col("gh"))
        .agg(count(lit(1)).as("n_occ"),
          min(struct(col("doc_id"), col("tidx"))).as("first"))
        .filter(col("n_occ") > 1)
      val dup = grams.join(dupStats, Seq("gh"))
        .select(col("doc_id"), col("tidx"),
          (col("doc_id") === col("first.doc_id") &&
            col("tidx") === col("first.tidx")).as("is_first"))
      Seq("dup" -> dup)
    }

  /** d18: EXACT duplicated-span dedup at arbitrary alignment — the
    * exact form of Lee et al. 2022 §4 (ExactSubstr) that d9's fixed
    * stride-20 window grain approximates. The identity that makes the
    * exact form one equi-join instead of a distributed suffix array:
    * a token position lies inside SOME duplicated span of length ≥ K
    * iff it is covered by a duplicated stride-1 K-token gram — every
    * duplicated span of length L ≥ K contains exactly L−K+1
    * duplicated K-grams covering exactly its positions, and every
    * duplicated K-gram IS a duplicated span. So the masked-token set
    * is computed exactly from sliding K-gram hash runs: gram rows are
    * linear in corpus tokens (K× d9's aligned windows, same
    * asymptotic), only 64-bit hashes shuffle, per-gram stats and the
    * occurrence⋈stats join hash-partition on the hash, the keep-one
    * first occurrence is an associative (doc_id, tidx) min, and the
    * interval-union coverage is a per-DOC window pass over masked
    * starts (partition bounded by doc length). The gram sweep is
    * PUBLISHED once per corpus fingerprint ([[ensureSpanIndex]] —
    * 2.2 s → read at sf0.1); the query reads the committed
    * duplication-mass table, joins doc lengths (a 2-column documents
    * projection), and the unchanged from-scratch oracle proves
    * published ≡ recompute. d9's aligned mask is a provable subset of
    * this mask (DedupSpec); the oracle recomputes the frame grouping
    * by gram STRINGS (d9's style — DuckDB has no xxhash64, and a
    * collision would perturb one count by 1). Output: per-doc exact
    * mask profile (window/dup/masked counts, masked token coverage
    * and fraction). */
  def d18ExactSpans(s: SparkSession, dir: String): DataFrame = {
    val dup = graft.sources.AtomicPublish.readOutput(s,
      ensureSpanIndex(s, dir), "dup")
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), size(spanTokens(col("text"))).as("n_tok"))
      .filter(col("n_tok") >= ExactSpanTokens)
    val dupPerDoc = dup.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"))
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tidx"))
    val cov = dup.filter(!col("is_first"))
      .select(col("doc_id"), col("tidx"))
      .withColumn("nxt", lead(col("tidx"), 1).over(wD))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_masked_windows"),
        sum(when(col("nxt").isNull, lit(ExactSpanTokens))
          .otherwise(least(lit(ExactSpanTokens), col("nxt") - col("tidx"))))
          .cast("long").as("n_masked_tokens"))
    base.select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"),
        (col("n_tok") - lit(ExactSpanTokens) + 1).cast("long").as("n_windows"))
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

  /** d19: maximal duplicated-span EXTENTS — the span-level view of
    * d18's token mask (d18 reports per-doc RATES; d19 reports WHERE
    * the duplicated text sits, the table a removal or attribution
    * pass actually consumes). Gaps-and-islands over the committed
    * masked gram starts: two masked K-gram starts whose distance is
    * ≤ K cover contiguous tokens, so a `lag` break-flag + running
    * `sum` assigns island ids and one keyed aggregate emits each
    * maximal region [span_start, span_end] with its token length —
    * per-DOC windows (bounded by doc length), read-path over the
    * published duplication-mass table, exact integer arithmetic
    * throughout. Σ span_tokens per doc ≡ d18's n_masked_tokens
    * (spec-pinned). */
  def d19SpanExtents(s: SparkSession, dir: String): DataFrame = {
    val masked = graft.sources.AtomicPublish.readOutput(s,
      ensureSpanIndex(s, dir), "dup")
      .filter(!col("is_first")).select(col("doc_id"), col("tidx"))
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tidx"))
    masked
      .withColumn("gap", col("tidx") - lag(col("tidx"), 1).over(wD))
      .withColumn("brk",
        when(col("gap").isNull || col("gap") > ExactSpanTokens, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("brk")).over(wD))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("tidx")).cast("long").as("span_start"),
        (max(col("tidx")) + ExactSpanTokens - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_id"), col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
      .orderBy("doc_id", "span_start")
  }

  /** d19's maximal-extent islands from the committed span index —
    * factored so d19 (reporting) and d21 (removal) consume ONE
    * definition of "where the duplicated text sits". */
  private[graft] def spanIslands(masked: DataFrame): DataFrame = {
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tidx"))
    masked
      .withColumn("gap", col("tidx") - lag(col("tidx"), 1).over(wD))
      .withColumn("brk",
        when(col("gap").isNull || col("gap") > ExactSpanTokens, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("brk")).over(wD))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("tidx")).cast("long").as("span_start"),
        (max(col("tidx")) + ExactSpanTokens - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
  }

  /** d21 core on arbitrary (doc_id, text) docs × (doc_id, span_start,
    * span_end) extents — factored for the conservation and re-profile
    * specs. Returns one row per INPUT doc: the kept token array plus
    * the removal counters. The excision is ROW-LOCAL: each doc's
    * (bounded, disjoint, sorted) extent list rides a doc-keyed join,
    * and one `aggregate` fold over it concatenates the kept slices —
    * O(#spans) lambda steps per doc, never a per-token explode, so
    * corpus tokens are touched only by the final concat. */
  private[graft] def d21Scrub(docs: DataFrame, extents: DataFrame): DataFrame = {
    val perDoc = extents.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
          col("span_start").as("s"), col("span_end").as("e")))).as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("rm_tokens"))
    docs.select(col("doc_id"), spanTokens(col("text")).as("ws"),
        spanSegmented(col("text")).as("seg"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("kept", when(col("spans").isNull, col("ws")).otherwise(expr(
        """aggregate(spans,
          |  named_struct('acc', cast(array() as array<string>),
          |    'pos', cast(0 as bigint)),
          |  (st, sp) -> named_struct(
          |    'acc', concat(st.acc,
          |      slice(ws, cast(st.pos + 1 as int), cast(sp.s - st.pos as int))),
          |    'pos', sp.e + 1),
          |  st -> concat(st.acc,
          |    slice(ws, cast(st.pos + 1 as int),
          |      cast(size(ws) - st.pos as int))))""".stripMargin)))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans_removed"),
        coalesce(col("rm_tokens"), lit(0L)).as("n_tokens_removed"),
        col("kept"), col("seg"))
  }

  /** d21: span REMOVAL — the destructive pass that makes the span
    * plane actionable (r13 verdict ask #2; the reference's retention
    * pass deletes flagged rows in place, db.mjs:387-408 — here the
    * corpus analog excises flagged spans and EMITS the scrubbed
    * corpus). Consumes d19's maximal extents ([[spanIslands]] over
    * the committed span index) and removes exactly the masked token
    * positions — the keep-one global first occurrence of every
    * duplicated gram is preserved by construction (it is never in
    * the mask). Per doc: the kept-token count, the removal report
    * (spans/tokens removed), and the md5 of the scrubbed text, so
    * the gate pins the exact reconstructed STRING, not just counts.
    * Conservation is cross-engine-PROVEN, not just spec'd: Spark
    * emits n_tokens_kept = size(kept array) — the real emitted
    * token count — while the oracle computes n_tokens −
    * n_tokens_removed; the hash can only match if excision removed
    * exactly the masked positions. Scale shape: committed-index read
    * (duplication-mass bounded) → per-doc windows (bounded by doc
    * length) → ONE doc-keyed join onto the corpus → row-local slice
    * fold; short docs (< K tokens) and span-free docs pass through
    * unchanged, every input doc appears in the output. DedupSpec
    * additionally re-profiles the scrubbed corpus with d18 at the
    * same K. */
  def d21SpanScrub(s: SparkSession, dir: String): DataFrame = {
    val masked = graft.sources.AtomicPublish.readOutput(s,
      ensureSpanIndex(s, dir), "dup")
      .filter(!col("is_first")).select(col("doc_id"), col("tidx"))
    d21Scrub(Tables.documents(s, dir), spanIslands(masked))
      .select(col("doc_id"), col("n_tokens"), col("n_spans_removed"),
        col("n_tokens_removed"),
        size(col("kept")).cast("long").as("n_tokens_kept"),
        md5(scrubbedTextCol).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d18_exact_spans" -> (d18ExactSpans _),
    "d19_span_extents" -> (d19SpanExtents _),
    "d21_span_scrub" -> (d21SpanScrub _),
    "d9_substring_dedup" -> (d9SubstringDedup _),
    "d8_incremental_dedup" -> (d8IncrementalDedup _),
    "d1_dedup_exact" -> (d1DedupExact _),
    "d2_ngram_jaccard" -> (d2NgramJaccard _),
    "d7_containment_dedup" -> (d7ContainmentDedup _),
    "d3_minhash_lsh" -> (d3MinhashLsh _),
    "d4_simhash" -> (d4Simhash _),
    "d5_embedding_neardup" -> (d5EmbeddingNeardup _),
    "d6_dedup_clusters" -> (d6DedupClusters _),
    "d10_canonical_pick" -> (d10CanonicalPick _),
    "d11_dup_histogram" -> (d11DupHistogram _),
    "d12_sketch_calibration" -> (d12SketchCalibration _),
    "d24_lsh_pair_eval" -> (d24LshPairEval _),
    "d15_source_overlap" -> (d15SourceOverlap _),
    "d25_dedup_savings" -> (d25DedupSavings _),
    "d16_shingle_df_histogram" -> (d16ShingleDfHistogram _),
    "d17_cluster_histogram" -> (d17ClusterHistogram _))
}
