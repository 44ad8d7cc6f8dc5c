package graft.operators

import graft.Tables
import graft.sources.Artifact
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY §2 rows 29-31).
  *
  * n1 is the exact brute-force baseline: a bounded query set × corpus
  * join (at 100 TB the query side is small and broadcast; the corpus
  * scan is the irreducible cost). n2/n3 are the scale paths: random-
  * hyperplane LSH buckets and IVF cells turn the corpus side into an
  * equi-join, so candidate generation is a shuffle on the bucket key
  * instead of a full cross product.
  */
object Similarity {

  val TopK = 5
  val NumQueries = 10 // query set: vec_id < 10

  /** (vec_id, v, nrm) normalization of a raw embeddings frame — the
    * working shape every ANN path uses (shared with the incremental
    * index's batch slices, [[IncrementalAnn]]). */
  private[graft] def corpusOf(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.l2normNative("v"))

  private[graft] def corpus(s: SparkSession, dir: String): DataFrame =
    corpusOf(Tables.embeddings(s, dir))

  private[graft] def rankTopK(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** n1: exact cosine top-k per query vector (brute force baseline).
    * The query set broadcasts; one pass over the corpus. */
  val RangeTau = 0.3 // cosine radius for range search

  /** n14: range search — ALL neighbors within cosine ≥ [[RangeTau]]
    * of each query, the other serving primitive next to top-k ("find
    * everything this similar", the shape behind dedup candidate
    * lookups and policy filters, where the answer size is
    * data-dependent rather than fixed-k). Same broadcast-query scan
    * as n1 — one corpus pass, no shuffle at all (the filter replaces
    * n1's rank window): at 100 TB this is the brute-force baseline
    * the n2/n3 index paths accelerate, and the exactness oracle for
    * them. Filters on the RAW cosine (identical left-to-right fold in
    * both engines), rounds only for display. */
  def n14RangeSearch(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    broadcast(q)
      .join(e, col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .filter(col("cos_raw") >= RangeTau)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy("query_id", "neighbor_id")
  }

  def n1CosineTopk(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = broadcast(q)
      .join(e, col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_raw"))
    rankTopK(pairs)
  }

  val LshTables = 6 // independent hash tables (union of candidates).
  // The corpus-side cost is linear in tables (bits×tables literal dot
  // products and tables exploded rows PER CORPUS VECTOR), so tables
  // is the expensive knob; multiprobe (below) buys the recall back on
  // the query side, whose cost is bounded by the tiny query set. A
  // borderline pair (cos≈0.45, bit-agreement p≈0.66) hits a table's
  // home-or-1-flip probe set with p⁴+4p³(1−p) ≈ 0.55, so 6 tables
  // give 1−0.45⁶ ≈ 0.99 recall — measured 0.90 with the OLD 16-table
  // single-probe config at ~2.7× the corpus-side work.
  val LshBits = 4 // hyperplanes per table → 16 buckets/table

  /** Deterministic pseudo-random hyperplane weights for plane p: a
    * fixed-seed splitmix64-style integer mix of (p, j) folded into
    * [-0.5, 0.5]. Computed driver-side once and embedded as plan
    * literals — a few KB that ship with the task binary, identical on
    * every executor of a 1000-node cluster. */
  private val MaxDim = 256
  private def planeWeights(p: Int): Array[Double] =
    Array.tabulate(MaxDim) { j =>
      var z = p.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L + 42L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (java.lang.Math.floorMod(z, 1000003L).toDouble / 1000003.0) - 0.5
    }

  /** Multi-table random-hyperplane LSH: LshTables independent tables of
    * LshBits sign bits each; a vector lands in one bucket per table and
    * candidate pairs share (table, bucket). Each sign bit is one native
    * codegen'd dot product against a literal weight vector (the
    * interpreted-HOF form this replaced spent ~LshTables×LshBits×dim
    * lambda evaluations per row). Multiple small tables beat one wide
    * code: recall compounds as 1-(1-p^b)^L while bucket sizes stay
    * ~n/2^b, keeping the candidate join linear. */
  private[graft] def lshBuckets(vCol: String): org.apache.spark.sql.Column = {
    val tables = (0 until LshTables).map { t =>
      val bkt = (0 until LshBits).map { p =>
        val w = typedlit(planeWeights(t * LshBits + p))
        when(org.apache.spark.sql.graft.ArrayMathExpr.dotNative(col(vCol), w) > 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _) // disjoint bits: sum == bitwise OR
      struct(lit(t).as("tbl"), bkt.as("bkt"))
    }
    array(tables: _*)
  }

  /** n2: LSH-bucketed ANN with MULTIPROBE — the corpus lands in ONE
    * bucket per table (cheap side, linear in tables), while each
    * query probes its home bucket plus every 1-bit-flip neighbor
    * (5 probes at 4 bits). Probe expansion multiplies only the
    * broadcast query side, so recall is bought where rows are
    * bounded by the query set instead of with more corpus-side
    * tables. Candidates from any shared (table, probed bucket),
    * deduped, then ranked by exact cosine. FULL hash oracle since
    * r14: the lsh/assignments tables are committed index artifacts,
    * so DuckDB replays the whole multiprobe (bit-flips via xor())
    * from the version-resolved parquet; ScalaTest additionally pins
    * recall ≥ 0.9 vs n1. */
  def n2AnnLsh(s: SparkSession, dir: String): DataFrame = {
    // probe the PERSISTED index (built once per dataset by
    // ensureAnnIndex): candidate generation runs on the SLIM lsh
    // table (ids + buckets, no vector bytes), and only the surviving
    // (query, candidate) id pairs — bounded by queries × bucket
    // sizes, never corpus-sized — pull their vectors back from the
    // single-copy assignments table via a broadcast semi-shape join.
    // The raw corpus is never rescanned or re-hashed.
    import graft.sources.AtomicPublish
    val root = ensureAnnIndex(s, dir)
    val lsh = AtomicPublish.readOutput(s, root, "lsh")
    val vecs = AtomicPublish.readOutput(s, root, "assignments")
      .select(col("vec_id"), col("v"), col("nrm"))
    val qv = vecs.filter(col("vec_id") < NumQueries) // pushed: prunes row groups
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    // home bucket + all hamming-1 neighbors (flip each of the 4 bits)
    val probes = array((lit(0L) +: (0 until LshBits).map(b => lit(1L << b))): _*)
    val qb = lsh.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("tbl"),
        explode(probes).as("flip"), col("bkt"))
      .select(col("query_id"), col("tbl"),
        col("bkt").bitwiseXOR(col("flip")).as("bkt"))
    val cand = broadcast(qb)
      .join(lsh, Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val pairs = vecs
      .join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("neighbor_id"), col("cos_raw"))
    rankTopK(pairs)
  }

  val IvfCells = 10
  val IvfProbes = 5

  /** Per-row nearest-cell argmax over literal centroids: greatest()
    * over (cosine, -cell_id) structs — struct ordering gives max
    * cosine with min-cell_id tie-break, each cosine one native
    * codegen'd dot against a plan-literal vector. Zero shuffle: the
    * window-argmax this replaced paid a full-corpus Exchange on
    * vec_id just to pick the best of ≤IvfCells broadcast rows. */
  private def nearestCellExpr(cells: Seq[(Long, Array[Double], Double)],
      v: org.apache.spark.sql.Column,
      nrm: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val scored = cells.map { case (id, cv, cn) =>
      struct(
        VectorFunctions.cosineFromParts(
          org.apache.spark.sql.graft.ArrayMathExpr.dotNative(v, typedlit(cv)),
          nrm, lit(cn)).as("c"),
        lit(-id).as("nid"))
    }
    if (scored.size == 1) lit(cells.head._1)
    else -greatest(scored: _*).getField("nid")
  }

  /** Corpus-side cell assignment: scan + per-row argmax projection,
    * zero Exchange (PlanAuditSpec pins this). */
  private[graft] def n3Assign(e: DataFrame,
      cells: Seq[(Long, Array[Double], Double)]): DataFrame =
    e.withColumn("cell_id", nearestCellExpr(cells, col("v"), col("nrm")))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell_id"))

  /** n3: IVF — seed centroids (every 50th vector, ≤IvfCells of them)
    * refined by one Lloyd iteration, then every corpus vector is
    * assigned to its nearest refined cell via the zero-shuffle per-row
    * argmax above. The centroids are bounded driver-side data
    * (IvfCells × dim doubles, a few KB — the same bounded-collect
    * pattern as t7's top-20) embedded as plan literals, identical on
    * every executor of a 1000-node cluster; the corpus itself is never
    * shuffled until the final probe equi-join. The Lloyd refinement is
    * one ≤IvfCells-key vector-sum aggregate (map-side partials). The
    * probe ranking touches only NumQueries × IvfCells rows — query-
    * set-sized, never corpus-sized. FULL hash oracle since r14: the
    * committed centroids/assignments replay the routed probe in
    * DuckDB SQL (row_number routing); recall ScalaTest on top. */
  /** Seed-and-refine IVF centroids: every 50th vector seeds a cell,
    * one Lloyd iteration refines (zero-shuffle assignment + one
    * ≤IvfCells-key VectorSumAgg pass). Returns the bounded driver-side
    * (cell_id, centroid, norm) set — IvfCells × dim doubles, a few KB
    * embedded as plan literals. Shared by n3 (ANN probe) and n6
    * (semantic dedup). */
  private[graft] def ivfCentroids(e: DataFrame): Seq[(Long, Array[Double], Double)] = {
    def collectCells(df: DataFrame): Seq[(Long, Array[Double], Double)] =
      df.collect().toSeq.map(r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val seeds = collectCells(
      e.filter(pmod(col("vec_id"), lit(50)) === 0 &&
          col("vec_id") < IvfCells * 50)
        .select(col("vec_id").as("cell_id"), col("v"), col("nrm")))
    // one Lloyd refinement: zero-shuffle assignment to seed cells, then
    // per-cell mean via the native VectorSumAgg (one pass, no explode)
    collectCells(
      n3Assign(e, seeds)
        .groupBy(col("cell_id"))
        .agg(org.apache.spark.sql.graft.VectorSumAggExpr.vectorSum(col("v")).as("vs"),
          count(lit(1)).as("cnt"))
        .select(col("cell_id"),
          expr("transform(vs, x -> x / cnt)").as("cv")) // ≤10 rows: HOF cost nil
        .select(col("cell_id"), col("cv"),
          VectorFunctions.l2normNative("cv").as("cn")))
  }

  /** PERSISTED ANN INDEX (build-once, probe-many). At 100 TB an ANN
    * index is built ONCE at ingest and probed by every search after —
    * recomputing centroids, assignments, or LSH tables per query
    * re-pays the full corpus scan the index exists to avoid. The
    * index is published through [[graft.sources.AtomicPublish]] as
    * ONE atomic version holding three outputs:
    *
    *  - `centroids`: the refined IVF cells (≤[[IvfCells]] rows),
    *  - `assignments`: (vec_id, v, nrm, cell_id) — the corpus with
    *    its nearest-cell tag (n3/n6 probe side),
    *  - `lsh`: (vec_id, v, nrm, tbl, bkt) — one row per (vector,
    *    hash table) with the home bucket (n2 candidate side).
    *
    * So index maintenance inherits publish semantics for free: a
    * rebuild is a new version behind the same atomic pointer
    * (readers never see a half-built index), old versions remain
    * probe-able until vacuumed, and a crash mid-build leaves inert
    * staging garbage. The root is DURABLE — build-once holds across
    * JVM restarts, not just within one process (AnnPersistenceSpec
    * proves a fresh JVM probes without rebuilding). The probe queries
    * below read ONLY index tables — PlanAuditSpec pins that their
    * plans never scan the raw embeddings parquet. */

  /** The durable ANN index ([[Artifact]]: root, fingerprint, build
    * fence and n-family oracle hook). */
  private[graft] val annIndex = Artifact("ann_index", "embeddings")(
    // v3 (r14): the index grew the PQ plane — codebooks + codes are
    // ingest artifacts now (train-once, probe-many), so n12/n15
    // stopped re-training/re-encoding per query AND became
    // oracle-replayable. v2 grew neardup_edges (d5's pair scoring as
    // a build artifact).
    s"ann-v3;ivf=$IvfCells;lsh=${LshTables}x$LshBits;" +
      s"pq=m${PqM}k$PqK;edges=tau${Dedup.NeardupTau}")

  /** Ensure the ANN index and record its committed version for the
    * index-backed oracles (the probe queries and the DuckDB gate read
    * the SAME committed tables, r13 ask #7). */
  private[graft] def ensureAnnIndex(s: SparkSession, dir: String): String = {
    val root = annIndex.ensure(s, dir) {
      val e = corpus(s, dir)
      val refined = ivfCentroids(e)
      import s.implicits._
      val centroids = refined.toDF("cell_id", "cv", "cn")
      // localCheckpoint: published as an output AND consumed twice by
      // the neardup-edge self-join below (blocks freed after the build)
      val assignments = n3Assign(e, refined).localCheckpoint()
      // SLIM rows: (vec_id, tbl, bkt) only — storing the vector
      // once per hash table would multiply vector bytes
      // ×LshTables in both the index and every probe's scan
      // (measured 2× probe cost); probes re-attach vectors from
      // the single-copy assignments table instead
      val lsh = e
        .select(col("vec_id"), explode(lshBuckets("v")).as("tb"))
        .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
      // the PQ plane is an ingest artifact too (r14): codebooks train
      // ONCE on the bounded deterministic sample, every corpus vector
      // encodes ONCE — n12/n15 used to re-train + re-encode per query
      val books = pqCodebooks(assignments)
      val pqBooks = books.zipWithIndex.flatMap { case (bk, m) =>
        bk.zipWithIndex.map { case (c, k) => (m, k, c.toSeq) }
      }.toSeq.toDF("m", "k", "c")
      val pqCodes = assignments.select(col("vec_id"),
        pqCodesCol(books).as("codes"))
      Seq(
        "centroids" -> centroids, "assignments" -> assignments, "lsh" -> lsh,
        "pq_books" -> pqBooks, "pq_codes" -> pqCodes,
        // d5's pair scoring runs ONCE here (cell-pruned equi-join,
        // unrounded cosines) — near-dup sweeps are read-path filters
        "neardup_edges" -> Dedup.neardupEdgesRaw(s, refined, assignments))
    }
    annIndex.recordVersion(s, dir)
    root
  }

  /** The committed PQ codebooks as bounded driver-side literals
    * (PqM × PqK × sub doubles — the indexCells pattern on the PQ
    * plane). */
  private[graft] def indexPqBooks(s: SparkSession, root: String)
      : Array[Array[Array[Double]]] = {
    val rows = graft.sources.AtomicPublish.readOutput(s, root, "pq_books")
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        r.getSeq[Double](2).toArray)).toMap
    Array.tabulate(PqM)(m => Array.tabulate(PqK)(k => rows((m, k))))
  }

  /** The committed cell set as bounded driver-side literals (≤
    * [[IvfCells]] × dim doubles — the same bounded-collect pattern as
    * the build side). */
  private[graft] def indexCells(s: SparkSession, root: String): Seq[(Long, Array[Double], Double)] =
    graft.sources.AtomicPublish.readOutput(s, root, "centroids")
      .collect().toSeq.map(r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

  def n3IvfAnn(s: SparkSession, dir: String): DataFrame =
    ivfProbeFrom(s, ensureAnnIndex(s, dir))

  /** The IVF probe against ANY committed index root holding the
    * standard (centroids, assignments) outputs — shared by n3 (the
    * build-once index) and n17 (the incrementally-maintained one), so
    * probe semantics cannot drift between the two lifecycles. */
  private[graft] def ivfProbeFrom(s: SparkSession, root: String): DataFrame = {
    val refined = indexCells(s, root)
    val assigned = graft.sources.AtomicPublish.readOutput(s, root, "assignments")
    val e = assigned // queries probe FROM the index too — no raw-corpus scan
    // queries probe their IvfProbes nearest cells (bounded query set ×
    // literal cell array — the window here is query-set-sized)
    val cellArr = array(refined.map { case (id, cv, cn) =>
      struct(lit(id).as("cell_id"), typedlit(cv).as("cv"), lit(cn).as("cn"))
    }: _*)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(cellArr).as("cell"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("cell.cell_id").as("cell_id"),
        VectorFunctions.cosineFromParts(
          org.apache.spark.sql.graft.ArrayMathExpr.dotNative(
            col("qv"), col("cell.cv")),
          col("qn"), col("cell.cn")).as("ccos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= IvfProbes)
      .select(col("query_id"), col("qv"), col("qn"), col("cell_id"))
    val pairs = broadcast(probes)
      .join(assigned, Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_raw"))
    rankTopK(pairs)
  }

  val RerankFactor = 4 // n8 re-ranks RerankFactor×TopK int8 candidates

  /** n8: quantized top-k — [[org.apache.spark.sql.graft.QuantizeI8]]
    * put to work for search. Candidate scoring runs ENTIRELY on the
    * int8 codes via the native integer multiply-accumulate kernel
    * ([[org.apache.spark.sql.graft.DotI8]]): approx_cos =
    * scaleA·scaleB·dot_i8 / (127²·nrmA·nrmB). At 100 TB this is the
    * point of quantization — the scan reads 8× fewer vector bytes
    * (int8 vs float64) and the hot loop is integer MAC, with the
    * float vectors touched only for the RerankFactor×TopK survivors
    * per query, which are then re-ranked by exact cosine. Ties in the
    * integer scores break on neighbor_id, so the candidate cut is
    * deterministic. Hash oracle: the int8 quantize/MAC replays
    * exactly in DuckDB integer SQL; SimilaritySpec additionally
    * checks recall vs the exact n1 top-k. */
  def n8QuantizedTopk(s: SparkSession, dir: String): DataFrame = {
    val qz = corpus(s, dir).select(col("vec_id"), col("v"), col("nrm"),
      org.apache.spark.sql.graft.QuantizeI8.quantizeI8(col("v")).as("qz"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("qz.scale").as("scale"), col("qz.q").as("q"))
    val queries = qz.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("scale").as("qscale"), col("q").as("qq"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val candidates = broadcast(queries)
      .join(qz, col("query_id") =!= col("vec_id"))
      .withColumn("approx",
        org.apache.spark.sql.graft.DotI8.dotI8(col("qq"), col("q"))
          .cast("double") * col("qscale") * col("scale") /
          (lit(127.0 * 127.0) * col("qn") * col("nrm")))
      .select(col("query_id"), col("qv"), col("qn"),
        col("vec_id").as("neighbor_id"), col("v"), col("nrm"), col("approx"))
      .withColumn("crank", row_number().over(wApprox))
      .filter(col("crank") <= TopK * RerankFactor)
    rankTopK(candidates
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("neighbor_id"), col("cos_raw")))
  }

  // 16 subspaces of 4 dims: measured recall vs n1 is 0.88 / 0.96 at
  // sf0.001 / sf0.01 — at M=8 (8-dim subspaces) it was only
  // 0.72 / 0.68, because these near-random embeddings put the true
  // neighbors within ADC's quantization noise; halving the subspace
  // width doubles code granularity for the same lookup cost shape.
  val PqM = 16 // subspaces (codes per vector)
  // PQ scores are coarser than int8's (16 codes vs 64 levels/dim), so
  // the survivor pool re-ranked exactly is deeper than n8's 4×k —
  // the standard PQ serving trade: candidates are nearly free (code
  // lookups), exactness is bought at re-rank.
  val PqRerankFactor = 8
  val PqK = 16 // centroids per subspace codebook
  val PqSample = 256 // deterministic training sample (vec_id bound)
  val PqIters = 8 // driver-side Lloyd iterations per subspace

  /** Driver-side k-means over a bounded sample (deterministic: seeds
    * are the first k distinct points in id order, Lloyd with
    * keep-old-centroid on empty clusters). Corpus-size-independent —
    * the sample is fixed-size by construction. */
  private def kmeansSmall(xs: Array[Array[Double]], k: Int, iters: Int)
      : Array[Array[Double]] = {
    var cents = xs.distinct.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](xs.head.length))
      val cnts = new Array[Int](cents.length)
      xs.foreach { x =>
        var best = 0; var bestD = Double.MaxValue
        for (c <- cents.indices) {
          var d = 0.0; var i = 0
          while (i < x.length) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
        }
        cnts(best) += 1
        var i = 0
        while (i < x.length) { sums(best)(i) += x(i); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (cnts(c) == 0) cents(c)
        else sums(c).map(_ / cnts(c))
      }.toArray
    }
    cents
  }

  /** PQ codebooks: [[PqM]] subspace k-means models trained on a
    * DETERMINISTIC bounded sample (vec_id < [[PqSample]] — the
    * imp1/qc1 "train on a sample, apply corpus-wide" discipline).
    * Total model size PqM × PqK × (dim/PqM) doubles = dim × PqK —
    * a few KB of plan literals, identical on every executor. */
  private[graft] def pqCodebooks(e: DataFrame): Array[Array[Array[Double]]] = {
    val sample = e.filter(col("vec_id") < PqSample).orderBy("vec_id")
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    val sub = sample.head.length / PqM
    Array.tabulate(PqM) { m =>
      kmeansSmall(sample.map(_.slice(m * sub, (m + 1) * sub)), PqK, PqIters)
    }
  }

  /** All-subspace code assignment in ONE native kernel call
    * ([[org.apache.spark.sql.graft.PqEncode]]): argmin_k
    * ||x_m − c_mk||² per subspace against the flattened literal
    * codebook, min-k tie-break — the same rule as the driver-side
    * trainer, pinned by the argmin-recompute spec. The greatest()-
    * over-256-structs form this replaced did identical math as a
    * >1000-node projection whose generated code took seconds to
    * janino-compile per executor. Zero shuffle either way. */
  private def pqCodesCol(books: Array[Array[Array[Double]]])
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.PqEncodeExpr.pqEncode(
      col("v"), typedlit(books.flatten.flatten), PqM, PqK)

  /** n12: product-quantization top-k (Jégou, Douze & Schmid, TPAMI
    * 2011 — "Product quantization for nearest neighbor search"): the
    * OTHER classic vector-compression serving path next to n8's int8.
    * Where int8 keeps dim bytes per vector, PQ keeps [[PqM]] CODES
    * (8 bytes here vs 512 float64 bytes — 64× smaller), and search
    * never touches the float vectors until re-rank:
    *
    *  - encode: corpus vectors → PqM codebook codes, a zero-shuffle
    *    scan+project against plan-literal codebooks (trained on a
    *    bounded deterministic sample, driver-side, corpus-independent);
    *  - ADC (asymmetric distance computation): each query precomputes
    *    dot(q_m, c_mk) lookup tables (PqM × PqK doubles, bounded by
    *    the query set, embedded as literals), so a candidate's
    *    approximate dot is PqM codegen'd element_at lookups + adds —
    *    no float-vector math on the corpus side at all;
    *  - exact cosine re-rank of the [[RerankFactor]]×[[TopK]]
    *    survivors per query (n8's discipline, deterministic
    *    tie-break).
    *
    * FULL hash oracle since r14: pq_books/pq_codes are committed
    * index artifacts (ann-v3), so DuckDB replays the LUT build + ADC
    * fold (left-assoc pivoted terms) + re-rank from the
    * version-resolved parquet; SimilaritySpec checks recall vs exact
    * n1 (≥0.8) and pins the encoder to a driver-side argmin
    * recompute. */
  def n12PqTopk(s: SparkSession, dir: String): DataFrame = {
    // READ path since r14: codebooks + codes are committed index
    // artifacts (train-once/encode-once at ingest) — this query used
    // to re-train the codebooks and re-encode the whole corpus per
    // run, the exact per-query cost the persisted-index rule exists
    // to eliminate (and with the artifacts committed the whole probe
    // became oracle-replayable)
    val root = ensureAnnIndex(s, dir)
    val books = indexPqBooks(s, root)
    val sub = books.head.head.length
    val vecs = graft.sources.AtomicPublish.readOutput(s, root, "assignments")
      .select(col("vec_id"), col("v"), col("nrm"))
    val coded = graft.sources.AtomicPublish.readOutput(s, root, "pq_codes")
      .join(vecs.select(col("vec_id"), col("nrm")), Seq("vec_id"))
    // bounded query collect: LUTs are NumQueries × PqM × PqK doubles
    val qRows = vecs.filter(col("vec_id") < NumQueries).orderBy("vec_id")
      .select("vec_id", "v", "nrm").collect()
    import s.implicits._
    val qDf = qRows.map { r =>
      val qv = r.getSeq[Double](1).toArray
      val luts = Array.tabulate(PqM) { m =>
        books(m).map { c =>
          var d = 0.0; var i = 0
          while (i < sub) { d += qv(m * sub + i) * c(i); i += 1 }
          d
        }
      }
      (r.getLong(0), qv, r.getDouble(2), luts)
    }.toSeq.toDF("query_id", "qv", "qn", "luts")
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val adc = (0 until PqM).map(m =>
      element_at(element_at(col("luts"), m + 1),
        element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
    // the candidate window ranks SLIM (query, neighbor, approx) rows —
    // carrying the float vectors through its shuffle would move
    // dim-sized arrays for every (query × corpus) pair; instead the
    // TopK×RerankFactor survivors (a broadcastable handful) pull their
    // vectors back with one keyed join against the committed table
    val candidates = broadcast(qDf.select(col("query_id"), col("luts"),
        col("qn").as("qn0")))
      .join(coded.select(col("vec_id"), col("codes"), col("nrm")),
        col("query_id") =!= col("vec_id"))
      .withColumn("approx", adc / (col("qn0") * col("nrm")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("approx"))
      .withColumn("crank", row_number().over(wApprox))
      .filter(col("crank") <= TopK * PqRerankFactor)
      .select(col("query_id"), col("neighbor_id"))
    val rerank = vecs
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
      .join(broadcast(candidates
        .join(qDf.select(col("query_id"), col("qv"), col("qn")), "query_id")),
        "neighbor_id")
    rankTopK(rerank
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("neighbor_id"), col("cos_raw")))
  }

  /** n15: IVF+PQ — the FAISS-style composition of the two serving
    * structures this library already proves separately: n3's inverted
    * file routes each query to its [[IvfProbes]] nearest cells (so
    * only ~probes/cells of the corpus is TOUCHED), and inside the
    * probed cells candidates are scored by n12's PQ-ADC lookup tables
    * (so the touched fraction is scanned as M byte-codes, never float
    * vectors). At 100 TB this is THE billion-vector serving layout:
    * cell routing bounds I/O, PQ bounds bytes-per-candidate, and the
    * float vectors are read only for the TopK×rerank survivors.
    * Probe selection runs driver-side over bounded metadata
    * (NumQueries × IvfCells literal centroids); the candidate window
    * ranks SLIM (query, neighbor, approx) rows — n12's lesson.
    * FULL hash oracle since r14: centroid routing AND the PQ-ADC
    * fold both replay in DuckDB SQL from the committed
    * centroids/pq_books/pq_codes tables; recall-vs-exact spec (≥0.6)
    * on top. */
  def n15IvfPq(s: SparkSession, dir: String): DataFrame = {
    val root = ensureAnnIndex(s, dir)
    val refined = indexCells(s, root)
    val assigned = graft.sources.AtomicPublish.readOutput(s, root, "assignments")
    // committed PQ plane (r14): no per-query re-train/re-encode
    val books = indexPqBooks(s, root)
    val sub = books.head.head.length
    val coded = graft.sources.AtomicPublish.readOutput(s, root, "pq_codes")
      .join(assigned.select(col("vec_id"), col("cell_id"), col("nrm")),
        Seq("vec_id"))
    // queries + their ADC LUTs + driver-side probe-cell routing
    // (bounded: NumQueries × IvfCells metadata)
    val qRows = assigned.filter(col("vec_id") < NumQueries).orderBy("vec_id")
      .select("vec_id", "v", "nrm").collect()
    import s.implicits._
    val qDf = qRows.map { r =>
      val qv = r.getSeq[Double](1).toArray
      val qn = r.getDouble(2)
      val luts = Array.tabulate(PqM) { m =>
        books(m).map { c =>
          var d = 0.0; var i = 0
          while (i < sub) { d += qv(m * sub + i) * c(i); i += 1 }
          d
        }
      }
      val cells = refined.map { case (id, cv, cn) =>
        var d = 0.0; var i = 0
        while (i < qv.length) { d += qv(i) * cv(i); i += 1 }
        (id, d / (qn * cn))
      }.sortBy { case (id, c) => (-c, id) }.take(IvfProbes).map(_._1)
      (r.getLong(0), qn, luts, cells)
    }.toSeq.toDF("query_id", "qn", "luts", "probe_cells")
    val adc = (0 until PqM).map(m =>
      element_at(element_at(col("luts"), m + 1),
        element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val candidates = broadcast(qDf
        .select(col("query_id"), col("qn"), col("luts"),
          explode(col("probe_cells")).as("cell_id")))
      .join(coded, Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("approx", adc / (col("qn") * col("nrm")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("approx"))
      .withColumn("crank", row_number().over(wApprox))
      .filter(col("crank") <= TopK * PqRerankFactor)
      .select(col("query_id"), col("neighbor_id"))
    val rerank = assigned
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
      .join(broadcast(candidates.join(
        assigned.filter(col("vec_id") < NumQueries).select(
          col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn")), "query_id")),
        "neighbor_id")
    rankTopK(rerank
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("neighbor_id"), col("cos_raw")))
  }

  /** Spec hook: (vec_id, code0..code{M-1}) for the whole corpus. */
  private[graft] def pqCodes(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val books = pqCodebooks(e)
    val codes = pqCodesCol(books)
    e.select((col("vec_id") +: (0 until PqM).map(m =>
      element_at(codes, m + 1).as(s"code$m"))): _*)
  }

  val SemDedupTau = 0.4 // cosine threshold for "semantic duplicate"

  /** n6: semantic deduplication (the SemDeDup recipe, Abbas et al.
    * 2023, arXiv:2303.09540): cluster embeddings into IVF cells, then
    * drop any vector with a lower-id near-duplicate (cosine ≥
    * [[SemDedupTau]]) in the SAME cell — pairwise comparison never
    * crosses cell boundaries, which is what makes semantic dedup
    * tractable at corpus scale. Plan shape: zero-shuffle cell
    * assignment (plan-literal centroids, same as n3), then a
    * cell-keyed self-join whose cost is quadratic only within a cell
    * — at scale the cell count grows with the corpus (n/cells stays
    * bounded), here IvfCells=10. Emits one row per vector: keep flag,
    * and for drops the min-id duplicate it collapses into and the
    * strongest cosine. FULL hash oracle since r14: the committed
    * assignments table replays the within-cell pair scan in DuckDB;
    * the ScalaTest recomputes within-cell pairs brute-force and
    * checks the keep set exactly. */
  def n6SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    // cells come from the persisted index (same centroids/assignments
    // n3 probes — SemDeDup is an index consumer, not an index builder)
    val assigned = graft.sources.AtomicPublish.readOutput(
      s, ensureAnnIndex(s, dir), "assignments")
    val dups = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell_id") === col("b.cell_id") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("a.v", "b.v"), col("a.nrm"), col("b.nrm")))
      .filter(col("cosine") >= SemDedupTau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("dup_of"),
        round(max(col("cosine")), 6).as("max_cos"))
    assigned.select(col("vec_id"), col("cell_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        col("dup_of").isNull.as("keep"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"))
      .orderBy("vec_id")
  }

  /** n7: symmetric int8 quantization of every corpus embedding via the
    * native [[org.apache.spark.sql.graft.QuantizeI8]] kernel — one
    * codegen'd pass per vector produces the scale, the int8 codes, and
    * the audit digests (sum/min/max of codes, sequential L2
    * reconstruction error). This is the storage-compression step of an
    * embedding pipeline: int8 cuts vector bytes 8× vs float64, and the
    * plan is a pure scan+project (zero shuffle, zero aggregation — the
    * per-vector digests come out of the same struct as the codes, so no
    * second pass). The digests are SQL-reproducible, so unlike the
    * sketch ops this gets the full hash oracle. */
  def n7QuantizeI8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    e.select(col("vec_id"),
        org.apache.spark.sql.graft.QuantizeI8.quantizeI8(col("v")).as("qz"))
      .select(col("vec_id"),
        round(col("qz.scale"), 6).as("scale"),
        col("qz.sum_q").as("sum_q"),
        col("qz.min_q").as("min_q"),
        col("qz.max_q").as("max_q"),
        round(col("qz.err"), 6).as("err"))
      .orderBy("vec_id")
  }

  /** n5: per-group embedding centroids via the native VectorSumAgg
    * aggregate — one pass + one shuffle of dim-length buffers (the
    * posexplode alternative blows rows up dim× and shuffles them
    * all). Emits the first four centroid dimensions (rounded: sum
    * order across partitions differs from the oracle's) plus the
    * group size. */
  def n5Centroids(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(pmod(col("vec_id"), lit(10)).as("grp"),
        col("embedding").cast("array<double>").as("v"))
    e.groupBy(col("grp"))
      .agg(org.apache.spark.sql.graft.VectorSumAggExpr.vectorSum(col("v")).as("vs"),
        count(lit(1)).as("n"))
      .select(col("grp"), col("n"),
        round(col("vs")(0) / col("n"), 6).as("c0"),
        round(col("vs")(1) / col("n"), 6).as("c1"),
        round(col("vs")(2) / col("n"), 6).as("c2"),
        round(col("vs")(3) / col("n"), 6).as("c3"))
      .orderBy("grp")
  }

  /** n4: IVF cell-quality audit — the index-maintenance report that
    * decides when to RE-TRAIN the cells (n13 evaluates query recall;
    * n4 evaluates the partitioning itself): per cell, the population,
    * the mean cosine to the OWN centroid (tightness), the mean cosine
    * to the best OTHER centroid (separation), and the assignment
    * margin own−other (≥0 for every vector BY CONSTRUCTION, since
    * assignment is the cosine argmax — the spec pins this invariant),
    * plus the population share (imbalance ⇒ hot probe cells). All
    * per-vector scores fold IN-ROW against the ≤[[IvfCells]]×dim
    * literal centroid array (n3's zero-shuffle argmax pattern — no
    * explode fan-out, no join), so the whole audit is one corpus scan
    * into a ≤IvfCells-row aggregate. FULL hash oracle since r14 (r13
    * ask #7): the centroids are "engine-trained" but COMMITTED —
    * both the centroid and assignment tables live in the published
    * index version, so the oracle `read_parquet()`s the exact same
    * doubles and replays the audit in SQL ([[annIndex]]'s oracle hook, qc2's
    * discipline). Per-vector cosines fold as 1e-9-quantized int64
    * sums (order-free — a raw avg(double) is partial-merge-order
    * dependent); min is order-free as-is. */
  def n4CellAudit(s: SparkSession, dir: String): DataFrame = {
    val root = ensureAnnIndex(s, dir)
    val cells = indexCells(s, root)
    val assigned = graft.sources.AtomicPublish.readOutput(s, root, "assignments")
    val cosCols = cells.map { case (id, cv, cn) =>
      id -> VectorFunctions.cosineFromParts(
        org.apache.spark.sql.graft.ArrayMathExpr.dotNative(col("v"), typedlit(cv)),
        col("nrm"), lit(cn))
    }
    val ownCos = greatest(cosCols.map(_._2): _*)
    val otherCos = greatest(cosCols.map { case (id, c) =>
      when(col("cell_id") =!= id, c)
    }: _*)
    val perVec = assigned.select(col("cell_id"),
      floor(ownCos * lit(1e9) + lit(0.5)).cast("long").as("sq_own"),
      floor(otherCos * lit(1e9) + lit(0.5)).cast("long").as("sq_oth"),
      (ownCos - otherCos).as("margin"))
    val tot = assigned.agg(count(lit(1)).as("n_total"))
    // the quantized-cosine folds sum through decimal(38,0) (r14 advice
    // #2): a plain long sum of ~1e9-scale quanta wraps silently past
    // ~9.2e9 rows/cell in non-ANSI Spark while the oracle's HUGEINT
    // widens — the obt2 silent-vs-loud divergence class
    perVec.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_vectors"),
        round((sum(col("sq_own").cast("decimal(38,0)")).cast("double") /
          count(lit(1))) / lit(1e9), 6).as("mean_own_cos"),
        round((sum(col("sq_oth").cast("decimal(38,0)")).cast("double") /
          count(lit(1))) / lit(1e9), 6).as("mean_other_cos"),
        round(((sum(col("sq_own").cast("decimal(38,0)")) -
          sum(col("sq_oth").cast("decimal(38,0)"))).cast("double") /
          count(lit(1))) / lit(1e9), 6).as("mean_margin"),
        round(min(col("margin")), 6).as("min_margin"))
      .crossJoin(broadcast(tot)) // 1-row bounded metadata
      .select(col("cell_id"), col("n_vectors"),
        round(col("n_vectors") / col("n_total").cast("double"), 6).as("share"),
        col("mean_own_cos"), col("mean_other_cos"),
        col("mean_margin"), col("min_margin"))
      .orderBy("cell_id")
  }

  val TruncDims = 32 // Matryoshka-style truncated serving dimension

  /** n18: truncated-dimension retrieval eval — the MRL/Matryoshka
    * serving decision (Kusupati et al. 2022): can the vector plane
    * serve at [[TruncDims]] of the full 64 dims — half the index
    * bytes, half the distance FLOPs — and keep enough recall? Per
    * query: the exact top-[[TopK]] by FULL-dim cosine vs the
    * top-[[TopK]] by cosine over the first-[[TruncDims]] slice (its
    * own norms), reported as hits + recall@K. At 100 TB this is the
    * measurement run on a sample before halving a billion-vector
    * index. Plan shape: ONE broadcast-query × corpus-pass scoring
    * computes BOTH cosines (the truncated dot is a second native
    * kernel call on the sliced array — no second scan), then two
    * bounded rank windows (query-set-sized) and a keyed recall join;
    * ranks break ties on neighbor id, recall is an exact int/K
    * ratio — deterministic end to end, full hash oracle. */
  def n18TruncationEval(s: SparkSession, dir: String): DataFrame = {
    val f = corpus(s, dir)
      .select(col("vec_id"), col("v"), col("nrm"),
        slice(col("v"), 1, TruncDims).as("tv"))
      .withColumn("tnrm", VectorFunctions.l2normNative("tv"))
    val q = f.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("tv").as("qtv"), col("tnrm").as("qtn"))
    val scored = broadcast(q).join(f, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.cosineFromParts(
          VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm"))
          .as("fc"),
        VectorFunctions.cosineFromParts(
          VectorFunctions.dotNative("qtv", "tv"), col("qtn"), col("tnrm"))
          .as("tc"))
    recallOfApprox(scored, "tc")
  }

  /** Shared recall@[[TopK]] tail for the quantization-eval family
    * (n18 truncation, n19 binary): given one scored frame carrying
    * the exact cosine `fc` and an approximate score column, rank both
    * (two query-set-bounded windows), keyed-join the top-K sets, and
    * emit per-query hits + the exact int/K recall ratio. Ties break
    * on neighbor id in both rankings.
    *
    * r16 measured-and-REJECTED: a single-lineage form (both
    * row_numbers chained on one stream, intersection as a
    * both-ranks-≤K flag sum, no join) halves the scored-subtree
    * derivations (n19's plan: 4 embeddings scans → 2) but measured
    * WORSE everywhere — n19 0.79 → 0.82 s at 32c, 0.76 → 0.96 s at
    * 8c, and 8.90 → 12.73 s at 10× data (n18 1.61 → 2.40): chaining
    * two full in-partition sorts SERIALIZES them on one stream, while
    * the duplicated branches sort in PARALLEL inside one job and the
    * join touches only 2·K·|queries| rows. Parallel duplicate
    * subtrees beat a serialized single lineage here; kept as is. */
  private def recallOfApprox(scored: DataFrame,
      approxCol: String): DataFrame = {
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("fc").desc, col("vec_id").asc)
    val wT = Window.partitionBy(col("query_id"))
      .orderBy(col(approxCol).desc, col("vec_id").asc)
    val fullTop = scored.withColumn("rk", row_number().over(wF))
      .filter(col("rk") <= TopK).select(col("query_id"), col("vec_id"))
    val truncTop = scored.withColumn("rk", row_number().over(wT))
      .filter(col("rk") <= TopK)
      .select(col("query_id").as("t_query"), col("vec_id").as("t_vec"))
    fullTop
      .join(truncTop, col("query_id") === col("t_query") &&
        col("vec_id") === col("t_vec"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("t_vec")).as("n_hit"),
        (count(col("t_vec")) / lit(TopK.toDouble)).as("recall"))
      .orderBy("query_id")
  }

  val BinDims = 64 // sign-bit signature width = the embedding dim

  /** n19: binary-quantization retrieval eval — the 1-bit end of the
    * quantization ladder this plane measures (float64 n1 → int8
    * n7/n8 → 16-byte PQ n12 → ONE 8-byte word here): signature bit i
    * is sign(vᵢ), similarity is [[BinDims]] − hamming, and the eval
    * reports exact-top-K recall of the sign ranking per query. At
    * 100 TB this is the binary-quantization serving decision every
    * vector store now offers (64× fewer bytes than float64, one
    * xor+popcount per candidate; survivors re-rank in float) — run
    * on a sample before flipping a billion-vector index to BQ.
    * Packing is an exact bitwise-OR fold (never an additive sum —
    * the 2⁶³ bit would overflow int64); hamming is the d4-proven
    * two's-complement bit_count(xor) both engines share; ranking and
    * recall are n18's shared deterministic tail. */
  def n19BinaryRecall(s: SparkSession, dir: String): DataFrame = {
    val packed = (0 until BinDims).map(i =>
      when(element_at(col("v"), i + 1) >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val f = corpus(s, dir)
      .select(col("vec_id"), col("v"), col("nrm"), packed.as("sig"))
    val q = f.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("sig").as("qsig"))
    val scored = broadcast(q).join(f, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.cosineFromParts(
          VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm"))
          .as("fc"),
        (lit(BinDims) - expr("bit_count(qsig ^ sig)")).as("bs"))
    recallOfApprox(scored, "bs")
  }

  /** n20's candidate quota: probe cells (best-centroid-first) until at
    * least this many SAME-LABEL candidates are reachable. Filtered
    * search needs a DEEPER quota than unfiltered re-rank pools (n8's
    * 4×K): the filtered subset's true top-k sits deeper in each
    * cell's cosine ranking than the unfiltered top-k, so the quota
    * is the recall/probe-cost dial —
    * measured on this corpus: 4×K → 0.58, 6×K → 0.76, 8×K → 0.86
    * mean recall vs the exact filtered scan (spec floor 0.8). */
  val FilteredMinCand = 8 * TopK

  /** n20: metadata-FILTERED ANN — same-label top-k over the committed
    * IVF index (per-tenant / per-language retrieval, the filtered
    * search every production vector store serves). The known failure
    * mode is recall collapse: a fixed nprobe tuned for unfiltered
    * search starves when the filter keeps ~1/#labels of each probed
    * cell, and worse when the filter CORRELATES with cells (labels
    * clustering into few cells). The production fix is ADAPTIVE
    * probing to a candidate quota, which this implements exactly: a
    * bounded (cell × label) histogram (index-metadata-sized, built
    * once per query run from the committed assignments) joins onto
    * the per-query centroid ranking, and a query keeps probing cells
    * in ccos order until the running same-label candidate count
    * reaches [[FilteredMinCand]] — probe depth scales with 1/
    * selectivity PER QUERY, with rare labels automatically probing
    * deeper (to the whole cell set when the label population itself
    * is below quota — the correct degradation). Scale shape: probe
    * selection runs on (query set × cells) rows, candidates stay
    * cell-confined AND label-filtered (the filter pushes into the
    * candidate join, not a post-filter over unfiltered top-k — a
    * post-filter returns < k results, THE filtered-search bug), one
    * corpus-keyed label attach join. Fully hash-replayable from the
    * committed index + the embeddings label column. */
  def n20FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val root = ensureAnnIndex(s, dir)
    val refined = indexCells(s, root)
    val labels = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val asg = graft.sources.AtomicPublish.readOutput(s, root, "assignments")
      .join(labels, Seq("vec_id")) // co-keyed 1:1 label attach
    val hist = asg.groupBy(col("cell_id"), col("label"))
      .agg(count(lit(1)).as("cnt")) // bounded: #cells × #labels
    val cellArr = array(refined.map { case (id, cv, cn) =>
      struct(lit(id).as("cell_id"), typedlit(cv).as("cv"), lit(cn).as("cn"))
    }: _*)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    val scored = asg.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("label"), explode(cellArr).as("cell"))
      .select(col("query_id"), col("qv"), col("qn"), col("label"),
        col("cell.cell_id").as("cell_id"),
        VectorFunctions.cosineFromParts(
          org.apache.spark.sql.graft.ArrayMathExpr.dotNative(
            col("qv"), col("cell.cv")),
          col("qn"), col("cell.cn")).as("ccos"))
      .withColumn("prn", row_number().over(wProbe))
      .join(broadcast(hist), Seq("cell_id", "label"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val wCum = Window.partitionBy(col("query_id")).orderBy(col("prn"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val probes = scored
      .withColumn("before", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
      .filter(col("before") < FilteredMinCand)
      .select(col("query_id"), col("qv"), col("qn"), col("label"),
        col("cell_id"))
    val pairs = broadcast(probes)
      .join(asg.select(col("vec_id"), col("cell_id"),
        col("label").as("mlabel"), col("v"), col("nrm")),
        Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id") &&
        col("label") === col("mlabel"))
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("label"), col("vec_id").as("neighbor_id"),
        col("cos_raw"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("label"), col("neighbor_id"), col("rank"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** n21's fusion constants — `final val` (compile-time constants, the
    * PassageWords rule: staticOracles interpolates them during object
    * init). Pool = how deep each ranker's candidate list goes before
    * fusion; k = the standard RRF dampener (Cormack et al. 2009). */
  final val FusePool = 50
  final val RrfK = 60
  final val FuseTopK = 10

  /** n21: hybrid search — BM25 ⊕ vector fused by Reciprocal Rank
    * Fusion (Cormack et al. 2009), the retrieval stack every modern
    * RAG system serves: lexical relevance to ix5's term query and
    * semantic similarity to a query embedding (vec 0, the n-plane's
    * query-set convention; the query doc itself is held out of both
    * pools) each produce a top-[[FusePool]] candidate list, and a
    * document's fused score is Σ 1/([[RrfK]]+rank) over the lists it
    * appears in — rank-space fusion, immune to the two scorers'
    * incomparable scales (the reason RRF beat score-normalization
    * fusions in practice).
    *
    * Scale shape: THE production hybrid pattern — each ranker
    * retrieves its own bounded pool first (BM25 rides ix5's committed
    * index read; the vector side is one corpus pass with a 1-row
    * broadcast query, compiling to TakeOrderedAndProject), and
    * fusion touches only the ≤ 2·pool union: rank windows sit ABOVE
    * LocalLimits (bounded by construction — the unpartitioned-window
    * sweep's rule), never over the corpus. Exactness: pool cuts
    * break ties on doc_id; 1/(k+rank) on integer ranks is the same
    * IEEE double in both engines; the fused order breaks ties on
    * doc_id. */
  def n21RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lexPool = graft.operators.TextIndex.ix5Bm25Search(s, dir)
      .filter(col("doc_id") =!= 0)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(FusePool)
      .withColumn("r_lex", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)))
    val e = corpus(s, dir)
    // limit(1) is a semantic no-op (vec_id is unique) that bounds the
    // hinted subtree for the broadcast-policy sweep (the t30 shape)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn")).limit(1)
    val semPool = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q)) // 1-row scalar attach
      .select(col("vec_id").as("doc_id"),
        VectorFunctions.cosineFromParts(
          VectorFunctions.dotNative("v", "qv"), col("nrm"), col("qn"))
          .as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("doc_id").asc).limit(FusePool)
      .withColumn("r_sem", row_number().over(
        Window.orderBy(col("cos_raw").desc, col("doc_id").asc)))
    val fused = lexPool.select(col("doc_id"), col("r_lex"), col("bm25"))
      .join(semPool.select(col("doc_id"), col("r_sem"), col("cos_raw")),
        Seq("doc_id"), "outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_sem")), lit(0.0)), 9))
    fused.orderBy(col("rrf").desc, col("doc_id").asc).limit(FuseTopK)
      .withColumn("fused_rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id").asc)))
      .select(col("fused_rank"), col("doc_id"), col("r_lex"), col("r_sem"),
        col("rrf"), round(col("bm25"), 6).as("bm25"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy("fused_rank")
  }

  val PcaK = 4 // projected dimensions

  /** PCA model from ONE distributed pass: n, the mean vector, and the
    * top-[[PcaK]] eigenpairs of the covariance C = Σxxᵀ/n − μμᵀ. The
    * executors reduce the corpus to a d²-double Gram buffer (native
    * [[org.apache.spark.sql.graft.GramMatrixAgg]], map-side combine —
    * corpus rows never shuffle) plus the existing VectorSumAgg and a
    * count, all in the same single-pass aggregate; the driver then
    * diagonalizes the d×d covariance (microseconds, corpus-size-
    * independent — the bounded-collect pattern, d²+d+1 doubles). */
  private[graft] def pcaModel(e: DataFrame): (Long, Array[Double], Seq[(Double, Array[Double])]) = {
    val r = e.agg(
      org.apache.spark.sql.graft.GramMatrixAggExpr.gramMatrix(col("v")).as("g"),
      org.apache.spark.sql.graft.VectorSumAggExpr.vectorSum(col("v")).as("s"),
      count(lit(1)).as("n")).collect()(0)
    val g = r.getSeq[Double](0).toArray
    val sums = r.getSeq[Double](1).toArray
    val n = r.getLong(2)
    val d = sums.length
    val mu = sums.map(_ / n)
    val cov = new Array[Double](d * d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) { cov(i * d + j) = g(i * d + j) / n - mu(i) * mu(j); j += 1 }
      i += 1
    }
    (n, mu, graft.functions.Eigen.topK(cov, d, PcaK))
  }

  /** n9: PCA projection of the embedding corpus to [[PcaK]] dims —
    * the dimensionality-reduction step in front of clustering /
    * dedup / visualization of a training corpus. Two-phase plan, both
    * phases scale-safe: (1) the one-pass Gram reduction above; (2) the
    * projection yⱼ = pⱼ·(x − μ) as a pure map-side select — each
    * component is a native codegen'd dot against its eigenvector,
    * read from ONE scalar subquery over the committed model (a sorted
    * array of (j, p, shift = pⱼ·μ)), so the projection adds zero
    * shuffles and building the plan runs no job. FULL hash oracle
    * since r15 (r14 ask #3b): the eigensolve stays engine-side but
    * its RESULT — per-component direction p and the precomputed
    * shift p·μ — is published as a committed `pca_model` artifact
    * ([[ensurePcaModel]]), so the DuckDB oracle replays the
    * zero-shuffle projection from the version-resolved parquet
    * (list_dot_product is the same left-to-right fold as the native
    * kernel loop — the PQ-LUT precedent); SimilaritySpec additionally
    * checks orthonormality, the projected-variance≍eigenvalue
    * identity, and PCA's variance optimality vs coordinate axes. */
  def n9PcaProject(s: SparkSession, dir: String): DataFrame = {
    val root = ensurePcaModel(s, dir)
    // the model, not data: PcaK structs sorted by j, so component j is
    // element j (Spark reuses the one subquery across the references)
    val comps = graft.sources.AtomicPublish.readOutput(s, root, "components")
      .agg(sort_array(collect_list(struct(col("j"), col("p"), col("shift"))))).scalar()
    // 1e-6 grid via the fixed IEEE floor-quantizer, not round():
    // round(double, n) re-derives the decimal boundary differently
    // per engine; floor(x·1e6 + 0.5)/1e6 has ONE answer in both
    val projCols = (0 until PcaK).map { j =>
      (floor((org.apache.spark.sql.graft.ArrayMathExpr.dotNative(
        col("v"), comps(j)("p")) - comps(j)("shift")) * lit(1e6) + lit(0.5))
        .cast("double") / lit(1e6)).as(s"pc$j")
    }
    corpus(s, dir).select(col("vec_id") +: projCols: _*)
      .orderBy("vec_id")
  }

  /** Durable PCA model: train once per corpus fingerprint (one Gram
    * pass + a driver-side d×d eigensolve), publish the components as
    * parquet — (j, direction p, shift = p·μ, eigenvalue). Downstream
    * projections (and the DuckDB oracle) read the committed doubles,
    * so "engine-trained" stops meaning "engine-specific" the moment
    * the model COMMITS (the r14 conversion-wave rule). */
  private[graft] val pcaArtifact = Artifact("pca_model", "embeddings")(s"pca-v1;k=$PcaK")

  /** Ensure the PCA model and record its version for n9's oracle. */
  private[graft] def ensurePcaModel(s: SparkSession, dir: String): String = {
    val root = pcaArtifact.ensure(s, dir) {
      val (_, mu, comps) = pcaModel(corpus(s, dir))
      import s.implicits._
      val rows = comps.zipWithIndex.map { case ((ev, p), j) =>
        (j, p.toSeq, p.zip(mu).map { case (a, b) => a * b }.sum, ev)
      }
      Seq("components" -> rows.toDF("j", "p", "shift", "eigenvalue")
        .coalesce(1))
    }
    pcaArtifact.recordVersion(s, dir)
    root
  }

  val KnnK = 10 // neighbors voting in n10

  /** n10: k-NN label probe — the standard embedding-quality eval:
    * predict each query vector's label by majority vote of its
    * [[KnnK]] exact-cosine neighbors' labels (ties broken by smaller
    * label), and report it against the true label. A training-data
    * pipeline runs exactly this to decide whether an embedding space
    * is good enough to drive clustering/dedup/mixing decisions.
    * Shape: n1's broadcast-query × one-corpus-pass scoring, then the
    * vote is a (query × ≤K)-row aggregate — bounded by the query set,
    * free at any corpus scale. The scale path feeds the same vote
    * from n3's IVF candidates instead of the exact scan. */
  def n10KnnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
      .withColumn("nrm", VectorFunctions.l2normNative("v"))
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qn"), col("label").as("true_label"))
      .filter(col("query_id") < NumQueries)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("pred_label").asc)
    broadcast(q)
      .join(e, col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("true_label"),
        col("vec_id").as("neighbor_id"), col("label"), col("cos_raw"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= KnnK)
      .groupBy(col("query_id"), col("true_label"), col("label").as("pred_label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("n_votes"), (col("pred_label") === col("true_label")).as("hit"))
      .orderBy("query_id")
  }

  val MmrLambda = 0.7 // relevance weight; 1-λ penalizes redundancy
  val MmrPool = 4 * TopK // candidate pool per query before re-ranking

  /** n11: MMR diversity re-ranking (Maximal Marginal Relevance,
    * Carbonell & Goldstein 1998) — the retrieval step between ANN
    * and a consumer that wants COVERAGE, not five near-copies:
    * greedily pick argmax λ·sim(q,d) − (1−λ)·max_{s∈selected}
    * sim(d,s) from a bounded candidate pool. The pool per query is
    * the distributed n1 scan's top-[[MmrPool]] (the corpus-side
    * work, unchanged at any scale); the greedy selection is
    * inherently sequential in k but PER-QUERY — since round 11 it
    * runs on the executors as a compiled kernel over each query's
    * collected pool ([[org.apache.spark.sql.graft.MmrExpr]]), so a
    * large online query batch scales with executors instead of
    * serializing on a driver collect (the r10 watch item; no
    * `.collect()` anywhere in this path, PlanAuditSpec pins no
    * LocalTableScan). Output is bit-identical to the retired driver
    * loop — ObtSampleSpec pins it against a driver recompute.
    * Hash oracle: the bounded-k greedy loop unrolls into k chained
    * argmax CTEs with GREATEST-folded running redundancy, walking
    * the kernel's exact IEEE tree; diversity-property ScalaTest on
    * top. */
  def n11MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id").asc)
    val pool = broadcast(q)
      .join(e, col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", VectorFunctions.cosineFromParts(
        VectorFunctions.dotNative("qv", "v"), col("qn"), col("nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MmrPool)
      .select(col("query_id"), col("vec_id"), col("cos_raw"), col("v"), col("nrm"))
    // per-query pool is ≤MmrPool rows by construction — the collect_list
    // group state is bounded the same way the old driver array was
    pool.groupBy(col("query_id"))
      .agg(collect_list(struct(col("vec_id"), col("cos_raw"), col("v"),
        col("nrm"))).as("cands"))
      .select(col("query_id"), explode(org.apache.spark.sql.graft.MmrExpr
        .mmr(col("cands"), TopK, MmrLambda)).as("pick"))
      .select(col("query_id"), col("pick.neighbor_id").as("neighbor_id"),
        col("pick.mmr_rank").as("mmr_rank"), col("pick.cosine").as("cosine"))
      .orderBy("query_id", "mmr_rank")
  }

  /** n13: ANN recall evaluation, in-engine — recall@[[TopK]] of the
    * LSH index (n2) against the exact baseline (n1), per query and as
    * a macro average. The observability loop every ANN deployment
    * needs: recall is a MEASURED quantity that drifts as the corpus
    * grows or shifts, and re-checking it must not require exporting
    * vectors to a notebook. Both inputs are bounded (queries × K
    * rows), so the eval costs two semi-joined aggregates over
    * metadata regardless of corpus size — the exact side's one
    * corpus scan is the price of ground truth, paid on the SAME
    * deterministic query set the recall specs use. FULL hash oracle
    * since r14 (r13 ask #7): the exact side is n1's SQL, the LSH side
    * replays n2's multiprobe from the committed index tables, and the
    * recall join runs in SQL; the ScalaTest additionally recomputes
    * recall from the two collected frames. */
  def n13RecallEval(s: SparkSession, dir: String): DataFrame = {
    val exact = n1CosineTopk(s, dir).select(col("query_id"), col("neighbor_id"))
    val approx = n2AnnLsh(s, dir).select(col("query_id"), col("neighbor_id"))
    val hit = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit") / col("n_exact").cast("double"), 4))
      .orderBy("query_id")
  }

  /** n16: exact mean pairwise cosine of the corpus — the standard
    * one-number embedding-diversity diagnostic (a collapsing/templated
    * corpus drifts toward 1; SemDeDup's premise made measurable) —
    * WITHOUT the n² pair join, via the sum-vector identity:
    * Σ_{i≠j} cos(vᵢ,vⱼ) = ‖Σᵢ v̂ᵢ‖² − n for unit vectors. The whole
    * computation is one posexplode + a d-group aggregate + a 1-row
    * fold — at 100 TB it is a single map-side-combined shuffle of
    * d×partitions rows, where the naive form is an n²/2 join.
    * Cross-engine exactness: each unit component is int64-quantized
    * at 1e-9 BEFORE summing (order-free long sums), the per-dim sums
    * are squared and summed in DECIMAL (exact to ~1e9 vectors:
    * s_d ≤ n·1e9 fits DECIMAL(19,0), Σ_d s_d² ≤ 64·1e36 fits
    * DECIMAL(38,0)), and the one final divide is quantized. The 1e-9
    * quantization bias on the IDENTITY (vs true cosine) is bounded by
    * d·2e-9 per pair — diagnostic-irrelevant, and both engines agree
    * bit-for-bit, which is what the gate checks. */
  def n16CorpusDiversity(s: SparkSession, dir: String): DataFrame = {
    val unit = corpus(s, dir)
      .select(posexplode(col("v")), col("nrm"))
      .select(col("pos").as("d"),
        floor(col("col") / col("nrm") * lit(1e9) + lit(0.5))
          .cast("long").as("q"))
    val dimSums = unit.groupBy(col("d"))
      .agg(sum(col("q")).cast("decimal(19,0)").as("sd"))
    val nRow = corpus(s, dir).agg(count(lit(1)).as("n_vectors"))
    dimSums
      .agg(count(lit(1)).as("n_dims"), sum(col("sd") * col("sd")).as("ssum"))
      .crossJoin(broadcast(nRow)) // 1-row bounded metadata
      .select(col("n_vectors"), col("n_dims"),
        (floor((col("ssum").cast("double") / lit(1e18) -
          col("n_vectors").cast("double")) /
          (col("n_vectors").cast("double") *
            (col("n_vectors").cast("double") - lit(1.0))) * lit(1e6) +
          lit(0.5)).cast("double") / lit(1e6)).as("mean_pairwise_cosine"))
  }

  /** A `def` (qc2's discipline): the index-backed entries resolve the
    * committed version path AFTER the queries ran — Verify dumps the
    * oracle map last — and are emitted only when exactly ONE corpus
    * ran in this JVM (ambiguity ⇒ rows-only fallback, never a
    * wrong-corpus oracle). The LSH/IVF probes and the cell audit are
    * "engine-specific" only until the index is COMMITTED; after that
    * every probe is deterministic SQL over the published tables, so
    * the gate replays candidate generation, probe selection, exact
    * re-ranking, and the recall join cross-engine (r13 ask #7). */
  def oracles: Map[String, String] = staticOracles ++
    annIndex.oracleVersion.toSeq.flatMap(ver => Seq(
      "n2_ann_lsh" -> n2Oracle(ver),
      "n3_ivf_ann" -> ivfProbeOracle(ver),
      "n20_filtered_ann" -> n20Oracle(ver),
      "n4_cell_audit" -> n4Oracle(ver),
      "n6_semantic_dedup" -> n6Oracle(ver),
      "n12_pq_topk" -> pqAdcOracle(ver, probed = false),
      "n15_ivf_pq" -> pqAdcOracle(ver, probed = true),
      "n13_recall_eval" -> n13Oracle(ver))) ++
    pcaArtifact.oracleVersion.map(v => "n9_pca_project" -> n9Oracle(v))

  /** DuckDB replay of n9 from the committed pca_model components:
    * per component, one list_dot_product (the kernel's left-to-right
    * fold) minus the committed shift, onto the 1e-6 grid with the
    * same floor-quantizer expression the Spark plan uses. */
  private def n9Oracle(verDir: String): String = {
    val cols = (0 until PcaK).map { j =>
      s"""floor((list_dot_product(e.v, (SELECT p FROM comp WHERE j = $j))
         |    - (SELECT shift FROM comp WHERE j = $j)) * 1e6 + 0.5) / 1e6
         |    AS pc$j""".stripMargin
    }.mkString(",\n  ")
    s"""WITH comp AS (SELECT j, p::DOUBLE[] AS p, shift
       |    FROM read_parquet('$verDir/components/*.parquet')),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT e.vec_id,
       |  $cols
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replay of the PQ-ADC serving path against the committed
    * pq_books/pq_codes/assignments tables — one builder for n12
    * (whole-corpus candidates) and n15 (IVF-probed candidates, adds
    * the centroid routing CTE), the ivfProbeOracle sharing rule on
    * the PQ plane. Exactness notes: the LUT dot is the same
    * left-to-right fold as the driver loop (list_dot_product over the
    * 1-based subvector slice); the ADC sum pivots the [[PqM]] terms
    * into columns and adds them in subspace order — the exact
    * left-associated tree Spark's `reduce(_ + _)` builds (a SQL
    * SUM() would fold in unspecified order and drift in the last
    * ulp); candidate and final ranks share the (score desc, id asc)
    * tie-break. */
  private def pqAdcOracle(verDir: String, probed: Boolean): String = {
    val adcSum = (0 until PqM)
      .map(m => s"MAX(CASE WHEN m = $m THEN t END)").mkString(" + ")
    val rerankK = TopK * PqRerankFactor
    val candCte =
      if (!probed)
        s"""cand AS (SELECT q.vec_id AS query_id, q.nrm AS qn,
           |    c.vec_id AS neighbor_id, c.codes, n.nrm
           |  FROM q CROSS JOIN codes c JOIN a n ON n.vec_id = c.vec_id
           |  WHERE c.vec_id <> q.vec_id)""".stripMargin
      else
        s"""cells AS (SELECT cell_id, cv, cn
           |    FROM read_parquet('$verDir/centroids/*.parquet')),
           |pc AS (SELECT query_id, cell_id FROM (
           |    SELECT q.vec_id AS query_id, cl.cell_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        list_dot_product(q.v, cl.cv) / (q.nrm * cl.cn) DESC,
           |        cl.cell_id ASC) AS prn
           |    FROM q CROSS JOIN cells cl) WHERE prn <= $IvfProbes),
           |cand AS (SELECT p.query_id, q.nrm AS qn,
           |    c.vec_id AS neighbor_id, c.codes, n.nrm
           |  FROM pc p JOIN a n ON n.cell_id = p.cell_id
           |    JOIN codes c ON c.vec_id = n.vec_id
           |    JOIN q ON q.vec_id = p.query_id
           |  WHERE n.vec_id <> p.query_id)""".stripMargin
    s"""WITH a AS (SELECT vec_id, v, nrm, cell_id
       |    FROM read_parquet('$verDir/assignments/*.parquet')),
       |codes AS (SELECT vec_id, codes
       |    FROM read_parquet('$verDir/pq_codes/*.parquet')),
       |b AS (SELECT m, k, c FROM read_parquet('$verDir/pq_books/*.parquet')),
       |q AS (SELECT vec_id, v, nrm FROM a WHERE vec_id < $NumQueries),
       |dims AS (SELECT CAST(len(v) // $PqM AS INT) AS sub FROM q LIMIT 1),
       |lut AS (SELECT q.vec_id AS query_id, b.m, b.k,
       |    list_dot_product(q.v[b.m * sub + 1 : b.m * sub + sub], b.c) AS t
       |  FROM q CROSS JOIN b CROSS JOIN dims),
       |$candCte,
       |tm AS (SELECT cand.query_id, cand.neighbor_id, cand.qn, cand.nrm,
       |    l.m, l.t
       |  FROM cand JOIN lut l ON l.query_id = cand.query_id
       |    AND l.k = cand.codes[l.m + 1]),
       |pv AS (SELECT query_id, neighbor_id, qn, nrm,
       |    ($adcSum) / (qn * nrm) AS approx
       |  FROM tm GROUP BY 1, 2, 3, 4),
       |sel AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY approx DESC, neighbor_id ASC)
       |      AS crank FROM pv) WHERE crank <= $rerankK),
       |rr AS (SELECT s.query_id, s.neighbor_id,
       |    list_dot_product(qq.v, nn.v) / (qq.nrm * nn.nrm) AS cos_raw
       |  FROM sel s JOIN a qq ON qq.vec_id = s.query_id
       |    JOIN a nn ON nn.vec_id = s.neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
       |  FROM rr)
       |SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of n2's multiprobe against the committed lsh +
    * assignments tables: home bucket + every 1-bit flip, candidate
    * dedup, exact-cosine re-rank — the same arithmetic on the same
    * committed doubles. */
  private def n2Oracle(verDir: String): String = {
    val flips = (Seq(0L) ++ (0 until LshBits).map(b => 1L << b))
      .map(f => s"($f)").mkString(", ")
    s"""WITH lsh AS (SELECT vec_id, tbl, bkt
       |    FROM read_parquet('$verDir/lsh/*.parquet')),
       |vecs AS (SELECT vec_id, v, nrm
       |    FROM read_parquet('$verDir/assignments/*.parquet')),
       |qb AS (SELECT l.vec_id AS query_id, l.tbl,
       |    xor(l.bkt, f.flip) AS bkt
       |  FROM lsh l CROSS JOIN (VALUES $flips) AS f(flip)
       |  WHERE l.vec_id < $NumQueries),
       |cand AS (SELECT DISTINCT qb.query_id, l2.vec_id AS neighbor_id
       |  FROM qb JOIN lsh l2 ON qb.tbl = l2.tbl AND qb.bkt = l2.bkt
       |  WHERE qb.query_id <> l2.vec_id),
       |pairs AS (SELECT c.query_id, c.neighbor_id,
       |    list_dot_product(qv.v, nv.v) / (qv.nrm * nv.nrm) AS cos_raw
       |  FROM cand c JOIN vecs qv ON qv.vec_id = c.query_id
       |    JOIN vecs nv ON nv.vec_id = c.neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of the IVF probe ([[ivfProbeFrom]]) against ANY
    * committed centroid + assignment version dir: top-[[IvfProbes]]
    * cells per query by centroid cosine (cell_id tie-break), then
    * exact-cosine re-rank of the probed cells' members. Shared by n3
    * (build-once index) and n17 (incrementally-maintained index) —
    * the same probe-semantics-cannot-drift rule as the Spark side. */
  private[graft] def ivfProbeOracle(verDir: String): String =
    s"""WITH c AS (SELECT cell_id, cv, cn
       |    FROM read_parquet('$verDir/centroids/*.parquet')),
       |a AS (SELECT vec_id, v, nrm, cell_id
       |    FROM read_parquet('$verDir/assignments/*.parquet')),
       |probes AS (SELECT query_id, cell_id FROM (
       |    SELECT q.vec_id AS query_id, c.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(q.v, c.cv) / (q.nrm * c.cn) DESC,
       |        c.cell_id ASC) AS prn
       |    FROM a q CROSS JOIN c WHERE q.vec_id < $NumQueries)
       |  WHERE prn <= $IvfProbes),
       |pairs AS (SELECT p.query_id, m.vec_id AS neighbor_id,
       |    list_dot_product(qv.v, m.v) / (qv.nrm * m.nrm) AS cos_raw
       |  FROM probes p JOIN a m ON m.cell_id = p.cell_id
       |    JOIN a qv ON qv.vec_id = p.query_id
       |  WHERE p.query_id <> m.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** DuckDB replay of n20's adaptive filtered probe: label attach from
    * the embeddings table, the bounded (cell × label) histogram, the
    * quota-driven running-sum probe cut, and the label-filtered
    * cell-confined candidate ranking — all from the committed index. */
  private def n20Oracle(verDir: String): String =
    s"""WITH c AS (SELECT cell_id, cv, cn
       |    FROM read_parquet('$verDir/centroids/*.parquet')),
       |a AS (SELECT vec_id, v, nrm, cell_id
       |    FROM read_parquet('$verDir/assignments/*.parquet')),
       |al AS (SELECT a.vec_id, a.v, a.nrm, a.cell_id, e.label
       |  FROM a JOIN embeddings e USING (vec_id)),
       |hist AS (SELECT cell_id, label, COUNT(*) AS cnt
       |  FROM al GROUP BY 1, 2),
       |scored AS (SELECT q.vec_id AS query_id, q.label, c.cell_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_dot_product(q.v, c.cv) / (q.nrm * c.cn) DESC,
       |      c.cell_id ASC) AS prn
       |  FROM al q CROSS JOIN c WHERE q.vec_id < $NumQueries),
       |wc AS (SELECT s.*, COALESCE(h.cnt, 0) AS cnt
       |  FROM scored s LEFT JOIN hist h
       |    ON h.cell_id = s.cell_id AND h.label = s.label),
       |probes AS (SELECT query_id, label, cell_id FROM (
       |    SELECT *, COALESCE(SUM(cnt) OVER (PARTITION BY query_id
       |      ORDER BY prn ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS bef FROM wc)
       |  WHERE bef < $FilteredMinCand),
       |pairs AS (SELECT p.query_id, p.label, m.vec_id AS neighbor_id,
       |    list_dot_product(qv.v, m.v) / (qv.nrm * m.nrm) AS cos_raw
       |  FROM probes p
       |  JOIN al m ON m.cell_id = p.cell_id AND m.label = p.label
       |  JOIN a qv ON qv.vec_id = p.query_id
       |  WHERE p.query_id <> m.vec_id),
       |ranked AS (SELECT query_id, label, neighbor_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, label, neighbor_id, rank,
       |  round(cos_raw, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** DuckDB replay of n6's SemDeDup over the committed assignments:
    * within-cell pair cosines (vec_id-ordered, so each pair scores
    * once), survivors grouped to (min dup_of, max cosine) — the same
    * raw-double threshold filter both engines share (n14's
    * discipline), rounding only at output. */
  private def n6Oracle(verDir: String): String =
    s"""WITH a AS (SELECT vec_id, cell_id, v, nrm
       |    FROM read_parquet('$verDir/assignments/*.parquet')),
       |p AS (SELECT x.vec_id AS ai, y.vec_id AS bi,
       |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine
       |  FROM a x JOIN a y ON x.cell_id = y.cell_id
       |    AND x.vec_id < y.vec_id),
       |d AS (SELECT bi AS vec_id, MIN(ai) AS dup_of,
       |    round(MAX(cosine), 6) AS max_cos
       |  FROM p WHERE cosine >= $SemDedupTau GROUP BY 1)
       |SELECT a.vec_id, a.cell_id, d.dup_of IS NULL AS keep,
       |  COALESCE(d.dup_of, -1) AS dup_of,
       |  COALESCE(d.max_cos, 0.0) AS max_cos
       |FROM a LEFT JOIN d USING (vec_id) ORDER BY a.vec_id""".stripMargin

  /** DuckDB replay of n4's cell audit over the committed tables:
    * per-vector own/best-other centroid cosine, 1e-9-quantized
    * per-cell means (order-free int64 folds), order-free min. */
  private def n4Oracle(verDir: String): String =
    s"""WITH a AS (SELECT vec_id, cell_id, v, nrm
       |    FROM read_parquet('$verDir/assignments/*.parquet')),
       |c AS (SELECT cell_id, cv, cn
       |    FROM read_parquet('$verDir/centroids/*.parquet')),
       |s AS (SELECT a.vec_id, a.cell_id,
       |    MAX(list_dot_product(a.v, c.cv) / (a.nrm * c.cn)) AS own_cos,
       |    MAX(CASE WHEN c.cell_id <> a.cell_id
       |      THEN list_dot_product(a.v, c.cv) / (a.nrm * c.cn) END) AS other_cos
       |  FROM a CROSS JOIN c GROUP BY 1, 2),
       |q AS (SELECT cell_id,
       |    CAST(floor(own_cos * 1e9 + 0.5) AS BIGINT) AS sq_own,
       |    CAST(floor(other_cos * 1e9 + 0.5) AS BIGINT) AS sq_oth,
       |    own_cos - other_cos AS margin FROM s),
       |g AS (SELECT cell_id, COUNT(*) AS n_vectors,
       |    round((CAST(SUM(CAST(sq_own AS DECIMAL(38,0))) AS DOUBLE)
       |      / COUNT(*)) / 1e9, 6) AS mean_own_cos,
       |    round((CAST(SUM(CAST(sq_oth AS DECIMAL(38,0))) AS DOUBLE)
       |      / COUNT(*)) / 1e9, 6) AS mean_other_cos,
       |    round((CAST(SUM(CAST(sq_own AS DECIMAL(38,0)))
       |      - SUM(CAST(sq_oth AS DECIMAL(38,0))) AS DOUBLE)
       |      / COUNT(*)) / 1e9, 6) AS mean_margin,
       |    round(MIN(margin), 6) AS min_margin
       |  FROM q GROUP BY 1),
       |t AS (SELECT COUNT(*) AS n_total FROM a)
       |SELECT g.cell_id, g.n_vectors,
       |  round(g.n_vectors / CAST(t.n_total AS DOUBLE), 6) AS share,
       |  g.mean_own_cos, g.mean_other_cos, g.mean_margin, g.min_margin
       |FROM g CROSS JOIN t ORDER BY g.cell_id""".stripMargin

  /** DuckDB replay of n13's recall eval: the exact side is n1's SQL
    * over the raw embeddings; the approx side replays n2's multiprobe
    * from the committed index; recall joins the two bounded frames. */
  private def n13Oracle(verDir: String): String = {
    val flips = (Seq(0L) ++ (0 until LshBits).map(b => 1L << b))
      .map(f => s"($f)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |xp AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos_raw
       |  FROM e q JOIN e ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC)
       |      AS rank FROM xp) WHERE rank <= $TopK),
       |lsh AS (SELECT vec_id, tbl, bkt
       |    FROM read_parquet('$verDir/lsh/*.parquet')),
       |vecs AS (SELECT vec_id, v, nrm
       |    FROM read_parquet('$verDir/assignments/*.parquet')),
       |qb AS (SELECT l.vec_id AS query_id, l.tbl,
       |    xor(l.bkt, f.flip) AS bkt
       |  FROM lsh l CROSS JOIN (VALUES $flips) AS f(flip)
       |  WHERE l.vec_id < $NumQueries),
       |cand AS (SELECT DISTINCT qb.query_id, l2.vec_id AS neighbor_id
       |  FROM qb JOIN lsh l2 ON qb.tbl = l2.tbl AND qb.bkt = l2.bkt
       |  WHERE qb.query_id <> l2.vec_id),
       |ap AS (SELECT c.query_id, c.neighbor_id,
       |    list_dot_product(qv.v, nv.v) / (qv.nrm * nv.nrm) AS cos_raw
       |  FROM cand c JOIN vecs qv ON qv.vec_id = c.query_id
       |    JOIN vecs nv ON nv.vec_id = c.neighbor_id),
       |approx AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC)
       |      AS rank FROM ap) WHERE rank <= $TopK),
       |hit AS (SELECT ex.query_id, COUNT(*) AS n_hit FROM exact ex
       |  JOIN approx ap2 ON ex.query_id = ap2.query_id
       |    AND ex.neighbor_id = ap2.neighbor_id GROUP BY 1),
       |ne AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
       |SELECT ne.query_id, ne.n_exact, COALESCE(hit.n_hit, 0) AS n_hit,
       |  round(COALESCE(hit.n_hit, 0) / CAST(ne.n_exact AS DOUBLE), 4)
       |    AS recall
       |FROM ne LEFT JOIN hit ON ne.query_id = hit.query_id
       |ORDER BY ne.query_id""".stripMargin
  }

  /** n11's MMR greedy selection, UNROLLED into SQL — the selection is
    * sequential in k, but k is a compile-time constant ([[TopK]]), so
    * the "loop" is [[TopK]] chained CTE steps: step i picks the
    * argmax of λ·rel − (1−λ)·red over the un-picked pool (score desc,
    * id asc — the kernel's tie rule) and step i+1 folds the new
    * pick's cosine into each survivor's running max-redundancy via
    * GREATEST (the kernel's O(k·n) running-max form, which is
    * order-insensitive by construction). The arithmetic is written
    * with the kernel's exact IEEE trees — `(1 − λ)` as an expression
    * (0.30000000000000004, NOT a 0.3 literal), step 1's redundancy as
    * an explicit −(1−λ)·0.0 — so the hash can only match if the SQL
    * replay walks the identical greedy path. */
  private def n11Oracle: String = {
    val lam = MmrLambda
    // Interpolate the Scala-computed IEEE double (0.30000000000000004)
    // rather than writing `(1 - 0.7)` in SQL: DuckDB folds that
    // expression in DECIMAL(12,1), whose double cast is 1 ulp BELOW
    // the kernel's IEEE `1 - lam` and can flip an argmax on near-tie
    // data (r14 advice #1). The literal parses to the identical
    // double in both engines.
    val oneMinusLam = 1 - MmrLambda
    var sql =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |pool AS (SELECT query_id, vec_id, rel, v, nrm FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id, e.v, e.nrm,
         |      list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS rel,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_dot_product(q.v, e.v) / (q.nrm * e.nrm) DESC,
         |        e.vec_id ASC) AS rk
         |    FROM e q JOIN e ON q.vec_id < $NumQueries
         |      AND e.vec_id <> q.vec_id)
         |  WHERE rk <= $MmrPool),
         |s1 AS (SELECT query_id, vec_id AS pid, rel FROM (
         |    SELECT query_id, vec_id, rel, ROW_NUMBER() OVER (
         |      PARTITION BY query_id
         |      ORDER BY $lam * rel - $oneMinusLam * 0.0 DESC, vec_id ASC) AS rn
         |    FROM pool)
         |  WHERE rn = 1),
         |c1 AS (SELECT c.query_id, c.vec_id, c.rel, c.v, c.nrm,
         |    list_dot_product(c.v, p.v) / (c.nrm * p.nrm) AS red
         |  FROM pool c JOIN s1 ON s1.query_id = c.query_id
         |    JOIN pool p ON p.query_id = c.query_id AND p.vec_id = s1.pid
         |  WHERE c.vec_id <> s1.pid)""".stripMargin
    for (i <- 2 to TopK) {
      sql +=
        s""",
           |s$i AS (SELECT query_id, vec_id AS pid, rel FROM (
           |    SELECT query_id, vec_id, rel, ROW_NUMBER() OVER (
           |      PARTITION BY query_id
           |      ORDER BY $lam * rel - $oneMinusLam * red DESC, vec_id ASC) AS rn
           |    FROM c${i - 1})
           |  WHERE rn = 1)""".stripMargin
      if (i < TopK) sql +=
        s""",
           |c$i AS (SELECT c.query_id, c.vec_id, c.rel, c.v, c.nrm,
           |    GREATEST(c.red, list_dot_product(c.v, p.v) / (c.nrm * p.nrm))
           |      AS red
           |  FROM c${i - 1} c JOIN s$i ON s$i.query_id = c.query_id
           |    JOIN pool p ON p.query_id = c.query_id AND p.vec_id = s$i.pid
           |  WHERE c.vec_id <> s$i.pid)""".stripMargin
    }
    val union = (1 to TopK).map(i =>
      s"SELECT query_id, pid AS neighbor_id, $i AS mmr_rank, rel FROM s$i")
      .mkString("\n  UNION ALL ")
    sql + s"""
             |SELECT query_id, neighbor_id, mmr_rank, round(rel, 6) AS cosine
             |FROM (
             |  $union)
             |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** n21's full fusion SQL — shared with pipe6's hybrid-search
    * composition so the fused ranking cannot drift (the t1PredSql
    * discipline). */
  private[graft] def n21OracleSql: String =
    s"""WITH lexbase AS (SELECT * FROM (
         |${graft.operators.TextIndex.ix5BmSql}) b WHERE doc_id <> 0),
         |lexp AS (SELECT doc_id, bm25, ROW_NUMBER() OVER (
         |    ORDER BY bm25 DESC, doc_id) AS r_lex FROM lexbase
         |  QUALIFY r_lex <= $FusePool),
         |q AS (SELECT embedding::DOUBLE[] AS qv,
         |    sqrt(list_dot_product(embedding::DOUBLE[],
         |      embedding::DOUBLE[])) AS qn
         |  FROM embeddings WHERE vec_id = 0),
         |semp AS (SELECT doc_id, cos_raw, ROW_NUMBER() OVER (
         |    ORDER BY cos_raw DESC, doc_id) AS r_sem FROM (
         |    SELECT e.vec_id AS doc_id,
         |      list_dot_product(e.embedding::DOUBLE[], q.qv)
         |        / (sqrt(list_dot_product(e.embedding::DOUBLE[],
         |            e.embedding::DOUBLE[])) * q.qn) AS cos_raw
         |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0) s
         |  QUALIFY r_sem <= $FusePool),
         |f AS (SELECT doc_id, l.r_lex, s.r_sem, l.bm25, s.cos_raw,
         |    round(COALESCE(1.0 / ($RrfK + l.r_lex), 0)
         |      + COALESCE(1.0 / ($RrfK + s.r_sem), 0), 9) AS rrf
         |  FROM lexp l FULL OUTER JOIN semp s USING (doc_id))
         |SELECT * FROM (SELECT ROW_NUMBER() OVER (
         |    ORDER BY rrf DESC, doc_id) AS fused_rank,
         |  doc_id, r_lex, r_sem, rrf, round(bm25, 6) AS bm25,
         |  round(cos_raw, 6) AS cosine FROM f)
         |WHERE fused_rank <= $FuseTopK ORDER BY fused_rank""".stripMargin

  private val staticOracles: Map[String, String] = Map(
    "n21_rrf_fusion" -> n21OracleSql,
    "n11_mmr_rerank" -> n11Oracle,
    // n19 needs no committed artifact: the sign-bit pack is an exact
    // bitwise-OR fold and hamming is two's-complement bit_count(xor)
    // — both engines share the integer semantics (the d4 proof)
    "n19_binary_recall" -> {
      val pack = (0 until BinDims).map(i =>
        s"(CASE WHEN v[${i + 1}] >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
        .mkString(" | ")
      s"""WITH f AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |g AS (SELECT vec_id, v, nrm, $pack AS sig FROM f),
         |fp AS (SELECT q.vec_id AS query_id, e.vec_id AS nid,
         |    list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS c
         |  FROM g q JOIN g e ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
         |ft AS (SELECT query_id, nid FROM (SELECT query_id, nid,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY c DESC, nid ASC) rk FROM fp) WHERE rk <= $TopK),
         |tp AS (SELECT q.vec_id AS query_id, e.vec_id AS nid,
         |    $BinDims - bit_count(xor(q.sig, e.sig)) AS c
         |  FROM g q JOIN g e ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
         |tt AS (SELECT query_id, nid FROM (SELECT query_id, nid,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY c DESC, nid ASC) rk FROM tp) WHERE rk <= $TopK)
         |SELECT ft.query_id, CAST(COUNT(tt.nid) AS BIGINT) AS n_hit,
         |  COUNT(tt.nid) / CAST($TopK AS DOUBLE) AS recall
         |FROM ft LEFT JOIN tt ON ft.query_id = tt.query_id AND ft.nid = tt.nid
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // n18 needs no committed artifact: both rankings re-derive from
    // the raw embeddings with the same slice / dot fold / tie-break,
    // and recall is an exact int/K ratio
    "n18_truncation_eval" ->
      s"""WITH f AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
         |    (embedding::DOUBLE[])[1:$TruncDims] AS tv,
         |    sqrt(list_dot_product((embedding::DOUBLE[])[1:$TruncDims],
         |      (embedding::DOUBLE[])[1:$TruncDims])) AS tnrm
         |  FROM embeddings),
         |fp AS (SELECT q.vec_id AS query_id, e.vec_id AS nid,
         |    list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS c
         |  FROM f q JOIN f e ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
         |ft AS (SELECT query_id, nid FROM (SELECT query_id, nid,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY c DESC, nid ASC) rk FROM fp) WHERE rk <= $TopK),
         |tp AS (SELECT q.vec_id AS query_id, e.vec_id AS nid,
         |    list_dot_product(q.tv, e.tv) / (q.tnrm * e.tnrm) AS c
         |  FROM f q JOIN f e ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
         |tt AS (SELECT query_id, nid FROM (SELECT query_id, nid,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY c DESC, nid ASC) rk FROM tp) WHERE rk <= $TopK)
         |SELECT ft.query_id, CAST(COUNT(tt.nid) AS BIGINT) AS n_hit,
         |  COUNT(tt.nid) / CAST($TopK AS DOUBLE) AS recall
         |FROM ft LEFT JOIN tt ON ft.query_id = tt.query_id AND ft.nid = tt.nid
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // n8 needs no committed artifact: the int8 codes are pure
    // arithmetic (n7's proven half-away-from-zero mirror), the MAC is
    // an exact integer fold (every product < 2^53, so double sums are
    // order-free), and the approx-score IEEE tree is written in the
    // same association order as the Spark expression.
    "n8_quantized_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |ex AS (SELECT vec_id, i, v[i] AS x FROM e,
         |  LATERAL (SELECT unnest(generate_series(1, CAST(len(v) AS INT))) AS i) s(i)),
         |sc AS (SELECT vec_id, MAX(abs(x)) AS scale FROM ex GROUP BY 1),
         |qc AS (SELECT ex.vec_id,
         |    list(CAST(round(ex.x * 127.0 / sc.scale) AS DOUBLE) ORDER BY ex.i) AS q
         |  FROM ex JOIN sc USING (vec_id) GROUP BY ex.vec_id),
         |z AS (SELECT e.vec_id, e.v, e.nrm, sc.scale, qc.q
         |  FROM e JOIN sc USING (vec_id) JOIN qc USING (vec_id)),
         |cand AS (SELECT a.vec_id AS query_id, a.v AS qv, a.nrm AS qn,
         |    b.vec_id AS neighbor_id, b.v, b.nrm,
         |    list_dot_product(a.q, b.q) * a.scale * b.scale
         |      / (16129.0 * a.nrm * b.nrm) AS approx
         |  FROM z a JOIN z b ON a.vec_id < $NumQueries AND b.vec_id <> a.vec_id),
         |topc AS (SELECT query_id, qv, qn, neighbor_id, v, nrm FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY approx DESC, neighbor_id ASC) AS crank FROM cand)
         |  WHERE crank <= ${TopK * RerankFactor}),
         |ranked AS (SELECT query_id, neighbor_id,
         |    list_dot_product(qv, v) / (qn * nrm) AS cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY list_dot_product(qv, v) / (qn * nrm) DESC,
         |        neighbor_id ASC) AS rank
         |  FROM topc)
         |SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "n16_corpus_diversity" ->
      """WITH u AS (SELECT embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM embeddings),
        |q AS (SELECT unnest(range(len(v))) AS d,
        |    CAST(floor(unnest(v) / nrm * 1e9 + 0.5) AS BIGINT) AS q
        |  FROM u),
        |s AS (SELECT d, CAST(SUM(q) AS DECIMAL(19,0)) AS sd
        |  FROM q GROUP BY 1),
        |agg AS (SELECT count(*) AS n_dims, SUM(sd * sd) AS ssum FROM s),
        |n AS (SELECT count(*) AS n_vectors FROM u)
        |SELECT n.n_vectors, agg.n_dims,
        |  CAST(floor((CAST(agg.ssum AS DOUBLE) / 1e18
        |      - CAST(n.n_vectors AS DOUBLE))
        |    / (CAST(n.n_vectors AS DOUBLE)
        |      * (CAST(n.n_vectors AS DOUBLE) - 1.0)) * 1e6 + 0.5) AS BIGINT)
        |    / 1e6 AS mean_pairwise_cosine
        |FROM agg, n""".stripMargin,
    "n10_knn_classify" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |pairs AS (SELECT q.vec_id AS query_id, q.label AS true_label,
         |    e.vec_id AS neighbor_id, e.label,
         |    list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos_raw
         |  FROM e q JOIN e ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
         |ranked AS (SELECT query_id, true_label, label, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
         |  FROM pairs),
         |votes AS (SELECT query_id, true_label, label AS pred_label,
         |    COUNT(*) AS n_votes
         |  FROM ranked WHERE rank <= $KnnK GROUP BY 1, 2, 3),
         |best AS (SELECT query_id, true_label, pred_label, n_votes,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY n_votes DESC, pred_label ASC) AS vr
         |  FROM votes)
         |SELECT query_id, true_label, pred_label, n_votes,
         |  pred_label = true_label AS hit
         |FROM best WHERE vr = 1 ORDER BY query_id""".stripMargin,
    "n7_quantize_i8" ->
      // mirror of the kernel: scale = max |x|, q = round-half-away
      // (DuckDB round() semantics), err = L2 of reconstruction deltas.
      // Integer digests are exact; scale/err rounded like the float aggs.
      """WITH ex AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |s AS (SELECT vec_id, MAX(abs(x)) AS scale FROM ex GROUP BY vec_id),
        |q AS (SELECT ex.vec_id, s.scale, ex.x,
        |    CAST(round(ex.x * 127.0 / s.scale) AS BIGINT) AS qi
        |  FROM ex JOIN s USING (vec_id))
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(SUM(qi) AS BIGINT) AS sum_q,
        |  CAST(MIN(qi) AS INTEGER) AS min_q,
        |  CAST(MAX(qi) AS INTEGER) AS max_q,
        |  round(sqrt(SUM((x - qi * scale / 127.0) * (x - qi * scale / 127.0))), 6) AS err
        |FROM q GROUP BY vec_id, scale ORDER BY vec_id""".stripMargin,
    "n5_centroids" ->
      """WITH e AS (SELECT vec_id % 10 AS grp, embedding::DOUBLE[] AS v
        |  FROM embeddings)
        |SELECT grp, COUNT(*) AS n,
        |  round(SUM(v[1]) / COUNT(*), 6) AS c0,
        |  round(SUM(v[2]) / COUNT(*), 6) AS c1,
        |  round(SUM(v[3]) / COUNT(*), 6) AS c2,
        |  round(SUM(v[4]) / COUNT(*), 6) AS c3
        |FROM e GROUP BY grp ORDER BY grp""".stripMargin,
    "n14_range_search" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings)
         |SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) AS cosine
         |FROM e q JOIN e ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id
         |WHERE list_dot_product(q.v, e.v) / (q.nrm * e.nrm) >= $RangeTau
         |ORDER BY query_id, neighbor_id""".stripMargin,
    "n1_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |pairs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos_raw
         |  FROM e q JOIN e ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, cos_raw, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
         |  FROM pairs)
         |SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n1_cosine_topk" -> (n1CosineTopk _),
    "n14_range_search" -> (n14RangeSearch _),
    "n2_ann_lsh" -> (n2AnnLsh _),
    "n3_ivf_ann" -> (n3IvfAnn _),
    "n20_filtered_ann" -> (n20FilteredAnn _),
    "n21_rrf_fusion" -> (n21RrfFusion _),
    "n4_cell_audit" -> (n4CellAudit _),
    "n5_centroids" -> (n5Centroids _),
    "n6_semantic_dedup" -> (n6SemanticDedup _),
    "n7_quantize_i8" -> (n7QuantizeI8 _),
    "n8_quantized_topk" -> (n8QuantizedTopk _),
    "n9_pca_project" -> (n9PcaProject _),
    "n10_knn_classify" -> (n10KnnClassify _),
    "n11_mmr_rerank" -> (n11MmrRerank _),
    "n12_pq_topk" -> (n12PqTopk _),
    "n15_ivf_pq" -> (n15IvfPq _),
    "n13_recall_eval" -> (n13RecallEval _),
    "n16_corpus_diversity" -> (n16CorpusDiversity _),
    "n18_truncation_eval" -> (n18TruncationEval _),
    "n19_binary_recall" -> (n19BinaryRecall _))
}
