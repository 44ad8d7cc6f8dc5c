package graft.operators

import graft.Tables
import graft.sources.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArrayMathExpr

/** A decoded media record. */
case class MediaFeature(doc_id: Long, kind: String, n_bytes: Int,
    width: Int, height: Int, checksum: String)

/** A sampled frame with its feature vector. */
case class Frame(doc_id: Long, frame_idx: Int, frame_bytes: Int,
    f0: Double, f1: Double)

/** Swappable decode backend for the multimodal operators. The Spark
  * plumbing (schema, typed Datasets, per-partition batching,
  * partition-preserving execution) is codec-agnostic: a real
  * deployment drops in an implementation backed by actual image/audio
  * libraries without touching the operators. Implementations must be
  * Serializable — the instance ships in the task closure; heavy
  * native state (codec contexts, model weights) belongs in [[open]],
  * which runs once per partition on the executor, not per row.
  */
trait MediaCodec extends Serializable {
  /** Stable identifier naming the codec implementation+version. Salted
    * into every durable-index fingerprint built FROM this codec's
    * output, so swapping the backend forces a rebuild instead of
    * silently serving features computed by the old one (the r10
    * ADVICE m6 rule). */
  def id: String

  /** Per-partition initialization (load native codec / model once per
    * task, amortized over the whole batch). */
  def open(): Unit = ()

  /** Decode one payload to its media metadata/features. */
  def decode(docId: Long, kind: String, payload: Array[Byte]): MediaFeature

  /** Sample frames/windows from one payload (video → frames, audio →
    * windows): the 1→N transform shape. */
  def sampleFrames(docId: Long, payload: Array[Byte]): Iterator[Frame]

  /** Extract a fixed-dimension feature embedding from one payload —
    * the media→vector bridge (a real backend runs an image/audio
    * encoder model here; weights belong in [[open]]). */
  def embed(docId: Long, payload: Array[Byte]): Array[Double]
}

/** Deterministic STUB codec — this container ships no image/audio
  * libraries, so the default backend fakes the decode with
  * content-derived values. Every other part of the pipeline is real.
  * The fakes are md5-based (not an arbitrary JVM hash) so the DuckDB
  * oracle can reproduce them exactly and m1/m2 get the FULL
  * rows+schema+hash check instead of a rows-only pass.
  */
object StubCodec extends MediaCodec {

  override val id: String = "stub-md5"

  private val hexChars = "0123456789abcdef".toCharArray

  private def md5hex(bytes: Array[Byte], from: Int, until: Int): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.update(bytes, from, until - from)
    val dig = d.digest()
    val out = new Array[Char](dig.length * 2)
    var i = 0
    while (i < dig.length) {
      out(i * 2) = hexChars((dig(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(dig(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private def hex6(h: String, at: Int): Long =
    java.lang.Long.parseLong(h.substring(at, at + 6), 16)

  override def decode(docId: Long, kind: String, payload: Array[Byte]): MediaFeature = {
    val h = md5hex(payload, 0, payload.length)
    // fake "dimensions" derived from content, as a real decoder would
    MediaFeature(docId, kind, payload.length,
      width = (hex6(h, 0) % 640).toInt + 1,
      height = (hex6(h, 6) % 480).toInt + 1,
      checksum = h)
  }

  val EmbedDim = 8

  /** Stub "encoder": 8 deterministic pseudo-features in [0,1) from two
    * md5 passes (plain + 'g'-salted), so the DuckDB oracle reproduces
    * the embedding bit-for-bit (k/1000.0 divides identically in both
    * engines). */
  override def embed(docId: Long, payload: Array[Byte]): Array[Double] = {
    val h1 = md5hex(payload, 0, payload.length)
    val salted = new Array[Byte](payload.length + 1)
    salted(0) = 'g'.toByte
    System.arraycopy(payload, 0, salted, 1, payload.length)
    val h2 = md5hex(salted, 0, salted.length)
    Array.tabulate(EmbedDim) { i =>
      val h = if (i < 4) h1 else h2
      (hex6(h, (i % 4) * 6) % 1000L).toDouble / 1000.0
    }
  }

  override def sampleFrames(docId: Long, payload: Array[Byte]): Iterator[Frame] = {
    val nFrames = math.min(4, payload.length / 256 + 1)
    (0 until nFrames).iterator.map { i =>
      val from = i * payload.length / nFrames
      val until = (i + 1) * payload.length / nFrames
      val h = md5hex(payload, from, until)
      // stub feature extraction: two deterministic pseudo-features
      Frame(docId, i, until - from,
        (hex6(h, 0) % 1000L).toDouble / 1000.0,
        (hex6(h, 6) % 1000L).toDouble / 1000.0)
    }
  }
}

/** Multimodal column plumbing (SURVEY §2 rows 36/48).
  *
  * Media is modeled as an opaque `binary` payload column plus typed
  * metadata — the layout a 100 TB image/audio corpus would use in
  * parquet (payload column stays unread unless selected; metadata
  * predicates prune row groups). Decoding goes through the swappable
  * [[MediaCodec]] interface; the default [[StubCodec]] is a documented
  * sandbox stand-in.
  */
object Multimodal {

  /** m1: build a binary media column from the documents table, then
    * run the batched per-partition decode → typed feature rows. */
  def m1MultimodalMeta(s: SparkSession, dir: String,
      codec: MediaCodec = StubCodec): DataFrame = {
    import s.implicits._
    val bin = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, "image").otherwise("audio").as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, String, Array[Byte])]
    bin.mapPartitions { it =>
      codec.open() // once per task, amortized over the whole batch
      it.map { case (id, kind, payload) => codec.decode(id, kind, payload) }
    }.toDF().orderBy("doc_id")
  }

  /** m2: frame sampling — the 1→N batched transform shape (video →
    * frames, audio → windows). Per-partition iterator semantics keep
    * memory at one batch regardless of corpus size, and the output
    * partitioning inherits the input's (no shuffle until the
    * downstream aggregate). */
  def m2FrameSample(s: SparkSession, dir: String,
      codec: MediaCodec = StubCodec): DataFrame = {
    import s.implicits._
    val bin = Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    bin.mapPartitions { it =>
      codec.open()
      it.flatMap { case (id, payload) => codec.sampleFrames(id, payload) }
    }.toDF().orderBy("doc_id", "frame_idx")
  }

  /** The media→vector bridge: per-partition batched feature
    * extraction into an `array<double>` embedding column — the output
    * is exactly the shape the similarity/dedup/quantization operators
    * (n1/n2/n7/d5) consume, closing the loop from raw media bytes to
    * ANN-ready vectors. Same iterator/batch semantics as m1/m2;
    * codec-agnostic (a real encoder model loads in `open()`). */
  def mediaEmbeddings(s: SparkSession, dir: String,
      codec: MediaCodec = StubCodec): DataFrame =
    // the default-codec path reads the PUBLISHED media-embedding
    // index: decode+embed is an ingest-time pass in any real media
    // pipeline (you embed a video once, not per query), so m3/m5 are
    // read-path consumers. A custom codec (spec-injected) bypasses
    // the index and embeds inline — the index is keyed to the
    // default codec's identity in its fingerprint salt.
    if (codec eq StubCodec)
      graft.sources.AtomicPublish.readOutput(s,
        ensureMediaIndex(s, dir), "embeddings")
    else mediaEmbeddingsCompute(s, dir, codec)

  /** The decode+embed pass itself (the media-index BUILD lineage, and
    * the inline path for spec-injected codecs). */
  private[graft] def mediaEmbeddingsCompute(s: SparkSession, dir: String,
      codec: MediaCodec): DataFrame =
    mediaEmbeddingsOf(s, Tables.documents(s, dir), codec)

  /** [[mediaEmbeddingsCompute]] over an arbitrary (doc_id, text)
    * frame — the incremental media index embeds ONLY an ingest batch. */
  private[graft] def mediaEmbeddingsOf(s: SparkSession, docs: DataFrame,
      codec: MediaCodec): DataFrame = {
    import s.implicits._
    val bin = docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    bin.mapPartitions { it =>
      codec.open()
      it.map { case (id, payload) => (id, codec.embed(id, payload)) }
    }.toDF("doc_id", "embedding")
  }

  private[graft] val mediaIndex =
    Artifact("media_index", "documents")("media-v1;codec=stub-md5")

  private[graft] def ensureMediaIndex(s: SparkSession, dir: String): String =
    mediaIndex.ensure(s, dir) {
      Seq("embeddings" -> mediaEmbeddingsCompute(s, dir, StubCodec))
    }

  /** m3 query form: SQL-reproducible digests of the embedding (three
    * probe dimensions + the L2 norm computed through the same native
    * kernel the vector ops use). */
  def m3MediaEmbedding(s: SparkSession, dir: String,
      codec: MediaCodec = StubCodec): DataFrame =
    mediaEmbeddings(s, dir, codec)
      .select(col("doc_id"),
        col("embedding")(0).as("e0"),
        col("embedding")(3).as("e3"),
        col("embedding")(7).as("e7"),
        round(graft.functions.VectorFunctions.l2normNative("embedding"), 6).as("nrm"))
      .orderBy("doc_id")

  /** m4: raw media-FILE ingest via Spark's built-in `binaryFile`
    * source — the step BEFORE m1: at 100 TB media lands as millions of
    * object-store files, and this is the distributed read that turns
    * them into the (id, payload) binary-column layout the rest of the
    * multimodal family consumes (each file one row: path, length,
    * content; the scan never decodes, and `pathGlobFilter` prunes
    * non-media files at listing time). Fixture: one .bin file per
    * sampled doc (bytes = the doc's UTF-8 text), written once per
    * corpus dir ([[graft.sources.Sources.payOnce]]) by a bounded
    * distributed foreachPartition — executors
    * write their partition's files, the exact shape of a cluster
    * ingest job landing files on a shared store (here the shared
    * store is the local FS). The query reads the directory back and
    * emits a (file, length, md5) digest; the oracle recomputes the
    * digest straight from the documents table, so the full hash match
    * proves the write → binaryFile-read round trip is lossless
    * (src1/src2's roundtrip discipline). */
  val BinaryIngestDocs = 50

  def m4BinaryIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = s"${graft.TmpRoots.perProcess("graft_sources")}/m4_binary"
    graft.sources.Sources.payOnce(s, out, dir) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      Tables.documents(s, dir)
        .filter(col("doc_id") < BinaryIngestDocs)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (id, text) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, s"doc_$id.bin"),
              text.getBytes("UTF-8"))
          }
        }
    }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(out)
      .select(regexp_extract(col("path"), "[^/]+$", 0).as("file"),
        col("length"), md5(col("content")).as("content_md5"))
      .orderBy("file")
  }

  val PhashLevels = 8    // thermometer quantization levels per feature
  val PhashBands = 4     // 2 features per band
  val PhashMaxHamming = 6
  /** Band-bucket size cap (d2's hot-shingle discipline): a bucket of B
    * rows yields B²/2 candidate pairs, so hot buckets — near-certain
    * with the stub's 64-value bands, rare with a real 16-bit pHash
    * band — are dropped from candidate generation before the
    * self-join. Mirrored in the oracle, so correctness is checked on
    * the capped semantics; sized above every sf0.01 bucket (max 15),
    * so the gate compares uncapped behavior too, while at sf1 the
    * ~10× buckets (~980) get dropped — candidates stay near-linear. */
  val PhashBucketCap = 100

  /** m5: perceptual-hash near-duplicate detection for media — the
    * image/video dedup step every multimodal training corpus runs
    * (exact-byte dedup misses re-encodes; embedding cosine is the
    * expensive path; pHash banding is the cheap middle). Each payload's
    * codec embedding is THERMOMETER-quantized ([[PhashLevels]] levels
    * per feature, unary-coded), so hamming distance between hashes
    * equals the L1 distance of the quantized feature vectors — the
    * property that makes banding sound. Candidate pairs come from a
    * [[PhashBands]]-band equi-join (d4's SimHash discipline: a pair
    * collides iff some band matches exactly — at corpus scale the
    * shuffle key is (band, band-value) and candidates are
    * band-bucket-confined, never all-pairs); survivors are scored with
    * the exact hamming fold and kept under [[PhashMaxHamming]].
    * Quantization uses only +,*,/ and floor on the codec's doubles —
    * IEEE-identical across engines, so the whole pipeline (unlike raw
    * pHash DCTs) is hash-checkable against the SQL oracle. */
  def m5PhashNeardup(s: SparkSession, dir: String,
      codec: MediaCodec = StubCodec): DataFrame = m5Impl(s, dir, codec)

  /** m6: media duplicate GROUPS — m5's near-dup pairs closed into
    * connected components (the d6 large-star/small-star machinery,
    * O(log diameter) rounds), so each visually-duplicate set gets one
    * canonical cluster_id: the media-side analog of d6, and the input
    * a canonical-pick / survivorship pass over media assets consumes.
    * Served from a PUBLISHED cluster table (the d6/er2 pattern —
    * clustering media is ingest-time work at 100 TB, and the CC loop's
    * per-round driver latency dominates the tiny pair graph when run
    * inline: 6.0 s inline vs a sub-second read); the oracle closes
    * the SAME pair definition (shared CTE) under a recursive
    * reachability CTE. */
  def m6MediaDupClusters(s: SparkSession, dir: String,
      codec: MediaCodec = StubCodec): DataFrame =
    graft.sources.AtomicPublish
      .readOutput(s, ensureMediaClusterIndex(s, dir, codec), "clusters")
      .orderBy("doc_id")

  // build-recipe salt: any knob that changes the pair set must force a
  // rebuild (the r9 ADVICE stale-index rule) — including the CODEC
  // whose embeddings the pairs derive from (r10 ADVICE: the old
  // signature took a codec but built with the stub)
  private[graft] def mediaClusterIndex(codec: MediaCodec) =
    Artifact("media_cluster_index", "documents")(
      s"mediacluster-v1;codec=${codec.id};levels=$PhashLevels;bands=$PhashBands;cap=$PhashBucketCap;maxham=$PhashMaxHamming")

  private[graft] def ensureMediaClusterIndex(s: SparkSession,
      dir: String, codec: MediaCodec = StubCodec): String =
    mediaClusterIndex(codec).ensure(s, dir) {
      Seq("clusters" -> Dedup.connectedComponents(
        m5Impl(s, dir, codec).select(col("a"), col("b")))
        .select(col("id").as("doc_id"), col("label").as("cluster_id")))
    }

  private def m5Impl(s: SparkSession, dir: String,
      codec: MediaCodec): DataFrame = {
    val q = mediaEmbeddings(s, dir, codec)
      .select(col("doc_id"), expr(
        s"transform(embedding, f -> cast(floor(f * $PhashLevels) as int))")
        .as("q"))
    val banded0 = q.select(col("doc_id"), col("q"), explode(expr(
      s"""transform(sequence(0, ${PhashBands - 1}), b ->
         |  struct(b AS band, q[b*2] AS q0, q[b*2+1] AS q1))""".stripMargin))
      .as("bd"))
      .select(col("doc_id"), col("q"),
        col("bd.band").as("band"), col("bd.q0").as("q0"), col("bd.q1").as("q1"))
    // hot-bucket cap: the count window is PARTITIONED by the bucket
    // key, so no global sort; dropped buckets only lose candidates a
    // real pHash band would not have collided on
    val banded = banded0
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy(col("band"), col("q0"), col("q1"))))
      .filter(col("bsz") <= PhashBucketCap)
      .drop("bsz")
    banded.as("x")
      .join(banded.as("y"), col("x.band") === col("y.band") &&
        col("x.q0") === col("y.q0") && col("x.q1") === col("y.q1") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.q").as("qa"), col("y.q").as("qb"))
      .distinct() // a pair may collide in several bands
      // compiled L1 kernel (ArrayMathExpr.l1Native) — runs once per
      // candidate pair, where the aggregate(zip_with(...)) HOF form
      // paid interpreted per-element dispatch; same integer sum
      .select(col("a"), col("b"),
        ArrayMathExpr.l1Native(col("qa"), col("qb")).as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
      .orderBy(col("a"), col("b"))
  }

  /** The oracles reproduce the md5-based stub exactly. The documents
    * corpus is ASCII, so DuckDB's character offsets (substr) equal the
    * codec's UTF-8 byte offsets and strlen(text) equals the payload
    * byte length — asserted implicitly by the hash comparison. */
  /** m5's quantize/band/cap candidate machinery as a CTE body (no WITH
    * keyword — m5 prepends `WITH`, m6 `WITH RECURSIVE`) plus the pair
    * join tail, shared so m6's cluster oracle can never drift from
    * m5's pair definition (the d6/mix6 shared-CTE discipline). */
  private lazy val M5OracleParts: (String, String, String) = {
    def qe(i: Int): String = {
      val (src, at) = if (i < 4) ("md5(text)", i * 6 + 1)
        else ("md5('g' || text)", (i - 4) * 6 + 1)
      s"CAST(floor(CAST(('0x' || substr($src, $at, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 * $PhashLevels) AS INT) AS q$i"
    }
    // a band only generates candidates while its bucket is under the
    // cap — mirrored per side via per-band bucket-count joins
    val bandCond = (0 until PhashBands).map(b =>
      s"""(a.q${b * 2} = b.q${b * 2} AND a.q${b * 2 + 1} = b.q${b * 2 + 1}
         | AND a.n$b <= $PhashBucketCap)""".stripMargin.replace("\n", ""))
      .mkString("(", " OR ", ")")
    val buckets = (0 until PhashBands).map(b =>
      s"b$b AS (SELECT q${b * 2}, q${b * 2 + 1}, count(*) AS n FROM e GROUP BY 1, 2)")
      .mkString(",\n")
    val bJoins = (0 until PhashBands).map(b =>
      s"JOIN b$b c$b ON e.q${b * 2} = c$b.q${b * 2} AND e.q${b * 2 + 1} = c$b.q${b * 2 + 1}")
      .mkString(" ")
    val ham = (0 to 7).map(i => s"abs(a.q$i - b.q$i)").mkString(" + ")
    val body =
      s"""e AS (SELECT doc_id, ${(0 to 7).map(qe).mkString(", ")}
         |  FROM documents),
         |$buckets,
         |e2 AS (SELECT e.*, ${(0 until PhashBands).map(b => s"c$b.n AS n$b").mkString(", ")}
         |  FROM e $bJoins)""".stripMargin
    val pairTail =
      s"""FROM e2 a JOIN e2 b ON a.doc_id < b.doc_id AND $bandCond
         |WHERE $ham <= $PhashMaxHamming""".stripMargin
    (body, pairTail, ham)
  }

  /** m7's ingest split: batch = doc_id % 4 == 0 (distinct from d13's
    * mod-5 so the two incremental families exercise different slices). */
  val MediaIncrBatchMod = 4

  /** Per-doc thermometer-quantized pHash vector (m5's q) over an
    * arbitrary docs frame — the row-local signature the incremental
    * media index appends per batch. */
  private def quantizedOf(s: SparkSession, docs: DataFrame,
      codec: MediaCodec): DataFrame =
    mediaEmbeddingsOf(s, docs, codec)
      .select(col("doc_id"), expr(
        s"transform(embedding, f -> cast(floor(f * $PhashLevels) as int))")
        .as("q"))

  /** (doc_id, band, b0, b1) band rows — a pure in-row projection of
    * the phash output (derived, never stored). */
  private def bandRowsOf(ph: DataFrame): DataFrame =
    ph.select(col("doc_id"), explode(expr(
      s"""transform(sequence(0, ${PhashBands - 1}), b ->
         |  struct(b AS band, q[b*2] AS b0, q[b*2+1] AS b1))""".stripMargin))
      .as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"),
        col("bd.b0").as("b0"), col("bd.b1").as("b1"))

  /** Scored (a, b) edges from band rows + merged bucket counts + the
    * phash table: candidates from under-cap buckets only, distinct
    * across bands, exact hamming ≤ [[PhashMaxHamming]]. The optional
    * (aSide, affFlagged) override restricts generation to
    * affected-touching pairs (the d13 discipline). */
  private def mediaEdgesFrom(bandA: DataFrame, bandB: DataFrame,
      buckets: DataFrame, ph: DataFrame,
      pairCond: org.apache.spark.sql.Column): DataFrame = {
    val ok = buckets.filter(col("n") <= PhashBucketCap)
      .select(col("band"), col("b0"), col("b1"))
    val la = bandA.join(ok, Seq("band", "b0", "b1"), "left_semi")
    val lb = bandB.join(ok, Seq("band", "b0", "b1"), "left_semi")
    la.as("x").join(lb.as("y"),
      col("x.band") === col("y.band") && col("x.b0") === col("y.b0") &&
        col("x.b1") === col("y.b1") && pairCond)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .distinct()
      .join(ph.select(col("doc_id").as("a"), col("q").as("qa")), Seq("a"))
      .join(ph.select(col("doc_id").as("b"), col("q").as("qb")), Seq("b"))
      .filter(ArrayMathExpr.l1Native(col("qa"), col("qb")) <= PhashMaxHamming)
      .select(col("a"), col("b"))
  }

  /** From-scratch media-incremental outputs over `docs`: the phash
    * table, per-(band, value) bucket counts, capped near-dup edges,
    * and CC clusters — the media analog of the d13 family, under the
    * same exactness constraint (the bucket CAP is monotone under
    * ingest, but a newly-capped bucket can remove edges, so the
    * increment marks every member of a capped bucket AFFECTED). */
  private[graft] def buildMediaIncrOutputs(s: SparkSession,
      docs: DataFrame): Seq[(String, DataFrame)] = {
    val ph = quantizedOf(s, docs, StubCodec).localCheckpoint()
    val band = bandRowsOf(ph).localCheckpoint()
    val buckets = band.groupBy(col("band"), col("b0"), col("b1"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val edges = mediaEdgesFrom(band, band, buckets, ph,
      col("x.doc_id") < col("y.doc_id")).localCheckpoint()
    Seq("phash" -> ph, "buckets" -> buckets, "edges" -> edges,
      "clusters" -> Dedup.connectedComponents(edges)
        .select(col("id").as("doc_id"), col("label").as("cluster_id")))
  }

  // v2: the family grew the applied-batch ledger (streaming
  // maintenance) — salt bump forces stale-recipe rebuilds
  private[graft] val mediaIncrIndex = Artifact.incremental("media_incr_index", "documents")(
    s"media-incr-v2;codec=${StubCodec.id};levels=$PhashLevels;bands=$PhashBands;cap=$PhashBucketCap;maxham=$PhashMaxHamming;split=mod$MediaIncrBatchMod;ledger")(
    mediaIncrement)

  /** Version N+1 from version N's committed outputs plus only the
    * batch payloads: phash appends (one codec pass over the batch),
    * buckets add, and the affected set (batch docs ∪ members of
    * newly-capped buckets — a capped bucket's members are ALL
    * affected, so unaffected pairs' generating buckets are provably
    * unchanged) bounds the pair re-scoring exactly as in d13. */
  private def mediaIncrement(s: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Seq[(String, DataFrame)] = {
    import graft.sources.AtomicPublish.readOutput
    val basePh = readOutput(s, root, "phash")
    val baseBuckets = readOutput(s, root, "buckets")
    val baseEdges = readOutput(s, root, "edges")
    val bPh = quantizedOf(s, batch, StubCodec).localCheckpoint()
    val bBand = bandRowsOf(bPh)
    val bBuck = bBand.groupBy(col("band"), col("b0"), col("b1"))
      .agg(count(lit(1)).as("bn"))
    val mergedBuckets = baseBuckets.as("a")
      .join(bBuck.as("b"), Seq("band", "b0", "b1"), "full")
      .select(col("band"), col("b0"), col("b1"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("bn"), lit(0L))).as("n"))
      .localCheckpoint()
    // newly capped: had base members under the cap, pushed over by the
    // batch — batch-bounded (each needs ≥1 batch band row)
    val dropped = baseBuckets.as("a")
      .join(bBuck.as("b"), Seq("band", "b0", "b1"))
      .filter(col("n") <= PhashBucketCap &&
        col("n") + col("bn") > PhashBucketCap)
      .select(col("band"), col("b0"), col("b1"))
    val ph2 = basePh.unionByName(bPh).localCheckpoint()
    val bandAll = bandRowsOf(ph2).localCheckpoint()
    val affected = bPh.select(col("doc_id"))
      .unionByName(bandRowsOf(basePh).join(broadcast(dropped),
        Seq("band", "b0", "b1"), "left_semi").select(col("doc_id")))
      .distinct().localCheckpoint()
    val bandAff = bandAll.join(broadcast(affected), Seq("doc_id"), "left_semi")
    val bandFlag = bandAll
      .join(broadcast(affected.withColumn("aff", lit(true))), Seq("doc_id"), "left")
      .select(col("doc_id"), col("band"), col("b0"), col("b1"),
        coalesce(col("aff"), lit(false)).as("aff"))
    val newEdges = mediaEdgesFrom(bandAff, bandFlag, mergedBuckets, ph2,
      col("x.doc_id") < col("y.doc_id") ||
        (col("x.doc_id") > col("y.doc_id") && !col("y.aff")))
    val keptEdges = baseEdges
      .join(broadcast(affected.withColumnRenamed("doc_id", "a")), Seq("a"), "left_anti")
      .join(broadcast(affected.withColumnRenamed("doc_id", "b")), Seq("b"), "left_anti")
      .select(col("a"), col("b"))
    val edges2 = keptEdges.unionByName(newEdges).localCheckpoint()
    Seq("phash" -> ph2, "buckets" -> mergedBuckets, "edges" -> edges2,
      "clusters" -> Dedup.connectedComponents(edges2)
        .select(col("id").as("doc_id"), col("label").as("cluster_id")))
  }

  private[graft] def ensureMediaIncrIndex(s: SparkSession, dir: String): String =
    mediaIncrIndex.ensureIngested(s, dir) {
      val docs = Tables.documents(s, dir)
      (buildMediaIncrOutputs(s, docs.filter(col("doc_id") % MediaIncrBatchMod =!= 0)),
        docs.filter(col("doc_id") % MediaIncrBatchMod === 0))
    }

  /** m7: media duplicate groups after an ingest batch, from the
    * incrementally-maintained media index — per visual-duplicate
    * cluster: member count and how many members the batch contributed.
    * The oracle recomputes clusters from scratch over the full corpus
    * (m6's shared pair CTE under recursive reachability), so a hash
    * pass proves the affected-set maintenance ≡ rebuild on the media
    * plane too. */
  def m7IncrementalMedia(s: SparkSession, dir: String): DataFrame = {
    val root = ensureMediaIncrIndex(s, dir)
    graft.sources.AtomicPublish.readOutput(s, root, "clusters")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") % MediaIncrBatchMod === 0, 1L).otherwise(0L))
          .as("n_batch"))
      .orderBy("cluster_id")
  }

  val oracles: Map[String, String] = Map(
    "m7_incremental_media" -> {
      val (body, pairTail, _) = M5OracleParts
      s"""WITH RECURSIVE $body,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |$pairTail),
         |e3 AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e3) t
         |  UNION
         |  SELECT r.a, x.b FROM reach r JOIN e3 x ON r.b = x.a),
         |roots AS (SELECT a AS doc_id, MIN(b) AS cluster_id
         |  FROM reach GROUP BY a)
         |SELECT cluster_id, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN doc_id % $MediaIncrBatchMod = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_batch
         |FROM roots GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "m5_phash_neardup" -> {
      val (body, pairTail, ham) = M5OracleParts
      s"""WITH $body
         |SELECT a.doc_id AS a, b.doc_id AS b, CAST($ham AS INT) AS hamming
         |$pairTail
         |ORDER BY a, b""".stripMargin
    },
    "m6_media_dup_clusters" -> {
      val (body, pairTail, _) = M5OracleParts
      s"""WITH RECURSIVE $body,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |$pairTail),
         |e3 AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e3) t
         |  UNION
         |  SELECT r.a, x.b FROM reach r JOIN e3 x ON r.b = x.a)
         |SELECT a AS doc_id, MIN(b) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin
    },
    "m4_binary_ingest" ->
      s"""SELECT 'doc_' || doc_id || '.bin' AS file,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS length,
         |  md5(text) AS content_md5
         |FROM documents WHERE doc_id < $BinaryIngestDocs
         |ORDER BY file""".stripMargin,
    "m3_media_embedding" ->
      """WITH e AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS e0,
        |    CAST(('0x' || substr(md5(text), 7, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS e1,
        |    CAST(('0x' || substr(md5(text), 13, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS e2,
        |    CAST(('0x' || substr(md5(text), 19, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS e3,
        |    CAST(('0x' || substr(md5('g' || text), 1, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS e4,
        |    CAST(('0x' || substr(md5('g' || text), 7, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS e5,
        |    CAST(('0x' || substr(md5('g' || text), 13, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS e6,
        |    CAST(('0x' || substr(md5('g' || text), 19, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS e7
        |  FROM documents)
        |SELECT doc_id, e0, e3, e7,
        |  round(sqrt(e0*e0 + e1*e1 + e2*e2 + e3*e3 + e4*e4 + e5*e5 + e6*e6 + e7*e7), 6) AS nrm
        |FROM e ORDER BY doc_id""".stripMargin,
    "m1_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |  CAST(strlen(text) AS INT) AS n_bytes,
        |  CAST(('0x' || substr(md5(text), 1, 6))::BIGINT % 640 + 1 AS INT) AS width,
        |  CAST(('0x' || substr(md5(text), 7, 6))::BIGINT % 480 + 1 AS INT) AS height,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m2_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, strlen(text) AS len,
        |    LEAST(4, strlen(text) // 256 + 1) AS n FROM documents),
        |f AS (SELECT doc_id, text, len, n,
        |    unnest(generate_series(0, CAST(n - 1 AS INT))) AS frame_idx
        |  FROM d),
        |fr AS (SELECT doc_id, frame_idx,
        |    (frame_idx * len) // n AS f_from,
        |    ((frame_idx + 1) * len) // n AS f_until,
        |    md5(substr(text, CAST((frame_idx * len) // n + 1 AS INT),
        |      CAST(((frame_idx + 1) * len) // n - (frame_idx * len) // n AS INT))) AS h
        |  FROM f)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(f_until - f_from AS INT) AS frame_bytes,
        |  CAST(('0x' || substr(h, 1, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS f0,
        |  CAST(('0x' || substr(h, 7, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS f1
        |FROM fr ORDER BY doc_id, frame_idx""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_multimodal_meta" -> ((s: SparkSession, d: String) => m1MultimodalMeta(s, d)),
    "m2_frame_sample" -> ((s: SparkSession, d: String) => m2FrameSample(s, d)),
    "m3_media_embedding" -> ((s: SparkSession, d: String) => m3MediaEmbedding(s, d)),
    "m4_binary_ingest" -> (m4BinaryIngest _),
    "m5_phash_neardup" -> ((s: SparkSession, d: String) => m5PhashNeardup(s, d)),
    "m6_media_dup_clusters" -> ((s: SparkSession, d: String) => m6MediaDupClusters(s, d)),
    "m7_incremental_media" -> (m7IncrementalMedia _))
}
