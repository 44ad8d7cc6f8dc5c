package graft.operators

import graft.Tables
import graft.sources.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution (SURVEY §2 row 165): blocked fuzzy matching over
  * the part-name catalog — the "same real-world thing, different
  * string" problem (catalog dedup, vendor-name conciliation) that
  * exact dedup (d1/r6) cannot see and full-corpus pairwise comparison
  * cannot afford.
  *
  * Scale shape (the Fellegi-Sunter blocking discipline): matching runs
  * on the DISTINCT-name table, never the row table — the name catalog
  * is vocabulary-bounded (t16's DF-table argument), and the quadratic
  * candidate step is confined to blocks (shared head token) the way
  * d2 confines Jaccard to shared shingles. The edit-distance kernel is
  * Spark's built-in codegen'd `levenshtein`, and a length-difference
  * bound rides the join condition so candidates that cannot pass the
  * threshold are dropped before the kernel runs.
  */
object EntityResolution {

  val MaxEditDistance = 2

  /** The distinct-name catalog with row support: one row per name,
    * carrying how many part rows share it and the canonical (min)
    * part key. Vocabulary-bounded — this is the frame ER runs on. */
  private[graft] def nameCatalog(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("canon_key"))
      .withColumn("block", element_at(split(col("p_name"), " "), -1))

  /** er1: blocked fuzzy name matching — candidate pairs share a block
    * (last name token), survive a length-difference prune, and match
    * iff levenshtein ≤ [[MaxEditDistance]]. Output is the match-pair
    * ledger an ER pipeline feeds to clustering (d6's connected
    * components slot in directly on (name_a, name_b) edges). */
  def er1FuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val names = nameCatalog(s, dir)
    val a = names.select(col("p_name").as("name_a"), col("block"),
      col("n_parts").as("n_parts_a"))
    val b = names.select(col("p_name").as("name_b"), col("block"),
      col("n_parts").as("n_parts_b"))
    a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <=
        MaxEditDistance)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= MaxEditDistance)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_parts_a"), col("n_parts_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** er2: entity clustering — er1's match pairs closed into entity
    * groups by connected components (the full ER pipeline: block →
    * score → cluster). Edges are (canonical key, canonical key) pairs
    * at name grain, so the CC input is vocabulary-bounded; the
    * components run on [[Dedup]]'s large-star/small-star machinery
    * (O(log diameter) rounds, lineage-truncated). Every name gets a
    * row: its cluster key (component-min canonical part key —
    * singletons label themselves) and the cluster's name count, the
    * canonical-entity mapping a downstream join normalizes against. */
  /** Durable ER cluster index: the (canon_key, label) component map
    * from er1's match edges, built ONCE per part-catalog fingerprint
    * and published through AtomicPublish — the d6→d10 cluster-index
    * pattern applied to entities. Match edges + connected components
    * are a resolve-time artifact: every downstream normalization (er2
    * here; at 100 TB any join against canonical entities) reads the
    * committed map instead of re-running block-join + levenshtein +
    * O(log d) CC rounds per query. */
  private[graft] val erClusterIndex = Artifact("er_cluster_index", "part")(
    s"ercluster-v1;block=lasttoken;maxdist=$MaxEditDistance")

  private[graft] def ensureErClusterIndex(s: SparkSession, dir: String): String =
    erClusterIndex.ensure(s, dir) {
      val names = nameCatalog(s, dir)
      val a = names.select(col("p_name").as("name_a"), col("block"),
        col("canon_key").as("canon_a"))
      val b = names.select(col("p_name").as("name_b"), col("block"),
        col("canon_key").as("canon_b"))
      val edges = a.join(b, Seq("block"))
        .filter(col("name_a") < col("name_b"))
        .filter(abs(length(col("name_a")) - length(col("name_b"))) <=
          MaxEditDistance)
        .filter(levenshtein(col("name_a"), col("name_b")) <= MaxEditDistance)
        .select(col("canon_a"), col("canon_b"))
      Seq("clusters" -> Dedup.connectedComponents(edges)
        .select(col("id").as("canon_key"), col("label")))
    }

  def er2EntityClusters(s: SparkSession, dir: String): DataFrame = {
    val names = nameCatalog(s, dir)
    val cc = graft.sources.AtomicPublish.readOutput(s,
      ensureErClusterIndex(s, dir), "clusters")
    val labeled = names.join(cc, Seq("canon_key"), "left")
      .select(col("p_name"), col("n_parts"),
        coalesce(col("label"), col("canon_key")).as("cluster_key"))
    labeled
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_key"))))
      .select(col("p_name"), col("cluster_key"), col("cluster_size"),
        col("n_parts"))
      .orderBy(col("cluster_key"), col("p_name"))
  }

  /** er3: blocking-quality evaluation — the two numbers that decide
    * whether er1's head-token blocking is SOUND before anyone trusts
    * er2's clusters (Christen's blocking-evaluation framework, TKDE
    * 2012): pair completeness (what fraction of TRUE matches share a
    * block — blocking recall) and reduction ratio (what fraction of
    * all comparisons blocking avoids). n13's "evaluate your index
    * in-engine" discipline applied to ER. Ground truth needs pairs
    * BEYOND the blocks, so it joins the catalog on a LENGTH-BAND key —
    * complete for edit distance ≤ [[MaxEditDistance]] because
    * |len(a)−len(b)| ≤ lev(a,b), so no true match can escape the band:
    * the truth set is EXACT, never all-pairs. Metric definition note:
    * `n_candidates` counts same-block pairs INSIDE that length band,
    * so `reduction_ratio` measures the block + length-prune
    * combination — the comparisons er1's matcher actually runs (its
    * kernel-invocation count) — which reads HIGHER than Christen's
    * textbook RR over all same-block pairs. Deliberate: the band is
    * part of this engine's candidate generation, so the metric scores
    * the deployed pipeline, not the blocking key in isolation. Affordable for the same
    * reason er1 is: the distinct-name catalog is vocabulary-bounded
    * (at 100 TB a catalog too large for length-band truth gets the
    * dc1 treatment — evaluate on a deterministic key sample — but
    * that cap must never silently ship inside the metric). Every
    * output derives from exact integer counts ⇒ fully
    * hash-checkable. */
  def er3BlockingEval(s: SparkSession, dir: String): DataFrame = {
    val names = nameCatalog(s, dir)
    val a = names.select(col("p_name").as("name_a"),
      col("block").as("block_a"), length(col("p_name")).as("la"))
    val b = names.select(col("p_name").as("name_b"),
      col("block").as("block_b"), length(col("p_name")).as("lb"))
    // each unordered pair within the ±MaxEditDistance length band
    // matches on exactly one key (A emits its 2d+1-key band, B its
    // own length), then name_a < name_b keeps one orientation
    val pairs = a
      .select(col("name_a"), col("block_a"), col("la"),
        explode(sequence(col("la") - MaxEditDistance,
          col("la") + MaxEditDistance)).as("lk"))
      .join(b, col("lk") === col("lb") && col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        (col("block_a") === col("block_b")).as("in_block"),
        (levenshtein(col("name_a"), col("name_b")) <= MaxEditDistance)
          .as("is_true"))
    val tot = names.agg(count(lit(1)).as("n_names"))
    pairs
      .agg(sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("in_block"), 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("is_true") && col("in_block"), 1L).otherwise(0L))
          .as("n_true_in_block"))
      .crossJoin(broadcast(tot)) // 1-row bounded metadata
      .select(col("n_names"), col("n_true"), col("n_candidates"),
        col("n_true_in_block"),
        when(col("n_true") > 0, round(col("n_true_in_block").cast("double") /
          col("n_true"), 6)).as("pair_completeness"),
        round(lit(1.0) - col("n_candidates").cast("double") /
          (col("n_names").cast("double") * (col("n_names") - 1) / 2), 6)
          .as("reduction_ratio"))
  }

  /** er4's ingest split: batch = p_partkey % 3 == 0 (~1/3 of part
    * rows arrive as "the new batch"), the d8/d13 convention on the
    * part table so the full SQL oracle applies. */
  val IncrBatchMod = 3

  /** Name catalog over an arbitrary parts frame, carrying the
    * batch-slice row count per name (additive under ingest, so the
    * merged catalog can always report how much of each entity's
    * evidence arrived in the latest batch). */
  private[graft] def catalogOf(parts: DataFrame): DataFrame =
    parts.groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_parts"),
        sum(when(col("p_partkey") % IncrBatchMod === 0, 1L).otherwise(0L))
          .as("n_parts_batch"),
        min(col("p_partkey")).as("canon_key"))
      .withColumn("block", element_at(split(col("p_name"), " "), -1))

  /** INCREMENTAL entity resolution (the er_cluster_index's lifecycle
    * path, the d13 discipline on the ER plane) — and the EASY case of
    * the family, worth stating: er1's match predicate depends only on
    * the name strings, and the name set only GROWS under ingest, so
    * edges are ADD-ONLY (old×old pairs never change — no d13-style
    * re-scoring), components only MERGE, and the two mutable catalog
    * fields are an additive count and an associative min (canon_key —
    * a batch CAN bring a smaller part key for an existing name, which
    * re-canonicalizes its whole cluster; min merge handles it). The
    * increment's only fuzzy work is new-name × same-block pairs. */
  private[graft] def buildErOutputs(s: SparkSession,
      parts: DataFrame): Seq[(String, DataFrame)] = {
    val names = catalogOf(parts).localCheckpoint()
    val a = names.select(col("p_name").as("name_a"), col("block"))
    val b = names.select(col("p_name").as("name_b"), col("block"))
    val edges = a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <=
        MaxEditDistance)
      .filter(levenshtein(col("name_a"), col("name_b")) <= MaxEditDistance)
      .select(col("name_a"), col("name_b"))
      .localCheckpoint()
    Seq("names" -> names, "edges" -> edges,
      "clusters" -> clustersFrom(names, edges))
  }

  /** (p_name, cluster_key) from name-grain components: cluster_key =
    * min canon_key among members — identical to er2's canon-grain CC
    * labels (each name has a distinct canon, so the component member
    * sets coincide). */
  private def clustersFrom(names: DataFrame, edges: DataFrame): DataFrame = {
    val comps = Dedup.connectedComponents(edges)
      .withColumnRenamed("id", "p_name")
    val withComp = names.select(col("p_name"), col("canon_key"))
      .join(comps, Seq("p_name"), "left")
      .withColumn("comp", coalesce(col("label"), col("p_name")))
    val ck = withComp.groupBy(col("comp"))
      .agg(min(col("canon_key")).as("cluster_key"))
    withComp.join(ck, Seq("comp")).select(col("p_name"), col("cluster_key"))
  }

  // v2: the family grew the applied-batch ledger (streaming
  // maintenance) — salt bump forces stale-recipe rebuilds
  private[graft] val incrErIndex = Artifact.incremental("er_incr_index", "part")(
    s"er-incr-v2;block=lasttoken;maxdist=$MaxEditDistance;split=mod$IncrBatchMod;ledger")(
    erIncrement)

  /** Version N+1 from version N's committed outputs plus only the
    * batch part rows: catalog merges (add counts, min canon), edges
    * append (new-name pairs only), components re-close over the
    * vocabulary-bounded edge list. */
  private def erIncrement(s: SparkSession, root: String,
      batchParts: DataFrame, batchId: Long): Seq[(String, DataFrame)] = {
    import graft.sources.AtomicPublish.readOutput
    val bNames = catalogOf(batchParts).localCheckpoint()
    val baseNames = readOutput(s, root, "names")
    val names2 = baseNames.as("a").join(bNames.as("b"), Seq("p_name"), "full")
      .select(col("p_name"),
        (coalesce(col("a.n_parts"), lit(0L)) + coalesce(col("b.n_parts"), lit(0L)))
          .as("n_parts"),
        (coalesce(col("a.n_parts_batch"), lit(0L)) +
          coalesce(col("b.n_parts_batch"), lit(0L))).as("n_parts_batch"),
        least(coalesce(col("a.canon_key"), col("b.canon_key")),
          coalesce(col("b.canon_key"), col("a.canon_key"))).as("canon_key"))
      .withColumn("block", element_at(split(col("p_name"), " "), -1))
      .localCheckpoint()
    val newNames = bNames.join(baseNames, Seq("p_name"), "left_anti")
      .select(col("p_name"))
    // fuzzy work confined to new-name × same-block pairs; the join
    // condition admits each unordered pair once (the d13 discipline)
    val aNew = names2.join(broadcast(newNames), Seq("p_name"), "left_semi")
      .select(col("p_name").as("name_a"), col("block"))
    val bAll = names2
      .join(broadcast(newNames.withColumn("nw", lit(true))), Seq("p_name"), "left")
      .select(col("p_name").as("name_b"), col("block"),
        coalesce(col("nw"), lit(false)).as("nw"))
    val newEdges = aNew.join(bAll, Seq("block"))
      .filter(col("name_a") =!= col("name_b"))
      .filter(col("name_a") < col("name_b") ||
        (col("name_a") > col("name_b") && !col("nw")))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <=
        MaxEditDistance)
      .filter(levenshtein(col("name_a"), col("name_b")) <= MaxEditDistance)
      .select(least(col("name_a"), col("name_b")).as("name_a"),
        greatest(col("name_a"), col("name_b")).as("name_b"))
    val edges2 = readOutput(s, root, "edges").unionByName(newEdges)
      .localCheckpoint()
    Seq("names" -> names2, "edges" -> edges2,
      "clusters" -> clustersFrom(names2, edges2))
  }

  private[graft] def ensureIncrErIndex(s: SparkSession, dir: String): String =
    incrErIndex.ensureIngested(s, dir) {
      val parts = Tables.part(s, dir)
      (buildErOutputs(s, parts.filter(col("p_partkey") % IncrBatchMod =!= 0)),
        parts.filter(col("p_partkey") % IncrBatchMod === 0))
    }

  /** er4: entity-cluster ledger from the incrementally-maintained ER
    * index — per canonical entity after the ingest batch: member-name
    * count, total part rows, and how many of those rows the batch
    * contributed (the "what did this ingest do to my entities" report).
    * The oracle recomputes entities from scratch over the FULL part
    * table, so a hash pass proves add-only edge maintenance + min
    * canon merge ≡ rebuild. */
  def er4IncrementalEntities(s: SparkSession, dir: String): DataFrame = {
    val root = ensureIncrErIndex(s, dir)
    val names = graft.sources.AtomicPublish.readOutput(s, root, "names")
    val clusters = graft.sources.AtomicPublish.readOutput(s, root, "clusters")
    clusters.join(names, Seq("p_name"))
      .groupBy(col("cluster_key"))
      .agg(count(lit(1)).as("n_names"), sum(col("n_parts")).as("n_parts"),
        sum(col("n_parts_batch")).as("n_parts_batch"))
      .orderBy("cluster_key")
  }

  val oracles: Map[String, String] = Map(
    "er4_incremental_entities" ->
      s"""WITH RECURSIVE names AS (SELECT p_name, count(*) AS n_parts,
         |    CAST(SUM(CASE WHEN p_partkey % $IncrBatchMod = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_parts_batch,
         |    min(p_partkey) AS canon,
         |    split_part(p_name, ' ', -1) AS block
         |  FROM part GROUP BY 1, 5),
         |pairs AS (SELECT a.canon AS ca, b.canon AS cb
         |  FROM names a JOIN names b ON a.block = b.block
         |    AND a.p_name < b.p_name
         |    AND abs(length(a.p_name) - length(b.p_name)) <= $MaxEditDistance
         |  WHERE levenshtein(a.p_name, b.p_name) <= $MaxEditDistance),
         |e AS (SELECT ca AS a, cb AS b FROM pairs
         |  UNION SELECT cb, ca FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e) t
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |roots AS (SELECT a AS canon, MIN(b) AS cluster_key
         |  FROM reach GROUP BY a),
         |labeled AS (SELECT n.p_name, n.n_parts, n.n_parts_batch,
         |    COALESCE(r.cluster_key, n.canon) AS cluster_key
         |  FROM names n LEFT JOIN roots r ON r.canon = n.canon)
         |SELECT cluster_key, COUNT(*) AS n_names,
         |  CAST(SUM(n_parts) AS BIGINT) AS n_parts,
         |  CAST(SUM(n_parts_batch) AS BIGINT) AS n_parts_batch
         |FROM labeled GROUP BY 1 ORDER BY 1""".stripMargin,
    "er3_blocking_eval" ->
      s"""WITH names AS (SELECT p_name, min(p_partkey) AS canon,
         |    split_part(p_name, ' ', -1) AS block
         |  FROM part GROUP BY 1, 3),
         |s AS (SELECT * FROM names),
         |p AS (SELECT a.block = b.block AS in_block,
         |    levenshtein(a.p_name, b.p_name) <= $MaxEditDistance AS is_true
         |  FROM s a JOIN s b ON a.p_name < b.p_name
         |    AND abs(length(a.p_name) - length(b.p_name)) <= $MaxEditDistance),
         |t AS (SELECT count(*) AS n_names FROM s)
         |SELECT t.n_names,
         |  CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |  CAST(SUM(CASE WHEN in_block THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_candidates,
         |  CAST(SUM(CASE WHEN is_true AND in_block THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_true_in_block,
         |  CASE WHEN SUM(CASE WHEN is_true THEN 1 ELSE 0 END) > 0
         |    THEN round(CAST(SUM(CASE WHEN is_true AND in_block THEN 1
         |      ELSE 0 END) AS DOUBLE)
         |      / SUM(CASE WHEN is_true THEN 1 ELSE 0 END), 6) END
         |    AS pair_completeness,
         |  round(1.0 - CAST(SUM(CASE WHEN in_block THEN 1 ELSE 0 END)
         |      AS DOUBLE)
         |    / (CAST(t.n_names AS DOUBLE) * (t.n_names - 1) / 2), 6)
         |    AS reduction_ratio
         |FROM p CROSS JOIN t GROUP BY t.n_names""".stripMargin,
    "er2_entity_clusters" ->
      s"""WITH RECURSIVE names AS (SELECT p_name, count(*) AS n_parts,
         |    min(p_partkey) AS canon,
         |    split_part(p_name, ' ', -1) AS block
         |  FROM part GROUP BY 1, 4),
         |pairs AS (SELECT a.canon AS ca, b.canon AS cb
         |  FROM names a JOIN names b ON a.block = b.block
         |    AND a.p_name < b.p_name
         |    AND abs(length(a.p_name) - length(b.p_name)) <= $MaxEditDistance
         |  WHERE levenshtein(a.p_name, b.p_name) <= $MaxEditDistance),
         |e AS (SELECT ca AS a, cb AS b FROM pairs
         |  UNION SELECT cb, ca FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e) t
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |roots AS (SELECT a AS canon, MIN(b) AS cluster_key
         |  FROM reach GROUP BY a),
         |labeled AS (SELECT n.p_name, n.n_parts,
         |    COALESCE(r.cluster_key, n.canon) AS cluster_key
         |  FROM names n LEFT JOIN roots r ON r.canon = n.canon)
         |SELECT p_name, cluster_key,
         |  COUNT(*) OVER (PARTITION BY cluster_key) AS cluster_size,
         |  n_parts
         |FROM labeled ORDER BY cluster_key, p_name""".stripMargin,
    "er1_fuzzy_match" ->
      s"""WITH names AS (SELECT p_name, count(*) AS n_parts,
         |    split_part(p_name, ' ', -1) AS block
         |  FROM part GROUP BY 1, 3)
         |SELECT a.p_name AS name_a, b.p_name AS name_b,
         |  levenshtein(a.p_name, b.p_name) AS dist,
         |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
         |FROM names a JOIN names b ON a.block = b.block
         |  AND a.p_name < b.p_name
         |  AND abs(length(a.p_name) - length(b.p_name)) <= $MaxEditDistance
         |WHERE levenshtein(a.p_name, b.p_name) <= $MaxEditDistance
         |ORDER BY 1, 2""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er1_fuzzy_match" -> (er1FuzzyMatch _),
    "er2_entity_clusters" -> (er2EntityClusters _),
    "er3_blocking_eval" -> (er3BlockingEval _),
    "er4_incremental_entities" -> (er4IncrementalEntities _))
}
