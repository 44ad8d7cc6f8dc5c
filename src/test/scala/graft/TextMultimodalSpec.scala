package graft

import graft.operators.{Multimodal, TextAnalysis}
import org.apache.spark.sql.functions._

/** Text-analysis invariants (rows 32-35) + multimodal plumbing (36). */
class TextMultimodalSpec extends GraftSpec {

  test("t3/g1 compiled folds equal the retired HOF forms on edge-case text") {
    // the kernels replaced interpreted aggregate(split(...)) lambdas;
    // equivalence must hold on the shapes the identity arguments rely
    // on: empty string, consecutive/leading/trailing spaces (empty
    // split parts), and multi-byte code points (char-count semantics)
    val rows = Seq("", " ", "  ", "a", "abcd efg  hi ", " señor żółć 日本語テキスト x",
      "word " * 40 + "tail")
    val df = spark.createDataFrame(rows.map(Tuple1.apply)).toDF("text")
    val got = df.select(
      org.apache.spark.sql.graft.TokenEstExpr.bpeEst(col("text")).as("k"),
      expr("aggregate(split(text, ' '), 0L, (acc, w) -> acc + CAST(ceil(length(w) / 4.0) AS BIGINT))").as("h"),
      length(translate(col("text"), " ", "")).cast("long").as("kl"),
      expr("aggregate(split(text, ' '), 0L, (a, x) -> a + length(x))").as("hl"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Long]("k") == r.getAs[Long]("h"), s"bpe_est: $r")
      assert(r.getAs[Long]("kl") == r.getAs[Long]("hl"), s"sum_word_len: $r")
    }
  }

  test("t24 flesch score matches a driver-side regex recompute") {
    val got = graft.operators.TextAnalysis.t24Readability(spark, sf).collect()
    assert(got.length == Tables.documents(spark, sf).count())
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    var scored = 0
    got.foreach { r =>
      val text = texts(r.getAs[Long]("doc_id"))
      val sents = "[.!?]+".r.findAllIn(text).length.toLong
      val words = "[A-Za-z]+".r.findAllIn(text).length.toLong
      val syll = "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong
      assert(r.getAs[Long]("n_sents") == sents)
      assert(r.getAs[Long]("n_words") == words)
      assert(r.getAs[Long]("n_syll") == syll)
      if (words > 0) {
        val f = 206.835 - 1.015 * (words.toDouble / math.max(sents, 1L)) -
          84.6 * (syll.toDouble / words)
        val q = math.floor(f * 1e4 + 0.5) / 1e4
        assert(math.abs(r.getAs[Double]("flesch") - q) < 1e-9)
        val band = if (q >= 60.0) "easy" else if (q >= 30.0) "medium" else "hard"
        assert(r.getAs[String]("band") == band)
        scored += 1
      } else assert(r.getAs[String]("band") == "unscored")
    }
    assert(scored > 0)
  }

  test("t1 predicts a valid language, 'und' iff no stopword hits") {
    // note: the fixture's `lang` column is random (uncorrelated with
    // the text), so accuracy-vs-label is meaningless; the contract is
    // the scoring rule itself.
    val rows = TextAnalysis.t1LangId(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scores = Seq("s_en", "s_es", "s_de", "s_fr").map(r.getAs[Int])
      val pred = r.getAs[String]("pred_lang")
      assert(Set("en", "es", "de", "fr", "und").contains(pred))
      if (scores.sum == 0) assert(pred == "und")
      else {
        val best = Map("en" -> scores(0), "es" -> scores(1),
          "de" -> scores(2), "fr" -> scores(3))
        assert(best(pred) == scores.max, s"pred $pred not argmax in $best")
      }
    }
  }

  test("t2 quality score stays in [0, 1]") {
    TextAnalysis.t2QualityScore(spark, sf).collect().foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("t3 token counts are consistent (regex >= whitespace on clean text)") {
    val rows = TextAnalysis.t3TokenCount(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("ws_tokens") > 0)
      assert(r.getAs[Long]("bpe_est") >= r.getAs[Int]("ws_tokens"),
        "ceil(len/4) per word is >= 1 token per word")
    }
  }

  test("t4 fingerprint is whitespace-insensitive") {
    import spark.implicits._
    val base = TextAnalysis.t4Fingerprint(spark, sf)
      .select("doc_id", "fp").as[(Long, String)].collect().toMap
    // same text with doubled spaces must produce the same fingerprint
    val doubled = Tables.documents(spark, sf)
      .withColumn("text", regexp_replace(col("text"), " ", "  "))
    val fp2 = doubled.select(col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(base == fp2)
  }

  test("m1 decode is deterministic and covers every document") {
    val a = Multimodal.m1MultimodalMeta(spark, sf).collect()
    val b = Multimodal.m1MultimodalMeta(spark, sf).collect()
    assert(a.length == Tables.documents(spark, sf).count())
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    a.foreach { r =>
      assert(r.getAs[Int]("width") >= 1 && r.getAs[Int]("width") <= 640)
      assert(r.getAs[Int]("height") >= 1 && r.getAs[Int]("height") <= 480)
      assert(r.getAs[Int]("n_bytes") > 0)
    }
  }

  test("m2 frame sampling emits 1..4 deterministic frames per document") {
    val frames = Multimodal.m2FrameSample(spark, sf).collect()
    val byDoc = frames.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.size == Tables.documents(spark, sf).count())
    byDoc.values.foreach { fs =>
      assert(fs.length >= 1 && fs.length <= 4)
      assert(fs.map(_.getAs[Int]("frame_idx")).sorted.toSeq == fs.indices.toSeq)
      // frame byte counts must partition the payload (no gaps/overlap)
      assert(fs.forall(_.getAs[Int]("frame_bytes") > 0))
    }
    val again = Multimodal.m2FrameSample(spark, sf).collect()
    assert(frames.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("media codec is swappable: a custom backend flows through the same plumbing") {
    object FixedCodec extends graft.operators.MediaCodec {
      override val id = "test-fixed"
      var opened = false // driver-side copy won't see executor state; just exercise the hook
      override def open(): Unit = { opened = true }
      override def decode(id: Long, kind: String, payload: Array[Byte]) =
        graft.operators.MediaFeature(id, kind, payload.length, 7, 9, "fixed")
      override def sampleFrames(id: Long, payload: Array[Byte]) =
        Iterator.single(graft.operators.Frame(id, 0, payload.length, 0.5, 0.25))
      override def embed(id: Long, payload: Array[Byte]) = Array(1.0, 0.0)
    }
    val m1 = Multimodal.m1MultimodalMeta(spark, sf, FixedCodec).collect()
    assert(m1.nonEmpty)
    m1.foreach { r =>
      assert(r.getAs[Int]("width") == 7 && r.getAs[Int]("height") == 9)
      assert(r.getAs[String]("checksum") == "fixed")
    }
    val m2 = Multimodal.m2FrameSample(spark, sf, FixedCodec).collect()
    assert(m2.length == Tables.documents(spark, sf).count()) // exactly 1 frame/doc
    m2.foreach(r => assert(r.getAs[Double]("f0") == 0.5))
    val m3 = Multimodal.mediaEmbeddings(spark, sf, FixedCodec).collect()
    m3.foreach(r => assert(r.getSeq[Double](1) == Seq(1.0, 0.0)))
  }

  test("m3 embeddings are deterministic, in [0,1), and feed the vector kernels") {
    val a = Multimodal.mediaEmbeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = Multimodal.mediaEmbeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b, "embedding extraction must be deterministic")
    assert(a.nonEmpty)
    a.values.foreach { e =>
      assert(e.length == graft.operators.StubCodec.EmbedDim)
      e.foreach(x => assert(x >= 0.0 && x < 1.0))
    }
    // the bridge: the embedding column flows into the same native
    // kernels the similarity ops use — self-cosine is exactly 1
    import spark.implicits._
    val self = Multimodal.mediaEmbeddings(spark, sf)
      .filter(col("doc_id") < 10)
      .withColumn("nrm", graft.functions.VectorFunctions.l2normNative("embedding"))
      .withColumn("cos", graft.functions.VectorFunctions.cosineFromParts(
        graft.functions.VectorFunctions.dotNative("embedding", "embedding"),
        col("nrm"), col("nrm")))
      .select("cos").as[Double].collect()
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("t12 normalization is idempotent and chainable into exact dedup") {
    import spark.implicits._
    val n1 = TextAnalysis.t12Normalize(spark, sf)
    // idempotent: normalizing the normalized text is the identity
    val again = n1.select(col("doc_id"),
      trim(regexp_replace(lower(col("norm_text")), "\\s+", " ")).as("t2"))
    val diff = n1.join(again, "doc_id")
      .filter(col("norm_text") =!= col("t2")).count()
    assert(diff == 0)
    // hash column matches an md5 recomputed from norm_text
    assert(n1.filter(md5(col("norm_text")) =!= col("norm_hash")).count() == 0)
    // synthetic: case and whitespace variants collapse to one hash
    val synth = Seq("Hello  World", "hello world", " HELLO\tWORLD ")
      .toDF("text").select(
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("h"))
    assert(synth.distinct().count() == 1)
  }

  test("t13 redaction masks emails and long digit runs, counts on original text") {
    import spark.implicits._
    val synth = Seq(
      (1L, "contact me at jane.doe+x@example.org or call 1234567"),
      (2L, "ids 123 and 12345 stay, 999999 goes"),
      (3L, "no pii here")).toDF("doc_id", "text")
    val out = synth.select(
      col("doc_id"),
      regexp_replace(regexp_replace(col("text"), TextAnalysis.EmailPattern, "<EMAIL>"),
        TextAnalysis.LongNumPattern, "<NUM>").as("redacted"),
      size(regexp_extract_all(col("text"), lit(TextAnalysis.EmailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(TextAnalysis.LongNumPattern), lit(0))).as("n_longnums"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(1L) == ("contact me at <EMAIL> or call <NUM>", 1, 1))
    assert(out(2L) == ("ids 123 and 12345 stay, <NUM> goes", 0, 1))
    assert(out(3L) == ("no pii here", 0, 0))
    // corpus run: deterministic, and counts are non-negative
    val corpus = TextAnalysis.t13Redact(spark, sf).collect()
    assert(corpus.length == Tables.documents(spark, sf).count())
    corpus.foreach(r =>
      assert(r.getAs[Int]("n_emails") >= 0 && r.getAs[Int]("n_longnums") >= 0))
  }

  test("t14 repetition ratios hit known values on degenerate text and stay in [0,1]") {
    import spark.implicits._
    val corpus = TextAnalysis.t14Repetition(spark, sf).collect()
    assert(corpus.length == Tables.documents(spark, sf).count())
    corpus.foreach { r =>
      Seq("dup_word_ratio", "top_word_ratio", "top_bigram_ratio").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c=$v out of range")
      }
    }
    // cross-check one corpus row against an independent computation
    val doc0 = Tables.documents(spark, sf).filter(col("doc_id") === 0)
      .select(col("text")).collect().head.getString(0)
    val words = doc0.split(" ")
    val expDup = BigDecimal(1.0 - words.distinct.length.toDouble / words.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r0 = corpus.find(_.getLong(0) == 0L).get
    assert(r0.getLong(1) == words.length)
    assert(r0.getAs[Double]("dup_word_ratio") == expDup)
  }

  test("t14 kernel digests are bit-identical to the exploded aggregate form") {
    // the retired round-6 formulation as semantic reference: one
    // posexplode of the concat'd unigram+bigram streams, counts per
    // (doc, family, gram), re-aggregated per doc
    val reference = Tables.documents(spark, sf)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.WordNgramsExpr.wordNgrams(col("text"), 1).as("uni"),
        org.apache.spark.sql.graft.WordNgramsExpr.wordNgrams(col("text"), 2).as("bi"))
      .select(col("doc_id"), size(col("uni")).as("nu"),
        posexplode(concat(col("uni"), col("bi"))))
      .select(col("doc_id"), (col("pos") < col("nu")).as("is_word"), col("col").as("g"))
      .groupBy(col("doc_id"), col("is_word"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("is_word"), col("n"))).as("n_words"),
        sum(when(col("is_word"), 1L)).as("n_distinct"),
        max(when(col("is_word"), col("n"))).as("max_wc"),
        coalesce(sum(when(!col("is_word"), col("n"))), lit(0L)).as("n_bigrams"),
        coalesce(max(when(!col("is_word"), col("n"))).cast("long"), lit(0L)).as("max_bc"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val kernel = Tables.documents(spark, sf)
      .select(col("doc_id"), org.apache.spark.sql.graft.RepetitionStatsExpr
        .repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_words"), col("r.n_distinct"),
        col("r.max_wc"), col("r.n_bigrams"), col("r.max_bc"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(kernel == reference, "kernel digests diverged from the aggregate form")
  }

  test("t14 drops null-text docs, matching the retired exploded form") {
    // the posexplode form dropped null-text docs (explode of a null
    // array yields no rows); the kernel alone would keep the row with
    // an all-null digest struct — t14's explicit filter pins the
    // dropped-row semantics, and this case keeps it pinned
    import spark.implicits._
    val docs = Seq((0L, Option("a b a")), (1L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionOf(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L),
      "null-text doc must be dropped, not kept with null digests")
    assert(out.head.getLong(1) == 3L) // n_words of the surviving doc
  }

  test("m4 binaryFile ingest round-trips every sampled doc byte-for-byte") {
    val rows = Multimodal.m4BinaryIngest(spark, sf).collect()
    assert(rows.length == Multimodal.BinaryIngestDocs)
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") < Multimodal.BinaryIngestDocs)
      .select(col("doc_id"), col("text")).collect()
      .map(r => s"doc_${r.getLong(0)}.bin" -> r.getString(1)).toMap
    rows.foreach { r =>
      val bytes = docs(r.getString(0)).getBytes("UTF-8")
      assert(r.getLong(1) == bytes.length, s"${r.getString(0)}: length")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString
      assert(r.getString(2) == md, s"${r.getString(0)}: content digest")
    }
  }

  test("m4 serves each corpus its own files when a second corpus runs in the same session") {
    // (file, length, md5) of every sampled doc, straight from `dir`'s documents
    def digests(dir: String) = Tables.documents(spark, dir)
      .filter(col("doc_id") < Multimodal.BinaryIngestDocs)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val bytes = r.getString(1).getBytes("UTF-8")
        (s"doc_${r.getLong(0)}.bin", bytes.length.toLong,
          java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map("%02x".format(_)).mkString)
      }.toSet
    val second = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    Multimodal.m4BinaryIngest(spark, sf).collect()
    val got = Multimodal.m4BinaryIngest(spark, second).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == digests(second), "m4 read another corpus's fixture files")
  }

  test("t16 term-freq kernel equals the explode+groupBy aggregate form") {
    // the retired formulation as semantic reference: one row per token,
    // counted under a (doc, term) shuffle
    val reference = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.WordNgramsExpr.wordNgrams(col("text"), 1))
        .as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val kernel = TextAnalysis.t16TermFreq(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(kernel == reference, "kernel term freqs diverged from the aggregate form")
  }

  test("t15 decontamination flags exactly the corpus docs sharing a 4-gram with an eval doc") {
    import spark.implicits._
    // doc 0 is eval (0 % 50 == 0); doc 1 shares its 4-gram, docs 2-3 don't
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "x alpha beta gamma delta y"),
      (2L, "alpha beta gamma zeta"), // only a 3-gram in common
      (3L, "completely different words here")).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) == ((1L, 1L))) // one shared shingle ("alpha beta gamma delta"), one eval doc
    // corpus run matches the DuckDB prototype count shape: every flagged
    // doc shares ≥1 shingle with ≥1 eval doc
    val corpus = TextAnalysis.t15Decontaminate(spark, sf).collect()
    corpus.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 1)
    }
  }

  test("t31 span decontamination measures exactly the leaked tokens at any alignment") {
    import spark.implicits._
    val k = graft.operators.Dedup.ExactSpanTokens
    // doc 0 is eval (0 % 50 == 0): 40 unique tokens e0..e39. Train
    // doc 1 embeds eval tokens e5..e29 (a 25-token span) at offset 7
    // — off any window grid; train doc 2 shares nothing.
    val span = (5 to 29).map(i => s"e$i")
    val evalDoc = (0 until 40).map(i => s"e$i")
    val d1 = (0 until 7).map(i => s"a$i") ++ span ++ (7 until 60).map(i => s"a$i")
    val d2 = (0 until 50).map(i => s"b$i")
    val docs = Seq(
      (0L, evalDoc.mkString(" ")),
      (1L, d1.mkString(" ")),
      (2L, d2.mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.spanDecontaminate(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L), "only the embedding doc is contaminated")
    val r = out(1L)
    assert(r.getLong(r.fieldIndex("n_tokens")) == 85L)
    // 25 leaked tokens ⇒ 25-K+1 shared windows covering exactly them
    assert(r.getLong(r.fieldIndex("n_contam_windows")) == (25 - k + 1).toLong)
    assert(r.getLong(r.fieldIndex("n_contam_tokens")) == 25L)
    assert(r.getLong(r.fieldIndex("n_eval_docs")) == 1L)
    // and eval docs themselves are never profiled (they're the holdout)
    assert(!out.contains(0L))
  }

  test("t32 scrub excises exactly the leaked span; eval docs excluded; clean doc unchanged") {
    import spark.implicits._
    // t31's planted fixture: doc 0 eval, doc 1 embeds e5..e29 at
    // offset 7, doc 2 clean
    val span = (5 to 29).map(i => s"e$i")
    val evalDoc = (0 until 40).map(i => s"e$i")
    val d1 = (0 until 7).map(i => s"a$i") ++ span ++ (7 until 60).map(i => s"a$i")
    val d2 = (0 until 50).map(i => s"b$i")
    val docs = Seq(
      (0L, evalDoc.mkString(" ")),
      (1L, d1.mkString(" ")),
      (2L, d2.mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.decontScrub(docs)
      .select(col("doc_id"), col("n_tokens"), col("n_spans_removed"),
        col("n_tokens_removed"), concat_ws(" ", col("kept")).as("scrubbed"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L), "train docs only — the holdout is not emitted")
    val r1 = got(1L)
    assert(r1.getLong(r1.fieldIndex("n_spans_removed")) == 1L)
    assert(r1.getLong(r1.fieldIndex("n_tokens_removed")) == 25L)
    assert(r1.getString(r1.fieldIndex("scrubbed")) ==
      ((0 until 7).map(i => s"a$i") ++ (7 until 60).map(i => s"a$i")).mkString(" "))
    val r2 = got(2L)
    assert(r2.getLong(r2.fieldIndex("n_tokens_removed")) == 0L)
    assert(r2.getString(r2.fieldIndex("scrubbed")) == d2.mkString(" "))
  }

  test("t32 corpus re-check: scrubbed train ∪ untouched eval shows zero residual contamination") {
    // conservation vs t31 per doc, then the decontamination CLAIM:
    // re-running t31's measurement over (scrubbed train ∪ eval)
    // finds nothing left to remove
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val t31 = TextAnalysis.t31SpanDecontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val scrub = TextAnalysis.t32DecontaminateScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(t31.nonEmpty && scrub.size >= t31.size)
    for ((id, m) <- t31) {
      val sR = scrub(id)
      assert(sR.getLong(sR.fieldIndex("n_tokens_kept")) ==
        m.getLong(m.fieldIndex("n_tokens")) -
          m.getLong(m.fieldIndex("n_contam_tokens")),
        s"doc $id: kept != n_tokens - contaminated")
    }
    val isEval = pmod(col("doc_id"),
      lit(TextAnalysis.EvalHoldoutMod)) === lit(0)
    val scrubbedCorpus = TextAnalysis.decontScrub(docs)
      .select(col("doc_id"), concat_ws(" ", col("kept")).as("text"))
      .unionByName(docs.filter(isEval))
    val residual = TextAnalysis.spanDecontaminate(scrubbedCorpus).count()
    assert(residual == 0L,
      s"$residual train docs still leak into the eval set after the scrub")
  }

  test("t16 tf-idf ranks match a driver-side recompute for every document") {
    val out = TextAnalysis.t16TfIdf(spark, sf).collect()
      .groupBy(_.getLong(0))
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tf = texts.map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap
    }
    val n = tf.count(_._2.nonEmpty) // N = docs contributing >=1 term (in-lineage)
    val df = tf.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size.toLong)
    texts.keys.foreach { id =>
      val expect = tf(id).map { case (term, f) =>
        (term, f * math.log((n + 1.0) / (df(term) + 1.0)))
      }.toSeq.sortBy { case (term, s) => (-s, term) }.take(TextAnalysis.TfidfTopK)
      val got = out(id).sortBy(_.getInt(1)).map(r => r.getString(2))
      assert(got.sameElements(expect.map(_._1)), s"doc $id: $got vs $expect")
    }
  }

  test("t7 CMS estimates dominate exact counts within the epsilon bound") {
    val rows = TextAnalysis.t7HeavyHitters(spark, sf).collect()
    assert(rows.length == 20)
    val totalTokens = TextAnalysis.t3TokenCount(spark, sf)
      .agg(sum("ws_tokens")).collect().head.getLong(0)
    rows.foreach { r =>
      val exact = r.getLong(1); val est = r.getLong(2)
      assert(est >= exact, s"CMS must overestimate: $est < $exact")
      assert(est <= exact + (0.0005 * 4 * totalTokens).toLong,
        s"CMS estimate $est too far above exact $exact")
    }
  }

  test("t6 winnowing: deterministic, and shared substrings share fingerprints") {
    val rows = TextAnalysis.t6WinnowFingerprint(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    assert(rows.forall(_.getAs[Int]("n_fp") >= 1))
    // winnowing guarantee: a common substring of length >= w+k-1 (11)
    // yields at least one shared fingerprint between two documents
    import spark.implicits._
    val common = "the quick brown fox jumps over the lazy dog"
    val fpsOf = Seq(
      s"PREFIX ONE $common SUFFIX ALPHA",
      s"totally different opening $common and another ending").toDF("text")
      .select(org.apache.spark.sql.graft.RollingFingerprintExpr
        .fingerprints(col("text"), 8, 4).as("fps"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(fpsOf(0).intersect(fpsOf(1)).nonEmpty,
      "documents sharing a long substring must share a fingerprint")
    // and two unrelated strings should (overwhelmingly) not collide
    val unrelated = Seq("aaaaaaaaaaaaaaaaaaaaaa", "zzzzzzzzzzzzzzzzzzzzzz")
      .toDF("text")
      .select(org.apache.spark.sql.graft.RollingFingerprintExpr
        .fingerprints(col("text"), 8, 4).as("fps"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(unrelated(0).intersect(unrelated(1)).isEmpty)
  }

  test("t17: token-weighted mean surprisal equals the corpus unigram entropy") {
    val rows = TextAnalysis.t17Surprisal(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, s) =>
      assert(n > 0 && s > 0 && !s.isNaN && !s.isInfinite, s"doc $id: n=$n s=$s")
    }
    // sum over docs of per-token -ln p(w) is total_tokens × H(unigram):
    // the per-doc scores must re-aggregate to the corpus entropy
    val counts = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect().map(_.getLong(1))
    val total = counts.sum.toDouble
    val entropy = counts.map(c => -c / total * math.log(c / total)).sum
    val weighted = rows.map { case (_, n, s) => n * s }.sum / rows.map(_._2).sum
    assert(math.abs(weighted - entropy) < 1e-4,
      s"weighted-mean surprisal $weighted != corpus entropy $entropy")
  }

  test("t23 length histogram matches a driver-side exact bucketing") {
    val rows = TextAnalysis.t23LengthHistogram(spark, sf).collect()
    val lens = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(_.getLong(0))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == lens.length)
    assert(rows.map(_.getAs[Long]("sum_tokens")).sum == lens.sum)
    val lo = lens.min; val hi = lens.max
    val b = TextAnalysis.LenHistBuckets
    val want = lens.groupBy(n =>
      math.min((n - lo) * b / math.max(hi - lo, 1), b - 1L))
      .map { case (k, g) => k -> (g.length.toLong, g.sum) }
    val got = rows.map(r => r.getAs[Long]("bucket") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"))).toMap
    assert(got == want)
  }

  test("m6 media dup clusters equal a driver-side union-find over m5's pairs") {
    val pairs = Multimodal.m5PhashNeardup(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    assert(pairs.nonEmpty)
    // driver union-find with min-label canonicalization
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = nodes.map(n => n -> find(n)).toMap
    val got = Multimodal.m6MediaDupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == want)
    // every cluster label is its own minimum member
    got.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label)
    }
  }

  test("m5 pHash pairs: banding finds every pair a brute-force scan keeps") {
    // brute force: quantize every embedding, score ALL pairs, keep
    // those under the threshold AND sharing >= 1 exact band
    val emb = Multimodal.mediaEmbeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Seq[Double]]("embedding").map(f =>
          math.floor(f * Multimodal.PhashLevels).toInt).toArray)
    // per-band bucket sizes, for the hot-bucket cap
    val bucketN = (0 until Multimodal.PhashBands).map { k =>
      emb.groupBy { case (_, q) => (q(k * 2), q(k * 2 + 1)) }
        .map { case (key, xs) => key -> xs.size }
    }
    val want = (for {
      (a, qa) <- emb; (b, qb) <- emb if a < b
      band = (0 until Multimodal.PhashBands).exists(k =>
        qa(k * 2) == qb(k * 2) && qa(k * 2 + 1) == qb(k * 2 + 1) &&
          bucketN(k)((qa(k * 2), qa(k * 2 + 1))) <= Multimodal.PhashBucketCap)
      ham = qa.zip(qb).map { case (u, v) => math.abs(u - v) }.sum
      if band && ham <= Multimodal.PhashMaxHamming
    } yield (a, b) -> ham).toMap
    val got = Multimodal.m5PhashNeardup(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty, "fixture should contain pHash near-dups")
    // hamming of thermometer codes IS the L1 distance of quantized
    // features: exact duplicates must score 0
    val dupTexts = Tables.documents(spark, sf)
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2).collect()
    dupTexts.foreach { r =>
      val ids = r.getAs[Seq[Long]]("ids").sorted
      assert(got((ids(0), ids(1))) == 0, s"exact dup pair $ids")
    }
  }

  test("t22 Zipf profile matches a driver-side rank-frequency fit") {
    val r = TextAnalysis.t22ZipfProfile(spark, sf).collect().head
    val counts = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r.getAs[Long]("n_tokens") == counts.map(_._2).sum)
    assert(r.getAs[Long]("vocab") == counts.length)
    assert(r.getAs[Long]("hapax") == counts.count(_._2 == 1L))
    val top = counts.sortBy { case (w, n) => (-n, w) }
      .take(TextAnalysis.ZipfTopN).zipWithIndex
    assert(r.getAs[Long]("n_fit") == top.length)
    val xs = top.map { case (_, i) => math.log(i + 1.0) }
    val ys = top.map { case ((_, n), _) => math.log(n.toDouble) }
    val mx = xs.sum / xs.length; val my = ys.sum / ys.length
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    assert(math.abs(r.getAs[Double]("zipf_slope") - slope) < 1e-5)
    assert(r.getAs[Double]("zipf_slope") < 0, "frequency falls with rank")
    val r2 = r.getAs[Double]("zipf_r2")
    assert(r2 >= 0 && r2 <= 1)
  }

  test("m7 core: media increment with a batch-driven bucket-cap crossing equals rebuild") {
    import spark.implicits._
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    // 95 base copies of X share every band bucket AND pair at hamming
    // 0 — one big cluster; the batch's 7 more copies push the buckets
    // past the cap (100), dissolving it (the m5 hot-bucket rule), and
    // bring a fresh duplicate pair that forms a NEW cluster
    val base = (1L to 95L).map(i => i -> "exact media payload X") ++
      (200L to 219L).map(i => i -> s"filler media $i")
    val batch = (300L to 306L).map(i => i -> "exact media payload X") ++
      Seq(400L -> "fresh media payload Y", 401L -> "fresh media payload Y")
    val root = tempDir("m7")
    Multimodal.mediaIncrIndex.publishBase(spark, root,
      Multimodal.buildMediaIncrOutputs(spark, docs(base)))
    val v1Clusters = graft.sources.AtomicPublish
      .readOutputAt(spark, root, "v1", "clusters").collect()
    assert(v1Clusters.count(_.getLong(1) == 1L) == 95,
      "base X copies should form one 95-member cluster")
    Multimodal.mediaIncrIndex.publishIncrement(spark, root, docs(batch))
    def sets(outs: Seq[(String, org.apache.spark.sql.DataFrame)]) =
      outs.map { case (n, d) =>
        n -> d.collect().map(_.mkString("|")).toSet }.toMap
    val want = sets(Multimodal.buildMediaIncrOutputs(spark, docs(base ++ batch)))
    for (name <- Seq("phash", "buckets", "edges", "clusters")) {
      val got = graft.sources.AtomicPublish.readOutput(spark, root, name)
        .collect().map(_.mkString("|")).toSet
      assert(got == want(name), s"$name diverged after the increment")
    }
    val v2Clusters = graft.sources.AtomicPublish
      .readOutput(spark, root, "clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!v2Clusters.contains(1L),
      "capped X bucket must dissolve the base cluster (hot-bucket rule)")
    assert(v2Clusters.get(400L) == v2Clusters.get(401L) &&
      v2Clusters.contains(400L), "the fresh batch pair must cluster")
  }

  test("m7 on the real corpus: incremental media snapshot equals scratch recompute") {
    val got = Multimodal.m7IncrementalMedia(spark, sf).collect()
      .map(_.mkString("|")).toSet
    val outs = Multimodal.buildMediaIncrOutputs(spark,
      Tables.documents(spark, sf)).toMap
    val want = outs("clusters")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") % Multimodal.MediaIncrBatchMod === 0, 1L)
          .otherwise(0L)).as("n_batch"))
      .collect().map(_.mkString("|")).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming media maintenance: three chained micro-batches equal a rebuild, replay refused") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val base = (1L to 20L).map(i => i -> s"stream filler media $i")
    // chained state: b1 plants a duplicate pair, b2 joins that
    // cluster (an edge between a streamed batch and an earlier one),
    // b3 brings an unrelated pair
    val b1 = Seq(100L -> "stream payload A", 101L -> "stream payload A")
    val b2 = Seq(102L -> "stream payload A")
    val b3 = Seq(200L -> "stream payload B", 201L -> "stream payload B")
    val root = tempDir("m7_stream")
    val ckpt = tempDir("m7_sckpt")
    Multimodal.mediaIncrIndex.publishBase(spark, root,
      Multimodal.buildMediaIncrOutputs(spark, docs(base)))
    val input = MemoryStream[(Long, String)]
    val q = Multimodal.mediaIncrIndex.streamingMaintenance(
      input.toDF().toDF("doc_id", "text"), root, ckpt)
    try {
      for (b <- Seq(b1, b2, b3)) { input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.sources.AtomicPublish.currentVersion(spark, root)
      .contains("v4"))
    val want = Multimodal.buildMediaIncrOutputs(spark,
      docs(base ++ b1 ++ b2 ++ b3)).toMap
    for (name <- Seq("phash", "buckets", "edges", "clusters")) {
      val got = graft.sources.AtomicPublish.readOutput(spark, root, name)
        .collect().map(_.mkString("|")).toSet
      assert(got == want(name).collect().map(_.mkString("|")).toSet,
        s"$name diverged after chained streaming increments")
    }
    val clusters = graft.sources.AtomicPublish.readOutput(spark, root, "clusters")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(100L, 101L, 102L).map(clusters).distinct.size == 1,
      "the cross-batch duplicate must join the streamed cluster")
    assert(clusters(200L) == clusters(201L))
    // exactly-once: replayed id and empty trigger are no-ops
    val before = graft.sources.AtomicPublish.currentVersion(spark, root)
    assert(!Multimodal.mediaIncrIndex.applyBatch(spark, root, docs(b2), 1L))
    assert(!Multimodal.mediaIncrIndex.applyBatch(spark, root, docs(Seq.empty), 99L))
    assert(graft.sources.AtomicPublish.currentVersion(spark, root) == before)
  }

  test("t26: counts dominate the floor and PMI solves to one corpus constant") {
    val rows = TextAnalysis.t26Collocations(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cab, ca, cb) = (r.getAs[Long]("cab"), r.getAs[Long]("ca"),
        r.getAs[Long]("cb"))
      assert(cab >= TextAnalysis.PmiMinCount)
      assert(ca >= cab && cb >= cab, r.toString) // marginals dominate the joint
    }
    // PMI = ln(cab·U²/(B·ca·cb)) ⇒ exp(pmi)·ca·cb/cab = U²/B, a single
    // corpus constant — every row must solve to the same value, which
    // pins the formula (and its count inputs) without re-tokenizing
    val consts = rows.map { r =>
      math.exp(r.getAs[Double]("pmi")) * r.getAs[Long]("ca") *
        r.getAs[Long]("cb") / r.getAs[Long]("cab")
    }
    val ref = consts.head
    consts.foreach(c => assert(math.abs(c / ref - 1.0) < 1e-4,
      s"$c vs $ref"))
  }

  test("t27: novelty == driver-side first-occurrence scan; id-0 doc is fully novel") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val grams = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      id -> w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val first = scala.collection.mutable.Map[String, Long]()
    for ((id, gs) <- grams; g <- gs) if (!first.contains(g)) first(g) = id
    val expected = grams.map { case (id, gs) =>
      id -> (gs.size.toLong, gs.count(first(_) == id).toLong)
    }.toMap
    val rows = TextAnalysis.t27Novelty(spark, sf).collect()
    assert(rows.length == expected.size)
    for (r <- rows) {
      val (nSh, nNov) = expected(r.getLong(0))
      assert(r.getAs[Long]("n_shingles") == nSh, s"doc ${r.getLong(0)}")
      assert(r.getAs[Long]("n_novel") == nNov, s"doc ${r.getLong(0)}")
    }
    // the smallest doc id can never lose a first-occurrence tie
    val minDoc = expected.keys.min
    assert(rows.find(_.getLong(0) == minDoc).get.getAs[Double]("novelty") == 1.0)
  }

  test("t27: a planted exact-dup doc still appears, with 0 novel shingles") {
    // pins the r16 restructure's left-join edge: a doc whose EVERY
    // shingle first occurred in an earlier doc must stay in the output
    // (n_shingles intact) with n_novel 0 — the old inner-join-then-
    // aggregate form got this implicitly, the counts⋈novel left join
    // must get it explicitly
    import spark.implicits._
    val dir = tempDir("t27_zero")
    Seq((0L, "a b c d e"), // owns all 3 of its shingles
      (1L, "a b c d e"), // exact dup: zero novel
      (2L, "a b c x y z")) // "a b c" seen, the other 3 novel
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.t27Novelty(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getAs[Long]("n_shingles") == 3L)
    assert(rows(0L).getAs[Double]("novelty") == 1.0)
    assert(rows(1L).getAs[Long]("n_shingles") == 3L)
    assert(rows(1L).getAs[Long]("n_novel") == 0L)
    assert(rows(1L).getAs[Double]("novelty") == 0.0)
    assert(rows(2L).getAs[Long]("n_shingles") == 4L)
    assert(rows(2L).getAs[Long]("n_novel") == 3L)
  }

  test("t28: JS divergence is bounded, and a planted disjoint source maxes out") {
    val rows = TextAnalysis.t28SourceDivergence(spark, sf).collect()
    val ln2 = math.log(2.0)
    for (r <- rows) {
      val js = r.getAs[Double]("js_divergence")
      assert(js >= 0.0 && js <= ln2 + 1e-9, s"${r.getString(0)}: $js")
    }
    // all sources draw from the same synthetic generator, so none
    // should look anywhere near disjoint from the corpus
    assert(rows.map(_.getAs[Double]("js_divergence")).max < 0.9 * ln2)
    // token mass reconciles
    val total = Tables.documents(spark, sf)
      .agg(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == total)
  }

  test("t30: eval-side leak report is t31's dual and pins a planted 2-train-doc leak") {
    import spark.implicits._
    val k = graft.operators.Dedup.ExactSpanTokens
    // duality on the real corpus: both reports count the SAME
    // (train, eval) leak-pair set from opposite ends
    val t30Pairs = TextAnalysis.t30EvalLeakReport(spark, sf).collect()
      .map(_.getAs[Long]("n_train_docs")).sum
    val t31Pairs = TextAnalysis.t31SpanDecontaminate(spark, sf).collect()
      .map(_.getAs[Long]("n_eval_docs")).sum
    assert(t30Pairs == t31Pairs,
      s"leak-pair mass must reconcile: t30=$t30Pairs t31=$t31Pairs")
    // planted: eval doc 0 (0 % 50 == 0) leaks its e5..e29 span into
    // TWO train docs at different offsets; train doc 3 is clean
    val span = (5 to 29).map(i => s"e$i")
    val evalDoc = (0 until 40).map(i => s"e$i")
    val d1 = (0 until 7).map(i => s"a$i") ++ span ++ (7 until 40).map(i => s"a$i")
    val d2 = (0 until 3).map(i => s"c$i") ++ span ++ (3 until 40).map(i => s"c$i")
    val d3 = (0 until 50).map(i => s"b$i")
    val docs = Seq(
      (0L, evalDoc.mkString(" ")), (1L, d1.mkString(" ")),
      (2L, d2.mkString(" ")), (3L, d3.mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.evalLeakReport(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L), "exactly the leaked eval doc reports")
    val r = out(0L)
    assert(r.getLong(r.fieldIndex("n_tokens")) == 40L)
    assert(r.getLong(r.fieldIndex("n_train_docs")) == 2L)
    // the leaked region within the EVAL doc is exactly the 25-token
    // span (positions 5..29): 25-K+1 windows, 25 tokens covered
    assert(r.getLong(r.fieldIndex("n_leaked_windows")) == (25 - k + 1).toLong)
    assert(r.getLong(r.fieldIndex("n_leaked_tokens")) == 25L)
    assert(r.getDouble(r.fieldIndex("leaked_token_frac")) == 0.625)
  }

  test("t33: planted code routes as code-like; prose doesn't; ratios recompute exactly") {
    import spark.implicits._
    val code = "def f(x){ return x[0]+y*2; } // map(z=>z%3)"
    val prose = "An ordinary English sentence, with commas and a period."
    val docs = Seq(("src_a", code), ("src_a", prose), ("src_b", prose))
      .toDF("source", "text")
    val got = TextAnalysis.codeProfile(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    def symCount(s: String): Int =
      s.length - s.replaceAll(TextAnalysis.CodeSymbolClass, "").length
    assert(symCount(code).toDouble / code.length >= TextAnalysis.CodeSymbolTau,
      "fixture code doc must clear the threshold")
    assert(symCount(prose).toDouble / prose.length < TextAnalysis.CodeSymbolTau,
      "sentence punctuation must not count as code symbols")
    val a = got("src_a")
    assert(a.getAs[Long]("n_docs") == 2L)
    assert(a.getAs[Long]("n_codelike") == 1L)
    assert(a.getAs[Double]("codelike_frac") == 0.5)
    assert(got("src_b").getAs[Long]("n_codelike") == 0L)
    // mean symbol ratio = the quantized-fold recompute
    val want = Seq(code, prose)
      .map(s => math.floor(symCount(s).toDouble / s.length * 1e9 + 0.5).toLong)
      .sum.toDouble / 2 / 1e9
    assert(a.getAs[Double]("mean_symbol_ratio") ==
      BigDecimal(want).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // and the real corpus is prose: nothing routes as code
    val corpus = TextAnalysis.t33CodeProfile(spark, sf).collect()
    assert(corpus.nonEmpty)
    assert(corpus.map(_.getAs[Long]("n_codelike")).sum == 0L,
      "the synthetic prose corpus must not route anything as code")
  }
}
