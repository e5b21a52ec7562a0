package graft

import graft.functions.GraftFunctions
import graft.linkage._
import graft.operators.Noise
import graft.queries.LinkageQueries
import org.apache.spark.sql.functions._

/** Degenerate-input hardening: a library API that works at 100 TB must
  * also survive the empty partitions, all-null keys and zero-match blocks
  * that show up at the edges of real runs (a fresh tenant, a filter that
  * matches nothing, a block with no counterpart side).
  */
class EdgeSpec extends SparkTestBase {

  private def census = LinkageQueries.census(spark, sfDir)
  private def input = LinkageQueries.input(spark, sfDir)
  private val cfg = LinkageQueries.config

  private def emptyInput = input.limit(0)

  test("cascade over an empty input yields zero links, no failure") {
    GraftFunctions.register(spark)
    assert(LinkageCascade.run(census, emptyInput, cfg).count() == 0L)
  }

  test("cost summary over an empty input reports a zero row per pass") {
    GraftFunctions.register(spark)
    val rows = LinkageCascade.blockCostSummaryAll(census, emptyInput, cfg.passes)
      .collect()
    assert(rows.length == cfg.passes.size)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") == 0L, s"${r.getString(0)} nonzero pairs")
      assert(r.getAs[Long]("n_blocks") == 0L)
      assert(r.getAs[Long]("max_block_pairs") == 0L)
    }
  }

  test("cost summary over an EMPTY PASS LIST returns the zero-row frame, no failure") {
    GraftFunctions.register(spark)
    val rows = LinkageCascade.blockCostSummaryAll(census, input, Seq.empty)
    assert(rows.columns.toSeq ==
      Seq("pass", "ordinal", "n_pairs", "n_blocks", "max_block_pairs"))
    assert(rows.count() == 0L)
    assert(LinkageCascade.autoSalt(census, input, Seq.empty) == Seq.empty)
  }

  test("autoSalt over an empty input leaves every pass untouched") {
    GraftFunctions.register(spark)
    assert(LinkageCascade.autoSalt(census, emptyInput, cfg.passes) == cfg.passes)
  }

  test("streaming embedding dedup on an empty micro-batch is empty, no failure") {
    import graft.operators.VectorOps
    import graft.queries.PipelineQueries
    GraftFunctions.register(spark)
    val all = PipelineQueries.embWithDups(spark, sfDir)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
    val cents = PipelineQueries.ivfCentroids(all)
    val corpus = all.filter(col("vec_id") < 100000L)
    val corpusCells = PipelineQueries.cellAssignments(corpus, cents, probes = 1)
      .select(col("vec_id").as("corpus_id"), col("label"), col("cid"))
    val emptyArrivals = all.select("vec_id", "label", "embedding").limit(0)
    assert(graft.streaming.StreamingDedup
      .embMatchesBatch(cents, corpusCells, corpus, emptyArrivals).count() == 0L)
  }

  test("ivfSeedIdsFor twin matches the in-query centroid id derivation") {
    import graft.queries.PipelineQueries
    import spark.implicits._
    // The driver-side arithmetic (specs, ScaleBench) and the in-query
    // stride pick must select the SAME ids for a dense-id corpus — this
    // is the contract that keeps harness-side k reporting honest across
    // sizes, including the k-growth boundary at n = 2048 (n/128 > 16).
    Seq(5L, 16L, 100L, 500L, 2047L, 2048L, 4096L).foreach { n =>
      val e = spark.range(n).select(col("id").as("vec_id"))
        .withColumn("embedding", array(lit(1.0f)))
        .withColumn("nrm", lit(1.0))
      val got = PipelineQueries.ivfCentroids(e)
        .select("cid").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == PipelineQueries.ivfSeedIdsFor(n).sorted,
        s"centroid id mismatch at n=$n")
    }
  }

  test("bestLink of an empty scored frame is empty") {
    val empty = spark.createDataFrame(
      Seq.empty[(Long, Long, Double)]).toDF("pik", "rec_id", "match_weight")
    assert(LinkageCascade.bestLink(empty).count() == 0L)
  }

  test("EM on a blocking that matches nothing keeps the prior, never NaN") {
    GraftFunctions.register(spark)
    // A block key pair that can never agree: census zip3 vs a sentinel.
    val nowhere = input.withColumn("zip3", lit("###"))
    val void = BlockingPass("void", Seq("zip3"))
    val hist = LinkageCascade.EmHistogram(void, cfg.comparisons, LinkageCascade.gammaHistogram(
      LinkageCascade.score(LinkageCascade.pairs(census, nowhere, void), cfg), cfg.comparisons))
    assert(hist.patterns.isEmpty)
    val (est, _) = LinkageCascade.emTrain(Seq(hist), cfg, iterations = 3)
    assert(est.nonEmpty)
    est.foreach { case (name, g, m) =>
      assert(!m.isNaN && m >= 0.0 && m <= 1.0, s"($name, $g) m=$m out of range")
    }
  }

  test("bloom built over an empty set rejects every probe; null keys skipped") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val none = spark.createDataFrame(Seq.empty[Tuple1[java.lang.Long]]).toDF("k")
    val filt = none
      .select(GraftFunctions.bloomBuild(org.apache.spark.sql.functions.col("k"), 1 << 10, 4).as("f"))
      .head.getAs[Array[Byte]](0)
    assert(filt.length == 4 + (1 << 10) / 8)
    val hits = (1L to 100L).toDF("k")
      .filter(GraftFunctions.bloomMightContain(
        org.apache.spark.sql.functions.lit(filt),
        org.apache.spark.sql.functions.col("k")))
      .count()
    assert(hits == 0L, "an all-zero filter must reject everything")
    // Null keys contribute nothing rather than throwing.
    val withNulls = spark.createDataFrame(
      Seq(Tuple1(java.lang.Long.valueOf(7L)), Tuple1(null.asInstanceOf[java.lang.Long]))).toDF("k")
    val f2 = withNulls
      .select(GraftFunctions.bloomBuild(org.apache.spark.sql.functions.col("k"), 1 << 10, 4).as("f"))
      .head.getAs[Array[Byte]](0)
    assert(graft.functions.BloomImpl.mightContain(f2, 7L))
  }

  test("stream-stream attribution batch twin on an empty side is empty/left-only") {
    import spark.implicits._
    val clicks = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), 5L))
      .toDF("event_id", "ts", "user_id")
    val views = clicks.filter(org.apache.spark.sql.functions.lit(false))
    val inner = graft.streaming.Sessionizer.attributeClicks(clicks, views)
    // Batch execution of the streaming plan shape: no watermark state in
    // batch mode, but the projection + condition must still evaluate.
    assert(inner.count() == 0L)
    val outer = graft.streaming.Sessionizer.attributeClicks(clicks, views, "leftOuter")
    assert(outer.count() == 1L && outer.filter(outer("view_id").isNull).count() == 1L)
  }

  test("char noise on empty and null strings is identity") {
    GraftFunctions.register(spark)
    val df = spark.createDataFrame(Seq(
      (1L, ""), (2L, null.asInstanceOf[String]), (3L, "ABC"))).toDF("k", "s")
    val out = Noise.makeTypos(
      Noise.writeWrongDigits(df, "s", "k", 1.0, 1.0, 7), "s", "k", 1.0, 1.0, 9)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L).contains(""), "empty string changed shape")
    assert(out(2L).isEmpty, "null string materialized")
    assert(out(3L).exists(_.length == 3), "length not preserved")
  }

  test("DSIR with an empty target slice still selects ~keep-rate of the pool") {
    // A fresh tenant has no curated target yet: ct = 0 in every bucket,
    // so term = log(1/(B)) - log((cr+1)/(tr+B)) — the weights degenerate
    // to (negated) pool frequency, but the threshold machinery must
    // still keep ≈ the asked fraction without NaN or empty output.
    import graft.queries.PipelineQueries
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    // The keep guarantee is relative to the SCORED pool (docs with ≥ 1
    // token), not the raw document count — keepNum = keepDen selects
    // exactly that pool, so the bound stays sound even if a fixture doc
    // has no tokens.
    val n = PipelineQueries.dsirSelect(docs, lit(false), 1, 1).count()
    val sel = PipelineQueries.dsirSelect(docs, lit(false), 1, 10).collect()
    assert(sel.nonEmpty, "empty selection on an empty target slice")
    // The floor-histogram rule keeps at least k = ceil(n/10) (crossing
    // bucket kept whole), and a spread weight distribution keeps far
    // fewer than everything.
    assert(sel.length >= (n + 9) / 10 && sel.length < n,
      s"selected ${sel.length} of $n — not a sane keep fraction")
    sel.foreach(r => assert(!r.getDouble(4).isNaN, "NaN importance weight"))
  }

  test("DSIR scores novel-vocabulary arrivals: no token drops on unseen buckets") {
    // Fit on a tiny corpus (a handful of distinct words -> few occupied
    // buckets); an arriving doc of gibberish words lands almost entirely
    // in buckets the fit never saw. The dense model still defines every
    // bucket's smoothed term, so the doc scores over ALL its tokens — an
    // inner join against a sparse model would silently drop them.
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingSelect
    val corpus = spark.range(4).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon zeta eta theta iota kappa doc"),
        col("id").cast("string")).as("text"),
      lit("en").as("lang"),
      when(col("id") < 2, "src1").otherwise("src2").as("source"))
    val (model, _) = StreamingSelect.dsirFit(corpus, col("source") === "src1", 1, 2)
    val novel = spark.range(1).select(lit(900L).as("doc_id"),
      lit((1 to 20).map(i => s"zzqx${i}novel").mkString(" ")).as("text"),
      lit("xx").as("lang"), lit("crawl").as("source"))
    val scored = PipelineQueries.dsirScore(
      PipelineQueries.dsirTokenCounts(
        PipelineQueries.dsirTokens(novel, lit(false))), model).collect()
    assert(scored.length == 1, "novel-vocabulary doc vanished from scoring")
    assert(scored.head.getLong(3) == 20,
      s"scored ${scored.head.getLong(3)} of 20 novel tokens — unseen buckets dropped")
  }

  test("DSIR streaming keep of an empty micro-batch is empty, no failure") {
    import graft.streaming.StreamingSelect
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val (model, thr) =
      StreamingSelect.dsirFit(docs, col("source") === "src1", 1, 10)
    assert(StreamingSelect.keepBatch(model, thr, docs.limit(0)).count() == 0L)
  }

  test("BPE training degrades cleanly: wordless corpus, pairless vocabulary") {
    import graft.operators.Bpe
    // No [a-z] words anywhere: the word-type table is empty, the first
    // argmax finds no pair, training early-stops with ZERO merges and
    // token accounting emits no rows (nothing to count) — no NPE, no
    // sentinel leakage.
    val wordless = spark.createDataFrame(Seq(
      (1L, "123 456 !!!"), (2L, ""))).toDF("doc_id", "text")
    val m0 = Bpe.trainMerges(wordless)
    assert(m0.isEmpty, s"trained ${m0.size} merges on a wordless corpus")
    assert(Bpe.docTokenCounts(wordless, m0).count() == 0)
    // Single-character vocabulary: words exist but no adjacent pair does,
    // so training stops at zero merges and every word counts one token
    // per character.
    val single = spark.createDataFrame(Seq((1L, "a b a"))).toDF("doc_id", "text")
    val m1 = Bpe.trainMerges(single)
    assert(m1.isEmpty, "found a pair in a single-char vocabulary")
    val r = Bpe.docTokenCounts(single, m1).collect().head
    assert(r.getLong(1) == 3 && r.getLong(2) == 3,
      s"char-fallback counts wrong: ${r.mkString(",")}")
  }

  test("q147/q148 on a tiny corpus: BM25 fixture degrades to empty, sharding exact") {
    import spark.implicits._
    // < 17 distinct words: the df-rank-17-32 query fixture selects nothing
    // — BM25 must return an EMPTY frame, not throw on the empty broadcast.
    val dir = s"target/tmp-edge-docs-${System.nanoTime()}"
    Seq(
      (1L, "tiny corpus of words", "en", "src1", 20L),
      (2L, "tiny corpus again", "en", "src1", 17L),
      (3L, "words again", "en", "src2", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val byName = graft.queries.PipelineQueries.defs.map(d => d.name -> d).toMap
    assert(byName("q147_bm25_topk").query(spark, dir).count() == 0L)
    // sharding still partitions the 3 docs exactly, one contiguous pos run
    val rows = byName("q148_shuffle_shard").query(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.map(_._3).toSet == Set(1L, 2L, 3L))
    rows.groupBy(_._1).foreach { case (_, xs) =>
      assert(xs.map(_._2).sorted.toSeq == (1 to xs.length).toSeq)
    }
  }

  test("parseName: prefix-only and single-core-token shapes (no ANSI throw)") {
    import graft.operators.Preprocess
    // Conventions pinned in both renderers: one core token -> LAST name
    // only; zero core tokens (bare prefix) -> first and last both NULL.
    // Under ANSI mode the old unguarded element_at threw on 'MR'.
    val df = spark.createDataFrame(Seq(
      Tuple1("MR"), Tuple1("MR SMITH JR"), Tuple1("SMITH"), Tuple1("MR JR"),
      Tuple1("JOHN Q SMITH JR"), Tuple1("DR JOHN SMITH"))).toDF("full_name")
    val parsed = df.select(col("full_name") +:
        Preprocess.parseName(col("full_name")).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4),
          r.getString(5))).toMap
    assert(parsed("MR") == (("MR", null, null, null, null)))
    assert(parsed("MR SMITH JR") == (("MR", null, null, "SMITH", "JR")))
    assert(parsed("SMITH") == ((null, null, null, "SMITH", null)))
    // Trailing suffix with no core token left parses as the bare last name.
    assert(parsed("MR JR") == (("MR", null, null, "JR", null)))
    assert(parsed("JOHN Q SMITH JR") == ((null, "JOHN", "Q", "SMITH", "JR")))
    assert(parsed("DR JOHN SMITH") == (("DR", "JOHN", null, "SMITH", null)))
  }

  test("temperature mix: a single-language corpus reproduces itself exactly once") {
    import graft.queries.PipelineQueries
    import spark.implicits._
    // p = 1 ⇒ w = √1 = 1 ⇒ rate = exactly 1.0: fl = 1 with a ZERO
    // remainder threshold, so every doc keeps copy 0 and never copy 1 —
    // the identity resample, with no hash-boundary wobble possible.
    val docs = Seq((1L, "en", "a b c"), (2L, "en", "d e"), (3L, "en", "f"))
      .toDF("doc_id", "lang", "text")
    val toks = PipelineQueries.mixTokens(docs)
    val rates = PipelineQueries.mixRates(toks).collect()
    assert(rates.length == 1)
    assert(rates(0).getLong(1) == 1L && rates(0).getLong(2) == 0L,
      s"single-lang rates not the identity: ${rates(0)}")
    val kept = PipelineQueries.mixKeep(toks, PipelineQueries.mixRates(toks))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(kept.sorted.toSeq == Seq((1L, 0L), (2L, 0L), (3L, 0L)),
      s"identity resample changed the corpus: ${kept.toSeq}")
  }

  test("temperature mix: 90/10 two-language corpus gets the exact sqrt rates") {
    import graft.queries.PipelineQueries
    import spark.implicits._
    // en: 90 tokens, de: 10 ⇒ w = (√.9, √.1), rates = (w/Σw)·(N/n_l)
    // = (0.8333…, 2.5): en DOWN-samples (fl 0, thr ≈ 0.8333·2^48) and
    // de UP-samples (fl 2, thr ≈ 0.5·2^48). Replays the arithmetic
    // independently in plain scala and bounds the threshold to ±1 of
    // the engine's value (double→decimal(28,12) rounding in the w
    // terms can move the product by at most an ulp).
    val docs = (
      (1 to 9).map(i => (i.toLong, "en", (1 to 10).map(j => s"w$i$j").mkString(" "))) :+
        (100L, "de", (1 to 10).map(j => s"d$j").mkString(" "))
    ).toDF("doc_id", "lang", "text")
    val rates = PipelineQueries.mixRates(PipelineQueries.mixTokens(docs))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val wEn = BigDecimal(math.sqrt(0.9)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val wDe = BigDecimal(math.sqrt(0.1)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val ws = (wEn + wDe).toDouble
    val rEn = (wEn.toDouble / ws) * (100.0 / 90.0)
    val rDe = (wDe.toDouble / ws) * (100.0 / 10.0)
    val scale = 281474976710656L // 2^48
    assert(rates("en")._1 == math.floor(rEn).toLong)
    assert(rates("de")._1 == math.floor(rDe).toLong && rates("de")._1 == 2L)
    assert(math.abs(rates("en")._2 - ((rEn - math.floor(rEn)) * scale).toLong) <= 1,
      s"en threshold off: ${rates("en")._2}")
    assert(math.abs(rates("de")._2 - ((rDe - math.floor(rDe)) * scale).toLong) <= 1,
      s"de threshold off: ${rates("de")._2}")
  }
}
