package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev harness: MEASURED scaling datapoint for BASELINE.md — runs the
  * linkage chain + the dedup/ANN family at sf0.1 and at an N×-replicated
  * copy of it (ids offset per copy, so the synthetic universes are
  * disjoint), and prints per-query seconds with the empirical scaling
  * exponent log(tN/t1)/log(N).
  *
  * The replicated tables land under target/scaledata (the driver testdata
  * dir is read-only); only the three tables the measured families read are
  * scaled (customer drives the whole linkage synthesis; documents and
  * embeddings drive the dedup families). Offsets are multiples of the base
  * count, which is a multiple of 200, so household/GQ structure is
  * preserved across copies and planted-dup id ranges (+100000) stay
  * collision-free at 10×.
  */
object ScaleBench {

  private val chainQueries: Seq[String] = Seq(
    "q13", "q14", "q15", "q16", "q17", "q18", "q19", "q20",
    "q26", "q27", "q28", "q29", "q30", "q31", "q32", "q33", "q34", "q35",
    "q36", "q37", "q38", "q39")

  /** Document-table dedup family — replicates at the full factor. */
  // q150 reads BOTH tables (lexical side over documents, semantic side
  // over embeddings); it sits in the document family because documents
  // replicate at the full factor — when the embedding cap binds (100×),
  // its printed exponent understates the semantic side and the BASELINE
  // note says so.
  private val docDedupQueries: Seq[String] = Seq(
    "q40", "q41", "q42", "q43", "q52", "q56", "q104", "q133", "q134",
    "q135", "q136", "q139", "q140", "q146", "q147", "q148", "q150",
    "q151", "q153", "q154", "q155")

  /** Embedding-table family — replication caps at the corpus/delta id
    * boundary (base ids must stay under the +100000 variant offset the
    * incremental queries' corpus/delta split is defined on), so these
    * queries' exponents are computed against the REALIZED embedding
    * factor, not the requested one.
    */
  private val embDedupQueries: Seq[String] = Seq(
    "q44", "q45", "q51", "q68", "q123", "q124", "q127", "q131", "q132",
    "q149", "q152")

  private val dedupQueries: Seq[String] = docDedupQueries ++ embDedupQueries

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    // "audit" as a trailing arg: skip the timing sweeps and run only the
    // recall/parity audit block — the fast loop for re-gating a candidate
    // -stage change at a decade without paying the full inventory.
    val auditOnly = args.drop(1).contains("audit")
    val baseDir = "/root/testdata/sf0.1"
    val outDir = s"target/scaledata/x$factor"
    // Scratch on disk: at 30x the shuffle and checkpoint blocks outgrow RAM.
    val spark = GraftSession.builder("graft-scalebench",
        "spark.local.dir" -> new java.io.File("target/scalebench-tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)

    /** Embedding replication capacity: base vec_ids must stay under the
      * +100000 corpus/delta boundary the incremental queries are defined
      * on, so the embeddings table caps at 100000/n copies (50× at the
      * sf0.1 base of 2000). The realized factor is logged and the
      * embedding-family exponents are computed against it.
      */
    // max(1, ...): a base table already past the id boundary caps at one
    // copy (no replication) instead of zero copies, which would make
    // copies.reduce throw on empty and the exponent divide by log(0).
    def embCapFactor(n: Long): Int =
      math.max(1L, math.min(factor.toLong, 100000L / n)).toInt

    def replicate(table: String, idCol: String): Int = {
      val base = spark.read.parquet(s"$baseDir/$table.parquet")
      val n = base.count()
      // Copy stride: documents mint planted-variant ids at +100000 and
      // +200000 (docsWithDups), so copy offsets must clear the variant
      // range — with the bare count, copy j's base ids collide with copy
      // i's variants once factor*n > 100000 (x30 surfaced exactly that:
      // duplicate doc_ids doubled the jaccard intersection counts and
      // zeroed the denominator). Embeddings KEEP the bare stride: the
      // incremental queries' corpus/delta boundary is the +100000 variant
      // offset itself (vec_id < 100000 = corpus), so base ids must stay
      // below it — the copy count caps at the capacity (embCapFactor),
      // NOT silently: the realized factor is logged and used for the
      // family's exponents. Customer keeps the bare count (a multiple of
      // 200, preserving household/GQ structure; its only planted offset
      // is q94's +1000000 refiling range).
      val nCopies = if (table == "embeddings") embCapFactor(n) else factor
      if (nCopies != factor)
        println(s"[scale] $table capped at ${nCopies}x (id-boundary capacity " +
          s"100000/$n); exponents for its family use the realized factor")
      val stride =
        if (table == "documents") ((n + 300000L + 199L) / 200L) * 200L
        else n
      val copies = (0 until nCopies).map { i =>
        // Embedding copies get a per-copy pseudorandom SIGN FLIP per
        // component: identical vectors across copies would otherwise be
        // genuine cos=1.0 near-dups, making the "disjoint universes"
        // replication quadratically self-similar (round-11's q51 10×
        // measurement counted 104k cross-copy phantom pairs). Flipped
        // copies have cross-copy cosine ~0, so true pair density stays
        // per-universe and the measured exponent reflects the machinery,
        // not the synthetic data's degeneracy.
        val c0 =
          if (table != "embeddings" || i == 0) base
          else base.withColumn("embedding",
            transform(col("embedding"), (x, j) =>
              when(pmod((j + 1) * lit(2 * i + 1) * 2654435761L, lit(1000003L)) % 2 === 0,
                x).otherwise(-x)))
        // Document copies get a per-copy word suffix — the text analog of
        // the embedding sign flip: identical texts across copies are
        // GENUINE near-dups (identical shingle sets → same LSH bands), so
        // bucket occupancy — and the candidate count — would grow with
        // the copy count and the measured dedup exponents would reflect
        // the synthetic corpus's degeneracy, not the machinery (x30
        // measured q41 at exponent 1.19 from exactly this). The suffix is
        // uniform within a copy, so within-copy near-dup structure (and
        // every Jaccard value) is preserved bijectively.
        val c =
          if (table != "documents" || i == 0) c0
          else c0.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"$$1_c$i"))
        c.withColumn(idCol, col(idCol) + lit(i * stride))
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      nCopies
    }
    if (!new java.io.File(s"$outDir/embeddings.parquet").isDirectory) {
      replicate("customer", "c_custkey")
      replicate("documents", "doc_id")
      replicate("embeddings", "vec_id")
      ()
    }
    // Realized embedding factor (recomputed, not captured from replicate:
    // the scaled dir may pre-exist from an earlier run).
    val embFactor: Int = embCapFactor(
      spark.read.parquet(s"$baseDir/embeddings.parquet").count())

    // Prefix match stops at the id's underscore: a bare startsWith let
    // "q13" claim q130_mafmatch into the chain family.
    def matches(name: String, ids: Seq[String]): Boolean =
      ids.exists(id => name.startsWith(id + "_"))
    val names = (chainQueries ++ dedupQueries)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => matches(name, names) }

    def timeAll(dir: String): Map[String, Double] = {
      val w0 = System.nanoTime()
      SparkEntry.warm(spark, dir)
      println(f"[scale] warm($dir): ${(System.nanoTime() - w0) / 1e9}%.1f s")
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        Bench.force(fn(spark, dir))
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[scale] $dir $name%-28s $t%7.2f s")
        name -> t
      }.toMap
    }

    val (t1, tN) =
      if (auditOnly) (Map.empty[String, Double], Map.empty[String, Double])
      else (timeAll(baseDir), timeAll(outDir))
    // Embedding-family rows scale at the REALIZED (capped) factor; their
    // exponents divide by log(embFactor) so a 50×-capped table inside a
    // 100× run is not misread as sublinear.
    def factorFor(q: String): Int =
      if (matches(q, embDedupQueries)) embFactor else factor
    if (!auditOnly) {
      println(f"%n== scaling at ${factor}x (emb family at ${embFactor}x; " +
        "exponent = log(tN/t1)/log(realized factor)) ==")
      println(f"${"query"}%-28s ${"t_1x"}%8s ${"t_Nx"}%8s ${"exp"}%6s")
      selected.map(_._1).foreach { q =>
        val a = t1(q); val b = tN(q)
        val exp = math.log(b / a) / math.log(factorFor(q).toDouble)
        println(f"$q%-28s $a%8.2f $b%8.2f $exp%6.2f")
      }
      def sum(m: Map[String, Double], qs: Seq[String]) =
        m.collect { case (k, v) if matches(k, qs) => v }.sum
      val chains = Seq(
        ("prep+linkage chain", chainQueries, factor),
        ("doc dedup family", docDedupQueries, factor),
        ("emb dedup family", embDedupQueries, embFactor))
      chains.foreach { case (label, qs, fac) =>
        val a = sum(t1, qs); val b = sum(tN, qs)
        println(f"$label%-28s $a%8.2f $b%8.2f ${math.log(b / a) / math.log(fac.toDouble)}%6.2f")
      }
    }

    import graft.operators.VectorOps
    import graft.queries.PipelineQueries
    // Pair-set parity audit at the scaled dir: the celled candidates must
    // reproduce the exact label-join pair set at 10× too, not only at the
    // spec's test SF (timing alone can hide recall loss). Fast-double
    // scoring with a 1e-6 exclusion band around the threshold keeps the
    // audit cheap; any pair comfortably above 0.9 missing from the celled
    // output is a genuine candidate-stage miss.
    def parityAudit(dir: String): Unit = {
      val e = PipelineQueries.embWithDups(spark, dir)
        .withColumn("nrm", VectorOps.norm(col("embedding"))).cache()
      val celled = SparkEntry.queries("q51_embedding_dedup")(spark, dir)
        .select("vec_a", "vec_b")
      val ea = e.select(col("label"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val eb = e.select(col("label"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val exact = ea.join(eb, Seq("label")).filter(col("vec_a") < col("vec_b"))
        .withColumn("cos",
          VectorOps.dotFast(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.9 + 1e-6)
        .select("vec_a", "vec_b")
      val missed = exact.except(celled).count()
      val total = exact.count()
      println(s"[scale] q51 parity audit $dir: exact(>=0.9+1e-6)=$total " +
        s"missedByCelled=$missed")
      e.unpersist()
      assert(missed == 0, s"celled q51 lost $missed pairs at $dir")
    }
    parityAudit(outDir)

    // Text-family planted-pair recall audits (the embedding family's
    // 0-loss idiom generalized to q41/q42/q102): a banding or bucket-
    // scheme regression must FAIL the harness at every measured decade,
    // not just slow it down. All three assertions are guarantees, not
    // probabilistic recall: q42's chunk-group scheme detects every
    // hamming<=3 pair by pigeonhole; q41's planted exact copies have
    // identical minhash signatures, so every band key matches; q102's
    // exact copies duplicate every 10-word chunk.
    def textAudits(dir: String): Unit = {
      import graft.queries.PipelineQueries
      val sig = PipelineQueries.simhashSigs(spark, dir).cache()
      val sa = sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val expected = Seq(100000L, 200000L).map { off =>
        sa.join(
            sig.select((col("doc_id") - off).as("doc_a"), col("sig").as("sig_b")),
            Seq("doc_a"))
          .select(col("doc_a"), (col("doc_a") + off).as("doc_b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      }.reduce(_ unionByName _)
        .filter(col("hamming") <= 3).select("doc_a", "doc_b").cache()
      val nExp = expected.count()
      val q42 = SparkEntry.queries("q42_simhash")(spark, dir).select("doc_a", "doc_b")
      val missed42 = expected.except(q42).count()
      println(s"[scale] q42 recall audit $dir: plantedHamming<=3=$nExp missed=$missed42")
      assert(missed42 == 0, s"q42 lost $missed42 planted hamming<=3 pairs at $dir")
      expected.unpersist(); sig.unpersist()

      val exp41 = spark.read.parquet(s"$dir/documents.parquet")
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 200000L).as("doc_b"))
      val q41 = SparkEntry.queries("q41_minhash_lsh")(spark, dir).select("doc_a", "doc_b")
      val missed41 = exp41.except(q41).count()
      println(s"[scale] q41 recall audit $dir: plantedExactCopies=${exp41.count()} " +
        s"missed=$missed41")
      assert(missed41 == 0, s"q41 lost $missed41 planted exact-copy pairs at $dir")

      val q102 = SparkEntry.queries("q102_line_dedup")(spark, dir)
      val bad102 = q102
        .join(exp41.select(col("doc_b").as("doc_id")), Seq("doc_id"))
        .filter(col("n_boiler") =!= col("n_chunks")).count()
      println(s"[scale] q102 recall audit $dir: exactCopyDocsNotFullyBoiler=$bad102")
      assert(bad102 == 0, s"q102: $bad102 exact-copy docs kept non-boiler chunks at $dir")
    }
    textAudits(outDir)

    // Retrieval-recall audits (round-16 verdict): the dedup family's
    // zero-loss audits don't reach RETRIEVAL, whose recall < 100% is
    // inherent — so the gate is an OBSERVED floor at every measured
    // decade, not zero loss. q152 measures the compound IVF-PQ stack
    // (derived-probe cells -> ADC shortlist -> full-precision rerank)
    // against the brute-force truth; the RRF check re-fuses the SAME
    // lexical side with a brute-force semantic side and measures the
    // fused-top-10 overlap the probed candidate stage costs. The floors
    // are pinned just under the measured values at 30x/100x (BASELINE
    // r17 datapoints) so a probe-rule regression FAILS the harness.
    def retrievalAudits(dir: String): Unit = {
      import org.apache.spark.sql.expressions.Window
      // q152: compound IVF-PQ recall@5 vs brute truth (the production
      // eval, both engines' plan). The synthetic corpus is retrieval's
      // STRUCTURELESS worst case — vectors are near-random, so a true
      // neighbor's home cell is ~uniform over the k cells and the
      // candidate-stage ceiling decays like probes/k at every decade
      // (measured: ceiling 0.40 at 1x/k=16/p=3, 0.175 at 30x/k=469/p=7;
      // real embedding corpora cluster, which is the property IVF
      // exists to exploit). The audit therefore gates BOTH an absolute
      // floor and the recall/ceiling RATIO — what the ADC shortlist +
      // rerank lose of what the probed candidates admit, the part that
      // is machinery, not data.
      val rec = SparkEntry.queries("q152_pq_recall")(spark, dir)
      val meanRec = rec.agg(avg(col("recall_at_5"))).head().getDouble(0)
      val qids = PipelineQueries.KnnQueryIds
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", VectorOps.norm(col("embedding")))
        .withColumn("label", lit("x")).cache()
      val q = e.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val byQ = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val truth = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos",
          VectorOps.dotFast(col("embedding"), col("qe")) / (col("nrm") * col("qn")))
        .withColumn("rnk", row_number().over(byQ))
        .filter(col("rnk") <= 5).select("qid", "vec_id").cache()
      val cents = PipelineQueries.ivfCentroids(e).cache()
      val k = cents.count()
      val pDer = PipelineQueries.derivedProbesFor(k)
      // The candidate ceiling derives from the PRODUCTION assignment
      // (flat below LadderK, trained ladder above) — the exact frame
      // the retrieval queries probe — so the gate measures the
      // geometry the queries run, whichever arm the scale point
      // selects (the round-17 audit hard-wired the flat arm, which
      // would have silently mis-measured the ladder decades).
      val ranked = PipelineQueries
        .productionAssignmentsRanked(e, cents).cache()
      val home = ranked.filter(col("arnk") === 1)
      val qpr = ranked
        .filter(col("vec_id").isin(qids: _*) &&
          col("arnk") <= col("probes"))
        .select(col("vec_id").as("qid"), col("cid"))
      val cand = home.select("vec_id", "cid").join(qpr, Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .select("qid", "vec_id").distinct()
      val ceiling = truth.join(cand, Seq("qid", "vec_id")).count() /
        (qids.size * 5.0)
      val ratio = if (ceiling > 0) meanRec / ceiling else 1.0
      println(f"[scale] q152 recall@5 audit $dir: mean=$meanRec%.4f " +
        f"ceiling=$ceiling%.4f ratio=$ratio%.4f (k=$k p=$pDer)")
      assert(meanRec >= 0.08,
        f"q152 mean recall@5 $meanRec%.4f below the 0.08 absolute floor at $dir")
      assert(ratio >= 0.80,
        f"q152 recall/ceiling ratio $ratio%.4f below the 0.80 floor at $dir " +
          "(the PQ stack is losing candidates the probes admitted)")
      truth.unpersist(); ranked.unpersist(); cents.unpersist(); e.unpersist()
      // q150: fused-top-10 overlap between the production hybrid (probed
      // semantic side) and the same fusion with a brute-force semantic
      // side — the fused-list cost of the semantic approximation (the
      // exact lexical side anchors the fusion).
      val fused = SparkEntry.queries("q150_hybrid_rrf")(spark, dir)
        .select("qid", "doc_id")
      val exactF = PipelineQueries.hybridRrfTop(spark, dir, bruteSem = true)
        .select("qid", "doc_id").cache()
      val nExactF = exactF.count()
      val nOverlap = fused.intersect(exactF).count()
      val frac = nOverlap.toDouble / nExactF
      println(f"[scale] q150 RRF overlap audit $dir: " +
        f"$nOverlap/$nExactF = $frac%.4f")
      exactF.unpersist()
      assert(frac >= 0.50,
        f"q150 fused-top-10 overlap $frac%.4f below the 0.50 floor at $dir")
    }
    retrievalAudits(baseDir)
    retrievalAudits(outDir)

    // q155 planted image near-dup recall: corner-artifact variants and
    // exact copies are planted by the query's own imageRecordsWithDups;
    // the audit computes every planted pair's TRUE hamming from the
    // signatures and asserts q155 reports every hamming<=3 pair — the
    // chunk-group pigeonhole guarantee, not probabilistic recall.
    def imageAudits(dir: String): Unit = {
      // q155's contract is star edges (member -> class rep) + one edge
      // per near-dup REPRESENTATIVE pair; a planted hamming<=3 pair
      // (a, b) must therefore be CONNECTED through a—rep(a)—rep(b)—b.
      // Asserted exactly: (1) every non-rep member's star edge exists,
      // (2) every planted pair's rep pair exists (or the two docs share
      // a rep). Zero loss — the chunk-group pigeonhole guarantee over
      // distinct signatures.
      val sig = PipelineQueries.imageDhashSigs(spark, dir).cache()
      val reps = sig.groupBy("sig").agg(min("doc_id").as("rep"))
      val docRep = sig.join(reps, Seq("sig")).select("doc_id", "rep").cache()
      val got = SparkEntry.queries("q155_image_dhash")(spark, dir)
        .select("doc_a", "doc_b").cache()
      val starsMissing = docRep.filter(col("doc_id") =!= col("rep"))
        .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
        .except(got).count()
      val sa = sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val expected = Seq(200000L, 300000L).map { off =>
        sa.join(
            sig.select((col("doc_id") - off).as("doc_a"), col("sig").as("sig_b")),
            Seq("doc_a"))
          .select(col("doc_a"), (col("doc_a") + off).as("doc_b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      }.reduce(_ unionByName _)
        .filter(col("hamming") <= 3).select("doc_a", "doc_b").cache()
      val nExp = expected.count()
      val expReps = expected
        .join(docRep.select(col("doc_id").as("doc_a"), col("rep").as("rep_a")), Seq("doc_a"))
        .join(docRep.select(col("doc_id").as("doc_b"), col("rep").as("rep_b")), Seq("doc_b"))
        .filter(col("rep_a") =!= col("rep_b"))
        .select(least(col("rep_a"), col("rep_b")).as("doc_a"),
          greatest(col("rep_a"), col("rep_b")).as("doc_b"))
        .distinct()
      val missedReps = expReps.except(got).count()
      println(s"[scale] q155 image recall audit $dir: plantedHamming<=3=$nExp " +
        s"starsMissing=$starsMissing missedRepPairs=$missedReps")
      assert(starsMissing == 0, s"q155 missing $starsMissing star edges at $dir")
      assert(missedReps == 0,
        s"q155 lost $missedReps planted rep pairs at $dir")
      expected.unpersist(); docRep.unpersist(); got.unpersist(); sig.unpersist()
    }
    imageAudits(outDir)

    // Production-merge BPE measurement (10× runs only, so the 30×/100×
    // exponent runs aren't charged for it): train 1024 merges on the
    // scaled corpus and report wall-clock.
    if (!auditOnly && factor == 10) {
      import graft.operators.Bpe
      val scaledDocs = spark.read.parquet(s"$outDir/documents.parquet")
        .select("doc_id", "text")
      // The bench corpus is synthetic with a ~200-word vocabulary whose
      // BPE pair space exhausts at 89 merges (measured — the trainer
      // early-stops; the ×10 copy suffixes add digits, not [a-z] word
      // types). Production merge counts need production vocabulary
      // DIVERSITY, so the measured corpus is the 10× docs PLUS a
      // deterministic 100k-word-type tail (base-26 id renderings, 50
      // types per doc) — the vocabulary-bounded merge loop then runs at
      // its real production cost shape: the driver-side merge loop runs
      // over ~100k word types, the corpus rows are touched only by type
      // extraction.
      val vocabTail = spark.range(2000).select(
        (col("id") + 10000000L).as("doc_id"),
        concat_ws(" ", (0 until 50).map { j =>
          val w = translate(lower(conv((col("id") * 50 + j + 500000).cast("string"),
            10, 26)), "0123456789", "qrstuvwxyz")
          concat(w, w)
        }: _*).as("text"))
      val bpeDocs = scaledDocs.unionByName(vocabTail)
      val t0 = System.nanoTime()
      val merges = Bpe.trainMerges(bpeDocs, m = 1024)
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[scale] bpe 1024-merge training at 10x (+100k-type vocab tail): " +
        f"merges=${merges.size} $t%.1f s")
    }

    // Recall audit of the adopted trained two-level assignment at the
    // scaled dir: its candidate pairs against the exact set, plus the
    // candidate stage's wall time.
    def assignSec(dir: String): Unit = {
      val e = PipelineQueries.embWithDups(spark, dir)
        .withColumn("nrm", VectorOps.norm(col("embedding"))).cache()
      e.count()
      val fine = PipelineQueries.ivfCentroids(e).cache()
      fine.count()
      def candPairs(assign: DataFrame): DataFrame =
        assign.as("a").join(assign.as("b"),
            col("a.label") === col("b.label") && col("a.cid") === col("b.cid") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
          .distinct()
      val ea = e.select(col("label"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val eb = e.select(col("label"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val exact = ea.join(eb, Seq("label")).filter(col("vec_a") < col("vec_b"))
        .withColumn("cos",
          VectorOps.dotFast(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.9 + 1e-6)
        .select("vec_a", "vec_b").cache()
      val nExact = exact.count()
      // Trained-ladder probes from the realized counts — the PINNED
      // derived rule (PipelineQueries.trainedCellAssignmentsDerived):
      // kc = ceil(√(3k)), cp = max(3, ceil(kc/5)) (the binding recall
      // knob — measured at 30×: cp4/6/8-fp8 miss 6/2/0), fine probes =
      // the flat derived-probe rule. The ladder is DETERMINISTIC
      // (round-15 audit: two 30× sessions reproduce candidates and
      // misses bitwise — kmeans means are decimal sums, assignment
      // tiebreaks on ids), so auditing this arm every run re-gates the
      // derived rule at each new scale point rather than sampling a
      // jitter distribution.
      val k = fine.count()
      val (_, cp, fp) = PipelineQueries.ladderParamsFor(k)
      val t0 = System.nanoTime()
      val cand = candPairs(PipelineQueries.trainedCellAssignmentsDerived(e, fine)).cache()
      val n = cand.count()
      val t = (System.nanoTime() - t0) / 1e9
      val missed = exact.except(cand).count()
      println(f"[scale] assign $dir trained-cp$cp-fp$fp candidates=$n%8d " +
        f"missed=$missed%3d / $nExact $t%6.2f s")
      cand.unpersist(); exact.unpersist(); fine.unpersist(); e.unpersist()
    }
    if (!auditOnly) {
      println(s"\n== trained two-level assignment (candidate stage only) ==")
      assignSec(baseDir)
      assignSec(outDir)
    }
    spark.stop()
  }
}
