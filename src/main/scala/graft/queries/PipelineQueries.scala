package graft.queries

import graft.{Memo, QueryDef, Tables}
import graft.operators.{Multimodal, TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.E — LLM training-data pipeline operators over `documents` and
  * `embeddings`. Near-duplicates don't occur naturally in the synthetic
  * corpus, so the dedup family runs over deterministic augmented views
  * (exact copies + drop-first-word text variants + zero-first-component
  * embedding variants) built identically in Spark and the DuckDB oracle.
  *
  * Scale design: every dedup/AAN path is bucketed (LSH bands, simhash
  * chunks, label blocks, hyperplane buckets) so candidate generation is an
  * equi-join, never a cross join; the only cross join is KNN against a
  * broadcast query set, which is the intended brute-force baseline.
  */
object PipelineQueries {

  /** q127's benchmark/eval-set size cap — shared by the Spark plan and the
    * DuckDB oracle so the two engines can never silently desynchronize on
    * the planted-leak fixture arithmetic.
    */
  private[graft] val Q127BenchCap = 16L

  // ---- augmented views (Spark + CTE in lockstep) -------------------------

  /** documents ∪ near-dup variants (doc_id+100000, first word dropped, for
    * doc_id%10==0) ∪ exact copies (doc_id+200000, for doc_id%7==0).
    */
  def docsWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang", "source", "n_chars")
    val near = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(
        (col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val exact = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    docs.unionByName(near).unionByName(exact)
  }

  val docs2Cte: String =
    """docs2 AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, substr(text, strpos(text, ' ') + 1), lang, source,
      |         CAST(length(substr(text, strpos(text, ' ') + 1)) AS BIGINT)
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** q42 SimHash candidate scheme: the 60-bit signature splits into 6
    * chunks of 10 bits, and candidate buckets join on GROUPS of g chunks
    * (g-subset concatenated keys — C(6,g) tables of 10·g-bit keys). g
    * DERIVES FROM THE CORPUS COUNT — smallest g in 1..3 with 2^(10g) ≥ n
    * — so expected bucket occupancy n/2^(10g) stays ≤ 1 and candidate
    * pairs stay ~C(6,g)·n at every decade (the fixed 4×15-bit scheme
    * this replaces had a 2^15 keyspace at EVERY n: n²/2^14 expected
    * pairs at web scale). Pigeonhole guarantee: hamming ≤ 3 corrupts at
    * most 3 of the 6 chunks, leaving ≥ 3 intact, so at least one
    * all-intact g-subset exists for every g ≤ 3 — EVERY hamming-≤3 pair
    * shares a bucket in some table. Past n = 2^30 the rule would want
    * g = 4, which breaks the guarantee: that is the 60-bit signature's
    * capacity bound (widen the signature Manku-style, not g).
    *
    * Each entry is (g, table id, chunk indices); the table ids are
    * g-offset (0 / 100 / 1000) so keys never collide across group sizes.
    * Both engines render their key arithmetic from THIS list.
    */
  private[graft] val simhashCombos: Seq[(Int, Int, Seq[Int])] =
    for { g <- 1 to 3; comb <- (0 until 6).combinations(g).toSeq }
      yield (g, Seq(0, 100, 1000)(g - 1) + comb.foldLeft(0)(_ * 6 + _), comb)

  /** Signature-scheme selector — the DOCUMENTED GROWTH PATH past the
    * 60-bit scheme's capacity bound. The derived-g rule needs
    * 2^(chunkBits·g) ≥ n with g ≤ 3 (pigeonhole: 6 chunks, hamming ≤ 3
    * corrupts at most 3); at 10-bit chunks that caps at n = 2^30.
    * Past it the scheme widens the CHUNKS, not g (Manku et al. 2007's
    * move: bigger blocks as the corpus grows, same block-combination
    * table geometry): a 120-bit signature in 6 chunks of 20 bits keeps
    * the identical C(6,g) tables and pigeonhole guarantee while the
    * derived-g capacity extends to 2^60 rows. Selection is pure
    * integer arithmetic on the corpus count — spec-pinned at synthetic
    * counts (PipelineQueriesSpec).
    */
  final case class SimScheme(sigBits: Int, chunkBits: Int, g: Int, tables: Int)

  def simhashSchemeFor(n: Long): SimScheme = {
    val chunkBits = if (n <= (1L << 30)) 10 else 20
    val g = (1 to 3).find(g => BigInt(2).pow(chunkBits * g) >= BigInt(n))
      .getOrElse(3)
    SimScheme(6 * chunkBits, chunkBits, g, Seq(6, 15, 20)(g - 1))
  }

  /** 120-bit SimHash signatures (doc_id, sig_hi, sig_lo) — the widened
    * variant [[simhashSchemeFor]] selects past n = 2^30. Each word
    * contributes three md5 folds (hex 1-12, 13-24, and a second md5 at
    * salt ':w2' for the high 24+48 bits); each 60-bit half packs three
    * 20-bit chunks, so both packed longs stay positive (the cross-engine
    * `%`/`>>`/`&` agreement the 60-bit scheme relies on).
    */
  private[graft] def simhashSigsWide(s: SparkSession, d: String): DataFrame = {
    val h = fanOut(docsWithDups(s, d))
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
      .select(col("doc_id"), md5(col("word")).as("mh"),
        md5(concat(col("word"), lit(":w2"))).as("mh2"))
      .select(col("doc_id"),
        TextOps.md5Fold48(col("mh"), 1).as("h1"),
        TextOps.md5Fold48(col("mh"), 13).as("h2"),
        TextOps.md5Fold48(col("mh2"), 1).as("h3"))
    val bitAggs = (0 until 120).map { j =>
      val (src, sh) =
        if (j < 48) (col("h1"), j)
        else if (j < 96) (col("h2"), j - 48)
        else (col("h3"), j - 96)
      sum(when(pmod(shiftrightunsigned(src, sh), lit(2L)) === 1L, 1L).otherwise(-1L))
        .as(s"b$j")
    }
    def pack(lo: Int): Column =
      (0 until 60).map(j =>
        when(col(s"b${lo + j}") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ bitwiseOR _)
    h.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), pack(60).as("sig_hi"), pack(0).as("sig_lo"))
      .localCheckpoint()
  }

  /** [[hamming3Pairs]] for the widened 120-bit/20-bit-chunk scheme: the
    * SAME [[simhashCombos]] subset tables (6 chunks, derived g), chunk c
    * read from the packed half that holds it, keys folded at 2^20 per
    * chunk (g = 3 keys are 60 bits — still positive), verified by the
    * two-word Hamming distance. The g selector reads the corpus count
    * against the widened capacity (2^(20g)).
    */
  private[graft] def hamming3PairsWide(sig: DataFrame): DataFrame = {
    def chunk(c: Int): Column = {
      val (src, off) = if (c < 3) (col("sig_lo"), c * 20) else (col("sig_hi"), (c - 3) * 20)
      pmod(shiftrightunsigned(src, off), lit(1L << 20))
    }
    val params = sig.agg(count(lit(1)).as("n")).select(
      when(col("n") <= lit(1L << 20), 1)
        .when(col("n") <= lit(1L << 40), 2).otherwise(3).as("g"))
    val comboArr = array(simhashCombos.map { case (g, tbl, comb) =>
      struct(lit(g).as("gg"), lit(tbl).as("tbl"),
        comb.foldLeft(lit(0L)) { (acc, c) => acc * (1L << 20) + chunk(c) }.as("k"))
    }: _*)
    val keys = sig.crossJoin(broadcast(params))
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"),
        explode(filter(comboArr, cc => cc.getField("gg") === col("g"))).as("ck"))
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"),
        col("ck.tbl").as("tbl"), col("ck.k").as("k"))
    val ok = keys.groupBy("tbl", "k").agg(count(lit(1)).as("nd"))
      .filter(col("nd") <= SimHubCap).select("tbl", "k")
    val kk = keys.join(ok, Seq("tbl", "k"))
    kk.as("a").join(kk.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.k") === col("b.k") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.sig_hi").bitwiseXOR(col("b.sig_hi"))) +
          bit_count(col("a.sig_lo").bitwiseXOR(col("b.sig_lo")))).cast("int")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Bucket-occupancy cap for SimHash candidate buckets — q134's
    * WinnowHubCap rationale: a bucket shared by more docs than this is
    * template/boilerplate mass whose pairs grow quadratically in hub
    * size, not near-duplication. Far above any test-SF occupancy, so the
    * oracle mirror keeps hashes exact.
    */
  private[graft] val SimHubCap = 1000L

  /** q146 sliding-window chunking: window width / stride in words
    * (overlap = ChunkW − ChunkStride). Demo-scale constants — production
    * token budgets (2048/1536) change the values, not the plan shape.
    */
  private[graft] val ChunkW = 32
  private[graft] val ChunkStride = 24

  /** q147 BM25: result depth and the salt-bucket fan of the two-level
    * top-k (level 1 keeps ≤ Bm25SaltB·Bm25TopK rows per query inside
    * (query, doc_id % Bm25SaltB) buckets; level 2 ranks those). SaltB is
    * demo-scale — production sizes it ~ parallelism so level-2 input
    * stays O(SaltB·k) per query regardless of posting-list length.
    */
  private[graft] val Bm25TopK = 5
  private[graft] val Bm25SaltB = 8

  /** q148 shard fan-out — demo-scale; production uses the target output
    * file count (corpus bytes / file size), same plan shape.
    */
  private[graft] val ShuffleShards = 16L

  /** q149 product quantization: M subspaces × SubDim dims (M·SubDim =
    * VectorOps.Dim) with K codewords per subspace. K is a COMPRESSION
    * knob, not an occupancy knob — it fixes code width (log₂K bits per
    * subspace) and reconstruction error, and does NOT need to grow with
    * the corpus (encode cost is n·K·M·SubDim, ADC cost n·M lookups per
    * query — both linear in n at any K). Demo K = 8; production uses 256
    * (1 byte/subspace, the FAISS PQ8 shape) — the values change, the
    * plan doesn't. Candidate generation still derives from the corpus:
    * q149 searches the q68 derived-probe IVF cells (IVF-PQ), so PQ
    * compresses the candidate stage the way SQ8 does in q131 — 64
    * float32 (256 bytes) → 8 3-bit codes here (~85× smaller); at
    * production widths (M=8, K=256) the code is 8 bytes, 32× smaller.
    */
  private[graft] val PqM = 8
  private[graft] val PqSubDim = VectorOps.Dim / PqM
  private[graft] val PqK = 8

  /** q149 ADC shortlist budget PER DERIVED PROBE: the rerank shortlist
    * is PqShortPerProbe × the realized probe count (8·topk·probes), so
    * it covers a STABLE fraction of the ~occupancy×probes candidate
    * volume at every decade — a fixed shortlist covers a shrinking
    * fraction as probes grow with k and recall decays with scale
    * (measured: shortlist-8 kept 16% of what the candidates admit at
    * 1×, 14% at 30×; 40·probes keeps 87.5% / 92.9%).
    */
  private[graft] val PqShortPerProbe = 40

  /** q150 hybrid retrieval: fused result depth, per-list rank depth and
    * the RRF smoothing constant (Cormack et al. 2009's k = 60).
    */
  private[graft] val RrfDepth = 10
  private[graft] val RrfC = 60
  private[graft] val RrfQTerms = 3

  /** q154 count-min sketch geometry: CmRows independent hash rows ×
    * CmBuckets buckets. The sketch is O(rows·buckets) REGARDLESS of
    * corpus size — the point of the op: heavy-hitter counts at 100 TB
    * without carrying the vocabulary. Error bound: overestimate only,
    * ≤ corpus_tokens·e/buckets with prob 1−e^−rows (Cormode &
    * Muthukrishnan 2005). Demo geometry 4×1024; production widens
    * buckets, same plan.
    */
  private[graft] val CmRows = 4
  private[graft] val CmBuckets = 1024L
  private[graft] val CmTopK = 20

  /** q151 temperature resampling: τ = 2 — sampled language weight
    * w_l ∝ p_l^(1/τ) = √p_l. τ = 2 keeps the power a SINGLE sqrt, which
    * is correctly rounded (IEEE) in both engines, so the per-language
    * rates reproduce bit-identically cross-engine with no pow() parity
    * risk. Production τ values route through the same plan with pow().
    */
  private[graft] val MixFracScale = 281474976710656L // 2^48

  // ---- q147 BM25 builders (shared with StreamingSelect.bm25ScoreBatch) --

  /** Per-doc term frequencies + doc lengths: (tf(doc_id, word, tf),
    * dl(doc_id, dl)). One scan + one map-side-combined aggregate.
    */
  private[graft] def bm25DocTf(docs: DataFrame): (DataFrame, DataFrame) = {
    val w = docs.select(col("doc_id"), TextOps.words(col("text")).as("w"))
    val dl = w.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val tf = w.select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    (tf, dl)
  }

  /** The corpus POSTINGS (tf, dl) memoized per (session, dir) — the
    * inverted index a lexical-retrieval deployment persists. q147 and
    * q150 each consumed the token explode + aggregate several times per
    * invocation (tf for scoring + tf again for document frequencies, dl
    * for scoring + dl again for corpus stats) before the memo. Built in
    * the warm phase as the `bm25_postings` step. Streaming arrivals keep
    * using [[bm25DocTf]] directly (per-batch postings are not corpus
    * state).
    */
  private[graft] val bm25Postings = Memo[(DataFrame, DataFrame)]("bm25_postings",
      p => Seq(p._1, p._2)) { (s, d) =>
    val (tf, dl) = bm25DocTf(Tables.documents(s, d))
    (Memo.materialize(tf.cache()), Memo.materialize(dl.cache()))
  }

  /** Fit the BM25 corpus artifacts: the (query_id, word, df) standing
    * query set (fixture: df ranks 17-32 paired into 8 two-term queries —
    * production supplies a literal term list joined with df the same
    * way) and the 1-row (n, avgdl) stats frame. Both are broadcast-sized
    * at any corpus scale. The rank fixture plans TakeOrderedAndProject
    * (distributed partial top-k) — the global window then ranks a
    * 32-ROW frame, never the vocabulary.
    */
  private[graft] def bm25Fit(docs: DataFrame): (DataFrame, DataFrame) = {
    val (tf, dl) = bm25DocTf(docs)
    bm25FitFrom(tf, dl)
  }

  /** [[bm25Fit]] over already-built postings (the memo path — no second
    * token explode).
    */
  private[graft] def bm25FitFrom(tf: DataFrame, dl: DataFrame): (DataFrame, DataFrame) = {
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val qt = df.orderBy(col("df").desc, col("word").asc).limit(32)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("df").desc, col("word").asc)))
      .filter(col("rn") >= 17)
      .select(floor((col("rn") - 17) / 2).cast("long").as("query_id"),
        col("word"), col("df"))
    (qt, stats)
  }

  /** BM25 scores (k1 = 1.2, b = 0.75) of the given postings against the
    * fitted query set + stats: (query_id, doc_id, score), rounded to 6 dp
    * BEFORE any ranking so the cross-engine order is pinned. A doc's
    * score depends only on its own (tf, dl) plus the broadcast
    * artifacts, so per-batch scoring is batch-independent (the property
    * the streaming parity spec pins).
    */
  private[graft] def bm25Score(tf: DataFrame, dl: DataFrame,
      qt: DataFrame, stats: DataFrame): DataFrame =
    tf.join(broadcast(qt), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("c"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("c"), 6).as("score"))

  /** Candidate generation + exact verify for ANY 60-bit signature frame
    * (doc_id, sig): chunk-GROUP buckets ([[simhashCombos]] — 6×10-bit
    * chunks, group size g derived from the corpus count IN-PLAN via the
    * ivfCentroids broadcast-params idiom), hub-capped ([[SimHubCap]]),
    * self-joined on bucket keys and verified by Hamming distance
    * (bit_count of xor, <= 3 — the pigeonhole guarantee's bound).
    * Shared by q42 (text SimHash) and q155 (image dHash) so the two
    * near-dup families ride one audited scheme. Output
    * (doc_a, doc_b, hamming).
    */
  private[graft] def hamming3Pairs(sig: DataFrame): DataFrame = {
    val params = sig.agg(count(lit(1)).as("n")).select(
      when(col("n") <= lit(1L << 10), 1)
        .when(col("n") <= lit(1L << 20), 2).otherwise(3).as("g"))
    val comboArr = array(simhashCombos.map { case (g, tbl, comb) =>
      struct(lit(g).as("gg"), lit(tbl).as("tbl"),
        comb.foldLeft(lit(0L)) { (acc, c) =>
          acc * 1024L + pmod(shiftrightunsigned(col("sig"), c * 10), lit(1024L))
        }.as("k"))
    }: _*)
    val keys = sig.crossJoin(broadcast(params))
      .select(col("doc_id"), col("sig"),
        explode(filter(comboArr, cc => cc.getField("gg") === col("g"))).as("ck"))
      .select(col("doc_id"), col("sig"),
        col("ck.tbl").as("tbl"), col("ck.k").as("k"))
    // Hub cap (q134's idiom): a bucket shared by > SimHubCap docs is
    // boilerplate mass — drop it before the quadratic-in-occupancy
    // self-join. (doc, tbl) pairs are unique, so COUNT(*) = doc count.
    val ok = keys.groupBy("tbl", "k").agg(count(lit(1)).as("nd"))
      .filter(col("nd") <= SimHubCap).select("tbl", "k")
    // Materialized: the self-join reads kk on BOTH sides, and each side
    // re-derived the key explode + the hub-cap join without the barrier.
    // The persisted hub-filtered key index is also the structure a
    // deployment serves probes from.
    val kk = keys.join(ok, Seq("tbl", "k")).localCheckpoint()
    kk.as("a").join(kk.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.k") === col("b.k") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** SQL mirror of [[hamming3Pairs]]'s candidate CTEs over a signature
    * relation `sigRel(doc_id, sig)` — gsel/combos/keys/hub/kk, ending in
    * `kk`; pair with [[hamming3SelectSql]]. The combo VALUES rows render
    * from the SAME [[simhashCombos]] list the Spark side explodes, so
    * the schemes cannot drift.
    */
  private[graft] def hamming3PairsSql(sigRel: String): String = {
    val comboValues = simhashCombos.map { case (g, tbl, comb) =>
      val cs = comb.padTo(3, 0)
      s"($g, $tbl, ${cs(0)}, ${cs(1)}, ${cs(2)})"
    }.mkString(",\n    ")
    def chv(c: String) = s"((s.sig >> ($c * 10)) & 1023)"
    s"""gsel AS (
       |  SELECT CASE WHEN COUNT(*) <= ${1L << 10} THEN 1
       |              WHEN COUNT(*) <= ${1L << 20} THEN 2 ELSE 3 END AS g
       |  FROM $sigRel),
       |combos(gg, tbl, c1, c2, c3) AS (
       |  SELECT * FROM (VALUES
       |    $comboValues) v),
       |keys AS (
       |  SELECT s.doc_id, s.sig, m.tbl,
       |         CASE WHEN m.gg = 1 THEN ${chv("m.c1")}
       |              WHEN m.gg = 2 THEN ${chv("m.c1")} * 1024 + ${chv("m.c2")}
       |              ELSE (${chv("m.c1")} * 1024 + ${chv("m.c2")}) * 1024 + ${chv("m.c3")}
       |         END AS k
       |  FROM $sigRel s, combos m, gsel WHERE m.gg = gsel.g),
       |hub AS (SELECT tbl, k FROM keys GROUP BY tbl, k HAVING COUNT(*) <= $SimHubCap),
       |kk AS (SELECT ky.doc_id, ky.sig, ky.tbl, ky.k FROM keys ky JOIN hub USING (tbl, k))""".stripMargin
  }

  /** Final SELECT over [[hamming3PairsSql]]'s `kk` CTE. */
  private[graft] val hamming3SelectSql: String =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
      |FROM kk a JOIN kk b ON a.tbl = b.tbl AND a.k = b.k AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin

  /** Class-collapsed variant of [[hamming3Pairs]] for signature spaces
    * with POPULAR identical signatures (q155's images: ~1/16 of docs are
    * single-pixel payloads whose dHash is 0): identical-signature docs
    * form exact-dup CLASSES found by hash-groupBy (the q40 shape), the
    * output carries one STAR edge per member to its class representative
    * (min doc_id) plus one edge per near-dup REPRESENTATIVE pair, and
    * the chunk-group banding runs over DISTINCT signatures only.
    * Feeding the raw doc rows through [[hamming3Pairs]] instead floods
    * the popular signatures' buckets past the hub cap and loses their
    * pairs (measured at 30×: 6832 planted image pairs lost to the sig-0
    * hub), and its all-pairs output is quadratic in class size. Here
    * bucket occupancy counts distinct SIGNATURES (true boilerplate
    * diversity — what the cap exists for), the output is linear
    * (members + signature pairs), and connectivity is preserved: two
    * docs with hamming ≤ 3 are joined through their stars and the
    * rep-rep edge, so downstream clustering (the q52 CC shape) sees the
    * same components. Output (doc_a, doc_b, hamming); stars are
    * hamming 0 by construction.
    */
  private[graft] def hammingClassPairs(sig: DataFrame): DataFrame = {
    val reps = sig.groupBy("sig").agg(min("doc_id").as("rep"))
      .localCheckpoint()
    val stars = sig.join(reps, Seq("sig"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0).cast("int").as("hamming"))
    val params = reps.agg(count(lit(1)).as("n")).select(
      when(col("n") <= lit(1L << 10), 1)
        .when(col("n") <= lit(1L << 20), 2).otherwise(3).as("g"))
    val comboArr = array(simhashCombos.map { case (g, tbl, comb) =>
      struct(lit(g).as("gg"), lit(tbl).as("tbl"),
        comb.foldLeft(lit(0L)) { (acc, c) =>
          acc * 1024L + pmod(shiftrightunsigned(col("sig"), c * 10), lit(1024L))
        }.as("k"))
    }: _*)
    val keys = reps.crossJoin(broadcast(params))
      .select(col("sig"), col("rep"),
        explode(filter(comboArr, cc => cc.getField("gg") === col("g"))).as("ck"))
      .select(col("sig"), col("rep"),
        col("ck.tbl").as("tbl"), col("ck.k").as("k"))
    val ok = keys.groupBy("tbl", "k").agg(count(lit(1)).as("nd"))
      .filter(col("nd") <= SimHubCap).select("tbl", "k")
    // Materialized for the same reason as [[hamming3Pairs]]'s kk: the
    // self-join reads it twice.
    val kk = keys.join(ok, Seq("tbl", "k")).localCheckpoint()
    val rpairs = kk.as("a").join(kk.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.k") === col("b.k") &&
          col("a.sig") < col("b.sig"))
      .select(least(col("a.rep"), col("b.rep")).as("doc_a"),
        greatest(col("a.rep"), col("b.rep")).as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    stars.unionByName(rpairs)
  }

  /** SQL mirror of [[hammingClassPairs]] over `sigRel(doc_id, sig)` —
    * reps/stars/gsel/combos/keys/hub/kk/rpairs CTEs; the final result is
    * `SELECT * FROM stars UNION ALL SELECT * FROM rpairs`.
    */
  private[graft] def hammingClassPairsSql(sigRel: String): String = {
    val comboValues = simhashCombos.map { case (g, tbl, comb) =>
      val cs = comb.padTo(3, 0)
      s"($g, $tbl, ${cs(0)}, ${cs(1)}, ${cs(2)})"
    }.mkString(",\n    ")
    def chv(c: String) = s"((s.sig >> ($c * 10)) & 1023)"
    s"""reps AS (SELECT sig, MIN(doc_id) AS rep FROM $sigRel GROUP BY sig),
       |stars AS (
       |  SELECT r.rep AS doc_a, d.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
       |  FROM $sigRel d JOIN reps r USING (sig) WHERE d.doc_id <> r.rep),
       |gsel AS (
       |  SELECT CASE WHEN COUNT(*) <= ${1L << 10} THEN 1
       |              WHEN COUNT(*) <= ${1L << 20} THEN 2 ELSE 3 END AS g
       |  FROM reps),
       |combos(gg, tbl, c1, c2, c3) AS (
       |  SELECT * FROM (VALUES
       |    $comboValues) v),
       |keys AS (
       |  SELECT s.sig, s.rep, m.tbl,
       |         CASE WHEN m.gg = 1 THEN ${chv("m.c1")}
       |              WHEN m.gg = 2 THEN ${chv("m.c1")} * 1024 + ${chv("m.c2")}
       |              ELSE (${chv("m.c1")} * 1024 + ${chv("m.c2")}) * 1024 + ${chv("m.c3")}
       |         END AS k
       |  FROM reps s, combos m, gsel WHERE m.gg = gsel.g),
       |hub AS (SELECT tbl, k FROM keys GROUP BY tbl, k HAVING COUNT(*) <= $SimHubCap),
       |kk AS (SELECT ky.sig, ky.rep, ky.tbl, ky.k FROM keys ky JOIN hub USING (tbl, k)),
       |rpairs AS (
       |  SELECT DISTINCT least(a.rep, b.rep) AS doc_a,
       |         greatest(a.rep, b.rep) AS doc_b,
       |         CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |  FROM kk a JOIN kk b ON a.tbl = b.tbl AND a.k = b.k AND a.sig < b.sig
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 3)""".stripMargin
  }

  /** Incremental image-dedup probe — arriving dHash signatures vs the
    * persisted corpus signature-class index (the q155 structures:
    * per-sig class representatives + chunk-group band keys over DISTINCT
    * corpus sigs). Exact-sig arrivals join their class rep at hamming 0
    * (the star semantics — the new image joins the existing class);
    * near arrivals band-join the corpus rep keys using the INDEX'S OWN
    * derived scheme (g from the corpus rep count — the keys the index
    * persisted, so a probe never rebuilds the index geometry) with the
    * hub cap applied at PROBE time over combined corpus + batch
    * occupancy (the winnow probe idiom: the index is built uncapped, a
    * hub bucket is dropped before the candidate join; the only
    * divergence from a single-batch replay is arrivals split across
    * micro-batches under-counting each other near the cap). Output
    * (corpus_id, new_id, hamming), corpus_id = the corpus class rep.
    * Shared by the batch q157 and the streaming twin
    * ([[graft.streaming.StreamingDedup.imageMatchesBatch]]) so the two
    * cannot drift.
    */
  private[graft] def imageProbeMatches(corpusSigs: DataFrame,
      newSigs: DataFrame): DataFrame = {
    // Materialized: reps feeds the exact-match join, the scheme
    // derivation AND the corpus band keys — each consumer re-ran the
    // class groupBy without the barrier. One row per distinct signature.
    val reps = corpusSigs.groupBy("sig").agg(min("doc_id").as("rep"))
      .localCheckpoint()
    val exact = newSigs.join(reps, Seq("sig"))
      .select(col("rep").as("corpus_id"), col("doc_id").as("new_id"),
        lit(0).cast("int").as("hamming"))
    val params = reps.agg(count(lit(1)).as("n")).select(
      when(col("n") <= lit(1L << 10), 1)
        .when(col("n") <= lit(1L << 20), 2).otherwise(3).as("g"))
    val comboArr = array(simhashCombos.map { case (g, tbl, comb) =>
      struct(lit(g).as("gg"), lit(tbl).as("tbl"),
        comb.foldLeft(lit(0L)) { (acc, c) =>
          acc * 1024L + pmod(shiftrightunsigned(col("sig"), c * 10), lit(1024L))
        }.as("k"))
    }: _*)
    def keysOf(sigRel: DataFrame): DataFrame =
      sigRel.crossJoin(broadcast(params))
        .withColumn("ck",
          explode(filter(comboArr, cc => cc.getField("gg") === col("g"))))
        .withColumn("tbl", col("ck.tbl")).withColumn("k", col("ck.k"))
        .drop("ck", "g")
    val ckeys = keysOf(reps)
    val nkeys = keysOf(newSigs.select("sig").distinct()
      .select(col("sig").as("nsig")).withColumn("sig", col("nsig")))
      .select(col("nsig"), col("tbl"), col("k"))
    // Probe-time hub cap over TRUE combined occupancy (corpus reps +
    // batch distinct sigs per bucket); buckets with no corpus or no
    // batch rows yield no candidates, so the inner join is exact.
    val ok = ckeys.groupBy("tbl", "k").agg(count(lit(1)).as("nc"))
      .join(nkeys.groupBy("tbl", "k").agg(count(lit(1)).as("nn")),
        Seq("tbl", "k"))
      .filter(col("nc") + col("nn") <= SimHubCap)
      .select("tbl", "k")
    val near = ckeys.join(ok, Seq("tbl", "k"))
      .join(nkeys, Seq("tbl", "k"))
      .select(col("rep").as("corpus_id"), col("nsig"),
        bit_count(col("sig").bitwiseXOR(col("nsig"))).cast("int").as("hamming"))
      .filter(col("hamming").between(1, 3))
      .distinct()
      .join(newSigs.select(col("sig").as("nsig"), col("doc_id").as("new_id")),
        Seq("nsig"))
      .select("corpus_id", "new_id", "hamming")
    exact.unionByName(near)
  }

  /** SQL mirror of [[imageProbeMatches]] over `corpRel`/`newRel`
    * (doc_id, sig) relations — CTE chain ending in `imatches(corpus_id,
    * new_id, hamming)`.
    */
  private[graft] def imageProbeSql(corpRel: String, newRel: String): String = {
    val comboValues = simhashCombos.map { case (g, tbl, comb) =>
      val cs = comb.padTo(3, 0)
      s"($g, $tbl, ${cs(0)}, ${cs(1)}, ${cs(2)})"
    }.mkString(",\n    ")
    def chv(c: String) = s"((s.sig >> ($c * 10)) & 1023)"
    val kExpr =
      s"""CASE WHEN m.gg = 1 THEN ${chv("m.c1")}
         |              WHEN m.gg = 2 THEN ${chv("m.c1")} * 1024 + ${chv("m.c2")}
         |              ELSE (${chv("m.c1")} * 1024 + ${chv("m.c2")}) * 1024 + ${chv("m.c3")}
         |         END AS k""".stripMargin
    s"""ireps AS (SELECT sig, MIN(doc_id) AS rep FROM $corpRel GROUP BY sig),
       |iexact AS (
       |  SELECT r.rep AS corpus_id, n.doc_id AS new_id,
       |         CAST(0 AS INTEGER) AS hamming
       |  FROM $newRel n JOIN ireps r USING (sig)),
       |igsel AS (
       |  SELECT CASE WHEN COUNT(*) <= ${1L << 10} THEN 1
       |              WHEN COUNT(*) <= ${1L << 20} THEN 2 ELSE 3 END AS g
       |  FROM ireps),
       |icombos(gg, tbl, c1, c2, c3) AS (
       |  SELECT * FROM (VALUES
       |    $comboValues) v),
       |ickeys AS (
       |  SELECT s.sig, s.rep, m.tbl, $kExpr
       |  FROM ireps s, icombos m, igsel WHERE m.gg = igsel.g),
       |inkeys AS (
       |  SELECT s.sig AS nsig, m.tbl, $kExpr
       |  FROM (SELECT DISTINCT sig FROM $newRel) s, icombos m, igsel
       |  WHERE m.gg = igsel.g),
       |iok AS (
       |  SELECT c.tbl, c.k
       |  FROM (SELECT tbl, k, COUNT(*) AS nc FROM ickeys GROUP BY tbl, k) c
       |  JOIN (SELECT tbl, k, COUNT(*) AS nn FROM inkeys GROUP BY tbl, k) n
       |    USING (tbl, k)
       |  WHERE c.nc + n.nn <= $SimHubCap),
       |inear AS (
       |  SELECT DISTINCT a.rep AS corpus_id, b.nsig,
       |         CAST(bit_count(xor(a.sig, b.nsig)) AS INTEGER) AS hamming
       |  FROM ickeys a JOIN iok USING (tbl, k) JOIN inkeys b USING (tbl, k)
       |  WHERE bit_count(xor(a.sig, b.nsig)) BETWEEN 1 AND 3),
       |imatches AS (
       |  SELECT * FROM iexact
       |  UNION ALL
       |  SELECT e.corpus_id, n.doc_id AS new_id, e.hamming
       |  FROM inear e JOIN $newRel n ON n.sig = e.nsig)""".stripMargin
  }

  /** Corner-artifact size for the planted image variants (q155): the
    * first bytes of the decoded pixel buffer are overwritten with 255 —
    * a small localized edit, the perceptual-near-dup positive (the
    * variant's dHash differs from its base in only the bits whose grid
    * cells sample the patched corner).
    */
  private[graft] val ImageArtifactBytes = 9

  /** The image corpus for perceptual dedup: every doc's synthetic PPM
    * payload (the [[Multimodal.mediaRecords]] construction — pixels
    * cycle the doc's text bytes, dimensions derive from n_chars) ∪
    * corner-artifact variants (+300000, doc_id%9==0, see
    * [[ImageArtifactBytes]]) ∪ exact copies (+200000, doc_id%7==0).
    */
  private[graft] def imageRecordsWithDups(s: SparkSession, d: String)
      : Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    // Base records come from the ONE Scala home of the synthetic image
    // geometry (Multimodal.mediaRecords — w/h from n_chars, pixels cycle
    // the text bytes, non-empty-ASCII parity pin); only the variant/copy
    // augmentation lives here, so the geometry formula has exactly one
    // Scala site mirrored by one SQL CTE (imageDhashSigCtes' `imgs`).
    Multimodal.mediaRecords(s, Tables.documents(s, d))
      .flatMap { base =>
        val id = base.doc_id
        val out = Seq.newBuilder[Multimodal.MediaRecord]
        out += base
        if (id % 9 == 0) {
          val px = Multimodal.decodePpm(base.content).pixels
          var i = 0
          while (i < math.min(ImageArtifactBytes, px.length)) {
            px(i) = 255.toByte; i += 1
          }
          out += Multimodal.MediaRecord(id + 300000L,
            Multimodal.encodePpm(base.width, base.height, px),
            base.width, base.height, "ppm")
        }
        if (id % 7 == 0) out += base.copy(doc_id = id + 200000L)
        out.result()
      }
  }

  /** 60-bit dHash signatures (doc_id, sig) over the image corpus — the
    * perceptual-image twin of [[simhashSigs]]. The Spark side runs the
    * REAL codec (the sanctioned multimodal mapPartitions path — no
    * Expression decodes binary payloads): decode the PPM payload, true
    * nearest-neighbor resample to an 11×6 grid
    * ([[Multimodal.resizePpm]]), then pack bit y·10+x = 1 iff
    * gray(x,y) > gray(x+1,y) with gray = r+g+b — 10 horizontal
    * comparisons × 6 rows = 60 bits, monotone under uniform brightness
    * shifts (the perceptual property byte-exact hashing lacks). 60 bits
    * keeps the packed long positive (cross-engine %/>>/& agreement) and
    * reuses q42's 6×10-bit chunk-group candidate scheme UNCHANGED. The
    * oracle replays the synthetic pixel construction arithmetically
    * (the q50 idiom). Repartitioned before the per-record decode so
    * local parquet's 1-2 input partitions don't serialize the codec
    * work; localCheckpoint'd because the candidate self-join reads the
    * frame on both sides plus the hub aggregate.
    */
  /** The memoized (doc_id, sig, res) frame — res = width·height rides the
    * SAME decode pass that produces the signature (the dims are record
    * fields, free once the record is in hand), so q156's keep policy
    * reads resolution from this frame instead of re-running the whole
    * media-record construction (a second full decode/encode pass over
    * the corpus before this column existed).
    */
  private[graft] val imageDhashSigRes = Memo.frame("image_sigs") { (s, d) =>
    dhashSigResOf(
      imageRecordsWithDups(s, d)
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("doc_id")))
      .localCheckpoint()
  }

  private[graft] def imageDhashSigs(s: SparkSession, d: String): DataFrame =
    imageDhashSigRes(s, d).select("doc_id", "sig")

  /** The image near-dup edge set ([[hammingClassPairs]] over the dHash
    * signature frame), memoized per (session, dir): q155 reports it and
    * q156's keep policy consumes it as its CC edge set — each invocation
    * previously re-ran the class groupBy + banding + rep self-join.
    * Like the other shared index memos this is in-memory only (nothing
    * survives the JVM); its build cost is the `image_class_pairs` warm
    * step, visible in warm_breakdown and in the bench's value_with_warm.
    */
  private[graft] val imageClassPairs = Memo.frame("image_class_pairs") { (s, d) =>
    hammingClassPairs(imageDhashSigs(s, d)).cache()
  }

  /** The shared decode→resample→dHash kernel over a media-record frame —
    * ONE home for the signature arithmetic so the batch corpus build
    * ([[imageDhashSigs]]), the incremental probe (q157) and the
    * streaming twin ([[graft.streaming.StreamingDedup.imageMatchesBatch]])
    * cannot drift. Caller owns partitioning (fan out BEFORE the per-
    * record codec work) and materialization.
    */
  private[graft] def dhashSigsOf(
      records: Dataset[Multimodal.MediaRecord]): DataFrame =
    dhashSigResOf(records).select("doc_id", "sig")

  /** [[dhashSigsOf]] plus the record's resolution (width·height) — one
    * decode pass yields both the signature and the keep-policy feature.
    */
  private[graft] def dhashSigResOf(
      records: Dataset[Multimodal.MediaRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records
      .mapPartitions(_.map { r =>
        val img = Multimodal.resizePpm(Multimodal.decodePpm(r.content), 11, 6)
        def gray(x: Int, y: Int): Int = {
          val i = (y * 11 + x) * 3
          (img.pixels(i) & 0xff) + (img.pixels(i + 1) & 0xff) +
            (img.pixels(i + 2) & 0xff)
        }
        var sig = 0L
        var y = 0
        while (y < 6) {
          var x = 0
          while (x < 10) {
            if (gray(x, y) > gray(x + 1, y)) sig |= 1L << (y * 10 + x)
            x += 1
          }
          y += 1
        }
        (r.doc_id, sig, r.width.toLong * r.height)
      })
      .toDF("doc_id", "sig", "res")
  }

  /** SQL CTE chain ending in `dsig(doc_id, sig)` ≡ [[imageDhashSigs]]:
    * the synthetic PPM pixel at byte index i is the doc's text byte
    * i % len(text) (255 over the patched corner for artifact variants),
    * the 11×6 nearest-neighbor sample replays [[Multimodal.resizePpm]]'s
    * integer arithmetic (sx = x·w/11, sy = y·h/6, floor), gray = r+g+b,
    * and the 60 comparison bits join exact power-of-two literals.
    */
  private[graft] def imageDhashSigCtes: String = {
    def byteSql(c: Int): String =
      s"""CASE WHEN artifact = 1 AND bi + $c < $ImageArtifactBytes THEN 255
         |              ELSE ascii(substr(text, CAST((bi + $c) % l AS INT) + 1, 1)) END""".stripMargin
    val pwValues = (0 until 60).map(j => s"($j, ${1L << j})").mkString(",\n    ")
    s"""imgs AS (
       |  SELECT doc_id, text, CAST(len(text) AS BIGINT) AS l,
       |         n_chars % 16 + 1 AS w, n_chars * 3 % 12 + 1 AS h, 0 AS artifact
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 300000, text, CAST(len(text) AS BIGINT),
       |         n_chars % 16 + 1, n_chars * 3 % 12 + 1, 1
       |  FROM documents WHERE doc_id % 9 = 0
       |  UNION ALL
       |  SELECT doc_id + 200000, text, CAST(len(text) AS BIGINT),
       |         n_chars % 16 + 1, n_chars * 3 % 12 + 1, 0
       |  FROM documents WHERE doc_id % 7 = 0),
       |pw(j, p) AS (
       |  SELECT * FROM (VALUES
       |    $pwValues) v),
       |cells AS (
       |  SELECT doc_id, text, l, artifact, x, y,
       |         ((y * h // 6) * w + (x * w // 11)) * 3 AS bi
       |  FROM imgs, range(0, 11) tx(x), range(0, 6) ty(y)),
       |grid AS (
       |  SELECT doc_id, x, y,
       |         (${byteSql(0)}) +
       |         (${byteSql(1)}) +
       |         (${byteSql(2)}) AS gray
       |  FROM cells),
       |dsig AS (
       |  SELECT a.doc_id,
       |         CAST(SUM(CASE WHEN a.gray > b.gray THEN pw.p ELSE 0 END) AS BIGINT) AS sig
       |  FROM grid a
       |  JOIN grid b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
       |  JOIN pw ON pw.j = a.y * 10 + a.x
       |  WHERE a.x < 10
       |  GROUP BY a.doc_id)""".stripMargin
  }

  /** 60-bit SimHash signatures (doc_id, sig) over docsWithDups — the
    * builder q42 and ScaleBench's planted-pair recall audit share. Each
    * word is md5'd once (h1 = hex chars 1-12, h2 = 13-24, so the DuckDB
    * oracle reproduces the exact fingerprints); the 60 ±1 bit sums are
    * map-side partial aggregates and the fingerprint packs from the
    * per-bit signs. 60 bits (not 64) keeps the packed signature
    * positive, where `%`, `>>` and `&` agree across engines.
    * localCheckpoint'd: the candidate self-join reads the frame on both
    * sides plus the hub aggregate, and Spark shares no work across join
    * branches — without the barrier the word-explode + 60-bit aggregate
    * would run three times. The materialized frame is two longs per doc.
    */
  private[graft] def simhashSigs(s: SparkSession, d: String): DataFrame = {
    val h = fanOut(docsWithDups(s, d))
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
      .select(col("doc_id"), md5(col("word")).as("mh"))
      .select(col("doc_id"),
        TextOps.md5Fold48(col("mh"), 1).as("h1"),
        TextOps.md5Fold48(col("mh"), 13).as("h2"))
    val bitAggs = (0 until 60).map { j =>
      val (src, sh) = if (j < 48) (col("h1"), j) else (col("h2"), j - 48)
      sum(when(pmod(shiftrightunsigned(src, sh), lit(2L)) === 1L, 1L).otherwise(-1L))
        .as(s"b$j")
    }
    h.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("sig"))
      .localCheckpoint()
  }

  /** embeddings ∪ near-dup variants (vec_id+100000, first component zeroed,
    * for vec_id%20==0).
    */
  def embWithDups(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "embedding", "label")
    val near = e.filter(pmod(col("vec_id"), lit(20)) === 0)
      .select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"),
        col("label"))
    e.unionByName(near)
  }

  val emb2Cte: String =
    s"""emb2 AS (
       |  SELECT vec_id, embedding, label FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |         [CASE WHEN i = 1 THEN CAST(0 AS FLOAT) ELSE embedding[i] END
       |          FOR i IN range(1, ${VectorOps.Dim + 1})],
       |         label
       |  FROM embeddings WHERE vec_id % 20 = 0)""".stripMargin

  /** q44's fixed query-point ids: deterministic, all < 500 so they exist
    * at every scale factor (TESTDATA embeddings always cover vec_id
    * 0..499). Fixed size keeps the KNN broadcast side O(1) as the
    * candidate table scales.
    */
  val KnnQueryIds: Seq[Long] =
    Seq(7L, 23L, 41L, 59L, 83L, 101L, 127L, 149L, 173L, 199L, 223L, 251L,
      277L, 307L, 331L, 353L)

  /** IVF index granularity TRACKS THE CORPUS: k = max(16, n/128)
    * centroids (~128 vectors per cell), realized as the id-stride pick
    * cid ≡ 3 (mod stride) with stride = max(1, n/k) — pure integer
    * arithmetic on the corpus count, so the DuckDB oracle reproduces the
    * exact centroid set and hash verification survives any scale. At 10×
    * data the index carries 10× cells and per-cell occupancy stays ~128,
    * keeping celled candidate generation ~linear (the round-11 fixed-k=16
    * fixture grew occupancy with the corpus instead). A real deployment
    * replaces the stride pick with VectorOps.kmeans at the same k; the
    * stride pick is the deterministic stand-in with the same cost shape.
    */
  def ivfCentroids(e: DataFrame): DataFrame = {
    val params = e.agg(count(lit(1)).as("n")).select(
      greatest(lit(1L), (col("n") /
        greatest(lit(16L), (col("n") / lit(128)).cast("long"))).cast("long"))
        .as("stride"))
    e.crossJoin(broadcast(params))
      .filter(pmod(col("vec_id"), col("stride")) === pmod(lit(3L), col("stride")))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("nrm").as("cn"))
  }

  /** Probe-cell assignment rows (vec_id, label, cid) of a normed frame
    * `e` (vec_id, label, embedding, nrm) against `cents`, keeping each
    * vector's top-`probes` cells by exact decimal cosine (cid tiebreak).
    * The ranking window sees only SLIM (vec_id, label, cid, csim) rows —
    * attaching the embedding arrays would shuffle n×k×Dim floats. Shared
    * by the batch dedup queries and [[graft.streaming.StreamingDedup
    * .embMatchesBatch]] so streaming and batch assignment cannot drift.
    */
  def cellAssignments(e: DataFrame, cents: DataFrame, probes: Int): DataFrame = {
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cid").asc)
    e.select("vec_id", "label", "embedding", "nrm")
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"),
        (VectorOps.dotDecimal(col("embedding"), col("ce")) /
          (col("nrm") * col("cn"))).as("csim"),
        col("cid"))
      .withColumn("arnk", row_number().over(byVec))
      .filter(col("arnk") <= probes)
      .select("vec_id", "label", "cid")
  }

  /** Probe count derived from the REALIZED centroid count: a FIXED probe
    * count loses recall as k grows — at the 30× point (k≈484)
    * measured probes-3 missing 64/4408 true pairs where the 10× point
    * (k≈160) missed 0, and probes-6 restoring 0/4408 at ~equal assignment
    * wall (the n·k dots dominate; probes only widen the candidate join).
    * p = max(3, ceil(3·sqrt(k/160)) + 1) covers both measured zero-loss
    * points with one probe of margin (centroid sets are an id-stride
    * draw over the replicated layout, and the zero-loss probe count
    * varied by one between two draws at the same k — 30× audits
    * measured 0/4408 at p6 on one layout and 1/4408 on another) and
    * grows sublinearly with cell granularity. One 1-row aggregate over
    * the (already broadcast-sized) centroid frame, mirrored as a scalar
    * subquery in the oracle SQL — IEEE sqrt/ceil are identical in both
    * engines, so the derived integer cannot diverge. The +1 margin does
    * not move the test-SF value (p = 3 for k ≤ 71), so every oracle
    * hash is unchanged.
    */
  def derivedProbes(cents: DataFrame): DataFrame =
    cents.agg(greatest(lit(3L),
      ceil(lit(3.0) * sqrt(count(lit(1)).cast("double") / 160.0)) + 1L)
      .cast("int").as("probes"))

  /** Driver-side scalar twin of [[derivedProbes]] — the ONE home of the
    * probe rule for code that already holds the realized k as a long
    * (the ladder's fp, ScaleBench's candidate-ceiling audit).
    * Inlining the formula at those sites let the audit silently measure
    * a different geometry than the queries it gates if the production
    * rule ever moved.
    */
  def derivedProbesFor(k: Long): Int =
    math.max(3, math.ceil(3 * math.sqrt(k / 160.0)).toInt + 1)

  /** SQL scalar-subquery mirror of [[derivedProbes]] over the `cents`
    * CTE.
    */
  val derivedProbesSql: String =
    "(SELECT greatest(3, CAST(ceil(3 * sqrt(COUNT(*) / 160.0)) + 1 AS INTEGER)) FROM cents)"

  /** [[cellAssignments]] with the probe count derived from the centroid
    * set itself — the production dedup path (q51/q123/q124 and the
    * streaming twin), so recall holds as the corpus-derived k grows.
    */
  def cellAssignmentsDerived(e: DataFrame, cents: DataFrame): DataFrame = {
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cid").asc)
    e.select("vec_id", "label", "embedding", "nrm")
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"),
        (VectorOps.dotDecimal(col("embedding"), col("ce")) /
          (col("nrm") * col("cn"))).as("csim"),
        col("cid"))
      .withColumn("arnk", row_number().over(byVec))
      .crossJoin(broadcast(derivedProbes(cents)))
      .filter(col("arnk") <= col("probes"))
      .select("vec_id", "label", "cid")
  }

  /** Coarse-level centroids TRAINED with spherical k-means over the fine
    * centroid set (hierarchical k-means: the coarse level clusters the k
    * fine centroids, never the n raw vectors, so training costs
    * iters·k·kc dots — independent of corpus size). kc tracks the fine
    * count as ceil(sqrt(3k)), the analytic minimizer of the two-level
    * assignment cost n·(kc + 3k/kc) at coarseProbes = 3. Seeds are the
    * evenly-strided sorted fine cids (deterministic); empty clusters keep
    * their seed centroid (VectorOps.kmeans contract), so the output is
    * reproducible run-to-run and across partitionings.
    *
    * Driver-side bound: the seed pick is DISTRIBUTED — cids are ranked
    * contiguously (DfOps.addContiguousId: range-partition + per-partition
    * numbering, no single-partition window) and only the kc ≈ √(3k) rows
    * at the evenly-strided rank positions come back to the driver, the
    * same O(kc) driver state the kmeans loop itself holds. (Previously
    * this collected the full k-long cid list — the one linear-in-k
    * driver collect on the ladder path.)
    */
  def trainedCoarseCentroids(fine: DataFrame, iters: Int): DataFrame = {
    val s = fine.sparkSession
    val data = fine.select(col("cid").as("vec_id"), col("ce").as("embedding"))
    val k = data.count()
    val kc = math.min(k,
      math.max(4L, math.ceil(math.sqrt(3.0 * k)).toLong)).toInt
    // Rank positions i·k/kc, i < kc — identical to indexing the sorted
    // cid array at those positions, so the seed set (and therefore the
    // trained centroids) is unchanged by the distributed rewrite.
    val positions = (0 until kc).map(i => Tuple1(i.toLong * k / kc))
    val ranked = graft.ops.DfOps.addContiguousId(
      data.select("vec_id"), "vec_id", "rnk")
    val seeds = ranked
      .join(broadcast(s.createDataFrame(positions).toDF("rnk")), Seq("rnk"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    val (_, cents, _) = VectorOps.kmeans(data, seeds, iters)
    val rows = cents.map { case (ccid, arr) => (ccid, arr.map(_.toFloat)) }
    s.createDataFrame(rows).toDF("ccid", "cce")
      .withColumn("ccn", VectorOps.norm(col("cce")))
  }

  /** Two-level assignment over a kmeans-TRAINED coarse level — the
    * measured scale ladder past flat IVF. Cost n·(kc + coarseProbes·k/kc)
    * with kc ≈ √(3k) vs flat's n·k.
    *
    * MEASURED (BASELINE.md, 30× point, k≈484, 4408 true pairs): trained
    * beats the stride-hierarchical variant on recall at every equal
    * probe setting (cp2/3/4-fp3 miss 241/150/112 vs stride's
    * 324/163/144) and beats flat on wall throughout (cp2-fp3 42 s,
    * cp8-fp6 68 s vs flat ~99-108 s). Its best measured point,
    * cp8-fp6 = 5/4408 missed (99.89% recall) at 0.63× flat's wall, does
    * NOT reach the parity audit's zero-loss bar — so flat +
    * [[cellAssignmentsDerived]] derived probes (0/4408 at both measured
    * scale points) remains the configuration of record, and this ladder
    * is the documented speed path for corpora where n·k becomes
    * unpayable, to be re-gated by the recall audit at that scale.
    */
  def trainedCellAssignments(e: DataFrame, fine: DataFrame,
      coarseProbes: Int, fineProbes: Int, iters: Int = 5): DataFrame =
    twoLevelAssignments(e, fine, trainedCoarseCentroids(fine, iters),
      coarseProbes, fineProbes)

  /** [[trainedCellAssignments]] with BOTH probe counts derived from the
    * realized index geometry — the PINNED ladder configuration. kc
    * follows trainedCoarseCentroids' own rule (ceil(√(3k))); the COARSE
    * probe count — the knob that binds recall (measured at 30×: cp4/6/8 at
    * fp8 miss 6/2/0) — derives as cp = max(3, ceil(kc/5)); the fine
    * probe count follows the flat derived-probe rule ([[derivedProbes]]).
    * Round-15 determinism audit: two 30× measurement sessions on the same
    * data reproduce the trained arms BITWISE (identical candidate and
    * missed counts, 0/4408 at cp8-fp≥6) — the whole ladder is
    * deterministic (decimal-summed kmeans means, id tiebreaks), so the
    * derived rule is pinnable and re-gated by ScaleBench's parity audit
    * at every scale point.
    */
  def trainedCellAssignmentsDerived(e: DataFrame, fine: DataFrame,
      iters: Int = 5): DataFrame = {
    val (_, cp, fp) = ladderParamsFor(fine.count())
    trainedCellAssignments(e, fine, cp, fp, iters)
  }

  /** The derived ladder geometry for a realized fine-cell count k —
    * the ONE home of the (kc, cp, fp) rules (kc = ceil(√(3k)) matching
    * [[trainedCoarseCentroids]]' own computation, cp = max(3, ⌈kc/5⌉)
    * — the measured recall-binding knob — and fp = the flat derived-
    * probe rule). Shared by the dedup ladder, the retrieval memo's
    * ladder arm and ScaleBench's parity audit so no site can drift.
    */
  private[graft] def ladderParamsFor(k: Long): (Int, Int, Int) = {
    val kc = math.min(k,
      math.max(4L, math.ceil(math.sqrt(3.0 * k)).toLong)).toInt
    val cp = math.max(3, math.ceil(kc / 5.0).toInt)
    (kc, cp, derivedProbesFor(k))
  }

  /** Ladder adoption threshold: below this realized cell count, flat n·k
    * assignment is the cheapest zero-loss plan (the ladder's coarse
    * level is pure overhead at small k); at or above it, the trained
    * two-level ladder's n·(kc + cp·k/kc) term wins. Measured crossover:
    * at 30× (k=493) the derived ladder arm beat flat on wall with
    * 0/4408 missed, at 100× (k=821) 0/6408 at 0.38× flat's wall; at 10×
    * (k=165) flat is still faster. Every test SF stays below the
    * threshold, so the oracle-hashed plans are unchanged.
    */
  private[graft] val LadderK = 256L

  /** PRODUCTION probe-cell assignment — the scheme derives from the
    * realized index size, the same way k and the probe counts derive
    * from the corpus: flat + derived probes below [[LadderK]] cells,
    * the kmeans-trained two-level ladder (derived kc/cp/fp) at or
    * above. ScaleBench's parity audit gates whichever scheme the scale
    * point selects (30×/100× audits run the ladder: 0/4408, 0/6408).
    */
  def productionAssignments(e: DataFrame, cents: DataFrame): DataFrame =
    if (cents.count() < LadderK) cellAssignmentsDerived(e, cents)
    else trainedCellAssignmentsDerived(e, cents)

  /** [[productionAssignments]] in the RANKED shape the retrieval memo
    * needs — (vec_id, cid, arnk, probes), rows bounded by the derived
    * probe count: flat ranked assignment below [[LadderK]] realized
    * cells, the kmeans-trained two-level ladder (derived kc/cp, fp =
    * the same probe rule) at or above. Round-18 re-gate of the round-17
    * `weak`: the retrieval memo previously kept flat n·k assignment at
    * EVERY decade (with k = max(16, n/128) growing linearly in n, that
    * is the n²/128 asymptote the dedup path retired), amortized across
    * its seven consumers and with the q152 ceiling defined on the flat
    * geometry. Routing the memo through the same scheme dispatch as the
    * dedup path makes the assignment stage n·(kc + cp·k/kc) past
    * LadderK, and ScaleBench's retrieval audit now derives the q152
    * candidate CEILING from this very function, so the gate measures
    * the geometry the queries actually probe at every scale point.
    * Below LadderK (every oracle-hashed test SF) the flat arm is plan-
    * identical to the round-17 memo, so no hash moves.
    */
  def productionAssignmentsRanked(e: DataFrame, cents: DataFrame): DataFrame = {
    val k = cents.count()
    if (k < LadderK) {
      val byVec = Window.partitionBy("vec_id")
        .orderBy(col("csim").desc, col("cid").asc)
      // The ranking window sees only (vec_id, cid, csim) — n×k SLIM
      // rows; callers re-join payloads by id (measured ~2 GB window
      // exchange at 10× when the arrays rode along).
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          (VectorOps.dotDecimal(col("embedding"), col("ce")) /
            (col("nrm") * col("cn"))).as("csim"),
          col("cid"))
        .withColumn("arnk", row_number().over(byVec))
        .crossJoin(broadcast(derivedProbes(cents)))
        .filter(col("arnk") <= col("probes"))
        .select("vec_id", "cid", "arnk", "probes")
    } else {
      val (_, cp, fp) = ladderParamsFor(k)
      twoLevelRanked(e, cents, trainedCoarseCentroids(cents, 5), cp)
        .filter(col("arnk") <= fp)
        .select(col("vec_id"), col("cid"), col("arnk"),
          lit(fp).as("probes"))
    }
  }

  /** Shared two-level assignment body: rank vectors against the BROADCAST
    * `coarse(ccid, cce, ccn)` level, keep top-`coarseProbes` coarse cells,
    * expand to the fine centroids homed (top-1) in those cells, rank the
    * vector against only that fine candidate set, keep top-`fineProbes`.
    */
  def twoLevelAssignments(e: DataFrame, fine: DataFrame, coarse: DataFrame,
      coarseProbes: Int, fineProbes: Int): DataFrame =
    twoLevelRanked(e, fine, coarse, coarseProbes)
      .filter(col("arnk") <= fineProbes)
      .select("vec_id", "label", "cid")

  /** The ranked core of [[twoLevelAssignments]]: per-vector candidate
    * fine cells with their cosine rank kept in the output
    * (vec_id, label, cid, arnk) and NO fine-probe filter — callers
    * bound arnk themselves. The retrieval memo needs the rank (its
    * consumers distinguish the arnk = 1 home cell from the probe list),
    * so the ladder exposes the same shape flat assignment does.
    */
  def twoLevelRanked(e: DataFrame, fine: DataFrame, coarse: DataFrame,
      coarseProbes: Int): DataFrame = {
    def rankAgainstCoarse(v: DataFrame, idCol: String, keep: Int): DataFrame = {
      val byV = Window.partitionBy(idCol).orderBy(col("csim").desc, col("ccid").asc)
      v.crossJoin(broadcast(coarse))
        .select(col(idCol),
          (VectorOps.dotDecimal(col("embedding"), col("cce")) /
            (col("nrm") * col("ccn"))).as("csim"),
          col("ccid"))
        .withColumn("crnk", row_number().over(byV))
        .filter(col("crnk") <= keep)
        .select(idCol, "ccid")
    }
    // Each FINE centroid's home coarse cell (k×16 dots, broadcast both).
    val f2c = rankAgainstCoarse(
      fine.select(col("cid").as("vec_id"), col("ce").as("embedding"),
        col("cn").as("nrm")),
      "vec_id", 1).select(col("vec_id").as("cid"), col("ccid"))
    // Vector → probed coarse cells (n×16 dots) → candidate fine cids.
    val candCids = rankAgainstCoarse(
      e.select("vec_id", "embedding", "nrm"), "vec_id", coarseProbes)
      .join(f2c, Seq("ccid"))
      .groupBy("vec_id").agg(collect_set("cid").as("cids"))
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cid").asc)
    e.select("vec_id", "label", "embedding", "nrm")
      .join(candCids, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        explode(col("cids")).as("cid"))
      .join(broadcast(fine), Seq("cid"))
      .select(col("vec_id"), col("label"),
        (VectorOps.dotDecimal(col("embedding"), col("ce")) /
          (col("nrm") * col("cn"))).as("csim"),
        col("cid"))
      .withColumn("arnk", row_number().over(byVec))
      .select("vec_id", "label", "cid", "arnk")
  }

  /** Two-phase exact verify of candidate id pairs against normed frames:
    * codegen'd double prefilter at 1e-6 slack, decimal exact for the
    * threshold the cross-engine hash pins. `cand` carries (leftId,
    * rightId); output (leftId, rightId, cos >= thresh only).
    */
  def verifyPairs(cand: DataFrame, left: DataFrame, right: DataFrame,
      leftId: String, rightId: String, thresh: Double): DataFrame = {
    val ea = left.select(col("vec_id").as(leftId), col("embedding").as("ea"),
      col("nrm").as("na"))
    val eb = right.select(col("vec_id").as(rightId), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val naNb = col("na") * col("nb")
    val fastOk = VectorOps.dotFast(col("ea"), col("eb")) >=
      (lit(thresh) - lit(1e-6)) * naNb
    val exactCos = VectorOps.dotDecimal(col("ea"), col("eb")) / naNb
    // The when() is load-bearing: a plain `fastOk && exactCos >= thresh`
    // filter can be reordered so the decimal dot runs on every candidate
    // pair; CaseWhen branches stay lazy wherever the optimizer moves the
    // predicate.
    cand.join(ea, Seq(leftId)).join(eb, Seq(rightId))
      .filter(when(fastOk, exactCos >= thresh).otherwise(lit(false)))
      .select(col(leftId), col(rightId), round(exactCos, 6).as("cos"))
  }

  /** Driver-side twin of the [[ivfCentroids]] arithmetic for a corpus of
    * n dense-id vectors (specs/dev harnesses that need the seed list).
    */
  def ivfSeedIdsFor(n: Long): Seq[Long] = {
    val k = math.max(16L, n / 128)
    val stride = math.max(1L, n / k)
    ((3L % stride) until n by stride).toSeq
  }

  /** SQL mirror of [[ivfCentroids]] over a norms CTE `rel`. */
  private def centsCteSql(rel: String): String =
    s"""cents AS (
       |  SELECT vec_id AS cid, embedding AS ce, nrm AS cn
       |  FROM $rel,
       |       (SELECT greatest(1, count(*) // greatest(16, count(*) // 128)) AS stride
       |        FROM $rel) p
       |  WHERE vec_id % stride = 3 % stride)""".stripMargin

  /** q51's verified near-dup pair list (vec_a, vec_b, cos) — also the
    * edge set of q124's SemDeDup keep-policy. BUCKETED candidates →
    * exact verify: every vector is assigned to its probe-3 IVF cells over
    * the corpus-derived centroid set ([[ivfCentroids]]) and candidates
    * equi-join on (label, cell) over ids only; survivors re-join their
    * embeddings by id and pay TWO-PHASE scoring — the codegen'd
    * plain-double dot prefilters at a 1e-6-slack threshold and only
    * near-threshold survivors pay the decimal-boxed exact dot the
    * cross-engine hash requires. Probe-3 matches the 10× parity audit's
    * zero-miss recall (probe-2 measured 9/1000 missed at derived k=165);
    * the ranking window sees only SLIM (vec_id, label, cid, csim) rows —
    * attaching the embedding arrays shuffles n×k×Dim floats (the
    * measured 10× bottleneck).
    */
  // Memoized: q51 reports the pair list, q124's keep policy consumes it
  // as its edge set — without the memo q124 re-runs the whole candidate
  // + verify pipeline (measured 32 s at the 10× point, exponent 1.09, vs
  // CC-only cost once shared).
  private val embDedupPairs = Memo.frame("emb_pairs") { (s, d) =>
    embDedupPairsBuild(s, d).cache()
  }

  /** ONE flat ranked-assignment pass over the dup corpus — (vec_id,
    * label, cid, csim, arnk, probes), arnk <= derived probes — shared by
    * three consumers that each previously ran their OWN n×k decimal
    * scoring pass over the identical (embDupNorms × ivfCentroids)
    * geometry (guide §1.2 "don't compute things twice"):
    *  - the dedup candidate assignment (arnk <= probes; q51/q124 pairs),
    *  - the SemDeDup affinity (arnk = 1's csim; q124 keep criterion),
    *  - the incremental corpus cell index (arnk = 1, vec_id < 100000;
    *    q123 probes it).
    * The last two are filters over this cached frame in their queries.
    * Filtering `e` before or after the per-vector ranking commutes (each
    * vector ranks against the broadcast centroid set independently), so
    * all three projections are value-identical to their previous
    * stand-alone passes. Slim rows only; payloads re-join by id.
    */
  private val embDupRankedFlat = Memo.frame("emb_ranked_dup") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val e = embDupNorms(s, d)
    val cents = ivfCentroids(e)
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cid").asc)
    e.select("vec_id", "label", "embedding", "nrm")
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"),
        (VectorOps.dotDecimal(col("embedding"), col("ce")) /
          (col("nrm") * col("cn"))).as("csim"),
        col("cid"))
      .withColumn("arnk", row_number().over(byVec))
      .crossJoin(broadcast(derivedProbes(cents)))
      .filter(col("arnk") <= col("probes"))
      .cache()
  }

  private def embDedupPairsBuild(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = embDupNorms(s, d)
    val cents = ivfCentroids(e)
    // Same scheme dispatch as productionAssignments; the flat arm reads
    // the shared ranked pass instead of re-scoring n×k.
    val assign =
      if (cents.count() < LadderK)
        embDupRankedFlat(s, d).select("vec_id", "label", "cid")
      else trainedCellAssignmentsDerived(e, cents)
    val cand = assign.as("a").join(assign.as("b"),
        col("a.label") === col("b.label") && col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    verifyPairs(cand, e, e, "vec_a", "vec_b", 0.9)
  }

  /** CTE chain ending in `epairs(vec_a, vec_b, cos)` ≡ [[embDedupPairs]]
    * (also leaves nrms/csims in scope for q124's affinity CTE).
    */
  private val embPairsCtes: String =
    s"""$emb2Cte,
       |${normsCte("nrms", "emb2", ", label")},
       |${centsCteSql("nrms")},
       |csims AS (
       |  SELECT n.vec_id, n.label, c.cid, MAX(n.nrm) AS nrm, MAX(c.cn) AS cn,
       |         ${VectorOps.dotDecimalSql("n.embedding", "c.ce")} AS dot
       |  FROM nrms n CROSS JOIN cents c, range(1, ${VectorOps.Dim + 1}) t(i)
       |  GROUP BY n.vec_id, n.label, c.cid),
       |assign AS (
       |  SELECT vec_id, label, cid FROM (
       |    SELECT vec_id, label, cid,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |               ORDER BY dot / (nrm * cn) DESC, cid ASC) AS arnk
       |    FROM csims) r
       |  WHERE arnk <= $derivedProbesSql),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM assign a JOIN assign b
       |    ON a.label = b.label AND a.cid = b.cid AND a.vec_id < b.vec_id),
       |vpairs AS (
       |  SELECT c.vec_a, c.vec_b, MAX(x.nrm) AS na, MAX(y.nrm) AS nb,
       |         ${VectorOps.dotDecimalSql("x.embedding", "y.embedding")} AS dot
       |  FROM cand c
       |  JOIN nrms x ON c.vec_a = x.vec_id
       |  JOIN nrms y ON c.vec_b = y.vec_id,
       |       range(1, ${VectorOps.Dim + 1}) t(i)
       |  GROUP BY c.vec_a, c.vec_b),
       |epairs AS (
       |  SELECT vec_a, vec_b, round(dot / (na * nb), 6) AS cos
       |  FROM vpairs WHERE dot / (na * nb) >= 0.9)""".stripMargin

  /** norm CTE over a (vec_id, embedding, ...) relation. */
  private def normsCte(name: String, rel: String, extraCols: String = ""): String =
    s"""$name AS (
       |  SELECT vec_id, embedding$extraCols,
       |         sqrt(${VectorOps.dotDecimalSql("embedding", "embedding")}) AS nrm
       |  FROM $rel, range(1, ${VectorOps.Dim + 1}) t(i)
       |  GROUP BY vec_id, embedding$extraCols)""".stripMargin

  private def sparkNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", VectorOps.norm(col("embedding")))

  /** Local parquet scans of the bench-scale tables arrive as one or two
    * partitions (file < maxPartitionBytes), which runs the heavy per-row
    * scalar memo builds SINGLE-THREADED — the round-11 q51 exponent and
    * the 26 s "grams" warm step were this, not operator cost. On a real
    * cluster the scan splits naturally; locally, fan the build out to the
    * session's shuffle parallelism BEFORE the expensive projection (the
    * cached frame then also feeds every consumer 32-wide).
    */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Normalized embeddings, cached per (session, dir): q44, q68 and both
    * branches of q89 all start from this frame — one scan + one decimal
    * norm pass instead of four. Carries `label` so the filtered-search
    * query (q132) can key its candidate join on it; every other consumer
    * selects its columns explicitly and ignores it.
    */
  private val embNorms = Memo.frame("emb_norms") { (s, d) =>
    sparkNorm(fanOut(Tables.embeddings(s, d)
      .select("vec_id", "embedding", "label"))).cache()
  }

  /** embWithDups + decimal norm, cached: q45 and q51 both consume the
    * dup-planted frame several times per run (band/bucket build + both
    * verify sides), and the decimal norm is the dominant scalar.
    */
  private val embDupNorms = Memo.frame("emb_dup_norms") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    sparkNorm(fanOut(embWithDups(s, d))).cache()
  }

  /** q44's exact brute-force top-5 (qid, vec_id, rnk, cos) — also the
    * truth set the ANN recall eval (q89) measures q68 against. Top-k via
    * the TypedImperativeAggregate: map-side partial top-5 buffers instead
    * of a per-query sort of every candidate.
    */
  // Memoized like the assignment frame: q44 and q89's truth side run the
  // same broadcast-query decimal scoring pass.
  private val bruteTop5 = Memo.frame("brute_knn") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val e = embNorms(s, d)
    val q = e.filter(col("vec_id").isin(KnnQueryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        VectorOps.dotDecimal(col("embedding"), col("qe")) / (col("nrm") * col("qn")))
      .groupBy("qid")
      .agg(graft.functions.GraftFunctions
        .topKByScore(col("cos"), col("vec_id"), 5).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("vec_id"),
        (col("pos") + 1).as("rnk"), round(col("col.score"), 6).as("cos"))
      .cache()
  }

  /** SQL tail for bruteTop5 (CTE names bq/bdots/truth; expects a `nrms`
    * CTE from normsCte in scope). Shared by q44 and q89.
    */
  private def bruteKnnTailCtes: String =
    s"""bq AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM nrms
       |      WHERE vec_id IN (${KnnQueryIds.mkString(", ")})),
       |bdots AS (
       |  SELECT c.vec_id, q.qid, MAX(c.nrm) AS nrm, MAX(q.qn) AS qn,
       |         ${VectorOps.dotDecimalSql("c.embedding", "q.qe")} AS dot
       |  FROM nrms c CROSS JOIN bq q, range(1, ${VectorOps.Dim + 1}) t(i)
       |  WHERE c.vec_id <> q.qid
       |  GROUP BY c.vec_id, q.qid),
       |truth AS (
       |  SELECT qid, vec_id, rnk, round(cos, 6) AS cos FROM (
       |    SELECT qid, vec_id, dot / (nrm * qn) AS cos,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY dot / (nrm * qn) DESC, vec_id ASC) AS rnk
       |    FROM bdots) r
       |  WHERE rnk <= 5)""".stripMargin

  /** q68's IVF derived-probe top-5 (qid, vec_id, rnk, cos) — the approximate
    * side of the q89 recall eval. Assignment is a broadcast-centroid
    * scoring pass (corpus-derived k); search is a bucket equi-join.
    */
  /** The IVF assignment frame (vec_id, cid, arnk, probes, embedding,
    * label, nrm): every vector's probe-cell list under the PRODUCTION
    * assignment scheme ([[productionAssignmentsRanked]] — flat ranked
    * scoring below [[LadderK]] realized cells, the kmeans-trained
    * two-level ladder at or above, the same dispatch the dedup path
    * adopted). arnk = 1 is the hard assignment (q68's buckets, q110's
    * clusters); arnk <= probes gives the probe list, with the probe
    * count DERIVED from the realized centroid count by the same
    * [[derivedProbes]] rule the dedup path pinned — the repo's own
    * 30×/100× audits proved a fixed probe count loses recall exactly
    * as k grows (probe-3 missed 64/4408 at k≈493), and retrieval
    * inherits the identical geometry. The derived count rides the
    * frame as a constant `probes` column so every retrieval consumer
    * (q68/q89/q131/q132/q149/q150/q152) filters against the same
    * realized value, mirrored in SQL by [[derivedProbesSql]] (the
    * oracle mirrors the FLAT arm only: every oracle-hashed test SF
    * realizes k < LadderK, where the two arms are the same plan).
    */
  // Memoized like the norm frame: q68, q89 and q110 all need the same
  // assignment, and the assignment scoring (flat: vectors × k × Dim
  // decimal ops; ladder: vectors × (kc + cp·k/kc) × Dim) is the
  // dominant cost — pay it once per (session, dir).
  private val ivfAssign = Memo.frame("ivf_assign") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val e = embNorms(s, d)
    val cents = ivfCentroids(e)
    // Probe rows re-join their embedding by id AFTER ranking
    // (n×probes rows) — both arms rank slim rows only.
    productionAssignmentsRanked(e, cents)
      .join(e, Seq("vec_id"))
      .cache()
  }

  private def ivfTop5(s: SparkSession, d: String): DataFrame = {
    val assign = ivfAssign(s, d)
    val data = assign.filter(col("arnk") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
    val qprobe = assign
      .filter(col("vec_id").isin(KnnQueryIds: _*) &&
        col("arnk") <= col("probes"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cid"))
    val byQ = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    data.join(qprobe, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        VectorOps.dotDecimal(col("embedding"), col("qe")) / (col("nrm") * col("qn")))
      .withColumn("rnk", row_number().over(byQ))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("vec_id"), col("rnk"), round(col("cos"), 6).as("cos"))
  }

  /** SQL CTEs for the IVF assignment (cents/csims/assign; expects `nrms`
    * in scope) — the shared prefix of every query that searches the q68
    * probe index (q68, q89, q131, q132, q149, q150, q152). Probe-side
    * consumers bound `arnk` by [[retrievalProbesSql]], the scalar mirror
    * of the derived probe count baked into the `assign` frame.
    */
  private def ivfAssignCtes: String =
    s"""${centsCteSql("nrms")},
       |csims AS (
       |  SELECT n.vec_id, c.cid, MAX(n.nrm) AS nrm, MAX(c.cn) AS cn,
       |         ${VectorOps.dotDecimalSql("n.embedding", "c.ce")} AS cdot
       |  FROM nrms n CROSS JOIN cents c, range(1, ${VectorOps.Dim + 1}) t(i)
       |  GROUP BY n.vec_id, c.cid),
       |assign AS (
       |  SELECT vec_id, cid,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY cdot / (nrm * cn) DESC, cid ASC) AS arnk
       |  FROM csims)""".stripMargin

  /** Scalar-subquery mirror of the derived retrieval probe count over
    * the `cents` CTE — every SQL-side `arnk <=` bound on the probe
    * index uses this, in lockstep with the `probes` column [[ivfAssign]]
    * carries.
    */
  private def retrievalProbesSql: String = derivedProbesSql

  /** SQL tail for ivfTop5 (CTE names cents/csims/assign/ipairs/approx;
    * expects `nrms` in scope). Shared by q68 and q89.
    */
  private def ivfTailCtes: String =
    s"""$ivfAssignCtes,
       |ipairs AS (
       |  SELECT v.vec_id, p.vec_id AS qid, MAX(v.nrm) AS vn, MAX(q.nrm) AS qn,
       |         ${VectorOps.dotDecimalSql("v.embedding", "q.embedding")} AS dot
       |  FROM assign d
       |  JOIN nrms v ON v.vec_id = d.vec_id
       |  JOIN assign p ON p.cid = d.cid AND p.arnk <= $retrievalProbesSql
       |       AND p.vec_id IN (${KnnQueryIds.mkString(", ")})
       |       AND p.vec_id <> d.vec_id
       |  JOIN nrms q ON q.vec_id = p.vec_id,
       |       range(1, ${VectorOps.Dim + 1}) t(i)
       |  WHERE d.arnk = 1
       |  GROUP BY v.vec_id, p.vec_id),
       |approx AS (
       |  SELECT qid, vec_id, rnk, round(cos, 6) AS cos FROM (
       |    SELECT qid, vec_id, dot / (vn * qn) AS cos,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY dot / (vn * qn) DESC, vec_id ASC) AS rnk
       |    FROM ipairs) r
       |  WHERE rnk <= 5)""".stripMargin

  // ---- int8 scalar quantization (q131) -----------------------------------

  /** Int8 scalar quantization of an embedding against its own L2 norm:
    * component i ↦ ⌊127·xᵢ/‖x‖ + 0.5⌋. Unit-normalizing first bounds the
    * code by ±127 and the integer candidate dot by Dim·127² ≪ 2⁶³. Every
    * step (float→double cast, ·127, /‖x‖, +0.5, floor) is exactly-rounded
    * IEEE arithmetic on identical inputs, so Spark and DuckDB mint
    * bit-identical codes — no decimal machinery on the candidate path.
    * This is the FAISS-style SQ8 shape: the candidate stage of a float32
    * embedding corpus scans 4× fewer bytes and does integer MACs; full
    * precision is paid only for the rerank shortlist.
    */
  private def int8Quant(emb: Column, nrm: Column): Column =
    transform(emb, x =>
      floor(x.cast("double") * lit(127.0) / nrm + lit(0.5)).cast("long"))

  /** Exact integer dot of two quantized vectors — the native
    * `vec_dot_long` Catalyst expression (functions/VectorExprs.scala):
    * one codegen'd long-MAC loop inside whole-stage codegen, vs the
    * zip_with+aggregate HOF form whose per-element lambda evaluation is
    * CodegenFallback. The candidate stage is the hot path the SQ8 shape
    * exists to cheapen, so it must stay inside codegen.
    */
  private def intDot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecDotLong(a, b)

  // ---- DSIR importance selection (q133) ----------------------------------

  /** Hashed-feature space size for [[dsirSelect]] — fixed, so the model
    * tables are O(DsirBuckets) and broadcast regardless of corpus size.
    */
  private[graft] val DsirBuckets = 1024L

  /** Hashed-bigram model size for q139 — fixed, so the LM table is
    * O(BigramBuckets) and broadcasts regardless of corpus size (the
    * DSIR bucketing idiom one n-gram order up).
    */
  private[graft] val BigramBuckets = 4096L

  /** q140's deterministic messy-URL fixture: (doc_id, url_raw). The
    * canonical key is (source host, doc_id % 60); sources are the
    * doc_id % 20 classes, so ids s, s+60, s+120, … land on the SAME
    * canonical URL — every canonical group carries ~n/3 planted recrawl
    * variants at any SF.
    */
  private[graft] def syntheticUrls(docs: DataFrame): DataFrame = {
    val host = concat(col("source"), lit(".example.com"))
    val path = concat(lit("/p/"), pmod(col("doc_id"), lit(60)).cast("string"))
    val url = when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit("http://WWW."), host, lit(":80"), path, lit("/")))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(lit("https://"), host, path, lit("?utm_source=feed")))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        concat(lit("HTTPS://"), upper(host), path))
      .otherwise(concat(lit("https://www."), host, path))
    docs.select(col("doc_id"), url.as("url_raw"))
  }

  /** Canonical URL form — the fixed anchored-rewrite chain q140 hashes
    * and the streaming crawl-frontier probe reuses: scheme→https,
    * lowercase, strip leading www / default port / query / trailing
    * slash. Pure map-side scalar work.
    */
  private[graft] def canonicalizeUrl(url: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(url), "^http://", "https://"),
            "://www\\.", "://"),
          ":80/", "/"),
        "\\?.*$", ""),
      "/$", "")

  /** Winnowing gram length / window (q134): guarantee = detect every
    * shared substring ≥ k + w − 1 = 60 chars, match nothing < 40.
    */
  private[graft] val WinnowK = 40
  private[graft] val WinnowW = 21

  /** Bucket-occupancy cap for winnow fingerprints: a hash carried by more
    * docs than this is boilerplate (license headers, templates), not
    * duplication — its bucket's pairs would grow quadratically in hub
    * size at web scale. Far above any test-SF bucket, so the oracle
    * mirror keeps hashes exact.
    */
  private[graft] val WinnowHubCap = 1000L

  /** Hub-capped winnow fingerprints (doc_id, h, pos) of `docs` — THE
    * fingerprint builder q134 and the streaming corpus index share (one
    * place for the shift/mask/cap arithmetic). localCheckpoint'd: the
    * frame feeds both the hub-count aggregate and its consumer's join,
    * and without materialization the O(len) fingerprint pass would run
    * once per consumer.
    */
  private[graft] def winnowFingerprints(docs: DataFrame,
      textCol: String): DataFrame = {
    val fpAll = winnowFingerprintsUncapped(docs, textCol)
    fpAll.join(fpAll.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") <= WinnowHubCap).select("h"), Seq("h"))
  }

  /** The UNCAPPED fingerprint half of [[winnowFingerprints]] — the
    * streaming corpus index builds on this so the cap can be applied
    * solely at probe time over the true corpus + batch occupancy (see
    * graft.streaming.StreamingDedup.winnowMatchesBatch): a build-time
    * cap would freeze corpus-only occupancy into the index and make the
    * probe's combined nd_c + nd_b check unable to see it.
    */
  private[graft] def winnowFingerprintsUncapped(docs: DataFrame,
      textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
        explode(graft.functions.GraftFunctions
          .winnowKeys(col(textCol), WinnowK, WinnowW)).as("key"))
      .select(col("doc_id"), shiftright(col("key"), 33).as("h"),
        col("key").bitwiseAND(lit(graft.functions.WinnowImpl.PosShift - 1))
          .as("pos"))
      .localCheckpoint()
  }

  /** Verified winnow gram matches of a corpus against itself: hub-capped
    * fingerprints ([[winnowFingerprints]]), hash-equi-join candidates
    * (slim id/pos rows only), then SUBSTRING-EQUALITY verification so
    * polynomial-hash collisions can't surface. One row per verified
    * matching fingerprint: (doc_a, doc_b, h, pos_a, pos_b), doc_a <
    * doc_b. Shared by q134 (which aggregates it to overlap pairs) and
    * q136 (which excises the matched spans).
    */
  private[graft] def winnowVerifiedGrams(docs: DataFrame): DataFrame = {
    val fp = winnowFingerprints(docs, "text2")
    val cand = fp.as("a").join(fp.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.h").as("h"), col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("text2").as("ta")),
        Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text2").as("tb")),
        Seq("doc_b"))
      .filter(col("ta").substr(col("pos_a").cast("int"), lit(WinnowK)) ===
        col("tb").substr(col("pos_b").cast("int"), lit(WinnowK)))
      .select("doc_a", "doc_b", "h", "pos_a", "pos_b")
  }

  /** Exact-span dedup REMOVAL (the Lee et al. 2022 "deduplicating
    * training data" shape, built on q134's verified positions): for every
    * verified overlap pair the LOWER-priority doc (q126's keep rule:
    * source priority asc, n_chars desc, doc_id asc — the winner keeps
    * its text) has the matched fingerprint grams excised. Matched grams
    * within one shared passage sit ≤ w grams apart (winnowing selects
    * one per window) and each spans k chars, so their [pos, pos+k−1]
    * intervals overlap and MERGE into one contiguous span covering the
    * detected core of the passage (up to w grams of slack at each edge
    * — the detection guarantee is ≥ w+k−1-char substrings, and removal
    * covers everything the guarantee detects). Interval merge is the
    * gaps-and-islands window (the q90 idiom); reassembly concatenates
    * the per-island kept segments — all shuffles carry slim (doc, pos)
    * rows, texts re-attach by id.
    *
    * `docs` must carry (doc_id, text2, priority, n_chars). Output: one
    * row per EXCISED doc — (doc_id, n_spans, chars_removed, text_clean);
    * untouched docs (every pair's winner, matchless docs) don't appear.
    */
  private[graft] def winnowSpanDedup(docs: DataFrame): DataFrame = {
    val ver = winnowVerifiedGrams(docs)
    val aAttr = docs.select(col("doc_id").as("doc_a"),
      col("priority").as("p_a"), col("n_chars").as("nc_a"))
    val bAttr = docs.select(col("doc_id").as("doc_b"),
      col("priority").as("p_b"), col("n_chars").as("nc_b"))
    val aWins = col("p_a") < col("p_b") ||
      (col("p_a") === col("p_b") && (col("nc_a") > col("nc_b") ||
        (col("nc_a") === col("nc_b") && col("doc_a") < col("doc_b"))))
    val spans = ver.join(aAttr, Seq("doc_a")).join(bAttr, Seq("doc_b"))
      .select(
        when(aWins, col("doc_b")).otherwise(col("doc_a")).as("doc_id"),
        when(aWins, col("pos_b")).otherwise(col("pos_a")).as("pos"))
      .distinct()
    val byDoc = Window.partitionBy("doc_id").orderBy("st")
    val iv = spans
      .select(col("doc_id"), col("pos").as("st"),
        (col("pos") + lit(WinnowK - 1)).as("en"))
      .withColumn("pmax", max("en").over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("st") > col("pmax") + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val islands = iv.groupBy("doc_id", "island")
      .agg(min("st").as("st"), max("en").as("en"))
    val byDocSt = Window.partitionBy("doc_id").orderBy("st")
    val segs = islands
      .withColumn("seg_start",
        coalesce(lag("en", 1).over(byDocSt) + 1, lit(1L)))
      .join(docs.select("doc_id", "text2"), Seq("doc_id"))
      .select(col("doc_id"), col("st"), col("en"),
        col("text2").substr(col("seg_start").cast("int"),
          (col("st") - col("seg_start")).cast("int")).as("seg"))
    segs.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("en") - col("st") + 1).as("chars_removed"),
        array_join(transform(
          array_sort(collect_list(struct(col("st"), col("seg")))),
          x => x.getField("seg")), "").as("head"),
        max("en").as("laste"))
      .join(docs.select("doc_id", "text2"), Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("chars_removed"),
        concat(col("head"),
          col("text2").substr((col("laste") + 1).cast("int"),
            lit(1 << 30))).as("text_clean"))
  }

  /** DuckDB mirror of [[winnowVerifiedGrams]]: CTE chain `grams` → `ver`
    * over a `docs2(doc_id, text2, …)` CTE the caller defines. `ver` has
    * (doc_a, doc_b, h, pos_a, pos_b). Shared by the q134 and q136
    * oracles so the fingerprint/verify arithmetic cannot drift between
    * them.
    */
  /** The fingerprint half alone (`grams` → `fp0`, no hub cap) — q143's
    * within-doc repeat detector consumes fp0 directly (a corpus hub cap
    * has no business gating a single document's self-repeats).
    */
  private[graft] val winnowFpSqlCtes: String =
    s"""grams AS (
       |  SELECT doc_id, unnest([
       |    struct_pack(pos := CAST(i AS BIGINT),
       |      h := list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             [CAST(ascii(text2[j:j]) AS BIGINT)
       |              FOR j IN range(i, i + $WinnowK)]),
       |           (acc, x) -> (acc * 131 + x) % 1000000007))
       |    FOR i IN range(1, len(text2) - $WinnowK + 2)], recursive := true)
       |  FROM docs2 WHERE len(text2) >= $WinnowK),
       |keys AS (
       |  SELECT doc_id, pos, h * 8589934592 + pos AS key,
       |         count(*) OVER (PARTITION BY doc_id) AS m
       |  FROM grams),
       |sel AS (
       |  SELECT DISTINCT doc_id, mink AS key
       |  FROM (SELECT doc_id, pos, m,
       |               min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS mink
       |        FROM keys) s
       |  WHERE pos <= greatest(1, m - $WinnowW + 1)),
       |fp0 AS (
       |  SELECT doc_id, key // 8589934592 AS h, key % 8589934592 AS pos
       |  FROM sel)""".stripMargin

  private[graft] val winnowVerSqlCtes: String =
    s"""$winnowFpSqlCtes,
       |fp AS (
       |  SELECT f.* FROM fp0 f
       |  JOIN (SELECT h FROM fp0 GROUP BY h
       |        HAVING COUNT(DISTINCT doc_id) <= $WinnowHubCap) ok
       |    ON f.h = ok.h),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.h,
       |         a.pos AS pos_a, b.pos AS pos_b
       |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id),
       |ver AS (
       |  SELECT c.doc_a, c.doc_b, c.h, c.pos_a, c.pos_b
       |  FROM cand c
       |  JOIN docs2 ta ON ta.doc_id = c.doc_a
       |  JOIN docs2 tb ON tb.doc_id = c.doc_b
       |  WHERE substring(ta.text2, CAST(c.pos_a AS INTEGER), $WinnowK) =
       |        substring(tb.text2, CAST(c.pos_b AS INTEGER), $WinnowK))""".stripMargin

  /** q134's planted passage for doc_id % 51 < 3: the group id is embedded
    * every ~12 chars, so every 40-char gram of the quote is GROUP-specific
    * — distinct groups share no k-gram (two distinct repeated units of
    * period < 13 cannot share a 40-char substring), and the planted pair
    * set stays 3-per-group LINEAR in the corpus. The first fixture had a
    * constant ≥ 60-char tail shared by every planted doc — a corpus-wide
    * clique that measured exponent 1.04 at 30× (39M pairs at 150k docs).
    */
  private[graft] def winnowQuote(docId: Column): Column =
    when(pmod(docId, lit(51)) < 3,
      concat(lit(" >> "),
        repeat(concat(lit("quote"),
          (docId / lit(51)).cast("long").cast("string"), lit("block ")), 6),
        lit("<<")))
      .otherwise(lit(""))

  /** SQL mirror of [[winnowQuote]]. */
  private[graft] def winnowQuoteSql: String =
    """CASE WHEN doc_id % 51 < 3
      |  THEN ' >> ' || repeat('quote' || CAST(doc_id // 51 AS VARCHAR) || 'block ', 6) || '<<'
      |  ELSE '' END""".stripMargin

  /** Driver-side twin for specs. */
  private[graft] def winnowQuoteStr(id: Long): String =
    if (id % 51 < 3) " >> " + (s"quote${id / 51}block " * 6) + "<<" else ""

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): fit two hashed
    * bag-of-words unigram models — one on the TARGET slice, one on the raw
    * pool — and keep the raw documents whose importance weight
    * log p_target(doc) − log p_raw(doc) lands in the top ≈ keepNum/keepDen
    * of the pool.
    *
    * Selection is THRESHOLDED on the integer-floor histogram of the
    * weights, not ranked: a global top-k needs a full sort of the pool,
    * while the histogram is one tiny aggregate (O(weight range) rows) and
    * the selection a broadcast-threshold filter — the 100 TB shape. The
    * crossing bucket is kept whole, so the realized fraction can slightly
    * exceed the ask, deterministically in both engines.
    *
    * Cross-engine exactness: the two per-bucket log-probabilities truncate
    * to DECIMAL(28,12) BEFORE the per-doc sum (the q66 idiom — libm vs JVM
    * ln differ in the last ulp, invisible at 12 dp; the decimal sum is
    * then order-independent), and the thresholds are integer floors of
    * exact decimals. Shapes: one conditional-sum aggregate builds both
    * models in one pass, the O(buckets) model broadcasts into the token
    * scoring join, and the per-doc re-aggregate gets map-side partials.
    */
  def dsirSelect(docs: DataFrame, isTarget: Column,
      keepNum: Int, keepDen: Int): DataFrame = {
    // ONE token explode for the whole query: pre-aggregate to per-doc
    // bucket counts and materialize — the model fit and the pool scoring
    // both derive from this frame (previously each re-ran the explode +
    // md5: two full corpus scans). n-weighted decimal sums are exact, so
    // per-token sum(term) ≡ sum(term·n) bit-for-bit.
    val tc = dsirTokenCounts(dsirTokens(docs, isTarget)).localCheckpoint()
    // Materialized: the histogram threshold and the keep filter both
    // consume the pool scoring — without it, the broadcast join +
    // per-doc aggregate would re-run per consumer.
    val scored = dsirScore(tc.filter(!col("is_target")), dsirModel(tc))
      .localCheckpoint()
    dsirKeep(scored, dsirThreshold(scored, keepNum, keepDen))
  }

  /** Hash-bucketed tokens (doc_id, source, lang, is_target, bucket) —
    * the shared tokenize step of [[dsirSelect]] and the streaming scorer.
    */
  private[graft] def dsirTokens(docs: DataFrame, isTarget: Column): DataFrame =
    docs
      .select(col("doc_id"), col("source"), col("lang"),
        isTarget.as("is_target"),
        explode(TextOps.words(col("text"))).as("word"))
      .withColumn("bucket", pmod(TextOps.md5Mod(col("word")), lit(DsirBuckets)))
      .drop("word")

  /** Per-doc bucket counts (doc_id, source, lang, is_target, bucket, n)
    * — the aggregate every dsir consumer actually needs (the model sums
    * n by bucket; the scorer weights the bucket term by n). Aggregating
    * once directly after the explode lets one materialized frame replace
    * repeated full token explodes, with bit-identical decimal sums.
    */
  private[graft] def dsirTokenCounts(toks: DataFrame): DataFrame =
    toks.groupBy("doc_id", "source", "lang", "is_target", "bucket")
      .agg(count(lit(1)).as("n"))

  /** The fitted (bucket, term) importance model, term = log p_target −
    * log p_raw at DECIMAL(28,12). Both unigram models in ONE aggregate
    * pass (conditional sums) over the [[dsirTokenCounts]] frame
    * (n-weighted — exactly the per-token counts), densified to ALL
    * DsirBuckets buckets: a bucket absent from the fit corpus still has
    * its defined smoothed term (+1 smoothing gives log((tr+B)/(tt+B))),
    * so the streaming scorer's inner join cannot drop novel-vocabulary
    * tokens of an arriving crawl batch (fit-corpus scoring can't hit the
    * gap — its own tokens built the model — which is why only the
    * deployment shape would have seen it). Terms for observed buckets
    * and the totals are unchanged, so the batch q133 output and its
    * oracle are identical. Totals attach as a broadcast 1-row aggregate
    * over the materialized O(buckets) count frame — one corpus pass.
    */
  private[graft] def dsirModel(tc: DataFrame): DataFrame = {
    val counts = tc.sparkSession.range(DsirBuckets)
      .select(col("id").as("bucket"))
      .join(tc.groupBy("bucket")
        .agg(sum(when(col("is_target"), col("n")).otherwise(0L)).as("ct0"),
          sum(when(col("is_target"), lit(0L)).otherwise(col("n"))).as("cr0")),
        Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("ct0"), lit(0L)).as("ct"),
        coalesce(col("cr0"), lit(0L)).as("cr"))
      .localCheckpoint()
    val tot = counts.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (log((col("ct") + 1).cast("double") /
            (col("tt") + DsirBuckets).cast("double")).cast("decimal(28,12)") -
          log((col("cr") + 1).cast("double") /
            (col("tr") + DsirBuckets).cast("double")).cast("decimal(28,12)"))
          .as("term"))
  }

  /** Per-doc importance weights (doc_id, source, lang, n_tokens, logw)
    * over a [[dsirTokenCounts]] frame: the O(buckets) model broadcasts
    * into the count-weighted scoring join and the per-doc re-aggregate
    * gets map-side partials. sum(term·n) ≡ the per-token sum(term)
    * exactly (decimal arithmetic).
    */
  private[graft] def dsirScore(tc: DataFrame, model: DataFrame): DataFrame =
    tc.join(broadcast(model), Seq("bucket"))
      .groupBy("doc_id", "source", "lang")
      // (25,12)·(12,0) → decimal(38,12): scale-12-exact product (term is
      // a (29,12) difference; term·bigint would exceed precision 38 and
      // Spark would cut the scale to 6 — a 1-ulp drift vs the per-token
      // sum). Value-preserving casts: |term| < 10^13, n < 10^12.
      .agg(sum("n").as("n_tokens"),
        sum(col("term").cast("decimal(25,12)") *
          col("n").cast("decimal(12,0)")).as("logw"))

  /** The fitted keep threshold (1-row frame): the highest floor-bucket
    * whose from-the-top cumulative count reaches k =
    * ceil(n·keepNum/keepDen); keeping the crossing bucket whole. (n·
    * keepNum + keepDen−1 ≪ 2^53, so the double floor-div is exact in
    * both engines.) Keyed on fb (nullable sum-derived), not cnt:
    * count(*) is non-nullable, so cnt*0 folds to a literal and the key
    * is stripped.
    */
  private[graft] def dsirThreshold(scored: DataFrame,
      keepNum: Int, keepDen: Int): DataFrame = {
    // Window keyed on fb (nullable sum-derived), not cnt: count(*) is
    // non-nullable, so cnt*0 folds to a literal and the key is stripped.
    val wDesc = Window.partitionBy(col("fb") * lit(0L)).orderBy(col("fb").desc)
    val hist = scored.select(floor(col("logw")).cast("long").as("fb"))
      .groupBy("fb").agg(count(lit(1)).as("cnt"))
    // n derives from the O(weight-range) histogram — no extra pass over
    // the pool scoring (every scored row lands in exactly one bucket).
    val nPool = hist.agg(sum("cnt").as("n"))
    hist
      .withColumn("cum", sum("cnt").over(wDesc))
      .crossJoin(broadcast(nPool))
      .filter(col("cum") >=
        floor((col("n") * keepNum + (keepDen - 1)) / lit(keepDen.toDouble))
          .cast("long"))
      .agg(max("fb").as("thr"))
  }

  /** Threshold filter + output projection, shared by [[dsirSelect]] and
    * the streaming scorer (so batch and stream keep decisions cannot
    * drift).
    */
  private[graft] def dsirKeep(scored: DataFrame, thr: DataFrame): DataFrame =
    scored.crossJoin(broadcast(thr))
      .filter(floor(col("logw")).cast("long") >= col("thr"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        round(col("logw").cast("double"), 6).as("logw"))

  /** The decontamination family's shared input: the planted-passage corpus
    * exploded to (doc_id, is_bench, n_shingles, shingle) — shingle NULL for
    * docs shorter than the 5-gram window (explode_outer keeps them). The
    * 5-word shingle build (split + windowed concat + distinct) is the
    * dominant scalar in q56/q104, so it is memoized like the gram and band
    * frames and both consumers read the cached frame.
    */
  val PlantedPassage = " shared benchmark passage alpha beta gamma delta epsilon zeta"

  val plantedShingles = Memo.frame("shingles") { (s, d) =>
    val isBench = pmod(col("doc_id"), lit(97)) === 0
    val planted = concat(col("text"),
      when(isBench || pmod(col("doc_id"), lit(13)) === 0, lit(PlantedPassage))
        .otherwise(lit("")))
    fanOut(Tables.documents(s, d))
      .select(col("doc_id"), isBench.as("is_bench"),
        TextOps.wordShingles(planted, 5).as("grams"))
      .select(col("doc_id"), col("is_bench"),
        size(col("grams")).cast("long").as("n_shingles"),
        explode_outer(col("grams")).as("shingle"))
      .cache()
  }

  /** q41's MinHash-LSH candidate pairs (doc_a, doc_b) — also the
    * approximate side of the q99 recall eval and the signature store the
    * incremental variant (q100) probes. Explode shingles and hash each
    * ONCE (md5-based, so DuckDB computes the identical value); the k
    * min-hashes are then cheap arithmetic inside a codegen'd
    * hash-aggregate with map-side partial mins — one shuffle of (doc, k
    * mins), no re-evaluation of the shingle expression per hash function.
    * Band keys are the raw (min, min) value pairs, not a re-hash: exact
    * values join identically in both engines and can't collide falsely.
    */
  private[queries] val LshBands = 16
  private[queries] val LshRowsPerBand = 2

  /** (doc_id, band, v1, v2) band-bucket rows for an arbitrary
    * (doc_id, text) frame — the unit the corpus band index stores and the
    * streaming dedup (graft.streaming.StreamingDedup) computes per
    * arriving micro-batch.
    */
  def bandRowsFor(docs: DataFrame): DataFrame = {
    val hx = docs
      .select(col("doc_id"),
        explode(TextOps.wordShingles(col("text"), 3)).as("shingle"))
      .select(col("doc_id"), TextOps.md5Mod(col("shingle")).as("x"))
    val aggs = TextOps.minhashParams(LshBands * LshRowsPerBand).zipWithIndex.map {
      case ((a, b), i) =>
        min(pmod(col("x") * a + b, lit(TextOps.MinhashP))).as(s"m$i")
    }
    val sig = hx.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    sig.select(
      col("doc_id"),
      explode(array((0 until LshBands).map(bi =>
        struct(lit(bi.toLong).as("band"),
          col(s"m${bi * LshRowsPerBand}").as("v1"),
          col(s"m${bi * LshRowsPerBand + 1}").as("v2"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.v1").as("v1"), col("bb.v2").as("v2"))
  }

  // q41, q99 and q100 all consume the identical full-corpus band frame —
  // memoized like the gram frame so the signature build (shingle explode +
  // md5 per shingle) runs once per (session, dir), not once per consumer.
  // The streaming path (StreamingDedup) calls bandRowsFor directly on its
  // per-batch arrivals and never touches this cache.
  private val lshBandRows = Memo.frame("minhash_bands") { (s, d) =>
    bandRowsFor(fanOut(docsWithDups(s, d)
      .select("doc_id", "text"))).cache()
  }

  /** CTE chain ending in `bands(doc_id, band, v1, v2)` ≡ [[lshBandRows]]
    * (expects docs2 and [[gramsCte]] in scope). Generated from the SAME
    * minhashParams, so the oracle can never drift from the Spark hash
    * family.
    */
  private def lshBandCtes: String = {
    val minCols = TextOps.minhashParams(LshBands * LshRowsPerBand).zipWithIndex
      .map { case ((a, b), i) =>
        s"MIN(($a * x + $b) % ${TextOps.MinhashP}) AS m$i"
      }
      .mkString(",\n         ")
    val bandSelects = (0 until LshBands)
      .map(bi =>
        s"SELECT doc_id, CAST($bi AS BIGINT) AS band, " +
          s"m${bi * LshRowsPerBand} AS v1, m${bi * LshRowsPerBand + 1} AS v2 FROM sig")
      .mkString("\n  UNION ALL ")
    s"""hx AS (
       |  SELECT doc_id, ${TextOps.md5ModSql("mh")} AS x
       |  FROM (SELECT doc_id, md5(shingle) AS mh
       |        FROM (SELECT g.doc_id, unnest(g.grams) AS shingle FROM grams g))),
       |sig AS (
       |  SELECT doc_id, $minCols
       |  FROM hx GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  private def lshCandidates(s: SparkSession, d: String): DataFrame = {
    val bands = lshBandRows(s, d)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.v1") === col("b.v1") &&
          col("a.v2") === col("b.v2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  // Cached: both Jaccard builders read it three times (sizes and the two
  // token-join sides) — Spark does not share work across join branches
  // without explicit materialization. (~2KB/doc.)
  private val gramFrame = Memo.frame("grams") { (s, d) =>
    fanOut(docsWithDups(s, d))
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextOps.wordShingles(col("text"), 3).as("grams"))
      .cache()
  }

  /** (doc_id, source, n_chars, g_sz): candidate pairs carry only ids and
    * set sizes, no arrays through the join.
    */
  private def gramSizes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_chars"),
      size(col("grams")).as("g_sz"))

  /** Exact verify of candidate pairs (doc_a, doc_b, sz_a, sz_b) against
    * the gram frame: (doc_a, doc_b, jaccard >= 0.5). Intersection sizes
    * via token equi-joins (set-similarity join shape): per-pair
    * array_intersect on string arrays is O(|A|·|B|) scans — 150µs per
    * pair — while exploded tokens hash-join and count in bulk.
    */
  private def verifyJaccard(cand: DataFrame, docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"), explode(col("grams")).as("gram"))
    val inter = cand
      .join(tokens.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(tokens.as("tb"),
        col("doc_b") === col("tb.doc_id") && col("ta.gram") === col("tb.gram"))
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Every near-dup pair (doc_a, doc_b, jaccard >= 0.5) — q99's exact
    * truth side. Length-banded candidate join: the |n_chars diff| <= 20
    * predicate confines a match to the same or an adjacent 32-char
    * bucket, so emitting the right side under its 3 candidate buckets
    * makes this a pure equi-join on (source, bucket) with an IDENTICAL
    * result set (each qualifying pair matches exactly one key). A bucket
    * still grows with the corpus, so candidates grow with its square:
    * production dedup (q43/q52) uses [[bandedJaccardPairs]].
    */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val docs = gramFrame(s, d)
    val sizes = gramSizes(docs)
    val left = sizes.withColumn("bucket", (col("n_chars") / 32).cast("long"))
    val right = sizes.withColumn("bucket",
      explode(array(Seq(-1, 0, 1).map(o => (col("n_chars") / 32).cast("long") + o): _*)))
    val cand = left.as("a").join(right.as("b"),
        col("a.source") === col("b.source") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= 20)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.g_sz").as("sz_a"), col("b.g_sz").as("sz_b"))
    verifyJaccard(cand, docs)
  }

  // The production-shaped verified pair list: banded candidates -> exact
  // verify (q43/q52/q126 consume it; q99 keeps the exact builder as its
  // independent truth side).
  private val bandedJaccardPairs = Memo.frame("jaccard_banded") { (s, d) =>
    bandedJaccardPairsBuild(s, d).cache()
  }

  /** [[jaccardPairs]] with the candidate stage routed through the
    * MinHash band index instead of the length-bucket self-join: band
    * buckets are (min, min) hash-value pairs, near-uniform over the hash
    * modulus, so occupancy — and with it the candidate count — stays flat
    * as the corpus grows, where the 32-char length buckets fill LINEARLY
    * and made the verify stage quadratic (measured exponent 1.49 over a
    * 10× replication; the banded path re-measured at ~0.3). Candidates
    * keep the same-source + |Δn_chars| <= 20 gate and the exact token-
    * join verify, so on data where the bands reach every >= 0.5 pair
    * (PipelineQueriesSpec pins it for the test corpora) the output is
    * IDENTICAL to the exact builder; band misses are the standard MinHash
    * trade and the oracle mirrors the banded scheme exactly.
    */
  private def bandedJaccardPairsBuild(s: SparkSession, d: String): DataFrame = {
    val docs = gramFrame(s, d)
    val sizes = gramSizes(docs)
    val cand = lshCandidates(s, d)
      .join(sizes.select(col("doc_id").as("doc_a"), col("source").as("src_a"),
        col("n_chars").as("nc_a"), col("g_sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("source").as("src_b"),
        col("n_chars").as("nc_b"), col("g_sz").as("sz_b")), Seq("doc_b"))
      .filter(col("src_a") === col("src_b") &&
        abs(col("nc_a") - col("nc_b")) <= 20)
      .select("doc_a", "doc_b", "sz_a", "sz_b")
    verifyJaccard(cand, docs)
  }

  /** `grams(doc_id, source, n_chars, grams)` ≡ [[gramFrame]] (expects
    * docs2 in scope): each document's distinct word 3-grams.
    */
  private val gramsCte: String =
    """grams AS (
      |  SELECT doc_id, source, n_chars,
      |         list_distinct([array_to_string(w[i:i+2], ' ')
      |                        FOR i IN range(1, greatest(len(w) - 2, 0) + 1)]) AS grams
      |  FROM (SELECT doc_id, source, n_chars, string_split(text, ' ') AS w FROM docs2))""".stripMargin

  /** CTE chain ending in `jpairs(doc_a, doc_b, jaccard)` ≡ [[jaccardPairs]]. */
  private val jaccardPairsCtes: String =
    s"""$docs2Cte,
       |$gramsCte,
       |jpairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |                 CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) AS jaccard
       |    FROM grams a JOIN grams b
       |      ON a.source = b.source AND a.doc_id < b.doc_id
       |     AND abs(a.n_chars - b.n_chars) <= 20) t
       |  WHERE jaccard >= 0.5)""".stripMargin

  /** CTE chain ending in `jpairs(doc_a, doc_b, jaccard)` ≡
    * [[bandedJaccardPairs]]: the MinHash band CTEs (the q41 family)
    * generate the candidates, the exact gram intersection verifies them
    * under the same same-source + length gate.
    */
  private val bandedJaccardPairsCtes: String =
    s"""$docs2Cte,
       |$gramsCte,
       |$lshBandCtes,
       |bcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
       |   AND a.doc_id < b.doc_id),
       |jpairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT c.doc_a, c.doc_b,
       |           round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
       |                 CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE), 6) AS jaccard
       |    FROM bcand c
       |    JOIN grams ga ON c.doc_a = ga.doc_id
       |    JOIN grams gb ON c.doc_b = gb.doc_id
       |    WHERE ga.source = gb.source AND abs(ga.n_chars - gb.n_chars) <= 20) t
       |  WHERE jaccard >= 0.5)""".stripMargin

  // ---- q149 PQ-ADC builders (shared by q149 and the q152 recall audit) --

  /** The PQ-ADC top-5 frame (qid, vec_id, rnk, cos, acos) — q149's body,
    * factored so the recall eval (q152) measures the identical plan. See
    * the q149 QueryDef scaladoc for the full design.
    */
  /** The PQ INDEX — (codebook, per-vector codes) — memoized like
    * [[ivfAssign]]: a deployment trains the codebook and encodes the
    * corpus once, then serves many queries against it, and q149 + q152
    * both consume exactly this pair (the encode is n·M·K decimal
    * distance evaluations — the dominant PQ cost — and re-ran per
    * consumer before the memo). Built in the warm phase as the
    * `pq_codes` step so its cost is reported, not charged to whichever
    * consumer runs first.
    */
  private[graft] val pqIndex = Memo[(DataFrame, DataFrame)]("pq_codes",
      p => Seq(p._1, p._2)) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val e = embNorms(s, d)
    // Sampled codebook: PqK training vectors stride-picked by id
    // (codebook SIZE is fixed — a compression knob — while the pick
    // stride derives from n so the sample spans the corpus).
    val params = e.agg(count(lit(1)).as("n")).select(
      greatest(lit(1L), (col("n") / lit(PqK)).cast("long")).as("cstride"))
    val train = e.crossJoin(broadcast(params))
      .filter(pmod(col("vec_id"), col("cstride")) ===
        pmod(lit(5L), col("cstride")))
      .withColumn("k", row_number().over(Window.orderBy(col("vec_id").asc)))
      .filter(col("k") <= PqK)
    val cb = train
      .select(col("k"), explode(pqSubStructs(col("embedding"))).as("mc"))
      .select(col("k"), col("mc.m").as("m"), col("mc.sv").as("cw"))
      .cache()
    // Encode: per (vector, subspace) argmin-d2 codeword (k tiebreak).
    // groupBy min(struct) = map-side partial argmin — no window
    // shuffle of the n×M×K scored rows.
    val codes = e
      .select(col("vec_id"), explode(pqSubStructs(col("embedding"))).as("ms"))
      .select(col("vec_id"), col("ms.m").as("m"), col("ms.sv").as("sv"))
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("k"),
        VectorOps.dist2Decimal(col("sv"), col("cw")).as("d2"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("k"))).as("mk"))
      .select(col("vec_id"), col("m"), col("mk.k").as("k"))
      .cache()
    (Memo.materialize(cb), Memo.materialize(codes))
  }

  private def pqSubStructs(frame: Column): Column = array((0 until PqM).map(m =>
    struct(lit(m).as("m"),
      slice(frame, m * PqSubDim + 1, PqSubDim).as("sv"))): _*)

  private def pqAdcTop5(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = embNorms(s, d)
    val (cb, codes) = pqIndex(s, d)
    val subStructs = pqSubStructs(_)
    // ADC lookup table: query-subvector · codeword exact decimal
    // dots — PqM·PqK rows per query, broadcast at any corpus size.
    val qlut = e.filter(col("vec_id").isin(KnnQueryIds: _*))
      .select(col("vec_id").as("qid"),
        explode(subStructs(col("embedding"))).as("qs"))
      .select(col("qid"), col("qs.m").as("m"), col("qs.sv").as("qsv"))
      .join(broadcast(cb), Seq("m"))
      .select(col("qid"), col("m"), col("k"),
        VectorOps.dotDecimal(col("qsv"), col("cw")).as("pdot"))
    val assign = ivfAssign(s, d)
    val cand = assign.filter(col("arnk") === 1)
      .select(col("vec_id"), col("cid"))
      .join(assign
        .filter(col("vec_id").isin(KnnQueryIds: _*) &&
            col("arnk") <= col("probes"))
        .select(col("vec_id").as("qid"), col("cid")), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val byAdc = Window.partitionBy("qid")
      .orderBy(col("adot").desc, col("vec_id").asc)
    // Shortlist bound = PqShortPerProbe × the derived probe count the
    // assign frame already carries — in-plan, so the rerank budget
    // tracks the candidate volume at every scale.
    val pframe = assign.select(col("probes")).distinct()
    val short = cand.join(codes, Seq("vec_id"))
      .join(broadcast(qlut), Seq("qid", "m", "k"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("pdot").cast("decimal(30,18)")).cast("double").as("adot"))
      .withColumn("srnk", row_number().over(byAdc))
      .crossJoin(broadcast(pframe))
      .filter(col("srnk") <= lit(PqShortPerProbe) * col("probes"))
      .drop("srnk", "probes")
    val qemb = e.filter(col("vec_id").isin(KnnQueryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val byCos = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    short.join(e.select("vec_id", "embedding", "nrm"), Seq("vec_id"))
      .join(broadcast(qemb), Seq("qid"))
      .withColumn("cos",
        VectorOps.dotDecimal(col("embedding"), col("qe")) /
          (col("nrm") * col("qn")))
      .withColumn("rnk", row_number().over(byCos))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("vec_id"), col("rnk"),
        round(col("cos"), 6).as("cos"),
        round(col("adot") / (col("nrm") * col("qn")), 6).as("acos"))
  }

  /** SQL CTE chain mirroring [[pqAdcTop5]], ending in
    * `pqtop(qid, vec_id, rnk, cos, acos)`; expects `nrms` and the
    * [[ivfAssignCtes]] (`assign`) in scope. Shared by q149 and q152.
    */
  private def pqAdcCtes: String =
    s"""params AS (SELECT greatest(1, COUNT(*) // $PqK) AS cstride FROM nrms),
       |train AS (
       |  SELECT vec_id, embedding,
       |         ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS k
       |  FROM nrms, params WHERE vec_id % cstride = 5 % cstride),
       |cb AS (
       |  SELECT k, m, embedding[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS cw
       |  FROM train, range(0, $PqM) t(m) WHERE k <= $PqK),
       |subs AS (
       |  SELECT vec_id, m,
       |         embedding[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS sv
       |  FROM nrms, range(0, $PqM) t(m)),
       |d2s AS (
       |  SELECT s.vec_id, s.m, c.k,
       |         ${VectorOps.dist2DecimalSql("s.sv", "c.cw")} AS d2
       |  FROM subs s JOIN cb c ON c.m = s.m, range(1, ${PqSubDim + 1}) t(i)
       |  GROUP BY s.vec_id, s.m, c.k),
       |codes AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT vec_id, m, k,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |               ORDER BY d2 ASC, k ASC) AS rn
       |    FROM d2s) r WHERE rn = 1),
       |qlut AS (
       |  SELECT q.vec_id AS qid, c.m, c.k,
       |         CAST(SUM(CAST(CAST(q.embedding[c.m*$PqSubDim+i] AS DOUBLE) *
       |                       CAST(c.cw[i] AS DOUBLE)
       |                  AS DECIMAL(38,18))) AS DOUBLE) AS pdot
       |  FROM nrms q CROSS JOIN cb c, range(1, ${PqSubDim + 1}) t(i)
       |  WHERE q.vec_id IN (${KnnQueryIds.mkString(", ")})
       |  GROUP BY q.vec_id, c.m, c.k),
       |cand AS (
       |  SELECT p.vec_id AS qid, d.vec_id
       |  FROM assign d
       |  JOIN assign p ON p.cid = d.cid AND p.arnk <= $retrievalProbesSql
       |       AND p.vec_id IN (${KnnQueryIds.mkString(", ")})
       |       AND p.vec_id <> d.vec_id
       |  WHERE d.arnk = 1),
       |adc AS (
       |  SELECT c.qid, c.vec_id,
       |         CAST(SUM(CAST(l.pdot AS DECIMAL(30,18))) AS DOUBLE) AS adot
       |  FROM cand c
       |  JOIN codes k2 ON k2.vec_id = c.vec_id
       |  JOIN qlut l ON l.qid = c.qid AND l.m = k2.m AND l.k = k2.k
       |  GROUP BY c.qid, c.vec_id),
       |short AS (
       |  SELECT qid, vec_id, adot,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY adot DESC, vec_id ASC) AS srnk
       |  FROM adc),
       |rer AS (
       |  SELECT s.qid, s.vec_id, MAX(s.adot) AS adot,
       |         MAX(v.nrm) AS vn, MAX(q.nrm) AS qn,
       |         ${VectorOps.dotDecimalSql("v.embedding", "q.embedding")} AS dot
       |  FROM short s
       |  JOIN nrms v ON v.vec_id = s.vec_id
       |  JOIN nrms q ON q.vec_id = s.qid,
       |       range(1, ${VectorOps.Dim + 1}) t(i)
       |  WHERE s.srnk <= $PqShortPerProbe * $retrievalProbesSql
       |  GROUP BY s.qid, s.vec_id),
       |pqtop AS (
       |  SELECT qid, vec_id, rnk, round(cos, 6) AS cos,
       |         round(adot / (vn * qn), 6) AS acos
       |  FROM (SELECT qid, vec_id, adot, vn, qn, dot / (vn * qn) AS cos,
       |               ROW_NUMBER() OVER (PARTITION BY qid
       |                   ORDER BY dot / (vn * qn) DESC, vec_id ASC) AS rnk
       |        FROM rer) r
       |  WHERE rnk <= 5)""".stripMargin

  /** q150's hybrid-RRF fused top-RrfDepth frame (qid, rnk, doc_id, rrf,
    * lrnk, srnk) — factored so ScaleBench's retrieval audit can fuse the
    * SAME lexical side with a BRUTE-FORCE semantic side (`bruteSem`) and
    * measure the fused-list overlap the derived-probe candidate stage
    * costs, at every scale decade. See the q150 QueryDef scaladoc for
    * the full design.
    */
  private[graft] def hybridRrfTop(s: SparkSession, d: String,
      bruteSem: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val (tf, dl) = bm25Postings(s, d)
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    // Per-query-doc rarest terms: df asc, word asc, top RrfQTerms.
    // Floor at df >= 2 — a df=1 term's only occurrence is the query
    // document itself, which the scorer excludes (doc_id <> qid), so
    // it contributes nothing and can silently empty the lexical list.
    val byQdf = Window.partitionBy("qid").orderBy(col("df").asc, col("word").asc)
    val qt = dfreq.join(
        broadcast(tf.filter(col("doc_id").isin(KnnQueryIds: _*))
          .select(col("doc_id").as("qid"), col("word"))), Seq("word"))
      .filter(col("df") >= 2)
      .withColumn("trk", row_number().over(byQdf))
      .filter(col("trk") <= RrfQTerms)
      .select("qid", "word", "df")
    val byLex = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("doc_id").asc)
    val lex = tf.join(broadcast(qt), Seq("word"))
      .filter(col("doc_id") =!= col("qid"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .cast("decimal(30,18)").as("c"))
      .groupBy("qid", "doc_id")
      .agg(round(sum("c").cast("double"), 6).as("score"))
      .withColumn("lrnk", row_number().over(byLex))
      .filter(col("lrnk") <= RrfDepth)
      .select("qid", "doc_id", "lrnk")
    val e = embNorms(s, d)
    val scand =
      if (bruteSem)
        // Audit arm: every (query, vector) pair — the exact semantic
        // ranking the probed candidate stage approximates.
        e.select("vec_id").crossJoin(
            broadcast(e.filter(col("vec_id").isin(KnnQueryIds: _*))
              .select(col("vec_id").as("qid"))))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id")
      else {
        val assign = ivfAssign(s, d)
        assign.filter(col("arnk") === 1)
          .select(col("vec_id"), col("cid"))
          .join(assign
            .filter(col("vec_id").isin(KnnQueryIds: _*) &&
              col("arnk") <= col("probes"))
            .select(col("vec_id").as("qid"), col("cid")), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id")
      }
    val qv = e.filter(col("vec_id").isin(KnnQueryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val bySem = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val sem = scand
      .join(e.select("vec_id", "embedding", "nrm"), Seq("vec_id"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("cos",
        VectorOps.dotDecimal(col("embedding"), col("qe")) /
          (col("nrm") * col("qn")))
      .withColumn("srnk", row_number().over(bySem))
      .filter(col("srnk") <= RrfDepth)
      .select(col("qid"), col("vec_id").as("doc_id"), col("srnk"))
    val byRrf = Window.partitionBy("qid")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(sem, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfC) + col("lrnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("srnk")), lit(0.0)), 6))
      .withColumn("rnk", row_number().over(byRrf))
      .filter(col("rnk") <= RrfDepth)
      .select(col("qid"), col("rnk"), col("doc_id"), col("rrf"),
        col("lrnk"), col("srnk"))
  }

  // ---- q151 temperature-mix builders (shared with StreamingSelect) ------

  /** Per-doc token counts (doc_id, lang, ntok) — q151's scan projection. */
  private[graft] def mixTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      size(TextOps.words(col("text"))).cast("long").as("ntok"))

  /** Fit the per-language replication rates (lang, fl, thr) from token
    * counts: w_l ∝ √p_l renormalized to the corpus token budget, split
    * into the integer replication count `fl` and the 2^48-scaled
    * remainder threshold `thr`. Two tiny aggregates — broadcast-sized at
    * any corpus scale. See the q151 QueryDef scaladoc for the
    * cross-engine arithmetic contract.
    */
  private[graft] def mixRates(toks: DataFrame): DataFrame = {
    val ls = toks.groupBy("lang").agg(sum("ntok").as("nl"))
    val tot = ls.agg(sum("nl").as("ntot"))
    val w = ls.crossJoin(broadcast(tot))
      .withColumn("wl",
        sqrt(col("nl").cast("double") / col("ntot").cast("double"))
          .cast("decimal(28,12)"))
    val ws = w.agg(sum("wl").as("ws"))
    w.crossJoin(broadcast(ws))
      .withColumn("rl",
        (col("wl").cast("double") / col("ws").cast("double")) *
          (col("ntot").cast("double") / col("nl").cast("double")))
      .withColumn("fl", floor(col("rl")))
      .withColumn("thr",
        floor((col("rl") - col("fl")) * lit(MixFracScale)).cast("long"))
      .select("lang", "fl", "thr")
  }

  /** Apply fitted rates to a token frame: explode `fl + 1` copies per
    * doc, keep the integer copies plus the hash-fraction remainder. A
    * doc's kept copies depend only on (doc_id, lang) and the rates, so
    * per-batch application is batch-independent (the streaming twin's
    * parity property).
    */
  private[graft] def mixKeep(toks: DataFrame, rates: DataFrame): DataFrame =
    toks.join(broadcast(rates), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("fl"), col("thr"),
        explode(sequence(lit(0L), col("fl"))).as("copy"))
      .withColumn("h", TextOps.md5Fold48(
        md5(concat(col("doc_id").cast("string"), lit(":"),
          col("copy").cast("string"), lit(":mixT"))), 1))
      .filter(col("copy") < col("fl") || col("h") < col("thr"))
      .select(col("doc_id"), col("lang"), col("copy"))

  // ---- queries -----------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q40_dedup_exact",
      (s, d) =>
        docsWithDups(s, d)
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies")),
      Some(s"""WITH $docs2Cte
              |SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
              |FROM docs2 GROUP BY md5(text)""".stripMargin)
    ),
    QueryDef(
      // MinHash signatures + LSH banding; bucket join => candidate pairs.
      // The hash family is md5-based (TextOps.md5Mod) so the DuckDB oracle
      // reproduces the exact candidate set; PipelineSpec additionally
      // asserts the planted near-dups are all recovered.
      "q41_minhash_lsh",
      (s, d) => lshCandidates(s, d),
      Some(s"""WITH $docs2Cte,
              |$gramsCte,
              |$lshBandCtes
              |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |FROM bands a JOIN bands b
              |  ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
              | AND a.doc_id < b.doc_id""".stripMargin)
    ),
    QueryDef(
      // 60-bit SimHash ([[simhashSigs]]); candidates via corpus-derived
      // chunk-GROUP buckets ([[simhashCombos]]: 6×10-bit chunks, group
      // size g from the corpus count, hamming ≤ 3 detection guarantee),
      // hub-capped ([[SimHubCap]]) and verified by Hamming distance
      // (bit_count of xor).
      "q42_simhash",
      (s, d) => hamming3Pairs(simhashSigs(s, d)),
      Some {
        val bitSums = (0 until 60).map { j =>
          val (src, sh) = if (j < 48) ("h1", j) else ("h2", j - 48)
          s"SUM(CASE WHEN ($src >> $sh) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
        }.mkString(",\n         ")
        val pack = (0 until 60)
          .map(j => s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
          .mkString(" + ")
        s"""WITH $docs2Cte,
           |h AS (
           |  SELECT doc_id, ${TextOps.md5Fold48Sql("mh", 1)} AS h1,
           |         ${TextOps.md5Fold48Sql("mh", 13)} AS h2
           |  FROM (SELECT doc_id, md5(word) AS mh
           |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           |              FROM docs2))),
           |bits AS (
           |  SELECT doc_id,
           |         $bitSums
           |  FROM h GROUP BY doc_id),
           |sig AS (SELECT doc_id, $pack AS sig FROM bits),
           |${hamming3PairsSql("sig")}
           |$hamming3SelectSql""".stripMargin
      }
    ),
    QueryDef(
      // Verify stage of near-dup detection: word-3gram Jaccard over
      // same-source candidates with close lengths.
      "q43_ngram_jaccard_dedup",
      (s, d) => bandedJaccardPairs(s, d),
      Some(s"""WITH $bandedJaccardPairsCtes
              |SELECT doc_a, doc_b, jaccard FROM jpairs""".stripMargin)
    ),
    QueryDef(
      // Verified pairs → duplicate CLUSTERS: distributed min-label
      // propagation (graft.operators.Components); the oracle computes the
      // same fixpoint with a recursive transitive-closure CTE. The kept
      // representative per cluster is the min doc_id.
      "q52_dup_clusters",
      (s, d) => {
        val nodes = docsWithDups(s, d).select(col("doc_id").as("node"))
        val edges = bandedJaccardPairs(s, d)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        graft.operators.Components.connectedComponents(nodes, edges)
          .select(col("node").as("doc_id"), col("cluster_id"),
            (col("node") === col("cluster_id")).as("is_kept"))
      },
      Some(s"""WITH RECURSIVE $bandedJaccardPairsCtes,
              |sym AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
              |        UNION SELECT doc_b, doc_a FROM jpairs),
              |reach(src, dst) AS (
              |  SELECT a, b FROM sym
              |  UNION
              |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
              |minreach AS (SELECT src, MIN(dst) AS m FROM reach GROUP BY src)
              |SELECT d.doc_id,
              |       least(d.doc_id, coalesce(m.m, d.doc_id)) AS cluster_id,
              |       d.doc_id = least(d.doc_id, coalesce(m.m, d.doc_id)) AS is_kept
              |FROM docs2 d LEFT JOIN minreach m ON d.doc_id = m.src""".stripMargin)
    ),
    QueryDef(
      // Brute-force top-k cosine KNN against a broadcast query set — the
      // exact baseline the LSH variant approximates. The query set is a
      // FIXED list of ids (all < 500, present at every scale factor), so
      // the broadcast side is O(1) in table size and the scan side does
      // O(n·|Q|) work — a vec_id % k predicate would grow |Q| linearly
      // with the table and turn this into a quadratic crossJoin.
      "q44_cosine_knn",
      (s, d) => bruteTop5(s, d),
      Some(s"""WITH ${normsCte("nrms", "embeddings")},
              |$bruteKnnTailCtes
              |SELECT qid, vec_id, rnk, cos FROM truth""".stripMargin)
    ),
    QueryDef(
      // Random-hyperplane LSH buckets; exact cosine verify within buckets.
      // Hyperplanes are deterministic arithmetic, but bucket membership
      // depends on double dot-product signs → rows-only + spec.
      "q45_ann_lsh",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        // Exact-decimal bucket signs + two-phase cosine (double prefilter
        // with margin, decimal dot only on survivors — q51's pattern), so
        // the DuckDB oracle reproduces the result bit-for-bit. The plane
        // count DERIVES from the corpus count (VectorOps.lshPlanesFor —
        // expected occupancy ≤ 64, the q68 derived-k rule; the count is a
        // one-row action on the cached dup-norm frame).
        val planes = VectorOps.lshPlanesFor(embDupNorms(s, d).count())
        val e = embDupNorms(s, d)
          .withColumn("bucket", VectorOps.lshBucketExact(col("embedding"), planes))
        val fastOk =
          VectorOps.dotFast(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")) >= 0.79
        val exactCos =
          VectorOps.dotDecimal(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))
        e.as("a").join(e.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id") &&
              when(fastOk, exactCos >= 0.8).otherwise(lit(false)))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            col("a.bucket").as("bucket"), round(exactCos, 6).as("cos"))
      },
      Some(s"""WITH $emb2Cte,
              |${normsCte("nrms", "emb2")},
              |${VectorOps.lshPlanesSqlCte("emb2")},
              |${VectorOps.lshBucketSqlCteDerived("emb2")},
              |nb AS (
              |  SELECT n.vec_id, n.embedding, n.nrm, b.bucket
              |  FROM nrms n JOIN buckets b USING (vec_id)),
              |pairs AS (
              |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |         MAX(a.bucket) AS bucket, MAX(a.nrm) AS na, MAX(b.nrm) AS nb,
              |         ${VectorOps.dotDecimalSql("a.embedding", "b.embedding")} AS dot
              |  FROM nb a JOIN nb b
              |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id,
              |       range(1, ${VectorOps.Dim + 1}) t(i)
              |  GROUP BY a.vec_id, b.vec_id)
              |SELECT vec_a, vec_b, bucket, round(dot / (na * nb), 6) AS cos
              |FROM pairs WHERE dot / (na * nb) >= 0.8""".stripMargin)
    ),
    QueryDef(
      "q46_langid",
      (s, d) => {
        val hits = TextOps.stopwords.map { case (lang, stops) =>
          lang -> TextOps.stopwordHits(col("text"), stops)
        }
        val mx = greatest(hits.map(_._2): _*)
        val pred = hits.foldLeft(when(mx === 0, "und")) { case (acc, (lang, h)) =>
          acc.when(h === mx, lang)
        }
        Tables.documents(s, d).select(
          col("doc_id"), col("lang"),
          pred.otherwise("und").as("pred_lang"),
          mx.as("n_hits"))
      },
      Some {
        val hitsSql = TextOps.stopwords.map { case (lang, stops) =>
          lang -> TextOps.stopwordHitsSql("text", stops)
        }
        val mxSql = s"greatest(${hitsSql.map(_._2).mkString(", ")})"
        val predCases = hitsSql
          .map { case (lang, h) => s"WHEN $h = $mxSql THEN '$lang'" }
          .mkString("\n            ")
        s"""SELECT doc_id, lang,
           |       CASE WHEN $mxSql = 0 THEN 'und'
           |            $predCases
           |            ELSE 'und' END AS pred_lang,
           |       $mxSql AS n_hits
           |FROM documents""".stripMargin
      }
    ),
    QueryDef(
      "q47_quality_score",
      (s, d) => {
        val nWords = size(TextOps.words(col("text")))
        val nChars = length(col("text"))
        val stopHits = TextOps.stopwordHits(col("text"), TextOps.stopwords.head._2)
        val meanWlen = (nChars - nWords + 1).cast("double") / nWords.cast("double")
        val stopRatio = stopHits.cast("double") / nWords.cast("double")
        val quality = least(lit(1.0), nWords.cast("double") / 50.0) * 0.6 + stopRatio * 0.4
        Tables.documents(s, d).select(
          col("doc_id"),
          nWords.as("n_words"),
          round(meanWlen, 6).as("mean_wlen"),
          round(stopRatio, 6).as("stop_ratio"),
          round(quality, 6).as("quality"))
      },
      Some {
        val stops = TextOps.stopwordHitsSql("text", TextOps.stopwords.head._2)
        s"""SELECT doc_id,
           |       len(string_split(text, ' ')) AS n_words,
           |       round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) /
           |             CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS mean_wlen,
           |       round(CAST($stops AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stop_ratio,
           |       round(least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0) * 0.6 +
           |             (CAST($stops AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4, 6) AS quality
           |FROM documents""".stripMargin
      }
    ),
    QueryDef(
      "q48_token_count",
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          size(TextOps.words(col("text"))).cast("long").as("ws_tokens"),
          expr("size(regexp_extract_all(text, '[A-Za-z0-9]+', 0))").cast("long").as("alnum_tokens"),
          expr("(length(text) + 3) div 4").cast("long").as("bpe_est")),
      Some("""SELECT doc_id,
             |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS alnum_tokens,
             |       CAST((length(text) + 3) // 4 AS BIGINT) AS bpe_est
             |FROM documents""".stripMargin)
    ),
    QueryDef(
      "q49_fingerprint",
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp")),
      Some(s"""SELECT doc_id, ${TextOps.fingerprintSql("text")} AS fp
              |FROM documents""".stripMargin)
    ),
    QueryDef(
      // PII scrubbing: deterministic planted emails/phones (doc_id%9==0),
      // counted and redacted with the same patterns in both engines. Pure
      // map-side regex work.
      "q54_pii_redact",
      (s, d) => {
        val planted = concat(col("text"),
          when(pmod(col("doc_id"), lit(9)) === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
            .otherwise(lit("")))
        val emailRe = "[a-z0-9]+@[a-z0-9.]+[a-z]"
        val phoneRe = "\\+1-555-[0-9]{4}"
        Tables.documents(s, d)
          .withColumn("text2", planted)
          .select(
            col("doc_id"),
            regexp_count(col("text2"), lit(emailRe)).cast("long").as("n_emails"),
            regexp_count(col("text2"), lit(phoneRe)).cast("long").as("n_phones"),
            regexp_replace(regexp_replace(col("text2"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>").as("redacted"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |         text || CASE WHEN doc_id % 9 = 0
             |                      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
             |                           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |                      ELSE '' END AS text2
             |  FROM documents)
             |SELECT doc_id,
             |       len(regexp_extract_all(text2, '[a-z0-9]+@[a-z0-9.]+[a-z]')) AS n_emails,
             |       len(regexp_extract_all(text2, '\+1-555-[0-9]{4}')) AS n_phones,
             |       regexp_replace(regexp_replace(text2, '[a-z0-9]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
             |                      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
             |FROM planted""".stripMargin)
    ),
    QueryDef(
      // Degenerate-repetition signal: share of adjacent word pairs that are
      // identical ("batch batch batch" inflation) — a standard quality cut
      // for LLM training text.
      "q55_repetition",
      (s, d) => {
        // Linear single-pass shape: the word array materializes ONCE in a
        // prior projection, and adjacent dups are counted by zipping the
        // array against itself shifted by one — O(n) per row. (The
        // sequence(1, n-1) + element_at(w, i) formulation was O(n²) ×3:
        // Spark re-evaluates the lambda's input expression per element and
        // the whole HOF appeared in three output columns.) One-word docs:
        // slice length 0 and a 0/0 ratio — both guarded; rep_ratio is NULL
        // when no adjacent pair exists.
        val w = col("w")
        val adjacentDups = when(size(w) <= 1, lit(0)).otherwise(
          size(filter(
            zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
              (a, b) => a === b),
            x => x)))
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.words(col("text")).as("w"))
          .select(col("doc_id"), size(w).as("nw"), adjacentDups.as("n_adjacent_dups"))
          .select(
            col("doc_id"),
            col("n_adjacent_dups"),
            when(col("nw") <= 1, lit(null).cast("double"))
              .otherwise(round(col("n_adjacent_dups").cast("double") /
                (col("nw") - 1).cast("double"), 6))
              .as("rep_ratio"))
      },
      Some("""SELECT doc_id,
             |       len([i FOR i IN range(1, len(w)) IF w[i] = w[i+1]]) AS n_adjacent_dups,
             |       CASE WHEN len(w) <= 1 THEN NULL
             |            ELSE round(CAST(len([i FOR i IN range(1, len(w)) IF w[i] = w[i+1]]) AS DOUBLE) /
             |                       CAST(len(w) - 1 AS DOUBLE), 6) END AS rep_ratio
             |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)""".stripMargin)
    ),
    QueryDef(
      // TF-IDF term scoring: tf per (doc, word), df per word, idf from the
      // corpus size. Row set is pure integer arithmetic (deterministic);
      // the score is the only double and is rounded. Two hash-aggregates +
      // one broadcastable join — the vocabulary side is small by Zipf.
      "q53_tfidf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val words = docs.select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
        val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("word").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tf.join(dfq, "word")
          .crossJoin(broadcast(n))
          .filter(col("tf") >= 3)
          .select(col("doc_id"), col("word"), col("tf"), col("df"),
            round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 6)
              .as("tfidf"))
      },
      Some("""WITH tf AS (
             |  SELECT doc_id, w AS word, COUNT(*) AS tf
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
             |  GROUP BY doc_id, w),
             |dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents)
             |SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
             |       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE)), 6) AS tfidf
             |FROM tf JOIN dfq ON tf.word = dfq.word CROSS JOIN n
             |WHERE tf.tf >= 3""".stripMargin)
    ),
    QueryDef(
      // Binary media column + typed metadata + batch decode: payloads are
      // real binary PPM images decoded by the pure-JVM codec (header
      // parse, pixel checksum); compressed formats would take the
      // documented stub branch. The payload synthesis is deterministic
      // (pixels = the doc's own bytes cycled), so the oracle reproduces
      // the decoded features from the source text directly.
      "q50_multimodal_decode",
      (s, d) => Multimodal.extractFeatures(s, Tables.documents(s, d)),
      Some("""SELECT doc_id,
             |       CAST(3 * w * h AS BIGINT) AS n_bytes,
             |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             |       CAST(list_aggregate(
             |              [ascii(substr(text, CAST(i % l AS INT) + 1, 1))
             |               FOR i IN range(0, 3 * w * h)], 'sum') % 1000003 AS BIGINT)
             |         AS feat_sum
             |FROM (SELECT doc_id, text, len(text) AS l,
             |             CAST(n_chars % 16 + 1 AS BIGINT) AS w,
             |             CAST(n_chars * 3 % 12 + 1 AS BIGINT) AS h
             |      FROM documents)""".stripMargin)
    ),
    QueryDef(
      // Embedding near-dup pairs as BUCKETED candidates -> exact verify:
      // candidate generation assigns every vector to its derived-probe
      // IVF cells (the q68 index geometry) and
      // equi-joins on (label, cell) over ids only, then survivors re-join
      // their embeddings by id and pay TWO-PHASE scoring — the codegen'd
      // plain-double dot prefilters at a 1e-6-slack threshold (strictly
      // bounding double-vs-decimal disagreement for 64 unit-scale terms)
      // and only near-threshold survivors pay the decimal-boxed exact dot
      // the cross-engine hash requires. The previous label-only self-join
      // was quadratic within a label block (the inventory's one 100 TB
      // scale-killer); probed cells keep candidates ~linear when the
      // centroid count is trained to track corpus size (VectorOps.kmeans
      // is that trainer), and measured probe coverage of the >=0.9 pair
      // set is 100% at every test scale factor (hyperplane banding was
      // tried first and structurally misses single-coordinate
      // perturbations: a cos-0.92 planted pair agreed on only 184/256
      // plane signs, 0/32 bands). PipelineQueriesSpec pins that the
      // celled pair set equals the exact label-join reference, and the
      // oracle mirrors the celled scheme bit-for-bit.
      "q51_embedding_dedup",
      (s, d) => embDedupPairs(s, d),
      Some(s"""WITH $embPairsCtes
              |SELECT vec_a, vec_b, cos FROM epairs""".stripMargin)
    ),
    QueryDef(
      // Benchmark decontamination: flag training docs sharing any 5-word
      // shingle with the benchmark set (the standard n-gram-overlap test
      // applied before training). Benchmark = doc_id%97 (a benchmark is a
      // FIXED small corpus, so its distinct shingles broadcast — the scan
      // side streams once, no shuffle of the corpus at 100 TB). A shared
      // passage is planted on doc_id%13 so the operator has positives.
      "q56_decontaminate",
      (s, d) => {
        // ONE pass over the memoized exploded frame (explode_outer kept
        // docs whose gram array is empty): the broadcast left join marks
        // benchmark shingles and a single doc_id aggregate yields both
        // counters.
        val sh = plantedShingles(s, d)
        val bench = sh.filter(col("is_bench") && col("shingle").isNotNull)
          .select("shingle").distinct()
        sh.filter(!col("is_bench"))
          .select("doc_id", "n_shingles", "shingle")
          .join(broadcast(bench.withColumn("hit", lit(1L))), Seq("shingle"), "left")
          .groupBy("doc_id")
          .agg(max("n_shingles").as("n_shingles"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("doc_id"), col("n_shingles"), col("n_hits"),
            (col("n_hits") >= 1).as("contaminated"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |         text || CASE WHEN doc_id % 97 = 0 OR doc_id % 13 = 0
             |                      THEN ' shared benchmark passage alpha beta gamma delta epsilon zeta'
             |                      ELSE '' END AS text2
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |         list_distinct([array_to_string(w[i:i+4], ' ')
             |                        FOR i IN range(1, greatest(len(w) - 4, 0) + 1)]) AS grams
             |  FROM (SELECT doc_id, string_split(text2, ' ') AS w FROM planted)),
             |bench AS (
             |  SELECT DISTINCT g AS shingle
             |  FROM (SELECT unnest(grams) AS g FROM sh WHERE doc_id % 97 = 0)),
             |hits AS (
             |  SELECT doc_id, COUNT(*) AS n_hits
             |  FROM (SELECT doc_id, unnest(grams) AS shingle FROM sh WHERE doc_id % 97 <> 0) t
             |  JOIN bench USING (shingle) GROUP BY doc_id)
             |SELECT s.doc_id, CAST(len(s.grams) AS BIGINT) AS n_shingles,
             |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             |       coalesce(h.n_hits, 0) >= 1 AS contaminated
             |FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
             |WHERE s.doc_id % 97 <> 0""".stripMargin)
    ),
    QueryDef(
      // Bloom-accelerated decontamination: same planted-passage semantics
      // as q56, but membership of the benchmark shingle set travels as a
      // 64 KB Bloom filter instead of the raw shingle strings. The filter
      // builds DISTRIBUTED (bloom_build: map-side partial bitsets, OR
      // merge, one binary row to the driver — the only collect, O(filter
      // bytes) regardless of benchmark size), then probes as a codegen'd
      // scan-side filter, so at 100 TB virtually every clean shingle dies
      // before the join. The broadcast join after is the exact verify that
      // kills Bloom false positives — end-to-end results are EXACT (Bloom
      // has no false negatives), which is why a plain SQL oracle applies.
      "q104_bloom_prefilter",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.{bloomBuild, bloomMightContain}
        val sh = plantedShingles(s, d)
        val bench = sh.filter(col("is_bench") && col("shingle").isNotNull)
          .select("shingle").distinct()
        val filt = bench
          .select(bloomBuild(xxhash64(col("shingle")), 1 << 19, 6).as("f"))
          .head.getAs[Array[Byte]](0)
        val hits = sh.filter(!col("is_bench") && col("shingle").isNotNull)
          .select("doc_id", "shingle")
          .filter(bloomMightContain(lit(filt), xxhash64(col("shingle"))))
          .join(broadcast(bench), Seq("shingle"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        sh.filter(!col("is_bench")).select("doc_id").distinct()
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (coalesce(col("n_hits"), lit(0L)) >= 1).as("contaminated"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |         text || CASE WHEN doc_id % 97 = 0 OR doc_id % 13 = 0
             |                      THEN ' shared benchmark passage alpha beta gamma delta epsilon zeta'
             |                      ELSE '' END AS text2
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |         list_distinct([array_to_string(w[i:i+4], ' ')
             |                        FOR i IN range(1, greatest(len(w) - 4, 0) + 1)]) AS grams
             |  FROM (SELECT doc_id, string_split(text2, ' ') AS w FROM planted)),
             |bench AS (
             |  SELECT DISTINCT g AS shingle
             |  FROM (SELECT unnest(grams) AS g FROM sh WHERE doc_id % 97 = 0)),
             |hits AS (
             |  SELECT doc_id, COUNT(*) AS n_hits
             |  FROM (SELECT doc_id, unnest(grams) AS shingle FROM sh WHERE doc_id % 97 <> 0) t
             |  JOIN bench USING (shingle) GROUP BY doc_id)
             |SELECT s.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             |       coalesce(h.n_hits, 0) >= 1 AS contaminated
             |FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
             |WHERE s.doc_id % 97 <> 0""".stripMargin)
    ),
    QueryDef(
      // Markup cleanup — the universal pre-tokenization step (HTML tag
      // strip, entity decode, whitespace collapse) every crawl-derived
      // corpus runs before any scoring. Pure map-side codegen'd string
      // work: no shuffle at all, scales with scan bandwidth. Markup is
      // planted deterministically (doc_id%5) so the operator has real
      // work in the synthetic corpus; the regexes are in the common
      // Java-regex/RE2 subset so both engines rewrite identically.
      "q109_text_clean",
      (s, d) => {
        val planted = when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("<p id=\"x\"> "), col("text"),
            lit(" </p> <br/> &amp; &lt;script&gt; &quot;end&quot;")))
          .otherwise(col("text"))
        val noTags = regexp_replace(planted, "<[^>]*>", " ")
        val decoded = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          noTags, "&amp;", "&"), "&lt;", "<"), "&gt;", ">"), "&quot;", "\"")
        val collapsed = trim(regexp_replace(decoded, "\\s+", " "))
        Tables.documents(s, d)
          .select(col("doc_id"),
            regexp_count(planted, lit("<[^>]*>")).cast("long").as("n_tags"),
            length(collapsed).cast("long").as("clean_len"),
            collapsed.as("clean_text"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 5 = 0
             |              THEN '<p id="x"> ' || text || ' </p> <br/> &amp; &lt;script&gt; &quot;end&quot;'
             |              ELSE text END AS t
             |  FROM documents),
             |cleaned AS (
             |  SELECT doc_id,
             |         CAST(len(regexp_extract_all(t, '<[^>]*>')) AS BIGINT) AS n_tags,
             |         trim(regexp_replace(
             |           replace(replace(replace(replace(
             |             regexp_replace(t, '<[^>]*>', ' ', 'g'),
             |             '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             |           '\s+', ' ', 'g')) AS clean_text
             |  FROM planted)
             |SELECT doc_id, n_tags, CAST(len(clean_text) AS BIGINT) AS clean_len, clean_text
             |FROM cleaned""".stripMargin)
    ),
    QueryDef(
      // Corpus vocabulary + per-doc OOV rate: global word counts (map-side
      // partial agg), top-500 vocabulary under a TOTAL order (count desc,
      // word asc — the tiebreak makes the cut deterministic in both
      // engines), broadcast back for the per-doc out-of-vocabulary ratio.
      // The classic two-pass token-statistics shape: at 100 TB the only
      // full shuffle is the wordcount; the vocab is O(500) everywhere.
      "q57_vocab_oov",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
        val vocab = words.groupBy("word").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("word")).limit(500)
          .select("word")
        val perDoc = words.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
        val inVocab = words.join(broadcast(vocab), Seq("word"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_in"))
        perDoc.join(inVocab, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_words"),
            (col("n_words") - coalesce(col("n_in"), lit(0L))).as("n_oov"),
            round((col("n_words") - coalesce(col("n_in"), lit(0L))).cast("double") /
              col("n_words").cast("double"), 6).as("oov_ratio"))
      },
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
             |vocab AS (
             |  SELECT word FROM (
             |    SELECT word, COUNT(*) AS cnt FROM words GROUP BY word
             |    ORDER BY cnt DESC, word LIMIT 500)),
             |per AS (SELECT doc_id, COUNT(*) AS n_words FROM words GROUP BY doc_id),
             |inv AS (
             |  SELECT doc_id, COUNT(*) AS n_in
             |  FROM words JOIN vocab USING (word) GROUP BY doc_id)
             |SELECT p.doc_id, CAST(p.n_words AS BIGINT) AS n_words,
             |       CAST(p.n_words - coalesce(i.n_in, 0) AS BIGINT) AS n_oov,
             |       round(CAST(p.n_words - coalesce(i.n_in, 0) AS DOUBLE) /
             |             CAST(p.n_words AS DOUBLE), 6) AS oov_ratio
             |FROM per p LEFT JOIN inv i ON p.doc_id = i.doc_id""".stripMargin)
    ),
    QueryDef(
      // Per-source quota sampling (training-data mixing: cap any one
      // domain's contribution to the mix). The shuffle key is a Knuth
      // multiplicative hash in plain BIGINT arithmetic so Spark and DuckDB
      // agree bit-for-bit (builtin hash functions differ across engines);
      // the doc_id tiebreak makes the per-source order total, so the kept
      // set is deterministic. Scale shape: one shuffle on source, and
      // Spark's WindowGroupLimit caps every map partition at 100 rows per
      // source BEFORE the exchange (rank<=100 is recognized as
      // top-k-per-group), so a dominant source never funnels its full
      // volume through one reducer.
      "q58_quota_sample",
      (s, d) => {
        val w = Window.partitionBy("source")
          .orderBy(col("shuffle_key").asc, col("doc_id").asc)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            ((col("doc_id") * lit(2654435761L)) % lit(4294967296L)).as("shuffle_key"))
          .withColumn("sample_rank", row_number().over(w))
          .filter(col("sample_rank") <= lit(100))
          .select("source", "doc_id", "sample_rank")
      },
      Some("""SELECT source, doc_id, sample_rank FROM (
             |  SELECT source, doc_id,
             |         row_number() OVER (PARTITION BY source
             |             ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS sample_rank
             |  FROM documents) t
             |WHERE sample_rank <= 100""".stripMargin)
    ),
    QueryDef(
      // Dataset mixing: per-language sampling rates that fit a token
      // budget (half the corpus) under target mix weights (en 0.40, rest
      // 0.15 each), then a deterministic hash-mod sample at those rates —
      // the standard two-pass shape for hitting a data mix at corpus
      // scale. Pass 1 is one map-side-partial agg to O(#languages) rows
      // (the global total is a window over that tiny frame, never over
      // the corpus); pass 2 is a broadcast join + scan-local filter. All
      // double arithmetic is written with the same shape and explicit
      // DOUBLE casts in the oracle so the engines round identically.
      // Mix-weighted sampling to a token budget, with the budget counted
      // in REAL subword tokens (q135's in-corpus BPE) — the same
      // repricing as q82: a mixing run allocates tokenizer tokens, not
      // whitespace splits. Wordless docs weigh 0.
      "q59_dataset_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"), col("lang"))
          .join(graft.operators.Bpe.docTokenCounts(
              docs.select("doc_id", "text"), graft.operators.Bpe.mergesFor(s, d))
            .select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"),
            coalesce(col("n_bpe_tokens"), lit(0L)).as("n_tokens"))
          // Materialized: the per-language rate fit AND the sampling scan
          // both consume toks, and each consumer re-ran the full BPE
          // nested-replace encode of the corpus without it. The frame is
          // three narrow columns per doc; one encode pass instead of two.
          .localCheckpoint()
        val wcol = when(col("lang") === "en", lit(0.40)).otherwise(lit(0.15))
        val perLang = toks.groupBy("lang").agg(sum("n_tokens").as("lang_tokens"))
        // The global total is a window over the O(#languages) agg output,
        // never the corpus. The partition key is constant-valued but NOT
        // foldable — EliminateWindowPartitions strips foldable keys, and an
        // empty partition spec trips WindowExec's single-partition warning
        // (a false alarm on a frame this size, but noise worth not emitting).
        val rates = perLang
          .withColumn("total_tokens",
            sum("lang_tokens").over(Window.partitionBy(col("lang_tokens") * lit(0L))))
          .withColumn("rate",
            round(least(lit(1.0),
              ((lit(0.5) * col("total_tokens")) * wcol) / col("lang_tokens")), 6))
          .select("lang", "lang_tokens", "rate")
          // O(#languages) rows, but its lineage scans the corpus — both
          // the broadcast side and the final join consume it, and Spark
          // recomputes a subtree per consumer. Materializing pins the
          // query at the algorithm's minimum two corpus scans.
          .localCheckpoint()
        val sampled = toks.join(broadcast(rates), Seq("lang"))
          .filter(((col("doc_id") * lit(2654435761L)) % lit(1000000L)) <
            col("rate") * lit(1000000L))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs_sampled"),
            sum("n_tokens").as("n_tokens_sampled"))
        rates.join(sampled, Seq("lang"), "left")
          .select(col("lang"), col("lang_tokens"), col("rate"),
            coalesce(col("n_docs_sampled"), lit(0L)).as("n_docs_sampled"),
            coalesce(col("n_tokens_sampled"), lit(0L)).as("n_tokens_sampled"))
      },
      Some(s"""WITH ${graft.operators.Bpe.sqlTrainCtes()},
             |${graft.operators.Bpe.sqlDocCountsCte},
             |toks AS (
             |  SELECT d.doc_id, d.lang,
             |         CAST(coalesce(b.n_bpe_tokens, 0) AS BIGINT) AS n_tokens
             |  FROM documents d LEFT JOIN bpe_docs b ON d.doc_id = b.doc_id),
             |per_lang AS (
             |  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
             |  FROM toks GROUP BY lang),
             |rates AS (
             |  SELECT lang, lang_tokens,
             |         round(least(CAST(1.0 AS DOUBLE),
             |           ((CAST(0.5 AS DOUBLE) *
             |             (SELECT CAST(SUM(lang_tokens) AS BIGINT) FROM per_lang)) *
             |            CASE WHEN lang = 'en' THEN CAST(0.40 AS DOUBLE)
             |                 ELSE CAST(0.15 AS DOUBLE) END) / lang_tokens), 6) AS rate
             |  FROM per_lang),
             |samp AS (
             |  SELECT t.lang, COUNT(*) AS n_docs_sampled,
             |         CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens_sampled
             |  FROM toks t JOIN rates r ON t.lang = r.lang
             |  WHERE (t.doc_id * 2654435761) % 1000000 < r.rate * 1000000
             |  GROUP BY t.lang)
             |SELECT r.lang, r.lang_tokens, r.rate,
             |       CAST(coalesce(s.n_docs_sampled, 0) AS BIGINT) AS n_docs_sampled,
             |       CAST(coalesce(s.n_tokens_sampled, 0) AS BIGINT) AS n_tokens_sampled
             |FROM rates r LEFT JOIN samp s ON r.lang = s.lang""".stripMargin)
    ),
    QueryDef(
      // Distributional quality gating: drop each language's bottom decile
      // by score (mean token length here — any per-doc scalar works).
      // Thresholds are EXACT interpolated percentiles (Spark `percentile`
      // ≡ DuckDB `quantile_cont`, both linear interpolation); at 100 TB
      // the drop-in scale path is approx_percentile (t-digest sketch,
      // map-side mergeable) at the cost of oracle exactness. Scores and
      // thresholds are rounded to 6dp BEFORE the comparison in both
      // engines so the kept set can't flip on ulp-level float drift. One
      // agg to O(#languages) rows, broadcast back, scan-local filter.
      "q65_quality_percentile",
      (s, d) => {
        val scored = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            round(col("n_chars").cast("double") /
              size(split(col("text"), " ")).cast("double"), 6).as("score"))
        val thr = scored.groupBy("lang")
          .agg(round(expr("percentile(score, 0.10)"), 6).as("p10"))
        scored.join(broadcast(thr), Seq("lang"))
          .filter(col("score") >= col("p10"))
          .select(col("doc_id"), col("lang"), col("score"), col("p10"))
      },
      Some("""WITH scored AS (
             |  SELECT doc_id, lang,
             |         round(CAST(n_chars AS DOUBLE) /
             |               CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS score
             |  FROM documents),
             |thr AS (
             |  SELECT lang, round(quantile_cont(score, 0.10), 6) AS p10
             |  FROM scored GROUP BY lang)
             |SELECT s.doc_id, s.lang, s.score, t.p10
             |FROM scored s JOIN thr t ON s.lang = t.lang
             |WHERE s.score >= t.p10""".stripMargin)
    ),
    QueryDef(
      // Corpus-LM quality score (CCNet-style): each doc's mean log unigram
      // probability under the corpus itself. Two passes: wordcount (the
      // only full shuffle), then exploded tokens hash-join the counts and
      // re-aggregate per doc. Each log term is truncated to DECIMAL(28,12)
      // BEFORE the sum — libm vs JVM log() differ in the last ulp
      // (~1e-16), invisible at 12dp, and the decimal sum is then exact in
      // both engines regardless of addend order (a double sum would make
      // the 6dp-rounded mean flip on partition ordering).
      "q66_unigram_logprob",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
        val wc = words.groupBy("word").agg(count(lit(1)).as("cnt"))
        val total = wc.agg(sum("cnt").as("total"))
        val terms = words.join(wc, Seq("word"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"),
            log(col("cnt").cast("double") / col("total").cast("double"))
              .cast("decimal(28,12)").as("logp"))
        terms.groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("logp")).cast("double") / count(lit(1)).cast("double"), 6)
              .as("mean_logp"))
      },
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
             |wc AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word),
             |total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM wc),
             |terms AS (
             |  SELECT w.doc_id,
             |         CAST(ln(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
             |              AS DECIMAL(28,12)) AS logp
             |  FROM words w JOIN wc c ON w.word = c.word, total t)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |       round(CAST(SUM(logp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_logp
             |FROM terms GROUP BY doc_id""".stripMargin)
    ),
    QueryDef(
      // End-to-end multimodal pipeline: batch decode → real PPM
      // nearest-neighbor resize to 64×64 → 64-byte frame sampling →
      // per-doc summary, one mapPartitions pass + one aggregation shuffle
      // (operators/Multimodal.framePipeline). Because the payloads are
      // deterministic PPMs synthesized from the doc's own bytes, the WHOLE
      // pipeline is byte arithmetic the DuckDB oracle reproduces: resized
      // pixel j maps back to text byte ((sy·w + sx)·3 + c) mod len, the
      // re-encoded "P6\n64 64\n255\n" header prepends 13 known bytes, and
      // each kept frame folds the rolling checksum the Scala code folds.
      "q67_multimodal_pipeline",
      (s, d) => Multimodal.framePipeline(s, Tables.documents(s, d)), {
        // header bytes of encodePpm(64, 64, _): "P6\n64 64\n255\n"
        val hdr = "P6\n64 64\n255\n".getBytes("US-ASCII").map(_.toInt)
        Some(s"""WITH src AS (
                |  SELECT doc_id, text, len(text) AS l,
                |         CAST(n_chars % 16 + 1 AS BIGINT) AS w,
                |         CAST(n_chars * 3 % 12 + 1 AS BIGINT) AS h
                |  FROM documents),
                |bytes AS (
                |  SELECT doc_id,
                |         list_concat(
                |           ${hdr.mkString("[", ", ", "]")},
                |           [ascii(substr(text,
                |              CAST((((j // 192) * h // 64 * w + ((j % 192) // 3) * w // 64) * 3
                |                    + j % 3) % l AS INT) + 1, 1))
                |            FOR j IN range(0, 12288)]) AS b
                |  FROM src),
                |frames AS (
                |  SELECT doc_id,
                |         [list_reduce(
                |            list_prepend(CAST(0 AS BIGINT), b[(f*64+1):(f*64+64)]),
                |            (a, x) -> (a * 131 + x) % 1000000007)
                |          FOR f IN range(0, 193, 2)] AS cs,
                |         [len(b[(f*64+1):(f*64+64)]) FOR f IN range(0, 193, 2)] AS ls
                |  FROM bytes)
                |SELECT doc_id,
                |       CAST(len(cs) AS BIGINT) AS n_frames,
                |       CAST(list_aggregate(ls, 'sum') AS BIGINT) AS bytes_kept,
                |       CAST(list_aggregate(cs, 'sum') AS BIGINT) AS checksum_sum
                |FROM frames""".stripMargin)
      }
    ),
    QueryDef(
      // IVF-style ANN: assign every vector to its nearest of the
      // corpus-derived centroids (argmax cosine; at real scale the
      // centroids come from k-means — here they're deterministic
      // stride-picked vectors so the oracle can reproduce them), then
      // answer each query from its derived-probe buckets only. The IVF
      // shape: assignment is a broadcast-centroid scoring pass (linear,
      // map-side), search is a bucket equi-join —
      // candidates shrink by ~#centroids/probes vs brute force. All dots
      // are exact DECIMAL so bucket assignment cannot drift between
      // engines; ties break on centroid/vector id.
      "q68_ann_ivf",
      (s, d) => ivfTop5(s, d),
      Some(s"""WITH ${normsCte("nrms", "embeddings")},
              |$ivfTailCtes
              |SELECT qid, vec_id, rnk, cos FROM approx""".stripMargin)
    ),
    QueryDef(
      // One Lloyd update over the IVF assignment — the k-means step that
      // turns q68's seed centroids into trained ones, and the clustering
      // half of SemDeDup-style semantic dedup (cluster embeddings, then
      // near-dup within clusters — q51/q45 are the within-cluster half).
      // Shape: assignment is the broadcast-centroid scoring pass; the update is
      // ONE hash-aggregate over (cluster, component) with map-side
      // partials — at 100 TB the only shuffle carries k×Dim partial sums,
      // not vectors. Component sums go through DECIMAL so the means are
      // order-independent and engine-exact.
      "q110_kmeans_step",
      (s, d) => {
        ivfAssign(s, d).filter(col("arnk") === 1)
          .select(col("cid"), posexplode(col("embedding")))
          .select(col("cid"), (col("pos") + 1).cast("long").as("j"),
            col("col").cast("double").cast("decimal(38,18)").as("x"))
          .groupBy("cid", "j")
          .agg(count(lit(1)).as("n_members"), sum("x").as("sx"))
          .select(col("cid"), col("j"), col("n_members"),
            round(col("sx").cast("double") / col("n_members").cast("double"), 6)
              .as("c_new"))
      },
      Some(s"""WITH ${normsCte("nrms", "embeddings")},
              |${centsCteSql("nrms")},
              |csims AS (
              |  SELECT n.vec_id, c.cid, MAX(n.nrm) AS nrm, MAX(c.cn) AS cn,
              |         ${VectorOps.dotDecimalSql("n.embedding", "c.ce")} AS cdot
              |  FROM nrms n CROSS JOIN cents c, range(1, ${VectorOps.Dim + 1}) t(i)
              |  GROUP BY n.vec_id, c.cid),
              |assign AS (
              |  SELECT vec_id, cid,
              |         ROW_NUMBER() OVER (PARTITION BY vec_id
              |             ORDER BY cdot / (nrm * cn) DESC, cid ASC) AS arnk
              |  FROM csims),
              |comps AS (
              |  SELECT m.cid, t.i AS j,
              |         CAST(CAST(n.embedding[t.i] AS DOUBLE) AS DECIMAL(38,18)) AS x
              |  FROM assign m JOIN nrms n ON n.vec_id = m.vec_id,
              |       range(1, ${VectorOps.Dim + 1}) t(i)
              |  WHERE m.arnk = 1)
              |SELECT cid, j, COUNT(*) AS n_members,
              |       round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS c_new
              |FROM comps GROUP BY cid, j""".stripMargin)
    ),
    QueryDef(
      // Deequ-style data-quality gate: one row per declared constraint
      // (key uniqueness, not-null, referential integrity, value range)
      // with measured violations and a pass flag — what a pipeline runs
      // before promoting a snapshot. Each check is one aggregate (the FK
      // check a broadcast left join + aggregate); the report is O(checks).
      "q113_dq_checks",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ord = Tables.orders(s, d)
        val cust = Tables.customer(s, d)
        def row(name: String, violations: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          struct(lit(name).as("check"), n.cast("long").as("n_rows"),
            violations.cast("long").as("violations"))
        val docChecks = docs.agg(
          row("documents.doc_id unique",
            count(lit(1)) - countDistinct(col("doc_id")), count(lit(1))).as("c1"),
          row("documents.text not-null",
            sum(when(col("text").isNull, 1L).otherwise(0L)), count(lit(1))).as("c2"),
          row("documents.n_chars = length(text)",
            sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L)),
            count(lit(1))).as("c3"))
        val ordChecks = ord
          .join(broadcast(cust.select(col("c_custkey"))),
            ord("o_custkey") === col("c_custkey"), "left")
          .agg(
            row("orders.o_custkey in customer",
              sum(when(col("c_custkey").isNull, 1L).otherwise(0L)), count(lit(1))).as("c1"),
            row("orders.o_totalprice positive",
              sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)), count(lit(1))).as("c2"))
        docChecks.select(explode(array(col("c1"), col("c2"), col("c3"))).as("e"))
          .unionByName(ordChecks.select(explode(array(col("c1"), col("c2"))).as("e")))
          .select(col("e.check").as("check"), col("e.n_rows").as("n_rows"),
            col("e.violations").as("violations"),
            (col("e.violations") === 0L).as("passed"))
      },
      Some("""WITH d1 AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS uq,
             |         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn,
             |         CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS lc
             |  FROM documents),
             |o1 AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fk,
             |         CAST(SUM(CASE WHEN o.o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS rng
             |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
             |SELECT 'documents.doc_id unique' AS check, n AS n_rows, uq AS violations, uq = 0 AS passed FROM d1
             |UNION ALL
             |SELECT 'documents.text not-null', n, nn, nn = 0 FROM d1
             |UNION ALL
             |SELECT 'documents.n_chars = length(text)', n, lc, lc = 0 FROM d1
             |UNION ALL
             |SELECT 'orders.o_custkey in customer', n, fk, fk = 0 FROM o1
             |UNION ALL
             |SELECT 'orders.o_totalprice positive', n, rng, rng = 0 FROM o1""".stripMargin)
    ),
    QueryDef(
      // Greedy document packing into fixed token-budget training
      // sequences: per (source, shard) docs fill 4096-token packs in
      // doc_id order — the running token sum's floor-division assigns
      // each doc the pack it STARTS in. The window partitions by
      // (source, shard % 8), so packing parallelizes across shards and
      // no global single-partition window exists; at 100 TB raise the
      // shard count, not the partition size. Deterministic in both
      // engines (integer arithmetic only).
      // Greedy token-budget sequence packing, with the budget counted in
      // REAL subword tokens: the in-corpus BPE tokenizer (q135 /
      // operators.Bpe) supplies per-doc counts — a training-data
      // pipeline budgets sequences in tokenizer tokens, not the
      // char-proxy this query used through round 14. Wordless docs pack
      // at 0 tokens (kept — packing decides placement, not curation).
      "q82_sequence_pack",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source", "shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val docs = Tables.documents(s, d)
        val counts = graft.operators.Bpe.docTokenCounts(
            docs.select("doc_id", "text"), graft.operators.Bpe.mergesFor(s, d))
          .select(col("doc_id"), col("n_bpe_tokens"))
        docs
          .select(col("doc_id"), col("source"),
            pmod(col("doc_id"), lit(8)).as("shard"))
          .join(counts, Seq("doc_id"), "left")
          .withColumn("n_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
          .drop("n_bpe_tokens")
          .withColumn("cum_tokens", sum("n_tokens").over(w))
          .withColumn("pack_id",
            floor((col("cum_tokens") - col("n_tokens")) / lit(4096)).cast("long"))
      },
      Some(s"""WITH ${graft.operators.Bpe.sqlTrainCtes()},
              |${graft.operators.Bpe.sqlDocCountsCte},
              |base AS (
              |  SELECT d.doc_id, d.source, d.doc_id % 8 AS shard,
              |         CAST(coalesce(b.n_bpe_tokens, 0) AS BIGINT) AS n_tokens
              |  FROM documents d LEFT JOIN bpe_docs b ON d.doc_id = b.doc_id)
              |SELECT doc_id, source, shard, n_tokens,
              |       CAST(SUM(n_tokens) OVER (
              |              PARTITION BY source, shard ORDER BY doc_id
              |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |         AS cum_tokens,
              |       CAST(floor((CAST(SUM(n_tokens) OVER (
              |              PARTITION BY source, shard ORDER BY doc_id
              |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |            - n_tokens) / 4096) AS BIGINT) AS pack_id
              |FROM base""".stripMargin)
    ),
    QueryDef(
      // The composite nightly shape a training-data team runs: exact-dedup
      // survivors → language-ID + quality scoring → gate → per-(source,
      // predicted-language) corpus stats. One chain, no intermediate
      // materialization: the dedup shuffle and the final bounded-key agg
      // are the only shuffles; scoring is map-side over survivors only.
      // Near-dup clustering / decontamination / mixing compose the same
      // way via q41-q43, q52, q56, q58/q59.
      "q81_curation_pipeline",
      (s, d) => {
        val docs = docsWithDups(s, d)
        val kept = docs
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        val hits = TextOps.stopwords.map { case (lang, stops) =>
          lang -> TextOps.stopwordHits(col("text"), stops)
        }
        val mx = greatest(hits.map(_._2): _*)
        val pred = hits.foldLeft(when(mx === 0, "und")) {
          case (acc, (lang, h)) => acc.when(h === mx, lang)
        }.otherwise("und")
        val nWords = size(TextOps.words(col("text")))
        val stopHits = TextOps.stopwordHits(col("text"), TextOps.stopwords.head._2)
        val stopRatio = stopHits.cast("double") / nWords.cast("double")
        val quality =
          least(lit(1.0), nWords.cast("double") / 50.0) * 0.6 + stopRatio * 0.4
        docs.join(kept, Seq("doc_id"))
          .select(col("source"), pred.as("pred_lang"),
            nWords.cast("long").as("n_tokens"), round(quality, 6).as("quality"))
          .filter(col("quality") >= 0.5 && col("pred_lang") =!= "und")
          .groupBy("source", "pred_lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tokens").as("n_tokens"),
            round(sum(col("quality").cast("decimal(28,6)")).cast("double") /
              count(lit(1)).cast("double"), 6).as("mean_quality"))
      },
      Some {
        val hitsSql = TextOps.stopwords.map { case (lang, stops) =>
          lang -> TextOps.stopwordHitsSql("text", stops)
        }
        val mxSql = s"greatest(${hitsSql.map(_._2).mkString(", ")})"
        val predCases = hitsSql
          .map { case (lang, h) => s"WHEN $h = $mxSql THEN '$lang'" }
          .mkString(" ")
        val stops = TextOps.stopwordHitsSql("text", TextOps.stopwords.head._2)
        val nWords = "len(string_split(text, ' '))"
        s"""WITH $docs2Cte,
           |kept AS (SELECT MIN(doc_id) AS doc_id FROM docs2 GROUP BY md5(text)),
           |scored AS (
           |  SELECT source,
           |         CASE WHEN $mxSql = 0 THEN 'und' $predCases ELSE 'und' END AS pred_lang,
           |         CAST($nWords AS BIGINT) AS n_tokens,
           |         round(least(1.0, CAST($nWords AS DOUBLE) / 50.0) * 0.6 +
           |               (CAST($stops AS DOUBLE) / CAST($nWords AS DOUBLE)) * 0.4, 6) AS quality
           |  FROM docs2 JOIN kept USING (doc_id))
           |SELECT source, pred_lang,
           |       COUNT(*) AS n_docs,
           |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           |       round(CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS DOUBLE) /
           |             CAST(COUNT(*) AS DOUBLE), 6) AS mean_quality
           |FROM scored
           |WHERE quality >= 0.5 AND pred_lang <> 'und'
           |GROUP BY source, pred_lang""".stripMargin
      }
    ),
    QueryDef(
      // ANN quality eval: recall@5 of the IVF derived-probe search (q68)
      // against the exact brute-force truth (q44), per query point. The
      // "measure, don't guess" loop for approximate search: before
      // swapping brute force for IVF at 100 TB, this query prices the
      // recall you give up — probe more buckets (or train more centroids)
      // until the recall floor holds, THEN scale. Both sides are the
      // shared q44/q68 builders, so the eval can never drift from what
      // the operators actually return; the join is 80 rows a side.
      // (On this synthetic near-uniform embedding table the measured
      // recall is deliberately poor — untrained seed "centroids" over
      // clusterless vectors is exactly the configuration this eval
      // exists to catch before it ships.)
      "q89_ann_recall",
      (s, d) => {
        val t = bruteTop5(s, d).select("qid", "vec_id")
        val a = ivfTop5(s, d).select(col("qid"), col("vec_id"), lit(1).as("hit"))
        t.join(a, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(count(col("hit")).as("n_hits"))
          .select(col("qid"), col("n_hits"),
            round(col("n_hits").cast("double") / lit(5.0), 6).as("recall_at_5"))
      },
      Some(s"""WITH ${normsCte("nrms", "embeddings")},
              |$bruteKnnTailCtes,
              |$ivfTailCtes
              |SELECT t.qid, COUNT(a.vec_id) AS n_hits,
              |       round(CAST(COUNT(a.vec_id) AS DOUBLE) / 5.0, 6) AS recall_at_5
              |FROM truth t LEFT JOIN approx a
              |  ON t.qid = a.qid AND t.vec_id = a.vec_id
              |GROUP BY t.qid""".stripMargin)
    ),
    QueryDef(
      // Deterministic stratified train/val/test split: EXACTLY
      // floor(.8n)/floor(.9n) cuts within every (source, lang) stratum —
      // not the expectation-only split a per-doc hash-mod gives. Docs are
      // ranked inside their stratum by a multiplicative hash (a
      // shuffle-stable pseudo-random order), and the cut thresholds use
      // integer arithmetic only (rk*10 vs n*8) so neither engine can
      // drift on float rounding. The window partitions on the stratum —
      // the split parallelizes across strata and never funnels the
      // corpus through one partition; a 100 TB run shards exactly the
      // same way.
      "q91_stratified_split",
      (s, d) => {
        val stratum = Window.partitionBy("source", "lang")
        val byHash = stratum.orderBy(col("shuffle_key"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang"),
            ((col("doc_id") * lit(2654435761L)) % lit(4294967296L)).as("shuffle_key"))
          .withColumn("rk", row_number().over(byHash))
          .withColumn("n", count(lit(1)).over(stratum))
          .select(col("doc_id"), col("source"), col("lang"),
            when(col("rk") * 10 <= col("n") * 8, "train")
              .when(col("rk") * 10 <= col("n") * 9, "val")
              .otherwise("test").as("split"))
      },
      Some("""SELECT doc_id, source, lang,
             |       CASE WHEN rk * 10 <= n * 8 THEN 'train'
             |            WHEN rk * 10 <= n * 9 THEN 'val'
             |            ELSE 'test' END AS split
             |FROM (
             |  SELECT doc_id, source, lang,
             |         row_number() OVER (PARTITION BY source, lang
             |             ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk,
             |         COUNT(*) OVER (PARTITION BY source, lang) AS n
             |  FROM documents) t""".stripMargin)
    ),
    QueryDef(
      // Corpus reporting cube: doc/token totals at every (source, lang)
      // rollup level in ONE aggregation pass (grouping sets compute the
      // partials map-side, no per-level re-scan). Rollup nulls coalesce
      // to a sentinel and the grouping bits ride along explicitly, so
      // both engines emit identical rows.
      "q98_rollup_stats",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("source"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .rollup("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
            (grouping(col("source")) * 2 + grouping(col("lang"))).as("gid"))
          .select(
            coalesce(col("source"), lit("ALL")).as("source"),
            coalesce(col("lang"), lit("ALL")).as("lang"),
            col("gid").cast("long").as("gid"),
            col("n_docs"), col("n_tokens")),
      Some("""SELECT coalesce(source, 'ALL') AS source,
             |       coalesce(lang, 'ALL') AS lang,
             |       CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
             |       COUNT(*) AS n_docs,
             |       CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
             |FROM documents
             |GROUP BY ROLLUP (source, lang)""".stripMargin)
    ),
    QueryDef(
      // MinHash-LSH candidate-generation recall vs the exact banded-
      // Jaccard truth (q43), per similarity decile — the empirical
      // S-curve every LSH deployment should measure before trusting its
      // band/row parameters at scale (16 bands × 2 rows ⇒ P(catch) =
      // 1-(1-j²)^16, ≈0.99 at j=0.5). Truth and candidates come from the
      // shared q43/q41 builders, so the eval can't drift from the
      // operators; rows-only (candidates depend on Spark murmur3), with
      // the golden spec pinning the high-similarity deciles at 1.0.
      // Completes the recall-eval triple: q85 (blocking), q89 (ANN),
      // q99 (near-dup LSH).
      "q99_lsh_recall",
      (s, d) => {
        val truth = jaccardPairs(s, d)
        val cand = lshCandidates(s, d).withColumn("caught", lit(1))
        truth.join(cand, Seq("doc_a", "doc_b"), "left")
          .groupBy(floor(col("jaccard") * 10).cast("long").as("jaccard_decile"))
          .agg(count(lit(1)).as("n_truth"), count(col("caught")).as("n_caught"))
          .select(col("jaccard_decile"), col("n_truth"), col("n_caught"),
            round(col("n_caught").cast("double") / col("n_truth").cast("double"), 6)
              .as("recall"))
      },
      Some(s"""WITH $jaccardPairsCtes,
              |$lshBandCtes,
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
              |   AND a.doc_id < b.doc_id),
              |j AS (
              |  SELECT t.jaccard,
              |         CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS caught
              |  FROM jpairs t LEFT JOIN cand c
              |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
              |SELECT CAST(floor(jaccard * 10) AS BIGINT) AS jaccard_decile,
              |       COUNT(*) AS n_truth, COUNT(caught) AS n_caught,
              |       round(CAST(COUNT(caught) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
              |         AS recall
              |FROM j GROUP BY 1""".stripMargin)
    ),
    QueryDef(
      // Line-level dedup (the CCNet/RefinedWeb shape): docs split into
      // fixed 10-word "lines"; a line occurring in >= 2 DISTINCT docs is
      // boilerplate and removed from every doc, which is then reassembled
      // in original order. Complements the whole-doc family (q40-q43):
      // this is intra-document surgery at corpus scale. 100 TB shape: the
      // only shuffles are the line-frequency hash-agg (over a line HASH,
      // not the text, in a real deployment) and the doc reassembly agg;
      // everything else is map-side.
      "q102_line_dedup",
      (s, d) => {
        val w = split(col("text"), " ")
        val chunks = docsWithDups(s, d)
          .select(col("doc_id"),
            explode(transform(
              sequence(lit(0), (ceil(size(w) / lit(10.0))).cast("int") - 1),
              i => struct(i.as("pos"),
                concat_ws(" ", slice(w, i * 10 + 1, lit(10))).as("chunk"))))
              .as("c"))
          .select(col("doc_id"), col("c.pos").as("pos"), col("c.chunk").as("chunk"))
        // nd as a window over the chunk partition instead of a groupBy +
        // self-join: the chunk construction (split + windowed concat over
        // every doc) is the dominant cost and a join shape evaluates it
        // TWICE (Spark shares no work across join branches); the window
        // computes it once and shuffles on the same key the join would.
        chunks
          .withColumn("nd",
            size(collect_set(col("doc_id")).over(Window.partitionBy("chunk"))))
          .withColumn("boiler", col("nd") >= 2)
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
            array_join(
              transform(
                array_sort(collect_list(
                  when(!col("boiler"), struct(col("pos"), col("chunk"))))),
                x => x.getField("chunk")),
              " ").as("kept_text"))
      },
      Some(s"""WITH $docs2Cte,
              |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs2),
              |chunks AS (
              |  SELECT doc_id, u.pos AS pos, u.chunk AS chunk
              |  FROM (
              |    SELECT doc_id,
              |           unnest([{'pos': i - 1,
              |                    'chunk': array_to_string(w[((i-1)*10+1):((i-1)*10+10)], ' ')}
              |                   FOR i IN range(1, CAST(ceil(len(w) / 10.0) AS BIGINT) + 1)]) AS u
              |    FROM words)),
              |counts AS (SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk)
              |SELECT c.doc_id, COUNT(*) AS n_chunks,
              |       CAST(SUM(CASE WHEN n.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
              |       coalesce(string_agg(CASE WHEN n.nd < 2 THEN c.chunk END, ' ' ORDER BY c.pos), '')
              |         AS kept_text
              |FROM chunks c JOIN counts n ON c.chunk = n.chunk
              |GROUP BY c.doc_id""".stripMargin)
    ),
    QueryDef(
      // Incremental near-dup detection: signature ONLY the arriving batch
      // (the doc_id >= 100000 augmented rows play the delta) and probe the
      // indexed corpus's stored band rows — the shape that makes LSH dedup
      // sustainable at 100 TB: the corpus band store is written once
      // (Sources.writeBucketed on (band, v1, v2) joins with no shuffle)
      // and each new batch costs O(|delta|) hashing + one equi-join probe,
      // never a corpus re-scan. Emits corpus⋈delta matches only (delta-
      // internal dups are the NEXT batch's corpus problem).
      "q100_incremental_lsh",
      (s, d) => {
        val bands = lshBandRows(s, d)
        val corpus = bands.filter(col("doc_id") < 100000)
        val delta = bands.filter(col("doc_id") >= 100000)
        corpus.as("a").join(delta.as("b"),
            col("a.band") === col("b.band") && col("a.v1") === col("b.v1") &&
              col("a.v2") === col("b.v2"))
          .select(col("a.doc_id").as("corpus_id"), col("b.doc_id").as("new_id"))
          .distinct()
      },
      Some(s"""WITH $docs2Cte,
              |$gramsCte,
              |$lshBandCtes
              |SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS new_id
              |FROM bands a JOIN bands b
              |  ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
              | AND a.doc_id < 100000 AND b.doc_id >= 100000""".stripMargin)
    ),
    QueryDef(
      // Incremental EMBEDDING dedup — q100's vector analog and the
      // arrival path of a production SemDeDup-style index: the corpus
      // sits in its IVF cells (hard assignment, at scale a PERSISTED
      // bucketed table the way q100's band index is — the batch never
      // re-shuffles it), and each NEW vector probes its top-3 cells,
      // equi-joins the corpus cell lists, and two-phase-verifies the
      // candidates (codegen'd double prefilter at 1e-6 slack, decimal
      // exact for the threshold the cross-engine hash pins). The probe
      // count derives from the realized centroid count
      // (cellAssignmentsDerived) — fixed probes lose recall as k grows.
      "q123_incremental_embedding_dedup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val e = embDupNorms(s, d)
        val cents = ivfCentroids(e)
        // The corpus side is the PERSISTED half of the incremental
        // contract: its probe-1 home cells are read off the shared
        // ranked pass, so a batch pays only its own assignment.
        val corpusCells = embDupRankedFlat(s, d)
          .filter(col("vec_id") < 100000 && col("arnk") === 1)
          .select(col("vec_id").as("corpus_id"), col("label"), col("cid"))
        val newCells =
          cellAssignmentsDerived(e.filter(col("vec_id") >= 100000), cents)
            .select(col("vec_id").as("new_id"), col("label"), col("cid"))
        val cand = corpusCells.join(newCells, Seq("label", "cid"))
          .select("corpus_id", "new_id").distinct()
        verifyPairs(cand, e, e, "corpus_id", "new_id", 0.9)
      },
      Some(s"""WITH $emb2Cte,
              |${normsCte("nrms", "emb2", ", label")},
              |${centsCteSql("nrms")},
              |csims AS (
              |  SELECT n.vec_id, n.label, c.cid, MAX(n.nrm) AS nrm, MAX(c.cn) AS cn,
              |         ${VectorOps.dotDecimalSql("n.embedding", "c.ce")} AS dot
              |  FROM nrms n CROSS JOIN cents c, range(1, ${VectorOps.Dim + 1}) t(i)
              |  GROUP BY n.vec_id, n.label, c.cid),
              |ranked AS (
              |  SELECT vec_id, label, cid,
              |         ROW_NUMBER() OVER (PARTITION BY vec_id
              |             ORDER BY dot / (nrm * cn) DESC, cid ASC) AS arnk
              |  FROM csims),
              |corpuscells AS (
              |  SELECT vec_id AS corpus_id, label, cid FROM ranked
              |  WHERE arnk = 1 AND vec_id < 100000),
              |newcells AS (
              |  SELECT vec_id AS new_id, label, cid FROM ranked
              |  WHERE arnk <= $derivedProbesSql AND vec_id >= 100000),
              |cand AS (
              |  SELECT DISTINCT c.corpus_id, n.new_id
              |  FROM corpuscells c JOIN newcells n
              |    ON c.label = n.label AND c.cid = n.cid),
              |pairs AS (
              |  SELECT c.corpus_id, c.new_id, MAX(x.nrm) AS na, MAX(y.nrm) AS nb,
              |         ${VectorOps.dotDecimalSql("x.embedding", "y.embedding")} AS dot
              |  FROM cand c
              |  JOIN nrms x ON c.corpus_id = x.vec_id
              |  JOIN nrms y ON c.new_id = y.vec_id,
              |       range(1, ${VectorOps.Dim + 1}) t(i)
              |  GROUP BY c.corpus_id, c.new_id)
              |SELECT corpus_id, new_id, round(dot / (na * nb), 6) AS cos
              |FROM pairs WHERE dot / (na * nb) >= 0.9""".stripMargin)
    ),
    QueryDef(
      // SemDeDup's KEEP POLICY: connected components over the verified
      // embedding near-dup pairs (q51's edge set), then within each
      // component keep the member CLOSEST TO ITS CLUSTER CENTROID (the
      // SemDeDup representative rule; ties break on id) and drop the
      // rest. Shape: the CC loop is the bounded checkpointed min-label
      // propagation (Components), the keep rule ONE window over the
      // shuffle on cluster_id. Singletons keep themselves, so the output
      // is the full keep/drop decision a curation pipeline applies.
      "q124_semdedup_keep",
      (s, d) => {
        val e = embDupNorms(s, d)
        val edges = embDedupPairs(s, d)
          .select(col("vec_a").as("a"), col("vec_b").as("b"))
        val cc = graft.operators.Components.connectedComponents(
          e.select(col("vec_id").as("node")), edges)
        val byCluster = Window.partitionBy("cluster_id")
          .orderBy(col("aff").desc, col("node").asc)
        // SemDeDup's keep criterion: each vector's cosine to its
        // assigned (top-1) centroid, read off the shared ranked pass.
        val affinity = embDupRankedFlat(s, d)
          .filter(col("arnk") === 1)
          .select(col("vec_id").as("node"), col("csim").cast("double").as("aff"))
        cc.join(affinity, Seq("node"))
          .withColumn("rk", row_number().over(byCluster))
          .select(col("node").as("vec_id"), col("cluster_id"),
            (col("rk") === 1).as("is_kept"))
      },
      Some(s"""WITH RECURSIVE $embPairsCtes,
              |sym AS (SELECT vec_a AS a, vec_b AS b FROM epairs
              |        UNION SELECT vec_b, vec_a FROM epairs),
              |reach(src, dst) AS (
              |  SELECT a, b FROM sym
              |  UNION
              |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
              |minreach AS (SELECT src, MIN(dst) AS m FROM reach GROUP BY src),
              |clusters AS (
              |  SELECT n.vec_id AS node,
              |         least(n.vec_id, coalesce(m.m, n.vec_id)) AS cluster_id
              |  FROM nrms n LEFT JOIN minreach m ON n.vec_id = m.src),
              |aff AS (
              |  SELECT vec_id AS node, CAST(dot / (nrm * cn) AS DOUBLE) AS aff FROM (
              |    SELECT vec_id, dot, nrm, cn,
              |           ROW_NUMBER() OVER (PARTITION BY vec_id
              |               ORDER BY dot / (nrm * cn) DESC, cid ASC) AS arnk
              |    FROM csims) r
              |  WHERE arnk = 1)
              |SELECT c.node AS vec_id, c.cluster_id,
              |       (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
              |            ORDER BY a.aff DESC, c.node ASC)) = 1 AS is_kept
              |FROM clusters c JOIN aff a ON c.node = a.node""".stripMargin)
    ),
    QueryDef(
      // TEXT dedup keep policy: within each near-dup component (q52's
      // clusters over the banded Jaccard pairs), keep the copy from the
      // highest-priority SOURCE, breaking ties by LENGTH (the most
      // complete copy — the planted near-dup variants drop their first
      // word, so the original wins) then id. This is the curation rule
      // real corpus dedup applies when the same document arrives from
      // several crawls; q52's min-id keep is the arbitrary baseline.
      // Shape: the CC loop + ONE window over the shuffle on cluster_id.
      "q126_dedup_keep_policy",
      (s, d) => {
        val docs = docsWithDups(s, d)
          .select(col("doc_id").as("node"), col("n_chars"),
            regexp_extract(col("source"), "([0-9]+)$", 1)
              .cast("long").as("priority"))
        val edges = bandedJaccardPairs(s, d)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val cc = graft.operators.Components.connectedComponents(
          docs.select("node"), edges)
        val byCluster = Window.partitionBy("cluster_id")
          .orderBy(col("priority").asc, col("n_chars").desc, col("node").asc)
        cc.join(docs, Seq("node"))
          .withColumn("rk", row_number().over(byCluster))
          .select(col("node").as("doc_id"), col("cluster_id"),
            (col("rk") === 1).as("is_kept"))
      },
      Some(s"""WITH RECURSIVE $bandedJaccardPairsCtes,
              |sym AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
              |        UNION SELECT doc_b, doc_a FROM jpairs),
              |reach(src, dst) AS (
              |  SELECT a, b FROM sym
              |  UNION
              |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
              |minreach AS (SELECT src, MIN(dst) AS m FROM reach GROUP BY src),
              |clusters AS (
              |  SELECT d.doc_id AS node, d.n_chars,
              |         CAST(regexp_extract(d.source, '([0-9]+)$$', 1) AS BIGINT) AS priority,
              |         least(d.doc_id, coalesce(m.m, d.doc_id)) AS cluster_id
              |  FROM docs2 d LEFT JOIN minreach m ON d.doc_id = m.src)
              |SELECT node AS doc_id, cluster_id,
              |       (ROW_NUMBER() OVER (PARTITION BY cluster_id
              |            ORDER BY priority ASC, n_chars DESC, node ASC)) = 1 AS is_kept
              |FROM clusters""".stripMargin)
    ),
    QueryDef(
      // SEMANTIC benchmark decontamination — q56's embedding analog: a
      // FIXED small benchmark/eval vector set broadcasts and every
      // corpus vector scores against it; vectors above the similarity
      // threshold are eval-leakage and get dropped before training. The
      // corpus side streams once with no shuffle (the q44/q56 broadcast
      // shape — at 100 TB the scan side never moves). Leakage is PLANTED
      // deterministically: the vec_id%13 corpus slice carries a benchmark
      // vector's embedding with its first component zeroed (the exact
      // emb2 perturbation both engines render bit-identically), so the
      // operator has positives and the oracle reproduces them.
      "q127_semantic_decontaminate",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        // The benchmark/eval set is a FIXED id list (vec_id % 97 == 0 below
        // a fixed cap of 16 ids) — a real decontamination run's eval set
        // does not grow with the corpus, and pinning it keeps the
        // corpus×bench scoring linear in corpus size under ScaleBench
        // replication (round-12 verdict: the unbounded %97 set made the
        // demo O(n²/97)).
        val benchCap = Q127BenchCap
        val raw = Tables.embeddings(s, d).select("vec_id", "embedding")
        val isBench = pmod(col("vec_id"), lit(97)) === 0 &&
          col("vec_id") < lit(97L * benchCap)
        val isPlant = pmod(col("vec_id"), lit(13)) === 0 && !isBench
        val benchEmb = raw.filter(isBench)
          .select(col("vec_id").as("src_id"), col("embedding").as("src_emb"))
        // Plant modulus derived from the REALIZED bench count, not the cap:
        // at small SF the %97 set has fewer than benchCap members, and a
        // fixed %benchCap mapping would send plants to nonexistent bench
        // ids (silently dropped by the inner join — round-13 regression).
        // nb = least(cap, floor(max_id/97)+1) guarantees every plant joins
        // a real bench vector while keeping the bench side O(1) at scale.
        val nbDf = raw.agg(
          least(lit(benchCap),
            (max("vec_id") / 97).cast("long") + 1L).as("nb"))
        val contam = raw.filter(isPlant)
          .crossJoin(broadcast(nbDf))
          .select(col("vec_id"),
            (pmod(col("vec_id"), col("nb")) * 97).as("src_id"))
          .join(broadcast(benchEmb), Seq("src_id"))
          .select(col("vec_id"),
            transform(col("src_emb"),
              (x, i) => when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"))
        val corpus = raw.filter(!isBench && !isPlant)
          .unionByName(contam)
          .withColumn("nrm", VectorOps.norm(col("embedding")))
        val bench = raw.filter(isBench)
          .withColumn("nrm", VectorOps.norm(col("embedding")))
          .select(col("vec_id").as("bench_id"), col("embedding").as("be"),
            col("nrm").as("bn"))
        corpus.crossJoin(broadcast(bench))
          .withColumn("cos",
            VectorOps.dotDecimal(col("embedding"), col("be")) /
              (col("nrm") * col("bn")))
          .filter(col("cos") >= 0.95)
          .select(col("vec_id"), col("bench_id"), round(col("cos"), 6).as("cos"))
      },
      Some(s"""WITH benchemb AS (
              |  SELECT vec_id AS src_id, embedding AS src_emb
              |  FROM embeddings
              |  WHERE vec_id % 97 = 0 AND vec_id < ${97 * Q127BenchCap}),
              |nb AS (
              |  SELECT least($Q127BenchCap, max(vec_id) // 97 + 1) AS n
              |  FROM embeddings),
              |contam AS (
              |  SELECT e.vec_id,
              |         [CASE WHEN i = 1 THEN CAST(0 AS FLOAT) ELSE b.src_emb[i] END
              |          FOR i IN range(1, ${VectorOps.Dim + 1})] AS embedding
              |  FROM embeddings e
              |  CROSS JOIN nb
              |  JOIN benchemb b ON b.src_id = (e.vec_id % nb.n) * 97
              |  WHERE e.vec_id % 13 = 0
              |    AND NOT (e.vec_id % 97 = 0 AND e.vec_id < ${97 * Q127BenchCap})),
              |corpus2 AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  WHERE NOT (vec_id % 97 = 0 AND vec_id < ${97 * Q127BenchCap})
              |    AND vec_id % 13 <> 0
              |  UNION ALL SELECT vec_id, embedding FROM contam),
              |${normsCte("cnorms", "corpus2")},
              |bnorms AS (
              |  SELECT vec_id AS bench_id, embedding AS be,
              |         sqrt(${VectorOps.dotDecimalSql("embedding", "embedding")}) AS bn
              |  FROM benchemb t(vec_id, embedding), range(1, ${VectorOps.Dim + 1}) t2(i)
              |  GROUP BY vec_id, embedding),
              |scored AS (
              |  SELECT c.vec_id, b.bench_id, MAX(c.nrm) AS nrm, MAX(b.bn) AS bn,
              |         ${VectorOps.dotDecimalSql("c.embedding", "b.be")} AS dot
              |  FROM cnorms c CROSS JOIN bnorms b, range(1, ${VectorOps.Dim + 1}) t(i)
              |  GROUP BY c.vec_id, b.bench_id)
              |SELECT vec_id, bench_id, round(dot / (nrm * bn), 6) AS cos
              |FROM scored WHERE dot / (nrm * bn) >= 0.95""".stripMargin)
    ),
    QueryDef(
      // Int8 scalar-quantized ANN with full-precision rerank (the FAISS
      // SQ8 shape): candidates come from the SAME derived-probe IVF index as
      // q68, but the candidate stage ranks by the exact INTEGER dot of
      // int8Quant codes — 1 byte/component instead of 4, integer MACs
      // instead of decimal — and only the top-8 shortlist per query pays
      // the full-precision decimal rerank that orders the final top-5.
      // At 100 TB the candidate stage is memory-bandwidth-bound, so the
      // 4× byte shrink is the win; the shortlist rerank re-joins
      // embeddings BY ID (slim ranking rows, the q51 discipline). icos
      // (the quantized estimate) rides along so the quantization error
      // is observable — the spec bounds |icos − cos|.
      "q131_int8_rerank",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val assign = ivfAssign(s, d)
        val data = assign.filter(col("arnk") === 1)
          .select(col("vec_id"), col("cid"),
            int8Quant(col("embedding"), col("nrm")).as("qv"))
        val qprobe = assign
          .filter(col("vec_id").isin(KnnQueryIds: _*) &&
            col("arnk") <= col("probes"))
          .select(col("vec_id").as("qid"), col("cid"),
            int8Quant(col("embedding"), col("nrm")).as("qq"))
        val byIdot = Window.partitionBy("qid")
          .orderBy(col("idot").desc, col("vec_id").asc)
        val short = data.join(qprobe, Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), intDot(col("qv"), col("qq")).as("idot"))
          .withColumn("srnk", row_number().over(byIdot))
          .filter(col("srnk") <= 8)
          .drop("srnk")
        val e = embNorms(s, d)
        val qemb = e.filter(col("vec_id").isin(KnnQueryIds: _*))
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("nrm").as("qn"))
        val byCos = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id").asc)
        short.join(e.select("vec_id", "embedding", "nrm"), Seq("vec_id"))
          .join(broadcast(qemb), Seq("qid"))
          .withColumn("cos",
            VectorOps.dotDecimal(col("embedding"), col("qe")) /
              (col("nrm") * col("qn")))
          .withColumn("rnk", row_number().over(byCos))
          .filter(col("rnk") <= 5)
          .select(col("qid"), col("vec_id"), col("rnk"),
            round(col("cos"), 6).as("cos"),
            round(col("idot").cast("double") / lit(16129.0), 6).as("icos"))
      },
      Some(s"""WITH ${normsCte("nrms", "embeddings")},
              |$ivfAssignCtes,
              |quant AS (
              |  SELECT vec_id,
              |         [CAST(floor(embedding[i] * 127.0 / nrm + 0.5) AS BIGINT)
              |          FOR i IN range(1, ${VectorOps.Dim + 1})] AS qv
              |  FROM nrms),
              |sdots AS (
              |  SELECT d.vec_id, p.vec_id AS qid,
              |         CAST(SUM(x.qv[i] * y.qv[i]) AS BIGINT) AS idot
              |  FROM assign d
              |  JOIN quant x ON x.vec_id = d.vec_id
              |  JOIN assign p ON p.cid = d.cid AND p.arnk <= $retrievalProbesSql
              |       AND p.vec_id IN (${KnnQueryIds.mkString(", ")})
              |       AND p.vec_id <> d.vec_id
              |  JOIN quant y ON y.vec_id = p.vec_id,
              |       range(1, ${VectorOps.Dim + 1}) t(i)
              |  WHERE d.arnk = 1
              |  GROUP BY d.vec_id, p.vec_id),
              |short AS (
              |  SELECT qid, vec_id, idot,
              |         ROW_NUMBER() OVER (PARTITION BY qid
              |             ORDER BY idot DESC, vec_id ASC) AS srnk
              |  FROM sdots),
              |rer AS (
              |  SELECT s.qid, s.vec_id, MAX(s.idot) AS idot,
              |         MAX(v.nrm) AS vn, MAX(q.nrm) AS qn,
              |         ${VectorOps.dotDecimalSql("v.embedding", "q.embedding")} AS dot
              |  FROM short s
              |  JOIN nrms v ON v.vec_id = s.vec_id
              |  JOIN nrms q ON q.vec_id = s.qid,
              |       range(1, ${VectorOps.Dim + 1}) t(i)
              |  WHERE s.srnk <= 8
              |  GROUP BY s.qid, s.vec_id)
              |SELECT qid, vec_id, rnk, round(cos, 6) AS cos,
              |       round(CAST(idot AS DOUBLE) / 16129.0, 6) AS icos
              |FROM (SELECT qid, vec_id, idot, dot / (vn * qn) AS cos,
              |             ROW_NUMBER() OVER (PARTITION BY qid
              |                 ORDER BY dot / (vn * qn) DESC, vec_id ASC) AS rnk
              |      FROM rer) r
              |WHERE rnk <= 5""".stripMargin)
    ),
    QueryDef(
      // Filtered vector search: ANN where a metadata predicate (here:
      // the neighbor must carry the query's label) composes INTO the
      // candidate join key — candidates equi-join on (cell, label), not
      // on cell with a post-filter, so a selective predicate SHRINKS the
      // join instead of wasting scored candidates. This is the
      // filtered-kNN problem every vector store names (pre- vs
      // post-filtering); the pre-filter shape is the one that survives
      // 100 TB, where a post-filter after top-k can return < k rows and
      // a post-filter before top-k scores candidates the predicate
      // already excluded.
      "q132_filtered_ann",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val assign = ivfAssign(s, d)
        val data = assign.filter(col("arnk") === 1)
          .select(col("vec_id"), col("cid"), col("label"),
            col("embedding"), col("nrm"))
        val qprobe = assign
          .filter(col("vec_id").isin(KnnQueryIds: _*) &&
            col("arnk") <= col("probes"))
          .select(col("vec_id").as("qid"), col("cid"), col("label"),
            col("embedding").as("qe"), col("nrm").as("qn"))
        val byQ = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id").asc)
        data.join(qprobe, Seq("cid", "label"))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cos",
            VectorOps.dotDecimal(col("embedding"), col("qe")) /
              (col("nrm") * col("qn")))
          .withColumn("rnk", row_number().over(byQ))
          .filter(col("rnk") <= 5)
          .select(col("qid"), col("label"), col("vec_id"), col("rnk"),
            round(col("cos"), 6).as("cos"))
      },
      // The oracle post-filters on label equality after the cell join —
      // result-identical to the Spark side's (cell, label) join key
      // (both demand same cell AND same label); only the join ORDER is a
      // Spark-side scale choice the oracle need not mirror.
      Some(s"""WITH ${normsCte("nrms", "embeddings", ", label")},
              |$ivfAssignCtes,
              |fpairs AS (
              |  SELECT v.vec_id, MAX(v.label) AS label, p.vec_id AS qid,
              |         MAX(v.nrm) AS vn, MAX(q.nrm) AS qn,
              |         ${VectorOps.dotDecimalSql("v.embedding", "q.embedding")} AS dot
              |  FROM assign d
              |  JOIN nrms v ON v.vec_id = d.vec_id
              |  JOIN assign p ON p.cid = d.cid AND p.arnk <= $retrievalProbesSql
              |       AND p.vec_id IN (${KnnQueryIds.mkString(", ")})
              |       AND p.vec_id <> d.vec_id
              |  JOIN nrms q ON q.vec_id = p.vec_id AND q.label = v.label,
              |       range(1, ${VectorOps.Dim + 1}) t(i)
              |  WHERE d.arnk = 1
              |  GROUP BY v.vec_id, p.vec_id)
              |SELECT qid, label, vec_id, rnk, round(cos, 6) AS cos
              |FROM (SELECT qid, label, vec_id, dot / (vn * qn) AS cos,
              |             ROW_NUMBER() OVER (PARTITION BY qid
              |                 ORDER BY dot / (vn * qn) DESC, vec_id ASC) AS rnk
              |      FROM fpairs) r
              |WHERE rnk <= 5""".stripMargin)
    ),
    QueryDef(
      // DSIR importance selection over the documents corpus: target =
      // the 'src1' slice (the stand-in for a curated high-quality
      // domain), pool = everything else, keep the top ~10% of the pool
      // by hashed-unigram importance weight. See [[dsirSelect]] for the
      // scale shapes (O(buckets) broadcast models, histogram-thresholded
      // selection instead of a global sort).
      "q133_dsir_select",
      (s, d) => dsirSelect(Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source"),
        col("source") === "src1", 1, 10),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, source, lang, (source = 'src1') AS is_target,
              |         md5(unnest(string_split(text, ' '))) AS mh
              |  FROM documents),
              |tb AS (
              |  SELECT doc_id, source, lang, is_target,
              |         (${TextOps.md5ModSql("mh")}) % $DsirBuckets AS bucket
              |  FROM toks),
              |model AS (
              |  SELECT bucket,
              |         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
              |         SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
              |  FROM tb GROUP BY bucket),
              |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
              |               CAST(SUM(cr) AS BIGINT) AS tr FROM model),
              |logm AS (
              |  SELECT bucket,
              |         CAST(ln(CAST(ct + 1 AS DOUBLE) /
              |                 CAST(tt + $DsirBuckets AS DOUBLE)) AS DECIMAL(28,12))
              |       - CAST(ln(CAST(cr + 1 AS DOUBLE) /
              |                 CAST(tr + $DsirBuckets AS DOUBLE)) AS DECIMAL(28,12)) AS term
              |  FROM model, tot),
              |scored AS (
              |  SELECT t.doc_id, t.source, t.lang,
              |         COUNT(*) AS n_tokens, SUM(m.term) AS logw
              |  FROM tb t JOIN logm m ON t.bucket = m.bucket
              |  WHERE NOT t.is_target
              |  GROUP BY t.doc_id, t.source, t.lang),
              |hist AS (SELECT CAST(floor(logw) AS BIGINT) AS fb, COUNT(*) AS cnt
              |         FROM scored GROUP BY 1),
              |nn AS (SELECT COUNT(*) AS n FROM scored),
              |thr AS (
              |  SELECT MAX(fb) AS thr
              |  FROM (SELECT fb, SUM(cnt) OVER (ORDER BY fb DESC) AS cum
              |        FROM hist) h, nn
              |  WHERE cum >= CAST(floor((n * 1 + 9) / 10.0) AS BIGINT))
              |SELECT s.doc_id, s.source, s.lang, s.n_tokens,
              |       round(CAST(s.logw AS DOUBLE), 6) AS logw
              |FROM scored s, thr
              |WHERE CAST(floor(s.logw) AS BIGINT) >= thr.thr""".stripMargin)
    ),
    QueryDef(
      // MOSS winnowing overlap detection (Schleimer et al. SIGMOD'03):
      // exact-substring contamination at a DETECTION GUARANTEE — every
      // cross-document substring of length >= w + k - 1 = 60 chars is
      // found, nothing shorter than k = 40 is matched — the floor that
      // MinHash (set similarity) and q102 (fixed word-chunk boundaries)
      // can't give, at fingerprint density 2/(w+1) per char (linear
      // index, one equi-join). Candidates verify by actual substring
      // equality, so polynomial-hash collisions can't surface. Fixture:
      // doc_id % 51 < 3 append a per-group ~100-char verbatim quote —
      // planted groups of <= 3 docs sharing an exact passage.
      "q134_winnow_dedup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), winnowQuote(col("doc_id"))).as("text2"))
        // Hub cap inside the shared builder: a fingerprint occurring in
        // > WinnowHubCap docs (web scale: license headers, templated
        // boilerplate) would make its bucket's candidate pairs quadratic
        // in the hub size; such substrings are BOILERPLATE, not
        // duplication, and are excluded by design (the bucket-occupancy
        // cap every LSH-family candidate stage here applies). The cap is
        // far above any test-SF bucket, so the oracle mirror keeps the
        // hash exact.
        // Slim candidate rows (ids, positions, hash) through the joins;
        // texts re-attach BY ID only for the bounded verify set — the
        // shared winnowVerifiedGrams body, aggregated here to pairs.
        winnowVerifiedGrams(docs)
          .groupBy("doc_a", "doc_b")
          // first_a/first_b must come from ONE verified row (independent
          // column mins could pair P-in-A with Q-in-B when two passages
          // appear in opposite orders — a non-match position pair both
          // engines would agree on): min over the packed (pos_a, pos_b)
          // key, then decode. pos < 2³¹ (the int substr bound) keeps the
          // pack exact.
          .agg(countDistinct("h").as("n_grams"),
            min(col("pos_a") * lit(1L << 31) + col("pos_b")).as("first"))
          .select(col("doc_a"), col("doc_b"), col("n_grams"),
            shiftright(col("first"), 31).as("first_a"),
            col("first").bitwiseAND(lit((1L << 31) - 1)).as("first_b"))
      },
      Some(s"""WITH docs2 AS (
              |  SELECT doc_id, text || $winnowQuoteSql AS text2
              |  FROM documents),
              |$winnowVerSqlCtes
              |SELECT doc_a, doc_b, CAST(count(DISTINCT h) AS BIGINT) AS n_grams,
              |       min(pos_a * ${1L << 31} + pos_b) // ${1L << 31} AS first_a,
              |       min(pos_a * ${1L << 31} + pos_b) % ${1L << 31} AS first_b
              |FROM ver GROUP BY doc_a, doc_b""".stripMargin)
    ),
    QueryDef(
      // Corpus snapshot DIFF — the dataset-versioning op a recurring
      // crawl/curation pipeline runs before retraining: two corpus
      // versions full-outer-join on doc_id and compare content hashes,
      // classifying every id as added / removed / changed (unchanged
      // rows are the uninteresting bulk and are not emitted). v2 is
      // synthesized deterministically in both engines: doc_id % 13 == 0
      // dropped, % 17 == 0 survivors get a text edit, fresh ids minted
      // for % 23 == 0 at a CORPUS-DERIVED offset — the smallest power of
      // ten above max(doc_id), computed with identical integer/string
      // arithmetic in both engines, so minted ids can never collide with
      // surviving v1 ids at ANY corpus size (a fixed +400000 constant
      // would alias once the corpus passes 400k docs, silently turning
      // added/removed rows into bogus 'changed' rows that both engines
      // would agree on). One shuffle on doc_id; the content compare is
      // md5 equality, never the texts themselves — at 100 TB the join
      // carries (id, 32-byte hash) rows only.
      "q145_corpus_diff",
      (s, d) => {
        val v1 = Tables.documents(s, d).select(col("doc_id"),
          md5(col("text")).as("h1"))
        val docs = Tables.documents(s, d)
        val off = docs.agg(max("doc_id").as("mx")).select(
          concat(lit("1"), repeat(lit("0"),
            length(col("mx").cast("string")))).cast("long").as("off"))
        val survivors = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
          .select(col("doc_id"),
            md5(when(pmod(col("doc_id"), lit(17)) === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("h2"))
        val added = docs.filter(pmod(col("doc_id"), lit(23)) === 0)
          .crossJoin(broadcast(off))
          .select((col("doc_id") + col("off")).as("doc_id"), md5(col("text")).as("h2"))
        val v2 = survivors.unionByName(added)
        v1.join(v2, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("h1").isNull, "added")
              .when(col("h2").isNull, "removed")
              .when(col("h1") =!= col("h2"), "changed")
              .otherwise("unchanged").as("status"))
          .filter(col("status") =!= "unchanged")
      },
      Some("""WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
             |off AS (
             |  SELECT CAST('1' || repeat('0', length(CAST(MAX(doc_id) AS VARCHAR)))
             |              AS BIGINT) AS off
             |  FROM documents),
             |v2 AS (
             |  SELECT doc_id,
             |         md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END) AS h2
             |  FROM documents WHERE doc_id % 13 <> 0
             |  UNION ALL
             |  SELECT doc_id + (SELECT off FROM off), md5(text)
             |  FROM documents WHERE doc_id % 23 = 0)
             |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             |       CASE WHEN v1.doc_id IS NULL THEN 'added'
             |            WHEN v2.doc_id IS NULL THEN 'removed'
             |            WHEN v1.h1 <> v2.h2 THEN 'changed'
             |            ELSE 'unchanged' END AS status
             |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
             |WHERE NOT (v1.doc_id IS NOT NULL AND v2.doc_id IS NOT NULL AND v1.h1 = v2.h2)""".stripMargin)
    ),
    QueryDef(
      // Overlapping sliding-window chunking — the context-window op a
      // pretraining/RAG pipeline runs over long documents before packing
      // (q82) or embedding: W-word windows at stride S, so consecutive
      // chunks share W−S words and no span of ≤ W−S+1 words is ever cut
      // without also appearing whole in some chunk. Chunk counts derive
      // from each doc's own length; the whole op is ONE scan of per-doc
      // map-side work (explode + slice — no shuffle at any corpus size).
      // W/S are demo-scale (32/24) so the test corpus (10-99 words/doc)
      // produces real 1-4-chunk spreads; production token-budget values
      // (e.g. 2048/1536) change the constants, not the shape.
      "q146_chunk_windows",
      (s, d) => {
        val W = ChunkW
        val S = ChunkStride
        val w = split(col("text"), " ")
        val n = size(w)
        // ceil((n−W)/S) + 1 full-and-tail windows; ≤ W words = 1 chunk.
        // floor of an exact small-int double division — engine-safe.
        val nChunks = when(n <= W, lit(1L)).otherwise(
          floor((n - lit(W) + lit(S - 1)).cast("double") / S).cast("long") + 1L)
        Tables.documents(s, d)
          .select(col("doc_id"), w.as("w"),
            explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
          .select(col("doc_id"), col("chunk_id"),
            slice(col("w"), (col("chunk_id") * S + 1).cast("int"), lit(W)).as("c"))
          .select(col("doc_id"), col("chunk_id"),
            size(col("c")).cast("long").as("n_words"),
            array_join(col("c"), " ").as("chunk_text"))
      },
      Some(s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |dims AS (
              |  SELECT doc_id, w,
              |         CASE WHEN len(w) <= $ChunkW THEN 1
              |              ELSE (len(w) - $ChunkW + ${ChunkStride - 1}) // $ChunkStride + 1
              |         END AS nc
              |  FROM words)
              |SELECT doc_id, u.chunk_id, u.n_words, u.chunk_text
              |FROM (
              |  SELECT doc_id,
              |         unnest([{'chunk_id': CAST(i - 1 AS BIGINT),
              |                  'n_words': CAST(len(w[((i-1)*$ChunkStride+1):((i-1)*$ChunkStride+$ChunkW)]) AS BIGINT),
              |                  'chunk_text': array_to_string(w[((i-1)*$ChunkStride+1):((i-1)*$ChunkStride+$ChunkW)], ' ')}
              |                 FOR i IN range(1, nc + 1)]) AS u
              |  FROM dims)""".stripMargin)
    ),
    QueryDef(
      // Domain-level quality rollup — the RefinedWeb-style curation step
      // AFTER per-doc scoring: aggregate q47's quality score by the
      // canonical host (q140's URL machinery) and flag blocklist
      // CANDIDATE domains (low mean quality or a high low-quality
      // share). Per-doc scoring is map-side; the rollup is one bounded-
      // key aggregate (hosts ≪ docs) — at 100 TB the whole pass is scan
      // + one small shuffle, and the emitted blocklist feeds the next
      // crawl's frontier filter (q140 / urlMatchesBatch).
      "q144_domain_quality",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nWords = size(TextOps.words(col("text")))
        val stopHits = TextOps.stopwordHits(col("text"), TextOps.stopwords.head._2)
        val stopRatio = stopHits.cast("double") / nWords.cast("double")
        val quality = least(lit(1.0), nWords.cast("double") / 50.0) * 0.6 +
          stopRatio * 0.4
        val scored = syntheticUrls(docs)
          .join(docs.select(col("doc_id"), quality.as("q")), Seq("doc_id"))
          .select(col("doc_id"),
            regexp_extract(canonicalizeUrl(col("url_raw")),
              "://([^/]+)", 1).as("host"),
            col("q").cast("decimal(28,12)").as("q"))
        scored.groupBy("host")
          .agg(count(lit(1)).as("n_docs"),
            round(sum("q").cast("double") / count(lit(1)).cast("double"), 6)
              .as("mean_quality"),
            sum(when(col("q") < 0.5, 1L).otherwise(0L)).as("n_low"))
          .select(col("host"), col("n_docs"), col("mean_quality"),
            round(col("n_low").cast("double") / col("n_docs").cast("double"), 6)
              .as("low_share"),
            (col("mean_quality") < 0.55 ||
              col("n_low").cast("double") / col("n_docs").cast("double") > 0.5)
              .as("blocklist_candidate"))
      },
      Some {
        val stops = TextOps.stopwordHitsSql("text", TextOps.stopwords.head._2)
        s"""WITH q AS (
           |  SELECT doc_id, source,
           |         CAST(least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0) * 0.6 +
           |              (CAST($stops AS DOUBLE) /
           |               CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4
           |              AS DECIMAL(28,12)) AS q
           |  FROM documents),
           |h AS (SELECT doc_id, source || '.example.com' AS host, q FROM q),
           |agg AS (
           |  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |         round(CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_quality,
           |         CAST(SUM(CASE WHEN q < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
           |  FROM h GROUP BY host)
           |SELECT host, n_docs, mean_quality,
           |       round(CAST(n_low AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS low_share,
           |       (mean_quality < 0.55 OR
           |        CAST(n_low AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.5) AS blocklist_candidate
           |FROM agg""".stripMargin
      }
    ),
    QueryDef(
      // WITHIN-document exact repetition — the spam/boilerplate-loop
      // detector q55's adjacent-word ratio can't give: a document that
      // repeats a ≥ w+k−1-char passage of ITSELF (templated sections,
      // generation loops) is caught by its own winnow fingerprints — the
      // same selected hash at two positions, verified by substring
      // equality. Same O(len) fingerprint pass as q134, but the
      // candidate join is per-document self-grouping (no corpus pair
      // join, no hub cap — a document's self-repeats are its own
      // business). Fixture: doc_id % 11 == 0 re-appends the doc's first
      // 80 chars. Output: one row per doc with a verified self-repeat.
      "q143_intra_repeat",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(11)) === 0,
              concat(lit(" "), substring(col("text"), 1, 80)))
              .otherwise(lit(""))).as("text2"))
        val fp0 = docs.select(col("doc_id"),
            explode(graft.functions.GraftFunctions.winnowKeys(col("text2"),
              WinnowK, WinnowW)).as("key"))
          .select(col("doc_id"), shiftright(col("key"), 33).as("h"),
            col("key").bitwiseAND(
              lit(graft.functions.WinnowImpl.PosShift - 1)).as("pos"))
        val cand = fp0.as("a").join(fp0.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.h") === col("b.h") &&
              col("a.pos") < col("b.pos"))
          .select(col("a.doc_id").as("doc_id"), col("a.h").as("h"),
            col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
        cand.join(docs, Seq("doc_id"))
          .filter(col("text2").substr(col("pos_a").cast("int"), lit(WinnowK)) ===
            col("text2").substr(col("pos_b").cast("int"), lit(WinnowK)))
          .groupBy("doc_id")
          .agg(countDistinct("h").as("n_repeat_grams"),
            min(col("pos_a") * lit(1L << 31) + col("pos_b")).as("first"))
          .select(col("doc_id"), col("n_repeat_grams"),
            shiftright(col("first"), 31).as("first_pos"),
            col("first").bitwiseAND(lit((1L << 31) - 1)).as("second_pos"))
      },
      Some(s"""WITH docs2 AS (
              |  SELECT doc_id,
              |         text || CASE WHEN doc_id % 11 = 0
              |                      THEN ' ' || substr(text, 1, 80) ELSE '' END AS text2
              |  FROM documents),
              |$winnowFpSqlCtes,
              |cand AS (
              |  SELECT a.doc_id, a.h, a.pos AS pos_a, b.pos AS pos_b
              |  FROM fp0 a JOIN fp0 b
              |    ON a.doc_id = b.doc_id AND a.h = b.h AND a.pos < b.pos),
              |ver AS (
              |  SELECT c.doc_id, c.h, c.pos_a, c.pos_b
              |  FROM cand c JOIN docs2 t ON t.doc_id = c.doc_id
              |  WHERE substring(t.text2, CAST(c.pos_a AS INTEGER), $WinnowK) =
              |        substring(t.text2, CAST(c.pos_b AS INTEGER), $WinnowK))
              |SELECT doc_id, CAST(count(DISTINCT h) AS BIGINT) AS n_repeat_grams,
              |       min(pos_a * ${1L << 31} + pos_b) // ${1L << 31} AS first_pos,
              |       min(pos_a * ${1L << 31} + pos_b) % ${1L << 31} AS second_pos
              |FROM ver GROUP BY doc_id""".stripMargin)
    ),
    QueryDef(
      // Checksum-verified PII redaction — q54's regex detector upgraded
      // the way production PII pipelines cut false positives: 16-digit
      // candidates are VALIDATED with the Luhn checksum in-query (pure
      // codegen'd arithmetic over the candidate's own digits), and only
      // checksum-valid card numbers are redacted — the digit soup that
      // merely looks like a card survives. Fixture plants one valid or
      // invalid candidate per doc_id % 9 class in both engines. Output:
      // one row per doc with >= 1 candidate. Map-side only.
      "q142_luhn_redact",
      (s, d) => {
        val plant = when(pmod(col("doc_id"), lit(9)) === 0,
            lit(" card 4111111111111111 or 4012888888881881 end"))
          .when(pmod(col("doc_id"), lit(9)) === 3,
            lit(" card 5500005555555559 end"))
          .when(pmod(col("doc_id"), lit(9)) === 6,
            lit(" card 1234567890123456 end"))
          .otherwise(lit(""))
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), concat(col("text"), plant).as("text2"))
        val cands = docs.select(col("doc_id"), col("text2"),
          explode(expr("regexp_extract_all(text2, '([0-9]{16})', 1)")).as("cand"))
        // Luhn over a 16-digit string: doubling positions 1,3,…,15
        // (1-based from the left for even total length).
        val luhnSum = aggregate(
          transform(sequence(lit(1), lit(16)), i => {
            val v = ascii(substring(col("cand"), lit(1), lit(16)).substr(i, lit(1))) - 48
            val dbl = v * 2
            when(pmod(i, lit(2)) === 1,
              when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(v)
          }),
          lit(0), (a, x) => a + x)
        cands
          .withColumn("is_valid", pmod(luhnSum, lit(10)) === 0)
          .groupBy("doc_id", "text2")
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("is_valid"), 1L).otherwise(0L)).as("n_valid"),
            // EVERY valid candidate redacts: fold replace over the
            // sorted distinct valid set (sorting pins the fold order —
            // replace is order-independent here since cards can't
            // overlap as substrings, but determinism should not lean
            // on that).
            array_sort(collect_set(when(col("is_valid"), col("cand"))))
              .as("vcands"))
          .select(col("doc_id"), col("n_candidates"), col("n_valid"),
            aggregate(col("vcands"), col("text2"),
              (acc, c) => call_function("replace", acc, c, lit("[CARD]")))
              .as("text_red"))
      },
      Some("""WITH docs2 AS (
             |  SELECT doc_id,
             |         text || CASE WHEN doc_id % 9 = 0 THEN ' card 4111111111111111 or 4012888888881881 end'
             |                      WHEN doc_id % 9 = 3 THEN ' card 5500005555555559 end'
             |                      WHEN doc_id % 9 = 6 THEN ' card 1234567890123456 end'
             |                      ELSE '' END AS text2
             |  FROM documents),
             |cands AS (
             |  SELECT doc_id, text2, unnest(regexp_extract_all(text2, '[0-9]{16}')) AS cand
             |  FROM docs2),
             |scored AS (
             |  SELECT doc_id, text2, cand,
             |         list_aggregate([
             |           CASE WHEN i % 2 = 1
             |                THEN CASE WHEN (ascii(substr(cand, i, 1)) - 48) * 2 > 9
             |                          THEN (ascii(substr(cand, i, 1)) - 48) * 2 - 9
             |                          ELSE (ascii(substr(cand, i, 1)) - 48) * 2 END
             |                ELSE ascii(substr(cand, i, 1)) - 48 END
             |           FOR i IN range(1, 17)], 'sum') % 10 = 0 AS is_valid
             |  FROM cands)
             |SELECT doc_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_candidates,
             |       CAST(SUM(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
             |       list_reduce(
             |         list_prepend(text2,
             |           coalesce(list_sort(list(DISTINCT cand) FILTER (WHERE is_valid)), [])),
             |         (acc, c) -> replace(acc, c, '[CARD]')) AS text_red
             |FROM scored GROUP BY doc_id, text2""".stripMargin)
    ),
    QueryDef(
      // Tokenizer evaluation: per-language FERTILITY (subword tokens per
      // word) and compression (chars per token) of the q135-trained BPE
      // — the metric a tokenizer team tracks per language before
      // committing a vocabulary (high fertility = the language pays more
      // sequence length per word). One broadcast join of the per-doc
      // counts back to the language column + a bounded-key aggregate.
      "q141_tokenizer_fertility",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val counts = graft.operators.Bpe.docTokenCounts(
          docs.select("doc_id", "text"), graft.operators.Bpe.mergesFor(s, d))
        val chars = graft.operators.Bpe.wordsOf(docs.select("doc_id", "text"))
          .groupBy("doc_id").agg(sum(length(col("word"))).as("n_chars_w"))
        docs.select("doc_id", "lang").join(counts, Seq("doc_id"))
          .join(chars, Seq("doc_id"))
          .groupBy("lang")
          .agg(sum("n_words").as("words"), sum("n_bpe_tokens").as("tokens"),
            sum("n_chars_w").as("chars_w"))
          .select(col("lang"), col("words"), col("tokens"),
            round(col("tokens").cast("double") / col("words").cast("double"), 6)
              .as("fertility"),
            round(col("chars_w").cast("double") / col("tokens").cast("double"), 6)
              .as("chars_per_token"))
      },
      Some(s"""WITH ${graft.operators.Bpe.sqlTrainCtes()},
              |${graft.operators.Bpe.sqlDocCountsCte},
              |chars AS (
              |  SELECT doc_id, CAST(SUM(length(word)) AS BIGINT) AS n_chars_w
              |  FROM bpe_dw GROUP BY doc_id)
              |SELECT d.lang,
              |       CAST(SUM(b.n_words) AS BIGINT) AS words,
              |       CAST(SUM(b.n_bpe_tokens) AS BIGINT) AS tokens,
              |       round(CAST(SUM(b.n_bpe_tokens) AS DOUBLE) / CAST(SUM(b.n_words) AS DOUBLE), 6) AS fertility,
              |       round(CAST(SUM(c.n_chars_w) AS DOUBLE) / CAST(SUM(b.n_bpe_tokens) AS DOUBLE), 6) AS chars_per_token
              |FROM documents d
              |JOIN bpe_docs b ON d.doc_id = b.doc_id
              |JOIN chars c ON d.doc_id = c.doc_id
              |GROUP BY d.lang""".stripMargin)
    ),
    QueryDef(
      // URL canonicalization + URL-level dedup — the web-crawl front
      // door: the same page arrives under scheme/case/www/port/tracking
      // -param/trailing-slash variants, and URL dedup kills the recrawl
      // before any content-level pass pays for it. Documents carry no
      // URL column, so a deterministic messy URL is synthesized per doc
      // (four variant shapes, duplicate canonical targets planted by
      // construction) in BOTH engines; canonicalization is a fixed
      // anchored-rewrite chain (scheme→https, lowercase, strip www /
      // default port / query tracking / trailing slash) — pure map-side
      // scalar work — and the keep is a hash-aggregate min per
      // canonical. At 100 TB: one scan, one dedup shuffle on the
      // canonical key.
      "q140_url_dedup",
      (s, d) => {
        val withUrl = syntheticUrls(Tables.documents(s, d))
          .select(col("doc_id"), col("url_raw"),
            canonicalizeUrl(col("url_raw")).as("url_canon"))
        val keep = withUrl.groupBy("url_canon")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dupes"))
        withUrl.join(keep, Seq("url_canon"))
          .select(col("doc_id"), col("url_raw"), col("url_canon"),
            col("n_dupes"), (col("doc_id") === col("keep_id")).as("is_kept"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 4 = 0 THEN 'http://WWW.' || host || ':80' || path || '/'
             |              WHEN doc_id % 4 = 1 THEN 'https://' || host || path || '?utm_source=feed'
             |              WHEN doc_id % 4 = 2 THEN 'HTTPS://' || upper(host) || path
             |              ELSE 'https://www.' || host || path END AS url_raw
             |  FROM (SELECT doc_id,
             |               source || '.example.com' AS host,
             |               '/p/' || CAST(doc_id % 60 AS VARCHAR) AS path
             |        FROM documents)),
             |c AS (
             |  SELECT doc_id, url_raw,
             |         regexp_replace(
             |           regexp_replace(
             |             regexp_replace(
             |               regexp_replace(
             |                 regexp_replace(lower(url_raw), '^http://', 'https://'),
             |                 '://www\.', '://'),
             |               ':80/', '/'),
             |             '\?.*$', ''),
             |           '/$', '') AS url_canon
             |  FROM u),
             |k AS (SELECT url_canon, MIN(doc_id) AS keep_id,
             |             CAST(COUNT(*) AS BIGINT) AS n_dupes
             |      FROM c GROUP BY url_canon)
             |SELECT c.doc_id, c.url_raw, c.url_canon, k.n_dupes,
             |       c.doc_id = k.keep_id AS is_kept
             |FROM c JOIN k ON c.url_canon = k.url_canon""".stripMargin)
    ),
    QueryDef(
      // Bigram-LM quality score — the CCNet-style perplexity filter one
      // order above q66's unigram: per-doc mean log P(bigram) under a
      // HASHED-bigram corpus model (the q133 DSIR bucketing idiom —
      // md5-bucketed pairs keep the model O(BigramBuckets) and broadcast
      // regardless of corpus size, where a raw bigram table would grow
      // with the corpus). Two corpus scans (model fit, scoring), decimal
      // term truncation before the per-doc sum (the q66 cross-engine
      // rule), no global sort. Low mean ⇒ improbable word sequences ⇒
      // the doc is a quality-gate candidate.
      "q139_bigram_logprob",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val w = TextOps.words(col("text"))
        val bigr = docs.select(col("doc_id"), explode(transform(
            slice(w, lit(1), size(w) - 1),
            (x, i) => concat(x, lit(" "),
              element_at(w, (i + 2).cast("int"))))).as("bg"))
          .withColumn("bucket",
            pmod(TextOps.md5Mod(col("bg")), lit(BigramBuckets)))
          .drop("bg")
        // ONE bigram explode for the whole query: pre-aggregate to
        // (doc_id, bucket, nb) and materialize — the model fit, its total
        // and the scoring all derive from this frame (the un-aggregated
        // version re-ran the explode + md5 per consumer: 3 full corpus
        // scans in the plan). nb-weighted decimal sums are exact, so
        // sum(logp)·over·bigrams ≡ sum(logp·nb) bit-for-bit and the
        // oracle hash is unchanged. The materialized frame is capped at
        // min(bigrams, docs·BigramBuckets) rows — the aggregate the
        // per-doc scoring join needs anyway.
        val bigrAgg = bigr.groupBy("doc_id", "bucket")
          .agg(count(lit(1)).as("nb")).localCheckpoint()
        val bc = bigrAgg.groupBy("bucket").agg(sum("nb").as("cnt"))
          .localCheckpoint()
        val total = bc.agg(sum("cnt").as("total"))
        bigrAgg.join(broadcast(bc), Seq("bucket"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("nb"),
            log(col("cnt").cast("double") / col("total").cast("double"))
              .cast("decimal(28,12)").as("logp"))
          .groupBy("doc_id")
          .agg(sum("nb").as("n_bigrams"),
            // (25,12)·(12,0) → decimal(38,12): the product keeps scale 12
            // exactly (a (28,12)·bigint product is precision 49, which
            // Spark truncates to scale 6 — a 1-ulp drift vs the per-row
            // oracle sum). Both casts are value-preserving here: |logp| <
            // 10^13 and nb < 10^12.
            round(sum(col("logp").cast("decimal(25,12)") *
                col("nb").cast("decimal(12,0)")).cast("double") /
              sum("nb").cast("double"), 6)
              .as("mean_logp2"))
      },
      Some(s"""WITH ws AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |bigr0 AS (
              |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
              |                         FOR i IN range(1, len(w))]) AS bg
              |  FROM ws),
              |bigr AS MATERIALIZED (
              |  SELECT doc_id, (${TextOps.md5ModSql("mh")}) % $BigramBuckets AS bucket
              |  FROM (SELECT doc_id, md5(bg) AS mh FROM bigr0)),
              |bc AS (SELECT bucket, COUNT(*) AS cnt FROM bigr GROUP BY bucket),
              |total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM bc)
              |SELECT doc_id, COUNT(*) AS n_bigrams,
              |       round(CAST(SUM(logp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_logp2
              |FROM (
              |  SELECT b.doc_id,
              |         CAST(ln(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
              |              AS DECIMAL(28,12)) AS logp
              |  FROM bigr b JOIN bc c ON b.bucket = c.bucket, total t)
              |GROUP BY doc_id""".stripMargin)
    ),
    QueryDef(
      // Deterministic in-corpus BPE tokenizer (Sennrich et al. 2016,
      // operators.Bpe): merges trained on the word-type table (one pair-
      // count aggregate + 1-row argmax per merge, the EM loop pattern),
      // encoding replayed as ONE nested-replace projection over the
      // broadcast vocabulary dimension. The oracle RETRAINS — the full
      // merge loop unrolled as a materialized CTE chain (the q105 EM
      // idiom) — so the hash pins the training dynamics, not just a
      // fixed merge list. Output: per-doc word and subword-token counts,
      // the currency every token-budget operator (q82 packing) spends.
      "q135_bpe_tokenize",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        graft.operators.Bpe.docTokenCounts(docs,
          graft.operators.Bpe.mergesFor(s, d))
      },
      Some(s"""WITH ${graft.operators.Bpe.sqlTrainCtes()},
              |${graft.operators.Bpe.sqlDocCountsCte}
              |SELECT doc_id, n_words, n_bpe_tokens FROM bpe_docs""".stripMargin)
    ),
    QueryDef(
      // Exact-span dedup REMOVAL (Lee et al. 2022 shape) on q134's
      // verified winnow matches: every overlap pair's loser (q126's keep
      // rule — source priority, then length, then id) has the verified
      // matched-gram intervals merged (gaps-and-islands) and excised,
      // and the document reassembled from the kept segments. Output is
      // one row per excised doc with the cleaned text — the planted
      // quote survives only in each group's keep-rule winner.
      "q136_span_dedup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), winnowQuote(col("doc_id"))).as("text2"),
          regexp_extract(col("source"), "([0-9]+)$", 1)
            .cast("long").as("priority"),
          col("n_chars"))
        winnowSpanDedup(docs)
      },
      Some(s"""WITH docs2 AS (
              |  SELECT doc_id, text || $winnowQuoteSql AS text2,
              |         CAST(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT) AS priority,
              |         n_chars
              |  FROM documents),
              |$winnowVerSqlCtes,
              |spans AS (
              |  SELECT DISTINCT
              |         CASE WHEN aa.priority < bb.priority
              |                OR (aa.priority = bb.priority AND (aa.n_chars > bb.n_chars
              |                    OR (aa.n_chars = bb.n_chars AND v.doc_a < v.doc_b)))
              |              THEN v.doc_b ELSE v.doc_a END AS doc_id,
              |         CASE WHEN aa.priority < bb.priority
              |                OR (aa.priority = bb.priority AND (aa.n_chars > bb.n_chars
              |                    OR (aa.n_chars = bb.n_chars AND v.doc_a < v.doc_b)))
              |              THEN v.pos_b ELSE v.pos_a END AS pos
              |  FROM ver v
              |  JOIN docs2 aa ON aa.doc_id = v.doc_a
              |  JOIN docs2 bb ON bb.doc_id = v.doc_b),
              |iv AS (
              |  SELECT doc_id, pos AS st, pos + ${WinnowK - 1} AS en,
              |         max(pos + ${WinnowK - 1}) OVER (PARTITION BY doc_id ORDER BY pos
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
              |  FROM spans),
              |isl AS (
              |  SELECT doc_id, st, en,
              |         SUM(CASE WHEN pmax IS NULL OR st > pmax + 1 THEN 1 ELSE 0 END)
              |           OVER (PARTITION BY doc_id ORDER BY st
              |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
              |  FROM iv),
              |islands AS (
              |  SELECT doc_id, island, MIN(st) AS st, MAX(en) AS en
              |  FROM isl GROUP BY doc_id, island),
              |segs AS (
              |  SELECT doc_id, st, en,
              |         coalesce(lag(en) OVER (PARTITION BY doc_id ORDER BY st) + 1, 1) AS seg_start
              |  FROM islands),
              |agg AS (
              |  SELECT s.doc_id,
              |         CAST(COUNT(*) AS BIGINT) AS n_spans,
              |         CAST(SUM(s.en - s.st + 1) AS BIGINT) AS chars_removed,
              |         string_agg(substring(d.text2, CAST(s.seg_start AS INTEGER),
              |                    CAST(s.st - s.seg_start AS INTEGER)), '' ORDER BY s.st) AS head,
              |         MAX(s.en) AS laste
              |  FROM segs s JOIN docs2 d ON d.doc_id = s.doc_id
              |  GROUP BY s.doc_id)
              |SELECT a.doc_id, a.n_spans, a.chars_removed,
              |       a.head || substring(d.text2, CAST(a.laste + 1 AS INTEGER), ${1 << 30}) AS text_clean
              |FROM agg a JOIN docs2 d ON d.doc_id = a.doc_id""".stripMargin)
    ),
    QueryDef(
      // BM25 top-k retrieval — the lexical-retrieval op a data-curation /
      // RAG pipeline runs to pull corpus documents for a query set
      // (Robertson-Spärck Jones BM25, k1 = 1.2, b = 0.75). The query set
      // derives deterministically from the corpus (terms ranked 17-32 by
      // document frequency, paired into 8 two-term queries) so both
      // engines build the identical fixture with no side file. Scale
      // shape: df/avgdl are one-pass corpus stats, the query set is a
      // tiny broadcast, scoring is an equi-join on term that touches only
      // postings of query terms, and top-k is TWO-LEVEL — a local
      // row_number inside (query, doc_id%SaltB) salt buckets keeps ≤
      // SaltB·k survivors per query before the global per-query rank, so
      // no single partition ever sorts a query's full posting list. Raw
      // per-term products are exact IEEE doubles in both engines (each
      // query has ≤ 2 terms, and 2-operand addition is order-free);
      // round(·, 6) before ranking pins the cross-engine order.
      "q147_bm25_topk",
      (s, d) => {
        val topK = Bm25TopK
        val (tf, dl) = bm25Postings(s, d)
        val (qt, stats) = bm25FitFrom(tf, dl)
        val scored = bm25Score(tf, dl, qt, stats)
        val local = scored
          .withColumn("r1", row_number().over(
            Window.partitionBy(col("query_id"), pmod(col("doc_id"), lit(Bm25SaltB)))
              .orderBy(col("score").desc, col("doc_id").asc)))
          .filter(col("r1") <= topK)
        local
          .withColumn("rnk", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("score").desc, col("doc_id").asc)))
          .filter(col("rnk") <= topK)
          .select("query_id", "rnk", "doc_id", "score")
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM w),
              |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
              |tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
              |       FROM (SELECT doc_id, unnest(w) AS word FROM w)
              |       GROUP BY doc_id, word),
              |df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word),
              |qt AS (SELECT CAST((rn - 17) // 2 AS BIGINT) AS query_id, word, df
              |       FROM (SELECT word, df,
              |                    row_number() OVER (ORDER BY df DESC, word ASC) AS rn
              |             FROM df)
              |       WHERE rn BETWEEN 17 AND 32),
              |scored AS (
              |  SELECT qt.query_id, tf.doc_id,
              |         round(SUM(ln((stats.n - qt.df + 0.5) / (qt.df + 0.5) + 1.0) *
              |               (tf.tf * 2.2) /
              |               (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS score
              |  FROM tf JOIN qt USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
              |  GROUP BY qt.query_id, tf.doc_id),
              |l1 AS (SELECT query_id, doc_id, score FROM (
              |  SELECT query_id, doc_id, score,
              |         row_number() OVER (PARTITION BY query_id, doc_id % $Bm25SaltB
              |                            ORDER BY score DESC, doc_id ASC) AS r1
              |  FROM scored) WHERE r1 <= $Bm25TopK)
              |SELECT query_id, rnk, doc_id, score FROM (
              |  SELECT query_id, doc_id, score,
              |         row_number() OVER (PARTITION BY query_id
              |                            ORDER BY score DESC, doc_id ASC) AS rnk
              |  FROM l1) WHERE rnk <= $Bm25TopK""".stripMargin)
    ),
    QueryDef(
      // Deterministic global shuffle + shard assignment — the LAST step
      // of a pretraining data pipeline: spread the curated corpus across
      // NShards output shards in a pseudo-random but seed-reproducible
      // order (shard = h(doc_id, seed) mod NShards, within-shard position
      // = rank of the hash). Scale shape: the hash is map-side, the only
      // shuffle is the repartition-by-shard a writer needs ANYWAY, and
      // the within-shard rank is a per-shard local sort (each shard is
      // one output file's worth) — no global sort at any corpus size.
      // Re-running with the same seed is byte-stable, so a resumed write
      // job reproduces the exact same shard contents.
      "q148_shuffle_shard",
      (s, d) => {
        val h = Tables.documents(s, d)
          .select(col("doc_id"),
            md5(concat(col("doc_id").cast("string"), lit(":shuf1"))).as("mh"))
          .select(col("doc_id"), TextOps.md5Fold48(col("mh"), 1).as("hkey"))
        h.select(col("doc_id"), col("hkey"),
            pmod(col("hkey"), lit(ShuffleShards)).as("shard"))
          .withColumn("pos", row_number().over(
            Window.partitionBy("shard").orderBy(col("hkey").asc, col("doc_id").asc)))
          .select("shard", "pos", "doc_id")
      },
      Some(s"""WITH m AS (
              |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':shuf1') AS mh
              |  FROM documents),
              |h AS (SELECT doc_id, ${TextOps.md5Fold48Sql("mh", 1)} AS hkey FROM m)
              |SELECT CAST(hkey % $ShuffleShards AS BIGINT) AS shard,
              |       row_number() OVER (PARTITION BY hkey % $ShuffleShards
              |                          ORDER BY hkey ASC, doc_id ASC) AS pos,
              |       doc_id
              |FROM h""".stripMargin)
    ),
    QueryDef(
      // Product-quantization ANN with ADC scoring (Jégou et al. 2011's
      // IVF-PQ, q131's sibling): the embedding splits into PqM subspaces,
      // each encoded as the argmin-L2² codeword of a PqK-entry sampled
      // codebook (training vectors stride-picked from the corpus, the
      // ivfCentroids idiom at residue 5), so a candidate costs PqM codes
      // instead of Dim floats. Queries precompute an ADC lookup table
      // (query-subvector · codeword dots — PqM·PqK entries per query,
      // broadcast), candidate scoring is PqM table lookups summed
      // (decimal — order-free), and only the ADC shortlist — sized
      // PqShortPerProbe × the derived probe count, a stable fraction of
      // the candidate volume at every decade — pays the full-precision
      // rerank that orders the final top-5.
      // Candidates come from the SAME derived-probe IVF cells as q68/q131, so
      // generation stays bucketed; `acos` (the ADC estimate of cosine)
      // rides along so quantization error is observable — for vectors
      // that ARE codebook sources the reconstruction is exact and
      // acos == cos (PipelineQueriesSpec pins it).
      "q149_pq_adc",
      (s, d) => pqAdcTop5(s, d),
      Some(s"""WITH ${normsCte("nrms", "embeddings")},
              |$ivfAssignCtes,
              |$pqAdcCtes
              |SELECT qid, vec_id, rnk, cos, acos FROM pqtop""".stripMargin)
    ),
    QueryDef(
      // Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
      // SIGIR 2009) — the RAG front door: for each query DOCUMENT
      // (KnnQueryIds — each id is both a doc_id and its embedding's
      // vec_id), a LEXICAL ranking (BM25 over the query doc's RrfQTerms
      // rarest terms — max-idf "more like this") and a SEMANTIC ranking
      // (exact cosine over embeddings) each produce a top-RrfDepth list,
      // and the fused score is Σ 1/(RrfC + rank) over the lists a doc
      // appears in. Scale shape: both sides are the already-proven
      // PRODUCTION retrieval plans — the lexical side is q147's postings
      // equi-join on broadcast query terms, the semantic side searches
      // the q68 derived-probe IVF cells (the q131 candidate stage — NOT the
      // q44 brute-force crossJoin, which is the baseline only) with the
      // exact decimal rerank ordering the top-10 — and the fusion is a
      // full-outer join of two O(queries·depth) frames, trivially
      // broadcastable at any corpus size. Per-term BM25 contributions
      // accumulate in decimal (3-term sums are NOT reorder-free in
      // doubles; the 2-term q147 was).
      "q150_hybrid_rrf",
      (s, d) => hybridRrfTop(s, d),
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM w),
              |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
              |tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
              |       FROM (SELECT doc_id, unnest(w) AS word FROM w)
              |       GROUP BY doc_id, word),
              |dfreq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
              |          FROM tf GROUP BY word),
              |qt AS (SELECT qid, word, df FROM (
              |  SELECT t.doc_id AS qid, t.word, d.df,
              |         ROW_NUMBER() OVER (PARTITION BY t.doc_id
              |             ORDER BY d.df ASC, t.word ASC) AS trk
              |  FROM tf t JOIN dfreq d USING (word)
              |  WHERE t.doc_id IN (${KnnQueryIds.mkString(", ")})
              |    AND d.df >= 2) r
              |  WHERE trk <= $RrfQTerms),
              |lexs AS (
              |  SELECT qt.qid, tf.doc_id,
              |         round(CAST(SUM(CAST(
              |           ln((stats.n - qt.df + 0.5) / (qt.df + 0.5) + 1.0) *
              |           (tf.tf * 2.2) /
              |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
              |         AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
              |  FROM tf JOIN qt USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
              |  WHERE tf.doc_id <> qt.qid
              |  GROUP BY qt.qid, tf.doc_id),
              |lex AS (SELECT qid, doc_id, lrnk FROM (
              |  SELECT qid, doc_id,
              |         ROW_NUMBER() OVER (PARTITION BY qid
              |             ORDER BY score DESC, doc_id ASC) AS lrnk
              |  FROM lexs) r WHERE lrnk <= $RrfDepth),
              |${normsCte("nrms", "embeddings")},
              |$ivfAssignCtes,
              |scand AS (
              |  SELECT p.vec_id AS qid, d.vec_id
              |  FROM assign d
              |  JOIN assign p ON p.cid = d.cid AND p.arnk <= $retrievalProbesSql
              |       AND p.vec_id IN (${KnnQueryIds.mkString(", ")})
              |       AND p.vec_id <> d.vec_id
              |  WHERE d.arnk = 1),
              |sdots AS (
              |  SELECT c.qid, c.vec_id, MAX(v.nrm) AS nrm, MAX(q.nrm) AS qn,
              |         ${VectorOps.dotDecimalSql("v.embedding", "q.embedding")} AS dot
              |  FROM scand c
              |  JOIN nrms v ON v.vec_id = c.vec_id
              |  JOIN nrms q ON q.vec_id = c.qid,
              |       range(1, ${VectorOps.Dim + 1}) t(i)
              |  GROUP BY c.qid, c.vec_id),
              |sem AS (SELECT qid, doc_id, srnk FROM (
              |  SELECT qid, vec_id AS doc_id,
              |         ROW_NUMBER() OVER (PARTITION BY qid
              |             ORDER BY dot / (nrm * qn) DESC, vec_id ASC) AS srnk
              |  FROM sdots) r WHERE srnk <= $RrfDepth),
              |f AS (
              |  SELECT coalesce(l.qid, s.qid) AS qid,
              |         coalesce(l.doc_id, s.doc_id) AS doc_id,
              |         l.lrnk, s.srnk,
              |         round(coalesce(1.0 / ($RrfC + l.lrnk), 0.0) +
              |               coalesce(1.0 / ($RrfC + s.srnk), 0.0), 6) AS rrf
              |  FROM lex l FULL OUTER JOIN sem s
              |    ON s.qid = l.qid AND s.doc_id = l.doc_id)
              |SELECT qid, rnk, doc_id, rrf, lrnk, srnk FROM (
              |  SELECT qid, doc_id, rrf, lrnk, srnk,
              |         ROW_NUMBER() OVER (PARTITION BY qid
              |             ORDER BY rrf DESC, doc_id ASC) AS rnk
              |  FROM f) r
              |WHERE rnk <= $RrfDepth""".stripMargin)
    ),
    QueryDef(
      // Temperature-resampled language mix (the multilingual-pretraining
      // upsampler, Conneau & Lample 2019's p_l^(1/τ)): language weights
      // w_l ∝ √p_l (τ = 2) renormalized to the corpus token budget give
      // per-language rates r_l that DOWN-sample high-resource languages
      // (r < 1) and UP-sample low-resource ones (r > 1, integer
      // replication + hash-fraction remainder). q59 sampled DOWN to a
      // budget; this is the op that also replicates. Scale shape: the
      // rate table is one tiny two-level aggregate broadcast back, the
      // corpus scans once with an explode fan-out of ⌈r_l⌉ ≤ √(N/n_l)
      // copies, and the remainder-keep is a map-side hash compare — no
      // shuffle beyond the language aggregate. All cross-engine rate
      // arithmetic is a sqrt (correctly rounded IEEE) + decimal-summed
      // weights + 2^48-scaled integer thresholds, so every kept
      // (doc, copy) row reproduces bit-identically.
      "q151_mix_temperature",
      (s, d) => {
        val toks = mixTokens(Tables.documents(s, d))
        mixKeep(toks, mixRates(toks))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, lang,
              |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
              |  FROM documents),
              |ls AS (SELECT lang, CAST(SUM(ntok) AS BIGINT) AS nl
              |       FROM toks GROUP BY lang),
              |tot AS (SELECT CAST(SUM(nl) AS BIGINT) AS ntot FROM ls),
              |w AS (SELECT lang, nl, ntot,
              |             CAST(sqrt(CAST(nl AS DOUBLE) / CAST(ntot AS DOUBLE))
              |                  AS DECIMAL(28,12)) AS wl
              |      FROM ls, tot),
              |ws AS (SELECT SUM(wl) AS ws FROM w),
              |rates AS (
              |  SELECT lang, CAST(fl AS BIGINT) AS fl,
              |         CAST(floor((rl - fl) * $MixFracScale) AS BIGINT) AS thr
              |  FROM (SELECT lang, rl, floor(rl) AS fl FROM (
              |          SELECT lang,
              |                 (CAST(wl AS DOUBLE) / CAST(ws AS DOUBLE)) *
              |                 (CAST(ntot AS DOUBLE) / CAST(nl AS DOUBLE)) AS rl
              |          FROM w, ws) r1) r2),
              |cop AS MATERIALIZED (
              |  SELECT t.doc_id, t.lang, r.fl, r.thr,
              |         unnest(range(0, r.fl + 1)) AS copy
              |  FROM toks t JOIN rates r USING (lang)),
              |hashed AS (
              |  SELECT doc_id, lang, fl, thr, copy,
              |         md5(CAST(doc_id AS VARCHAR) || ':' ||
              |             CAST(copy AS VARCHAR) || ':mixT') AS mh
              |  FROM cop)
              |SELECT doc_id, lang, copy FROM (
              |  SELECT doc_id, lang, fl, thr, copy,
              |         ${TextOps.md5Fold48Sql("mh", 1)} AS h
              |  FROM hashed) r
              |WHERE copy < fl OR h < thr""".stripMargin)
    ),
    QueryDef(
      // PQ-ADC recall eval (q89's shape for the q149 index): recall@5 of
      // the IVF-PQ pipeline against the exact brute-force truth, per
      // query. The eval isolates the COMPOUND loss of the three
      // approximations stacked in q149 — derived-probe cell candidates, ADC
      // shortlist, full-precision rerank — the number a deployment
      // watches when trading codebook width against recall. Same scale
      // shape as q89: both sides are O(queries·k) frames.
      "q152_pq_recall",
      (s, d) => {
        val t = bruteTop5(s, d).select("qid", "vec_id")
        val a = pqAdcTop5(s, d).select(col("qid"), col("vec_id"), lit(1).as("hit"))
        t.join(a, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(count(col("hit")).as("n_hits"))
          .select(col("qid"), col("n_hits"),
            round(col("n_hits").cast("double") / lit(5.0), 6).as("recall_at_5"))
      },
      Some(s"""WITH ${normsCte("nrms", "embeddings")},
              |$bruteKnnTailCtes,
              |$ivfAssignCtes,
              |$pqAdcCtes
              |SELECT t.qid, COUNT(a.vec_id) AS n_hits,
              |       round(CAST(COUNT(a.vec_id) AS DOUBLE) / 5.0, 6) AS recall_at_5
              |FROM truth t LEFT JOIN pqtop a
              |  ON t.qid = a.qid AND t.vec_id = a.vec_id
              |GROUP BY t.qid""".stripMargin)
    ),
    QueryDef(
      // Gopher-style heuristic quality GATES (Rae et al. 2021 §A1.1, the
      // rule bundle C4/RefinedWeb-class corpora apply before model-based
      // scoring): named boolean rules — word-count bounds, mean-word-
      // length bounds, stopword floor, top-word concentration cap,
      // adjacent-repetition cap — each reported per doc alongside its
      // metric, keep = AND of all. Thresholds are quality-policy
      // constants (not occupancy knobs — nothing here grows with the
      // corpus). Scale shape: one scan; the only shuffle is the per-doc
      // word-mode aggregate (top_frac), map-side combined on (doc, word).
      "q153_gopher_gates",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val topw = docs
          .select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
          .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(max("c").as("maxc"))
        val w = col("w")
        val adjacentDups = when(size(w) <= 1, lit(0)).otherwise(
          size(filter(
            zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
              (a, b) => a === b),
            x => x)))
        // Stopword hits against each doc's OWN language list — scoring
        // every doc against the English list zeroes stop_ratio for
        // non-en docs and the r_stop GATE would hard-drop them
        // regardless of quality (q47's lang-blind idiom only
        // soft-scores; a gate cannot afford it).
        val m = docs
          .select(col("doc_id"), col("text"), col("lang"),
            TextOps.words(col("text")).as("w"))
          .select(col("doc_id"), size(w).as("nw"),
            adjacentDups.as("nadj"),
            TextOps.stopwordHitsByLang(col("text"), col("lang")).as("nstop"),
            length(col("text")).as("nchars"))
          .join(topw, Seq("doc_id"))
        m.select(col("doc_id"), col("nw").as("n_words"),
            round((col("nchars") - col("nw") + 1).cast("double") /
              col("nw").cast("double"), 6).as("mean_wlen"),
            round(col("nstop").cast("double") / col("nw").cast("double"), 6)
              .as("stop_ratio"),
            round(col("maxc").cast("double") / col("nw").cast("double"), 6)
              .as("top_frac"),
            when(col("nw") <= 1, lit(0.0)).otherwise(
              round(col("nadj").cast("double") / (col("nw") - 1).cast("double"), 6))
              .as("rep_ratio"))
          .select(col("doc_id"), col("n_words"), col("mean_wlen"),
            col("stop_ratio"), col("top_frac"), col("rep_ratio"),
            (col("n_words") >= 10 && col("n_words") <= 100000).as("r_len"),
            (col("mean_wlen") >= 2.0 && col("mean_wlen") <= 12.0).as("r_wlen"),
            (col("stop_ratio") >= 0.005).as("r_stop"),
            (col("top_frac") <= 0.20).as("r_top"),
            (col("rep_ratio") <= 0.30).as("r_rep"))
          .withColumn("keep",
            col("r_len") && col("r_wlen") && col("r_stop") &&
              col("r_top") && col("r_rep"))
      },
      Some {
        val stops = TextOps.stopwordHitsByLangSql("text", "lang")
        s"""WITH ws AS (
           |  SELECT doc_id, text, lang, string_split(text, ' ') AS w FROM documents),
           |topw AS (
           |  SELECT doc_id, MAX(c) AS maxc FROM (
           |    SELECT doc_id, word, COUNT(*) AS c
           |    FROM (SELECT doc_id, unnest(w) AS word FROM ws)
           |    GROUP BY doc_id, word) t
           |  GROUP BY doc_id),
           |m AS (
           |  SELECT ws.doc_id,
           |         CAST(len(ws.w) AS INTEGER) AS nw,
           |         len([i FOR i IN range(1, len(ws.w)) IF ws.w[i] = ws.w[i+1]]) AS nadj,
           |         $stops AS nstop,
           |         length(ws.text) AS nchars,
           |         topw.maxc
           |  FROM ws JOIN topw USING (doc_id)),
           |g AS (
           |  SELECT doc_id, nw AS n_words,
           |         round(CAST(nchars - nw + 1 AS DOUBLE) / CAST(nw AS DOUBLE), 6) AS mean_wlen,
           |         round(CAST(nstop AS DOUBLE) / CAST(nw AS DOUBLE), 6) AS stop_ratio,
           |         round(CAST(maxc AS DOUBLE) / CAST(nw AS DOUBLE), 6) AS top_frac,
           |         CASE WHEN nw <= 1 THEN 0.0
           |              ELSE round(CAST(nadj AS DOUBLE) / CAST(nw - 1 AS DOUBLE), 6)
           |         END AS rep_ratio
           |  FROM m)
           |SELECT doc_id, n_words, mean_wlen, stop_ratio, top_frac, rep_ratio,
           |       (n_words >= 10 AND n_words <= 100000) AS r_len,
           |       (mean_wlen >= 2.0 AND mean_wlen <= 12.0) AS r_wlen,
           |       (stop_ratio >= 0.005) AS r_stop,
           |       (top_frac <= 0.20) AS r_top,
           |       (rep_ratio <= 0.30) AS r_rep,
           |       ((n_words >= 10 AND n_words <= 100000) AND
           |        (mean_wlen >= 2.0 AND mean_wlen <= 12.0) AND
           |        (stop_ratio >= 0.005) AND (top_frac <= 0.20) AND
           |        (rep_ratio <= 0.30)) AS keep
           |FROM g""".stripMargin
      }
    ),
    QueryDef(
      // Count-min sketch heavy-hitter estimation (Cormode & Muthukrishnan
      // 2005) — the frequency-sketch path of the q69 family, but with a
      // HASH-EXACT oracle (the md5 bucket hashes replay in DuckDB, unlike
      // HLL registers): the per-word counts fold into a CmRows×CmBuckets
      // grid in one vocabulary-sized aggregate, and a word's estimate is
      // the MIN over its CmRows bucket sums — an overestimate by
      // construction (collisions only ADD). The fixture estimates the
      // exact top-CmTopK words so the overestimate error is observable
      // per word; PRODUCTION reads only the 4096-cell sketch (heavy
      // hitters over 100 TB without carrying the vocabulary), the exact
      // side here is the audit. Scale shape: one map-side-combined word
      // count, a ×CmRows explode of the VOCABULARY (not the corpus), a
      // broadcast of the O(1) sketch, and a distributed partial top-k.
      "q154_countmin_words",
      (s, d) => {
        val jb = (word: Column) => array((0 until CmRows).map(j =>
          struct(lit(j).as("j"),
            pmod(TextOps.md5Fold48(md5(concat(word, lit(s":cm$j"))), 1),
              lit(CmBuckets)).as("bucket"))): _*)
        val wc = Tables.documents(s, d)
          .select(explode(TextOps.words(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("c"))
        val sketch = wc
          .select(col("c"), explode(jb(col("word"))).as("jb"))
          .select(col("jb.j").as("j"), col("jb.bucket").as("bucket"), col("c"))
          .groupBy("j", "bucket").agg(sum("c").as("cnt"))
        val top = wc.orderBy(col("c").desc, col("word").asc).limit(CmTopK)
        top.select(col("word"), col("c").as("exact"),
            explode(jb(col("word"))).as("jb"))
          .select(col("word"), col("exact"),
            col("jb.j").as("j"), col("jb.bucket").as("bucket"))
          .join(broadcast(sketch), Seq("j", "bucket"))
          .groupBy("word", "exact")
          .agg(min("cnt").as("est"))
          .select(col("word"), col("exact"), col("est"),
            (col("est") - col("exact")).as("overest"))
      },
      Some(s"""WITH wc AS (
              |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM (SELECT unnest(string_split(text, ' ')) AS word
              |        FROM documents)
              |  GROUP BY word),
              |hashed AS (
              |  SELECT word, c, j,
              |         md5(word || ':cm' || CAST(j AS VARCHAR)) AS mh
              |  FROM wc, range(0, $CmRows) t(j)),
              |jb AS (
              |  SELECT word, c, j,
              |         (${TextOps.md5Fold48Sql("mh", 1)}) % $CmBuckets AS bucket
              |  FROM hashed),
              |sketch AS (
              |  SELECT j, bucket, CAST(SUM(c) AS BIGINT) AS cnt
              |  FROM jb GROUP BY j, bucket),
              |top AS (
              |  SELECT word, c AS exact FROM wc
              |  ORDER BY c DESC, word ASC LIMIT $CmTopK)
              |SELECT t.word, t.exact, MIN(s.cnt) AS est,
              |       MIN(s.cnt) - t.exact AS overest
              |FROM top t
              |JOIN jb ON jb.word = t.word
              |JOIN sketch s ON s.j = jb.j AND s.bucket = jb.bucket
              |GROUP BY t.word, t.exact""".stripMargin)
    ),
    QueryDef(
      // Perceptual image dedup — dHash over DECODED pixels (the
      // multimodal family's near-dup op, the image twin of q42): every
      // payload decodes through the real PPM codec, resamples to an
      // 11×6 grid and hashes horizontal gray gradients
      // ([[imageDhashSigs]]); identical-hash images collapse into
      // exact-dup classes (star edges to the min-id representative) and
      // near-dup candidates ride q42's corpus-derived chunk-group
      // scheme over DISTINCT signatures ([[hammingClassPairs]] — 60-bit
      // signatures share the 6×10-bit chunk geometry), hub-capped and
      // verified by exact Hamming distance. Scale shape: decode is one
      // batched map pass (the mapPartitions the codec boundary
      // sanctions), signatures are two longs per image, the banding is
      // linear in DISTINCT signatures (popular degenerate images — a
      // single-pixel payload hashes to sig 0 — cannot flood buckets or
      // blow the output quadratic), and ScaleBench asserts every
      // planted hamming<=3 pair is connected through its stars and
      // rep-rep edge (pigeonhole, not probabilistic).
      "q155_image_dhash",
      (s, d) => imageClassPairs(s, d),
      Some(s"""WITH $imageDhashSigCtes,
              |${hammingClassPairsSql("dsig")}
              |SELECT * FROM stars UNION ALL SELECT * FROM rpairs""".stripMargin)
    ),
    QueryDef(
      // IMAGE keep policy — the curation decision over q155's near-dup
      // components (the q124/q126 analog for the multimodal family):
      // within each connected component of the image edge set, keep the
      // HIGHEST-RESOLUTION copy (w·h — the proxy for "most complete
      // payload" a real pipeline ranks variants by), id tiebreak. Shape:
      // the checkpoint-truncated CC loop + ONE window over the shuffle
      // on cluster_id; dims ride the same media-record frame the
      // signatures decode, so the geometry formula stays in its one
      // Scala home (Multimodal.mediaRecords).
      "q156_image_keep",
      (s, d) => {
        // Resolution rides the memoized signature frame (one decode pass
        // for sig + res) — the previous imageRecordsWithDups().map(...)
        // re-ran the whole media-record construction, PPM encode/decode
        // included, just to read width·height.
        val imgs = imageDhashSigRes(s, d)
          .select(col("doc_id").as("node"), col("res"))
        val edges = imageClassPairs(s, d)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val cc = graft.operators.Components.connectedComponents(
          imgs.select("node"), edges)
        val byCluster = Window.partitionBy("cluster_id")
          .orderBy(col("res").desc, col("node").asc)
        cc.join(imgs, Seq("node"))
          .withColumn("rk", row_number().over(byCluster))
          .select(col("node").as("doc_id"), col("cluster_id"), col("res"),
            (col("rk") === 1).as("is_kept"))
      },
      Some(s"""WITH RECURSIVE $imageDhashSigCtes,
              |${hammingClassPairsSql("dsig")},
              |iedges AS (SELECT doc_a, doc_b FROM stars
              |           UNION ALL SELECT doc_a, doc_b FROM rpairs),
              |isym AS (SELECT doc_a AS a, doc_b AS b FROM iedges
              |         UNION SELECT doc_b, doc_a FROM iedges),
              |ireach(src, dst) AS (
              |  SELECT a, b FROM isym
              |  UNION
              |  SELECT r.src, s.b FROM ireach r JOIN isym s ON r.dst = s.a),
              |iminreach AS (SELECT src, MIN(dst) AS m FROM ireach GROUP BY src),
              |ifeat AS (SELECT doc_id AS node, CAST(w * h AS BIGINT) AS res
              |          FROM imgs),
              |iclusters AS (
              |  SELECT f.node, least(f.node, coalesce(m.m, f.node)) AS cluster_id
              |  FROM ifeat f LEFT JOIN iminreach m ON f.node = m.src)
              |SELECT c.node AS doc_id, c.cluster_id, f.res,
              |       (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
              |            ORDER BY f.res DESC, c.node ASC)) = 1 AS is_kept
              |FROM iclusters c JOIN ifeat f ON c.node = f.node""".stripMargin)
    ),
    QueryDef(
      // INCREMENTAL image dedup — the q100/q123 shape for the image
      // family: the corpus (the base documents' images — identified by
      // semi-join against the documents table, exact at every scale
      // because variant ids are minted past the replication stride)
      // keeps its signature-class index, and only the ARRIVING images
      // (the minted variants/copies) pay decode + dHash + probe. The
      // probe is [[imageProbeMatches]] — exact-sig star membership at
      // hamming 0 plus banded near-dup rep pairs with the probe-time
      // combined hub cap — shared verbatim with the streaming twin
      // (StreamingDedup.imageMatchesBatch), which StreamingSpec pins to
      // this query by single-batch replay.
      "q157_incremental_image_dedup",
      (s, d) => {
        val sigs = imageDhashSigs(s, d)
        val baseIds = Tables.documents(s, d).select("doc_id")
        val corpusSigs = sigs.join(baseIds, Seq("doc_id"), "left_semi")
        val newSigs = sigs.join(baseIds, Seq("doc_id"), "left_anti")
        imageProbeMatches(corpusSigs, newSigs)
      },
      Some(s"""WITH $imageDhashSigCtes,
              |icorp AS (SELECT doc_id, sig FROM dsig
              |          WHERE doc_id IN (SELECT doc_id FROM documents)),
              |inew AS (SELECT doc_id, sig FROM dsig
              |         WHERE doc_id NOT IN (SELECT doc_id FROM documents)),
              |${imageProbeSql("icorp", "inew")}
              |SELECT * FROM imatches""".stripMargin)
    )
  )
}
