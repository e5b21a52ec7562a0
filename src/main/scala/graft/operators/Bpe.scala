package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic in-corpus byte-pair-encoding tokenizer (Sennrich et al.
  * 2016 shape, word-internal): train a fixed number of merges on the
  * corpus word-TYPE table (pair-count aggregate per iteration — the EM
  * loop pattern: the driver holds only the bounded merge list), then
  * encode any text by replaying the merges as one nested-replace
  * projection. Token-budget operators (q82 packing) count REAL subword
  * tokens instead of whitespace/char proxies.
  *
  * Representation: a word's symbol sequence renders as a delimited string
  * `⟨s1⟩⟨s2⟩…` (⟨ = , ⟩ = , both outside the [a-z] symbol
  * alphabet), so applying merge (a,b) is a plain non-overlapping
  * left-to-right `replace(repr, "⟨a⟩⟨b⟩", "⟨ab⟩")` — exactly the classic
  * BPE "merge all occurrences leftmost-first" rule, and a string op both
  * engines implement identically (the DuckDB oracle replays training as
  * an UNROLLED CTE chain, the q105 EM idiom). Determinism: the argmax
  * pair orders by (count DESC, a ASC, b ASC) — byte order over [a-z] is
  * identical in both engines — so the merge list, and therefore every
  * token count, is reproducible at any partitioning and any scale.
  *
  * Scale shape: training touches only the word-type table (vocabulary-
  * sized, ≪ corpus) — one pair-count hash aggregate + one 1-row argmax
  * per merge; encoding is the broadcast word→token-count dimension
  * joined back to the corpus explode. Nothing quadratic, no global sort.
  */
object Bpe {

  /** Merge-table size: enough to demonstrate real multi-char subwords on
    * the synthetic corpus while keeping the unrolled oracle chain
    * readable. A production vocabulary would use 10⁴-10⁵ merges — same
    * loop, same cost shape (per-merge work is vocabulary-bounded).
    */
  val NumMerges = 16

  private val L = "\u0001"
  private val R = "\u0002"

  /** Initial symbol rendering: every character wrapped ⟨c⟩. */
  def initRepr(word: Column): Column =
    regexp_replace(word, "(.)", s"$L$$1$R")

  /** Symbol array of a repr (inverse of the delimited rendering). */
  private def symsOf(repr: Column): Column =
    split(trim(repr, L + R), R + L)

  /** Replay an ordered merge list over a repr — ONE nested-replace
    * projection, no per-merge pass over the data.
    */
  def applyMerges(repr: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(repr) { case (acc, (a, b)) => mergeOnce(acc, a, b) }

  /** Subword token count of a repr = number of opening delimiters. */
  def tokenCount(repr: Column): Column =
    (length(repr) -
      length(call_function("replace", repr, lit(L), lit("")))).cast("long")

  /** Corpus word extraction both engines share: lowercase [a-z]+ runs. */
  def wordsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '([a-z]+)', 1)")).as("word"))

  /** Train `m` merges on the corpus word-type table. Driver state: the
    * merge list (bounded by m). Per iteration: one pair-count hash
    * aggregate over the vocabulary + a 1-row argmax collect; the
    * evolving repr column re-materializes through an explicitly managed
    * persisted RDD (plan truncation like localCheckpoint, the EM/CC
    * idiom) and THE SUPERSEDED ITERATION'S STORAGE IS RELEASED as soon
    * as its successor is materialized — at most 2 word-type copies live
    * transiently, ≤ 1 between iterations, at ANY merge count. (The
    * earlier localCheckpoint form never released predecessors: invisible
    * at the 16-merge demo, but a production 10⁴-merge vocabulary would
    * have kept 10⁴ live copies of the table in executor storage.) Stops
    * early when no pair remains (fully merged vocabulary) — the oracle's
    * sentinel no-op merges are equivalent.
    */
  def trainMerges(docs: DataFrame, m: Int = NumMerges): Seq[(String, String)] = {
    val spark = docs.sparkSession
    trainPeakLive.set(0)
    var live: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    var nLive = 0
    // Materialize through a LOCALLY-CHECKPOINTED Row RDD + createDataFrame:
    // the rebuilt frame's plan is a bare RDD scan (no Catalyst lineage
    // growth), the checkpoint TRUNCATES the RDD dependency graph after the
    // first action (plain persist() does not — 10⁴ chained iteration RDDs
    // overflowed task serialization at merge ~10³, caught by ScaleBench's
    // 1024-merge run), and unlike Dataset.localCheckpoint the RDD handle
    // is OURS to release the moment the next iteration lands.
    def materialize(df: DataFrame): DataFrame = {
      val rdd = df.rdd
      rdd.localCheckpoint()
      rdd.count() // materialize + truncate BEFORE releasing the input
      nLive += 1
      trainPeakLive.set(math.max(trainPeakLive.get, nLive))
      live.foreach { prev => prev.unpersist(blocking = false); nLive -= 1 }
      live = Some(rdd)
      spark.createDataFrame(rdd, df.schema)
    }
    val wt = wordsOf(docs).groupBy("word").agg(count(lit(1)).as("freq"))
    var wtR = materialize(wt.withColumn("repr", initRepr(col("word"))))
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var i = 0
    while (i < m && !done) {
      val best = wtR
        .select(col("freq"), symsOf(col("repr")).as("syms"))
        .select(col("freq"), explode(transform(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          (x, j) => struct(x.as("a"),
            element_at(col("syms"), (j + 2).cast("int")).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val a = best(0).getString(0)
        val b = best(0).getString(1)
        merges += ((a, b))
        wtR = materialize(wtR.withColumn("repr", mergeOnce(col("repr"), a, b)))
      }
      i += 1
    }
    // The final word-type frame is training scratch too — trainMerges
    // returns only the merge list, so nothing may stay pinned behind it.
    live.foreach(_.unpersist(blocking = false))
    merges.result()
  }

  /** Peak simultaneously-live training RDDs of the LAST [[trainMerges]]
    * run (spec hook: must stay ≤ 2 — the new checkpoint plus the
    * predecessor it is built from, released immediately after).
    */
  private[graft] val trainPeakLive = new java.util.concurrent.atomic.AtomicInteger(0)

  private def mergeOnce(repr: Column, a: String, b: String): Column =
    overlay_replace(repr, s"$L$a$R$L$b$R", s"$L$a$b$R")

  // Spark's `replace` SQL function via expr with safely-quoted literals
  // (the delimiters are control chars — never quote-specials, but go
  // through Column literals, not string interpolation, to be safe).
  private def overlay_replace(src: Column, search: String, rep: String): Column =
    call_function("replace", src, lit(search), lit(rep))

  /** Merge list memo per (session, sf-dir): q135 and q82 (and their
    * specs) share one training run per corpus, the cross-query memo
    * pattern the linkage cascade uses. Bounded: one merge list per dir.
    */
  val mergesFor: graft.Memo[Seq[(String, String)]] =
    graft.Memo[Seq[(String, String)]]("bpe_merges", _ => Nil)((s, d) =>
      trainMerges(graft.Tables.documents(s, d).select("doc_id", "text")))

  /** Per-doc subword counts under a trained merge list:
    * (doc_id, n_words, n_bpe_tokens). The word→count dimension is
    * vocabulary-sized and BROADCASTS; the corpus side explodes and
    * re-aggregates map-side.
    */
  def docTokenCounts(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = wordsOf(docs)
    val enc = words.select("word").distinct()
      .select(col("word"),
        tokenCount(applyMerges(initRepr(col("word")), merges)).as("n_tok"))
    words.join(broadcast(enc), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_bpe_tokens"))
  }

  // ---- DuckDB renderers (unrolled training, the q105 EM idiom) ----------

  /** CTE chain `bpe_wt` → `bpe_w0` → (`bpe_p1`, `bpe_w1`) → … →
    * (`bpe_p{m}`, `bpe_w{m}`) → `bpe_enc(word, n_tok)` over the
    * `documents` relation — training replayed exactly: same word types,
    * same pair counts, same (count DESC, a, b) argmax, same
    * non-overlapping replace. Every stage is MATERIALIZED (DuckDB
    * inlines CTEs by default; the scalar subqueries against an inlined
    * chain would re-run the whole upstream pipeline per row). Sentinel
    * chr(3) no-ops cover iterations past vocabulary exhaustion, matching
    * the Scala trainer's early stop.
    */
  def sqlTrainCtes(m: Int = NumMerges): String = {
    val sb = new StringBuilder
    sb ++= s"""bpe_wt AS MATERIALIZED (
              |  SELECT word, COUNT(*) AS freq
              |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
              |        FROM documents)
              |  GROUP BY word),
              |bpe_w0 AS MATERIALIZED (
              |  SELECT word, freq,
              |         regexp_replace(word, '(.)', chr(1) || '\\1' || chr(2), 'g') AS repr
              |  FROM bpe_wt)""".stripMargin
    (1 to m).foreach { i =>
      sb ++= s""",
                |bpe_p$i AS MATERIALIZED (
                |  SELECT a, b FROM (
                |    SELECT a, b, SUM(freq) AS cnt FROM (
                |      SELECT freq, unnest([struct_pack(a := syms[j], b := syms[j+1])
                |                           FOR j IN range(1, len(syms))], recursive := true)
                |      FROM (SELECT freq,
                |                   string_split(trim(repr, chr(1) || chr(2)),
                |                                chr(2) || chr(1)) AS syms
                |            FROM bpe_w${i - 1}))
                |    GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1)),
                |bpe_w$i AS MATERIALIZED (
                |  SELECT word, freq,
                |         replace(repr,
                |           coalesce((SELECT chr(1) || a || chr(2) || chr(1) || b || chr(2)
                |                     FROM bpe_p$i), chr(3)),
                |           coalesce((SELECT chr(1) || a || b || chr(2)
                |                     FROM bpe_p$i), chr(3))) AS repr
                |  FROM bpe_w${i - 1})""".stripMargin
    }
    sb ++= s""",
              |bpe_enc AS MATERIALIZED (
              |  SELECT word,
              |         CAST(length(repr) - length(replace(repr, chr(1), '')) AS BIGINT) AS n_tok
              |  FROM bpe_w$m)""".stripMargin
    sb.toString()
  }

  /** Per-doc counts CTE over `bpe_enc`: `bpe_docs(doc_id, n_words,
    * n_bpe_tokens)` — the SQL mirror of [[docTokenCounts]].
    */
  val sqlDocCountsCte: String =
    """bpe_dw AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |  FROM documents),
      |bpe_docs AS MATERIALIZED (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |         CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
      |  FROM bpe_dw JOIN bpe_enc USING (word)
      |  GROUP BY doc_id)""".stripMargin
}
