package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._

/** Registry glue for graft's native Catalyst expressions.
  *
  * Two entry points:
  *   - `spark.sql.extensions=graft.GraftExtensions` (cluster config), or
  *   - `GraftFunctions.register(spark)` (programmatic, idempotent).
  *
  * After either, `jaro_winkler` / `nysiis` / `reverse_soundex` are callable
  * from SQL and from the Column wrappers below.
  */
object GraftFunctions {

  val expressions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "jaro_winkler" -> (es => JaroWinklerSimilarity(es(0), es(1))),
    "nysiis" -> (es => Nysiis(es.head)),
    "sdx_key" -> (es => SdxKey(es.head)),
    "reverse_sdx_key" -> (es => ReverseSdxKey(es.head)),
    "nys_key" -> (es => NysKey(es.head)),
    "vec_dot_decimal" -> (es => VectorDotDecimal(es(0), es(1))),
    "vec_dot" -> (es => VectorDotDouble(es(0), es(1))),
    "vec_dot_long" -> (es => VectorDotLong(es(0), es(1))),
    "topk_by_score" -> (es => {
      val k = es(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
          v.asInstanceOf[Number].intValue()
        case other =>
          throw new IllegalArgumentException(s"topk_by_score k must be a literal, got $other")
      }
      TopKByScore(es(0), es(1), k).toAggregateExpression()
    }),
    "bloom_build" -> (es =>
      BloomBuildAgg(es(0), litNum(es(1), "bloom_build numBits").intValue(),
        litNum(es(2), "bloom_build numHashes").intValue()).toAggregateExpression()),
    "bloom_might_contain" -> (es => BloomMightContain(es(0), es(1))),
    "winnow_keys" -> (es =>
      WinnowKeys(es(0), litNum(es(1), "winnow_keys k").intValue(),
        litNum(es(2), "winnow_keys w").intValue())),
    "typo_noise" -> (es =>
      TypoNoiseExpr(es(0), es(1), litNum(es(2), "typo_noise token ppm").longValue(),
        litNum(es(3), "typo_noise seed").intValue())),
    "wrong_digits" -> (es =>
      WrongDigitsExpr(es(0), es(1), litNum(es(2), "wrong_digits token ppm").longValue(),
        litNum(es(3), "wrong_digits seed").intValue()))
  )

  private def litNum(e: Expression, what: String): Number = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
      v.asInstanceOf[Number]
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  // Sessions already registered (weak keys: sessions can be GC'd). Keying
  // on the session — not on functionExists — means a name colliding with a
  // Spark builtin is REPLACED by the graft expression rather than silently
  // shadowing it, while repeat calls stay warning-free. Registration runs
  // under the set's lock and marks the session last, so a concurrent
  // caller returns only once every function resolves.
  private val registeredSessions: java.util.Set[SparkSession] =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = registeredSessions.synchronized {
    if (!registeredSessions.contains(spark)) {
      val registry =
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry
      expressions.foreach { case (name, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
      registeredSessions.add(spark)
    }
  }

  def inject(ext: SparkSessionExtensions): Unit =
    expressions.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo(classOf[JaroWinklerSimilarity].getName, name),
          builder))
    }

  // ---- Column API --------------------------------------------------------

  /** DuckDB-parity Jaro-Winkler similarity in [0, 1]. */
  def jaroWinkler(a: Column, b: Column): Column = call_function("jaro_winkler", a, b)

  /** jellyfish-parity NYSIIS phonetic code. */
  def nysiis(c: Column): Column = call_function("nysiis", c)

  /** Decimal-exact float-vector dot product (see VectorDotDecimal). */
  def vecDotDecimal(a: Column, b: Column): Column = call_function("vec_dot_decimal", a, b)

  /** Plain-double float-vector dot product — the fast production path. */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Exact integer long-vector dot — the quantized-candidate kernel. */
  def vecDotLong(a: Column, b: Column): Column = call_function("vec_dot_long", a, b)

  /** MOSS winnowing fingerprints: sorted distinct packed (hash·2³³ + pos)
    * keys of the k-gram/window-w document fingerprint (see WinnowImpl).
    */
  def winnowKeys(text: Column, k: Int, w: Int): Column =
    call_function("winnow_keys", text, lit(k), lit(w))

  /** Top-k (score desc, id asc) aggregate → array<struct<score,id>>. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    call_function("topk_by_score", score, id, lit(k))

  /** Distributed Bloom build over a 64-bit key-hash column → one binary
    * row holding the serialized filter (see functions.BloomImpl).
    */
  def bloomBuild(keyHash: Column, numBits: Int, numHashes: Int): Column =
    call_function("bloom_build", keyHash, lit(numBits), lit(numHashes))

  /** Codegen'd Bloom membership probe; `filter` is usually a binary
    * literal of the collected [[bloomBuild]] row.
    */
  def bloomMightContain(filter: Column, keyHash: Column): Column =
    call_function("bloom_might_contain", filter, keyHash)

  /** pseudopeople make_typos: hash-gated QWERTY-adjacent char noise. */
  def typoNoise(s: Column, key: Column, tokenPpm: Long, seed: Int): Column =
    call_function("typo_noise", s, key, lit(tokenPpm), lit(seed))

  /** pseudopeople write_wrong_digits: hash-gated wrong-digit char noise. */
  def wrongDigits(s: Column, key: Column, tokenPpm: Long, seed: Int): Column =
    call_function("wrong_digits", s, key, lit(tokenPpm), lit(seed))

  /** Soundex of the reversed string (PVS blocking key; reference
    * 03_link_datasets.ipynb `reverse_soundex`). Composed from built-ins.
    */
  def reverseSoundex(c: Column): Column = soundex(reverse(c))

  /** Distinct character n-grams of a string, as an array column. Composed
    * from codegen'd built-ins (sequence/transform/substr) — no UDF.
    */
  def ngrams(c: Column, n: Int): Column =
    when(length(c) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n)))))

  /** Jaccard similarity of distinct n-gram sets; 0.0 when both sets empty. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val ga = ngrams(a, n)
    val gb = ngrams(b, n)
    val union = size(array_union(ga, gb))
    when(union === 0, lit(0.0))
      .otherwise(size(array_intersect(ga, gb)).cast("double") / union.cast("double"))
  }
}
