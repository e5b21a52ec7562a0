package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Query-inventory benchmark: after the table warm-up and the memo warm
  * phase, times every SparkEntry query on SPARK_GRAFT_SF_DIR over
  * [[Passes]] passes and prints the per-query medians as one JSON line,
  * then a compact headline line as the last stdout line.
  * SPARK_GRAFT_ONLY=q51,q55 narrows the run to those query prefixes.
  */
object Bench {
  val Passes = 3

  /** (query, seconds, error) for one query in one pass. */
  type Sample = (String, Double, Option[String])

  /** Forces complete evaluation of the user-visible plan: a hash of every
    * column per row, XOR-reduced. `count()` would let Catalyst prune the
    * derived columns; XOR (unlike SUM) cannot overflow under ANSI mode.
    */
  def force(df: DataFrame): Unit = {
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** [[Passes]] timed passes over the queries, in order. */
  private[graft] def measure(queries: Seq[(String, () => Unit)]): Seq[Seq[Sample]] =
    Seq.fill(Passes)(queries.map { case (name, run) =>
      val t0 = System.nanoTime()
      val err =
        try { run(); None }
        catch { case e: Throwable => Some(e.toString.take(200)) }
      (name, (System.nanoTime() - t0) / 1e9, err)
    })

  private def sec(v: Double): String = f"$v%.3f"

  // Spark exception text carries newlines and plan fragments.
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  /** The full line, then the compact headline line. Each query reports the
    * median of its passes, or -1 and its first error if any pass failed.
    */
  private[graft] def report(passes: Seq[Seq[Sample]], sfDir: String,
      warmSec: Double, warmBreakdown: Seq[(String, Double)]): Seq[String] = {
    val perQuery = passes.flatten.groupBy(_._1)
    val results = passes.head.map { case (name, _, _) =>
      val samples = perQuery(name)
      val ts = samples.map(_._2).sorted
      (name, ts(ts.size / 2), samples.flatMap(_._3).headOption)
    }
    val total = results.collect { case (_, t, None) => t }.sum
    val errors = results.collect { case (name, _, Some(e)) => name -> jstr(e) }
    val headline = Seq(
      "metric" -> jstr("total"), "value" -> sec(total), "unit" -> jstr("sec"),
      "sf" -> jstr(sfDir), "n_queries" -> results.size.toString,
      "passes" -> passes.size.toString,
      "pass_totals" -> passes.map(p => sec(p.map(_._2).sum)).mkString("[", ",", "]"),
      "warm_sec" -> sec(warmSec), "value_with_warm" -> sec(total + warmSec),
      "n_errors" -> errors.size.toString)
    val full = Seq(
      "queries" -> obj(results.map { case (name, t, err) =>
        name -> (if (err.isDefined) "-1" else sec(t)) }),
      "errors" -> obj(errors),
      "warm_breakdown" -> obj(warmBreakdown.map { case (m, t) => m -> sec(t) }))
    Seq(obj(full ++ headline), obj(headline))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JIT + parquet footers, so the first measured query is not charged
    // for JVM and codegen start-up.
    Tables.all.foreach(t =>
      try Tables.load(spark, sfDir, t).limit(1000).count() catch { case _: Throwable => })
    // Every memo builds at once; warm_sec is the phase's wall time and
    // each warm_breakdown value a memo's own build seconds under that
    // concurrency. A failed build fails the bench, naming the memo.
    val warmT0 = System.nanoTime()
    val warmTimes = SparkEntry.runWarm(spark, sfDir)
    val warmSec = (System.nanoTime() - warmT0) / 1e9
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    val passes = measure(selected.map { case (name, fn) =>
      name -> (() => force(fn(spark, sfDir)))
    })
    passes.flatten.collect { case (name, _, Some(e)) =>
      System.err.println(s"BENCH ERROR $name: $e")
    }
    report(passes, sfDir, warmSec, warmTimes).foreach(println)
    spark.stop()
  }
}
