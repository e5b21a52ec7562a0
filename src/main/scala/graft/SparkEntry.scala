package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private def allDefs: Seq[QueryDef] =
    _root_.graft.queries.CoreQueries.defs ++
      _root_.graft.queries.PrepQueries.defs ++
      _root_.graft.queries.StringQueries.defs ++
      _root_.graft.queries.LinkageQueries.defs ++
      _root_.graft.queries.RefFileQueries.defs ++
      _root_.graft.queries.PipelineQueries.defs ++
      _root_.graft.queries.StreamingQueries.defs

  private lazy val (queryMap, oracleMap) = QueryDef.toMaps(allDefs)

  /** Flagship: the full PVS-style linkage cascade on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queryMap("q32_cascade_best_link")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = queryMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracleMap

  /** Builds every cross-query memo ([[Memo]]: linkage side frames, dedup
    * gram frame, …) so benchmarks measure steady-state query time, not
    * whichever query first pays the one-time build.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    runWarm(spark, sfDir); ()
  }

  /** Every registered memo. Naming the modules first runs their
    * initializers, which register the memos they declare.
    */
  private def memos: Seq[Memo[_]] = {
    val _ = (queryMap, _root_.graft.operators.Bpe.mergesFor)
    Memo.registered
  }

  /** One named step per memo: calling a memo builds and materializes its
    * frames. Bench reports each step in its `warm_breakdown` map.
    */
  def warmSteps: Seq[(String, (SparkSession, String) => Unit)] =
    memos.map(m => m.name -> ((s: SparkSession, d: String) => { m(s, d); () }))

  /** Runs every memo's build at once, one thread each, and returns
    * (memo, seconds) where seconds is the memo's own build time in this
    * call (0 when it was already built). A build that reaches another memo
    * blocks on that memo's lock, and memo build seconds exclude nested
    * memo calls, so the wait is not charged to it: no dependency order is
    * needed. The seconds are measured under concurrency, so they attribute
    * the warm phase per memo but need not sum to its wall time. After every
    * step has run, throws if any failed, naming each failed memo.
    */
  def runWarm(spark: SparkSession, sfDir: String,
      steps: Seq[Memo[_]] = memos): Seq[(String, Double)] = {
    val before = steps.map(_.buildSeconds)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
    val threads = steps.map { m =>
      new Thread(() =>
        try { m(spark, sfDir); () }
        catch { case e: Throwable => failures.add(m.name -> e); () },
        s"warm-${m.name}")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!failures.isEmpty) {
      val fs = failures.toArray(Array.empty[(String, Throwable)]).toSeq
      val e = new RuntimeException("warm failed: " +
        fs.map { case (name, t) => s"$name ($t)" }.mkString("; "), fs.head._2)
      fs.tail.foreach { case (_, t) => e.addSuppressed(t) }
      throw e
    }
    steps.zip(before).map { case (m, b) => m.name -> (m.buildSeconds - b) }
  }
}
