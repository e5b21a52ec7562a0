package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.{Pipeline, SparkEntry, Tables}
import graft.queries.LinkageQueries

/** Task-level figures collected by [[SpanListener]]. Times are epoch ms. */
final case class TaskRec(finish: Long, waitMs: Long, runMs: Long,
    shuffleBytes: Long, spillBytes: Long, failed: Boolean)

/** Collects every task end. Tasks are attributed to spans afterwards by their
  * finish time: job groups do not reach the `ExecutionContext.global`
  * threads the cascade and the warm overlap sites submit from, so a time
  * window is the only attribution that sees every job of a span.
  */
final class SpanListener extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val submitted = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  /** Time spent inside these callbacks: the listener's own cost. */
  val selfNanos = new AtomicLong()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val t0 = System.nanoTime()
    val info = e.stageInfo
    submitted.put((info.stageId, info.attemptNumber()),
      info.submissionTime.getOrElse(System.currentTimeMillis()))
    selfNanos.addAndGet(System.nanoTime() - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    val submit = Option(submitted.get((e.stageId, e.stageAttemptId)))
      .getOrElse(info.launchTime)
    tasks.add(TaskRec(
      finish = info.finishTime,
      waitMs = math.max(0L, info.launchTime - submit),
      runMs = m.map(_.executorRunTime).getOrElse(0L),
      shuffleBytes = m.map(x => x.shuffleReadMetrics.totalBytesRead +
        x.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillBytes = m.map(_.diskBytesSpilled).getOrElse(0L),
      failed = info.failed || info.killed))
    selfNanos.addAndGet(System.nanoTime() - t0)
  }
}

/** The traced run: the spans of both workloads, serially, in a fixed order. */
object Tracer {

  final case class Span(name: String, start: Long, end: Long,
      extra: Map[String, Double])

  /** Blocks until the listener bus has delivered every posted event. The
    * bus is `private[spark]`, so it is reached reflectively.
    */
  private def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private def scanned(spark: SparkSession, in: String, tables: String*): Long =
    tables.map(Tables.load(spark, in, _).count()).sum

  /** `n_piked` per pass from a written `pik_rate` table. */
  private def pikedByPass(spark: SparkSession, path: String): Map[String, Long] =
    spark.read.parquet(path).select("pass", "n_piked").collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap

  def sweep(spark: SparkSession, in: String, out: String): Unit = {
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val spans = ArrayBuffer.empty[Span]
    // Tracer-added jobs (row counts): their wall is reported as overhead.
    var countNanos = 0L
    def counted(n: => Long): Double = {
      val t0 = System.nanoTime(); val v = n
      countNanos += System.nanoTime() - t0
      v.toDouble
    }
    def span(name: String)(body: => Map[String, Double]): Unit = {
      val s = System.currentTimeMillis()
      val extra = body
      spans += Span(name, s, System.currentTimeMillis(), extra)
    }
    val steps = SparkEntry.warmSteps.toMap
    def warm(names: String*): Map[String, Double] = {
      names.foreach(n => steps(n)(spark, in)); Map.empty
    }

    // ---- pvs_pipeline: the memo spans, then Pipeline.run over them.
    val p = "pvs_pipeline"
    val pOut = s"$out/$p"
    span(s"$p.sources.scan") {
      Map("rows_in" -> counted(scanned(spark, in, "customer")))
    }
    span(s"$p.queries.linkage_sides") {
      warm("linkage_sides")
      Map("rows_out" -> counted(LinkageQueries.census(spark, in).count() +
        LinkageQueries.input(spark, in).count()))
    }
    span(s"$p.queries.linkage_reffiles")(warm("linkage_reffiles"))
    span(s"$p.linkage.cascade")(warm("cascade_links"))
    span(s"$p.queries.reffile_chain")(warm("reffile_chain", "reffile_accuracy"))
    val runStart = System.currentTimeMillis()
    val stages = Pipeline.run(spark, in, pOut)
    // Stages run back to back inside Pipeline.run: consecutive windows.
    stages.zip(Seq("stage02", "stage03", "stage04")).foldLeft(runStart) {
      case (s, (r, label)) =>
        val e = s + (r.sec * 1000).round
        spans += Span(s"$p.Pipeline.$label", s, e, Map.empty)
        e
    }
    val piked = pikedByPass(spark, s"$pOut/03_link_datasets/pik_rate")
    val pairs = SparkEntry.queries("q78_pair_counts")(spark, in)
      .select("pass", "n_pairs").collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue).toSeq
    val emIterations = spark.read.parquet(s"$pOut/03_link_datasets/em_report")
      .select("iterations").collect().map(_.getAs[Number](0).longValue).sum

    // ---- curation_dedup: signature build, candidates, then the 8 queries.
    val c = "curation_dedup"
    span(s"$c.sources.scan") {
      Map("rows_in" -> counted(scanned(spark, in, "documents", "embeddings")))
    }
    span(s"$c.queries.curation_signatures")(
      warm("shingles", "grams", "minhash_bands", "image_sigs", "emb_dup_norms"))
    span(s"$c.queries.curation_candidates")(
      warm("jaccard_banded", "emb_ranked_dup", "image_class_pairs"))
    span(s"$c.queries.curation_verify") {
      Harness.pass(spark, c, in, s"$out/$c"); Map.empty
    }

    drain(spark)
    val tasks = listener.tasks.asScala.toSeq
    val metrics = spans.flatMap { sp =>
      val mine = tasks.filter(t => t.finish >= sp.start && t.finish < sp.end)
      val wall = (sp.end - sp.start) / 1000.0
      val fields =
        if (sp.name.endsWith(".sources.scan")) Map("wall_s" -> wall)
        else Map(
          "wall_s" -> wall,
          "busy_s" -> mine.map(_.runMs).sum / 1000.0,
          "wait_s" -> mine.map(_.waitMs).sum / 1000.0,
          "shuffle_mb" -> mine.map(_.shuffleBytes).sum / 1e6,
          "spill_mb" -> mine.map(_.spillBytes).sum / 1e6,
          "failed_tasks" -> mine.count(_.failed).toDouble)
      (fields ++ sp.extra).map { case (k, v) => s"${sp.name}.$k" -> v }
    }.toMap
    val walls = Seq(p, c).map { w =>
      s"$w.traced_wall_s" -> spans.filter(_.name.startsWith(w + "."))
        .map(s => (s.end - s.start) / 1000.0).sum
    }
    val passMetrics = pairs.flatMap { case (pass, n) =>
      Seq(s"$p.linkage.pass.$pass.pairs" -> n.toDouble,
        s"$p.linkage.pass.$pass.links_per_pair" ->
          (if (n == 0) 0.0 else piked.getOrElse(pass, 0L).toDouble / n))
    }
    Harness.emit(Map("event" -> "trace", "metrics" -> (metrics ++ walls ++ passMetrics ++ Seq(
      s"$p.linkage.cascade.rows_out" -> piked.getOrElse("all", 0L).toDouble,
      s"$p.linkage.em_iterations" -> emIterations.toDouble,
      "trace.listener_s" -> listener.selfNanos.get / 1e9,
      "trace.overhead_s" -> (listener.selfNanos.get + countNanos) / 1e9)).toMap))
    spark.sparkContext.removeSparkListener(listener)
  }
}
