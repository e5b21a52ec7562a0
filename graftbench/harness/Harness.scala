package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Pipeline, SparkEntry}

/** The JVM side of the benchmark. `run.py` launches it directly (no sbt, so
  * stdout carries no `[info] ` prefix) and reads the `@@ {json}` lines it
  * prints; everything else (Spark's log) goes to stderr.
  *
  * {{{
  *   Harness run   <workload> <inputDir> <outDir> <seconds>
  *   Harness trace <inputDir> <outDir>
  * }}}
  *
  * `run` times one workload with no listener attached. `trace` runs the span sweep of both
  * workloads under [[Tracer]] and reports the per-layer figures.
  */
object Harness {

  val curationQueries: Seq[String] = Seq(
    "q41_minhash_lsh", "q42_simhash", "q43_ngram_jaccard_dedup",
    "q51_embedding_dedup", "q81_curation_pipeline", "q124_semdedup_keep",
    "q134_winnow_dedup", "q156_image_keep")

  private val json = new ObjectMapper()

  /** One protocol line; `run.py` keys on the `@@ ` prefix. */
  def emit(fields: Map[String, Any]): Unit = {
    def toJava(v: Any): Any = v match {
      case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
      case s: Seq[_] => s.map(toJava).asJava
      case x => x
    }
    System.out.println("@@ " + json.writeValueAsString(toJava(fields)))
    System.out.flush()
  }

  def session(): SparkSession = {
    val spark = GraftSession.builder("graftbench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    emit(Map("event" -> "ready", "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))
    spark
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  def writeOracleSql(outDir: String): Unit =
    json.writeValue(new File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql.asJava)

  /** One cold pass of a workload: fresh memos (memos key on the session),
    * every result written under `out`. Returns per-output seconds.
    */
  def pass(spark: SparkSession, workload: String, in: String, out: String)
      : Seq[(String, Double)] = workload match {
    case "pvs_pipeline" =>
      Pipeline.run(spark, in, out).map(r => r.stage -> r.sec)
    case "curation_dedup" =>
      curationQueries.map { q =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, in).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$q")
        q -> secondsSince(t0)
      }
    case other => sys.error(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    args.toList match {
      case List("run", workload, in, out, seconds) =>
        val spark = session()
        writeOracleSql(out)
        // Repeat cold passes until `seconds` have been measured; pass 1 runs
        // in the fresh JVM (what a user of `graft.Pipeline` sees), later
        // passes in a fresh session of the same JVM.
        val budget = seconds.toDouble
        val t0 = System.nanoTime()
        var i = 0
        while (i == 0 || secondsSince(t0) < budget) {
          val s = if (i == 0) spark else spark.newSession()
          val cpu0 = cpuSeconds()
          val p0 = System.nanoTime()
          val items = pass(s, workload, in, s"$out/pass$i")
          emit(Map("event" -> "pass", "index" -> i, "wall_s" -> secondsSince(p0),
            "cpu_s" -> (cpuSeconds() - cpu0),
            "items" -> items.map { case (k, v) => Map("name" -> k, "s" -> v) }))
          spark.catalog.clearCache()
          i += 1
        }
        emit(Map("event" -> "done", "peak_rss_mb" -> peakRssMb()))
      case List("trace", in, out) =>
        val spark = session()
        writeOracleSql(out)
        Tracer.sweep(spark, in, out)
        emit(Map("event" -> "done", "peak_rss_mb" -> peakRssMb()))
      case _ =>
        System.err.println("usage: Harness run <workload> <in> <out> <seconds>" +
          " | trace <in> <out>")
        sys.exit(2)
    }
    // Every output is committed and every figure printed: skip the
    // context shutdown, whose seconds no figure includes.
    Runtime.getRuntime.halt(0)
  }
}
