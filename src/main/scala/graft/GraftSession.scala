package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The ONE SparkSession recipe for graft's entry points (Verify / Bench /
  * Pipeline) — local-mode dev defaults that a real cluster submit
  * overrides, making the thin `sbt package` jar directly
  * spark-submittable.
  *
  * Deploy story (reference parity: the reference ships a Slurm container
  * build + `start_spark_cluster`
  * (src/person_linkage_case_study_utils/distributed_compute.py:811-1006);
  * graft ships a thin jar + this recipe — graft's only runtime dependency
  * is Spark itself, which every deployment already provides, so no
  * assembly/shading step exists to get wrong):
  *
  * {{{
  * sbt package
  * spark-submit \
  *   --class graft.Verify \
  *   --master spark://<master>:7077 \
  *   --conf spark.executor.memory=28g \
  *   --conf spark.executor.cores=8 \
  *   --conf spark.sql.shuffle.partitions=<2 x total executor cores> \
  *   target/scala-2.13/person_linkage_case_studyspark_2.13-0.1.0.jar \
  *   <data-dir> <out-dir>
  * }}}
  *
  * Every default below applies ONLY when the submitted conf does not
  * already carry the key, so `--master`/`--conf` always win; without
  * spark-submit (sbt runMain) the `local[SPARK_GRAFT_CPUS]` dev defaults
  * apply unchanged. Local-only knobs (the shuffle-partitions=cores
  * sizing, the disabled UI) are gated on the master actually being local
  * — a cluster sets shuffle partitions explicitly (~2x total cores; AQE
  * coalesces the excess at runtime). Scratch is Spark's own default on
  * any deployment (`SPARK_LOCAL_DIRS`, else `spark.local.dir`, else
  * java.io.tmpdir): shuffle and checkpoint blocks go to disk, not RAM.
  */
object GraftSession {

  def builder(appName: String, extra: (String, String)*): SparkSession.Builder =
    // new SparkConf(true) loads spark.* system properties — exactly what
    // a spark-submit launcher sets in the driver JVM before main() runs.
    builderWith(new SparkConf(true), appName, extra: _*)

  /** [[builder]] with the submitted conf injected — the spec entry point
    * (PackagingSpec drives the local-vs-submitted precedence without
    * polluting the shared test JVM's system properties).
    */
  private[graft] def builderWith(submitted: SparkConf, appName: String,
      extra: (String, String)*): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val localMaster = !submitted.contains("spark.master")
    val defaults =
      Seq(
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.autoBroadcastJoinThreshold" -> "64MB",
        "spark.sql.adaptive.enabled" -> "true",
        // events.parquet stores TIMESTAMP(NANOS); Spark 4 refuses it
        // unless read as long (Tables.events converts back to µs).
        "spark.sql.legacy.parquet.nanosAsLong" -> "true"
      ) ++
        (if (localMaster) Seq(
          "spark.sql.shuffle.partitions" -> cpus,
          "spark.ui.enabled" -> "false"
        ) else Nil) ++ extra
    var b = SparkSession.builder().appName(appName)
    if (localMaster) b = b.master(s"local[$cpus]")
    defaults.foreach { case (k, v) =>
      if (!submitted.contains(k)) b = b.config(k, v)
    }
    b
  }
}
