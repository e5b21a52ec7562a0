package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit deploy story (SURVEY §3 / GraftSession's recipe):
  * the thin `sbt package` jar must carry every driver-contract main, and
  * the shared session builder must let a submitted --master/--conf win
  * over the local dev defaults while still providing them when run bare.
  * No cluster needed — the precedence logic is driven with an injected
  * conf, and the jar check reads the artifact `sbt package` produces
  * (skipped, not failed, when the jar hasn't been built in this
  * checkout).
  */
class PackagingSpec extends AnyFunSuite {

  test("session builder: bare run gets local master + dev defaults") {
    val opts = confOf(GraftSession.builderWith(new SparkConf(false), "t"))
    assert(opts("spark.master").startsWith("local["))
    assert(opts("spark.sql.shuffle.partitions") ===
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    assert(opts("spark.sql.adaptive.enabled") === "true")
    assert(opts("spark.sql.legacy.parquet.nanosAsLong") === "true")
    // Scratch is Spark's own default (disk), never a RAM-backed tmpfs.
    assert(!opts.contains("spark.local.dir"))
  }

  test("session builder: a submitted master suppresses local-only knobs") {
    val submitted = new SparkConf(false)
      .set("spark.master", "spark://example.invalid:7077")
    val opts = confOf(GraftSession.builderWith(submitted, "t"))
    // The builder must not override the submitted master, must not size
    // shuffle partitions to the LOCAL core count, and must not set the
    // cluster's spill dirs.
    assert(!opts.contains("spark.master"))
    assert(!opts.contains("spark.sql.shuffle.partitions"))
    assert(!opts.contains("spark.local.dir"))
    assert(!opts.contains("spark.ui.enabled"))
    // Engine-semantics defaults still apply (the nanos read contract
    // holds on any deployment).
    assert(opts("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("session builder: every submitted --conf wins over the default") {
    val submitted = new SparkConf(false)
      .set("spark.sql.adaptive.enabled", "false")
      .set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val opts = confOf(GraftSession.builderWith(submitted, "t"))
    assert(!opts.contains("spark.sql.adaptive.enabled"))
    assert(!opts.contains("spark.sql.autoBroadcastJoinThreshold"))
  }

  test("thin jar carries the driver-contract mains") {
    val jars = Option(new java.io.File("target/scala-2.13").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".jar") && !f.getName.contains("-tests"))
    assume(jars.nonEmpty, "run `sbt package` first — jar check skipped")
    val jar = new java.util.jar.JarFile(jars.maxBy(_.lastModified))
    try {
      Seq("graft/Verify", "graft/Bench", "graft/Pipeline", "graft/SparkEntry",
        "graft/GraftSession").foreach { cls =>
        assert(jar.getEntry(s"$cls$$.class") != null,
          s"$cls missing from the packaged jar")
      }
    } finally jar.close()
  }

  /** The builder's accumulated options (SparkSession.Builder keeps them
    * in a private map; read them via the public extensions-free route —
    * reflectively, so the spec never has to start a second session).
    */
  private def confOf(b: org.apache.spark.sql.SparkSession.Builder)
      : Map[String, String] = {
    val f = b.getClass.getSuperclass.getDeclaredMethods
      .find(_.getName.endsWith("options")).orElse(
        b.getClass.getDeclaredMethods.find(_.getName.endsWith("options")))
    f match {
      case Some(m) =>
        m.setAccessible(true)
        m.invoke(b) match {
          case sm: scala.collection.Map[_, _] =>
            sm.map { case (k, v) => k.toString -> v.toString }.toMap
          case jm: java.util.Map[_, _] =>
            import scala.jdk.CollectionConverters._
            jm.asScala.map { case (k, v) => k.toString -> v.toString }.toMap
          case other => fail(s"unexpected options shape: ${other.getClass}")
        }
      case None =>
        val fld = (b.getClass.getDeclaredFields ++
          b.getClass.getSuperclass.getDeclaredFields)
          .find(_.getName.endsWith("options"))
          .getOrElse(fail("SparkSession.Builder options member not found"))
        fld.setAccessible(true)
        fld.get(b) match {
          case sm: scala.collection.Map[_, _] =>
            sm.map { case (k, v) => k.toString -> v.toString }.toMap
          case other => fail(s"unexpected options shape: ${other.getClass}")
        }
    }
  }
}
