package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev harness (not a test): attributes q94's cost between candidate
  * generation, scoring, and clustering.
  */
object DedupeCostProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .appName("graft-dedupe-probe").master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    import graft.linkage.{BlockingPass, LinkageCascade}
    import graft.queries.LinkageQueries._

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"== $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    census(spark, dir); input(spark, dir)
    for (r <- 1 to 2) {
      val cols = Seq("pik", "zip3", "geokey_blk") ++ comparisons.map(_.column)
      val cen = census(spark, dir).select(cols.map(col): _*)
      val dup = cen.filter(pmod(col("pik"), lit(13)) === 0)
        .withColumn("pik", col("pik") + lit(10000000L))
        .withColumn("middle_initial", lit(null).cast("string"))
        .select(cols.map(col): _*)
      val cen2 = cen.unionByName(dup)
      val pairsOf = (keys: Seq[String]) =>
        LinkageCascade.pairs(cen2, cen2, BlockingPass("dedup", keys))
          .filter(col("l_pik") < col("r_pik"))
      val cand = time(s"r$r cand")(
        pairsOf(Seq("geokey_blk"))
          .unionByName(pairsOf(Seq("dob_year", "dob_month", "dob_day", "zip3")))
          .dropDuplicates(Seq("l_pik", "r_pik")).localCheckpoint())
      println("  n_cand=" + cand.count())
      val edges = time(s"r$r score")(
        LinkageCascade.score(cand, config)
          .filter(col("match_weight") >= config.thresholdWeight)
          .select(col("l_pik").as("a"), col("r_pik").as("b")).localCheckpoint())
      println("  n_edges=" + edges.count())
      time(s"r$r cc")(
        graft.operators.Components.connectedComponents(
          cen2.select(col("pik").as("node")), edges).count())
    }
    spark.stop()
  }
}
