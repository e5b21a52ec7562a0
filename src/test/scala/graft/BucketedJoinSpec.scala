package graft

import graft.queries.LinkageQueries
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** The cluster-scale path for iterated linkage: write both sides bucketed
  * by the block key once, and every subsequent pass's equi-join on that key
  * needs NO shuffle (reference re-blocks per pass; bucketing amortizes the
  * shuffle across all passes and reruns).
  */
class BucketedJoinSpec extends SparkTestBase {

  test("join on the bucket key plans without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Sources.writeBucketed(
        LinkageQueries.census(spark, sfDir).withColumn("zip3h", hash(col("zip3"))),
        "census_bkt", Seq("zip3h"), buckets = 8)
      Sources.writeBucketed(
        LinkageQueries.input(spark, sfDir).withColumn("zip3h", hash(col("zip3"))),
        "input_bkt", Seq("zip3h"), buckets = 8)
      val joined = spark.table("census_bkt")
        .join(spark.table("input_bkt"), "zip3h")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS census_bkt")
      spark.sql("DROP TABLE IF EXISTS input_bkt")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("persisted band index: the incremental-LSH probe plans shuffle-free") {
    // q100/StreamingDedup's 100 TB claim made concrete: the corpus band
    // index is written ONCE bucketed on the band key; signaturing a small
    // arriving batch and probing costs no corpus shuffle — the corpus side
    // reads bucket-local, only the delta (tiny) shuffles to align.
    import graft.queries.PipelineQueries
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = PipelineQueries.docsWithDups(spark, sfDir).select("doc_id", "text")
      val withKey = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("bkey", hash(col("band"), col("v1"), col("v2")))
      Sources.writeBucketed(
        withKey(PipelineQueries.bandRowsFor(docs.filter(col("doc_id") < 100000L))),
        "bands_bkt", Seq("bkey"), buckets = 8)
      val delta = withKey(
        PipelineQueries.bandRowsFor(docs.filter(col("doc_id") >= 100000L)))
        .repartition(8, col("bkey"))
      val corpus = spark.table("bands_bkt")
      // The store joins on the packed band key ALONE — bucketed joins
      // avoid the shuffle only when the join keys equal the bucket
      // columns, and a band-key hash collision merely adds a rare false
      // candidate that the downstream verify stage (q43's Jaccard) drops
      // anyway. The test filters collisions driver-side to compare
      // against the exact q100 set.
      val joined = corpus.as("a").join(delta.as("b"), col("a.bkey") === col("b.bkey"))
        .select(col("a.doc_id").as("corpus_id"), col("b.doc_id").as("new_id"),
          col("a.band"), col("a.v1"), col("a.v2"),
          col("b.band").as("band_b"), col("b.v1").as("v1_b"), col("b.v2").as("v2_b"))
      // The delta side legitimately shuffles (its own signature aggregate
      // + the alignment repartition); the claim under test is that the
      // CORPUS side of the join reads bucket-local — no exchange between
      // the bands_bkt scan and the join.
      joined.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      // AQE wraps finished stages in leaf QueryStageExec nodes, so plain
      // collect() stops at stage boundaries — expand through them.
      def expand(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
        case q: QueryStageExec        => q +: expand(q.plan)
        case other                    => other +: other.children.flatMap(expand)
      }
      val all = expand(joined.queryExecution.executedPlan)
      val joinNode = all.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec    => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.getOrElse(fail(s"no shuffle join found in:\n${all.head}"))
      val corpusSide = joinNode.children
        .find(c => expand(c).exists(_.toString.contains("bands_bkt")))
        .getOrElse(fail(s"no join side scans bands_bkt:\n${all.head}"))
      val shuffles = expand(corpusSide).filter(n =>
        n.isInstanceOf[ShuffleExchangeLike] ||
          n.getClass.getSimpleName.contains("ShuffleQueryStage"))
      assert(shuffles.isEmpty,
        s"corpus band index still shuffles:\n$corpusSide")
      val got = joined.collect()
        .filter(r => r.getLong(2) == r.getLong(5) && r.getLong(3) == r.getLong(6) &&
          r.getLong(4) == r.getLong(7))
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // And the probe result equals the unbucketed batch reference (q100).
      val batch = PipelineQueries.defs.find(_.name == "q100_incremental_lsh").get
        .query(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch, s"bucketed probe differs: ${(got -- batch).take(3)} / ${(batch -- got).take(3)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bands_bkt")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("persisted winnow fingerprint index: the overlap probe plans shuffle-free") {
    // q134/StreamingDedup.winnowMatchesBatch's 100 TB claim made concrete:
    // the corpus fingerprint index is written ONCE bucketed on the hash;
    // fingerprinting a small arriving batch and probing costs no corpus
    // shuffle — the corpus side reads bucket-local, only the delta (tiny)
    // shuffles to align.
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingDedup
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"),
        concat(col("text"), PipelineQueries.winnowQuote(col("doc_id"))).as("text"))
      val boundary = docs.agg(expr("percentile(doc_id, 0.5)")).head.getDouble(0)
      val corpus = docs.filter(col("doc_id") < boundary).cache()
      val arrivals = docs.filter(col("doc_id") >= boundary).cache()
      Sources.writeBucketed(StreamingDedup.winnowIndex(corpus),
        "winnow_bkt", Seq("h"), buckets = 8)
      val probe = StreamingDedup.winnowIndex(arrivals).repartition(8, col("h"))
      val corpusFps = spark.table("winnow_bkt")
      val joined = corpusFps.as("a").join(probe.as("b"), col("a.h") === col("b.h"))
        .select(col("a.doc_id").as("corpus_id"), col("b.doc_id").as("new_id"),
          col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
      joined.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def expand(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
        case q: QueryStageExec        => q +: expand(q.plan)
        case other                    => other +: other.children.flatMap(expand)
      }
      val all = expand(joined.queryExecution.executedPlan)
      val joinNode = all.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec    => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.getOrElse(fail(s"no shuffle join found in:\n${all.head}"))
      val corpusSide = joinNode.children
        .find(c => expand(c).exists(_.toString.contains("winnow_bkt")))
        .getOrElse(fail(s"no join side scans winnow_bkt:\n${all.head}"))
      val shuffles = expand(corpusSide).filter(n =>
        n.isInstanceOf[ShuffleExchangeLike] ||
          n.getClass.getSimpleName.contains("ShuffleQueryStage"))
      assert(shuffles.isEmpty, s"corpus fingerprint index still shuffles:\n$corpusSide")
      // Candidate-level parity with the streaming twin's verified pairs:
      // verify the bucketed candidates the same way and compare.
      val verified = joined
        .join(corpus.select(col("doc_id").as("corpus_id"), col("text").as("ta")),
          Seq("corpus_id"))
        .join(arrivals.select(col("doc_id").as("new_id"), col("text").as("tb")),
          Seq("new_id"))
        .filter(col("ta").substr(col("pos_a").cast("int"),
            lit(PipelineQueries.WinnowK)) ===
          col("tb").substr(col("pos_b").cast("int"), lit(PipelineQueries.WinnowK)))
        .select("corpus_id", "new_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val twin = StreamingDedup
        .winnowMatchesBatch(StreamingDedup.winnowIndex(corpus), corpus, arrivals)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(verified.nonEmpty && verified == twin,
        s"bucketed probe differs from the streaming twin: " +
          s"${(verified -- twin).take(3)} / ${(twin -- verified).take(3)}")
      corpus.unpersist(); arrivals.unpersist()
    } finally {
      spark.sql("DROP TABLE IF EXISTS winnow_bkt")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("cascade predict over bucketed sides plans without a shuffle on the block key") {
    // The pair-volume trio (q27/q28/q31) is one blocking join + scalar
    // scoring per pair; with census/input persisted bucketed on the
    // block key, the ENTIRE predict pipeline up to the per-record
    // resolution plans with no hash exchange on that key — the blocking
    // shuffle the chain pays per pass at 100 TB is paid once at write
    // time (priced at 30× in BASELINE.md, round 18). The l_/r_ column prefixes
    // are pure aliases, so the bucketed scan's output partitioning
    // carries through the projection to the join.
    import graft.linkage.LinkageCascade
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pass = LinkageQueries.emPasses.head // blocks on zip3
      val cfg = LinkageQueries.config
      Sources.writeBucketed(LinkageQueries.census(spark, sfDir),
        "casc_census_bkt", Seq("zip3"), buckets = 8)
      Sources.writeBucketed(LinkageQueries.input(spark, sfDir),
        "casc_input_bkt", Seq("zip3"), buckets = 8)
      val cb = spark.table("casc_census_bkt")
      val ib = spark.table("casc_input_bkt")
      val scored = LinkageCascade.score(
        LinkageCascade.pairs(cb, ib, pass), pass.comparisonsFor(cfg))
      val nBkt = scored.count()
      val plan = scored.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed blocking join still shuffles:\n$plan")
      // Same pairs as the unbucketed pipeline (bucketing is layout only).
      val nPlain = LinkageCascade.score(
        LinkageCascade.pairs(LinkageQueries.census(spark, sfDir),
          LinkageQueries.input(spark, sfDir), pass),
        pass.comparisonsFor(cfg)).count()
      assert(nBkt == nPlain, s"bucketed pairs $nBkt != unbucketed $nPlain")
    } finally {
      spark.sql("DROP TABLE IF EXISTS casc_census_bkt")
      spark.sql("DROP TABLE IF EXISTS casc_input_bkt")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
