package graft

import graft.functions.GraftFunctions
import graft.operators.VectorOps
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkTestBase {

  test("native vec_dot_decimal agrees bitwise with the declarative fold") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id"))
      .limit(500)
    val diff = pairs
      .select(
        VectorOps.dotDecimal(col("a"), col("b")).as("native"),
        VectorOps.dotDecimalFold(col("a"), col("b")).as("fold"))
      .filter(col("native") =!= col("fold"))
      .count()
    assert(diff == 0, s"$diff pairs differ between native and fold dot product")
  }

  test("vec_dot_decimal stays inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val df = e.select(VectorOps.dotDecimal(col("embedding"), col("embedding")).as("d"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("vec_dot_decimal")).getOrElse("")
    assert(line.contains("*("), s"vec_dot_decimal not codegen'd:\n$plan")
  }

  test("native vec_dot_long equals the HOF fold and stays inside codegen") {
    GraftFunctions.register(spark)
    // Deterministic pseudo-random long vectors in the SQ8 code range.
    val vecs = spark.range(200).select(col("id").as("vid"),
      transform(sequence(lit(1), lit(64)),
        j => pmod(xxhash64(col("id") * lit(64) + j), lit(255)) - 127).as("v"))
    val pairs = vecs.select(col("vid").as("a_id"), col("v").as("a"))
      .crossJoin(vecs.select(col("vid").as("b_id"), col("v").as("b")))
      .filter(col("a_id") < col("b_id")).limit(2000)
    val scored = pairs.select(
      GraftFunctions.vecDotLong(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x).as("fold"))
    assert(scored.filter(col("native") =!= col("fold")).count() == 0,
      "native long dot diverges from the HOF fold")
    // Codegen check on a projection with ONLY the native expression: a
    // CodegenFallback HOF in the same projection (like `fold` above)
    // would knock the whole stage out of codegen — which is exactly why
    // the native kernel exists.
    val nat = pairs.select(GraftFunctions.vecDotLong(col("a"), col("b")).as("d"))
    nat.collect()
    val plan = nat.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("vec_dot_long")).getOrElse("")
    assert(line.contains("*("), s"vec_dot_long not codegen'd:\n$plan")
  }

  test("lshBandKeysExact band 0 equals the 8-plane bucket; keys bounded by band width") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(100)
    val bad = e.select(
        VectorOps.lshBandKeysExact(col("embedding"), 2, 8).as("bands"),
        VectorOps.lshBucketExact(col("embedding"), 8).as("bucket"))
      .filter(element_at(col("bands"), 1) =!= col("bucket") ||
        element_at(col("bands"), 1) > 255 || element_at(col("bands"), 2) > 255 ||
        element_at(col("bands"), 1) < 0 || element_at(col("bands"), 2) < 0)
      .count()
    assert(bad == 0, "band 0 diverged from the 8-plane bucket or keys out of range")
  }

  test("lshPlanesFor: derived plane count keeps expected occupancy <= 64") {
    // The q45 derivation rule, pinned: smallest p in [8, 24] with
    // 2^p * 64 >= n; capped at 24 (the oracle mirrors this integer rule
    // in lshPlanesSqlCte, so no float-log boundary can split the engines).
    assert(VectorOps.lshPlanesFor(1L) == VectorOps.MinLshPlanes)
    assert(VectorOps.lshPlanesFor((1L << 8) * 64) == 8)
    assert(VectorOps.lshPlanesFor((1L << 8) * 64 + 1) == 9)
    assert(VectorOps.lshPlanesFor((1L << 11) * 64) == 11)
    assert(VectorOps.lshPlanesFor((1L << 24) * 64) == VectorOps.MaxLshPlanes)
    assert(VectorOps.lshPlanesFor(Long.MaxValue / 256) == VectorOps.MaxLshPlanes)
  }

  test("hyperplanes are deterministic and roughly zero-centered") {
    val hp = VectorOps.hyperplane(3)
    assert(hp == VectorOps.hyperplane(3))
    assert(hp.size == VectorOps.Dim)
    assert(math.abs(hp.sum / hp.size) < 0.2)
  }

  test("kmeans: objective is monotone, iteration 1 matches the q110 step") {
    GraftFunctions.register(spark)
    val data = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val seeds = graft.queries.PipelineQueries.ivfSeedIdsFor(data.count())
    val (obj, cents, assigned) = VectorOps.kmeans(data, seeds, iterations = 3)
    assert(obj.size == 3)
    // Spherical k-means: Σ cos(x, c_assigned) never decreases (tiny slack
    // for the decimal→double edge of the objective itself).
    obj.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"objective decreased: $obj")
    }
    assert(assigned.select("vec_id").distinct().count() == data.count())
    // Iteration-1 centroids == the oracle-pinned q110 one-step means.
    val step = graft.queries.PipelineQueries.defs
      .find(_.name == "q110_kmeans_step").get.query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val (_, cents1, _) = VectorOps.kmeans(data, seeds, iterations = 1)
    cents1.foreach { case (cid, comps) =>
      comps.zipWithIndex.foreach { case (v, j) =>
        step.get((cid, j + 1L)).foreach { want =>
          assert(math.abs(v - want) < 1e-5,
            s"centroid $cid component ${j + 1}: $v vs q110 $want")
        }
      }
    }
    // Determinism across runs.
    val (obj2, cents2, _) = VectorOps.kmeans(data, seeds, iterations = 3)
    assert(obj == obj2 && cents.map(_._2.toSeq) == cents2.map(_._2.toSeq))
  }

  test("kmeans centroids are bitwise partitioning-independent") {
    // The trained-ladder gate: centroid means accumulate as exact
    // decimals and assignment tiebreaks on ids, so re-partitioning the
    // input (different shuffle order, different partial-agg grouping)
    // must reproduce every centroid component BIT FOR BIT — this is what
    // makes the derived coarse-probe rule pinnable instead of a jitter
    // distribution (two 30× measurement sessions reproduced candidate and
    // missed counts exactly).
    GraftFunctions.register(spark)
    val data = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val seeds = graft.queries.PipelineQueries.ivfSeedIdsFor(data.count())
    val (objA, centsA, _) = VectorOps.kmeans(data.repartition(3), seeds, 2)
    val (objB, centsB, _) =
      VectorOps.kmeans(data.repartition(17, col("vec_id")), seeds, 2)
    assert(objA == objB, s"objective differs across partitionings")
    centsA.zip(centsB).foreach { case ((ca, va), (cb, vb)) =>
      assert(ca == cb)
      va.zip(vb).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(y),
          s"centroid $ca component differs: $x vs $y")
      }
    }
  }
}
