package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

class MemoSpec extends SparkTestBase {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Blocks each `build` adds to the persistent-RDD map. */
  private def idsOf(build: => Unit): Set[Int] = {
    val before = persistentIds
    build
    persistentIds -- before
  }

  private def constant(name: String, v: Int)(sleepMs: Long = 0): Memo[Int] =
    new Memo[Int](name, _ => Nil)((_, _) => { Thread.sleep(sleepMs); v })

  private def frameMemo(name: String)(store: DataFrame => DataFrame): Memo[DataFrame] =
    new Memo[DataFrame](name, Seq(_))((s: SparkSession, d: String) =>
      Memo.materialize(store(s.range(200).selectExpr(s"id * ${d.length} AS v"))))

  test("a key switch releases the old key's cached and checkpointed blocks") {
    Seq(
      "cache" -> frameMemo("spec_cached")(_.cache()),
      "localCheckpoint" -> frameMemo("spec_checkpointed")(_.localCheckpoint())
    ).foreach { case (storage, m) =>
      val old = idsOf(m(spark, "a"))
      assert(old.nonEmpty, s"$storage: the build persisted nothing")
      assert(m(spark, "a").count() == 200)
      val next = idsOf(m(spark, "bb"))
      assert((persistentIds & old).isEmpty, s"$storage: old key's blocks survive")
      assert(next.nonEmpty)
      m.clear()
      assert((persistentIds & next).isEmpty, s"$storage: clear() kept blocks")
      assert(m.builds == 2 && m.hits == 1)
    }
  }

  test("concurrent first calls build once") {
    val n = new AtomicInteger
    val m = new Memo[Int]("spec_once", _ => Nil)((_, _) => {
      n.incrementAndGet(); Thread.sleep(200); 1
    })
    val threads = (1 to 8).map(_ => new Thread(() => { m(spark, "x"); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(n.get == 1)
    assert(m.builds == 1 && m.hits == 7)
  }

  test("a throwing build rethrows and leaves the slot empty") {
    @volatile var fail = false
    val m = new Memo[Int]("spec_throw", _ => Nil)((_, d) => {
      if (fail) throw new IllegalStateException("planted")
      d.length
    })
    assert(m(spark, "x") == 1)
    fail = true
    assert(intercept[IllegalStateException](m(spark, "yy")).getMessage == "planted")
    fail = false
    // The failed key switch already dropped "x": this call rebuilds it.
    assert(m(spark, "x") == 1)
    assert(m.builds == 2 && m.hits == 0)
  }

  test("build seconds exclude nested memo calls, built or waited on") {
    val inner = constant("spec_inner", 1)(600)
    val outer = new Memo[Int]("spec_outer", _ => Nil)((s, d) => {
      Thread.sleep(100); inner(s, d) + 1
    })
    assert(outer(spark, "x") == 2)
    assert(inner.buildSeconds >= 0.6)
    assert(outer.buildSeconds >= 0.1 && outer.buildSeconds < 0.4,
      s"outer charged ${outer.buildSeconds} s")
    // Concurrently: the outer build waits on the inner one another thread
    // is building; the wait is not charged to the outer memo.
    val inner2 = constant("spec_inner2", 1)(600)
    val outer2 = new Memo[Int]("spec_outer2", _ => Nil)((s, d) => inner2(s, d) + 1)
    val secs = SparkEntry.runWarm(spark, "x", Seq(inner2, outer2)).toMap
    assert(secs("spec_inner2") >= 0.6)
    assert(secs("spec_outer2") < 0.3, s"outer charged ${secs("spec_outer2")} s")
  }

  test("runWarm runs every step, then fails naming each failed memo") {
    val ok = constant("spec_ok", 1)()
    val bad = new Memo[Int]("spec_bad", _ => Nil)((_, _) =>
      throw new IllegalStateException("planted"))
    val e = intercept[RuntimeException](SparkEntry.runWarm(spark, "x", Seq(bad, ok)))
    assert(e.getMessage.contains("spec_bad"))
    assert(!e.getMessage.contains("spec_ok"))
    assert(e.getCause.getMessage == "planted")
    assert(ok.builds == 1)
  }

  test("warmSteps holds the memo steps the benchmark harness calls") {
    val names = SparkEntry.warmSteps.map(_._1)
    Seq("linkage_sides", "linkage_reffiles", "cascade_links", "reffile_chain",
      "reffile_accuracy", "shingles", "grams", "minhash_bands", "image_sigs",
      "emb_dup_norms", "jaccard_banded", "emb_ranked_dup", "image_class_pairs")
      .foreach(n => assert(names.contains(n), s"no warm step $n"))
    assert(names.distinct.size == names.size, "duplicate memo names")
  }
}
