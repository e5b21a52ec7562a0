package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Millis, Seconds, Span}

class ParSpec extends SparkTestBase with Eventually {

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(30, Seconds), interval = Span(100, Millis))

  private def sc = spark.sparkContext

  /** Records the local properties of every job started while `body` runs. */
  private def withJobs[T](body: ConcurrentHashMap[Int, Properties] => T): T = {
    val jobs = new ConcurrentHashMap[Int, Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Option(e.properties).getOrElse(new Properties))
    }
    sc.addSparkListener(listener)
    try body(jobs) finally sc.removeSparkListener(listener)
  }

  private def tagsOf(p: Properties): Set[String] =
    Option(p.getProperty("spark.job.tags")).toSet[String].flatMap(_.split(","))

  /** Ids of the recorded jobs carrying a tag that ends in `:<task>`. */
  private def jobsOf(jobs: ConcurrentHashMap[Int, Properties], task: String): Seq[Int] =
    jobs.asScala.collect {
      case (id, p) if tagsOf(p).exists(_.endsWith(s":$task")) => id
    }.toSeq

  private def assertEnded(jobIds: Seq[Int]): Unit = eventually {
    assert(jobIds.nonEmpty)
    assert((sc.statusTracker.getActiveJobIds.toSet & jobIds.toSet).isEmpty)
    jobIds.foreach(id =>
      assert(sc.statusTracker.getJobInfo(id).map(_.status) ==
        Some(JobExecutionStatus.FAILED)))
  }

  test("a task blocked past the timeout fails with its name and its job is cancelled") {
    withJobs { jobs =>
      val t0 = System.nanoTime()
      val e = intercept[RuntimeException](Par.all(spark, "spec_timeout", Seq(
        "quick" -> (() => 1L),
        "stuck" -> (() => ParSpec.runUntilKilled(spark))), 2.seconds))
      assert((System.nanoTime() - t0) / 1e9 < 20)
      assert(e.getMessage.contains("stuck timed out after 2 seconds"), e.getMessage)
      assert(!e.getMessage.contains("quick"), e.getMessage)
      assertEnded(jobsOf(jobs, "stuck"))
    }
  }

  test("a throwing task is named and its siblings' jobs are cancelled") {
    withJobs { jobs =>
      val t0 = System.nanoTime()
      val e = intercept[RuntimeException](Par.all(spark, "spec_throw", Seq(
        "slow" -> (() => ParSpec.runUntilKilled(spark)),
        "boom" -> (() => {
          // Throw only once the sibling's job is running.
          eventually(assert(jobsOf(jobs, "slow").nonEmpty))
          throw new IllegalStateException("planted")
        }))))
      assert((System.nanoTime() - t0) / 1e9 < 30)
      assert(e.getMessage.contains("boom failed"), e.getMessage)
      assert(e.getMessage.contains("slow cancelled"), e.getMessage)
      assert(e.getCause.getMessage == "planted")
      assertEnded(jobsOf(jobs, "slow"))
    }
  }

  test("a call nested inside 25 concurrent tasks completes") {
    // Every outer task waits until all 25 run at once, and each inner
    // pair waits for its sibling: a pool bounded below the total fan-out
    // times out here instead of finishing.
    val outer = new CountDownLatch(25)
    val sums = Par.all(spark, "spec_outer", (1 to 25).map { i =>
      s"o$i" -> { () =>
        outer.countDown()
        assert(outer.await(60, TimeUnit.SECONDS), "outer tasks did not run at once")
        val inner = new CountDownLatch(2)
        Par.all(spark, "spec_inner", Seq("a", "b").map { n =>
          n -> { () =>
            inner.countDown()
            assert(inner.await(60, TimeUnit.SECONDS), "inner tasks did not run at once")
            spark.range(0, i, 1, 1).count()
          }
        }).sum
      }
    }, 2.minutes)
    assert(sums == (1 to 25).map(i => 2L * i))
  }

  test("task jobs carry the caller's job group, description and tags, not its execution id") {
    withJobs { jobs =>
      sc.setJobGroup("spec_group", "spec description", interruptOnCancel = true)
      sc.addJobTag("spec_caller")
      sc.setLocalProperty("spark.sql.execution.id", "424242")
      try Par.all(spark, "spec_context", Seq("a", "b").map(n =>
        n -> (() => sc.parallelize(1 to 10, 2).count())))
      finally {
        sc.setLocalProperty("spark.sql.execution.id", null)
        sc.removeJobTag("spec_caller")
        sc.clearJobGroup()
      }
      eventually(assert(jobsOf(jobs, "a").size == 1 && jobsOf(jobs, "b").size == 1))
      Seq("a", "b").foreach { n =>
        val p = jobs.get(jobsOf(jobs, n).head)
        assert(p.getProperty("spark.jobGroup.id") == "spec_group")
        assert(p.getProperty("spark.job.description") == "spec description")
        assert(p.getProperty("spark.job.interruptOnCancel") == "true")
        assert(p.getProperty("spark.sql.execution.id") == null)
        assert(tagsOf(p).contains("spec_caller"))
        assert(tagsOf(p).exists(_.matches(s"graft-par:spec_context#\\d+:$n")), tagsOf(p))
      }
    }
  }

  test("no Future, Await or raw thread idiom outside Par.scala in src/main") {
    val banned = Seq("Duration.Inf", "ExecutionContext.global", "new Thread(")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("graft/Par.scala")), "src/main not found from the test cwd")
    val hits = for {
      f <- files if !f.endsWith("graft/Par.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

object ParSpec {

  /** A one-task job that runs until it is killed (at most a minute). */
  def runUntilKilled(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sparkContext.parallelize(Seq(1), 1).map(waitForKill).count()

  private def waitForKill(x: Int): Int = {
    val tc = TaskContext.get()
    val end = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!tc.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
    x
  }
}
