package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** Runs independent pieces of driver work, each submitting its own Spark
  * jobs, at the same time: the one place graft waits on other driver
  * threads.
  *
  *  - Nest-safe. Every task gets a thread at once from a cached daemon
  *    pool (an idle thread, else a new one), so the live threads are the
  *    sum of the fan-outs running now, never a pool size. A task that
  *    itself calls [[all]] (a warm memo build reaching the cascade fold,
  *    say) cannot starve its own callers.
  *  - Context. Pool threads inherit no thread locals, so nothing stale
  *    from an earlier caller, `spark.sql.execution.id` included, reaches a
  *    task. A task runs with the caller's job group, description,
  *    interrupt-on-cancel flag, job tags and active session, plus its own
  *    job tag `graft-par:<site>#<call>:<task>`.
  *  - Bounded and loud. The wait ends at [[Timeout]]. On the first failure
  *    or at the timeout, each unfinished task's jobs are cancelled by its
  *    tag and its thread is interrupted; then one exception names every
  *    failed, timed-out and cancelled task.
  */
object Par {

  /** The wait bound of every call. The longest single task measured
    * under `Test/runMain graft.ScaleBench 30` on 4 cores was the warm
    * build of the `emb_pairs` memo, 1,299 s with all 25 memo builds
    * running at once; this is about 2.8× that.
    */
  val Timeout: FiniteDuration = 1.hour

  private val ContextKeys =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  private val callIds = new AtomicLong

  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(null, r, "graft-par", 0L, false)
    t.setDaemon(true)
    t
  }

  /** Runs the named tasks concurrently and returns their results in task
    * order. `site` and the task names go into job tags, so they may not
    * hold a comma.
    */
  def all[T](spark: SparkSession, site: String, tasks: Seq[(String, () => T)]): Seq[T] =
    all(spark, site, tasks, Timeout)

  private[graft] def all[T](spark: SparkSession, site: String,
      tasks: Seq[(String, () => T)], timeout: FiniteDuration): Seq[T] = {
    val sc = spark.sparkContext
    val props = ContextKeys.map(k => k -> sc.getLocalProperty(k))
    val tags = sc.getJobTags()
    val session = SparkSession.getActiveSession
    val call = s"graft-par:$site#${callIds.incrementAndGet()}"
    val done = new ExecutorCompletionService[T](pool)
    val submitted: Seq[(String, String, Future[T])] = tasks.map { case (name, body) =>
      val tag = s"$call:$name"
      (name, tag, done.submit { () =>
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        sc.addJobTags(tags + tag)
        session.foreach(SparkSession.setActiveSession)
        try body()
        finally {
          props.foreach { case (k, _) => sc.setLocalProperty(k, null) }
          sc.clearJobTags()
          SparkSession.clearActiveSession()
        }
      })
    }
    val deadline = timeout.fromNow
    var finished = 0
    var failed, timedOut = false
    var open = Seq.empty[(String, String, Future[T])]
    try {
      while (finished < submitted.size && !failed) {
        val f = done.poll(math.max(0L, deadline.timeLeft.toNanos), TimeUnit.NANOSECONDS)
        if (f == null) { failed = true; timedOut = true }
        else {
          finished += 1
          failed = error(f).isDefined
        }
      }
    } finally {
      // Also reached when this thread is interrupted: a cancelled outer
      // task cancels the tasks it started.
      open = submitted.filterNot(_._3.isDone)
      open.foreach { case (_, tag, f) =>
        sc.cancelJobsWithTag(tag, s"$call failed")
        f.cancel(true)
      }
    }
    if (failed) {
      val errors = submitted.filterNot(open.contains).flatMap { case (name, _, f) =>
        error(f).map(name -> _)
      }
      val report = errors.map { case (name, e) => s"$name failed ($e)" } ++
        open.map { case (name, _, _) =>
          if (timedOut) s"$name timed out after $timeout" else s"$name cancelled"
        }
      val e = new RuntimeException(s"Par.all($site): ${report.mkString("; ")}",
        errors.headOption.map(_._2).orNull)
      errors.drop(1).foreach { case (_, t) => e.addSuppressed(t) }
      throw e
    }
    submitted.map(_._3.get())
  }

  /** What a finished, not cancelled task threw. */
  private def error(f: Future[_]): Option[Throwable] =
    if (!f.isDone || f.isCancelled) None
    else try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
}
