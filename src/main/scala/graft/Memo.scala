package graft

import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** A cross-query memo over one (session, dir) input: the frames several
  * queries share, built once and kept materialized — the reference's
  * persist-once-then-search shape (`df_ops.persist` before the search
  * modules).
  *
  *  - One slot. Only the latest key is kept: a call with a new key first
  *    releases the previous key's frames, then builds. One lock per memo,
  *    so concurrent first calls build once and the others wait.
  *  - Release covers both storage idioms the builds use. A `cache()`d
  *    frame is unpersisted. A `localCheckpoint`ed frame (its plan is one
  *    LogicalRDD) releases the checkpointed RDD itself, which
  *    `Dataset.unpersist` never touches.
  *  - A build that throws leaves the slot empty; the next call rebuilds.
  *  - Counters: builds, hits and build seconds. Build seconds exclude the
  *    time spent inside nested memo calls — their builds, or the wait on
  *    another thread building them — so each memo is charged only for its
  *    own work, even when many build at once.
  *
  * A build materializes what it returns (see [[Memo.materialize]]), so its
  * build seconds are the frames' real cost rather than plan construction,
  * and a consumer never pays a memo's build inside its own job.
  */
final class Memo[V](val name: String, frames: V => Seq[DataFrame])(
    build: (SparkSession, String) => V) {

  private var slot: Option[((SparkSession, String), V)] = None
  private val nBuilds = new AtomicLong
  private val nHits = new AtomicLong
  private val ownNanos = new AtomicLong

  def apply(s: SparkSession, d: String): V = {
    val t0 = System.nanoTime()
    val outer = Memo.nestedNanos.get
    Memo.nestedNanos.set(0L)
    try synchronized {
      slot match {
        case Some((key, v)) if key == ((s, d)) =>
          nHits.incrementAndGet()
          v
        case _ =>
          clear()
          val b0 = System.nanoTime()
          val v = build(s, d)
          ownNanos.addAndGet(System.nanoTime() - b0 - Memo.nestedNanos.get)
          nBuilds.incrementAndGet()
          slot = Some(((s, d), v))
          v
      }
    } finally Memo.nestedNanos.set(outer + (System.nanoTime() - t0))
  }

  /** Drops the slot and releases its frames' blocks. */
  def clear(): Unit = synchronized {
    slot.foreach { case (_, v) => frames(v).foreach(Memo.release) }
    slot = None
  }

  def builds: Long = nBuilds.get
  def hits: Long = nHits.get
  /** Total build seconds over all builds, net of nested memo calls. */
  def buildSeconds: Double = ownNanos.get / 1e9
}

object Memo {

  /** Time the current thread has spent inside memo calls nested in the
    * build it is running (reset per call, so it is per nesting level).
    */
  private val nestedNanos = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  private val registry = new CopyOnWriteArrayList[Memo[_]]()

  /** Every memo made with [[apply]] or [[frame]], in creation order. */
  def registered: Seq[Memo[_]] = registry.asScala.toSeq

  /** A registered memo whose value holds `frames`. */
  def apply[V](name: String, frames: V => Seq[DataFrame])(
      build: (SparkSession, String) => V): Memo[V] = {
    val m = new Memo(name, frames)(build)
    registry.add(m)
    m
  }

  /** A registered memo over one frame; the built frame is materialized. */
  def frame(name: String)(build: (SparkSession, String) => DataFrame): Memo[DataFrame] =
    apply[DataFrame](name, Seq(_))((s, d) => materialize(build(s, d)))

  /** Forces a `cache()`d frame's blocks. An eager `localCheckpoint` is
    * already materialized, and a plain frame has nothing to keep.
    */
  def materialize(df: DataFrame): DataFrame = {
    if (df.storageLevel != StorageLevel.NONE) df.count()
    df
  }

  private def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
    else df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
