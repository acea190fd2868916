package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM-wide session — specs run in
  * the forked test JVM; creating a session per suite would dominate test
  * time). A spec that stops it (TempDirsSpec checks the artifact memo
  * across a stopped and recreated session) leaves the next caller a fresh
  * one. */
object SparkSpecBase {
  private var session: SparkSession = _
  def spark: SparkSession = synchronized {
    if (session == null || session.sparkContext.isStopped)
      session = graft.core.GraftSession.local(4)
    session
  }
}

abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.spark

  /** Collect to a seq of plain value-seqs (column order preserved). */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Persisted Datasets the session's CacheManager holds. Its counter is
    * `private[sql]` to Scala callers, public in bytecode. */
  def cachedEntries(s: SparkSession): Int = {
    val cm = s.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  /** Runs `body` in a fresh job group and counts the Spark jobs started in
    * it. The calling thread has joined the group; `body` gets its id so
    * other threads can join with `setJobGroup`. A fence job after `body`
    * makes sure the listener has seen every earlier job: the listener bus
    * delivers events in order. */
  def jobsStarted[A](s: SparkSession)(body: String => A): (A, Int) = {
    val sc = s.sparkContext
    val group = s"spec-jobs-${System.nanoTime}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body(group) finally sc.clearJobGroup()
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus fence")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
