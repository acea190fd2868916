package graft

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
}
