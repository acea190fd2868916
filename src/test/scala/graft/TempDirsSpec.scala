package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import graft.core.{Tables, TempDirs}
import graft.streaming.ChangeStream

/** The artifact memo: every derived warehouse is built once per JVM per
  * (kind, source), and its relation is resolved once per session that
  * reads it. */
class TempDirsSpec extends SparkSpecBase {

  // a fresh source per test: the memo is JVM-wide, so tests never share
  // (or pre-warm) an entry
  private def source(tag: String) = s"tempdirs-spec-$tag-${System.nanoTime}"

  private def writeText(dir: String, text: String): Unit =
    Files.writeString(Paths.get(dir, "x"), text)
  private def readText(dir: String): String =
    Files.readString(Paths.get(dir, "x"))

  test("a parquet artifact builds once per (kind, source), even across a " +
    "stopped and recreated session") {
    val src = source("session")
    val builds = new AtomicInteger
    def read(s: SparkSession) =
      TempDirs.parquet(s, "spec", src) {
        builds.incrementAndGet(); s.range(5).toDF("id")
      }
    val first = SparkSpecBase.spark
    assert(read(first).count() === 5)
    assert(read(first).count() === 5)
    first.stop()
    val second = SparkSpecBase.spark
    assert(second ne first)
    assert(rows(read(second).orderBy("id")) === (0L until 5L).map(Seq(_)))
    assert(builds.get === 1)
  }

  test("a build may nest another artifact's build") {
    val src = source("nested")
    val outer = TempDirs.artifact("outer", src) { out =>
      val in = TempDirs.artifact("inner", src)(writeText(_, "inner"))
      writeText(out, readText(in) + "+outer")
    }
    assert(readText(outer) === "inner+outer")
    assert(readText(TempDirs.artifact("inner", src)(_ => fail("rebuilt"))) ===
      "inner")
    // the engine's own nested shape: the replayed views build the CDC log
    val s = SparkSpecBase.spark
    val sf = "/root/testdata/sf0.001"
    val work = ChangeStream.replayedWorkDir(s, Tables.objectsMixed(s, sf), sf)
    assert(ChangeStream.countsView(s, work).count() === 1)
    assert(Files.isDirectory(Paths.get(
      ChangeStream.cdcLogDir(s, Tables.objectsMixed(s, sf), sf))))
  }

  test("four threads that first-touch one key cause one build") {
    val src = source("race")
    val builds = new AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val paths = (1 to 4).map(_ => Future {
        start.await()
        TempDirs.artifact("race", src) { out =>
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build while the others arrive
          writeText(out, "built")
        }
      })
      start.countDown()
      val got = Await.result(Future.sequence(paths), 60.seconds)
      assert(builds.get === 1)
      assert(got.toSet.size === 1)
      assert(readText(got.head) === "built")
    } finally pool.shutdown()
  }

  test("distinct kinds get distinct graft_<kind>_ dirs") {
    val src = source("kinds")
    val a = TempDirs.artifact("ka", src)(writeText(_, "a"))
    val b = TempDirs.artifact("kb", src)(writeText(_, "b"))
    assert(a !== b)
    assert(Paths.get(a).getFileName.toString.startsWith("graft_ka_"))
    assert(Paths.get(b).getFileName.toString.startsWith("graft_kb_"))
    assert(readText(a) === "a" && readText(b) === "b")
  }

  test("a failed build leaves no entry: the next caller builds") {
    val src = source("retry")
    intercept[IllegalStateException] {
      TempDirs.artifact("retry", src)(_ => throw new IllegalStateException)
    }
    assert(readText(TempDirs.artifact("retry", src)(writeText(_, "ok"))) ===
      "ok")
  }

  // ---- TempDirs.read: one resolved relation per (session, path) ----------

  private def ids(s: SparkSession, tag: String, n: Int): String =
    TempDirs.artifact("read", source(tag))(
      s.range(n).toDF("id").write.mode("overwrite").parquet(_))

  private def relationOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation }.get

  test("a second read of an artifact in one session starts no Spark job") {
    val s = SparkSpecBase.spark
    val path = ids(s, "jobs", 7)
    val (first, firstJobs) = jobsStarted(s)(_ => TempDirs.read(s, path))
    assert(firstJobs >= 1) // the listing + schema inference the memo saves
    val (second, secondJobs) = jobsStarted(s)(_ => TempDirs.read(s, path))
    assert(secondJobs === 0)
    assert(rows(second.orderBy("id")) === rows(first.orderBy("id")))
    assert(rows(second.orderBy("id")) === (0L until 7L).map(Seq(_)))
  }

  test("two reads of one artifact self-join: each has fresh exprIds") {
    val s = SparkSpecBase.spark
    val path = ids(s, "selfjoin", 6)
    val a = TempDirs.read(s, path)
    val b = TempDirs.read(s, path).filter(col("id") % 2 === 0)
    val joined = a.join(b, a("id") === b("id")).select(a("id"), b("id"))
    assert(rows(joined.orderBy(a("id"))) ===
      Seq(0L, 2L, 4L).map(i => Seq(i, i)))
  }

  test("a stopped session's relations are dropped; a recreated session " +
    "resolves afresh") {
    val path = ids(SparkSpecBase.spark, "lifetime", 4)
    val first = SparkSpecBase.spark
    val before = TempDirs.read(first, path)
    assert(TempDirs.sessionsHeld.contains(first))
    first.stop()
    val second = SparkSpecBase.spark
    assert(second ne first)
    val after = TempDirs.read(second, path)
    assert(!TempDirs.sessionsHeld.contains(first))
    assert(TempDirs.sessionsHeld.contains(second))
    assert(relationOf(after) ne relationOf(before))
    assert(rows(after.orderBy("id")) === (0L until 4L).map(Seq(_)))
  }

  test("four threads that first-touch one path resolve it once") {
    val s = SparkSpecBase.spark
    // one resolution's job count, on a same-shape artifact
    val solo = ids(s, "solo", 8)
    val (_, once) = jobsStarted(s)(_ => TempDirs.read(s, solo))
    val path = ids(s, "readrace", 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val (dfs, jobs) = jobsStarted(s) { group =>
        val reads = (1 to 4).map(_ => Future {
          s.sparkContext.setJobGroup(group, group)
          start.await()
          try TempDirs.read(s, path) finally s.sparkContext.clearJobGroup()
        })
        start.countDown()
        Await.result(Future.sequence(reads), 60.seconds)
      }
      assert(jobs === once)
      val rels = dfs.map(relationOf)
      assert(rels.forall(_ eq rels.head))
      dfs.foreach(df => assert(df.count() === 8))
    } finally pool.shutdown()
  }
}
