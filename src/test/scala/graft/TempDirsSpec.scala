package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.core.{Tables, TempDirs}
import graft.streaming.ChangeStream

/** The artifact memo: every derived warehouse is built once per JVM per
  * (kind, source) and re-read, by path, in whichever session asks. */
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
    def read(s: org.apache.spark.sql.SparkSession) =
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
}
