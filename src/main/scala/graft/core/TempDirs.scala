package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Temp-dir factory and artifact memo for the per-JVM derived warehouses
 * (key-sorted runs, FSO tables, snapshot checkpoints, CDC logs, index
 * artifacts). Every dir registers a JVM shutdown hook for deletion —
 * repeated sbt invocations (tests, verify, bench) used to leave hundreds
 * of orphaned `/tmp/graft_*` dirs behind per round.
 *
 * The memo is the one owner of every materialized artifact, the engine's
 * analog of the OM metadata store owning its derived tables: an artifact
 * is built ONCE per JVM per (kind, source) into a fresh `graft_<kind>_`
 * dir, and only its PATH is kept, so every session — including one
 * created after an earlier session was stopped — re-reads it from disk
 * and nothing stays pinned in the block cache.
 */
object TempDirs {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[String]

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    created.forEach { p =>
      try graft.streaming.ChangeStream.deleteRecursively(
        java.nio.file.Paths.get(p))
      catch { case _: Throwable => () } // best-effort cleanup
    }
  }))

  def create(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    created.add(p)
    p
  }

  // One lock per key: first touches of the SAME key wait for one build,
  // different keys build concurrently, and a build may nest others (the
  // replayed views build their CDC log; index artifacts read memoized
  // tables). A failed build leaves the path unset, so the next caller —
  // with its own, live session — retries.
  private final class Slot { var path: String = _ }
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Slot]

  /** The artifact dir for (kind, source): on first touch in this JVM,
    * `build` fills a fresh `graft_<kind>_` dir; later calls return it. */
  def artifact(kind: String, source: String)(build: String => Unit): String = {
    val slot = slots.computeIfAbsent((kind, source), _ => new Slot)
    slot.synchronized {
      if (slot.path == null) {
        val out = create(s"graft_${kind}_")
        build(out)
        slot.path = out
      }
      slot.path
    }
  }

  /** [[artifact]] for a single parquet table: `build` is written once per
    * (kind, source) and re-read in the caller's session. */
  def parquet(spark: SparkSession, kind: String, source: String)
             (build: => DataFrame): DataFrame =
    spark.read.parquet(
      artifact(kind, source)(build.write.mode("overwrite").parquet(_)))
}
