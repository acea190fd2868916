package graft.core

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

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
 * dir, and only its PATH is kept. Every session — including one created
 * after an earlier session was stopped — resolves its relation once per
 * session ([[read]]); data is still scanned from disk, and nothing is
 * pinned in the block cache.
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

  // One lock per key: first touches of the SAME key wait for one `make`,
  // different keys run concurrently, and a `make` may nest others (the
  // replayed views build their CDC log; index artifacts read memoized
  // tables). `make` runs outside `computeIfAbsent`, and a failed one
  // leaves the value unset, so the next caller — with its own, live
  // session — retries.
  private final class Slot[V <: AnyRef] { var value: V = _ }

  private def once[K, V <: AnyRef](slots: ConcurrentHashMap[K, Slot[V]],
                                   key: K)(make: => V): V = {
    val slot = slots.computeIfAbsent(key, _ => new Slot[V])
    slot.synchronized {
      if (slot.value == null) slot.value = make
      slot.value
    }
  }

  private val artifacts = new ConcurrentHashMap[(String, String), Slot[String]]

  /** The artifact dir for (kind, source): on first touch in this JVM,
    * `build` fills a fresh `graft_<kind>_` dir; later calls return it. */
  def artifact(kind: String, source: String)(build: String => Unit): String =
    once(artifacts, (kind, source)) {
      val out = create(s"graft_${kind}_")
      build(out)
      out
    }

  private val collected = new ConcurrentHashMap[(String, String), Slot[AnyRef]]

  /** A driver-side value `make` derives from the artifact of (kind,
    * source), e.g. a control-plane catalog as a Scala set: made on first
    * touch in this JVM, then returned as is, like the artifact it comes
    * from, which never changes once built. */
  def collect[V <: AnyRef](kind: String, source: String)(make: => V): V =
    once(collected, (kind, source))(make).asInstanceOf[V]

  private val relations =
    new ConcurrentHashMap[(SparkSession, String), Slot[BaseRelation]]

  /** A parquet artifact under `path` as a table of `spark`. The first call
    * per (session, path) lists the files and infers the schema (a Spark
    * job); every call returns a fresh relation node over that resolved
    * relation, with fresh exprIds, so self-joins and plans are as with
    * `spark.read.parquet`. Only for dirs [[artifact]] owns: they never
    * change once built. A stopped session's entries are dropped. */
  def read(spark: SparkSession, path: String): DataFrame = {
    relations.keySet.removeIf(_._1.sparkContext.isStopped)
    val rel = once(relations, (spark, path)) {
      spark.read.parquet(path).queryExecution.analyzed
        .collectFirst { case l: LogicalRelation => l.relation }.get
    }
    spark.baseRelationToDataFrame(rel)
  }

  /** Sessions holding resolved relations (for the memo's lifetime spec). */
  private[graft] def sessionsHeld: Set[SparkSession] =
    relations.keySet.asScala.map(_._1).toSet

  /** [[artifact]] for a single parquet table: `build` is written once per
    * (kind, source) and [[read]] in the caller's session. */
  def parquet(spark: SparkSession, kind: String, source: String)
             (build: => DataFrame): DataFrame =
    read(spark, artifact(kind, source)(build.write.mode("overwrite").parquet(_)))
}
