package graft.core

import org.apache.spark.sql.SparkSession

/**
 * Single place that constructs a correctly-configured engine session — the
 * config the whole library assumes (UTC session time, nanos-as-long parquet
 * reads for the events table, AQE on, shuffle partitions sized to the
 * executor count, a codegen cache that holds the engine's working set).
 * Mirrors the reference's one-time server config
 * (apache/ozone OzoneConfiguration) rather than scattering conf mutations
 * through table loaders.
 *
 * Scale notes: on a real cluster `shufflePartitions` should be ~2-3× total
 * cores (AQE coalesces the excess); locally we pin it to the thread count so
 * tiny test shuffles don't fragment into hundreds of empty tasks.
 *
 * Codegen cache: Spark keeps compiled whole-stage classes in one JVM-wide
 * LRU cache (`spark.sql.codegen.cache.maxEntries`, default 100), sized once,
 * when `CodeGenerator` is first used, so only this builder can set it. One
 * Recon refresh cycle (a CDC delta, the three view reads, the six namespace
 * rollups) generates about 200 distinct classes, and a whole perfbench
 * `recon_refresh` run (set-up, warm-up, passes) 255. With the default, every
 * class was evicted before its next use and each warm cycle ran about 200
 * Janino compiles (17-33 ms each); with [[CodegenCacheEntries]] it runs
 * none; Metaspace after a run is unchanged (about 179 MB). The cache key is the
 * generated source, and by default a whole-stage class is named after its
 * codegen stage id, which AQE assigns in the order query stages get
 * planned. Two independent stages of one query (`q_pending_deletion`'s two
 * global sums) can swap ids between runs, so the same pipeline recompiled
 * under the other name; `useIdInClassName=false` names every such class
 * `GeneratedIterator` (the id stays in a comment of the source), and the
 * same pipeline hits whatever id it gets.
 */
object GraftSession {

  /** Codegen cache entries: about 4× the 255 classes a `recon_refresh` run
    * compiles, so a cycle's working set stays resident. */
  val CodegenCacheEntries = 1000

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  /** Local session with `cpus` threads (the CI/bench shape). */
  def local(cpus: Int): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
