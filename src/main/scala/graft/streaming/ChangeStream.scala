package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * Structured-Streaming incremental aggregate maintenance over the CDC log —
 * the engine's Recon task layer (apache/ozone
 * FileSizeCountTaskHelper.java:206-299 ±delta maintenance with batch flush,
 * OmTableInsightTask.java global counts, ReconTaskSchemaDefinition.java:59
 * last-applied-seq checkpoint).
 *
 * Design (Spark-first):
 *   - source: parquet file stream over the seq#-ordered log, drained in
 *     bounded micro-batches (`maxFilesPerTrigger` + Trigger.AvailableNow) —
 *     the dual of Recon's event-buffer drain;
 *   - each micro-batch folds to ±delta rows (PUT = +1/+size, DELETE =
 *     -1/-size), one row per view key, and APPENDS them to the view as one
 *     run: a view's state is one base dir plus at most [[MaxRuns]] runs, an
 *     LSM shape (the reference keeps NSSummary in RocksDB, an LSM store).
 *     Readers fold base ∪ runs by summing per key. Deltas are commutative
 *     integers, so replay order within a batch is irrelevant and
 *     cross-batch out-of-order (a DELETE draining before its PUT) nets out
 *     correctly;
 *   - exactly-once: Structured Streaming checkpoints the source offsets;
 *     the manifest name additionally records the last applied batchId and
 *     a recovery replay of an applied batch is skipped — the analog of the
 *     reference's last-applied-seq# guard;
 *   - reprocess: [[bootstrapViews]] rebuilds every view from the whole log
 *     in one batch aggregate per view (FileSizeCountTaskHelper.java:80-160)
 *     and maintenance resumes with deltas.
 *
 * Scale: a micro-batch costs O(|delta|) writes — one small file per view,
 * whatever namespaces it touches (the reference's flush writes only the
 * touched keys too, FileSizeCountTaskHelper.java:257-299). Every
 * ([[MaxRuns]]+1)-th publish instead folds base ∪ runs ∪ delta into a new
 * base, O(state); amortised that is O(state)/[[MaxRuns]] per batch. A read
 * folds at most [[MaxRuns]] runs into the base; the log itself is never
 * re-read.
 */
object ChangeStream {

  // ---- state table I/O ----------------------------------------------------
  //
  // Layout per state dir; every stored name is relative to the state dir,
  // so a copied state dir reads the same:
  //   v<batchId>/part-*.parquet   a base (whole folded state) or a ±delta run
  //   manifest-v<batchId>         the base's dir name, then one run dir a line
  //   current                     name of the live manifest
  // A micro-batch writes its folded delta into a new v<batchId> dir and
  // publishes a manifest listing the old base and runs plus the new run;
  // no existing file is rewritten. The `current` pointer flip is the single
  // atomic commit; its target name encodes the applied batchId, so there is
  // no crash window in which the state is flipped but the watermark isn't.
  // Dirs listed by neither the live nor the previous manifest are deleted
  // after the flip — disk stays O(|state| + MaxRuns·|delta|), not
  // O(batches).

  /** Runs a view holds before the next publish folds base ∪ runs ∪ delta
    * into a new base. 8 keeps a view read at ≤ 9 paths, under Spark's
    * 32-path parallel-listing threshold
    * (spark.sql.sources.parallelPartitionDiscovery.threshold), so no read
    * starts a listing job, and bounds the read fold to 8 delta-sized runs
    * over the base. */
  val MaxRuns = 8

  /** A view's live state: the base dir and its ±delta runs, oldest first,
    * each named relative to the state dir (empty before the first
    * publish). */
  private[graft] final case class Manifest(base: Option[String],
                                           runs: Seq[String]) {
    def paths: Seq[String] = base.toSeq ++ runs
  }

  /** Last applied batchId, parsed from the `current` pointer's target name
    * (`manifest-v<N>`). */
  private def lastBatch(dir: String): Long = {
    val cur = Paths.get(dir, "current")
    if (!Files.exists(cur)) -1L
    else Files.readString(cur).trim.stripPrefix("manifest-v").toLong
  }

  /** The live manifest (empty before the first publish). */
  private[graft] def readManifest(dir: String): Manifest = {
    val cur = Paths.get(dir, "current")
    val mf =
      if (Files.exists(cur)) Some(Paths.get(dir, Files.readString(cur).trim))
      else None
    mf.filter(Files.exists(_)) match {
      case None => Manifest(None, Nil)
      case Some(p) =>
        import scala.jdk.CollectionConverters._
        val lines = Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
        Manifest(lines.headOption, lines.drop(1))
    }
  }

  private def emptyDf(spark: SparkSession, schema: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  /** Every row the manifest lists, unfolded: a key may repeat across the
    * base and the runs. */
  private def readPaths(spark: SparkSession, dir: String, v: View,
                        m: Manifest): DataFrame =
    if (m.paths.isEmpty) emptyDf(spark, v.schema)
    else spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(v.schema))
      .parquet(m.paths.map(p => s"$dir/$p"): _*)

  /** Sum the ±delta columns per view key (keeping zero/negative rows — a
    * transient out-of-order DELETE nets to 0 later). */
  private def fold(rows: DataFrame, v: View): DataFrame =
    rows.groupBy(v.keys.map(col): _*)
      .agg(sum(v.sums.head).as(v.sums.head), v.sums.tail.map(c => sum(c).as(c)): _*)

  /** A view's state, one row per key: the base alone when the manifest
    * lists no runs, else base ∪ runs folded. The fold range-partitions on
    * the view key, so the ORDER BY each view reader ends with reuses that
    * exchange instead of planning its own. */
  private def readView(spark: SparkSession, workDir: String, v: View): DataFrame = {
    val dir = s"$workDir/${v.dir}"
    val m = readManifest(dir)
    val rows = readPaths(spark, dir, v, m)
    if (m.runs.isEmpty) rows
    else fold(rows.repartitionByRange(v.keys.map(col): _*), v)
  }

  /** Publish `delta` (the folded ±delta of view `v` for `batchId`) over
    * the state `prev`: into an empty state it is the base; else it becomes
    * one more run, unless the view already holds [[MaxRuns]] runs — then
    * base ∪ runs ∪ delta fold into a new base. Writes the manifest, flips
    * the `current` pointer, then drops dirs and manifests listed by
    * neither the new nor the previous manifest (the previous one is kept
    * for crash recovery). */
  private def publish(spark: SparkSession, dir: String, v: View,
                      delta: DataFrame, batchId: Long, prev: Manifest): Unit = {
    val name = s"v$batchId"
    val (out, next) =
      if (prev.base.isEmpty) (delta, Manifest(Some(name), Nil))
      else if (prev.runs.size < MaxRuns)
        // one file: a run is one micro-batch's delta, bounded by the trigger
        (delta.coalesce(1), prev.copy(runs = prev.runs :+ name))
      else (fold(readPaths(spark, dir, v, prev).unionByName(delta), v),
        Manifest(Some(name), Nil))
    out.write.mode("overwrite").parquet(s"$dir/$name")
    val mf = s"manifest-v$batchId"
    Files.writeString(Paths.get(dir, mf), next.paths.mkString("\n"))
    val tmp = Paths.get(dir, "current.tmp")
    Files.writeString(tmp, mf)
    Files.move(tmp, Paths.get(dir, "current"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    retain(dir, keepDirs = (prev.paths ++ next.paths).toSet)
  }

  private def listDir(p: java.nio.file.Path): Array[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.toArray(new java.util.function.IntFunction[Array[java.nio.file.Path]] {
      def apply(n: Int): Array[java.nio.file.Path] = new Array[java.nio.file.Path](n)
    }) finally s.close()
  }

  /** Delete v* dirs not in keepDirs and all but the two most recent
    * manifest-v* files (current + previous, for crash recovery).
    *
    * Read-snapshot window: a DataFrame planned from a manifest reads dirs
    * that stay live until the publish AFTER the compaction that folds them
    * away — at least one further publish, at most [[MaxRuns]] + 1. A lazy
    * reader held longer can hit FileNotFound; long-lived readers should
    * re-plan from the current manifest (the view accessors below do this
    * on every call). */
  private def retain(dir: String, keepDirs: Set[String]): Unit = {
    val children = listDir(Paths.get(dir))
    val manifests = children.map(_.getFileName.toString)
      .filter(_.startsWith("manifest-v"))
      .sortBy(n => n.stripPrefix("manifest-v").toLong)
    val liveManifests = manifests.takeRight(2).toSet
    children.foreach { c =>
      val name = c.getFileName.toString
      val stale =
        (name.startsWith("v") && name.drop(1).forall(_.isDigit) &&
          !keepDirs.contains(name)) ||
        (name.startsWith("manifest-v") && !liveManifests.contains(name))
      if (stale) deleteRecursively(c)
    }
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
    ()
  }

  val FileSizeSchema =
    "volume STRING, bucket STRING, size_bin BIGINT, file_count BIGINT, total_size BIGINT"
  val CountsSchema = "entity STRING, cnt BIGINT, total_bytes BIGINT"
  val NsSummarySchema =
    "volume STRING, bucket STRING, dir STRING, num_files BIGINT, size_of_files BIGINT"

  /** ±delta fold of one event micro-batch for the file-size view
    * (FileSizeCountTaskHelper.java:206-264: PUT +1, DELETE -1 per bin). */
  def fileSizeDeltas(batch: DataFrame): DataFrame =
    batch
      .withColumn("size_bin", graft.operators.Aggregates.pow2Bin("data_size", 1024L))
      .withColumn("sgn", when(col("op") === "PUT", 1L).otherwise(-1L))
      .groupBy("volume", "bucket", "size_bin")
      .agg(sum(col("sgn")).as("file_count"),
        sum(col("sgn") * col("data_size")).as("total_size"))

  /** NSSummary ±delta fold: each event contributes to EVERY ancestor dir
    * of its key (the streamed dual of
    * NSSummaryTaskDbEventHandler.propagateSizeUpwards:426-459 — upward
    * propagation becomes a generator, not driver recursion), through the
    * batch rollup's own [[graft.operators.Aggregates.ancestorRollup]] with
    * signed measures: signs are linear, so its two-stage staging is exact. */
  def nsSummaryDeltas(batch: DataFrame): DataFrame = {
    val sgn = when(col("op") === "PUT", 1L).otherwise(-1L)
    graft.operators.Aggregates.ancestorRollup(batch,
      "num_files" -> sgn, "size_of_files" -> sgn * col("data_size"))
  }

  /** Global entity counts delta fold (OmTableInsightTask shape). */
  def countsDeltas(batch: DataFrame): DataFrame =
    batch
      .withColumn("sgn", when(col("op") === "PUT", 1L).otherwise(-1L))
      .groupBy(lit("keys").as("entity"))
      .agg(sum(col("sgn")).as("cnt"),
        sum(col("sgn") * col("data_size")).as("total_bytes"))


  /** One maintained view: its state dir under the work dir, its schema,
    * the key it folds on, the summed ±delta columns, and the ±delta fold
    * of an event batch. */
  private final case class View(dir: String, schema: String,
                                keys: Seq[String], sums: Seq[String],
                                deltas: DataFrame => DataFrame)

  private val FileSizeState = View("state_filesize", FileSizeSchema,
    Seq("volume", "bucket", "size_bin"), Seq("file_count", "total_size"),
    fileSizeDeltas)
  private val CountsState = View("state_counts", CountsSchema,
    Seq("entity"), Seq("cnt", "total_bytes"), countsDeltas)
  private val NsSummaryState = View("state_nssummary", NsSummarySchema,
    Seq("volume", "bucket", "dir"), Seq("num_files", "size_of_files"),
    nsSummaryDeltas)
  private val Views = Seq(FileSizeState, CountsState, NsSummaryState)

  // The three per-view publishes are independent (separate state dirs,
  // separate manifests) — submit them as CONCURRENT Spark jobs so a
  // micro-batch pays ~max(view publish cost) instead of the sum.
  // EAGER val, not lazy: a lazy val initializes under the enclosing
  // object's monitor, so any caller holding that monitor while blocked in
  // awaitTermination would deadlock the stream thread's first merge.
  private val mergePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3,
        (r: Runnable) => { val t = new Thread(r, "graft-view-merge")
          t.setDaemon(true); t }))

  /** Run `f` once per view, concurrently, and wait for all of them. */
  private def eachView(f: View => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = mergePool
    Await.result(Future.sequence(Views.map(v => Future(f(v)))), Duration.Inf)
    ()
  }

  /** Publish one event micro-batch into all three maintained views;
    * `batchIdOf` supplies each view's batchId (the stream passes the
    * micro-batch id to all; out-of-band callers advance each view's own
    * watermark). A view that already applied its batchId is skipped. */
  private def mergeAllViews(spark: SparkSession, workDir: String,
                            b: DataFrame, batchIdOf: String => Long): Unit =
    eachView { v =>
      val dir = s"$workDir/${v.dir}"
      val id = batchIdOf(dir)
      if (id > lastBatch(dir)) // else a recovery replay: already applied
        publish(spark, dir, v, v.deltas(b), id, readManifest(dir))
    }

  /**
   * Apply ONE delta micro-batch to the three maintained views OUTSIDE the
   * streaming scaffold — the merge path alone, against whatever state the
   * work dir holds (each view advances to its own next batchId). Used to
   * measure steady-state merge cost and to drive merges from non-streaming
   * callers; [[replay]] goes through exactly the same merges.
   *
   * REFUSES a stream-managed work dir (one holding a streaming checkpoint):
   * out-of-band merges advance the per-view batchId watermarks past ids the
   * checkpointed stream would replay next, so a later stream resume on the
   * same dir would have its micro-batches silently discarded by the
   * idempotency guard. Delete the checkpoint first to hand a dir over from
   * streaming to batch-driven maintenance.
   */
  def applyDeltaBatch(spark: SparkSession, workDir: String,
                      batch: DataFrame): Unit = {
    require(!Files.exists(Paths.get(workDir, "ckpt")),
      s"applyDeltaBatch on stream-managed dir $workDir: a streaming " +
        "checkpoint exists; resuming that stream after out-of-band merges " +
        "would silently drop its micro-batches. Remove the checkpoint to " +
        "take over batch-driven maintenance.")
    val b = batch.persist()
    try mergeAllViews(spark, workDir, b, dir => lastBatch(dir) + 1)
    finally { b.unpersist(); () }
  }

  /**
   * Drain the whole CDC log through bounded micro-batches, maintaining both
   * views incrementally; returns after the stream runs dry
   * (Trigger.AvailableNow). Restart-safe: offsets live in `workDir/ckpt`,
   * applied batchIds in each state dir.
   */
  def replay(spark: SparkSession, logDir: String, workDir: String,
             filesPerBatch: Int = 2): Unit = {
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ChangeLog.Schema))
      .option("maxFilesPerTrigger", filesPerBatch)
      .parquet(logDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try mergeAllViews(spark, workDir, b, _ => batchId)
        finally b.unpersist()
        ()
      }
      .option("checkpointLocation", s"$workDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Read the maintained file-size view (positive bins only — fully-deleted
    * bins net to 0 and are not part of the logical view). */
  def fileSizeView(spark: SparkSession, workDir: String): DataFrame =
    readView(spark, workDir, FileSizeState)
      .filter(col("file_count") > 0)
      .orderBy("volume", "bucket", "size_bin")

  def countsView(spark: SparkSession, workDir: String): DataFrame =
    readView(spark, workDir, CountsState)
      .orderBy("entity")

  def nsSummaryView(spark: SparkSession, workDir: String): DataFrame =
    readView(spark, workDir, NsSummaryState)
      .filter(col("num_files") > 0)
      .orderBy("volume", "bucket", "dir")

  /** Batch reprocess (bootstrap): rebuild the file-size view from a full
    * net-state snapshot — FileSizeCountTaskHelper.java:80-160's reprocess. */
  def reprocessFileSize(netObjects: DataFrame): DataFrame =
    netObjects
      .withColumn("size_bin", graft.operators.Aggregates.pow2Bin("data_size", 1024L))
      .groupBy("volume", "bucket", "size_bin")
      .agg(count(lit(1)).as("file_count"), sum("data_size").as("total_size"))
      .orderBy("volume", "bucket", "size_bin")

  /**
   * Watermarked tumbling-window aggregation over an event stream — the
   * genuine Structured Streaming dual of Events.hourlyCounts (watermark
   * bounds state; late events beyond it are dropped, matching the
   * reference's ordered-WAL assumption where lateness cannot occur).
   * Drains `srcDir` (parquet events with ts_ms/event_type/value) with
   * AvailableNow and appends completed windows to `outDir`.
   */
  def hourlyCountsStream(spark: SparkSession, srcDir: String, outDir: String,
                         workDir: String): Unit = {
    val src = spark.readStream
      .schema(graft.operators.Events.EventsSchema)
      .option("maxFilesPerTrigger", 2)
      .parquet(srcDir)
    val agg = src
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))
      .select(unix_millis(col("window.start")).as("hour_start_ms"),
        col("event_type"), col("event_count"), col("value_cents"))
    val q = agg.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$workDir/ckpt_hourly")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // ---- one-shot replay per (JVM, source table dir): both maintained views
  // come out of a single stream drain, so q_stream_* queries share the work.

  /**
   * Bootstrap the three maintained views straight from the FULL log with
   * one batch aggregation per view, run concurrently — the
   * checkpoint-loss recovery path. A replay() drain pays per-micro-batch
   * fixed costs (stream scaffold, one run write per view, a compaction
   * every MaxRuns+1 batches) × the whole history; the delta folds are
   * linear, so folding the entire log once yields the same views
   * (including zero-net rows — the read fold keeps them too) at one job
   * per view. This is the availability
   * answer at scale: after losing a checkpoint, rebuild state in
   * O(one aggregation of the log), then stream deltas from the head —
   * the reference's Recon does exactly this (ReconOmTask reprocess()
   * full rebuild vs process() incremental).
   *
   * Each view's old state dir is deleted and its fold published as one
   * base dir at batchId 0; steady-state maintenance continues via
   * [[applyDeltaBatch]] (each view advances its own watermark). No
   * streaming checkpoint is created — a stream taking over the dir
   * starts fresh from its own offsets.
   */
  def bootstrapViews(spark: SparkSession, logDir: String,
                     workDir: String): Unit = {
    // NO persist of the log: each view's fold is one pass over the
    // columnar files it needs (a cache materialization of the whole
    // history would cost more than the three column-pruned re-scans and
    // pin executor memory the aggregations want)
    val log = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ChangeLog.Schema))
      .parquet(logDir)
    eachView { v =>
      val dir = s"$workDir/${v.dir}"
      deleteRecursively(Paths.get(dir)) // else retention keeps its later manifests
      publish(spark, dir, v, v.deltas(log), 0L, Manifest(None, Nil))
    }
  }

  /** The synthesized CDC log for a source dir, written ONCE per JVM — in
    * a real deployment the log is the system's durable INPUT (the OM's
    * DB-update stream); synthesizing it here is fixture creation, not
    * part of any bootstrap or recovery cost. */
  def cdcLogDir(spark: SparkSession, objects: DataFrame,
                sfDir: String): String =
    graft.core.TempDirs.artifact("cdclog", sfDir) { d =>
      ChangeLog.write(objects, s"$d/log", numFiles = 6)
    } + "/log"

  /** Synthesize the CDC log from `objects`, drain it through the stream once
    * per JVM per sfDir, and return the work dir holding the state tables. */
  def replayedWorkDir(spark: SparkSession, objects: DataFrame,
                      sfDir: String): String =
    graft.core.TempDirs.artifact("stream", sfDir) { work =>
      // batch backfill, not a replay() drain: same state (spec-gated
      // parity), one aggregation per view instead of per-batch merges ×
      // the whole history — the checkpoint-loss recovery shape
      bootstrapViews(spark, cdcLogDir(spark, objects, sfDir), work)
    }
}
