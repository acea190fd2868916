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
 *     -1/-size) and MERGEs into a parquet state table partitioned by
 *     (volume, bucket): only partitions PRESENT IN THE DELTA are read,
 *     re-aggregated, and rewritten; untouched partitions keep their
 *     existing files (a manifest maps each partition to its current leaf
 *     dir, and an atomic pointer flip publishes the new manifest). Deltas
 *     are commutative integers, so replay order within a batch is
 *     irrelevant and cross-batch out-of-order (a DELETE draining before
 *     its PUT) nets out correctly;
 *   - exactly-once: Structured Streaming checkpoints the source offsets;
 *     the state swap additionally records the last applied batchId and
 *     skips re-application on recovery (idempotent MERGE) — the analog of
 *     the reference's last-applied-seq# guard;
 *   - reprocess: [[reprocessFileSize]] rebuilds the view from a full
 *     snapshot in one batch aggregate (FileSizeCountTaskHelper.java:80-160)
 *     and the stream resumes from its checkpoint.
 *
 * Scale: state merge cost is O(|touched partitions| + |delta|) per batch —
 * the partitioned dual of the reference's touched-keys-only flush
 * (FileSizeCountTaskHelper.java:257-299 upsert batch). A batch touching a
 * few thousand keys in 3 buckets rewrites 3 partitions, never the
 * billion-row global state; the log itself is never re-read.
 */
object ChangeStream {

  // ---- state table I/O ----------------------------------------------------
  //
  // Layout per state dir:
  //   v<batchId>/__pk=<hex(volumebucket)>/part-*.parquet   data, partitioned
  //   manifest-v<batchId>                                        pk -> leaf dir, one per line
  //   current                                                    path of the live manifest
  // A micro-batch writes ONLY the partitions present in its delta into a new
  // v<batchId> dir, then publishes a manifest that maps touched partitions to
  // the new leaves and keeps every untouched partition pointing at its old
  // files. The `current` pointer flip is the single atomic commit; its target
  // name encodes the applied batchId, so there is no crash window in which
  // the state is flipped but the watermark isn't. Superseded version dirs
  // (referenced by neither the live nor the previous manifest) are deleted
  // after the flip — disk stays O(|state| + |last delta|), not O(batches).
  //
  // The partition key is hex-encoded so leaf dir names are filesystem-safe
  // without Hive escaping; data files keep the real volume/bucket columns.

  /** Hex partition key for (volume, bucket) — each component hex-encoded
    * SEPARATELY and joined with a non-hex '-', so no (volume, bucket) pair
    * can ever collide into another's physical partition (and the leaf name
    * needs no unprintable separator bytes). Spark `hex` emits uppercase,
    * matching [[pkOf]]. */
  private def pkCol: org.apache.spark.sql.Column =
    concat_ws("-", hex(encode(col("volume"), "UTF-8")),
      hex(encode(col("bucket"), "UTF-8")))

  /** Driver-side twin of [[pkCol]]. */
  private[graft] def pkOf(volume: String, bucket: String): String = {
    def h(x: String) = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X").mkString
    h(volume) + "-" + h(bucket)
  }

  /** Last applied batchId, parsed from the `current` pointer's target name
    * (`.../manifest-v<N>` or legacy `.../v<N>`). */
  private def lastBatch(dir: String): Long = {
    val cur = Paths.get(dir, "current")
    if (!Files.exists(cur)) -1L
    else Files.readString(cur).trim.split('/').last
      .stripPrefix("manifest-").stripPrefix("v").toLong
  }

  /** The live manifest: partition key -> leaf dir path (empty before the
    * first publish). A pre-manifest pointer targeting a version DIRECTORY
    * (legacy single-dir layout) reads as one whole-state partition. */
  private[graft] def readManifest(dir: String): Map[String, String] = {
    val cur = Paths.get(dir, "current")
    if (!Files.exists(cur)) Map.empty
    else {
      val mf = Paths.get(Files.readString(cur).trim)
      if (!Files.exists(mf)) Map.empty
      else if (Files.isDirectory(mf)) Map("LEGACY" -> mf.toString)
      else {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(mf).asScala.iterator
          .filter(_.nonEmpty)
          .map { line => val Array(pk, path) = line.split('\t'); pk -> path }
          .toMap
      }
    }
  }

  private def emptyDf(spark: SparkSession, schema: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  /** Read the full logical state (all partitions listed in the manifest). */
  private def readState(spark: SparkSession, dir: String, schema: String): DataFrame = {
    val paths = readManifest(dir).values.toSeq.sorted
    if (paths.isEmpty) emptyDf(spark, schema)
    else spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(paths: _*)
  }

  /** Read ONLY the given partitions of the state (partition pruning by
    * manifest lookup — never touches untouched partitions' files). */
  private def readStatePartitions(spark: SparkSession, dir: String,
                                  schema: String, pks: Seq[String]): DataFrame = {
    val manifest = readManifest(dir)
    val paths = pks.flatMap(manifest.get).sorted
    if (paths.isEmpty) emptyDf(spark, schema)
    else spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(paths: _*)
  }

  /** Publish `next` (carrying a `__pk` column; ONLY touched partitions) as
    * the state for `batchId`: write partitioned by __pk into a version dir,
    * write a manifest remapping touched partitions to the new leaves, flip
    * the `current` pointer, then drop version dirs and manifests referenced
    * by neither the new nor the previous manifest (the previous one is kept
    * for crash recovery). A legacy whole-state entry is dropped from the
    * new manifest (the caller migrated its rows into `next`) but its dir
    * survives one more publish via keepDirs, like any previous manifest. */
  private def publishPartitioned(next: DataFrame, dir: String,
                                 touched: Seq[String], batchId: Long): Unit = {
    val vdir = s"$dir/v$batchId"
    // co-locate each partition's rows in one task so every __pk leaf gets
    // ONE file instead of numShufflePartitions × numPk small files; size
    // the exchange to the touched-partition count — a steady-state batch
    // touching 2 namespaces runs a 2-task write, not a 32-task one
    next.repartition(math.max(1, touched.size), col("__pk"))
      .write.mode("overwrite").partitionBy("__pk").parquet(vdir)
    val prev = readManifest(dir)
    // only remap pks that actually produced a leaf — an over-approximated
    // touched hint (pk with neither old state nor delta rows for this
    // view) must not leave a manifest entry pointing at a missing dir
    val updated = (prev - "LEGACY") ++ touched
      .filter(pk => Files.exists(Paths.get(vdir, s"__pk=$pk")))
      .map(pk => pk -> s"$vdir/__pk=$pk")
    Files.createDirectories(Paths.get(dir))
    val mf = Paths.get(dir, s"manifest-v$batchId")
    Files.writeString(mf,
      updated.toSeq.sorted.map { case (pk, p) => s"$pk\t$p" }.mkString("\n"))
    val tmp = Paths.get(dir, "current.tmp")
    Files.writeString(tmp, mf.toString)
    Files.move(tmp, Paths.get(dir, "current"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    retain(dir, keepDirs = (prev.values ++ updated.values)
      .map(versionDirName).toSet)
  }

  /** Version-dir name a manifest path pins: a `__pk=` leaf pins its parent
    * version dir; a legacy whole-state path IS the version dir (taking its
    * parent would wrongly pin — and then delete — the state root's name). */
  private def versionDirName(p: String): String = {
    val path = Paths.get(p)
    if (path.getFileName.toString.startsWith("__pk="))
      path.getParent.getFileName.toString
    else path.getFileName.toString
  }

  /** Delete v* dirs not in keepDirs and all but the two most recent
    * manifest-v* files (current + previous, for crash recovery).
    *
    * Read-snapshot window: a DataFrame planned from a manifest stays
    * readable for the NEXT publish (its dirs are in keepDirs via the
    * previous manifest) but not beyond — a lazy reader held across TWO
    * further publishes can hit FileNotFound on its superseded dirs.
    * Long-lived readers should re-plan from the current manifest (the
    * view accessors below do this on every call). */
  private def listDir(p: java.nio.file.Path): Array[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.toArray(new java.util.function.IntFunction[Array[java.nio.file.Path]] {
      def apply(n: Int): Array[java.nio.file.Path] = new Array[java.nio.file.Path](n)
    }) finally s.close()
  }

  private def retain(dir: String, keepDirs: Set[String]): Unit = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return
    val children = listDir(root)
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

  /**
   * MERGE deltas into a (volume, bucket)-partitioned state: read ONLY the
   * state partitions present in the delta, union + re-aggregate on the view
   * key (keeping zero/negative rows — transient out-of-order nets to 0),
   * and publish a manifest in which untouched partitions keep their old
   * files untouched. The touched-partition list is a driver-side collect,
   * bounded by the number of distinct (volume, bucket) namespaces in one
   * micro-batch — thousands at most, never row-scale.
   */
  private def mergePartitioned(spark: SparkSession, stateDir: String,
                               deltas: DataFrame, batchId: Long,
                               schema: String, groupCols: Seq[String],
                               sumCols: Seq[String],
                               touchedPks: Seq[String],
                               pk: org.apache.spark.sql.Column = pkCol): Unit = {
    if (batchId <= lastBatch(stateDir)) return // recovery replay: already applied
    // touchedPks comes from the caller's ONE batch-level distinct — the
    // whole merge is then a single Spark job per view. The set may
    // over-approximate (a pk whose rows fold to no delta rows for THIS
    // view): publish drops pks that produced no leaf, and the extra state
    // read/rewrite of such a pk is correct, just unnecessary.
    if (touchedPks.isEmpty) return
    val d = deltas.withColumn("__pk", pk)
    val manifest = readManifest(stateDir)
    // A pre-partitioned (legacy single-dir) state cannot be merged
    // partition-wise: its rows live in one undivided dir the touched-pk
    // read would miss. MIGRATE on first merge: fold the WHOLE legacy
    // state in (persisted — the pk collect and the publish write each
    // scan it), remap every partition to new leaves, and let publish drop
    // the LEGACY entry (the old dir survives one publish for crash
    // recovery, then retention collects it).
    val legacyWhole =
      if (manifest.contains("LEGACY"))
        Some(readState(spark, stateDir, schema).withColumn("__pk", pk).persist())
      else None
    try {
      val (old, touched) = legacyWhole match {
        case Some(whole) =>
          val allPks = (whole.select("__pk").distinct()
            .collect().map(_.getString(0)) ++ touchedPks).distinct.toSeq
          (whole, allPks)
        case None =>
          (readStatePartitions(spark, stateDir, schema, touchedPks)
            .withColumn("__pk", pk), touchedPks)
      }
      val next = old.unionByName(d)
        .groupBy("__pk", groupCols: _*)
        .agg(sum(sumCols.head).as(sumCols.head),
          sumCols.tail.map(c => sum(c).as(c)): _*)
      publishPartitioned(next, stateDir, touched, batchId)
    } finally { legacyWhole.foreach(_.unpersist()); () }
  }

  /** NSSummary ±delta fold: each event contributes to EVERY ancestor dir
    * of its key (depth from the key, never a config; the streamed dual of
    * NSSummaryTaskDbEventHandler.propagateSizeUpwards:426-459 — upward
    * propagation becomes a generator, not driver recursion). Same
    * two-stage shape as the batch rollup: ±deltas first collapse onto
    * their immediate parent dir, then only the distinct leaf dirs explode
    * their ancestor chains — signs are linear, so the staging is exact. */
  def nsSummaryDeltas(batch: DataFrame): DataFrame =
    batch
      .withColumn("leaf", graft.operators.Aggregates.parentDirOf("key"))
      .filter(col("leaf") =!= "")
      .withColumn("sgn", when(col("op") === "PUT", 1L).otherwise(-1L))
      .groupBy("volume", "bucket", "leaf")
      .agg(sum(col("sgn")).as("nf"),
        sum(col("sgn") * col("data_size")).as("sz"))
      .withColumn("dir",
        explode(graft.operators.Aggregates.dirAndAncestors("leaf")))
      .groupBy("volume", "bucket", "dir")
      .agg(sum("nf").as("num_files"), sum("sz").as("size_of_files"))

  /** Global entity counts delta fold (OmTableInsightTask shape). */
  def countsDeltas(batch: DataFrame): DataFrame =
    batch
      .withColumn("sgn", when(col("op") === "PUT", 1L).otherwise(-1L))
      .groupBy(lit("keys").as("entity"))
      .agg(sum(col("sgn")).as("cnt"),
        sum(col("sgn") * col("data_size")).as("total_bytes"))


  // The three per-view merges are independent (separate state dirs, separate
  // manifests) — submit them as CONCURRENT Spark jobs so a micro-batch pays
  // ~max(view merge cost) instead of the sum; each view's merge is itself a
  // touched-partitions-only rewrite.
  // EAGER val, not lazy: a lazy val initializes under the enclosing
  // object's monitor, so any caller holding that monitor while blocked in
  // awaitTermination would deadlock the stream thread's first merge.
  private val mergePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3,
        (r: Runnable) => { val t = new Thread(r, "graft-view-merge")
          t.setDaemon(true); t }))

  /** Merge one event micro-batch into all three maintained views; `batchIdOf`
    * supplies each view's batchId (the stream passes the micro-batch id to
    * all; out-of-band callers advance each view's own watermark). */
  private def mergeAllViews(spark: SparkSession, workDir: String,
                            b: DataFrame, batchIdOf: String => Long): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = mergePool
    // ONE batch-level distinct feeds every view's touched set (the counts
    // view keys everything to the constant "00" partition) — each view's
    // merge then runs as a single Spark job instead of collect + write
    val batchPks = b.select(pkCol.as("__pk")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (batchPks.isEmpty) return
    val jobs = Seq(
      Future {
        val fs = s"$workDir/state_filesize"
        mergePartitioned(spark, fs, fileSizeDeltas(b), batchIdOf(fs),
          FileSizeSchema, Seq("volume", "bucket", "size_bin"),
          Seq("file_count", "total_size"), touchedPks = batchPks)
      },
      Future {
        val ct = s"$workDir/state_counts"
        mergePartitioned(spark, ct, countsDeltas(b), batchIdOf(ct),
          CountsSchema, Seq("entity"), Seq("cnt", "total_bytes"),
          touchedPks = Seq("00"), pk = lit("00"))
      },
      Future {
        val ns = s"$workDir/state_nssummary"
        mergePartitioned(spark, ns, nsSummaryDeltas(b), batchIdOf(ns),
          NsSummarySchema, Seq("volume", "bucket", "dir"),
          Seq("num_files", "size_of_files"), touchedPks = batchPks)
      })
    Await.result(Future.sequence(jobs), Duration.Inf)
    ()
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
    readState(spark, s"$workDir/state_filesize", FileSizeSchema)
      .filter(col("file_count") > 0)
      .orderBy("volume", "bucket", "size_bin")

  def countsView(spark: SparkSession, workDir: String): DataFrame =
    readState(spark, s"$workDir/state_counts", CountsSchema)
      .orderBy("entity")

  def nsSummaryView(spark: SparkSession, workDir: String): DataFrame =
    readState(spark, s"$workDir/state_nssummary", NsSummarySchema)
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
   * fixed costs (stream scaffold, per-batch state read/rewrite) × the
   * whole history; the delta folds are linear, so folding the entire log
   * once produces bit-identical state (including zero-net rows — the
   * merge keeps them too) at one job per view. This is the availability
   * answer at scale: after losing a checkpoint, rebuild state in
   * O(one aggregation of the log), then stream deltas from the head —
   * the reference's Recon does exactly this (ReconOmTask reprocess()
   * full rebuild vs process() incremental).
   *
   * States publish at batchId 0; steady-state maintenance continues via
   * [[applyDeltaBatch]] (each view advances its own watermark). No
   * streaming checkpoint is created — a stream taking over the dir
   * starts fresh from its own offsets.
   */
  def bootstrapViews(spark: SparkSession, logDir: String,
                     workDir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = mergePool
    // NO persist of the log: each view's fold is one pass over the
    // columnar files it needs (a cache materialization of the whole
    // history would cost more than the three column-pruned re-scans and
    // pin executor memory the aggregations want)
    val log = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ChangeLog.Schema))
      .parquet(logDir)
    val batchPks = log.select(pkCol.as("__pk")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (batchPks.isEmpty) return
    val jobs = Seq(
      Future { publishPartitioned(
        fileSizeDeltas(log).withColumn("__pk", pkCol),
        s"$workDir/state_filesize", batchPks, 0L) },
      Future { publishPartitioned(
        countsDeltas(log).withColumn("__pk", lit("00")),
        s"$workDir/state_counts", Seq("00"), 0L) },
      Future { publishPartitioned(
        nsSummaryDeltas(log).withColumn("__pk", pkCol),
        s"$workDir/state_nssummary", batchPks, 0L) })
    Await.result(Future.sequence(jobs), Duration.Inf)
    ()
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
