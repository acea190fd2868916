package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Snapshot-diff SST pruning over the compaction DAG — the reference's
 * `rocksdb-checkpoint-differ` subsystem. Given two snapshots' live SST-file
 * sets and the compaction log (which compactions consumed which input files
 * into which outputs), compute the minimal set of SSTs whose content differs
 * between the snapshots, so a snapshot diff reads only those files instead
 * of both full checkpoints.
 *
 * Reference semantics
 * (hadoop-hdds/rocksdb-checkpoint-differ/src/main/java/org/apache/ozone/rocksdiff/):
 *   - CompactionDag.java:66-81 — DAG edges run output → input: the
 *     "successors" of a file are the inputs of the compaction that produced
 *     it, i.e. walking successors walks BACK toward older content.
 *   - RocksDBCheckpointDiffer.internalGetSSTDiffList — BFS from the newer
 *     (src) snapshot's files: a file present in the older (dest) snapshot is
 *     SAME; a file the compaction log never mentions is DIFFERENT; a file
 *     whose node generation predates the dest snapshot is DIFFERENT (its
 *     content diverged before dest's horizon, cannot be matched further); a
 *     file with no successors (never an output of a tracked compaction) is
 *     DIFFERENT; otherwise expand into its compaction inputs and continue.
 *   - CompactionDag.java:42-47 / 66-74 — a node's generation is the seq of
 *     the first compaction-log entry mentioning it (entries arrive in seq
 *     order, so first-seen == min seq).
 *   - RocksDiffUtils.java:58-100 — both snapshots' file maps are pruned to
 *     the requested key range BEFORE the walk (an SST whose [start_key,
 *     end_key] doesn't overlap the diff's bucket prefix is irrelevant).
 *
 * Scale shape: every walk input is checkpoint/compaction METADATA — one row
 * per SST file ever mentioned, never per key — which the reference differ
 * itself materializes whole in driver heap (RocksDBCheckpointDiffer builds
 * its CompactionDag from the full compactionLogTable before walking). The
 * walk therefore collects the pruned file maps + edge list (bounded by SST
 * count) and runs the BFS in memory: one Spark scan per input instead of a
 * frontier join + isEmpty action per DAG level. A depth guard mirrors the
 * reference's traversal-level cap (a cycle in a corrupt log must fail
 * loudly, not spin — RocksDBCheckpointDiffer traversal guard).
 */
object CompactionDag {

  /** DAG levels are bounded by compaction depth (L0→L6 in practice); far
    * past this the log is cyclic/corrupt — fail like the reference does. */
  val MaxWalkDepth = 32

  /** Key-range pruning of a snapshot file map (RocksDiffUtils.java:58-76):
    * keep SSTs whose [start_key, end_key] overlaps [lo, hi]. */
  def pruneByRange(files: DataFrame, lo: String, hi: String): DataFrame =
    files.filter(col("end_key") >= lo && col("start_key") <= hi)

  /**
   * SstFilteringService per-bucket prune census — SstFilteringService
   * .java:219-243 walks every snapshot, asks RocksDatabase
   * .deleteFilesNotMatchingPrefix:872-907 to drop the SSTs whose key range
   * cannot contain the snapshot's bucket prefix: a LAST-LEVEL file is
   * prunable iff NOT `firstNChars(smallestKey, L) <= prefix <=
   * firstNChars(largestKey, L)` (RocksDiffUtils.java:42-49
   * isKeyWithPrefixPresent); files off the last level are never deleted.
   * One decision per (bucket, file), rolled up per bucket:
   *   - n_pruned     — last-level files outside the prefix range,
   *   - n_kept_range — files whose range admits the prefix,
   *   - n_kept_level — out-of-range files saved only by the level rule,
   *   - pruned_keys  — key entries the filtered snapshot DB sheds.
   *
   * Scale shape: the bucket catalog is a broadcast-sized dim crossed into
   * the file-metadata scan (files × buckets decisions, exactly the
   * reference's per-snapshot loop), then one shuffle on (volume, bucket)
   * for the rollup. The SST metadata table is ~|namespace|/500 rows —
   * control-plane-sized at any SF.
   */
  def sstBucketPrune(files: DataFrame, buckets: DataFrame): DataFrame = {
    val dim = buckets.select(col("volume"), col("bucket"))
      .withColumn("__prefix",
        concat(lit("/"), col("volume"), lit("/"), col("bucket"), lit("/")))
    files.crossJoin(broadcast(dim))
      .withColumn("__overlap", expr(
        "substr(smallest_key, 1, length(__prefix)) <= __prefix AND " +
          "__prefix <= substr(largest_key, 1, length(__prefix))"))
      .groupBy("volume", "bucket")
      .agg(
        count(lit(1)).as("n_files"),
        sum(when(col("level") === 3 && !col("__overlap"), 1L)
          .otherwise(0L)).as("n_pruned"),
        sum(when(col("__overlap"), 1L).otherwise(0L)).as("n_kept_range"),
        sum(when(col("level") =!= 3 && !col("__overlap"), 1L)
          .otherwise(0L)).as("n_kept_level"),
        sum(when(col("level") === 3 && !col("__overlap"), col("n_keys"))
          .otherwise(0L)).cast("long").as("pruned_keys"))
      .orderBy("volume", "bucket")
  }

  /**
   * The SST diff walk. `srcLive`/`destLive` carry (file, start_key,
   * end_key) for the newer/older snapshot respectively; `edges` is the
   * compaction log (output_file, input_file, seq); `destGen` is the older
   * snapshot's generation. Returns (file, cls) with cls ∈ {SAME,
   * DIFFERENT}: DIFFERENT is the pruned read set for the diff job, SAME is
   * content already covered by the dest checkpoint. Interior nodes (files
   * fully decomposed into their compaction inputs) are not emitted, exactly
   * like the reference's result maps.
   */
  def sstDiff(srcLive: DataFrame, destLive: DataFrame, edges: DataFrame,
              destGen: Long, lo: String, hi: String): DataFrame = {
    val spark = srcLive.sparkSession
    import spark.implicits._

    // ALL walk inputs are checkpoint/compaction METADATA — one row per SST
    // file, not per key. The reference differ holds the identical DAG in
    // driver heap (RocksDBCheckpointDiffer builds CompactionDag from the
    // whole compactionLogTable before any walk); collecting here is the
    // same control-plane bound, and it turns a 2·depth-job BFS (a Spark
    // job per level for frontier/isEmpty/checkpoint) into one in-memory
    // walk. Three bounded collects: src files, dest files, the edge list
    // (which also yields node gens in one pass).
    val src: Array[String] =
      pruneByRange(srcLive, lo, hi).select("file").as[String].collect()
    val dest: Set[String] =
      pruneByRange(destLive, lo, hi).select("file").as[String].collect().toSet
    val edgeRows: Array[(String, String, Long)] = edges
      .select(col("output_file"), col("input_file"), col("seq").cast("long"))
      .as[(String, String, Long)].collect()
    val gens = scala.collection.mutable.HashMap.empty[String, Long]
    for ((o, i, s) <- edgeRows) {
      gens.update(o, math.min(gens.getOrElse(o, Long.MaxValue), s))
      gens.update(i, math.min(gens.getOrElse(i, Long.MaxValue), s))
    }
    val inputsOf: Map[String, Array[String]] =
      edgeRows.groupBy(_._1).map { case (o, rs) => o -> rs.map(_._2) }

    val same = scala.collection.mutable.ArrayBuffer.empty[String]
    val diff = scala.collection.mutable.ArrayBuffer.empty[String]
    val visited = scala.collection.mutable.HashSet.empty[String]
    visited ++= src
    same ++= src.filter(dest)
    var frontier: Seq[String] = src.filterNot(dest)
    var depth = 0
    while (frontier.nonEmpty) {
      depth += 1
      if (depth > MaxWalkDepth)
        throw new IllegalStateException(
          s"compaction-DAG walk exceeded $MaxWalkDepth levels — cyclic or " +
            "corrupt compaction log (reference traversal guard)")
      val nexts = scala.collection.mutable.LinkedHashSet.empty[String]
      for (file <- frontier) {
        gens.get(file) match {
          // terminal: never compacted, or predates the dest horizon
          case None => diff += file
          case Some(g) if g < destGen => diff += file
          case _ =>
            inputsOf.get(file) match {
              // in the log but never an output: cannot decompose further
              case None => diff += file
              case Some(ins) =>
                for (in <- ins if !visited(in)) nexts += in
            }
        }
      }
      visited ++= nexts
      val (inDest, notInDest) = nexts.toSeq.partition(dest)
      same ++= inDest
      frontier = notInDest
    }
    (same.map(f => (f, "SAME")) ++ diff.map(f => (f, "DIFFERENT")))
      .toSeq.toDF("file", "cls").orderBy("cls", "file")
  }

  /**
   * Delta-source selection for a snapshot-diff job — the decision the
   * reference takes before any keys are read
   * (ozone-manager/.../snapshot/SnapshotDiffManager.java:1020-1021:
   * `useFullDiff = snapshotForceFullDiff || forceFullDiff`,
   * `performNonNativeDiff = diffDisableNativeLibs || disableNativeDiff ||
   * !isNativeLibsLoaded`; consumed by
   * snapshot/diff/delta/CompositeDeltaDiffComputer.java:73-117: the DAG
   * differ exists only when !useFullDiff, any differ failure falls back to
   * the full-diff computer, and a non-native job ADDS the from-snapshot's
   * whole SST set to the read list — the tombstone workaround — while
   * addToObjectIdMap (SnapshotDiffManager.java:1266-1269) picks the plain
   * key stream instead of the tombstone-aware one).
   *
   * Per job: the chosen source (`SST_FILE_DELTA_DAG_WALK` /
   * `SST_FILE_DELTA_FULL_DIFF` — the reference's SubStatus names), the
   * key-stream mode, and the resulting read-set sizes, sized against the
   * same range-pruned SST catalog + compaction DAG the q_sst_diff walk
   * reads (full diff = the TO snapshot's pruned file set,
   * FullDiffComputer.getSSTFileSetForSnapshot).
   *
   * Scale shape: three scalar aggregates over SST METADATA (one row per
   * file) broadcast-crossed into a literal job dim — no per-key work at
   * all; the decision is control-plane sized, exactly like the reference.
   */
  def snapdiffSourceSelect(srcLive: DataFrame, destLive: DataFrame,
                           edges: DataFrame, destGen: Long,
                           lo: String, hi: String): DataFrame = {
    val spark = srcLive.sparkSession
    // every gate of :1020-1021 plus the differ-failure fallback path
    val jobs = graft.core.Tables.snapdiffSourceJobRows.df(spark)
    val dagN = sstDiff(srcLive, destLive, edges, destGen, lo, hi)
      .filter(col("cls") === "DIFFERENT")
      .agg(count(lit(1)).as("dag_n"))
    val fullN = pruneByRange(srcLive, lo, hi).agg(count(lit(1)).as("full_n"))
    val fromN = pruneByRange(destLive, lo, hi).agg(count(lit(1)).as("from_n"))
    jobs
      .crossJoin(broadcast(dagN))
      .crossJoin(broadcast(fullN))
      .crossJoin(broadcast(fromN))
      .withColumn("use_full_diff",
        col("cfg_force_full") || col("req_force_full"))
      .withColumn("non_native",
        col("cfg_disable_native") || col("req_disable_native") ||
          !col("native_loaded"))
      .withColumn("delta_source",
        when(!col("use_full_diff") && col("dag_ok"),
          lit("SST_FILE_DELTA_DAG_WALK"))
          .otherwise(lit("SST_FILE_DELTA_FULL_DIFF")))
      .withColumn("read_mode",
        when(col("non_native"), lit("KEY_STREAM"))
          .otherwise(lit("KEY_STREAM_WITH_TOMBSTONE")))
      .withColumn("n_delta_files",
        when(col("delta_source") === "SST_FILE_DELTA_DAG_WALK",
          col("dag_n")).otherwise(col("full_n")))
      .withColumn("n_from_files_added",
        when(col("non_native"), col("from_n")).otherwise(lit(0L)))
      .withColumn("n_read_files",
        col("n_delta_files") + col("n_from_files_added"))
      .select("job_id", "use_full_diff", "non_native", "delta_source",
        "read_mode", "n_delta_files", "n_from_files_added", "n_read_files")
      .orderBy("job_id")
  }
}
