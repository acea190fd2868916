package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/**
 * Recon unhealthy-containers CSV export job manager — the async export
 * ladder of `recon/.../api/ExportJobManager.java` and the
 * `/containers/unhealthy/export` routes of
 * `recon/.../api/ContainerEndpoint.java:522-661`:
 *
 *  - submit (`ExportJobManager.submitJob:131-170`): the state param is
 *    validated against `ContainerSchemaDefinition.UnHealthyContainerStates`
 *    first (`ContainerEndpoint.startExport:552-558` → 400 INVALID_STATE);
 *    then, under one queue lock, a job whose state already has a tracked
 *    job in QUEUED / RUNNING / COMPLETED is refused (DUPLICATE_STATE —
 *    FAILED jobs do NOT block resubmission, :146-153); then the queue
 *    capacity check (`jobQueue.size() >= maxQueueSize` → QUEUE_FULL,
 *    :155-158; the queue holds QUEUED jobs only — a RUNNING job was
 *    dequeued by `executeExport:252-255`); an accepted job reports its
 *    1-indexed queue position = queue size after insert (:160-163).
 *  - status (`getExportStatus:580-597`): unknown id → NOT_FOUND; a QUEUED
 *    job carries its live queue position (`getQueuePosition:184-199`,
 *    insertion order), every other status reports position 0.
 *  - download (`downloadExport:605-655`): unknown id → NOT_FOUND; not yet
 *    COMPLETED → NOT_COMPLETED (409); the per-job download budget
 *    (`ExportJob.tryReserveDownload` CAS, maxDownloads) exhausted →
 *    LIMIT_REACHED (429); else DOWNLOAD_OK with the remaining budget
 *    after this reservation.
 *  - cancel (`cancelJob:206-241`): unknown id → NOT_FOUND; QUEUED/RUNNING
 *    jobs are cancelled (future.cancel + FAILED "Cancelled by user");
 *    COMPLETED/FAILED jobs are deleted with their TAR file. Both rungs
 *    evict the job from the tracker.
 *
 * The fold evaluates a request batch against one tracker snapshot (the
 * lock makes real submissions sequential; nothing dequeues mid-batch
 * because the single worker is busy). In-batch interactions that ARE
 * modeled: a later submit of a state an earlier batch submit ACCEPTED is
 * DUPLICATE_STATE; one whose earlier twin was refused QUEUE_FULL is
 * refused QUEUE_FULL again (a refused job is never tracked, and fullness
 * is monotone within the batch); capacity consumed by earlier accepted
 * submits counts against later ones (a running count in request order).
 *
 * Scale shape: pure control-plane — two literal fixtures, broadcast
 * joins, and windows over the ≤ dozens-of-rows request batch (the
 * no-partition windows run over the bounded batch, never data-plane
 * rows).
 */
object ReconJobs {
  def exportJobLadder(spark: SparkSession,
                      maxQueueSize: Int = 3,
                      maxDownloads: Int = 2): DataFrame =
    exportJobLadderOver(Tables.exportJobTrackedRows.df(spark),
      Tables.exportJobRequestRows.df(spark), maxQueueSize, maxDownloads)

  /** Ladder body over caller-supplied tracker snapshot + request batch —
    * the property census drives this with randomized fixtures. */
  def exportJobLadderOver(tracked: DataFrame, reqs: DataFrame,
                          maxQueueSize: Int,
                          maxDownloads: Int): DataFrame = {
    val spark = tracked.sparkSession
    val valid = Tables.exportJobValidStateRows.df(spark)

    // snapshot facts: QUEUED-only queue size + per-QUEUED-job position
    val q0 = tracked.filter(col("status") === "QUEUED").count()
    val queuePos = tracked.filter(col("status") === "QUEUED")
      .withColumn("qpos",
        row_number().over(Window.partitionBy(lit(0)).orderBy("job_idx")))
      .select(col("job_id").as("arg"), col("qpos"))
    val activeStates = tracked
      .filter(col("status").isin("QUEUED", "RUNNING", "COMPLETED"))
      .select(col("state").as("arg"), lit(1).as("dup_tracked")).distinct()

    val base = reqs
      .join(broadcast(valid.select(col("vstate").as("arg"),
        lit(1).as("is_valid"))), Seq("arg"), "left")
      .join(broadcast(activeStates), Seq("arg"), "left")
      .join(broadcast(tracked.select(col("job_id").as("arg"), col("status"),
        col("download_count"))), Seq("arg"), "left")
      .join(broadcast(queuePos), Seq("arg"), "left")

    // submit rungs: candidate = valid new state, first occurrence in the
    // batch; running candidate count in request order drives capacity
    val wBatchState = Window.partitionBy(col("op"), col("arg"))
      .orderBy("req_id")
    val wRun = Window.partitionBy(col("op")).orderBy("req_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val submits = base.filter(col("op") === "SUBMIT")
      .withColumn("is_cand", col("is_valid") === 1 &&
        col("dup_tracked").isNull &&
        row_number().over(wBatchState) === 1)
      .withColumn("k", sum(when(col("is_cand"), 1L).otherwise(0L))
        .over(wRun))
      .withColumn("accepted", col("is_cand") && lit(q0) + col("k")
        <= maxQueueSize)
    // a non-first duplicate inherits its first occurrence's fate
    val firstFate = submits.filter(col("is_cand"))
      .select(col("arg"), col("accepted").as("first_accepted"))
    val submitV = submits
      .join(broadcast(firstFate), Seq("arg"), "left")
      .withColumn("verdict",
        when(col("is_valid").isNull, lit("INVALID_STATE"))
          .when(col("dup_tracked") === 1, lit("DUPLICATE_STATE"))
          .when(!col("is_cand"),
            when(col("first_accepted"), lit("DUPLICATE_STATE"))
              .otherwise(lit("QUEUE_FULL")))
          .when(col("accepted"), lit("ACCEPTED"))
          .otherwise(lit("QUEUE_FULL")))
      .withColumn("queue_position",
        when(col("verdict") === "ACCEPTED", lit(q0) + col("k"))
          .otherwise(lit(0L)))
      .withColumn("downloads_left", lit(0L))

    val statusV = base.filter(col("op") === "STATUS")
      .withColumn("verdict",
        when(col("status").isNull, lit("NOT_FOUND"))
          .otherwise(col("status")))
      .withColumn("queue_position",
        when(col("status") === "QUEUED", col("qpos").cast("long"))
          .otherwise(lit(0L)))
      .withColumn("downloads_left", lit(0L))

    val downloadV = base.filter(col("op") === "DOWNLOAD")
      .withColumn("verdict",
        when(col("status").isNull, lit("NOT_FOUND"))
          .when(col("status") =!= "COMPLETED", lit("NOT_COMPLETED"))
          .when(col("download_count") >= maxDownloads,
            lit("LIMIT_REACHED"))
          .otherwise(lit("DOWNLOAD_OK")))
      .withColumn("queue_position", lit(0L))
      .withColumn("downloads_left",
        when(col("verdict") === "DOWNLOAD_OK",
          lit(maxDownloads.toLong) - col("download_count") - 1L)
          .otherwise(lit(0L)))

    val cancelV = base.filter(col("op") === "CANCEL")
      .withColumn("verdict",
        when(col("status").isNull, lit("NOT_FOUND"))
          .when(col("status").isin("QUEUED", "RUNNING"), lit("CANCELLED"))
          .otherwise(lit("DELETED")))
      .withColumn("queue_position", lit(0L))
      .withColumn("downloads_left", lit(0L))

    val out = Seq("req_id", "op", "arg", "verdict", "queue_position",
      "downloads_left")
    submitV.select(out.map(col): _*)
      .unionByName(statusV.select(out.map(col): _*))
      .unionByName(downloadV.select(out.map(col): _*))
      .unionByName(cancelV.select(out.map(col): _*))
      .orderBy("req_id")
  }

  /**
   * The maintained rollup store behind `/pendingDeletion`: Recon keeps
   * these numbers in ITS OWN DB (GlobalStats / NSSummary / per-DN metric
   * tables maintained by background tasks) and the endpoint just reads
   * them — so the rollups materialize ONCE per (JVM, source) into a
   * tiny (kind, entity, metric, value, rk) table (#datanodes + 8 rows;
   * SparkEntry stores it to parquet with the other stored artifacts)
   * holding every row the endpoint can reply with, and the dispatch below
   * reads the store, never the corpus. The parts:
   *   - scm: the DeletedBlocksTransactionSummary triple over the live
   *     (non-DELETED container) txns of [[ClusterHealth.deletedBlockTxns]];
   *   - dn: each datanode's pending blocks (a txn's blocks pend once per
   *     replica datanode); [[pendingDeletionStore]] adds the rest;
   *   - om: pendingKeySize, the replicated bytes of the
   *     [[CommitLog.isDeleted]] keys, and pendingDirectorySize,
   *     [[ClusterHealth.pendingDirBytes]] over the NSSummary rollup
   *     `nsRollup` (the probe /storageDistribution uses).
   *
   * Scale shape of the one-off build: one pass over the deleted keys
   * with broadcast container/replica dims, one filtered pass over the
   * key table, and a broadcast deleted-dir probe of the stored rollup.
   */
  def pendingDeletionRollups(objects: DataFrame, nsRollup: DataFrame,
                             deletedDirs: DataFrame, replicas: DataFrame,
                             containersScm: DataFrame): DataFrame = {
    val txnsLive = ClusterHealth.deletedBlockTxns(objects)
      .join(broadcast(containersScm.select("container_id", "state")),
        Seq("container_id"))
      .filter(col("state") =!= "DELETED")
    val repCount = replicas.groupBy("container_id")
      .agg(count(lit(1)).as("n_replicas"))
    val scmRows = txnsLive
      .join(broadcast(repCount), Seq("container_id"), "left")
      .agg(sum("data_size").as("total_block_size"),
        sum(col("data_size") * coalesce(col("n_replicas"), lit(0L)))
          .as("total_replicated_size"),
        sum("block_count").as("total_count"))
      .selectExpr("'scm' AS kind", "'scm' AS entity",
        "stack(3, 'total_block_size', total_block_size," +
          " 'total_replicated_size', total_replicated_size," +
          " 'total_count', total_count) AS (metric, value)")
    val dnRows = txnsLive
      .join(replicas.select(col("container_id"),
        col("datanode").as("dn")), Seq("container_id"))
      .groupBy("dn")
      .agg(sum("block_count").as("pending_blocks"))
      .select(lit("dn").as("kind"), col("dn").as("entity"),
        lit("pending_blocks").as("metric"),
        col("pending_blocks").as("value"))
    val keyRow = objects.filter(CommitLog.isDeleted)
      .agg(coalesce(sum("replicated_size"), lit(0L)).as("value"))
      .select(lit("om").as("kind"), lit("om").as("entity"),
        lit("pendingKeySize").as("metric"), col("value"))
    val dirRow = ClusterHealth.pendingDirBytes(nsRollup, deletedDirs)
      .select(lit("om").as("kind"), lit("om").as("entity"),
        lit("pendingDirectorySize").as("metric"),
        col("pending_dir_bytes").as("value"))
    pendingDeletionStore(
      scmRows.unionByName(dnRows).unionByName(keyRow).unionByName(dirRow))
  }

  /** The store's reply rows from its parts (kind, entity, metric, value):
    * the parts, the dn `_summary` pair (total_pending_deletion,
    * nodes_queried), the om totalSize (pendingDirectorySize +
    * pendingKeySize), and `rk`, each dn pending_blocks row's rank in
    * (pending_blocks DESC, dn) order — null on every other row. */
  private[graft] def pendingDeletionStore(parts: DataFrame): DataFrame = {
    val dn = parts.filter(col("kind") === "dn")
    val dnSummary = dn
      .agg(coalesce(sum("value"), lit(0L)).as("total"),
        count(lit(1)).as("nodes"))
      .selectExpr("'dn' AS kind", "'_summary' AS entity",
        "stack(2, 'total_pending_deletion', total," +
          " 'nodes_queried', nodes) AS (metric, value)")
    val omTotal = parts.filter(col("kind") === "om")
      .agg(sum("value").as("value"))
      .select(lit("om").as("kind"), lit("om").as("entity"),
        lit("totalSize").as("metric"), col("value"))
    parts.filter(col("kind") =!= "dn").unionByName(dnSummary)
      .unionByName(omTotal)
      .withColumn("rk", lit(null).cast("int"))
      .unionByName(dn.withColumn("rk", row_number().over(
        Window.partitionBy("kind").orderBy(col("value").desc, col("entity")))))
  }

  /**
   * Recon `/pendingDeletion` component dispatch —
   * `recon/.../api/PendingDeletionEndpoint.java:57-121`: the component
   * param is required (400 MISSING_COMPONENT), trim+lowercase
   * normalized, and must be one of dn / scm / om (400
   * INVALID_COMPONENT); the dn route additionally refuses a limit < 1
   * (:84-87) and truncates its per-datanode list to `limit`
   * (DataNodeMetricsService.getCollectedMetrics:311-322, limit absent →
   * whole list) alongside the totalPendingDeletion rollup; the scm route
   * reports the DeletedBlocksTransactionSummary triple (:98-112); the om
   * route reports pendingDirectorySize / pendingKeySize / totalSize
   * (ReconGlobalMetricsService.calculatePendingSizes:218-247 — both
   * REPLICATED sizes; the -1 error legs are RPC-failure paths with no
   * deterministic dual here, noted not modeled).
   * The dn list orders by pending DESC then datanode (the reference
   * returns collector order, which is not deterministic — the heaviest-
   * first order is the view the UI sorts to anyway).
   *
   * Scale shape: the store ([[pendingDeletionRollups]]) already holds
   * every reply row, so the dispatch is the validation rungs plus one
   * broadcast join of the requests to the store on their component: a
   * refused request matches no store row and keeps its verdict row, a
   * valid one gets its component's rows, dn rows cut at `rk <= limit`.
   */
  def pendingDeletionDispatch(store: DataFrame): DataFrame =
    Tables.pendingDeletionRequestRows.df(store.sparkSession)
      .withColumn("comp", lower(trim(col("component"))))
      .withColumn("verdict",
        // the required-param check fires on the RAW component BEFORE the
        // trim (PendingDeletionEndpoint.java:64-68) — a whitespace-only
        // value is "present" there and falls through to the switch
        // default (INVALID_COMPONENT) via its trimmed-empty comp
        when(col("component") === "", lit("MISSING_COMPONENT"))
          .when(!col("comp").isin("dn", "scm", "om"),
            lit("INVALID_COMPONENT"))
          .when(col("comp") === "dn" && col("limit") === 0,
            lit("LIMIT_TOO_SMALL")))
      .join(broadcast(store),
        col("verdict").isNull && col("comp") === col("kind"), "left")
      .filter(col("rk").isNull || col("limit") < 0 ||
        col("rk") <= col("limit"))
      .select(col("req_id"),
        coalesce(col("verdict"), concat(upper(col("kind")), lit("_OK")))
          .as("verdict"),
        coalesce(col("entity"), lit("")).as("entity"),
        coalesce(col("metric"), lit("")).as("metric"),
        coalesce(col("value"), lit(0L)).as("value"))
      .orderBy("req_id", "metric", "entity")
}
