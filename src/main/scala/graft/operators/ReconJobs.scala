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
   *
   * Rollup synthesis rides the shared fixtures: the deleted-block txn
   * log (the commit log's DELETE branch), the container replica map (a
   * txn's blocks pend once per replica datanode), and the deleted-dir /
   * deleted-key populations the insight queries already expose.
   * The dn list orders by pending DESC then datanode (the reference
   * returns collector order, which is not deterministic — the heaviest-
   * first order is the view the UI sorts to anyway).
   *
   * Scale shape: one pass over the DELETE branch of the log + broadcast
   * dims for replicas/containers; the dir plane reuses the
   * leaf-pre-agg → ancestor-explode → broadcast-deleted-probe shape of
   * [[ClusterHealth.deletedDirsInsight]].
   */
  /**
   * The maintained rollup store behind the endpoint: Recon keeps these
   * numbers in ITS OWN DB (GlobalStats / NSSummary / per-DN metric
   * tables maintained by background tasks) and the endpoint just reads
   * them — so the rollups materialize ONCE per (JVM, source) into a
   * tiny (kind, entity, metric, value) table (≤ #datanodes + 5 rows;
   * SparkEntry caches it to parquet with the other stored artifacts) and
   * the dispatch below reads the store, never the corpus.
   *
   * Scale shape of the one-off build: the deleted-block txn fold is one
   * pass over the DELETE branch of the log with broadcast
   * container/replica dims; the dir plane reuses the leaf-pre-agg →
   * ancestor-explode → broadcast-deleted-probe shape of
   * [[ClusterHealth.deletedDirsInsight]].
   */
  def pendingDeletionRollups(objects: DataFrame, objectsMixed: DataFrame,
                             deletedDirs: DataFrame, replicas: DataFrame,
                             containersScm: DataFrame): DataFrame = {
    // deleted-block txn log + per-replica pending blocks
    val txns = CommitLog.synthesizeLog(objects)
      .filter(col("op") === "DELETE")
      .groupBy(col("object_id").as("txn_id"))
      .agg(max("data_size").as("data_size"))
      .withColumn("container_id", expr("(txn_id DIV 10) % 1000"))
      .withColumn("block_count", expr(
        s"(data_size - 1) DIV ${graft.core.Tables.LocChunkBytes} + 1"))
    val txnsLive = txns
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
    // om sizes: replicated bytes of deleted keys + of files under
    // deleted dirs
    val keyRow = objects
      .filter((col("version") === 4 || col("version") === 5) &&
        expr("(object_id DIV 10) % 10") === 0)
      .agg(coalesce(sum("replicated_size"), lit(0L)).as("value"))
      .select(lit("om").as("kind"), lit("om").as("entity"),
        lit("pendingKeySize").as("metric"), col("value"))
    val dirRow = objectsMixed
      .withColumn("leaf", Aggregates.parentDirOf("key"))
      .filter(col("leaf") =!= "")
      .groupBy("volume", "bucket", "leaf")
      .agg(sum("replicated_size").as("rsz"))
      .withColumn("dir", explode(Aggregates.dirAndAncestors("leaf")))
      .join(broadcast(deletedDirs.select("volume", "bucket", "dir")),
        Seq("volume", "bucket", "dir"))
      .agg(coalesce(sum("rsz"), lit(0L)).as("value"))
      .select(lit("om").as("kind"), lit("om").as("entity"),
        lit("pendingDirectorySize").as("metric"), col("value"))
    scmRows.unionByName(dnRows).unionByName(keyRow).unionByName(dirRow)
  }

  /** The endpoint dispatch over the materialized rollup store — see
    * [[pendingDeletionRollups]] for the store's derivation and the
    * class scaladoc for the route semantics. */
  def pendingDeletionDispatch(rollups: DataFrame): DataFrame = {
    val spark = rollups.sparkSession
    val reqs = Tables.pendingDeletionRequestRows.df(spark)
      .withColumn("comp", lower(trim(col("component"))))
    val dnPending = rollups.filter(col("kind") === "dn")
      .select(col("entity").as("dn"), col("value").as("pending_blocks"))
    val scmRow = rollups.filter(col("kind") === "scm")
      .select("metric", "value")
    val omKinds = rollups.filter(col("kind") === "om")
      .select("metric", "value")

    val errRows = reqs
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
      .filter(col("verdict").isNotNull)
      .select(col("req_id"), col("verdict"), lit("").as("entity"),
        lit("").as("metric"), lit(0L).as("value"))
    val dnReqs = reqs.filter(col("comp") === "dn" && col("limit") =!= 0)
    // rank after the cross join, per request: each request pairs with the
    // whole datanode list, so its ranks are the global ones, and the window
    // spreads over requests instead of one unpartitioned task
    val dnList = dnReqs.crossJoin(dnPending)
      .withColumn("rk", row_number().over(Window.partitionBy("req_id")
        .orderBy(col("pending_blocks").desc, col("dn"))))
      .filter(col("limit") < 0 || col("rk") <= col("limit"))
      .select(col("req_id"), lit("DN_OK").as("verdict"),
        col("dn").as("entity"), lit("pending_blocks").as("metric"),
        col("pending_blocks").as("value"))
    val dnTotal = dnReqs.crossJoin(broadcast(
        dnPending.agg(coalesce(sum("pending_blocks"), lit(0L)).as("total"),
          count(lit(1)).as("nodes_queried"))))
      .select(col("req_id"), lit("DN_OK").as("verdict"),
        lit("_summary").as("entity"), col("total"), col("nodes_queried"))
      .selectExpr("req_id", "verdict", "entity",
        "stack(2, 'total_pending_deletion', total," +
          " 'nodes_queried', nodes_queried) AS (metric, value)")
    val scmRows = reqs.filter(col("comp") === "scm")
      .crossJoin(broadcast(scmRow))
      .select(col("req_id"), lit("SCM_OK").as("verdict"),
        lit("scm").as("entity"), col("metric"), col("value"))
    val omBase = reqs.filter(col("comp") === "om")
      .crossJoin(broadcast(omKinds))
      .select(col("req_id"), lit("OM_OK").as("verdict"),
        lit("om").as("entity"), col("metric"), col("value"))
    val omTotal = reqs.filter(col("comp") === "om")
      .crossJoin(broadcast(omKinds.agg(sum("value").as("value"))))
      .select(col("req_id"), lit("OM_OK").as("verdict"),
        lit("om").as("entity"), lit("totalSize").as("metric"),
        col("value"))
    errRows.unionByName(dnList)
      .unionByName(dnTotal.select("req_id", "verdict", "entity",
        "metric", "value"))
      .unionByName(scmRows)
      .unionByName(omBase)
      .unionByName(omTotal)
      .orderBy("req_id", "metric", "entity")
  }
}