package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables

/**
 * Join / diff / set-operation family (apache/ozone Recon + snapshot diff):
 * container↔key equi-join (ContainerKeyMapperHelper probe
 * ContainerEndpoint.java:236-330), OM∖SCM lockstep-merge anti-joins
 * (ContainerEndpoint.java:800-878), replica-health classification
 * (ContainerHealthStatus.java:46-124), and the snapshot full-outer diff
 * (SnapshotDiffManager.java:1397-1469).
 *
 * Scale design: the container dimension (~containers, not keys) is small
 * relative to the key table → broadcast it, never shuffle the key fact table
 * for these joins. The snapshot diff shuffles both sides once on object_id —
 * the natural partitioning key — and classification is a codegen'd
 * when/otherwise projection; at 100 TB, AQE skew handling covers hot ids.
 */
object Joins {

  /** Keys-per-container probe: broadcast the container dim into the key scan
    * — replaces the reference's materialized inverted index for batch. */
  def containerKeyJoin(objects: DataFrame, containersScm: DataFrame): DataFrame =
    objects
      .groupBy("container_id")
      .agg(count(lit(1)).as("num_keys"), sum("data_size").as("total_size"))
      .join(broadcast(containersScm.select("container_id", "state")),
        Seq("container_id"), "inner")
      .orderBy("container_id")

  /**
   * Recon GET /containers/{id}/keys page (ContainerEndpoint
   * .getKeysForContainer:235-330): walk ONE container's slice of the
   * container→key inverted index in ozone-db-key order from a
   * strictly-greater prevKeyPrefix token, up to `limit` DISTINCT keys —
   * versions of one key aggregate into a versions list exactly as the
   * endpoint's LinkedHashMap dedup does — alongside the container's
   * TOTAL index-entry count (getKeyCountForContainer) on every row.
   *
   * Scale shape: the container_id equality pushes into the scan, the
   * page is a top-k sort over one container's slice, and the total
   * count is a pushdown-filtered distinct agg — nothing touches other
   * containers.
   */
  def containerKeysPage(objects: DataFrame, containerId: Long,
                        limit: Int, prevKey: String = ""): DataFrame = {
    val idx = objects.filter(col("container_id") === containerId)
      .withColumn("db_key", concat_ws("/", lit(""), col("volume"),
        col("bucket"), col("key")))
    val total = idx.select("db_key", "version").distinct()
      .groupBy().agg(count(lit(1)).as("total_count"))
    idx.filter(col("db_key") > prevKey)
      .groupBy("db_key", "volume", "bucket", "key")
      .agg(max("data_size").as("data_size"),
        sort_array(collect_set("version")).as("vs"))
      .withColumn("versions_csv",
        array_join(col("vs").cast("array<string>"), ","))
      .withColumn("n_versions", size(col("vs")).cast("long"))
      .drop("vs")
      .orderBy("db_key").limit(limit)
      .crossJoin(broadcast(total))
  }

  /** OM∖SCM and SCM∖OM container mismatches as anti-joins — the reference
    * walks two sorted iterators in lockstep (ContainerEndpoint.java:800-851);
    * here each direction is a single anti-join (broadcastable dim). */
  def omScmMismatch(containersOm: DataFrame, containersScm: DataFrame): DataFrame = {
    val live = containersScm.filter(col("state") =!= "DELETED")
    val omOnly = containersOm.select("container_id")
      .join(live.select("container_id"), Seq("container_id"), "left_anti")
      .withColumn("side", lit("OM_ONLY"))
    val scmOnly = live.select("container_id")
      .join(containersOm.select("container_id"), Seq("container_id"), "left_anti")
      .withColumn("side", lit("SCM_ONLY"))
    omOnly.unionByName(scmOnly).orderBy("side", "container_id")
  }

  /** Replica health: expected replication factor vs healthy replica count
    * AND rack placement → MISSING/UNDER/OVER/MIS_REPLICATED/HEALTHY (ref
    * ContainerHealthStatus.java:46-135; isMisReplicated:135 = full count
    * but replicas span fewer racks than the placement policy requires,
    * i.e. min(replication_factor, cluster racks)). One groupBy over the
    * replica table + a broadcastable container dim. */
  def replicaHealth(containersScm: DataFrame, replicas: DataFrame,
                    numClusterRacks: Int = 5): DataFrame = {
    val counts = replicas
      .groupBy("container_id")
      .agg(
        count(lit(1)).as("replica_count"),
        sum(when(col("replica_state") === "CLOSED", 1L).otherwise(0L))
          .as("healthy_count"),
        countDistinct("rack").as("rack_count"))
    containersScm
      .filter(col("state") =!= "DELETED")
      .join(counts, Seq("container_id"), "left")
      .withColumn("replica_count", coalesce(col("replica_count"), lit(0L)))
      .withColumn("healthy_count", coalesce(col("healthy_count"), lit(0L)))
      .withColumn("rack_count", coalesce(col("rack_count"), lit(0L)))
      .withColumn("health",
        when(col("healthy_count") === 0, lit("MISSING"))
          .when(col("healthy_count") < col("replication_factor"), lit("UNDER_REPLICATED"))
          .when(col("replica_count") > col("replication_factor"), lit("OVER_REPLICATED"))
          .when(col("rack_count") <
              least(col("replication_factor"), lit(numClusterRacks)),
            lit("MIS_REPLICATED"))
          .otherwise(lit("HEALTHY")))
      .select("container_id", "replication_factor", "replica_count",
        "healthy_count", "rack_count", "health")
      .orderBy("container_id")
  }

  /**
   * Snapshot diff: full-outer join of two namespace versions on object_id,
   * classified CREATE / DELETE / RENAME / MODIFY / UNCHANGED — exactly the
   * reference's classification (SnapshotDiffManager.java:1397-1469: null left
   * → CREATE, null right → DELETE, key differs → RENAME, payload differs →
   * MODIFY). object_id survives renames by construction.
   */
  def snapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(
      col("object_id"),
      col("key").as("old_key"),
      col("data_size").as("old_size"))
    val b = v2.select(
      col("object_id"),
      col("key").as("new_key"),
      col("data_size").as("new_size"))
    a.join(b, Seq("object_id"), "full_outer")
      .withColumn("diff_type",
        when(col("old_key").isNull, lit("CREATE"))
          .when(col("new_key").isNull, lit("DELETE"))
          .when(col("old_key") =!= col("new_key"), lit("RENAME"))
          .when(col("old_size") =!= col("new_size"), lit("MODIFY"))
          .otherwise(lit("UNCHANGED")))
      .filter(col("diff_type") =!= "UNCHANGED")
      // null-free output (engines disagree on default null sort order)
      .withColumn("old_key", coalesce(col("old_key"), lit("")))
      .withColumn("new_key", coalesce(col("new_key"), lit("")))
      .withColumn("old_size", coalesce(col("old_size"), lit(-1L)))
      .withColumn("new_size", coalesce(col("new_size"), lit(-1L)))
      .orderBy("object_id")
  }

  /** Verification dual of [[snapshotDiff]]: the same CREATE / DELETE /
    * RENAME / MODIFY classification derived from two ANTI-joins + one
    * INNER join instead of one full-outer join — disjoint join plans and
    * null paths, so canon-equality against [[snapshotDiff]] guards the
    * diff's ANSWER, not just its cost. Spec-gated at fixture scale
    * (CommitLogSpec). */
  def snapshotDiffDual(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(
      col("object_id"),
      col("key").as("old_key"),
      col("data_size").as("old_size"))
    val b = v2.select(
      col("object_id"),
      col("key").as("new_key"),
      col("data_size").as("new_size"))
    val creates = b.join(a, Seq("object_id"), "left_anti")
      .select(col("object_id"), lit(null).cast("string").as("old_key"),
        lit(null).cast("long").as("old_size"),
        col("new_key"), col("new_size"), lit("CREATE").as("diff_type"))
    // UNMATCHED rows mirror the when-chain too (ADVICE r14): a v1-only
    // row whose key is NULL classifies CREATE in the full-outer plan —
    // the old_key.isNull rung fires on the DATA null before the plan
    // can express "unmatched" — so the anti-join DELETE branch must
    // apply the same rung. The CREATE branch is chain-consistent by
    // construction (its old_key is null either way → CREATE).
    val deletes = a.join(b, Seq("object_id"), "left_anti")
      .select(col("object_id"), col("old_key"), col("old_size"),
        lit(null).cast("string").as("new_key"),
        lit(null).cast("long").as("new_size"),
        when(col("old_key").isNull, lit("CREATE"))
          .otherwise(lit("DELETE")).as("diff_type"))
    // the matched-row chain mirrors snapshotDiff's FULL when-chain
    // including the isNull rungs: a matched object_id carrying a NULL
    // old_key/new_key classifies CREATE/DELETE there (the full-outer
    // plan cannot tell a null-valued column from an unmatched side), so
    // the dual must too — otherwise null-bearing snapshots would surface
    // as a confusing canon InvariantViolation instead of agreeing
    // (ADVICE r13 matched rows + ADVICE r14 unmatched rows; inputs are
    // null-free today, this pins the semantics)
    val both = a.join(b, Seq("object_id"))
      .withColumn("diff_type",
        when(col("old_key").isNull, lit("CREATE"))
          .when(col("new_key").isNull, lit("DELETE"))
          .when(col("old_key") =!= col("new_key"), lit("RENAME"))
          .when(col("old_size") =!= col("new_size"), lit("MODIFY"))
          .otherwise(lit("UNCHANGED")))
      .filter(col("diff_type") =!= "UNCHANGED")
      .select(col("object_id"), col("old_key"), col("old_size"),
        col("new_key"), col("new_size"), col("diff_type"))
    creates.unionByName(deletes).unionByName(both)
      // identical null-free rendering to snapshotDiff
      .withColumn("old_key", coalesce(col("old_key"), lit("")))
      .withColumn("new_key", coalesce(col("new_key"), lit("")))
      .withColumn("old_size", coalesce(col("old_size"), lit(-1L)))
      .withColumn("new_size", coalesce(col("new_size"), lit(-1L)))
      .orderBy("object_id")
  }

  /**
   * One page of the snapshot-diff REPORT — the reference persists the
   * computed report keyed by (jobId, index) and serves it in pages of
   * `pageSize` from an index token, returning the next token
   * (SnapshotDiffManager's getSnapshotDiffReport paging over
   * snapDiffReportTable). The report index is the diff's own total order
   * (object_id — stable across requests because the report is a frozen
   * artifact); `next_token` rides every row, -1 on the last page.
   *
   * Scale shape: the index is a row_number over the materialized report —
   * the one global sort the REPORT itself already paid (the reference
   * writes the report ordered once per job; pages are range reads). The
   * token filter prunes before anything else downstream.
   */
  def snapshotDiffPage(v1: DataFrame, v2: DataFrame, token: Long,
                       pageSize: Int): DataFrame = {
    // index via the two-pass range-partition + prefix-offset idiom
    // (ChangeLog.events) — NEVER a no-partition global window, which
    // would serialize the whole report through one task at scale. One
    // RDD instance backs both passes (stage reuse, no cache pinning).
    val report = snapshotDiff(v1, v2)
      .repartitionByRange(8, col("object_id"))
      .sortWithinPartitions("object_id")
    val reportRdd = report.rdd
    val counts = reportRdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val schema = report.schema.add("idx", "long")
    val withIdx = reportRdd.mapPartitionsWithIndex { (i, it) =>
      var n = offsets(i) - 1
      it.map { r => n += 1
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ n)
      }
    }
    // maxKeys+1 truncation probe instead of a total count: fetch one index
    // past the page — its presence answers "is there a next page" without
    // a second evaluation of the diff lineage. The no-partition window is
    // fine HERE: it runs over the ≤ pageSize+1 already-filtered rows, not
    // the report.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    v1.sparkSession.createDataFrame(withIdx, schema)
      .filter(col("idx") >= token && col("idx") <= token + pageSize)
      .withColumn("__probe_max", max("idx").over(wAll))
      .filter(col("idx") < token + pageSize)
      .withColumn("next_token",
        when(col("__probe_max") === token + pageSize,
          lit(token + pageSize)).otherwise(lit(-1L)))
      .select("idx", "object_id", "old_key", "new_key", "old_size",
        "new_size", "diff_type", "next_token")
      .orderBy("idx")
  }

  /** Snapshot diff rollup (counts per class) — the summary the reference
    * reports per diff job. */
  def snapshotDiffSummary(v1: DataFrame, v2: DataFrame): DataFrame =
    snapshotDiff(v1, v2)
      .groupBy("diff_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("diff_type")

  /** FSO+OBS layout union (search both layouts, merge —
    * OMDBInsightEndpoint.java:900-906): union two layout partitions of the
    * namespace, dedup on key identity. */
  def layoutUnion(objects: DataFrame, buckets: DataFrame): DataFrame = {
    val withLayout = objects.join(
      broadcast(buckets.select("volume", "bucket", "layout")),
      Seq("volume", "bucket"), "inner")
    val fso = withLayout.filter(col("layout") === "FSO")
    val obs = withLayout.filter(col("layout") === "OBS")
    fso.unionByName(obs)
      .groupBy("layout")
      .agg(count(lit(1)).as("num_keys"), sum("data_size").as("total_size"))
      .orderBy("layout")
  }

  /**
   * Snapshot-diff job lifecycle — `SnapshotDiffManager` job-table
   * dispatch (`ozone-manager/.../snapshot/SnapshotDiffManager.java`):
   *
   * getSnapshotDiffReport (:496-560): both snapshots must resolve
   * (SNAPSHOT_NOT_FOUND otherwise); a missing job is minted QUEUED and
   * submitted (NEW_SUBMITTED); an existing job answers by status —
   * IN_PROGRESS with the progress percent (:525-532), FAILED with the
   * cleanup-interval retry hint (:533-542), DONE serves the report page
   * (:543-547), REJECTED and CANCELLED echo their state (:548-560).
   *
   * cancelSnapshotDiff (:397-441): unknown job ⇒ CANCEL_JOB_NOT_EXIST;
   * only IN_PROGRESS cancels (CANCEL_SUCCEEDED); DONE / CANCELLED /
   * FAILED report their terminal state; anything else (QUEUED —
   * submission is atomic with queueing) is NON_CANCELLABLE.
   *
   * Fixture: a literal job table covering every status plus unknown
   * snapshots and job-less known pairs, probed by one DIFF and one
   * CANCEL request each (the rows live in [[graft.core.Tables]]).
   */
  def snapshotDiffJobs(spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    val snaps = Tables.snapshotDiffSnapRows.df(spark)
    val jobs = Tables.snapshotDiffJobRows.df(spark)
    val reqs = Tables.snapshotDiffRequestRows.df(spark)
    reqs
      .join(broadcast(snaps.select(col("snap").as("from_snap"),
        lit(1).as("from_ok"))), Seq("from_snap"), "left")
      .join(broadcast(snaps.select(col("snap").as("to_snap"),
        lit(1).as("to_ok"))), Seq("to_snap"), "left")
      .join(broadcast(jobs), Seq("from_snap", "to_snap"), "left")
      .withColumn("verdict",
        when(col("from_ok").isNull || col("to_ok").isNull,
          lit("SNAPSHOT_NOT_FOUND"))
          .when(col("op") === "DIFF",
            when(col("status").isNull || col("status") === "QUEUED",
              lit("NEW_SUBMITTED"))
              .otherwise(col("status")))
          .otherwise(
            when(col("status").isNull, lit("CANCEL_JOB_NOT_EXIST"))
              .when(col("status") === "IN_PROGRESS",
                lit("CANCEL_SUCCEEDED"))
              .when(col("status") === "DONE",
                lit("CANCEL_ALREADY_DONE"))
              .when(col("status") === "CANCELLED",
                lit("CANCEL_ALREADY_CANCELLED"))
              .when(col("status") === "FAILED",
                lit("CANCEL_ALREADY_FAILED"))
              .otherwise(lit("CANCEL_NON_CANCELLABLE"))))
      .withColumn("pct",
        when(col("op") === "DIFF" && col("verdict") === "IN_PROGRESS",
          col("pct")).otherwise(lit(0)))
      .select("req_id", "op", "from_snap", "to_snap", "verdict", "pct")
      .orderBy("req_id")
  }

  /**
   * Snapshot-diff cleanup plan — SnapshotDiffCleanupService
   * (ozone-manager/.../service/SnapshotDiffCleanupService.java:115-131 +
   * :155-209): two phases in a fixed order chosen so a concurrent diff
   * request never sees a DONE job whose report is already gone —
   *
   *  1. removeOlderJobReport (:185-209): every job ALREADY in the purged
   *    table (moved by a prior run) has its report rows range-deleted
   *    and its purge-table entry dropped ⇒ REPORT_PURGED;
   *  2. moveOldSnapDiffJobsToPurgeTable (:155-183): active jobs walked
   *    in job-key order, cap `maxJobToPurgePerTask` (default 100,
   *    OMConfigKeys:662) PURGED moves per run, `while (... &&
   *    purgeCount < cap)` — so once the cap is hit the walk stops and
   *    later jobs (purgeable or not) are untouched ⇒ NOT_REACHED; a
   *    visited job moves iff it is older than `maxAllowedTime` (default
   *    7 d, OMConfigKeys:668 — stale QUEUED/IN_PROGRESS from a crashed
   *    leader purge too) OR its status is FAILED / REJECTED / CANCELLED
   *    ⇒ MOVED_TO_PURGE (recording its totalDiffEntries), else
   *    RETAINED.
   *
   * Scale shape: one running-sum window over the control-plane job
   * table; no data-plane access.
   */
  def snapdiffCleanupPlan(jobs: DataFrame, maxAgeMs: Long,
                          maxPurgePerTask: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy("job_key")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val active = jobs.filter(!col("in_purged_table"))
      .withColumn("purgeable",
        col("age_ms") > maxAgeMs ||
          col("status").isin("FAILED", "REJECTED", "CANCELLED"))
      .withColumn("purge_rank",
        sum(when(col("purgeable"), 1L).otherwise(0L)).over(w))
      .withColumn("prior_purges",
        col("purge_rank") - when(col("purgeable"), 1L).otherwise(0L))
      .withColumn("action",
        when(col("prior_purges") >= maxPurgePerTask, lit("NOT_REACHED"))
          .when(col("purgeable"), lit("MOVED_TO_PURGE"))
          .otherwise(lit("RETAINED")))
      .withColumn("n_report_entries",
        when(col("action") === "MOVED_TO_PURGE", col("report_entries"))
          .otherwise(lit(0L)))
    val purged = jobs.filter(col("in_purged_table"))
      .withColumn("action", lit("REPORT_PURGED"))
      .withColumn("n_report_entries", col("report_entries"))
    active.select("job_key", "status", "action", "n_report_entries")
      .unionByName(
        purged.select("job_key", "status", "action", "n_report_entries"))
      .orderBy("job_key")
  }
}
