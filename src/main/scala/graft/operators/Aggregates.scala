package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Recon-style analytics aggregations (apache/ozone recon module):
 * log₂-binned histograms (FileSizeCountTaskHelper.java:51-77,
 * ReconConstants.java:82-99), du / NSSummary hierarchical rollups
 * (NSSummaryTaskDbEventHandler.java:128-459, BucketEntityHandler.java:91-145),
 * global table counts (OmTableInsightTask.java), quota usage
 * (NSSummaryEndpoint.java:141-169), heatmap (HeatMapUtil.java:60-130).
 *
 * Scale design: all are single-shuffle groupBy aggregates with map-side
 * partial aggregation; the NSSummary rollup replaces the reference's
 * driver-side recursive `propagateSizeUpwards` with an explode over the
 * (bounded-depth) prefix array — one shuffle, no driver loops, no iteration.
 * Normalization uses integer scaling (x*10000 div range) — deterministic
 * across engines, no float rounding.
 */
object Aggregates {

  /** Log₂ size bin upper bound: 41 bins, 1 KB → 1 PB
    * (ref ReconUtils.getFileSizeUpperBound, ReconConstants.java:82-89).
    * Pure integer arithmetic: ceil(log2 x) = bit-length of (x-1), taken as
    * length(bin(x-1)) — float log2 is an ln-ratio whose rounding lands
    * fractionally above the integer for some exact powers of two (JVM
    * log2(2^29) = 29.000000000000004), so a float path is off-by-one-bin
    * on exactly the bin boundaries. */
  def pow2Bin(sizeCol: String, minBin: Long): Column =
    expr(s"greatest(shiftleft(CAST(1 AS BIGINT), " +
      s"CASE WHEN $sizeCol <= 1 THEN 0 ELSE length(bin($sizeCol - 1)) END), ${minBin}L)")

  /** Keys deeper than this are assumed hostile/corrupt (the reference caps
    * path depth via ozone.om.max.path.depth far below it); the cap only
    * bounds the per-row explode, it is never what decides rollup depth —
    * and the oracle SQL mirrors the SAME cap, so a beyond-cap input would
    * fail loudly at the gate rather than silently diverge. */
  val MaxAncestorDepth = 64

  /** Immediate parent directory of a slash-delimited path (empty for a
    * 1-segment path) — shared by the rollups and the FSO table builds so
    * the batch/streamed/namespace derivations can never drift. */
  def parentDirOf(pathCol: String): Column =
    expr(s"substring($pathCol, 1, length($pathCol) - " +
      s"length(element_at(split($pathCol, '/'), -1)) - 1)")

  /** Every prefix of a DIRECTORY path INCLUDING the path itself — the
    * ancestor set a leaf-dir aggregate propagates to. Depth derives
    * per-row from the path (capped at [[MaxAncestorDepth]]), so a
    * namespace deeper than any fixture never silently loses ancestors —
    * the dual of the reference's propagate-to-every-ancestor
    * (NSSummaryTaskDbEventHandler.propagateSizeUpwards:426-459). */
  def dirAndAncestors(dirCol: String): Column =
    expr(s"""transform(
      sequence(1, least(size(split($dirCol, '/')), $MaxAncestorDepth)),
      d -> array_join(slice(split($dirCol, '/'), 1, d), '/'))""")

  /** File-size histogram per (volume, bucket, bin) — ref
    * FileSizeCountTaskHelper.java:51-77. */
  def fileSizeHistogram(objects: DataFrame): DataFrame =
    objects
      .withColumn("size_bin", pow2Bin("data_size", 1024L))
      .groupBy("volume", "bucket", "size_bin")
      .agg(count(lit(1)).as("file_count"))
      .orderBy("volume", "bucket", "size_bin")

  /** Container-size histogram (14 bins from 512 MB — ref
    * ReconConstants.java:91-99; synthetic containers are smaller so the
    * min bin is 1 MB here). */
  def containerSizeHistogram(containersScm: DataFrame): DataFrame =
    containersScm
      .withColumn("size_bin", pow2Bin("used_bytes", 1048576L))
      .groupBy("size_bin")
      .agg(count(lit(1)).as("container_count"))
      .orderBy("size_bin")

  /**
   * The leaf→ancestor rollup behind NSSummary, batch and streamed: each
   * key's `measures` sum onto its every ancestor directory — batch
   * equivalent of the reference's incremental upward propagation
   * (NSSummaryTaskDbEventHandler.propagateSizeUpwards:426-459). Keys are
   * `a/b/c/file` paths; each contributes to `a`, `a/b`, `a/b/c` — depth
   * comes from each key, never a config; 1-segment keys have no directory.
   *
   * TWO-STAGE shape: keys first aggregate to their immediate parent dir
   * (one shuffle over |keys| NARROW rows), then only the (far fewer)
   * distinct leaf dirs explode their ancestor chains and re-aggregate —
   * exact for any sum, signed ones included. Exploding per KEY would
   * shuffle |keys| × avg-depth rows keyed by path strings — at 100 TB that
   * explode is the dominant shuffle; per-dir it is ~|dirs| × depth.
   */
  def ancestorRollup(keys: DataFrame, measures: (String, Column)*): DataFrame = {
    val sums = measures.map { case (name, c) => sum(c).as(name) }
    val resums = measures.map { case (name, _) => sum(name).as(name) }
    keys
      // one split per key (parentDirOf+dirAndAncestors would re-split 3×)
      .withColumn("segs",
        expr("slice(split(key, '/'), 1, size(split(key, '/')) - 1)"))
      .filter(size(col("segs")) >= 1)
      .groupBy(col("volume"), col("bucket"),
        array_join(col("segs"), "/").as("leaf"))
      .agg(sums.head, sums.tail: _*)
      .withColumn("dir", explode(dirAndAncestors("leaf")))
      .groupBy("volume", "bucket", "dir")
      .agg(resums.head, resums.tail: _*)
  }

  /** NSSummary: per-directory (at every ancestor level) file count, total
    * size and replicated size. Stored once per source for the mixed
    * namespace ([[graft.core.Tables.nsSummaryMixed]]); every endpoint that
    * needs a directory's subtree totals reads that table. */
  def nsSummary(objects: DataFrame): DataFrame =
    ancestorRollup(objects,
      "num_files" -> lit(1L),
      "size_of_files" -> col("data_size"),
      "replicated_size" -> col("replicated_size"))
      .orderBy("volume", "bucket", "dir")

  /** du top-N: largest level-2 directories — ref BucketEntityHandler.java:91-145
    * + ReconUtils.java:534-540 (top-k). */
  def duTopN(objects: DataFrame, volume: String, n: Int): DataFrame =
    objects
      .filter(col("volume") === volume)
      .withColumn("dir", concat_ws("/", slice(split(col("key"), "/"), 1, 2)))
      .groupBy("bucket", "dir")
      .agg(sum("data_size").as("dir_size"), count(lit(1)).as("num_files"))
      .orderBy(col("dir_size").desc, col("bucket"), col("dir"))
      .limit(n)

  /** Global per-entity counts — ref OmTableInsightTask.java /
    * ClusterStateEndpoint.java:96,170-186. */
  def globalCounts(objects: DataFrame, buckets: DataFrame, volumes: DataFrame,
                   openKeys: DataFrame, containersScm: DataFrame): DataFrame = {
    def one(df: DataFrame, entity: String, sizeCol: Option[String]) =
      df.agg(
        count(lit(1)).as("cnt"),
        coalesce(sum(sizeCol.map(col).getOrElse(lit(0L))), lit(0L)).as("total_bytes"))
        .select(lit(entity).as("entity"), col("cnt"), col("total_bytes"))
    one(objects, "keys", Some("data_size"))
      .unionByName(one(buckets, "buckets", Some("used_bytes")))
      .unionByName(one(volumes, "volumes", Some("used_bytes")))
      .unionByName(one(openKeys, "open_keys", Some("data_size")))
      .unionByName(one(containersScm, "containers", Some("used_bytes")))
      .orderBy("entity")
  }

  /** Quota usage + violation flag — ref NSSummaryEndpoint.java:141-169,
    * OMKeyRequest.java:876-906 (quota check). */
  def quotaUsage(buckets: DataFrame): DataFrame =
    buckets
      .withColumn("over_quota",
        col("quota_bytes") =!= -1L && col("used_bytes") > col("quota_bytes"))
      .withColumn("usage_pct_x100",
        when(col("quota_bytes") > 0,
          expr("used_bytes * 10000 DIV quota_bytes"))
          .otherwise(lit(-1L)))
      .select("volume", "bucket", "used_bytes", "quota_bytes",
        "used_namespace", "over_quota", "usage_pct_x100")
      .orderBy("volume", "bucket")

  /**
   * Write-admission quota check — OMKeyCreateRequest.java:317-319 calling
   * OMKeyRequest.java:876-907: a create is admitted against the target
   * bucket's CURRENT usage snapshot, bytes first (rejected when
   * quota_bytes - used_bytes < allocation; the allocation is the
   * REPLICATED size, the pre-allocated space of the reference), then
   * namespace (quota_namespace < used_namespace + 1); a quota of -1
   * (QUOTA_RESET) disables its check. Request-time admission only — the
   * serial reserve-at-commit bookkeeping is the streaming counter
   * family's job, not this batch check.
   *
   * Scale shape: the bucket usage catalog broadcasts into the request
   * batch — pure per-row decision, no shuffle beyond the output sort.
   */
  def quotaEnforce(requests: DataFrame, buckets: DataFrame): DataFrame =
    requests
      .join(broadcast(buckets.select("volume", "bucket", "used_bytes",
        "used_namespace", "quota_bytes", "quota_namespace")),
        Seq("volume", "bucket"))
      .withColumn("decision",
        when(col("quota_bytes") > -1L &&
          col("quota_bytes") - col("used_bytes") < col("allocate_bytes"),
          lit("QUOTA_BYTES_EXCEEDED"))
          .when(col("quota_namespace") > -1L &&
            col("quota_namespace") < col("used_namespace") + 1,
            lit("QUOTA_NAMESPACE_EXCEEDED"))
          .otherwise(lit("ALLOWED")))
      .select("volume", "bucket", "key", "allocate_bytes", "decision")
      .orderBy("volume", "bucket", "key", "allocate_bytes")

  /**
   * Heatmap: access counts per (volume, bucket, top-level prefix) from audit
   * events, min/max-normalized at the root — ref HeatMapUtil.java:60-130
   * (tree build) and :102-111 (min/max normalization). Normalization is
   * integer-scaled: (cnt-min)*10000 div (max-min).
   */
  def heatmap(audit: DataFrame): DataFrame = {
    val counts = audit
      .filter(col("op") === "READ_KEY")
      .withColumn("prefix", concat_ws("/", slice(split(col("key"), "/"), 1, 2)))
      .groupBy("volume", "bucket", "prefix")
      .agg(count(lit(1)).as("access_count"))
    val stats = counts.agg(
      min("access_count").as("min_c"), max("access_count").as("max_c"))
    counts.crossJoin(stats)
      .withColumn("heat_x10000",
        when(col("max_c") > col("min_c"),
          expr("(access_count - min_c) * 10000 DIV (max_c - min_c)"))
          .otherwise(lit(0L)))
      .select("volume", "bucket", "prefix", "access_count", "heat_x10000")
      .orderBy("volume", "bucket", "prefix")
  }

  /**
   * Heatmap ENTITY TREE: one row per tree node across the
   * volume → volume/bucket → volume/bucket/prefix levels, each level
   * min/max-normalized among its own siblings — ref HeatMapUtil.java:60-130
   * (nested EntityMetaData tree with per-level rollups and :102-111
   * normalization). One `rollup()` pass computes every level in a single
   * shuffle; the per-level normalization is a window over the (tiny) node
   * table, never over raw events.
   */
  def heatmapTree(audit: DataFrame): DataFrame = {
    val base = audit
      .filter(col("op") === "READ_KEY")
      .withColumn("prefix", concat_ws("/", slice(split(col("key"), "/"), 1, 2)))
    // grouping_id bits (volume=4, bucket=2, prefix=1): 0 = leaf level,
    // 1 = bucket level, 3 = volume level, 7 = grand total (dropped)
    val nodes = base.rollup("volume", "bucket", "prefix")
      .agg(count(lit(1)).as("access_count"), grouping_id().as("gid"))
      .filter(col("gid") =!= 7)
      .withColumn("level",
        when(col("gid") === 0, 3).when(col("gid") === 1, 2).otherwise(1))
      .withColumn("path",
        when(col("level") === 1, col("volume"))
          .when(col("level") === 2, concat_ws("/", col("volume"), col("bucket")))
          .otherwise(concat_ws("/", col("volume"), col("bucket"), col("prefix"))))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("level")
    nodes
      .withColumn("min_c", min("access_count").over(w))
      .withColumn("max_c", max("access_count").over(w))
      .withColumn("heat_x10000",
        when(col("max_c") > col("min_c"),
          expr("(access_count - min_c) * 10000 DIV (max_c - min_c)"))
          .otherwise(lit(0L)))
      .select("level", "path", "access_count", "heat_x10000")
      .orderBy("level", "path")
  }

  /**
   * Skew-safe two-stage aggregation (salting): stage 1 groups on
   * (keys, salt) so a heavy-hitter key's rows split across `numSalts`
   * reducers; stage 2 combines the partials. Use when ONE key dominates a
   * reduce partition (hash partial aggregation alone doesn't help if the
   * final reduce of a single key exceeds one executor). Salt derives from
   * the physical partition id — correctness never depends on its value.
   */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     numSalts: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id(), lit(numSalts)))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(valueCol).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keys.map(col): _*)
      .agg(sum("__psum").as(s"total_$valueCol"), sum("__pcnt").as("cnt"))

  /** Pluggable heatmap source — ref recon/.../heatmap/IHeatMapProvider.java
    * (providers feed access events from different backends; here any
    * implementation yields the DataFrame [[heatmap]] consumes). */
  trait HeatmapProvider {
    def accessEvents(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame
  }

  /** Default provider: the audit-log synthesis (HeatMapUtil's audit source). */
  object AuditHeatmapProvider extends HeatmapProvider {
    def accessEvents(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
      graft.core.Tables.auditAccess(spark, dir)
  }

  /** Cluster-growth-style daily time series from the events table — ref
    * UtilizationSchemaDefinition.java:75-88 (cluster_growth_daily). Value
    * sums use integer cents (floor(value*100)) for cross-engine parity;
    * `ts_ms` comes pre-derived from the INT64-nanos column (Tables.events). */
  def dailyGrowth(events: DataFrame): DataFrame =
    events
      .withColumn("day", expr("ts_ms DIV 86400000"))
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("day", "event_type")
      .agg(
        count(lit(1)).as("event_count"),
        sum("cents").as("value_cents"),
        countDistinct("user_id").as("active_users"))
      .orderBy("day", "event_type")
}
