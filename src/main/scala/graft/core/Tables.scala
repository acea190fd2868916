package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Catalog of the engine's model tables, deterministically synthesized from the
 * driver testdata (TESTDATA.md) per FIXTURES.md §B — adapted to the actual
 * parquet schemas (lineitem carries only l_shipdate; no commit/receipt dates).
 *
 * Mirrors the reference's table catalog (apache/ozone
 * OMDBDefinition.java:145-360: keyTable, bucketTable, volumeTable, ...) as one
 * Dataset per table. Every expression here is a pure column expression with an
 * exact DuckDB SQL equivalent in [[graft.core.OracleCte]] so the driver's
 * DuckDB oracle reproduces the same rows bit-for-bit:
 *   - sizes floored to BIGINT (no double-rounding ambiguity),
 *   - times as epoch millis (unix_millis <-> epoch_ms),
 *   - only integer arithmetic downstream.
 *
 * Scale design: `objects` derives 1:1 from the lineitem scan — narrow
 * projection, no shuffle, no UDFs; at 100 TB it stays an embarrassingly
 * parallel map over parquet row-groups with full column pruning.
 */
object Tables {

  def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Epoch millis from a timestamp column. Parquet written by pandas carries
    * TIMESTAMP_NTZ; with the session TZ pinned to UTC the NTZ→LTZ cast treats
    * the wall-clock as UTC — exactly DuckDB's epoch_ms on a naive timestamp. */
  private def epochMs(c: org.apache.spark.sql.Column) =
    unix_millis(c.cast("timestamp"))

  /**
   * The namespace every READ path consumes — backed by the PERSISTED
   * key-sorted warehouse ([[objectsSorted]]), because the reference's
   * read paths all hit the stored RocksDB table, never a re-derivation:
   * a query against `objects` measures a stored-table scan (with real
   * column pruning + (volume,bucket) directory pruning + key-range
   * row-group stats), exactly like the sf1/sf10 probes. The synthesis
   * VIEW behind it is [[objectsView]] — fixture creation (ingest), used
   * only to build the warehouse.
   */
  def objects(spark: SparkSession, dir: String): DataFrame =
    // re-select the view's canonical column ORDER: the partitioned read
    // appends (volume, bucket) at the end, and positional consumers
    // (union, tuple encoders) must see the historical layout
    objectsSorted(spark, dir).select(
      "volume", "bucket", "key", "object_id", "data_size",
      "replicated_size", "replication_type", "creation_time",
      "modification_time", "owner", "tag_flag", "container_id",
      "version", "etag")

  /**
   * The synthesis view (ingest definition) — see [[objects]].
   * objects ≈ keyTable/fileTable union (ref OmKeyInfo.java:72-113).
   * Keys are 3-level paths `warehouse/<flag>/<orderkey>/<linenumber>.dat` to
   * exercise delimiter grouping and fake-directory synthesis.
   */
  def objectsView(spark: SparkSession, dir: String): DataFrame = {
    val li = raw(spark, dir, "lineitem")
    val dataSize = floor(col("l_extendedprice")).cast("long")
    val repl = col("l_linenumber") % 3
    li.select(
      concat(lit("vol"), (col("l_orderkey") % 4).cast("string")).as("volume"),
      concat(lit("bucket"), (col("l_suppkey") % 10).cast("string")).as("bucket"),
      concat(
        lit("warehouse/"), col("l_returnflag"), lit("/"),
        col("l_orderkey").cast("string"), lit("/"),
        col("l_linenumber").cast("string"), lit(".dat")).as("key"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("object_id"),
      dataSize.as("data_size"),
      when(repl === 0, dataSize * 3)
        .when(repl === 1, expr("CAST(floor(l_extendedprice) AS BIGINT) * 5 DIV 3"))
        .otherwise(dataSize).as("replicated_size"),
      when(repl === 0, lit("RATIS/THREE"))
        .when(repl === 1, lit("EC/rs-3-2-1024k"))
        .otherwise(lit("RATIS/ONE")).as("replication_type"),
      epochMs(col("l_shipdate")).as("creation_time"),
      (epochMs(col("l_shipdate")) + col("l_linenumber") * 86400000L)
        .as("modification_time"),
      concat(lit("clerk"), (col("l_orderkey") % 7).cast("string")).as("owner"),
      col("l_returnflag").as("tag_flag"),
      (col("l_orderkey") % 1000).as("container_id"),
      col("l_linenumber").cast("long").as("version"))
      .withColumn("etag", md5(col("key")))
  }

  // ---- persisted key-sorted namespace (the "RocksDB" of the engine) ----

  /**
   * The namespace as a PERSISTED key-sorted table: `objects` written once
   * per (JVM, source dir) as parquet partitioned by (volume, bucket) and
   * sorted by `key` within each file — the engine's analog of the
   * reference's key-sorted RocksDB column family
   * (OmMetadataManagerImpl.java:1144-1172 iterator.seek).
   *
   * Why this layout at 100 TB: every listing query scopes to
   * volume = v AND bucket = b, which becomes a DIRECTORY partition filter
   * (only that bucket's files are listed/read — true O(bucket) pruning),
   * and the in-file key sort gives parquet row-group min/max stats that
   * skip all ranges not overlapping the prefix/startKey range — together
   * the O(page) "seek" the reference gets from RocksDB.
   */
  def objectsSorted(spark: SparkSession, dir: String): DataFrame =
    TempDirs.read(spark, TempDirs.artifact("wh", dir)(
      objectsView(spark, dir)
        .repartition(col("volume"), col("bucket"))
        // sort includes the partition columns: the partitioned write's
        // required ordering is then already satisfied, so FileFormatWriter
        // inserts NO extra sort — an added partition-cols-only sort is not
        // key-stable and would silently break in-file key order (the
        // contract latestVersionWinsSorted's fold depends on)
        .sortWithinPartitions(col("volume"), col("bucket"), col("key"))
        .write.partitionBy("volume", "bucket").mode("overwrite").parquet(_)))

  /** buckets (ref OmBucketInfo.java:52-114): usage rollup + deterministic quotas. */
  // The bucket catalog is a 40-row dim derived by aggregating the whole
  // objects table — and nearly every write ladder probes it (often more
  // than once per query plan). Materialize it once per JVM like the FSO
  // tables so a ladder pays a 40-row parquet read, not a corpus shuffle
  // per reference.
  def buckets(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "buckets", dir) { bucketsUncached(spark, dir) }

  /** The (volume, bucket) pairs of [[buckets]] on the driver, collected
    * once per JVM: the set a per-request link chase checks its terminal
    * against. */
  def bucketKeys(spark: SparkSession, dir: String): Set[(String, String)] =
    TempDirs.collect("buckets", dir) {
      buckets(spark, dir).select("volume", "bucket").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }

  private def bucketsUncached(spark: SparkSession, dir: String): DataFrame = {
    objects(spark, dir)
      .groupBy("volume", "bucket")
      .agg(
        sum("data_size").as("used_bytes"),
        count(lit(1)).as("used_namespace"))
      .withColumn("bucket_idx",
        substring(col("bucket"), 7, 10).cast("long"))
      .withColumn("quota_bytes",
        when(col("bucket_idx") === 9, lit(1000000L))
          .when(col("bucket_idx") === 5, lit(-1L))
          .otherwise((col("bucket_idx") + 1) * 100000000L))
      .withColumn("quota_namespace",
        when(col("bucket_idx") === 9, lit(100L)).otherwise(lit(1000000L)))
      .withColumn("layout",
        when(col("bucket_idx") % 2 === 0, lit("OBS")).otherwise(lit("FSO")))
      .drop("bucket_idx")
  }

  /**
   * bucket_links: symlink buckets — no keys of their own; every key op
   * chases source_volume/source_bucket (ref OmBucketInfo.java:89-91,305-307
   * isLink, resolution OmMetadataManagerImpl.java:1089-1093). The static
   * catalog covers every resolution class: a direct link, a 2-hop chain,
   * a dangling target, and a 2-cycle.
   */
  val bucketLinkRows = Fixture(
    "volume", "bucket", "source_volume", "source_bucket")(
    ("vol1", "link-a", "vol0", "bucket0"),
    ("vol2", "link-b", "vol1", "link-a"),
    ("vol3", "link-broken", "vol0", "no-such-bucket"),
    ("vol0", "link-cycle1", "vol0", "link-cycle2"),
    ("vol0", "link-cycle2", "vol0", "link-cycle1"))

  def bucketLinks(spark: SparkSession, dir: String): DataFrame =
    bucketLinkRows.df(spark)

  /** volumes (ref OmVolumeArgs.java:50-71). */
  def volumes(spark: SparkSession, dir: String): DataFrame =
    buckets(spark, dir)
      .groupBy("volume")
      .agg(
        sum("used_bytes").as("used_bytes"),
        sum("used_namespace").as("used_namespace"),
        count(lit(1)).as("bucket_count"))
      .withColumn("quota_bytes", lit(1000000000000L))
      .withColumn("owner",
        concat(lit("admin"), substring(col("volume"), 4, 10)))

  /**
   * The OM volume/bucket CATALOG the Recon listing endpoints walk —
   * ReconOmMetadataManagerImpl.java:196-311 iterates volumeTable /
   * bucketTable directly, and a freshly-created volume or bucket has a
   * catalog row BEFORE any key lands in it. The usage dims above are
   * object-derived (so they structurally cannot hold a zero-object
   * entry); these catalog views are the derived dims plus planted
   * zero-object rows: volume `vol21` (sorts between vol2 and vol3, so
   * it occupies a mid-page slot) and bucket `vol2/bucket41` (sorts
   * between bucket4 and bucket5 — inside q_recon_buckets' 4-row page
   * window, displacing bucket7). Quotas/layout follow the same
   * idx-derived formulas as the derived rows (idx 41: quota 42·10⁸,
   * FSO layout).
   */
  def volumesCatalog(spark: SparkSession, dir: String): DataFrame = {
    // derived from bucketsCatalog (not the usage dim) so vol2's
    // bucket_count includes the planted zero-object bucket41 — the
    // reference walking bucketTable would count it
    bucketsCatalog(spark, dir)
      .groupBy("volume")
      .agg(
        sum("used_bytes").as("used_bytes"),
        sum("used_namespace").as("used_namespace"),
        count(lit(1)).as("bucket_count"))
      .withColumn("quota_bytes", lit(1000000000000L))
      .withColumn("owner",
        concat(lit("admin"), substring(col("volume"), 4, 10)))
      .unionByName(plantedVolumeRows.df(spark))
  }

  /** The planted zero-object volume of [[volumesCatalog]]. */
  val plantedVolumeRows = Fixture("volume", "used_bytes", "used_namespace",
    "bucket_count", "quota_bytes", "owner")(
    ("vol21", 0L, 0L, 0L, 1000000000000L, "admin21"))

  /** Bucket-table dual of [[volumesCatalog]] — see its scaladoc. */
  def bucketsCatalog(spark: SparkSession, dir: String): DataFrame =
    buckets(spark, dir).unionByName(plantedBucketRows.df(spark))

  /** The planted zero-object bucket of [[bucketsCatalog]]. */
  val plantedBucketRows = Fixture("volume", "bucket", "used_bytes",
    "used_namespace", "quota_bytes", "quota_namespace", "layout")(
    ("vol2", "bucket41", 0L, 0L, 4200000000L, 1000000L, "FSO"))

  /** containers_scm: ids 0..999 (ref ContainerEndpoint.java:792-796). */
  def containersScm(spark: SparkSession, dir: String): DataFrame =
    spark.range(1000).toDF("container_id")
      .withColumn("state",
        when(col("container_id") % 97 === 0, lit("DELETED"))
          .otherwise(lit("CLOSED")))
      .withColumn("replication_factor", lit(3))
      .withColumn("used_bytes", (col("container_id") + 1) * 1000000L)

  /** doc_urls: crawl URLs synthesized from documents with every
    * canonicalization hazard — scheme/host case, explicit default vs
    * real ports, duplicate slashes, index.html suffixes, tracking
    * params, param order, fragments. doc_id DIV 7 groups collide after
    * canonicalization exactly when the differing raw parts all fold. */
  def docUrls(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(
      col("doc_id"),
      concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 4 === 0, lit("Example.COM"))
          .when(col("doc_id") % 4 === 1, lit("example.com"))
          .when(col("doc_id") % 4 === 2, lit("cdn.example.com"))
          .otherwise(lit("data.net")),
        when(col("doc_id") % 5 === 0, lit(":443"))
          .when(col("doc_id") % 5 === 1, lit(":8080")).otherwise(lit("")),
        lit("/crawl//"), expr("doc_id DIV 7").cast("string"),
        when(col("doc_id") % 3 === 0, lit("/index.html"))
          .otherwise(lit("/")),
        when(col("doc_id") % 6 === 0, lit("?utm_source=feed&ref=1"))
          .when(col("doc_id") % 6 === 1, lit("?ref=1&utm_source=mail"))
          .when(col("doc_id") % 6 === 2, lit("?b=2&a=1"))
          .when(col("doc_id") % 6 === 3, lit("?a=1&b=2"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("#sec")).otherwise(lit("")))
        .as("url"))

  /** ec_read_blocks: degraded-read scenarios — full/short blocks, every
    * reader transition, parity shortfall, both EC widths. Sizes in MiB
    * units (chunk 1048576). */
  val ecReadBlockRows
  : Fixture[(Long, Int, Int, Long, Long, String)] = Fixture(
    "block_id", "ec_data", "ec_parity", "chunk_size", "block_len", "avail")(
    (1L, 3, 2, 1048576L, 3145728L, "1,2,3"),
    (2L, 3, 2, 1048576L, 3145728L, "1,2,4"),
    (3L, 3, 2, 1048576L, 3145728L, "1,4,5"),
    (4L, 3, 2, 1048576L, 3145728L, "1,5"),
    (5L, 3, 2, 1048576L, 1048576L, "2,4"),
    (6L, 3, 2, 1048576L, 2621440L, "1,2,3,4,5"),
    (7L, 3, 2, 1048576L, 524288L, "1"),
    (8L, 6, 3, 1048576L, 6291456L, "1,2,3,7,8,9"),
    (9L, 6, 3, 1048576L, 6291456L, "1,2,7,8"))

  def ecReadBlocks(spark: SparkSession, dir: String): DataFrame =
    ecReadBlockRows.df(spark)

  /** dn_close_commands: every rung of the DN close-command ladder. */
  val dnCloseCommandRows
  : Fixture[(Long, Boolean, String, Boolean, Boolean)] = Fixture(
    "cmd_id", "container_present", "state", "pipeline_in_channel", "force")(
    (1L, false, "OPEN", true, false),
    (2L, true, "OPEN", true, false),
    (3L, true, "CLOSING", false, true),
    (4L, true, "CLOSING", false, false),
    (5L, true, "QUASI_CLOSED", false, true),
    (6L, true, "QUASI_CLOSED", false, false),
    (7L, true, "CLOSED", false, true),
    (8L, true, "UNHEALTHY", false, true),
    (9L, true, "OPEN", false, false),
    (10L, true, "INVALID", true, false))

  def dnCloseCommands(spark: SparkSession, dir: String): DataFrame =
    dnCloseCommandRows.df(spark)

  /** acl_chain_scenarios: (resource, op, ownership, authorizer)
    * combinations for the multi-level ACL routing — volume ops, the
    * volume-owner bypass, native-vs-ranger bucket parents, and the full
    * key/prefix parent mapping. */
  val aclChainScenarioRows
  : Fixture[(Long, String, String, Boolean, Boolean)] = Fixture(
    "sc_id", "res_type", "acl_type", "is_vol_owner", "native_enabled")(
    (1L, "VOLUME", "READ", false, true),
    (2L, "BUCKET", "CREATE", true, true),
    (3L, "BUCKET", "CREATE", false, true),
    (4L, "BUCKET", "CREATE", false, false),
    (5L, "BUCKET", "DELETE", false, true),
    (6L, "BUCKET", "WRITE", false, false),
    (7L, "KEY", "WRITE", false, true),
    (8L, "KEY", "DELETE", false, true),
    (9L, "KEY", "READ", false, false),
    (10L, "PREFIX", "LIST", false, true),
    (11L, "KEY", "WRITE_ACL", false, true),
    (12L, "KEY", "READ_ACL", false, true),
    (13L, "PREFIX", "CREATE", false, true),
    (14L, "KEY", "READ", true, true))

  def aclChainScenarios(spark: SparkSession, dir: String): DataFrame =
    aclChainScenarioRows.df(spark)

  /** dead_node_events: resurrection races (at event, mid-handling),
    * maintenance suppression, and the unconditional clears. */
  val deadNodeEventRows
  : Fixture[(Long, String, Boolean, Long, Long, Long, String,
    Boolean)] = Fixture(
    "node_id", "health_at_event", "in_maintenance", "n_pipelines",
    "n_replicas", "n_commands", "health_at_topology", "in_topology")(
    (1L, "HEALTHY", false, 2L, 10L, 3L, "HEALTHY", true),
    (2L, "DEAD", false, 2L, 10L, 3L, "DEAD", true),
    (3L, "DEAD", true, 1L, 7L, 2L, "DEAD", true),
    (4L, "DEAD", false, 0L, 4L, 0L, "HEALTHY_READONLY", true),
    (5L, "DEAD", false, 3L, 5L, 1L, "DEAD", false),
    (6L, "STALE", false, 2L, 6L, 2L, "DEAD", true))

  def deadNodeEvents(spark: SparkSession, dir: String): DataFrame =
    deadNodeEventRows.df(spark)

  /** close_container_events: every rung of the CLOSE_CONTAINER ladder —
    * non-leader, OPEN→FINALIZE, CLOSING direct, non-RATIS force, gone
    * pipeline falling back to replica targets, queued skip, and the
    * no-op states. */
  val closeContainerEventRows
  : Fixture[(Long, Boolean, String, String, Boolean, Long, Long, Boolean)] =
    Fixture(
      "event_id", "is_leader", "state", "rep_type", "pipeline_exists",
      "n_pipeline_nodes", "n_replica_nodes", "already_queued")(
      (1L, false, "OPEN", "RATIS", true, 3L, 3L, false),
      (2L, true, "OPEN", "RATIS", true, 3L, 2L, false),
      (3L, true, "CLOSING", "RATIS", true, 3L, 3L, false),
      (4L, true, "CLOSING", "EC", true, 5L, 4L, false),
      (5L, true, "CLOSING", "STAND_ALONE", false, 0L, 1L, false),
      (6L, true, "CLOSING", "RATIS", false, 0L, 2L, false),
      (7L, true, "CLOSING", "RATIS", true, 3L, 3L, true),
      (8L, true, "CLOSED", "RATIS", true, 3L, 3L, false),
      (9L, true, "QUASI_CLOSED", "RATIS", true, 3L, 3L, false),
      (10L, true, "OPEN", "EC", true, 5L, 5L, false))

  def closeContainerEvents(spark: SparkSession, dir: String): DataFrame =
    closeContainerEventRows.df(spark)

  /** pipeline_creator_scenarios: (default_type, flags) combinations for
    * the background creator's selection table and run gate. */
  val pipelineCreatorScenarioRows
  : Fixture[(Long, String, Boolean, Boolean, Boolean, Boolean,
    Boolean)] = Fixture(
    "sc_id", "default_type", "auto_factor_one", "create_ratis_three_for_ec",
    "leader_ready", "in_safemode", "create_in_safemode")(
    (1L, "RATIS", false, false, true, false, false),
    (2L, "RATIS", true, false, true, false, false),
    (3L, "EC", false, true, true, false, false),
    (4L, "EC", false, false, true, false, false),
    (5L, "STAND_ALONE", false, false, true, false, false),
    (6L, "INVALID", true, true, true, false, false),
    (7L, "RATIS", false, false, false, false, false),
    (8L, "RATIS", false, false, true, true, false),
    (9L, "RATIS", false, false, true, true, true))

  def pipelineCreatorScenarios(spark: SparkSession,
                               dir: String): DataFrame =
    pipelineCreatorScenarioRows.df(spark)

  /** ec_provider_pipelines: the OPEN rs-3-2 pipelines the EC writable
    * provider walks — a fresh one, a full one, a container-less one, a
    * roomy one, an EXACT-boundary one (used+block == containerSize still
    * fits), and a one-byte-over one. */
  val ecProviderPipelineRows: Fixture[(Long, Boolean, Long)] = Fixture(
    "pipeline_id", "has_container", "used_bytes")(
    (1L, true, 100000L), (2L, true, 950000L), (3L, false, 0L),
    (4L, true, 200000L), (5L, true, 900000L), (6L, true, 999999L))

  def ecProviderPipelines(spark: SparkSession, dir: String): DataFrame =
    ecProviderPipelineRows.df(spark)

  /** ec_provider_excludes: per-scenario exclude sets (set B empty). */
  val ecProviderExcludeRows: Fixture[(String, Long)] = Fixture(
    "set_id", "pipeline_id")(
    ("A", 1L), ("A", 4L), ("C", 1L), ("C", 4L), ("C", 5L))

  def ecProviderExcludes(spark: SparkSession, dir: String): DataFrame =
    ecProviderExcludeRows.df(spark)

  /** ec_provider_requests: allocation scenarios — pre-gate mint, pre-gate
    * failure falling to the walk, skip/close walks, the final-attempt
    * node-count raise, the FAIL_LIMIT boundary (raised limit == open
    * count), the final-attempt create failure, and the volume-factor
    * limit formula. */
  val ecProviderRequestRows
  : Fixture[(Long, Long, Long, Long, Long, Boolean, String)] = Fixture(
    "req_id", "min_pipelines", "factor_bp", "healthy_volumes", "node_count",
    "create_fails", "set_id")(
    (1L, 10L, 0L, 0L, 10L, false, "B"),
    (2L, 10L, 0L, 0L, 10L, true, "B"),
    (3L, 2L, 0L, 0L, 10L, false, "A"),
    (4L, 2L, 0L, 0L, 10L, false, "C"),
    (5L, 2L, 0L, 0L, 3L, false, "C"),
    (6L, 2L, 0L, 0L, 10L, true, "C"),
    (7L, 2L, 20000L, 25L, 10L, false, "B"),
    (8L, 6L, 0L, 0L, 10L, false, "B"))

  def ecProviderRequests(spark: SparkSession, dir: String): DataFrame =
    ecProviderRequestRows.df(spark)

  /** chatbot_allowlist: the EXACT Recon routes the chatbot may call
    * (ReconApiAllowlist.java:32-62). */
  val chatbotAllowlistRows: Fixture[String] = Fixture("tool")(
    "api_v1_clusterState", "api_v1_datanodes", "api_v1_pipelines",
    "api_v1_containers", "api_v1_containers_missing",
    "api_v1_containers_unhealthy", "api_v1_containers_unhealthy_state",
    "api_v1_containers_deleted", "api_v1_containers_mismatch",
    "api_v1_containers_mismatch_deleted", "api_v1_containers_quasiClosed",
    "api_v1_containers_unhealthy_export", "api_v1_keys_open",
    "api_v1_keys_open_summary", "api_v1_keys_open_mpu_summary",
    "api_v1_keys_deletePending_summary", "api_v1_keys_deletePending",
    "api_v1_keys_deletePending_dirs",
    "api_v1_keys_deletePending_dirs_summary", "api_v1_keys_listKeys",
    "api_v1_volumes", "api_v1_buckets", "api_v1_task_status",
    "api_v1_utilization_fileCount", "api_v1_utilization_containerCount",
    "api_v1_namespace_summary", "api_v1_namespace_usage",
    "api_v1_namespace_quota", "api_v1_namespace_dist")

  def chatbotAllowlist(spark: SparkSession, dir: String): DataFrame =
    chatbotAllowlistRows.df(spark)

  /** chatbot_calls: LLM tool-call fixtures probing every guard rung —
    * the keys2-vs-keys exact-match probe, each bucket-scope refusal,
    * the limit parse artifacts (blank/garbage/overflow → default, but a
    * PARSEABLE ≤0 throws), clamp and trim, and the empty-tool fallback. */
  val chatbotCallRows
  : Fixture[(Long, String, String, String, Boolean)] = Fixture(
    "call_id", "tool_name", "start_prefix", "limit_raw", "has_prev_key")(
    (1L, "api_v1_datanodes", null, null, false),
    (2L, "api_v1_keys2", null, null, false),
    (3L, "api_v1_keys_listKeys", "/vol1/bucket1", "50", false),
    (4L, "api_v1_keys_listKeys", "/vol1", null, false),
    (5L, "api_v1_keys_listKeys", "/", null, false),
    (6L, "api_v1_keys_listKeys", "vol1/bucket1", null, false),
    (7L, "api_v1_keys_listKeys", "/vol1/../b", null, false),
    (8L, "api_v1_keys_listKeys", "  /v/b/deep/path  ", null, false),
    (9L, "api_v1_containers", null, "5000", true),
    (10L, "api_v1_containers", null, "abc", false),
    (11L, "api_v1_containers", null, "0", false),
    (12L, "api_v1_containers", null, "-7", false),
    (13L, "api_v1_containers", null, "99999999999", false),
    (14L, "api_v1_containers", null, "  250 ", false),
    (15L, "api_v1_namespace_summary", "/x", null, false),
    (16L, "", null, null, false),
    (17L, "api_v1_containers", null, "   ", true),
    (18L, "api_v1_keys_listKeys", null, "10", false),
    (19L, "api_v1_containers", null, "+25", false))

  def chatbotCalls(spark: SparkSession, dir: String): DataFrame =
    chatbotCallRows.df(spark)

  /** gdpr_keys: metadata-map fixtures for the GDPR delete scrub — the
    * case-insensitive "true" parse, the parseBoolean("yes")=false
    * artifact, absent flags, and a custom entry that must survive the
    * scrub. */
  val gdprKeyRows
  : Fixture[(String, String, Boolean, Boolean, String, Boolean)] = Fixture(
    "key_id", "gdpr_flag_raw", "has_secret", "has_algorithm", "extra_meta",
    "has_enc_info")(
    ("k1", "true", true, true, "a", true),
    ("k2", "TRUE", true, false, "", true),
    ("k3", "false", true, true, "b", true),
    ("k4", null, false, false, "c", false),
    ("k5", "yes", true, false, "", true),
    ("k6", "true", false, false, "", false))

  def gdprKeys(spark: SparkSession, dir: String): DataFrame = {
    val flat = gdprKeyRows.df(spark)
    val empty = typedLit(Map.empty[String, String])
    flat.withColumn("metadata", map_concat(
        when(col("gdpr_flag_raw").isNotNull,
          map(lit("gdprEnabled"), col("gdpr_flag_raw"))).otherwise(empty),
        when(col("has_secret"), map(lit("secret"), lit("s3cr3t")))
          .otherwise(empty),
        when(col("has_algorithm"), map(lit("algorithm"), lit("AES")))
          .otherwise(empty),
        when(col("extra_meta") =!= "", map(lit("custom"), col("extra_meta")))
          .otherwise(empty)))
      .select("key_id", "metadata", "has_enc_info")
  }

  /** layout_features: the HDDS layout-feature catalog
    * (HDDSLayoutFeature.java:28-45) — consecutive layout versions 0..10. */
  val layoutFeatureRows: Fixture[(String, Long)] = Fixture(
    "feature", "version")(
    ("INITIAL_VERSION", 0L), ("DATANODE_SCHEMA_V2", 1L), ("SCM_HA", 2L),
    ("ERASURE_CODED_STORAGE_SUPPORT", 3L), ("DATANODE_SCHEMA_V3", 4L),
    ("RATIS_DATASTREAM_PORT_IN_DATANODEDETAILS", 5L),
    ("WEBUI_PORTS_IN_DATANODEDETAILS", 6L),
    ("HADOOP_PRC_PORTS_IN_DATANODEDETAILS", 7L), ("HBASE_SUPPORT", 8L),
    ("WITNESSED_CONTAINER_DB_PROTO_VALUE", 9L),
    ("STORAGE_SPACE_DISTRIBUTION", 10L))

  def layoutFeatures(spark: SparkSession, dir: String): DataFrame =
    layoutFeatureRows.df(spark)

  /** finalization_components: per-component upgrade state probing every
    * checkpoint combination, both inconsistent-state refusals, the
    * MLV-ahead startup guard, and the zero-pending walk. */
  val finalizationComponentRows
  : Fixture[(Long, String, Long, Long, Boolean, String)] = Fixture(
    "comp_id", "kind", "mlv", "slv", "has_mark", "upgrade_state")(
    (1L, "OM", 3L, 10L, false, "FINALIZATION_REQUIRED"),
    (2L, "SCM", 5L, 10L, true, "FINALIZATION_IN_PROGRESS"),
    (3L, "SCM", 10L, 10L, true, "FINALIZATION_IN_PROGRESS"),
    (4L, "DN", 10L, 10L, false, "FINALIZATION_DONE"),
    (5L, "OM", 8L, 10L, false, "FINALIZATION_DONE"),
    (6L, "OM", 10L, 10L, false, "FINALIZATION_REQUIRED"),
    (7L, "DN", 11L, 10L, false, "ALREADY_FINALIZED"),
    (8L, "SCM", 0L, 10L, true, "STARTING_FINALIZATION"),
    (9L, "DN", 10L, 10L, true, "ALREADY_FINALIZED"),
    (10L, "OM", 0L, 0L, false, "ALREADY_FINALIZED"))

  def finalizationComponents(spark: SparkSession, dir: String): DataFrame =
    finalizationComponentRows.df(spark)

  /** capacity_volumes: the DN volume pool the capacity choosing policy
    * filters and compares — an OK pair with distinct ratios, a soft-band
    * volume (usable-at-reported-spare exactly at the request), a
    * hard-rejected one, a zero-capacity volume (ratio-0 guard), a
    * committed-overrun volume (free clamps to 0), and vol7 whose free
    * ratio EXACTLY ties vol2 (200000/10⁶ == 400000/2·10⁶ — the
    * first-pick-wins tie probe). Request size is 100000. */
  val capacityVolumeRows
  : Fixture[(Long, Long, Long, Long, Long, Long)] = Fixture(
    "vol_id", "capacity", "remaining", "committed", "hard_spare",
    "reported_spare")(
    (1L, 1000000L, 600000L, 100000L, 20000L, 40000L),
    (2L, 1000000L, 300000L, 100000L, 20000L, 40000L),
    (3L, 1000000L, 160000L, 20000L, 20000L, 40000L),
    (4L, 1000000L, 130000L, 20000L, 20000L, 40000L),
    (5L, 0L, 250000L, 10000L, 20000L, 40000L),
    (6L, 500000L, 400000L, 450000L, 0L, 0L),
    (7L, 2000000L, 500000L, 100000L, 50000L, 80000L))

  def capacityVolumes(spark: SparkSession, dir: String): DataFrame =
    capacityVolumeRows.df(spark)

  /** capacity_pipe_nodes: pipeline→member scmUsed/capacity stats for the
    * capacity-pipeline comparator — p1/p2 share their two heaviest nodes
    * exactly and split at round 3; p3 is p1's two-node prefix (stack
    * exhaustion); p4's head node has p1's head WEIGHT (0.8) at half the
    * raw bytes (the raw-used tiebreak probe). */
  val capacityPipeNodeRows: Fixture[(String, String, Long, Long)] = Fixture(
    "pipeline_id", "node", "used", "capacity")(
    ("p1", "n01", 800000L, 1000000L), ("p1", "n02", 500000L, 1000000L),
    ("p1", "n03", 200000L, 1000000L),
    ("p2", "n04", 800000L, 1000000L), ("p2", "n05", 500000L, 1000000L),
    ("p2", "n06", 300000L, 1000000L),
    ("p3", "n07", 800000L, 1000000L), ("p3", "n08", 500000L, 1000000L),
    ("p4", "n09", 400000L, 500000L), ("p4", "n10", 500000L, 1000000L),
    ("p4", "n11", 200000L, 1000000L))

  def capacityPipeNodes(spark: SparkSession, dir: String): DataFrame =
    capacityPipeNodeRows.df(spark)

  /** safemode_ec_containers: the typed SCM container catalog the EC-aware
    * safemode rules track — RATIS and EC (both rs-3-2 and rs-6-3 widths;
    * the 6-wide stripe is deliberately unsatisfiable against the ≤5-reporter
    * synthesis below), with OPEN/QUASI_CLOSED/DELETED states and empty
    * containers (num_keys=0) probing every exclusion. */
  def safemodeEcContainers(spark: SparkSession, dir: String): DataFrame =
    spark.range(600).toDF("container_id")
      .withColumn("rep_type",
        when(col("container_id") % 3 === 0, lit("EC"))
          .otherwise(lit("RATIS")))
      .withColumn("ec_data",
        when(col("rep_type") === "EC",
          when(expr("(container_id DIV 3) % 2 = 0"), lit(3)).otherwise(lit(6)))
          .otherwise(lit(0)))
      .withColumn("ec_parity",
        when(col("rep_type") === "EC",
          when(col("ec_data") === 3, lit(2)).otherwise(lit(3)))
          .otherwise(lit(0)))
      .withColumn("state",
        when(col("container_id") % 97 === 0, lit("DELETED"))
          .when(col("container_id") % 13 === 5, lit("OPEN"))
          .when(col("container_id") % 13 === 9, lit("QUASI_CLOSED"))
          .otherwise(lit("CLOSED")))
      .withColumn("num_keys",
        when(col("container_id") % 17 === 3, lit(0L))
          .otherwise(col("container_id") % 50 + 1))

  /** safemode_ec_reports: registration-report replicas — container
    * (id DIV 3) % 6 distinct reporting datanodes (0..5), so Ratis' ≥1 and
    * the rs-3-2 EC ≥3 thresholds both split their populations (a plain
    * id-mod count is anti-correlated with the EC width derivation and
    * leaves the EC comparison untested). */
  def safemodeEcReports(spark: SparkSession, dir: String): DataFrame =
    spark.range(600).toDF("container_id")
      .crossJoin(spark.range(5).toDF("r"))
      .filter(col("r") < expr("(container_id DIV 3) % 6"))
      .select(col("container_id"),
        concat(lit("dn"), ((col("container_id") + col("r") * 3) % 20)
          .cast("string")).as("datanode"))

  /** containers_om: rollup of object locations; ids %89==0 dropped to create
    * OM∖SCM mismatches (ref ContainerKeyMapperHelper). */
  def containersOm(spark: SparkSession, dir: String): DataFrame =
    objects(spark, dir)
      .filter(col("container_id") % 89 =!= 0)
      .groupBy("container_id")
      .agg(count(lit(1)).as("num_keys"), sum("data_size").as("used_bytes"))

  /**
   * replicas: 3 per container; %13==0 loses one (under-replicated), %17==0
   * gains one (over-replicated), replica 1 of %29==0 is UNHEALTHY
   * (ref ContainerHealthStatus.java:46-124). Topology: 20 datanodes in 5
   * racks (rack = dn % 5). Normal placement strides datanodes by 1 → three
   * distinct racks; %23==0 containers stride by 5 → all replicas land in
   * ONE rack (full count, placement-policy violation ⇒ MIS_REPLICATED,
   * ref ContainerHealthStatus.java:135 isMisReplicated).
   */
  def replicas(spark: SparkSession, dir: String): DataFrame = {
    val base = containersScm(spark, dir).select("container_id")
      .crossJoin(spark.range(4).toDF("r"))
      .filter(
        (col("r") <= 2 && !(col("container_id") % 13 === 0 && col("r") === 2)) ||
        (col("r") === 3 && col("container_id") % 17 === 0))
    val dnNum = (col("container_id") +
      when(col("container_id") % 23 === 0, col("r") * 5).otherwise(col("r"))) % 20
    base
      .withColumn("datanode", concat(lit("dn"), dnNum.cast("string")))
      .withColumn("rack", concat(lit("rack"), (dnNum % 5).cast("string")))
      .withColumn("replica_state",
        when(col("container_id") % 29 === 0 && col("r") === 1, lit("UNHEALTHY"))
          .otherwise(lit("CLOSED")))
      .drop("r")
  }

  /**
   * Snapshot pair for diff tests (ref SnapshotDiffManager.java:1397-1469).
   * v1 = objects created on/before CUT1; v2 = objects created after CUT0,
   * with renames (linenumber==2, same object_id, key suffix changes) and
   * modifies (linenumber==3, data_size+1). Cuts are epoch-ms of 1999-06-01
   * and 1996-06-01 applied to creation_time (= epoch of l_shipdate).
   *   - rows ≤ CUT0           → only v1 → DELETE
   *   - rows > CUT1           → only v2 → CREATE
   *   - overlap, linenumber 2 → RENAME; 3 → MODIFY; else UNCHANGED
   */
  val SnapCut0Ms = 833587200000L // 1996-06-01T00:00:00Z
  val SnapCut1Ms = 928195200000L // 1999-06-01T00:00:00Z

  /** The synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
    * object_id is not unique; snapshots dedup to one row per object_id
    * (deterministic representative: max data_size, then key) so the diff
    * join is 1:1 — mirrors the namespace invariant of the reference. */
  private def dedupByObjectId(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("object_id")
      .orderBy(col("data_size").desc, col("key"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // Memoized (TempDirs.parquet): three declared queries (diff / page /
  // summary) consume both snapshots in one sweep, and each dedup is a full
  // row_number window over the namespace — checkpoint cost, paid once per
  // JVM, exactly like the reference's persisted snapshot checkpoints.
  def snapshotV1(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "snapv1", dir)(
      dedupByObjectId(objects(spark, dir).filter(col("creation_time") <= SnapCut1Ms)))

  def snapshotV2(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "snapv2", dir) {
      val o = objects(spark, dir).filter(col("creation_time") > SnapCut0Ms)
      dedupByObjectId(
        o.withColumn("key",
            when(col("version") === 2, concat(col("key"), lit(".renamed")))
              .otherwise(col("key")))
          .withColumn("data_size",
            when(col("version") === 3, col("data_size") + 1)
              .otherwise(col("data_size"))))
    }

  /** Block/chunk size of the nested location lists (small so the synthetic
    * objects span several blocks; the reference default is 4 MB chunks). */
  val LocChunkBytes = 16384L

  /**
   * objects with the reference's REAL nested shape (OmKeyInfo.java:72-113):
   *   - tags  MAP<STRING,STRING>          (ImmutableMap tags)
   *   - acls  ARRAY<STRUCT<name,type,rights>>  (List<OzoneAcl>)
   *   - locations ARRAY<STRUCT<container_id,local_id,offset,length>>
   *     (List<OmKeyLocationInfo> — one struct per LocChunkBytes block).
   * All nested values derive deterministically from flat columns so oracle
   * queries have closed flat forms.
   */
  // The nested attributes (tags map, acl array, chunk locations) are
  // PERSISTED key-table value fields in the reference (OmKeyInfo), not a
  // per-query derivation — memoize like the other stored tables so the
  // five consumers (tag expiry, acl probes, locations, merkle) pay a
  // parquet scan, not a per-row array/struct re-synthesis each.
  def objectsNested(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "nested", dir)(nestedFrom(objects(spark, dir)))

  /** The nested-column synthesis over an objects-shaped input. */
  private def nestedFrom(objects: DataFrame): DataFrame =
    objects
      .withColumn("tags",
        map(lit("flag"), col("tag_flag"), lit("owner"), col("owner")))
      .withColumn("acls", array(
        struct(col("owner").as("name"), lit("USER").as("type"),
          lit("rwx").as("rights")),
        struct(lit("world").as("name"), lit("GROUP").as("type"),
          lit("r--").as("rights")),
        // non-owner USER grant whose rights vary — a principal-accurate
        // probe must match name AND type AND rights, not just ownership
        struct(concat(lit("auditor"), (col("object_id") % 3).cast("string"))
            .as("name"), lit("USER").as("type"),
          when(col("version") % 2 === 0, lit("r--")).otherwise(lit("-w-"))
            .as("rights"))))
      .withColumn("locations",
        expr(s"""transform(
          sequence(CAST(0 AS BIGINT), (data_size - 1) DIV $LocChunkBytes),
          i -> struct(
            container_id AS container_id,
            object_id * 100 + i AS local_id,
            i * $LocChunkBytes AS offset,
            least($LocChunkBytes, data_size - i * $LocChunkBytes) AS length))"""))

  // ---- FSO parent-pointer namespace (directoryTable/fileTable,
  // ref OMDBDefinition.java:246-265) — derived from the same objects so the
  // FSO resolve round-trips to the flat keys. ----

  private def lastSeg(c: org.apache.spark.sql.Column) =
    element_at(split(c, "/"), -1)

  // The FSO tables are PERSISTED entities in the reference (directoryTable/
  // fileTable); derive them once per (JVM, source) through the artifact
  // memo ([[TempDirs.parquet]]), resolved once per session, like
  // objectsSorted. The directory table is the child summary's directory
  // rows, so the FSO namespace has one derivation from the keys.
  def directoriesFso(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "dirs", dir)(directoriesFsoBuild(fsoChildren(spark, dir)))

  def filesFso(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "files", dir)(filesFsoBuild(objects(spark, dir)))

  /** The FSO child summary ([[graft.operators.Hierarchy.keyChildSummary]]
    * of the key table): Recon's pre-aggregated NSSummary in listing form
    * (NSSummaryEndpoint → BucketEntityHandler), stored once per (JVM,
    * source); every FSO listing is a slice of it. Sorted by (volume,
    * bucket, parent_path, child), so parquet statistics let a listing skip
    * every other directory's rows, and split by is_dir, so the directory
    * rows ([[directoryPathsFso]]) read no file row. */
  def fsoChildren(spark: SparkSession, dir: String): DataFrame =
    TempDirs.read(spark, TempDirs.artifact("fsochildren", dir)(
      graft.operators.Hierarchy.keyChildSummary(objects(spark, dir))
        .repartitionByRange(col("volume"), col("bucket"), col("parent_path"))
        // is_dir leads the in-file sort, so the split write keeps key order
        .sortWithinPartitions("is_dir", "volume", "bucket", "parent_path", "child")
        .write.partitionBy("is_dir").mode("overwrite").parquet(_)))
      .withColumn("is_dir", col("is_dir").cast("boolean")) // a partition value reads as a string
      .select("volume", "bucket", "parent_path", "child", "is_dir", "num_files", "total_size")

  /**
   * Deepened namespace (5-segment keys: the 4-segment key's basename
   * becomes a directory holding one `p<n>.dat` file) — exercises FSO
   * recursion beyond one level: a child dir's listStatus rollup must
   * traverse two dir levels to reach its files.
   */
  def objectsDeep(spark: SparkSession, dir: String): DataFrame =
    objects(spark, dir).withColumn("key",
      concat(expr("substring(key, 1, length(key) - 4)"),
        lit("/p"), (col("object_id") % 3).cast("string"), lit(".dat")))

  /**
   * MIXED-depth namespace: every 5th object's key gains two extra segments
   * (4-segment and 6-segment keys side by side) — the rollup fixture that
   * catches any hardcoded ancestor depth: a depth-3 prefix explode loses
   * the depth-4/5 ancestors of the deepened keys entirely.
   */
  def objectsMixed(spark: SparkSession, dir: String): DataFrame =
    objects(spark, dir).withColumn("key",
      when(col("object_id") % 5 === 0,
        concat(expr("substring(key, 1, length(key) - 4)"),
          lit("/d"), (col("object_id") % 2).cast("string"),
          lit("/p"), (col("object_id") % 3).cast("string"), lit(".dat")))
        .otherwise(col("key")))

  /** NSSummary of the MIXED-depth namespace ([[graft.operators.Aggregates
    * .nsSummary]] of [[objectsMixed]]): Recon's maintained NSSummary
    * table, stored once per (JVM, source). The namespace rollup, the
    * deleted-dir backlog, the storage distribution and the pending-
    * deletion store all read it; none re-derives an ancestor rollup. The
    * rows are written in nsSummary's (volume, bucket, dir) order: an
    * unordered write made warm q_ns_summary 0.88–1.08 s at sf0.1, against
    * 0.68–0.72 s for this one. */
  def nsSummaryMixed(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "nsmx", dir)(
      graft.operators.Aggregates.nsSummary(objectsMixed(spark, dir)))

  def directoriesFsoDeep(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "dirsDeep", dir)(directoriesFsoBuild(
      graft.operators.Hierarchy.keyChildSummary(objectsDeep(spark, dir))))

  def filesFsoDeep(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "filesDeep", dir)(
      filesFsoBuild(objectsDeep(spark, dir)))

  /** The path index of [[directoriesFso]]: (volume, bucket, dir_id, path),
    * each directory's full path — what the resolve ladder
    * ([[graft.operators.Hierarchy.resolveDirs]]) rebuilds from parent
    * pointers, here a projection of [[fsoChildren]]'s directory rows,
    * never the ladder. Nothing of its own is stored. */
  def directoryPathsFso(spark: SparkSession, dir: String): DataFrame =
    dirPathsOf(fsoChildren(spark, dir)).select("volume", "bucket", "dir_id", "path")

  /** A child summary's directory rows with their full path and id
    * (Hierarchy.pathId, md5-derived from the path). */
  private def dirPathsOf(children: DataFrame): DataFrame =
    children.filter(col("is_dir"))
      .withColumn("path", when(col("parent_path") === "", col("child"))
        .otherwise(concat(col("parent_path"), lit("/"), col("child"))))
      .withColumn("dir_id",
        graft.operators.Hierarchy.pathId(col("volume"), col("bucket"), col("path")))

  /** directories(volume, bucket, dir_id, parent_id, name) from a child
    * summary: one row per distinct dir; a root child's parent_id = 0. */
  private def directoriesFsoBuild(children: DataFrame): DataFrame =
    dirPathsOf(children).select(col("volume"), col("bucket"), col("dir_id"),
      when(col("parent_path") === "", lit(0L))
        .otherwise(graft.operators.Hierarchy.pathId(
          col("volume"), col("bucket"), col("parent_path"))).as("parent_id"),
      col("child").as("name"))

  /** files keyed by parent dir id (fileTable rows: parentId + fileName);
    * a file at the bucket root has parent_id 0, like a root directory. */
  private[graft] def filesFsoBuild(o: DataFrame): DataFrame = {
    val parentPath = graft.operators.Aggregates.parentDirOf("key")
    o.select(col("volume"), col("bucket"),
        when(parentPath === "", lit(0L))
          .otherwise(graft.operators.Hierarchy.pathId(
            col("volume"), col("bucket"), parentPath)).as("parent_id"),
        lastSeg(col("key")).as("name"),
        col("object_id"), col("data_size"), col("modification_time"))
  }

  /** tenant_state (ref OMDBDefinition.java:279-298 tenantStateTable): one
    * tenant per volume (S3-multi-tenancy maps a tenant to the volume it
    * owns), with the volume's usage rollup. */
  def tenantState(spark: SparkSession, dir: String): DataFrame =
    volumes(spark, dir).select(
      concat(lit("tenant"), substring(col("volume"), 4, 10)).as("tenant_id"),
      col("volume"), col("bucket_count"), col("used_bytes"))

  /** tenant_access_ids (tenantAccessIdTable + principalToAccessIdsTable):
    * one access id per (tenant, principal) observed as a key owner inside
    * the tenant's volume — accessId = "<tenant>$<principal>", the
    * reference's accessId convention. */
  def tenantAccessIds(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "tenantids", dir) {
      objects(spark, dir)
        .select("volume", "owner").distinct()
        .withColumn("tenant_id",
          concat(lit("tenant"), substring(col("volume"), 4, 10)))
        .select(col("tenant_id"),
          col("owner").as("user_principal"),
          concat(col("tenant_id"), lit("$"), col("owner")).as("access_id"))
    }

  /** bucket_tag_requests: one PutBucketTagging request per catalog
    * bucket, cls = (vol+idx)%6: 0 valid, 1 FIFTY-ONE tags (the bucket cap
    * is 50), 2 aws:-prefix, 3 duplicate, 4 exactly 50 tags (boundary
    * pass), 5 empty key — plus an unknown-bucket probe and an
    * unknown-bucket-with-51-tags probe (gateway error wins). */
  def bucketTagRequests(spark: SparkSession, dir: String): DataFrame =
    buckets(spark, dir).select(
      (expr("CAST(substr(volume, 4, 10) AS BIGINT)") * 100 +
        expr("CAST(substr(bucket, 7, 10) AS BIGINT)")).as("req_id"),
      ((expr("CAST(substr(volume, 4, 10) AS BIGINT)") +
        expr("CAST(substr(bucket, 7, 10) AS BIGINT)")) % 6).as("cls"),
      col("volume"), col("bucket"))
      .unionByName(bucketTagProbeRows.df(spark))

  /** The unknown-bucket probes of [[bucketTagRequests]]. */
  val bucketTagProbeRows = Fixture("req_id", "cls", "volume", "bucket")(
    (9001L, 0L, "vol0", "no-such-bucket"),
    (9002L, 1L, "vol9", "bucket0"))

  /** bucket_tag_entries: ordered tag list per bucket-tagging request. */
  def bucketTagEntries(spark: SparkSession, dir: String): DataFrame =
    bucketTagRequests(spark, dir)
      .select(col("req_id"), col("cls"),
        explode(sequence(lit(1),
          when(col("cls") === 1, lit(51))
            .when(col("cls") === 4, lit(50))
            .otherwise(lit(3)))).as("pos"))
      .select(col("req_id"), col("pos"),
        when(col("cls") === 2 && col("pos") === 1, lit("aws:team"))
          .when(col("cls") === 3 && col("pos") === 3, lit("env1"))
          .when(col("cls") === 5 && col("pos") === 2, lit(""))
          .otherwise(concat(lit("env"), col("pos"))).as("tag_key"),
        concat(lit("v"), col("pos")).as("tag_value"))

  /** tenant_access_catalog: [[tenantAccessIds]] plus an admin flag
    * (clerk0 is each tenant's admin — OMTenantAssignAdminRequest model)
    * and two synthetic rows: an access id under a tenant MISSING from the
    * state table (the delete-order quirk) and an orphan access id with no
    * tenant at all (the revoke TENANT_NOT_FOUND branch). */
  val tenantAccessProbeRows = Fixture(
    "tenant_id", "user_principal", "access_id", "is_admin")(
    ("no-such-but-hasids", "ghost", "no-such-but-hasids$ghost", false),
    (null, "ghost2", "orphan$ghost2", false))

  def tenantAccessCatalog(spark: SparkSession, dir: String): DataFrame =
    tenantAccessIds(spark, dir)
      .withColumn("is_admin", col("user_principal") === "clerk0")
      .unionByName(tenantAccessProbeRows.df(spark))

  /** tenant_state plus one registered-but-empty tenant (no access ids,
    * no usage) — the DELETED branch of the delete ladder. */
  val emptyTenantRows = Fixture(
    "tenant_id", "volume", "bucket_count", "used_bytes")(
    ("tenant-empty", "vol-empty", 0L, 0L))

  def tenantStateExt(spark: SparkSession, dir: String): DataFrame =
    tenantState(spark, dir).unionByName(emptyTenantRows.df(spark))

  /** ranger_policies: the Ranger-side ozone-tenant policy catalog, with
    * deliberate drift — tenant2's and tenant-empty's bucket policies
    * missing (CREATE), one stale policy for a gone tenant (DELETE). */
  val rangerPolicyRows = Fixture("policy_name")(
    "tenant0-VolumeAccess", "tenant0-BucketAccess",
    "tenant1-VolumeAccess", "tenant1-BucketAccess",
    "tenant2-VolumeAccess",
    "tenant3-VolumeAccess", "tenant3-BucketAccess",
    "tenant-empty-VolumeAccess",
    "tenant-gone-VolumeAccess")

  def rangerPolicies(spark: SparkSession, dir: String): DataFrame =
    rangerPolicyRows.df(spark)

  /** ranger_roles: the Ranger-side role → member map, with drift —
    * tenant1's user role misses clerk3, tenant1's admin role carries an
    * intruder, tenant2's roles are absent entirely, one stale role. */
  val rangerRoleRows = {
    val t0u = (0 to 6).map(i => ("tenant0-UserRole", s"clerk$i"))
    val t1u = (0 to 6).filter(_ != 3).map(i => ("tenant1-UserRole", s"clerk$i"))
    val t3u = (0 to 6).map(i => ("tenant3-UserRole", s"clerk$i"))
    Fixture("role_name", "user_principal")(
      t0u ++ Seq(("tenant0-AdminRole", "clerk0")) ++
        t1u ++ Seq(("tenant1-AdminRole", "clerk0"),
          ("tenant1-AdminRole", "intruder")) ++
        t3u ++ Seq(("tenant3-AdminRole", "clerk0"),
          ("tenant-gone-UserRole", "ghost")): _*)
  }

  def rangerRoles(spark: SparkSession, dir: String): DataFrame =
    rangerRoleRows.df(spark)

  /** tenant_create_requests: every OMTenantCreateRequest branch — the
    * '$' delimiter check, tenant-exists, volume-name rules, volume-exists
    * (with the force override), plus branch-order probes. */
  val tenantCreateRequestRows = Fixture(
    "req_id", "tenant_id", "volume", "force_when_volume_exists")(
    (1L, "tenant-new", "tenant-new", false),
    (2L, "bad$tenant", "bad$tenant", false),
    (3L, "tenant0", "tenant0", false),
    (4L, "tenant-v", "vol1", false),
    (5L, "tenant-bad-vol", "BAD..Vol", false),
    (6L, "tenant0", "BAD..Vol", false),
    (7L, "bad$x", "vol1", false),
    (8L, "tenant-f", "vol1", true))

  def tenantCreateRequests(spark: SparkSession, dir: String): DataFrame =
    tenantCreateRequestRows.df(spark)

  /** tenant_delete_requests: not-empty (checked BEFORE existence — the
    * reference's preExecute order, a truthful quirk), not-found, empty →
    * deleted. 'tenant-empty' exists only in the extended state probe the
    * operator unions in. */
  val tenantDeleteRequestRows = Fixture("req_id", "tenant_id")(
    (1L, "tenant0"),
    (2L, "no-such-tenant"),
    (3L, "tenant-empty"),
    (4L, "no-such-but-hasids"))

  def tenantDeleteRequests(spark: SparkSession, dir: String): DataFrame =
    tenantDeleteRequestRows.df(spark)

  /** tenant_revoke_requests: REVOKED / PERMISSION_DENIED (tenant admin) /
    * ACCESS_ID_NOT_FOUND / TENANT_NOT_FOUND (orphan id). */
  val tenantRevokeRequestRows = Fixture("req_id", "access_id")(
    (1L, "tenant0$clerk1"),
    (2L, "tenant0$clerk0"),
    (3L, "nope$user"),
    (4L, "orphan$ghost2"))

  def tenantRevokeRequests(spark: SparkSession, dir: String): DataFrame =
    tenantRevokeRequestRows.df(spark)

  /** The sampled head of a data-derived request batch: keys with
    * object_id % n == 0, one request per id (lineitem carries duplicate
    * (orderkey, linenumber) pairs, so object_id is NOT unique) by the
    * smallest (bucket, key) pair ('|' never appears in either), split
    * back into bucket0/key0. cls = (req_id DIV 10n) % k, the SECOND digit
    * of probe = req_id DIV n (the last digit is a linenumber 1..7 and
    * never reaches 0/8/9). `extra` columns ride along as per-id mins. */
  private def sampledRequests(spark: SparkSession, dir: String, n: Int,
                              k: Int, extra: String*): DataFrame =
    objects(spark, dir)
      .filter(col("object_id") % n === 0)
      .groupBy(col("object_id").as("req_id"))
      .agg(min(col("volume")).as("volume"),
        min(concat(col("bucket"), lit("|"), col("key"))).as("bk") +:
          extra.map(c => min(col(c)).as(c)): _*)
      .select(Seq(col("req_id"),
        (expr(s"req_id DIV ${10 * n}") % k).as("cls"),
        expr(s"req_id DIV $n").as("probe"),
        col("volume"),
        substring_index(col("bk"), "|", 1).as("bucket0"),
        substring_index(col("bk"), "|", -1).as("key0")) ++
        extra.map(col): _*)

  /** fso_rename_requests: an FSO RenameKey batch sampled from the key
    * catalog (object_id % 131 == 0, canonicalized like [[tagRequests]]).
    * cls = second digit of probe picks the path shape:
    *   0 file → fresh sibling name            (RENAMED, unless hsync'ed)
    *   1 ghost source                         (KEY_NOT_FOUND)
    *   2 dir → fresh sibling dir name         (RENAMED)
    *   3 dir → its own subtree                (RENAME_ERROR_SUBDIR)
    *   4 file → itself                        (SELF_NOOP)
    *   5 file → its parent dir (KEY_ALREADY_EXISTS via the into-dir
    *     path: dst/basename == src); even probes instead move into the
    *     top-level 'warehouse' dir where dst/basename is fresh
    *     (RENAMED_INTO_DIR)
    *   6 file → under a nonexistent parent    (RENAME_ERROR_PARENT)
    *   7 dir → itself                         (KEY_ALREADY_EXISTS —
    *     case-3b: a self-rename is only a no-op for FILES)
    * plus orthogonal probes: probe%13==3 missing bucket, probe%17==5
    * empty source (INVALID_KEY_NAME — checked before everything).
    * Case-6 (dst an existing file elsewhere) has no deterministic
    * data-derived path and is covered by the micro spec. */
  def fsoRenameRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "fsorenreq", dir)(
      sampledRequests(spark, dir, 131, 8)
        .withColumn("pdir",
          graft.operators.Aggregates.parentDirOf("key0"))
        .withColumn("base", element_at(split(col("key0"), "/"), -1))
        .select(col("req_id"),
          col("volume"),
          when(col("probe") % 13 === 3, lit("no-such-bucket"))
            .otherwise(col("bucket0")).as("bucket"),
          when(col("probe") % 17 === 5, lit(""))
            .when(col("cls") === 1, concat(col("key0"), lit(".ghost")))
            .when(col("cls").isin(2, 3, 7), col("pdir"))
            .otherwise(col("key0")).as("src_key"),
          when(col("cls") === 0, concat(col("key0"), lit(".r0")))
            .when(col("cls") === 1, concat(col("key0"), lit(".r1")))
            .when(col("cls") === 2, concat(col("pdir"), lit("-moved")))
            .when(col("cls") === 3, concat(col("pdir"), lit("/x/sub")))
            .when(col("cls") === 4, col("key0"))
            .when(col("cls") === 5 && col("probe") % 2 === 0,
              lit("warehouse"))
            .when(col("cls") === 5, col("pdir"))
            .when(col("cls") === 6, concat(lit("nowhere/x/"), col("base")))
            .otherwise(col("pdir")).as("to_key")))

  /** volumes_ref: the volume catalog reduced to the delete-ladder probes
    * (bucket occupancy + tenant reference count; vol3 models the
    * tenant-referenced volume) plus one bare volume with no buckets. */
  val bareVolumeRefRows = Fixture("volume", "bucket_count", "ref_count")(
    ("vol-bare", 0L, 0L))

  def volumesRef(spark: SparkSession, dir: String): DataFrame =
    volumes(spark, dir)
      .select(col("volume"), col("bucket_count"),
        when(col("volume") === "vol3", 1L).otherwise(0L).as("ref_count"))
      .unionByName(bareVolumeRefRows.df(spark))

  /** volume_quota_probe: per-volume facts the SetVolumeQuota ladder
    * needs — bucket count, byte-quota sum over quota-carrying buckets,
    * any-bucket-without-quota flag — plus two synthetic volumes: one
    * bucketless, one fully-quota'd with a known sum (the
    * quota-below-bucket-sum branch is unreachable on the real catalog
    * because every volume holds the quota-less bucket5). */
  val syntheticQuotaProbeRows = Fixture(
    "volume", "bucket_count", "bucket_quota_sum", "has_unset_bucket")(
    ("vol-bare", 0L, 0L, false),
    ("vol-capped", 2L, 800000000000L, false))

  def volumeQuotaProbe(spark: SparkSession, dir: String): DataFrame =
    buckets(spark, dir)
      .groupBy("volume")
      .agg(count(lit(1)).as("bucket_count"),
        sum(when(col("quota_bytes") > -1L, col("quota_bytes"))
          .otherwise(0L)).as("bucket_quota_sum"),
        max(when(col("quota_bytes") === -1L, true).otherwise(false))
          .as("has_unset_bucket"))
      .unionByName(syntheticQuotaProbeRows.df(spark))

  /** volume_set_quota_requests: -2 = field absent, -1 = QUOTA_RESET. */
  val volumeSetQuotaRequestRows = Fixture(
    "req_id", "volume", "new_quota_bytes", "new_quota_ns")(
    (1L, "vol0", 500000000000L, -2L),
    (2L, "vol0", -2L, 5L),
    (3L, "vol0", -2L, 100L),
    (4L, "vol0", -1L, -2L),
    (5L, "vol0", 0L, -2L),
    (6L, "no-such-vol", 10L, 10L),
    (7L, "vol-bare", 500L, -2L),
    (8L, "vol-bare", -2L, 0L),
    (9L, "vol0", -5L, -2L),
    (10L, "vol-capped", 500000000000L, -2L),
    (11L, "vol-capped", 900000000000L, -2L),
    (12L, "vol-capped", -2L, 1L))

  def volumeSetQuotaRequests(spark: SparkSession, dir: String): DataFrame =
    volumeSetQuotaRequestRows.df(spark)

  /** volume_set_owner_requests: noop (same owner), transfer to a fresh
    * user, unknown volume (beats the noop-owner probe), transfer to a
    * user at the volume cap (cap shrunk to 1 in the declared query so the
    * branch is live on a 4-volume catalog; reference default 1024). */
  val volumeSetOwnerRequestRows = Fixture("req_id", "volume", "new_owner")(
    (1L, "vol0", "admin0"),
    (2L, "vol0", "fresh-user"),
    (3L, "no-such-vol", "fresh-user"),
    (4L, "vol1", "admin2"),
    (5L, "no-such-vol", "admin0"))

  def volumeSetOwnerRequests(spark: SparkSession, dir: String): DataFrame =
    volumeSetOwnerRequestRows.df(spark)

  /** volume_delete_requests: NOT_EMPTY / IS_REFERENCED (checked before
    * emptiness — vol3 is also non-empty, probing the order) / NOT_FOUND /
    * DELETED (the bare volume). */
  val volumeDeleteRequestRows = Fixture("req_id", "volume")(
    (1L, "vol0"), (2L, "vol3"), (3L, "no-such-vol"), (4L, "vol-bare"))

  def volumeDeleteRequests(spark: SparkSession, dir: String): DataFrame =
    volumeDeleteRequestRows.df(spark)

  /** bucket_catalog_ext: real buckets ∪ link buckets ∪ three synthetic
    * empty buckets (plain / with an in-flight MPU / with a snapshot) —
    * the existence probe for DeleteBucket. */
  val emptyBucketRows = Fixture("volume", "bucket")(
    ("vol0", "empty-b"), ("vol0", "empty-mpu"), ("vol0", "empty-snap"))

  def bucketCatalogExt(spark: SparkSession, dir: String): DataFrame =
    buckets(spark, dir).select("volume", "bucket")
      .unionByName(bucketLinks(spark, dir).select("volume", "bucket"))
      .unionByName(emptyBucketRows.df(spark))

  /** The synthetic empty buckets that an in-flight MPU (resp. a
    * snapshot) blocks from deletion. */
  val mpuBlockedBucketRows = Fixture("volume", "bucket")(
    ("vol0", "empty-mpu"))

  val snapshotBlockedBucketRows = Fixture("volume", "bucket")(
    ("vol0", "empty-snap"))

  /** bucket_delete_requests: keys-occupied (beats MPU and snapshot
    * checks), missing, plain-empty, MPU-blocked, snapshot-blocked, and
    * two link buckets (a link's OWN key space is empty, so deleting the
    * link succeeds even though its source holds keys — reference
    * isBucketEmpty walks the link's prefix, not the source's). */
  val bucketDeleteRequestRows = Fixture("req_id", "volume", "bucket")(
    (1L, "vol0", "bucket0"),
    (2L, "vol2", "bucket5"),
    (3L, "vol0", "no-such"),
    (4L, "vol0", "empty-b"),
    (5L, "vol0", "empty-mpu"),
    (6L, "vol0", "empty-snap"),
    (7L, "vol1", "link-a"),
    (8L, "vol2", "link-b"))

  def bucketDeleteRequests(spark: SparkSession, dir: String): DataFrame =
    bucketDeleteRequestRows.df(spark)

  /** set_times_requests: an OMKeySetTimesRequest batch (object_id % 127,
    * canonicalized). cls: 0 set to a fixed epoch, 1 mtime=-1 (keep), 2
    * mtime=-5 (invalid — rejected in preExecute BEFORE any lookup), 3
    * ghost key; probe%13==3 missing bucket. */
  def setTimesRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "settimesreq", dir)(
      sampledRequests(spark, dir, 127, 4)
        .select(col("req_id"), col("volume"),
          when(col("probe") % 13 === 3, lit("no-such-bucket"))
            .otherwise(col("bucket0")).as("bucket"),
          when(col("cls") === 3, concat(col("key0"), lit(".ghost")))
            .otherwise(col("key0")).as("key"),
          when(col("cls") === 0, lit(800000000000L))
            .when(col("cls") === 1, lit(-1L))
            .when(col("cls") === 2, lit(-5L))
            .otherwise(lit(800000000000L)).as("mtime")))

  /** create_file_requests: an OMFileCreateRequest batch (object_id % 139,
    * canonicalized). cls: 0 fresh name (CREATED), 1 existing file without
    * overwrite (FILE_ALREADY_EXISTS), 2 existing file WITH overwrite
    * (OVERWRITTEN), 3 path is a dir (NOT_A_FILE), 4 ancestor is a file
    * (NOT_A_FILE), 5 deep new path non-recursive (DIRECTORY_NOT_FOUND),
    * 6 deep new path recursive (CREATED + minted parents);
    * probe%13==3 missing bucket. */
  def createFileRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "createfilereq", dir)(
      sampledRequests(spark, dir, 139, 7)
        .withColumn("pdir", graft.operators.Aggregates.parentDirOf("key0"))
        .select(col("req_id"), col("volume"),
          when(col("probe") % 13 === 3, lit("no-such-bucket"))
            .otherwise(col("bucket0")).as("bucket"),
          when(col("cls") === 0, concat(col("pdir"), lit("/fresh.dat")))
            .when(col("cls").isin(1, 2), col("key0"))
            .when(col("cls") === 3, col("pdir"))
            .when(col("cls") === 4, concat(col("key0"), lit("/sub.dat")))
            .otherwise(concat(col("pdir"), lit("/nd1/nd2/leaf.dat")))
            .as("path"),
          (col("cls") === 2).as("overwrite"),
          (col("cls") === 6).as("recursive")))

  /** key_commit_requests: an OMKeyCommitRequest batch (object_id % 89
    * == 0, canonicalized). cls = second digit of probe: 0/4/5 plain
    * commit, 1 clientID mismatch, 2 lease recovery, 3 oversized commit
    * (quota probe — buckets with unset quota still admit it). Open-entry
    * metadata flags derive orthogonally from req_id: %9==0 deleted-hsync
    * marker, %9==1 lease-recovery marker, %2==0 committed-key-has-hsync
    * -writer. probe%13==3 rewrites the bucket to a missing one. */
  def keyCommitRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "keycommitreq", dir)(
      sampledRequests(spark, dir, 89, 6, "data_size")
        .select(col("req_id"), col("volume"),
          when(col("probe") % 13 === 3, lit("no-such-bucket"))
            .otherwise(col("bucket0")).as("bucket"),
          col("key0").as("key"),
          (col("cls") === 2).as("is_recovery"),
          when(col("cls") === 1, col("req_id") * 7 % 100000 + 999983L)
            .otherwise(col("req_id") * 7 % 100000).as("client_id"),
          // the open-table resolution outcome (a mismatched clientID finds
          // no entry) — pre-joined here; the probe shape itself is the
          // broadcast pattern proven in mpuCommitPart
          (col("cls") =!= 1).as("open_exists"),
          when(col("cls") === 3, lit(1000000000000L))
            .otherwise(col("data_size")).as("commit_size"),
          (col("req_id") % 9 === 0).as("open_deleted_hsync"),
          (col("req_id") % 9 === 1).as("open_lease_recovery"),
          (col("req_id") % 2 === 0).as("committed_has_hsync_writer")))

  /** prefix_acls with numeric right-bits (r=1, w=2, x=4) — the stored
    * prefixTable state the write fold starts from. */
  def prefixAclBits(spark: SparkSession, dir: String): DataFrame =
    prefixAcls(spark, dir)
      .withColumn("bits",
        when(col("rights").contains("r"), 1L).otherwise(0L) +
          when(col("rights").contains("w"), 2L).otherwise(0L) +
          when(col("rights").contains("x"), 4L).otherwise(0L))

  /** prefix_acl_write_ops: the OMPrefixAddAcl/SetAcl/RemoveAcl op log —
    * remove-empties-then-remove (the second refuses PREFIX_NOT_FOUND:
    * the emptied entry was DELETED), recreate-after-empty, SET boundary
    * voiding an earlier ADD, remove of a voided principal on a live
    * entry (APPLIED — the entry exists through another principal),
    * remove on a never-created prefix, and the trailing-slash
    * validation. Seqs are globally unique; stored entries are seq 0. */
  val prefixAclWriteOpRows = Fixture(
    "seq", "volume", "bucket", "prefix", "op", "pname", "bits")(
    (1L, "vol0", "bucket0", "warehouse/", "REMOVE", "auditor2", 2L),
    (2L, "vol0", "bucket0", "warehouse/", "REMOVE", "auditor2", 1L),
    (3L, "vol0", "bucket0", "warehouse/", "ADD", "alice", 3L),
    (4L, "vol0", "bucket0", "warehouse/", "REMOVE", "alice", 1L),
    (5L, "vol0", "bucket0", "staging/", "REMOVE", "bob", 1L),
    (6L, "vol0", "bucket0", "staging/", "ADD", "bob", 7L),
    (7L, "vol0", "bucket0", "staging/", "SET", "carol", 1L),
    (8L, "vol0", "bucket0", "staging/", "REMOVE", "bob", 4L),
    (9L, "vol0", "bucket1", "no-slash", "ADD", "dave", 1L),
    (10L, "vol0", "bucket1", "warehouse/A/", "REMOVE", "auditor2", 1L))

  def prefixAclWriteOps(spark: SparkSession, dir: String): DataFrame =
    prefixAclWriteOpRows.df(spark)

  /** put_bucket_acl_requests: s3gateway PutBucketAcl branches — body
    * grants, multi-user header grants, missing bucket (checked BEFORE
    * grant parsing — probed by req 9's malformed grants), expected-owner
    * precondition mismatch + match, malformed `k=v` part, unsupported
    * grantee type, and the first-failing-grant order probe. */
  val putBucketAclRequestRows = Fixture(
    "req_id", "volume", "bucket", "expected_owner")(
    (1L, "vol0", "bucket0", ""),
    (2L, "vol0", "bucket1", ""),
    (3L, "vol0", "no-such", ""),
    (4L, "vol1", "bucket3", "admin0"),
    (5L, "vol1", "bucket3", "admin1"),
    (6L, "vol2", "bucket5", ""),
    (7L, "vol2", "bucket4", ""),
    (8L, "vol3", "bucket7", ""),
    (9L, "vol0", "no-such", ""))

  def putBucketAclRequests(spark: SparkSession, dir: String): DataFrame =
    putBucketAclRequestRows.df(spark)

  /** put_bucket_acl_grants: the ordered grant list per request (header
    * order / body list order). Every S3 permission class appears so the
    * full bucket AND volume translation tables are exercised. */
  val putBucketAclGrantRows = Fixture(
    "req_id", "pos", "grantee_type", "grantee", "s3_perm", "malformed")(
    (1L, 1, "id", "clerk1", "FULL_CONTROL", false),
    (1L, 2, "id", "clerk2", "READ", false),
    (2L, 1, "id", "u1", "READ", false),
    (2L, 2, "id", "u2", "WRITE", false),
    (2L, 3, "id", "u1", "WRITE_ACP", false),
    (2L, 4, "id", "u3", "READ_ACP", false),
    (4L, 1, "id", "aud1", "WRITE", false),
    (5L, 1, "id", "aud1", "WRITE", false),
    (6L, 1, "id", "x", "READ", true),
    (7L, 1, "emailAddress", "y", "READ", false),
    (8L, 1, "id", "ok", "READ", false),
    (8L, 2, "id", "bad", "READ", true),
    (8L, 3, "emailAddress", "z", "READ", false),
    (9L, 1, "id", "w", "READ", true))

  def putBucketAclGrants(spark: SparkSession, dir: String): DataFrame =
    putBucketAclGrantRows.df(spark)

  /** bucket_acl_catalog: per-bucket Ozone ACL rows for the GetBucketAcl
    * reverse mapping — the owner holds ALL, a world GROUP row must be
    * SKIPPED (only USER translates), and the auditor row's rights cycle
    * through every precedence rung including the unmappable bare READ
    * (bucket_idx % 5 == 4) the reference silently drops. */
  def bucketAclCatalog(spark: SparkSession, dir: String): DataFrame = {
    val b = buckets(spark, dir)
      .withColumn("bidx", substring(col("bucket"), 7, 10).cast("long"))
    val owner = b.select(col("volume"), col("bucket"),
      concat(lit("admin"), substring(col("volume"), 4, 10)).as("name"),
      lit("USER").as("type"), lit("ALL").as("rights"))
    val world = b.select(col("volume"), col("bucket"),
      lit("world").as("name"), lit("GROUP").as("type"),
      lit("LIST,READ").as("rights"))
    val auditor = b.select(col("volume"), col("bucket"),
      concat(lit("auditor"), (col("bidx") % 3).cast("string")).as("name"),
      lit("USER").as("type"),
      when(col("bidx") % 5 === 0, lit("READ,WRITE_ACL"))
        .when(col("bidx") % 5 === 1, lit("READ,READ_ACL"))
        .when(col("bidx") % 5 === 2, lit("CREATE,DELETE,WRITE"))
        .when(col("bidx") % 5 === 3, lit("LIST,READ"))
        .otherwise(lit("READ")).as("rights"))
    owner.unionByName(world).unionByName(auditor)
  }

  /** keys_delete_requests: OMKeysDeleteRequest batches — one request per
    * (volume, bucket), req_id = vol_idx*10 + bucket_idx, keys sampled
    * object_id % 107 == 0. Per-key cls = (object_id DIV 1070) % 5:
    *   0 plain delete with the matching updateID, 1 missing key
    *   (updateID not presented), 2 updateID mismatch, 3/4 plain delete
    *   with updateID absent (-1). Batch dimensions: req_id % 17 == 7 →
    *   updateIDs-count mismatch (whole batch INVALID_REQUEST);
    *   req_id % 19 == 4 → the batch targets a missing bucket. Callers:
    *   even volumes send their admin (all ACLs pass), odd volumes send
    *   clerk1 (non-clerk1-owned keys → ACCESS_DENIED). */
  def keysDeleteRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "kdreq", dir)(objects(spark, dir)
      .filter(col("object_id") % 107 === 0)
      .groupBy(col("volume"), col("bucket"), col("key"))
      .agg(max("version").as("__uid"), min(col("object_id")).as("__oid"))
      .withColumn("req_id",
        expr("CAST(substr(volume, 4, 10) AS BIGINT)") * 10 +
          expr("CAST(substr(bucket, 7, 10) AS BIGINT)"))
      .withColumn("cls", expr("__oid DIV 1070") % 5)
      .withColumn("ids_mismatch", col("req_id") % 17 === 7)
      .withColumn("bucket",
        when(col("req_id") % 19 === 4, lit("no-such-bucket"))
          .otherwise(col("bucket")))
      .withColumn("key",
        when(col("cls") === 1, concat(col("key"), lit(".nope")))
          .otherwise(col("key")))
      .withColumn("presented_update_id",
        when(col("cls") === 2, col("__uid") + 999L)
          .when(col("cls") === 1 || col("cls") >= 3, lit(-1L))
          .otherwise(col("__uid")))
      .withColumn("caller",
        when(expr("CAST(substr(volume, 4, 10) AS BIGINT)") % 2 === 0,
          concat(lit("admin"), substring(col("volume"), 4, 10)))
          .otherwise(lit("clerk1")))
      .select("req_id", "volume", "bucket", "key",
        "presented_update_id", "caller", "ids_mismatch"))

  /** mpu_initiate_requests: an S3InitiateMultipartUploadRequest batch,
    * data-derived like [[keyCommitRequests]] (object_id % 103 == 0,
    * canonicalized). cls = (req_id DIV 1030) % 7:
    *   0 plain initiate on an existing key (allowed — AWS parity),
    *   1 request-supplied EC replication (beats the bucket default),
    *   2 key nested UNDER an existing file (NOT_A_FILE on FSO buckets;
    *     OBS layouts skip the path check and initiate),
    *   3 missing bucket, 4 through link-a (lands on vol0/bucket0),
    *   5 dangling link, 6 link loop. */
  def mpuInitiateRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "mireq", dir)(
      sampledRequests(spark, dir, 103, 7)
        .select(col("req_id"),
          when(col("cls") === 4, lit("vol1"))
            .when(col("cls") === 5, lit("vol3"))
            .when(col("cls") === 6, lit("vol0"))
            .otherwise(col("volume")).as("volume"),
          when(col("cls") === 3, lit("no-such-bucket"))
            .when(col("cls") === 4, lit("link-a"))
            .when(col("cls") === 5, lit("link-broken"))
            .when(col("cls") === 6, lit("link-cycle1"))
            .otherwise(col("bucket0")).as("bucket"),
          when(col("cls") === 2, concat(col("key0"), lit("/part.0")))
            .otherwise(col("key0")).as("key"),
          when(col("cls") === 1, lit("EC/rs-3-2-1024k"))
            .otherwise(lit("")).as("requested_repl")))

  /** fso_mkdir_requests: an OMDirectoryCreateRequest batch, data-derived
    * like [[fsoRenameRequests]] (object_id % 151 == 0). cls = second
    * digit of probe:
    *   0 new dir under an existing dir        (CREATED, 1 minted)
    *   1 deep new chain under an existing dir (CREATED, 3 minted)
    *   2 existing dir                         (DIR_EXISTS — idempotent)
    *   3 path is an existing FILE             (FILE_ALREADY_EXISTS)
    *   4 an ANCESTOR is an existing file      (FILE_ALREADY_EXISTS)
    *   5 brand-new top-level chain            (CREATED, 2 minted)
    * probes: probe%13==3 missing bucket; probe%17==5 empty path
    * (CANNOT_CREATE_DIRECTORY_AT_ROOT). */
  def fsoMkdirRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "mkdirreq", dir)(
      sampledRequests(spark, dir, 151, 6)
        .withColumn("pdir", graft.operators.Aggregates.parentDirOf("key0"))
        .select(col("req_id"), col("volume"),
          when(col("probe") % 13 === 3, lit("no-such-bucket"))
            .otherwise(col("bucket0")).as("bucket"),
          when(col("probe") % 17 === 5, lit(""))
            .when(col("cls") === 0, concat(col("pdir"), lit("/newdir")))
            .when(col("cls") === 1, concat(col("pdir"), lit("/n1/n2/n3")))
            .when(col("cls") === 2, col("pdir"))
            .when(col("cls") === 3, col("key0"))
            .when(col("cls") === 4, concat(col("key0"), lit("/sub/x")))
            .otherwise(concat(lit("newtop/d"),
              (col("probe") % 5).cast("string"), lit("/x"))).as("path")))

  /** CreateFile request batch for the missing-parent walk — covers a new
    * subtree under an existing dir, a brand-new top chain, two requests
    * sharing a new subtree (minted once), a fully-existing parent chain
    * (nothing to mint) and a root-level file (no parents). */
  val mkdirRequestRows = Fixture("volume", "bucket", "key")(
    ("vol0", "bucket0", "warehouse/A/newdir/sub/file.dat"),
    ("vol0", "bucket0", "warehouse/NEWTOP/x/y/file.dat"),
    ("vol0", "bucket0", "warehouse/NEWTOP/x/z/file.dat"),
    ("vol0", "bucket0", "warehouse/A/file2.dat"),
    ("vol0", "bucket0", "rootfile.dat"),
    ("vol1", "bucket3", "warehouse/N/fresh/leaf.dat"))

  def mkdirRequests(spark: SparkSession, dir: String): DataFrame =
    mkdirRequestRows.df(spark)

  /** volumes + a namespace quota (bucket-count budget): vol3 admits
    * exactly 2 more buckets, others unlimited — so the CreateBucket
    * namespace-admission branch has live pass AND fail rows. */
  def volumesNs(spark: SparkSession, dir: String): DataFrame =
    volumes(spark, dir)
      .withColumn("quota_namespace",
        when(col("volume") === "vol3", col("bucket_count") + 2)
          .otherwise(lit(-1L)))

  /** CreateBucket request batch — covers every decision branch of
    * OMBucketCreateRequest (invalid names incl. the IPv4 rule, in-batch
    * and catalog name collisions, unpaired link args, link+encryption,
    * unknown volume, byte-quota QUOTA_ERROR/QUOTA_EXCEEDED near-miss pair,
    * sequential namespace admission on vol3) plus branch-order probes
    * (name beats unknown volume, link args beat unknown volume). */
  val bucketCreateRequestRows = Fixture(
    "req_id", "volume", "bucket", "has_source_volume", "has_source_bucket",
    "has_encryption", "quota_bytes")(
    (1L, "vol0", "newb-a", false, false, false, 5000000L),
    (2L, "vol0", "newb-a", false, false, false, 5000000L),
    (3L, "vol0", "bucket3", false, false, false, 5000000L),
    (4L, "vol9", "newb-b", false, false, false, 5000000L),
    (5L, "vol1", "newb-c", true, false, false, 0L),
    (6L, "vol1", "newb-d", true, true, true, 0L),
    (7L, "vol1", "newb-e", true, true, false, 0L),
    (8L, "vol1", "newb-f", false, false, false, 0L),
    (9L, "vol2", "newb-g", false, false, false, 999000000000L),
    (10L, "vol2", "newb-h", false, false, false, 990000000000L),
    (11L, "vol3", "newb-i", false, false, false, 1000000L),
    (12L, "vol3", "newb-j", false, false, false, 1000000L),
    (13L, "vol3", "newb-k", false, false, false, 1000000L),
    (14L, "vol9", "bucket3", false, false, false, 5000000L),
    (15L, "vol9", "newb-l", false, true, false, 0L),
    (16L, "vol0", "Newb-Bad", false, false, false, 5000000L),
    (17L, "vol0", "ab", false, false, false, 5000000L),
    (18L, "vol0", "bad..name", false, false, false, 5000000L),
    (19L, "vol0", "192.168.1.1", false, false, false, 5000000L),
    (20L, "vol9", "-badstart", false, false, false, 5000000L))

  def bucketCreateRequests(spark: SparkSession, dir: String): DataFrame =
    bucketCreateRequestRows.df(spark)

  /** set_quota_requests: a SetBucketProperty quota batch — one request
    * per catalog bucket, class by bucket index (valid raise / clear-while-
    * volume-set / below byte usage / volume-budget blowout / below ns
    * usage), plus a link-bucket and an unknown-bucket probe. -2 = field
    * absent, -1 = QUOTA_RESET. */
  val setQuotaProbeRows = Fixture(
    "volume", "bucket", "new_quota_bytes", "new_quota_ns")(
    ("vol1", "link-a", 5000000L, -2L),
    ("vol0", "no-such-bucket", 5000000L, -2L))

  def setQuotaRequests(spark: SparkSession, dir: String): DataFrame = {
    val derived = buckets(spark, dir)
      .withColumn("bucket_idx",
        substring(col("bucket"), 7, 10).cast("long"))
      .select(col("volume"), col("bucket"),
        when(col("bucket_idx") % 5 === 0, col("used_bytes") + 1000000000L)
          .when(col("bucket_idx") % 5 === 1, lit(-1L))
          .when(col("bucket_idx") % 5 === 2,
            greatest(expr("used_bytes DIV 2"), lit(1L)))
          .when(col("bucket_idx") % 5 === 3, lit(999999000000L))
          .otherwise(lit(-2L)).as("new_quota_bytes"),
        when(col("bucket_idx") % 5 === 4,
          greatest(expr("used_namespace DIV 2"), lit(1L)))
          .otherwise(lit(-2L)).as("new_quota_ns"))
    derived.unionByName(setQuotaProbeRows.df(spark))
  }

  /** snapshot_catalog: the live snapshot chain (CommitLog.snapshotChain
    * fold) anchored on the commit-log bucket — the existence probe for
    * snapshot-admin requests. */
  val snapshotCatalogRows = Fixture("volume", "bucket", "name")(
    graft.operators.CommitLog.snapshotChain
      .map { case (n, _) => ("vol0", "bucket0", n) } :+
      (("vol2", "bucket5", "snap-golden")): _*)

  def snapshotCatalog(spark: SparkSession, dir: String): DataFrame =
    snapshotCatalogRows.df(spark)

  /** snapshot_create_requests: every OMSnapshotCreateRequest branch —
    * fresh name, duplicate, create THROUGH a link (landing on the source
    * bucket, incl. a link+duplicate combo), dangling link, link loop,
    * invalid name, non-owner principal, admin override, unknown bucket. */
  val snapshotCreateRequestRows = Fixture(
    "req_id", "volume", "bucket", "snapshot_name", "principal")(
    (1L, "vol0", "bucket0", "snap-new", "admin0"),
    (2L, "vol0", "bucket0", "s1", "admin0"),
    (3L, "vol1", "link-a", "snap-via-link", "admin0"),
    (4L, "vol1", "link-a", "s2", "admin0"),
    (5L, "vol3", "link-broken", "x-snap", "admin0"),
    (6L, "vol0", "link-cycle1", "y-snap", "admin0"),
    (7L, "vol0", "bucket0", "Bad..Name", "admin0"),
    (8L, "vol0", "bucket0", "snap-two", "clerk1"),
    (9L, "vol2", "bucket5", "snap-three", "admin2"),
    (10L, "vol2", "nobucket", "snap-four", "admin2"),
    (11L, "vol0", "bucket0", "snap-five", "om-admin"),
    (12L, "vol2", "bucket5", "snap-golden", "admin2"))

  def snapshotCreateRequests(spark: SparkSession, dir: String): DataFrame =
    snapshotCreateRequestRows.df(spark)

  /** snapshot_catalog_ext: the rename ladder's existence probe — the live
    * chain with SNAPSHOT_ACTIVE status plus one SNAPSHOT_DELETED entry
    * pending reclamation (rename must refuse it with FILE_NOT_FOUND,
    * OMSnapshotRenameRequest.java:190-200; the entry still OCCUPIES its
    * name for the new-name collision check — deleted snapshots stay in
    * snapshotInfoTable until purged). */
  val snapshotGoneRows = Fixture("volume", "bucket", "name", "status")(
    ("vol0", "bucket0", "snap-gone", "SNAPSHOT_DELETED"))

  def snapshotCatalogExt(spark: SparkSession, dir: String): DataFrame =
    snapshotCatalog(spark, dir)
      .withColumn("status", lit("SNAPSHOT_ACTIVE"))
      .unionByName(snapshotGoneRows.df(spark))

  /** snapshot_rename_requests: every OMSnapshotRenameRequest branch —
    * plain rename, invalid NEW name (the only one preExecute validates),
    * rename through a link (lands on the source bucket), new-name
    * collision (checked BEFORE the old-name lookup, incl. the
    * old-missing+new-exists precedence probe and the self-rename), old
    * missing, old SNAPSHOT_DELETED, non-owner principal, admin override,
    * dangling link, link loop, unknown bucket. */
  val snapshotRenameRequestRows = Fixture(
    "req_id", "volume", "bucket", "old_name", "new_name", "principal")(
    (1L, "vol0", "bucket0", "s1", "s1-renamed", "admin0"),
    (2L, "vol0", "bucket0", "s1", "Bad..Name", "admin0"),
    (3L, "vol1", "link-a", "s2", "s2-new", "admin0"),
    // collision probes use names that CLEAR the strict new-name rung
    // (3-63 chars — the legacy chain names s1/s2 would fail it first):
    // snap-gone is SNAPSHOT_DELETED yet still occupies its name
    (4L, "vol0", "bucket0", "s1", "snap-gone", "admin0"),
    (5L, "vol0", "bucket0", "nope", "fresh-name", "admin0"),
    (6L, "vol0", "bucket0", "snap-gone", "revived", "admin0"),
    (7L, "vol0", "bucket0", "s1", "s1-x", "clerk1"),
    (8L, "vol2", "bucket5", "snap-golden", "snap-aurum", "om-admin"),
    (9L, "vol3", "link-broken", "s1", "s1-y", "admin0"),
    (10L, "vol0", "link-cycle1", "s1", "s1-z", "admin0"),
    (11L, "vol2", "nobucket", "s1", "s1-w", "admin2"),
    (12L, "vol2", "bucket5", "snap-golden", "snap-golden", "admin2"),
    (13L, "vol2", "bucket5", "ghost", "snap-golden", "admin2"))

  def snapshotRenameRequests(spark: SparkSession, dir: String): DataFrame =
    snapshotRenameRequestRows.df(spark)

  /** allocate_block_requests: an OMAllocateBlockRequest batch, derived
    * from the key population like [[keyCommitRequests]] (object_id % 97
    * == 0, canonicalized — lineitem dups collapse to one request per id).
    * cls = second digit of probe picks the ladder branch:
    *   0/1 plain allocation, 2 clientID mismatch (open entry not found),
    *   3 lease-recovery marker, 4 deleted/overwritten-hsync marker,
    *   5 quota blowout (the open key already holds enough blocks that the
    *     next allocation's replicated size overruns the bucket quota).
    * probe%13==3 rewrites the bucket to a missing one
    * (validateBucketAndVolume runs FIRST). had_blocks = probe%4 open
    * blocks already allocated; replication_type rides along for the
    * QuotaUtil.getReplicatedSize math. */
  def allocateBlockRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "allocreq", dir)(
      sampledRequests(spark, dir, 97, 6, "replication_type")
        .select(col("req_id"), col("volume"),
          when(col("probe") % 13 === 3, lit("no-such-bucket"))
            .otherwise(col("bucket0")).as("bucket"),
          col("key0").as("key"), col("replication_type"),
          when(col("cls") === 2, col("req_id") * 7 % 100000 + 999983L)
            .otherwise(col("req_id") * 7 % 100000).as("client_id"),
          (col("cls") =!= 2).as("open_exists"),
          (col("cls") === 3).as("open_lease_recovery"),
          (col("cls") === 4).as("open_deleted_hsync"),
          when(col("cls") === 5, lit(4000L))
            .otherwise(col("probe") % 4).as("had_blocks")))

  /** assign_admin_requests: OMTenantAssignAdminRequest batch — accessId
    * unassigned anywhere (TENANT_NOT_FOUND on tenant inference), accessId
    * absent with an EXPLICIT tenant (ACCESS_ID_NOT_FOUND), accessId
    * assigned to a DIFFERENT tenant than requested (INVALID_TENANT_ID),
    * plain + delegated assignment, and the inferred-tenant path (empty
    * tenant_id → resolved from the accessId). */
  val assignAdminRequestRows = Fixture(
    "req_id", "tenant_id", "access_id", "delegated")(
    (1L, "tenant1", "tenant1$clerk1", true),
    (2L, "", "tenant2$clerk2", false),
    (3L, "", "ghost$nobody", false),
    (4L, "tenant1", "tenant1$missing", true),
    (5L, "tenant2", "tenant1$clerk1", false),
    (6L, "tenant3", "tenant3$clerk3", false))

  def assignAdminRequests(spark: SparkSession, dir: String): DataFrame =
    assignAdminRequestRows.df(spark)

  /** container_report_events: the SCM report stream — seq 1 a full
    * report per node (the current replica map), seq 2 ICR deletes
    * (container_id % 7 == 1 on its first-listed node), seq 3 ICR
    * additions onto dn19 (container_id % 11 == 3), seq 4 a SECOND full
    * report for dn0 carrying only its even containers as QUASI_CLOSED
    * (the FCR boundary drops dn0's odd replicas AND voids the earlier
    * ICRs there), seq 5 post-boundary ICR re-adds on dn0 (odd multiples
    * of 3). */
  def containerReportEvents(spark: SparkSession, dir: String): DataFrame = {
    val base = replicas(spark, dir)
    val fcr1 = base.select(lit(1L).as("seq"), col("datanode"),
      lit("FCR").as("kind"), col("container_id"), col("replica_state"))
    val icrDel = base.filter(col("container_id") % 7 === 1)
      .groupBy("container_id").agg(min("datanode").as("datanode"))
      .select(lit(2L).as("seq"), col("datanode"), lit("ICR").as("kind"),
        col("container_id"), lit("DELETED").as("replica_state"))
    val icrAdd = base.select("container_id").distinct()
      .filter(col("container_id") % 11 === 3)
      .select(lit(3L).as("seq"), lit("dn19").as("datanode"),
        lit("ICR").as("kind"), col("container_id"),
        lit("CLOSED").as("replica_state"))
    val fcr2 = base
      .filter(col("datanode") === "dn0" && col("container_id") % 2 === 0)
      .select(lit(4L).as("seq"), col("datanode"), lit("FCR").as("kind"),
        col("container_id"), lit("QUASI_CLOSED").as("replica_state"))
    val icrReadd = base
      .filter(col("datanode") === "dn0" && col("container_id") % 2 === 1 &&
        col("container_id") % 3 === 0)
      .select(lit(5L).as("seq"), col("datanode"), lit("ICR").as("kind"),
        col("container_id"), lit("CLOSED").as("replica_state"))
    fcr1.unionByName(icrDel).unionByName(icrAdd).unionByName(fcr2)
      .unionByName(icrReadd)
  }

  /** snapshot_chain_global: the snapshot catalog with a GLOBAL creation
    * order (chain index) — both chains (global, per-bucket path) derive
    * from it; the purge ladder splices entries out of both. */
  val snapshotChainGlobalRows = Fixture(
    "global_idx", "name", "volume", "bucket")(
    (1L, "s1", "vol0", "bucket0"),
    (2L, "s2", "vol0", "bucket0"),
    (3L, "snap-gone", "vol0", "bucket0"),
    (4L, "snap-golden", "vol2", "bucket5"),
    (5L, "snap-live", "vol0", "bucket0"))

  def snapshotChainGlobal(spark: SparkSession, dir: String): DataFrame =
    snapshotChainGlobalRows.df(spark)

  /** lifecycle_events: SCM container lifecycle streams — the CLOSE
    * happy path, the quasi-close path with the CLOSE-at-QUASI_CLOSED
    * invalid nuance, replayed idempotent events, and invalid events
    * ignored mid-stream (the stream continues from the unchanged
    * state). Seqs are dense per container. */
  val containerLifecycleEventRows = Fixture("container_id", "seq", "event")(
    (1L, 1L, "FINALIZE"), (1L, 2L, "CLOSE"), (1L, 3L, "DELETE"),
    (1L, 4L, "CLEANUP"), (1L, 5L, "CLEANUP"),
    (2L, 1L, "FINALIZE"), (2L, 2L, "QUASI_CLOSE"), (2L, 3L, "CLOSE"),
    (2L, 4L, "FORCE_CLOSE"), (2L, 5L, "DELETE"), (2L, 6L, "CLEANUP"),
    (3L, 1L, "CLOSE"), (3L, 2L, "FINALIZE"), (3L, 3L, "FINALIZE"),
    (3L, 4L, "QUASI_CLOSE"), (3L, 5L, "DELETE"), (3L, 6L, "CLEANUP"),
    (4L, 1L, "DELETE"), (4L, 2L, "CLEANUP"), (4L, 3L, "FINALIZE"),
    (5L, 1L, "FINALIZE"), (5L, 2L, "CLOSE"), (5L, 3L, "QUASI_CLOSE"),
    (5L, 4L, "FORCE_CLOSE"))

  def containerLifecycleEvents(spark: SparkSession, dir: String): DataFrame =
    containerLifecycleEventRows.df(spark)

  /** dn_containers: one datanode-local container per lifecycle state,
    * with the on-disk BCSID the dispatch ladder fences against. */
  val dnContainerRows = Fixture("container_id", "cstate", "initial_bcsid")(
    (1L, "OPEN", 10L), (2L, "CLOSED", 50L), (3L, "UNHEALTHY", 5L),
    (4L, "INVALID", 0L), (5L, "CLOSING", 7L), (6L, "RECOVERING", 0L),
    (7L, "QUASI_CLOSED", 20L), (8L, "OPEN", 0L))

  def dnContainers(spark: SparkSession, dir: String): DataFrame =
    dnContainerRows.df(spark)

  /** pending_deleted_dirs: the deleted-dir table the purge walk drains —
    * a fully-purged dir, an empty skip, a retained dir shedding only
    * reclaimable files, a budget-truncated dir, and dirs past the spent
    * budget. */
  val pendingDeletedDirRows = Fixture(
    "dir_id", "n_subdirs", "n_subfiles", "n_reclaimable_files", "purge_dir")(
    (1L, 2L, 3L, 2L, true),
    (2L, 0L, 0L, 0L, false),
    (3L, 1L, 5L, 2L, false),
    (4L, 3L, 4L, 4L, true),
    (5L, 0L, 1L, 1L, true),
    (6L, 2L, 0L, 0L, false))

  def pendingDeletedDirs(spark: SparkSession, dir: String): DataFrame =
    pendingDeletedDirRows.df(spark)

  /** sigv4_headers: Authorization-header parse fixtures — every rung of
    * AuthorizationV4HeaderParser (NOT_V4 fall-through, separator/part
    * arity, algorithm, the Credential 5/6-arity split incl. the
    * Kerberos join, each empty-field refusal, the request-before-
    * service precedence probe, strict-date + range windows around the
    * injected now=2023-05-24, signed-header and hex-signature rules
    * incl. the odd-length refusal) plus three OK rows (Kerberos, base,
    * both date boundaries). */
  def sigv4Headers(spark: SparkSession, dir: String): DataFrame =
    sigv4HeaderRows.df(spark)

  val sigv4HeaderRows: Fixture[(Long, String)] =
    Fixture("req_id", "auth_header")(
      (1L, ""),
      (2L, "Basic dXNlcg=="),
      (3L, "AWS4-HMAC-SHA256"),
      (4L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host"),
      (5L, "AWS4-HMAC-SHA999 Credential=AKIA/20230524/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (6L, "AWS4-HMAC-SHA256 Cred=AKIA/20230524/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (7L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1, " +
        "SignedHeaders=host, Signature=ab12"),
      (8L, "AWS4-HMAC-SHA256 Credential=testuser/om@EXAMPLE.COM/" +
        "20230524/us-east-1/s3/aws4_request, " +
        "SignedHeaders=host;x-amz-date, Signature=db81b057"),
      (9L, "AWS4-HMAC-SHA256 Credential=/20230524/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (10L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524//s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (11L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1//" +
        "aws4_req, SignedHeaders=host, Signature=ab12"),
      (12L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1//" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (13L, "AWS4-HMAC-SHA256 Credential=AKIA//us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (14L, "AWS4-HMAC-SHA256 Credential=AKIA/2023AB24/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (15L, "AWS4-HMAC-SHA256 Credential=AKIA/20230229/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (16L, "AWS4-HMAC-SHA256 Credential=AKIA/20230520/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (17L, "AWS4-HMAC-SHA256 Credential=AKIA/20230526/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (18L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1/s3/" +
        "aws4_request, Headers=host, Signature=ab12"),
      (19L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1/s3/" +
        "aws4_request, SignedHeaders=, Signature=ab12"),
      (20L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Sig=ab12"),
      (21L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature="),
      (22L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=xyz9"),
      (23L, "AWS4-HMAC-SHA256 Credential=AKIA/20230524/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=abc"),
      (24L, "AWS4-HMAC-SHA256 Credential=AKIAEXAMPLE/20230524/" +
        "us-east-1/s3/aws4_request, SignedHeaders=host;x-amz-date, " +
        "Signature=db81b057"),
      (25L, "AWS4-HMAC-SHA256 Credential=AKIA/20230523/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"),
      (26L, "AWS4-HMAC-SHA256 Credential=AKIA/20230525/us-east-1/s3/" +
        "aws4_request, SignedHeaders=host, Signature=ab12"))


  /** auth_dispatch: the AWSSignatureProcessor parser chain — V4 header
    * before V4 query before V2 (precedence probed with both present),
    * the V2 rungs incl. Java's trailing-separator drop ('AWS ak:' is
    * an ARITY failure, not blank-signature), anonymous fall-through.
    * NULL = no Authorization header. */
  val authDispatchRows: Fixture[(Long, String, Boolean)] = Fixture(
    "req_id", "auth_header", "has_query_sig")(
    (1L, "AWS4-HMAC-SHA256 Credential=x, SignedHeaders=h, Signature=ab",
      false),
    (2L, null, true),
    (3L, "AWS4-garbage", true),
    (4L, "AWS ak:sig", false),
    (5L, "AWS ak:sig extra", false),
    (6L, "AWS ak", false),
    (7L, "AWS ak:sig:x", false),
    (8L, "AWS :sig", false),
    (9L, "AWS ak:", false),
    (10L, "Basic xyz", false),
    (11L, "AWS4-HMAC-SHA256 Credential=x, SignedHeaders=h, Signature=ab",
      true),
    (12L, null, false),
    (13L, "AWS  ak:sig", false))

  def authDispatchRequests(spark: SparkSession, dir: String): DataFrame =
    authDispatchRows.df(spark)

  /** range_headers: the S3 Range-header parse fixtures against a
    * 100-byte object — bounded/suffix/open ranges, clamping, the
    * 416 invalid combination with RAW offsets, the `bytes=-` and
    * start>end artifacts, syntax fall-through to full reads. */
  val rangeHeaderRows: Fixture[(Long, String)] = Fixture(
    "req_id", "range_header")(
    (1L, "bytes=0-49"), (2L, "bytes=10-"), (3L, "bytes=-30"),
    (4L, "bytes=-150"), (5L, "bytes=-"), (6L, "bytes=150-"),
    (7L, "bytes=150-200"), (8L, "bytes=150-80"), (9L, "bytes=0-150"),
    (10L, "bytes=5-2"), (11L, "garbage"), (12L, "bytes=0-5,10-20"),
    (13L, "bytes=99-99"), (14L, "bytes=100-100"))

  def rangeHeaders(spark: SparkSession, dir: String): DataFrame =
    rangeHeaderRows.df(spark)

  /** string_to_sign requests: raw request parts (method, uri, signed
    * list, packed header/query maps, auth metadata) for the canonical-
    * request builder — the OK shapes (header-auth, query-auth with the
    * X-Amz-Signature exclusion, blank-uri rule, segment encoding,
    * query sorting+encoding) and every refusal rung. NULL datetime =
    * absent header. */
  val stringToSignRows: Fixture[(Long, String, String, String, String,
    String, String, String, String, Boolean)] = {
    val h = "host=s3g.internal|x-amz-date=20230524T110000Z|" +
      "x-amz-content-sha256=UNSIGNED-PAYLOAD"
    val h2 = "host=s3g.internal|x-amz-date=20230524T110000Z"
    val a = "AWS4-HMAC-SHA256"
    val dt = "20230524T110000Z"
    val sc = "20230524/us-east-1/s3/aws4_request"
    Fixture(
      "req_id", "method", "uri", "signed_headers", "headers_str", "query_str",
      "algorithm", "dt", "scope", "sign_payload")(
      (1L, "GET", "/bucket/key", "host;x-amz-content-sha256;x-amz-date",
        h, "", a, dt, sc, true),
      (2L, "GET", "/bucket", "host;x-amz-date", h2,
        "X-Amz-Algorithm=AWS4-HMAC-SHA256|X-Amz-Signature=abcd|" +
          "X-Amz-Expires=3600", a, dt, sc, false),
      (3L, "GET", "/b", "host;x-amz-meta-k;x-amz-date", h, "", a, dt,
        sc, true),
      (4L, "GET", "/b", "host;x-amz-content-sha256;x-amz-date",
        "host=s3g.internal|x-amz-date=20230401T000000Z|" +
          "x-amz-content-sha256=UNSIGNED-PAYLOAD", "", a, dt, sc, true),
      (5L, "GET", "/b", "x-amz-date", h, "", a, dt, sc, true),
      (6L, "PUT", "/b/k", "host;x-amz-content-sha256;x-amz-date",
        h + "|x-amz-acl=private", "", a, dt, sc, true),
      (7L, "GET", "/b", "host;x-amz-date", h2, "", a, dt, sc, true),
      (8L, "GET", "/b", "host;x-amz-content-sha256;x-amz-date", h, "",
        a, null, sc, true),
      (9L, "GET", "", "host;x-amz-content-sha256;x-amz-date", h, "",
        a, dt, sc, true),
      (10L, "GET", "/b/k with space+plus*x",
        "host;x-amz-content-sha256;x-amz-date", h, "", a, dt, sc, true),
      (11L, "GET", "/b", "host;x-amz-content-sha256;x-amz-date", h,
        "prefix=a b|X-Amz-Signature=abcd|delimiter=/", a, dt, sc, true))
  }

  def stringToSignRequests(spark: SparkSession, dir: String): DataFrame =
    stringToSignRows.df(spark)

  /** presigned_requests: X-Amz-* query parameters for the presigned-URL
    * parse ladder — the signature-presence gate, algorithm rungs,
    * missing/empty date+expires, the 403 expires-range and expiry
    * windows (range checked before date parse — probed), the
    * url-decoded credential ladder, signed-header and signature rungs,
    * boundary OKs (max expires, expiry == now). NULL = parameter
    * absent, '' = present-but-empty — the reference distinguishes. */
  val presignedRows: Fixture[(Long, String, String, String, String, String,
    String)] = {
    val okc = "AKIA%2F20230524%2Fus-east-1%2Fs3%2Faws4_request"
    val a = "AWS4-HMAC-SHA256"
    val d = "20230524T110000Z"
    Fixture(
      "req_id", "algorithm", "amz_date", "expires", "credential",
      "signed_headers", "signature")(
      (1L, a, d, "7200", okc, "host", null),
      (2L, null, d, "7200", okc, "host", "ab12"),
      (3L, "AWS4-HMAC-SHA999", d, "7200", okc, "host", "ab12"),
      (4L, a, null, "7200", okc, "host", "ab12"),
      (5L, a, d, "", okc, "host", "ab12"),
      (6L, a, d, "0", okc, "host", "ab12"),
      (7L, a, d, "604801", okc, "host", "ab12"),
      (8L, a, "20230524T1100Z", "7200", okc, "host", "ab12"),
      (9L, a, "20230524T1100Z", "0", okc, "host", "ab12"),
      (10L, a, "20230524T010000Z", "3600", okc, "host", "ab12"),
      (11L, a, d, "7200", "AKIA%2F20230524%2Fus-east-1", "host", "ab12"),
      (12L, a, d, "7200",
        "%2F20230524%2Fus-east-1%2Fs3%2Faws4_request", "host", "ab12"),
      (13L, a, d, "7200",
        "AKIA%2F20230524%2Fus-east-1%2F%2Faws4_req", "host", "ab12"),
      (14L, a, d, "7200",
        "AKIA%2F2023AB24%2Fus-east-1%2Fs3%2Faws4_request", "host",
        "ab12"),
      (15L, a, d, "7200", okc, null, "ab12"),
      (16L, a, d, "7200", okc, "host", ""),
      (17L, a, d, "7200", okc, "host", "xyz"),
      (18L, a, d, "7200",
        "testuser%2Fom%40EXAMPLE.COM%2F20230524%2Fus-east-1%2Fs3%2F" +
          "aws4_request", "host;x-amz-date", "db81b057"),
      (19L, a, d, "604800", okc, "host", "ab12"),
      (20L, a, d, "3600", okc, "host", "ab12"),
      (21L, a, d, "7200", "AKIA/20230524/us-east-1/s3/aws4_request",
        "host", "ab12"))
  }

  def presignedRequests(spark: SparkSession, dir: String): DataFrame =
    presignedRows.df(spark)

  /** sbd_txns + catalog: the SCM deleted-block dispatch round —
    * cleanup (deleted + missing containers), OPEN skip, inadequate
    * replicas (non-included dn / unhealthy replication), dispatches
    * that fill the per-dn caps and the global budget, an all-duplicate
    * no-op, the circular-resume order (lastProcessed=2 walks 3..12
    * then 1, 2) and a NOT_REACHED tail. */
  val sbdTxnRows = Fixture("txn_id", "container_id", "blocks")(
    (1L, "c7", 10L), (2L, "c2", 9L), (3L, "c3", 5L), (4L, "c4", 5L),
    (5L, "c5", 5L), (6L, "c6", 5L), (7L, "c1", 30L), (8L, "c9", 4L),
    (9L, "c2", 25L), (10L, "c8", 10L), (11L, "c7", 6L),
    (12L, "c10", 8L))

  def sbdTxns(spark: SparkSession, dir: String): DataFrame =
    sbdTxnRows.df(spark)

  /** Container states for the dispatch round; c9 is deliberately
    * ABSENT (ContainerNotFoundException → txn cleanup). */
  val sbdContainerRows = Fixture("container_id", "cstate", "health_ok")(
    ("c1", "CLOSED", true), ("c2", "CLOSED", true),
    ("c3", "DELETED", true), ("c4", "OPEN", true),
    ("c5", "CLOSED", true), ("c6", "CLOSED", false),
    ("c7", "CLOSED", true), ("c8", "CLOSED", true),
    ("c10", "CLOSED", true))

  def sbdContainers(spark: SparkSession, dir: String): DataFrame =
    sbdContainerRows.df(spark)

  /** Replica map; d9 is not in the included set (pins c5). */
  val sbdReplicaRows = Fixture("container_id", "dn")(
    ("c1", "d1"), ("c1", "d2"), ("c2", "d1"), ("c2", "d2"),
    ("c3", "d1"), ("c4", "d2"), ("c4", "d3"), ("c5", "d3"),
    ("c5", "d9"), ("c6", "d3"), ("c6", "d4"), ("c7", "d3"),
    ("c7", "d4"), ("c8", "d1"), ("c8", "d2"), ("c10", "d4"))

  def sbdReplicas(spark: SparkSession, dir: String): DataFrame =
    sbdReplicaRows.df(spark)

  /** Healthy + in-service datanodes under the command limit
    * (getDatanodesWithinCommandLimit). */
  val sbdIncludedRows = Fixture("dn")("d1", "d2", "d3", "d4")

  def sbdIncluded(spark: SparkSession, dir: String): DataFrame =
    sbdIncludedRows.df(spark)

  /** (dn, txn) pairs already holding the command (the status manager's
    * duplication probe). */
  val sbdDupRows = Fixture("dn", "txn_id")(
    ("d2", 9L), ("d3", 11L), ("d4", 11L))

  def sbdDups(spark: SparkSession, dir: String): DataFrame =
    sbdDupRows.df(spark)

  /** dn_delete_containers: the DN block-deleting candidate set — every
    * eligibility rung (no pending, wrong type, wrong state, unparseable
    * origin pipeline, close-log not fully replicated) plus eligible
    * containers via the empty-pipeline, gone-Ratis-group and
    * fully-replicated paths; pendings sized so the TopN fill truncates
    * mid-container. */
  val dnDeleteContainerRows = Fixture(
    "container_id", "ctype", "cstate", "pending_blocks", "origin_pipeline",
    "pipeline_parseable", "ratis_group_exists", "min_replicated_index",
    "bcsid")(
    (1L, "KeyValueContainer", "CLOSED", 40L, "p1", true, true, 100L, 50L),
    (2L, "KeyValueContainer", "CLOSED", 100L, "p2", true, true, 10L, 50L),
    (3L, "KeyValueContainer", "OPEN", 30L, "p3", true, true, 100L, 50L),
    (4L, "KeyValueContainer", "QUASI_CLOSED", 60L, "", true, false, 0L, 0L),
    (5L, "KeyValueContainer", "CLOSED", 0L, "p5", true, true, 100L, 50L),
    (6L, "OtherContainer", "CLOSED", 20L, "p6", true, true, 100L, 50L),
    (7L, "KeyValueContainer", "CLOSED", 25L, "not-a-uuid", false, true,
      100L, 50L),
    (8L, "KeyValueContainer", "CLOSED", 50L, "p8", true, false, 0L, 50L),
    (9L, "KeyValueContainer", "CLOSED", 50L, "p9", true, true, 80L, 80L),
    (10L, "KeyValueContainer", "QUASI_CLOSED", 15L, "p10", true, true,
      90L, 20L),
    (11L, "KeyValueContainer", "CLOSED", 60L, "", true, false, 0L, 0L),
    (12L, "KeyValueContainer", "CLOSED", 10L, "", true, false, 0L, 0L))

  def dnDeleteContainers(spark: SparkSession, dir: String): DataFrame =
    dnDeleteContainerRows.df(spark)

  /** dn_volume_ops: the round-robin volume-choice op stream — three
    * registrations, rotating allocations, a removal that strands the
    * cursor out of bounds (restart-at-0 guard), full-circle
    * out-of-space misses that leave the cursor parked, drain to an
    * empty list (NO_VOLUMES), late re-registration. */
  val dnVolumeOpRows = Fixture("seq", "op")(
    (1L, "ADD:v0:1000"), (2L, "ADD:v1:500"), (3L, "ADD:v2:800"),
    (4L, "ALLOC:300"), (5L, "ALLOC:400"), (6L, "REMOVE:v0"),
    (7L, "ALLOC:100"), (8L, "ALLOC:700"), (9L, "ALLOC:200"),
    (10L, "ALLOC:100"), (11L, "REMOVE:v1"), (12L, "ALLOC:10"),
    (13L, "REMOVE:v2"), (14L, "ALLOC:10"), (15L, "ADD:v3:100"),
    (16L, "ALLOC:60"), (17L, "ALLOC:60"))

  def dnVolumeOps(spark: SparkSession, dir: String): DataFrame =
    dnVolumeOpRows.df(spark)

  /** alloc_requests: SCM block-allocation requests (BlockManagerImpl →
    * WritableRatisContainerProvider) — cursor tail hit, exclusion-forced
    * wrap, pipeline-exclusion re-route with a pre-mint, dn-exclusion
    * wipe-out falling back to the unfiltered pipeline set, an empty
    * RATIS/ONE pipeline minting, a space-blocked EC CREATE_PIPELINE, a
    * miss-path post-mint, the removed-pipeline loop, and the limit-0
    * miss-path-mint artifact. '' = no exclusion. */
  val allocRequestRows = Fixture(
    "req_id", "size", "owner", "rep_config", "excl_dn", "excl_pipeline",
    "excl_container")(
    (1L, 10L, "o1", "RATIS/THREE", "", "", 0L),
    (2L, 10L, "o1", "RATIS/THREE", "", "", 103L),
    (3L, 20L, "o1", "RATIS/THREE", "", "pl-a", 0L),
    (4L, 10L, "o1", "RATIS/THREE", "dnX", "", 0L),
    (5L, 10L, "o2", "RATIS/ONE", "", "", 0L),
    (6L, 10L, "o3", "EC/rs-3-2-1024k", "", "pl-h", 0L),
    (7L, 10L, "o4", "RATIS/THREE", "", "", 0L),
    (8L, 10L, "o3", "EC/rs-3-2-1024k", "", "", 0L),
    (9L, 10L, "o5", "RATIS/ONE", "", "pl-d", 0L))

  def allocRequests(spark: SparkSession, dir: String): DataFrame =
    allocRequestRows.df(spark)

  /** The SCM pipeline catalog for the allocation walk; pl-f is
    * ALLOCATED (never a write candidate), pl-b is the unhealthy
    * fallback. */
  val allocPipelineRows = Fixture(
    "pipeline_id", "rep_config", "pstate", "healthy")(
    ("pl-a", "RATIS/THREE", "OPEN", true),
    ("pl-b", "RATIS/THREE", "OPEN", false),
    ("pl-c", "RATIS/THREE", "OPEN", true),
    ("pl-d", "RATIS/ONE", "OPEN", true),
    ("pl-e", "EC/rs-3-2-1024k", "OPEN", true),
    ("pl-f", "RATIS/THREE", "ALLOCATED", true),
    ("pl-h", "EC/rs-3-2-1024k", "OPEN", true),
    ("pl-i", "RATIS/ONE", "OPEN", true))

  def allocPipelines(spark: SparkSession, dir: String): DataFrame =
    allocPipelineRows.df(spark)

  /** Pipeline membership; dnX rides every RATIS/THREE pipeline so one
    * dn exclusion can wipe the whole candidate set. */
  val allocPipelineMemberRows = Fixture("pipeline_id", "dn")(
    ("pl-a", "dnA"), ("pl-a", "dnB"), ("pl-a", "dnX"),
    ("pl-b", "dnC"), ("pl-b", "dnD"), ("pl-b", "dnX"),
    ("pl-c", "dnC"), ("pl-c", "dnD"), ("pl-c", "dnX"),
    ("pl-d", "dnC"),
    ("pl-e", "dnE"), ("pl-e", "dnC"), ("pl-e", "dnD"),
    ("pl-f", "dnA"), ("pl-f", "dnB"), ("pl-f", "dnC"),
    ("pl-h", "dnC"), ("pl-h", "dnD"),
    ("pl-i", "dnF"))

  def allocPipelineMembers(spark: SparkSession, dir: String): DataFrame =
    allocPipelineMemberRows.df(spark)

  /** Per-dn volume/pipeline-limit/space dims feeding openContainerLimit
    * (SCMNodeManager.java:1661-1676) and the mint space gate
    * (checkSpaceAndRecordAllocation). dnF's pipeline_limit 0 zeroes its
    * pipeline's limit; dnE blocks minting. */
  val allocDatanodeRows = Fixture(
    "dn", "healthy_volumes", "pipeline_limit", "has_space")(
    ("dnA", 3L, 3L, true), ("dnB", 2L, 2L, true),
    ("dnC", 4L, 2L, true), ("dnD", 4L, 2L, true),
    ("dnE", 2L, 2L, false), ("dnX", 3L, 3L, true),
    ("dnF", 1L, 0L, true))

  def allocDatanodes(spark: SparkSession, dir: String): DataFrame =
    allocDatanodeRows.df(spark)

  /** Open containers per (pipeline, owner) with used bytes against the
    * 1000-unit container size; 140 belongs to another owner (the owner
    * filter drops it). */
  val allocContainerRows = Fixture(
    "container_id", "pipeline_id", "owner", "used")(
    (101L, "pl-a", "o1", 100L), (102L, "pl-a", "o1", 990L),
    (103L, "pl-a", "o1", 400L),
    (120L, "pl-a", "o4", 995L), (121L, "pl-a", "o4", 998L),
    (130L, "pl-e", "o3", 995L), (131L, "pl-e", "o3", 996L),
    (140L, "pl-a", "o9", 10L))

  def allocContainers(spark: SparkSession, dir: String): DataFrame =
    allocContainerRows.df(spark)

  /** The lastUsedMap cursor (ContainerStateManagerImpl.java:501-503). */
  val allocCursorRows = Fixture("owner", "pipeline_id", "last_used")(
    ("o1", "pl-a", 102L))

  def allocCursors(spark: SparkSession, dir: String): DataFrame =
    allocCursorRows.df(spark)

  /** snap_delete_chain: the global snapshot chain the deleting service
    * walks newest→oldest — ACTIVE skips, an un-flushed skip, two
    * next-in-path-DELETED skips, a full move into a named next snapshot,
    * an empty purge-listed snapshot, a budget-truncating move to AOS,
    * and tail positions past the spent budgets. Ref
    * SnapshotDeletingService.java:127-233. */
  val snapDeleteChainRows = Fixture(
    "global_seq", "snap", "path_id", "path_seq", "status", "flushed",
    "n_deleted_keys", "n_deleted_dirs", "n_renames")(
    (10L, "s10", "p2", 4L, "SNAPSHOT_ACTIVE", true, 0L, 0L, 0L),
    (9L, "s9", "p1", 4L, "SNAPSHOT_ACTIVE", true, 0L, 0L, 0L),
    (8L, "s8", "p1", 3L, "SNAPSHOT_DELETED", false, 2L, 0L, 0L),
    (7L, "s7", "p2", 3L, "SNAPSHOT_DELETED", true, 3L, 2L, 1L),
    (6L, "s6", "p4", 1L, "SNAPSHOT_DELETED", true, 0L, 0L, 0L),
    (5L, "s5", "p1", 2L, "SNAPSHOT_DELETED", true, 4L, 0L, 0L),
    (4L, "s4", "p2", 2L, "SNAPSHOT_DELETED", true, 2L, 0L, 0L),
    (3L, "s3", "p3", 1L, "SNAPSHOT_DELETED", true, 10L, 5L, 3L),
    (2L, "s2", "p2", 1L, "SNAPSHOT_DELETED", true, 1L, 0L, 0L),
    (1L, "s1", "p1", 1L, "SNAPSHOT_DELETED", true, 1L, 0L, 0L))

  def snapDeleteChain(spark: SparkSession, dir: String): DataFrame =
    snapDeleteChainRows.df(spark)

  /** remove_dn_requests: the Recon `/datanodes/remove` request list —
    * an unknown uuid, non-DEAD refusals (HEALTHY and STALE), a DEAD node
    * pinned by an OPEN container, one pinned only by an OPEN pipeline,
    * two clean removals (one with CLOSED/unmanaged refs, one with no refs
    * at all), then re-requests of a removed node (NOT_FOUND — the loop
    * mutates the node manager as it walks) and of a failed one (still
    * failed). Ref NodeEndpoint.java:204-236. */
  val removeDnRequestRows = Fixture("req_seq", "uuid")(
    (1L, "dnr-unknown"), (2L, "dnrH"), (3L, "dnrS"), (4L, "dnrD1"),
    (5L, "dnrD2"), (6L, "dnrD3"), (7L, "dnrD4"), (8L, "dnrD3"),
    (9L, "dnrD1"))

  def removeDnRequests(spark: SparkSession, dir: String): DataFrame =
    removeDnRequestRows.df(spark)

  /** The node-manager health view the remove ladder probes
    * (NodeStatus.isDead — server-scm/.../NodeStatus.java:235). */
  val removeDnNodeRows = Fixture("uuid", "health")(
    ("dnrH", "HEALTHY"), ("dnrS", "STALE"), ("dnrD1", "DEAD"),
    ("dnrD2", "DEAD"), ("dnrD3", "DEAD"), ("dnrD4", "DEAD"))

  def removeDnNodes(spark: SparkSession, dir: String): DataFrame =
    removeDnNodeRows.df(spark)

  /** nodeManager.getContainers refs; ids 103/105 are NOT in the Recon
    * container manager (skipped, NodeEndpoint.java:306-320). */
  val removeDnContainerRefRows = Fixture("uuid", "container_id")(
    ("dnrD1", 101L), ("dnrD1", 102L), ("dnrD1", 103L),
    ("dnrD2", 101L), ("dnrD2", 104L),
    ("dnrD3", 101L), ("dnrD3", 105L))

  def removeDnContainerRefs(spark: SparkSession, dir: String): DataFrame =
    removeDnContainerRefRows.df(spark)

  /** The Recon container manager's lifecycle states (only OPEN pins a
    * removal; 106 is unreferenced). */
  val removeDnContainerStateRows = Fixture("container_id", "cstate")(
    (101L, "CLOSED"), (102L, "OPEN"), (104L, "QUASI_CLOSED"),
    (106L, "OPEN"))

  def removeDnContainerStates(spark: SparkSession, dir: String): DataFrame =
    removeDnContainerStateRows.df(spark)

  /** nodeManager.getPipelines refs; "pr-gone" is NOT in the pipeline
    * manager (skipped, NodeEndpoint.java:292-305). */
  val removeDnPipelineRefRows = Fixture("uuid", "pipeline_id")(
    ("dnrD1", "pr-open"), ("dnrD2", "pr-open"), ("dnrD2", "pr-closed"),
    ("dnrD3", "pr-closed"), ("dnrD3", "pr-gone"))

  def removeDnPipelineRefs(spark: SparkSession, dir: String): DataFrame =
    removeDnPipelineRefRows.df(spark)

  /** Pipeline-manager states (Pipeline.isOpen ⇔ OPEN,
    * common/.../Pipeline.java:319-321). */
  val removeDnPipelineStateRows = Fixture("pipeline_id", "pstate")(
    ("pr-open", "OPEN"), ("pr-closed", "CLOSED"),
    ("pr-dormant", "DORMANT"))

  def removeDnPipelineStates(spark: SparkSession, dir: String): DataFrame =
    removeDnPipelineStateRows.df(spark)

  /** recovering_containers: the DN recovering map for the stale-scrub —
    * one within deadline, one expired and marked, one expired but
    * re-registered with an extended deadline before the task ran, one
    * expired and vanished from the container set. exec_deadline_ms is
    * the value the TASK re-reads (-1 = entry gone). */
  val recoveringContainerRows = Fixture(
    "container_id", "deadline_ms", "exec_deadline_ms", "exists")(
    (1L, 2000000L, -1L, true),
    (2L, 500000L, -1L, true),
    (3L, 400000L, 3000000L, true),
    (4L, 300000L, -1L, false))

  def recoveringContainers(spark: SparkSession, dir: String): DataFrame =
    recoveringContainerRows.df(spark)

  /** snapdiff_cleanup_jobs: the diff-job table state the cleanup walks —
    * prior-run purged jobs awaiting report deletion, age-expired and
    * terminal-status jobs (incl. a stale IN_PROGRESS past the window),
    * live DONE/QUEUED jobs, and jobs past the per-task purge cap. */
  val snapdiffCleanupJobRows = Fixture(
    "job_key", "status", "age_ms", "in_purged_table", "report_entries")(
    ("j01", "DONE", 800000000L, false, 120L),
    ("j02", "FAILED", 1000L, false, 30L),
    ("j03", "DONE", 5000L, false, 500L),
    ("j04", "IN_PROGRESS", 700000000L, false, 0L),
    ("j05", "REJECTED", 2000L, false, 0L),
    ("j06", "CANCELLED", 1000L, false, 10L),
    ("j07", "QUEUED", 3000L, false, 0L),
    ("j08", "DONE", 900000000L, false, 60L),
    ("j20", "DONE", 950000000L, true, 200L),
    ("j21", "FAILED", 10000L, true, 40L))

  def snapdiffCleanupJobs(spark: SparkSession, dir: String): DataFrame =
    snapdiffCleanupJobRows.df(spark)

  /** dn_volumes: one DN's disk set for the disk balancer — an
    * over-threshold source, an under-threshold destination, a within-
    * band volume, and a zero-capacity (failed probe) volume the
    * calculations must exclude. */
  val dnVolumeRows = Fixture(
    "volume_id", "capacity", "available", "committed", "spared")(
    ("v1", 1000000L, 150000L, 50000L, 10000L),
    ("v2", 1000000L, 700000L, 0L, 10000L),
    ("v3", 1000000L, 500000L, 20000L, 10000L),
    ("v9", 0L, 0L, 0L, 0L))

  def dnVolumes(spark: SparkSession, dir: String): DataFrame =
    dnVolumeRows.df(spark)

  /** dn_balancer_containers: the source volume's container list, one
    * row per chooseContainer rung (dropped-from-set, in-progress, empty,
    * non-movable state, too big for dest, would exceed the upper
    * threshold, the chosen survivor, a post-choice container) plus one
    * on another volume that must not be scanned at all. */
  val dnBalancerContainerRows = Fixture(
    "container_id", "volume_id", "bytes_used", "state", "in_set",
    "in_progress")(
    (1L, "v1", 100000L, "CLOSED", false, false),
    (2L, "v1", 100000L, "CLOSED", true, true),
    (3L, "v1", 0L, "CLOSED", true, false),
    (4L, "v1", 100000L, "OPEN", true, false),
    (5L, "v1", 800000L, "CLOSED", true, false),
    (6L, "v1", 400000L, "QUASI_CLOSED", true, false),
    (7L, "v1", 120000L, "CLOSED", true, false),
    (8L, "v1", 50000L, "CLOSED", true, false),
    (9L, "v2", 60000L, "CLOSED", true, false))

  def dnBalancerContainers(spark: SparkSession, dir: String): DataFrame =
    dnBalancerContainerRows.df(spark)

  /** defrag_chain: the global snapshot chain the defrag service walks —
    * a first-in-path defrag (full), an already-defragged entry with
    * stale versions (cleanup), one without (no cleanup), an incremental
    * defrag consuming the second budget slot, and entries past the
    * budget on two paths (never visited). */
  val defragChainRows = Fixture(
    "global_idx", "name", "volume", "bucket", "needs_defrag", "version")(
    (1L, "d1", "vol0", "bucket0", true, 0L),
    (2L, "d2", "vol0", "bucket0", false, 2L),
    (3L, "d3", "vol2", "bucket5", false, 0L),
    (4L, "d4", "vol0", "bucket0", true, 1L),
    (5L, "d5", "vol2", "bucket5", true, 0L),
    (6L, "d6", "vol1", "bucket3", false, 0L))

  def defragChain(spark: SparkSession, dir: String): DataFrame =
    defragChainRows.df(spark)

  /** meta_scan_containers: one row per metadata-scan rung of
    * ContainerScanHelper/KeyValueContainerCheck — gate skips (failed
    * volume, recently scanned), each first-failing fastCheck rung, the
    * non-fatal chunks-dir rung, deleted-during-scan, transient FD
    * exhaustion, and the already-unhealthy re-mark. last_scan_ago_ms
    * -1 = never scanned. */
  val metaScanContainerRows = Fixture(
    "container_id", "volume_failed", "last_scan_ago_ms", "dir_exists",
    "meta_dir_exists", "file_status", "file_check_errors",
    "chunks_dir_exists", "deleted_during_scan", "transient_fd_errors",
    "already_unhealthy")(
    (1L, false, -1L, true, true, "OK", 0L, true, false, false, false),
    (2L, true, -1L, true, true, "OK", 0L, true, false, false, false),
    (3L, false, 60000L, true, true, "OK", 0L, true, false, false, false),
    (4L, false, 3600000L, true, true, "OK", 0L, true, false, false, false),
    (5L, false, -1L, false, true, "OK", 0L, true, false, false, false),
    (6L, false, -1L, true, false, "OK", 0L, true, false, false, false),
    (7L, false, -1L, true, true, "MISSING", 0L, true, false, false, false),
    (8L, false, -1L, true, true, "CORRUPT", 0L, true, false, false, false),
    (9L, false, -1L, true, true, "OK", 2L, true, false, false, false),
    (10L, false, -1L, true, true, "OK", 0L, false, false, false, false),
    (11L, false, -1L, false, true, "OK", 0L, true, true, false, false),
    (12L, false, -1L, true, true, "OK", 1L, false, false, true, false),
    (13L, false, -1L, true, true, "CORRUPT", 0L, true, false, false, true))

  def metaScanContainers(spark: SparkSession, dir: String): DataFrame =
    metaScanContainerRows.df(spark)

  /** dn_ops: the DN dispatch stream — an applied put, its Ratis replay,
    * a stale put, reads at/above/below the running BCSID, a missing
    * block, a stale stored block, writes against every refusing state,
    * writable CLOSING/RECOVERING containers, a read on a CLOSED
    * container (legal), a non-Ratis bcsId-0 put (fence skipped), and
    * the unsupported DeleteBlock. */
  val dnOpRows = Fixture(
    "seq", "container_id", "op", "bcsid", "block_exists", "stored_bcsid")(
    (1L, 1L, "PUT_BLOCK", 11L, true, 0L),
    (2L, 1L, "PUT_BLOCK", 11L, true, 0L),
    (3L, 1L, "PUT_BLOCK", 9L, true, 0L),
    (4L, 1L, "GET_BLOCK", 11L, true, 11L),
    (5L, 1L, "GET_BLOCK", 12L, true, 11L),
    (6L, 1L, "GET_BLOCK", 5L, false, 0L),
    (7L, 1L, "GET_BLOCK", 8L, true, 6L),
    (8L, 2L, "WRITE_CHUNK", 0L, true, 0L),
    (9L, 2L, "GET_BLOCK", 30L, true, 30L),
    (10L, 3L, "PUT_BLOCK", 6L, true, 0L),
    (11L, 4L, "WRITE_CHUNK", 0L, true, 0L),
    (12L, 5L, "WRITE_CHUNK", 0L, true, 0L),
    (13L, 6L, "PUT_BLOCK", 1L, true, 0L),
    (14L, 7L, "PUT_BLOCK", 21L, true, 0L),
    (15L, 1L, "DELETE_BLOCK", 0L, true, 0L),
    (16L, 8L, "PUT_BLOCK", 0L, true, 0L),
    (17L, 2L, "GET_BLOCK", 60L, true, 60L))

  def dnOps(spark: SparkSession, dir: String): DataFrame =
    dnOpRows.df(spark)

  /** node_health_events: the SCM heartbeat plane NodeStateManager folds —
    * per-node REGISTER (carries the registration layout version; a
    * mismatched registrant STARTS HEALTHY_READONLY, NodeStateManager
    * .newNodeStatus:333-347) and HB rows (each heartbeat refreshes
    * lastHeartbeatTime AND the last-known layout version). Bands:
    * dn1 steady-healthy; dn2 dies (boundary-exact lastHb == deadline at
    * one check, then STALE → DEAD); dn3 flaps (restore goes through
    * HEALTHY_READONLY, never straight to HEALTHY); dn4 the in-between
    * stale window (neither dead nor restorable) then DEAD → resurrect;
    * dn5 registers layout-behind and upgrades mid-stream; dn6 a restarted
    * node reporting an OLDER layout from HEALTHY; dn7/dn8 the double-fire
    * checks (layout event + timeout at the SAME tick, from HEALTHY and
    * HEALTHY_READONLY); dn9 registers mid-stream (no rows before). */
  val nodeHealthEventRows = {
    val reg = Seq(
      ("dn1", 0L, 3L), ("dn2", 0L, 3L), ("dn3", 0L, 3L),
      ("dn4", 0L, 3L), ("dn5", 0L, 2L), ("dn6", 0L, 3L),
      ("dn7", 0L, 3L), ("dn8", 0L, 2L), ("dn9", 500000L, 3L))
      .map { case (u, t, m) => (u, t, "REGISTER", m) }
    val hb = Seq(
      ("dn1", Seq(150000L -> 3L, 350000L -> 3L, 550000L -> 3L,
        750000L -> 3L, 950000L -> 3L, 1150000L -> 3L, 1350000L -> 3L,
        1550000L -> 3L, 1750000L -> 3L, 1850000L -> 3L)),
      ("dn2", Seq(150000L -> 3L, 300000L -> 3L)),
      ("dn3", Seq(150000L -> 3L, 700000L -> 3L, 760000L -> 3L,
        940000L -> 3L, 1400000L -> 3L, 1700000L -> 3L, 1900000L -> 3L)),
      ("dn4", Seq(100000L -> 3L, 1600000L -> 3L, 1730000L -> 3L,
        1900000L -> 3L)),
      ("dn5", Seq(150000L -> 2L, 350000L -> 2L, 560000L -> 2L,
        750000L -> 2L, 950000L -> 3L, 1150000L -> 3L, 1450000L -> 3L,
        1650000L -> 3L, 1850000L -> 3L)),
      ("dn6", Seq(200000L -> 3L, 400000L -> 3L, 500000L -> 2L)),
      ("dn7", Seq(200000L -> 3L, 400000L -> 3L, 620000L -> 3L,
        800000L -> 3L, 900000L -> 3L, 1000000L -> 2L)),
      ("dn8", Seq(200000L -> 2L, 410000L -> 2L, 610000L -> 2L,
        810000L -> 2L, 955000L -> 2L, 1005000L -> 3L)),
      ("dn9", Seq(650000L -> 3L, 800000L -> 3L, 945000L -> 3L,
        1100000L -> 3L, 1250000L -> 3L, 1405000L -> 3L, 1555000L -> 3L,
        1705000L -> 3L, 1905000L -> 3L)))
      .flatMap { case (u, ts) => ts.map { case (t, m) => (u, t, "HB", m) } }
    Fixture("uuid", "ts_ms", "kind", "mlv")(reg ++ hb: _*)
  }

  def nodeHealthEvents(spark: SparkSession, dir: String): DataFrame =
    nodeHealthEventRows.df(spark)

  /** node_health_checks: the global checkNodesHealth tick schedule. One
    * deliberate 540 s gap (c6→c7) ≥ min(stale, dead) interval trips the
    * shouldSkipCheck JVM-pause guard — c7 must transition NOTHING. */
  val nodeHealthCheckRows = Fixture("check_ms")(
    60000L, 240000L, 420000L, 600000L, 780000L, 960000L,
    1500000L, 1560000L, 1740000L, 1920000L)

  def nodeHealthChecks(spark: SparkSession, dir: String): DataFrame =
    nodeHealthCheckRows.df(spark)

  /** s3_context_requests: GetS3VolumeContext probes — an auth-less old
    * gateway, a plain unassigned accessId, a tenant-assigned id, the
    * removed-tenant inconsistency (no-such-but-hasids$ghost is in the
    * access catalog but its tenant has no state row), a second tenant's
    * id, and the null-tenant orphan catalog row. */
  val s3ContextRequestRows = Fixture(
    "req_id", "has_auth", "access_id", "remote_user")(
    (1L, false, "", "alice"),
    (2L, true, "hdfs", ""),
    (3L, true, "tenant1$clerk1", ""),
    (4L, true, "no-such-but-hasids$ghost", ""),
    (5L, true, "tenant0$clerk3", ""),
    (6L, true, "orphan$ghost2", ""))

  def s3ContextRequests(spark: SparkSession, dir: String): DataFrame =
    s3ContextRequestRows.df(spark)

  /** trash_entries: per-trash-root listings for the emptier cycle — a
    * root with Current + an expired checkpoint + a fresh one + a
    * collision-suffixed old one + an unparseable stray; a root with no
    * Current (nothing to rename); a root with only Current. NOW is
    * 2025-08-14 12:00:00 UTC; the deletion interval 30 days. */
  val trashEntryRows = Fixture("trash_root", "name")(
    ("/vol0/bucket0/.Trash/clerk1", "Current"),
    ("/vol0/bucket0/.Trash/clerk1", "240101120000"),
    ("/vol0/bucket0/.Trash/clerk1", "250801120000"),
    ("/vol0/bucket0/.Trash/clerk1", "240615063000-1"),
    ("/vol0/bucket0/.Trash/clerk1", "stray-dir"),
    ("/vol1/bucket3/.Trash/clerk2", "250601000000"),
    ("/vol2/bucket5/.Trash/clerk3", "Current"))

  def trashEntries(spark: SparkSession, dir: String): DataFrame =
    trashEntryRows.df(spark)

  /** conditional_write_requests: the S3 conditional PUT/DELETE batch —
    * header parse errors (blank If-None-Match / If-Match, both together,
    * If-None-Match other than `*`), create-if-absent probes against an
    * existing and a ghost key, quoted / comma-list / `*` If-Match
    * candidates, and the DELETE If-Match family. The target is the
    * corpus's min key in vol0/bucket0 (sf-portable); its ETag is the
    * md5-of-key mint the objects table uses. */
  val conditionalWriteRequestRows = Fixture(
    "req_id", "op", "has_inm", "inm_value", "has_im", "im_kind", "ghost")(
    (1L, "PUT", true, "", false, "", false),
    (2L, "PUT", false, "", true, " ", false),
    (3L, "PUT", true, "*", true, "ETAG", false),
    (4L, "PUT", true, "abc", false, "", false),
    (5L, "PUT", true, "*", false, "", false),
    (6L, "PUT", true, "*", false, "", true),
    (7L, "PUT", false, "", true, "QETAG", false),
    (8L, "PUT", false, "", true, "LIST", false),
    (9L, "PUT", false, "", true, "*", false),
    (10L, "PUT", false, "", true, "zzz", false),
    (11L, "PUT", false, "", true, "ETAG", true),
    (12L, "PUT", false, "", false, "", false),
    (13L, "DELETE", false, "", true, "ETAG", false),
    (14L, "DELETE", false, "", true, "zzz", false),
    (15L, "DELETE", false, "", true, " ", false),
    (16L, "DELETE", false, "", false, "", false),
    (17L, "DELETE", true, "*", false, "", false),
    (18L, "DELETE", true, " ", false, "", false))

  def conditionalWriteRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "condreq", dir) {
      val target = objects(spark, dir)
        .filter(col("volume") === "vol0" && col("bucket") === "bucket0")
        .agg(min("key").as("t_key"))
        .withColumn("t_etag", md5(col("t_key")))
      conditionalWriteRequestRows.df(spark).crossJoin(broadcast(target))
        .withColumn("volume", lit("vol0"))
        .withColumn("bucket", lit("bucket0"))
        .withColumn("key",
          when(col("ghost"), lit("no/such/key")).otherwise(col("t_key")))
        .withColumn("im_value",
          when(col("im_kind") === "ETAG", col("t_etag"))
            .when(col("im_kind") === "QETAG",
              concat(lit("\""), col("t_etag"), lit("\"")))
            .when(col("im_kind") === "LIST",
              concat(lit("aaa, \""), col("t_etag"), lit("\"")))
            .otherwise(col("im_kind")))
        .select("req_id", "op", "volume", "bucket", "key", "has_inm",
          "inm_value", "has_im", "im_value")
    }

  /** ranger_sync_runs: OMRangerBGSyncService version-fence runs — the
    * in-sync no-op, the common one-attempt sync (the recheck sees the
    * version just written), a mid-sync bump absorbed on the second
    * attempt, and a hot Ranger that outruns MAX_ATTEMPT. v0..v2 are the
    * Ranger versions observed before each check. */
  val rangerSyncRunRows = Fixture("run_id", "db_version", "v0", "v1", "v2")(
    (1L, 5L, 5L, 5L, 5L),
    (2L, 4L, 5L, 5L, 5L),
    (3L, 4L, 5L, 6L, 6L),
    (4L, 4L, 5L, 6L, 7L))

  def rangerSyncRuns(spark: SparkSession, dir: String): DataFrame =
    rangerSyncRunRows.df(spark)

  /** lifecycle_service_ops: the KeyLifecycleService control stream —
    * SAVE (scan-state cursor upserts) and STATUS (suspend/resume) ops.
    * Probes: a pre-finalization suspend (both admin and NON-admin — the
    * finalization validator fires before the admin check), non-admin
    * saves/toggles, cursor replacement on a re-saved bucket, an
    * idempotent resume, and a SAVE while suspended (not fenced). The
    * S3_LIFECYCLE_SUPPORT feature finalizes at seq 5. */
  val lifecycleServiceOpRows = Fixture(
    "seq", "op_type", "caller", "bucket_key", "suspend")(
    (1L, "STATUS", "om-admin", "", true),
    (2L, "SAVE", "clerk1", "/vol0/bucket0", false),
    (3L, "SAVE", "om-admin", "/vol0/bucket0", false),
    (4L, "STATUS", "clerk2", "", true),
    (6L, "STATUS", "clerk2", "", true),
    (7L, "STATUS", "om-admin", "", true),
    (8L, "SAVE", "om-admin", "/vol0/bucket0", false),
    (9L, "SAVE", "om-admin", "/vol1/bucket3", false),
    (10L, "STATUS", "om-admin", "", false),
    (11L, "STATUS", "om-admin", "", false))

  def lifecycleServiceOps(spark: SparkSession, dir: String): DataFrame =
    lifecycleServiceOpRows.df(spark)

  /** key_purge_requests: OMKeyPurgeRequest branches — AOS purges with a
    * matching / mismatched expectedPreviousSnapshotID (latest-global
    * probe), snapshot purges against the PATH-chain predecessor (match,
    * mismatch, first-in-chain with a null prev), a missing fromSnapshot
    * (probed with and without the expected field — the catalog probe
    * precedes and survives the old-format skip), an empty purge list,
    * and an old-format request whose stale expected value must be
    * IGNORED (has_expected=false). */
  val keyPurgeRequestRows = Fixture(
    "req_id", "from_snapshot", "has_expected", "expected_prev", "n_deleted",
    "n_renamed")(
    (1L, "", true, "snap-live", 3L, 1L),
    (2L, "", true, "s2", 2L, 0L),
    (3L, "snap-live", true, "snap-gone", 1L, 0L),
    (4L, "snap-live", true, "s2", 4L, 0L),
    (5L, "ghost", true, "", 1L, 0L),
    (6L, "", true, "snap-live", 0L, 0L),
    (7L, "snap-golden", true, "", 2L, 1L),
    (8L, "s1", true, "snap-live", 1L, 0L),
    (9L, "", false, "", 2L, 0L),
    (10L, "ghost", false, "", 1L, 0L))

  def keyPurgeRequests(spark: SparkSession, dir: String): DataFrame =
    keyPurgeRequestRows.df(spark)

  /** key_purge_bucket_sizes: the BucketPurgeKeysSize refund entries of
    * [[keyPurgeRequests]] — a live bucket with the captured objectID
    * (applied), a deleted bucket (skipped), a recreated bucket whose id
    * no longer matches (skipped), two entries refunding the SAME bucket
    * (one bucket updated, bytes summed), and a refund on a request the
    * ladder refuses (masked to zero). Bucket oid mint: vol_idx*100 +
    * bucket_idx + 10, mirrored in the oracle. */
  val keyPurgeBucketSizeRows = Fixture(
    "req_id", "volume", "bucket", "bucket_id", "purged_bytes",
    "purged_namespace")(
    (1L, "vol0", "bucket0", 10L, 1000L, 3L),
    (1L, "vol0", "no-such", 77L, 500L, 1L),
    (1L, "vol0", "bucket1", 99L, 200L, 1L),
    (2L, "vol0", "bucket0", 10L, 900L, 2L),
    (3L, "vol0", "bucket0", 10L, 400L, 1L),
    (7L, "vol2", "bucket5", 215L, 300L, 2L),
    (7L, "vol2", "bucket5", 215L, 250L, 1L),
    (9L, "vol1", "bucket3", 113L, 700L, 2L))

  def keyPurgeBucketSizes(spark: SparkSession, dir: String): DataFrame =
    keyPurgeBucketSizeRows.df(spark)

  /** dir_purge_requests: OMDirectoriesPurgeRequestWithFSO branches — the
    * FSO dual of [[keyPurgeRequests]] over the same snapshot chain: AOS
    * purge with matching / mismatched expectedPreviousSnapshotID,
    * snapshot purges against the path-chain predecessor (match,
    * mismatch), missing fromSnapshot probed with AND without the
    * expected field, an old-format request whose stale expected value is
    * ignored, and req 8: an EMPTY purge list that still applies — the
    * dir ladder has no KEY_DELETION_ERROR rung (divergence from keys). */
  val dirPurgeRequestRows = Fixture(
    "req_id", "from_snapshot", "has_expected", "expected_prev")(
    (1L, "", true, "snap-live"),
    (2L, "", true, "s2"),
    (3L, "snap-live", true, "snap-gone"),
    (4L, "snap-live", true, "s1"),
    (5L, "ghost", true, ""),
    (6L, "s1", false, "stale-ignored"),
    (7L, "ghost", false, ""),
    (8L, "s2", true, "s1"))

  def dirPurgeRequests(spark: SparkSession, dir: String): DataFrame =
    dirPurgeRequestRows.df(spark)

  /** dir_purge_entries: the PurgePathRequest rows of
    * [[dirPurgeRequests]] — kind ∈ SUB_DIR (markDeletedSubDirs),
    * SUB_FILE (deletedSubFiles), DELETED_DIR. Probes: per-row refunds on
    * the live bucket (oid mint matches), a recreated bucket (captured 99
    * vs live 11 — skipped), a missing bucket (skipped), a DUPLICATED
    * sub-file row (refunds twice, open-key tag once), a sub-dir that is
    * also the deleted dir (dropped from subdirs_moved), hsync tagging on
    * a DEAD bucket (gate-independent), a deleted dir on a mismatched
    * bucket (no snapshot-ns purge), and entries under refused requests
    * (masked to zero). */
  val dirPurgeEntryRows = Fixture(
    "req_id", "path_id", "kind", "volume", "bucket", "bucket_id", "object_id",
    "size_bytes", "hsync", "open_exists")(
    (1L, 1L, "SUB_DIR", "vol0", "bucket0", 10L, 501L, 0L, false, false),
    (1L, 1L, "SUB_DIR", "vol0", "bucket0", 10L, 502L, 0L, false, false),
    (1L, 1L, "SUB_FILE", "vol0", "bucket0", 10L, 601L, 1000L, false,
      false),
    (1L, 1L, "SUB_FILE", "vol0", "bucket0", 10L, 602L, 500L, true, true),
    (1L, 2L, "SUB_FILE", "vol0", "bucket0", 10L, 602L, 500L, true, true),
    (1L, 2L, "SUB_FILE", "vol0", "no-such", 77L, 603L, 800L, true,
      false),
    (1L, 2L, "SUB_FILE", "vol0", "bucket1", 99L, 604L, 900L, false,
      false),
    (1L, 2L, "DELETED_DIR", "vol0", "bucket0", 10L, 502L, 0L, false,
      false),
    (1L, 2L, "DELETED_DIR", "vol0", "bucket1", 99L, 510L, 0L, false,
      false),
    (2L, 1L, "SUB_FILE", "vol0", "bucket0", 10L, 611L, 700L, false,
      false),
    (2L, 1L, "DELETED_DIR", "vol0", "bucket0", 10L, 520L, 0L, false,
      false),
    (3L, 1L, "SUB_DIR", "vol0", "bucket0", 10L, 530L, 0L, false, false),
    (3L, 1L, "SUB_FILE", "vol1", "bucket3", 113L, 620L, 400L, false,
      false),
    (4L, 1L, "SUB_DIR", "vol0", "bucket0", 10L, 540L, 0L, false, false),
    (5L, 1L, "DELETED_DIR", "vol0", "bucket0", 10L, 550L, 0L, false,
      false),
    (6L, 1L, "SUB_FILE", "vol0", "no-such", 77L, 630L, 900L, true, true),
    (6L, 1L, "DELETED_DIR", "vol2", "bucket5", 215L, 560L, 0L, false,
      false))

  def dirPurgeEntries(spark: SparkSession, dir: String): DataFrame =
    dirPurgeEntryRows.df(spark)

  /** revoke_admin_requests: OMTenantRevokeAdminRequest branches — the
    * assign mirror: a real admin revoked (was_admin=true), a non-admin
    * revoked (idempotent, was_admin=false), tenant inferred through the
    * accessId, unassigned-accessId inference, missing accessId, wrong
    * tenant, unknown explicit tenant. */
  val revokeAdminRequestRows = Fixture("req_id", "tenant_id", "access_id")(
    (1L, "tenant0", "tenant0$clerk0"),
    (2L, "tenant1", "tenant1$clerk1"),
    (3L, "", "tenant2$clerk2"),
    (4L, "", "ghost$nobody"),
    (5L, "tenant1", "tenant1$missing"),
    (6L, "tenant2", "tenant1$clerk1"),
    (7L, "tenant9", "tenant9$clerk9"))

  def revokeAdminRequests(spark: SparkSession, dir: String): DataFrame =
    revokeAdminRequestRows.df(spark)

  /** revoke_secret_requests: S3RevokeSecretRequest branches — owner
    * revokes, non-owner refused (the permission gate runs in preExecute,
    * BEFORE the store probe — probed by an unauthorized revoke of a
    * missing secret), S3-admin override, and revokes of accessIds with
    * no stored secret (plain Kerberos id and an unknown tenant id). */
  val revokeSecretRequestRows = Fixture("req_id", "access_id", "caller")(
    (1L, "tenant1$clerk1", "clerk1"),
    (2L, "tenant1$clerk1", "clerk2"),
    (3L, "tenant2$clerk2", "om-admin"),
    (4L, "hdfs", "hdfs"),
    (5L, "hdfs", "yarn"),
    (6L, "ghost$nobody", "om-admin"))

  def revokeSecretRequests(spark: SparkSession, dir: String): DataFrame =
    revokeSecretRequestRows.df(spark)

  /** snapshot_catalog_live: [[snapshotCatalogExt]] plus one ACTIVE
    * snapshot with a STRICT-VALID name on vol0/bucket0 (the legacy chain
    * names s1/s2 fail OmUtils.validateSnapshotName, so the delete
    * ladder's link-resolved / permission / happy-path rungs need a
    * deletable target there). */
  val snapshotLiveRows = Fixture("volume", "bucket", "name", "status")(
    ("vol0", "bucket0", "snap-live", "SNAPSHOT_ACTIVE"))

  def snapshotCatalogLive(spark: SparkSession, dir: String): DataFrame =
    snapshotCatalogExt(spark, dir).unionByName(snapshotLiveRows.df(spark))

  /** snapshot_delete_requests: every OMSnapshotDeleteRequest branch —
    * happy delete, name validation on the LEGACY chain name (truthful
    * artifact: preExecute re-validates, so s1 can't be deleted by name),
    * already-deleted pending reclamation, plain missing, delete THROUGH
    * a link (lands on the source bucket), dangling link, link loop,
    * non-owner principal, unknown bucket, invalid name. */
  val snapshotDeleteRequestRows = Fixture(
    "req_id", "volume", "bucket", "snapshot_name", "principal")(
    (1L, "vol2", "bucket5", "snap-golden", "admin2"),
    (2L, "vol0", "bucket0", "s1", "admin0"),
    (3L, "vol0", "bucket0", "snap-gone", "admin0"),
    (4L, "vol0", "bucket0", "snap-nope", "admin0"),
    (5L, "vol1", "link-a", "snap-live", "admin0"),
    (6L, "vol3", "link-broken", "snap-live", "admin0"),
    (7L, "vol0", "link-cycle1", "snap-live", "admin0"),
    (8L, "vol0", "bucket0", "snap-live", "clerk1"),
    (9L, "vol2", "nobucket", "snap-live", "admin2"),
    (10L, "vol0", "bucket0", "Bad..Name", "admin0"),
    (11L, "vol0", "bucket0", "snap-live", "om-admin"))

  def snapshotDeleteRequests(spark: SparkSession, dir: String): DataFrame =
    snapshotDeleteRequestRows.df(spark)

  /** set_secret_requests: OMSetSecretRequest batch — the accessId probe
    * runs FIRST (ACCESS_ID_NOT_FOUND before any secret validation), then
    * empty secret, then the 8-char minimum (OzoneConsts
    * .S3_SECRET_KEY_MIN_LENGTH), then SET. */
  val setSecretRequestRows = Fixture("req_id", "access_id", "secret")(
    (1L, "tenant1$clerk1", "a-perfectly-long-secret"),
    (2L, "ghost$nobody", "another-long-secret"),
    (3L, "tenant2$clerk2", ""),
    (4L, "tenant3$clerk3", "short"),
    (5L, "ghost$nobody", "short"),
    (6L, "tenant2$clerk2", "exactly8"))

  def setSecretRequests(spark: SparkSession, dir: String): DataFrame =
    setSecretRequestRows.df(spark)

  /** fso_bucket_ids: the FSO (volume, bucket) → (volumeId, bucketId)
    * mapping the deleted-dir table keys are built from
    * (OmMetadataManagerImpl.getBucketKeyPrefixFSO — dir db keys are
    * `/volId/bucketId/...`, unlike the name-keyed deleted/renamed
    * tables). */
  val fsoBucketIdRows = Fixture("volume", "bucket", "vol_id", "bucket_id")(
    ("vol0", "bucket0", 101L, 201L),
    ("vol2", "bucket5", 102L, 205L))

  def fsoBucketIds(spark: SparkSession, dir: String): DataFrame =
    fsoBucketIdRows.df(spark)

  /** move_table_keys_requests: OMSnapshotMoveTableKeysRequest batch —
    * the snapshot-GC move of buffered deleted/renamed/deleted-dir
    * entries to the next path snapshot (or AOS). Branches: clean move to
    * an ACTIVE next snapshot, next-in-chain DELETED
    * (INVALID_SNAPSHOT_ERROR), the real GC case (from a DELETED
    * snapshot), end-of-chain → AOS, empty request → AOS, missing from
    * snapshot (probed FIRST, even over bad entries), prefix violations
    * and in-list duplicates per table, and preExecute-validation-beats-
    * the-apply-stage ordering (a bad entry on a request whose next
    * snapshot is also not active). */
  val moveTableKeysRequestRows = Fixture(
    "req_id", "volume", "bucket", "from_name")(
    (1L, "vol0", "bucket0", "s1"),
    (2L, "vol0", "bucket0", "s2"),
    (3L, "vol0", "bucket0", "snap-gone"),
    (4L, "vol0", "bucket0", "snap-live"),
    (5L, "vol2", "bucket5", "snap-golden"),
    (6L, "vol0", "bucket0", "ghost"),
    (7L, "vol0", "bucket0", "s1"),
    (8L, "vol0", "bucket0", "s1"),
    (9L, "vol0", "bucket0", "s1"),
    (10L, "vol0", "bucket0", "s1"),
    (11L, "vol0", "bucket0", "s1"),
    (12L, "vol0", "bucket0", "s2"),
    (13L, "vol0", "bucket0", "s1"))

  def moveTableKeysRequests(spark: SparkSession, dir: String): DataFrame =
    moveTableKeysRequestRows.df(spark)

  /** move_table_keys_entries: the per-request table-key lists, one row
    * per entry. tbl ∈ DELETED | RENAMED | DELETED_DIR, walked in that
    * order (the reference validates list by list). n_infos models the
    * keyInfos count (deleted entries with none are silently dropped;
    * dirs must carry EXACTLY one); has_value models the renamed-table
    * KeyValue (value-less pairs are silently dropped). Filtered-out
    * rows deliberately carry bad prefixes / duplicate keys to probe
    * that dropped entries are never validated. */
  val moveTableKeysEntryRows = Fixture(
    "req_id", "tbl", "pos", "db_key", "n_infos", "has_value")(
    (1L, "DELETED", 1, "/vol0/bucket0/a", 2, false),
    (1L, "DELETED", 2, "/vol0/bucket0/b", 1, false),
    (1L, "RENAMED", 1, "/vol0/bucket0/r1", 0, true),
    (1L, "DELETED_DIR", 1, "/101/201/d1", 1, false),
    (2L, "DELETED", 1, "/vol0/bucket0/c", 1, false),
    (3L, "DELETED", 1, "/vol0/bucket0/x", 0, false),
    (3L, "DELETED", 2, "/vol0/bucket0/y", 3, false),
    (3L, "RENAMED", 1, "/vol0/bucket0/r2", 0, false),
    (3L, "RENAMED", 2, "/vol0/bucket0/r3", 0, true),
    (3L, "DELETED_DIR", 1, "/101/201/d2", 2, false),
    (3L, "DELETED_DIR", 2, "/101/201/d3", 1, false),
    (4L, "DELETED", 1, "/vol0/bucket0/z", 1, false),
    (6L, "DELETED", 1, "/wrong/prefix/k", 1, false),
    (7L, "DELETED", 1, "/vol0/bucket0/ok", 1, false),
    (7L, "DELETED", 2, "/vol9/bucketX/bad", 1, false),
    (8L, "DELETED", 1, "/vol0/bucket0/k1", 1, false),
    (8L, "DELETED", 2, "/vol0/bucket0/k2", 1, false),
    (8L, "DELETED", 3, "/vol0/bucket0/k1", 1, false),
    (9L, "DELETED", 1, "/vol0/bucket0/k3", 1, false),
    (9L, "RENAMED", 1, "/volX/bucket0/r4", 0, true),
    (9L, "DELETED_DIR", 1, "/101/201/d4", 1, false),
    (9L, "DELETED_DIR", 2, "/101/201/d4", 1, false),
    (10L, "RENAMED", 1, "/bad/prefix/r5", 0, false),
    (10L, "DELETED_DIR", 1, "/999/999/dd", 2, false),
    (10L, "DELETED_DIR", 2, "/101/201/d5", 1, false),
    (10L, "DELETED_DIR", 3, "/101/201/d5", 1, false),
    (11L, "DELETED", 1, "/vol0/bucket0/k1", 1, false),
    (11L, "DELETED", 2, "/vol0/bucket0/k1", 0, false),
    (11L, "DELETED", 3, "/vol0/bucket0/k2", 1, false),
    (12L, "DELETED", 1, "/oops/bucket0/q", 1, false),
    (13L, "RENAMED", 1, "/vol0/bucket0/r6", 0, true),
    (13L, "RENAMED", 2, "/vol0/bucket0/r6", 0, true))

  def moveTableKeysEntries(spark: SparkSession, dir: String): DataFrame =
    moveTableKeysEntryRows.df(spark)

  /** move_deleted_keys_requests: the LEGACY
    * OMSnapshotMoveDeletedKeysRequest probe set — mid-chain move,
    * move into a SNAPSHOT_DELETED successor (legacy has no ACTIVE
    * fence), chain-end → AOS, missing from-snapshot, empty lists, and
    * a DELETED from-snapshot that still proceeds (existence-only
    * probe). */
  val moveDeletedKeysRequestRows = Fixture(
    "req_id", "volume", "bucket", "from_name")(
    (1L, "vol0", "bucket0", "s1"),
    (2L, "vol0", "bucket0", "s2"),
    (3L, "vol0", "bucket0", "snap-live"),
    (4L, "vol0", "bucket0", "ghost"),
    (5L, "vol2", "bucket5", "snap-golden"),
    (6L, "vol0", "bucket0", "snap-gone"))

  def moveDeletedKeysRequests(spark: SparkSession, dir: String): DataFrame =
    moveDeletedKeysRequestRows.df(spark)

  /** move_deleted_keys_entries: the legacy request's four verbatim
    * lists — tbl ∈ NEXT_DB | RECLAIM | RENAMED | MOVED_DIR. Rows that
    * the MODERN ladder would reject or silently drop (bad prefixes,
    * duplicates) are planted here to prove the legacy ladder moves
    * them untouched. */
  val moveDeletedKeysEntryRows = Fixture("req_id", "tbl", "pos", "db_key")(
    (1L, "NEXT_DB", 1L, "/vol0/bucket0/a"),
    (1L, "NEXT_DB", 2L, "/vol0/bucket0/a"), // duplicate: moved twice
    (1L, "NEXT_DB", 3L, "/wrong/prefix/zzz"), // bad prefix: moved
    (1L, "RECLAIM", 1L, "/vol0/bucket0/rc1"),
    (1L, "RENAMED", 1L, "/vol9/bucketX/r0"), // bad prefix: moved
    (1L, "MOVED_DIR", 1L, "/999/999/djunk"),
    (2L, "NEXT_DB", 1L, "/vol0/bucket0/b"),
    (3L, "RECLAIM", 1L, "/vol0/bucket0/rc2"),
    (3L, "MOVED_DIR", 1L, "/101/201/d9"),
    (4L, "NEXT_DB", 1L, "/vol0/bucket0/never"), // masked: req 4 missing
    (6L, "RENAMED", 1L, "/vol0/bucket0/r7"))

  def moveDeletedKeysEntries(spark: SparkSession, dir: String): DataFrame =
    moveDeletedKeysEntryRows.df(spark)

  /** bucket_set_owner_requests: OMBucketSetOwnerRequest branches —
    * missing bucket, same-owner no-op (success=false, not an error), and
    * plain transfers. Bucket owner is modeled as the volume owner
    * (buckets carry no separate owner in this catalog, as in the
    * snapshot-create ladder). */
  val bucketSetOwnerRequestRows = Fixture(
    "req_id", "volume", "bucket", "new_owner")(
    (1L, "vol0", "bucket0", "clerk9"),
    (2L, "vol0", "bucket0", "admin0"),
    (3L, "vol0", "no-such", "clerk1"),
    (4L, "vol2", "bucket5", "admin2"),
    (5L, "vol1", "bucket3", "bob"))

  def bucketSetOwnerRequests(spark: SparkSession, dir: String): DataFrame =
    bucketSetOwnerRequestRows.df(spark)

  /** snapshot_set_property_requests: OMSnapshotSetPropertyRequest
    * branches — plain update, missing snapshot, IN-BATCH duplicate key
    * (checked BEFORE the table lookup — probed by a duplicate of a
    * MISSING key), and the truthful quirk that a SNAPSHOT_DELETED entry
    * still accepts property updates (the reference never checks status
    * here). */
  val snapshotSetPropertyRequestRows = Fixture(
    "req_id", "volume", "bucket", "name", "property")(
    (1L, "vol0", "bucket0", "s1", "deep_cleaned_deleted_dir"),
    (2L, "vol0", "bucket0", "ghost", "exclusive_size"),
    (3L, "vol0", "bucket0", "s2", "exclusive_size"),
    (4L, "vol0", "bucket0", "s1", "exclusive_size"),
    (5L, "vol2", "bucket5", "snap-golden", "deep_cleaned_deleted_dir"),
    (6L, "vol0", "bucket0", "snap-gone", "exclusive_size"),
    (7L, "vol0", "bucket0", "ghost", "deep_cleaned_deleted_dir"))

  def snapshotSetPropertyRequests(spark: SparkSession,
                                  dir: String): DataFrame =
    snapshotSetPropertyRequestRows.df(spark)

  /** lc_delete_requests: OMLifecycleConfigurationDeleteRequest branches —
    * delete where a config exists, no-config bucket, delete THROUGH a
    * link (the config lives on the source bucket), non-owner, unknown
    * bucket, link loop, dangling link, admin override. */
  val lcDeleteRequestRows = Fixture("req_id", "volume", "bucket", "principal")(
    (1L, "vol0", "bucket0", "admin0"),
    (2L, "vol0", "bucket2", "admin0"),
    (3L, "vol1", "link-a", "admin0"),
    (4L, "vol0", "bucket1", "clerk1"),
    (5L, "vol0", "no-such", "admin0"),
    (6L, "vol0", "link-cycle1", "admin0"),
    (7L, "vol3", "link-broken", "admin0"),
    (8L, "vol0", "bucket1", "om-admin"))

  def lcDeleteRequests(spark: SparkSession, dir: String): DataFrame =
    lcDeleteRequestRows.df(spark)

  /** CreateVolume request batch — every OMVolumeCreateRequest branch:
    * invalid names (uppercase/short/IPv4), a POSIX underscore name that is
    * LEGAL for volumes (strict=false), catalog + in-batch collisions, and
    * per-owner cap sequencing on admin1/admin3 (each owns 1; the declared
    * query caps at 2). */
  val volumeCreateRequestRows = Fixture("req_id", "volume", "owner")(
    (1L, "newvol-a", "admin0"),
    (2L, "newvol-a", "admin5"),
    (3L, "vol2", "admin0"),
    (4L, "Bad_Vol", "admin1"),
    (5L, "newvol_b", "admin1"),
    (6L, "newvol-c", "admin1"),
    (7L, "ab", "admin2"),
    (8L, "10.0.0.1", "admin2"),
    (9L, "newvol-d", "ghostuser"),
    (10L, "newvol-e", "admin3"),
    (11L, "newvol-f", "admin3"))

  def volumeCreateRequests(spark: SparkSession, dir: String): DataFrame =
    volumeCreateRequestRows.df(spark)

  /** AssignUserAccessId request batch — the static catalog covers every
    * decision branch of OMTenantAssignUserAccessIdRequest (oversized
    * accessId, delimiter in principal/tenant, unknown tenant, duplicate
    * accessId, principal already in the tenant, clean assignment) plus
    * the branch-order probes (delimiter beats unknown tenant, unknown
    * tenant beats duplicate accessId). */
  val assignRequestRows = Fixture("tenant_id", "user_principal", "access_id")(
    ("tenant1", "newuser", "a" * 100),
    ("tenant1", "bad$user", "tenant1$badu"),
    ("ten$ant1", "user1", "x1"),
    ("tenant9", "user2", "tenant9$user2"),
    ("tenant9", "bad$u", "y1"),
    ("tenant9", "clerk1", "tenant1$clerk1"),
    ("tenant1", "freshuser", "tenant1$clerk1"),
    ("tenant2", "clerk3", "tenant2$clerk3x"),
    ("tenant3", "alice", "tenant3$alice"))

  def assignRequests(spark: SparkSession, dir: String): DataFrame =
    assignRequestRows.df(spark)

  // ---- auth catalog (ref OMDBDefinition.java:149-191: userTable,
  // s3SecretTable, dTokenTable, prefixTable) ----

  /** user_table (ref OMDBDefinition.java:149-155 userTable: principal →
    * owned volumes): volume-ownership rollup per admin principal. */
  def userTable(spark: SparkSession, dir: String): DataFrame =
    volumes(spark, dir)
      .groupBy(col("owner").as("user_name"))
      .agg(count(lit(1)).as("volume_count"),
        sum("used_bytes").as("owned_bytes"))

  /** s3_secret_table (ref OMDBDefinition.java:156-161 s3SecretTable):
    * one secret per tenant access id, md5-derived so GetS3Secret has a
    * closed oracle form. */
  def s3Secrets(spark: SparkSession, dir: String): DataFrame =
    tenantAccessIds(spark, dir).select(col("access_id"),
      md5(concat(col("access_id"), lit("#secret"))).as("secret"))

  /** audit_log: OM audit entries in the parser's table shape
    * (AuditEntry.java: datetime/level/logger/user/ip/op/params/result/
    * exception) — one entry per key op, log4j datetime with a millis
    * comma suffix, op class from the version stream, %19 sampled
    * FAILUREs. */
  def auditLog(spark: SparkSession, dir: String): DataFrame =
    objects(spark, dir).select(
      concat(
        date_format(
          expr("CAST(modification_time DIV 1000 AS TIMESTAMP)"),
          "yyyy-MM-dd HH:mm:ss"),
        lit(","),
        lpad(pmod(col("modification_time"), lit(1000L)).cast("string"),
          3, "0"))
        .as("datetime"),
      lit("INFO").as("level"),
      lit("OMAudit").as("logger"),
      col("owner").as("user"),
      concat(lit("10.0.0."), substring(col("owner"), 6, 10)).as("ip"),
      when(col("version") % 4 === 0, lit("READ_KEY"))
        .when(col("version") % 4 === 1, lit("ALLOCATE_KEY"))
        .when(col("version") % 4 === 2, lit("COMMIT_KEY"))
        .otherwise(lit("DELETE_KEY")).as("op"),
      concat(lit("{volume="), col("volume"), lit(", bucket="),
        col("bucket"), lit(", key="), col("key"), lit("}")).as("params"),
      when(col("object_id") % 19 === 0, lit("FAILURE"))
        .otherwise(lit("SUCCESS")).as("result"),
      when(col("object_id") % 19 === 0, lit("PERMISSION_DENIED"))
        .otherwise(lit("")).as("exception"))

  /** sigv4_requests: an auth batch over the s3-secret catalog — per
    * access id a correctly-signed request (signed HERE with plain
    * javax.crypto, deliberately independent of the engine's graft_hmac
    * kernel, so the two implementations gate each other through the MATCH
    * verdict), a corrupted-signature twin, and an unknown-access-id ghost.
    * String-to-sign follows the reference's 4-line shape with the
    * credential scope on line 3 (AWSV4AuthValidator.getSigningKey). */
  def sigv4Requests(spark: SparkSession, dir: String): DataFrame = {
    val sign = udf((secret: String, strToSign: String) => {
      def hmac(key: Array[Byte], msg: String): Array[Byte] = {
        val mac = javax.crypto.Mac.getInstance("HmacSHA256")
        mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
        mac.doFinal(msg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val scope = strToSign.split('\n')(2).split('/')
      val kDate = hmac(("AWS4" + secret)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8), scope(0))
      val kSigning = hmac(hmac(hmac(kDate, scope(1)), scope(2)),
        "aws4_request")
      hmac(kSigning, strToSign).map("%02x".format(_)).mkString
    })
    val base = s3Secrets(spark, dir)
      .withColumn("str_to_sign", concat(
        lit("AWS4-HMAC-SHA256\n20240101T000000Z\n" +
          "20240101/us-east-1/s3/aws4_request\n"),
        sha2(concat(col("access_id"), lit("#payload")), 256)))
    base.select(col("access_id"), col("str_to_sign"),
        sign(col("secret"), col("str_to_sign")).as("signature"))
      .unionByName(base.select(col("access_id"), col("str_to_sign"),
        md5(col("access_id")).as("signature")))
      .unionByName(base.select(
        concat(col("access_id"), lit("-ghost")).as("access_id"),
        col("str_to_sign"), md5(col("access_id")).as("signature")))
  }

  /**
   * chunked_uploads: aws-chunked (STREAMING-AWS4-HMAC-SHA256-PAYLOAD)
   * upload frames — the wire format `SignedChunksInputStream`
   * (s3gateway/.../SignedChunksInputStream.java:30-56) parses:
   * `hex-size;chunk-signature=sig\r\npayload\r\n` per chunk plus the
   * mandatory final zero-byte chunk header. The gateway itself never
   * verifies chunk signatures (:56-58, documented); this fixture signs
   * the chain with an INDEPENDENT javax.crypto signer following the AWS
   * sigv4-streaming spec (chunk string-to-sign =
   * "AWS4-HMAC-SHA256-PAYLOAD" + datetime + scope + previous signature
   * + sha256("") + sha256(chunk)), so the engine's native graft_hmac
   * re-derivation is gated by a second implementation. Corruption
   * classes by upload: %4==0 valid, ==1 one chunk signature corrupted,
   * ==2 a declared size off by one, ==3 the final zero chunk missing.
   */
  def chunkedUploads(spark: SparkSession, dir: String): DataFrame = {
    val emptySha =
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    val build = udf((secret: String, seed: String, text: String,
                     cls: Int) => {
      def hmac(key: Array[Byte], msg: String): Array[Byte] = {
        val mac = javax.crypto.Mac.getInstance("HmacSHA256")
        mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
        mac.doFinal(msg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
      def sha(s: String) = hex(java.security.MessageDigest
        .getInstance("SHA-256")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      val kDate = hmac(("AWS4" + secret)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8), "20240101")
      val kSigning = hmac(hmac(hmac(kDate, "us-east-1"), "s3"),
        "aws4_request")
      val body = text.replace("\r", "").take(800)
      val chunks = body.grouped(200).toSeq
      var prev = seed
      val sigs = (chunks :+ "").map { ch =>
        val sts = "AWS4-HMAC-SHA256-PAYLOAD\n20240101T000000Z\n" +
          "20240101/us-east-1/s3/aws4_request\n" + prev + "\n" +
          emptySha + "\n" + sha(ch)
        prev = hex(hmac(kSigning, sts))
        prev
      }
      val badIdx = math.min(1, chunks.size - 1)
      val lines = chunks.zipWithIndex.map { case (ch, i) =>
        val sig = if (cls == 1 && i == badIdx)
          hex(java.security.MessageDigest.getInstance("MD5")
            .digest(sigs(i).getBytes)) else sigs(i)
        val declared = if (cls == 2 && i == 0) ch.length + 1
          else ch.length
        declared.toHexString + ";chunk-signature=" + sig + "\r\n" +
          ch + "\r\n"
      }
      val finalLine =
        if (cls == 3) "" else "0;chunk-signature=" + sigs.last
      lines.mkString + finalLine
    })
    documents(spark, dir)
      .filter(col("doc_id") % 23 === 0)
      .withColumn("upload_id", col("doc_id"))
      .withColumn("secret", concat(lit("secret-"),
        col("doc_id").cast("string")))
      .withColumn("seed_sig",
        sha2(concat(lit("seed-"), col("doc_id").cast("string")), 256))
      .withColumn("cls", (col("doc_id") % 4).cast("int"))
      .withColumn("frame", build(col("secret"), col("seed_sig"),
        col("text"), col("cls")))
      .select("upload_id", "secret", "seed_sig", "frame")
  }

  /** d_token_table (ref OMDBDefinition.java:162-168 dTokenTable): one
    * delegation token per key-writing principal; expiry staggers by the
    * principal's index so expiry scans discriminate. */
  def dTokens(spark: SparkSession, dir: String): DataFrame =
    objects(spark, dir)
      .groupBy("owner")
      .agg(min("creation_time").as("issued_ms"))
      .withColumn("owner_idx", substring(col("owner"), 6, 10).cast("long"))
      .select(
        md5(concat(lit("token"), col("owner"))).as("token_id"),
        col("owner"), lit("om").as("renewer"), col("issued_ms"),
        (col("issued_ms") + (col("owner_idx") + 1) * 2592000000L)
          .as("max_expiry_ms"))

  /** renew_token_requests: OzoneDelegationTokenSecretManager.renewToken
    * branches. The token identifier is CLIENT-presented, so max_expiry
    * rides in the request (the store only gates existence) — including
    * the precedence probe: an expired UNKNOWN token reports TOKEN_EXPIRED
    * because maxDate is checked before the store lookup. */
  val renewTokenRequestRows = {
    val now = 799286400000L // the dtoken plane's "now" (1995-05-01)
    Fixture("req_id", "token_owner", "renewer", "max_expiry_ms", "caller")(
      (1L, "clerk1", "om", now + 7776000000L, "om"),
      (2L, "clerk1", "om", now - 1L, "om"),
      (3L, "ghost", "om", now + 7776000000L, "om"),
      (4L, "clerk2", "", now + 7776000000L, "om"),
      (5L, "clerk3", "om", now + 7776000000L, "hive"),
      (6L, "ghost2", "om", now - 1L, "om"))
  }

  def renewTokenRequests(spark: SparkSession, dir: String): DataFrame =
    renewTokenRequestRows.df(spark)
      .withColumn("token_id",
        md5(concat(lit("token"), col("token_owner"))))

  /** cancel_token_requests: cancelToken branches — owner cancels, renewer
    * cancels, a third party refused, unknown token (the access check runs
    * BEFORE the store probe), and a presented identifier with no owner. */
  val cancelTokenRequestRows = Fixture(
    "req_id", "token_owner", "presented_owner", "renewer", "caller")(
    (1L, "clerk1", "clerk1", "om", "clerk1"),
    (2L, "clerk2", "clerk2", "om", "om"),
    (3L, "clerk3", "clerk3", "om", "hive"),
    (4L, "ghost", "ghost", "om", "ghost"),
    (5L, "clerk5", "", "om", "om"))

  def cancelTokenRequests(spark: SparkSession, dir: String): DataFrame =
    cancelTokenRequestRows.df(spark)
      .withColumn("token_id",
        md5(concat(lit("token"), col("token_owner"))))

  /** The Iceberg rewrite fixture's source prefix (the table's current
    * Ozone location) — shared by all iceberg_* fixtures. */
  val IcebergSrc = "o3://vol0/bucket0/wh/"

  /** iceberg_versions: the metadata log — five version files. */
  def icebergVersions(spark: SparkSession, dir: String): DataFrame =
    spark.range(1, 6).toDF("version_idx")
      .select(col("version_idx"),
        concat(lit(IcebergSrc), lit("metadata/v"), col("version_idx"),
          lit(".metadata.json")).as("path"))

  /** iceberg_snapshots: eight snapshots, two added per version 1..4
    * (version 5 is a metadata-only change adding none). */
  def icebergSnapshots(spark: SparkSession, dir: String): DataFrame =
    spark.range(8).toDF("i")
      .select((col("i") + 100L).as("snapshot_id"),
        concat(lit(IcebergSrc), lit("metadata/snap-"), col("i") + 100,
          lit(".avro")).as("manifest_list"),
        (expr("i DIV 2") + 1L).as("added_in_version"))

  /** iceberg_manifests: two manifests per snapshot, addedSnapshotId =
    * their snapshot (the field manifestsToRewrite filters on). */
  def icebergManifests(spark: SparkSession, dir: String): DataFrame =
    spark.range(16).toDF("j")
      .select(
        concat(lit(IcebergSrc), lit("metadata/m-"), expr("j DIV 2") + 100,
          lit("-"), col("j") % 2, lit(".avro")).as("manifest_path"),
        (expr("j DIV 2") + 100L).as("snapshot_id"))

  /** iceberg_data_files: the corpus AS the table's data-file inventory —
    * every object key becomes a data file attributed to a snapshot by
    * object_id (the big side of the copy plan comes from the data). */
  def icebergDataFiles(spark: SparkSession, dir: String): DataFrame =
    objects(spark, dir)
      .select(
        concat(lit(IcebergSrc), lit("data/"), col("key")).as("data_path"),
        (col("object_id") % 8 + 100L).as("added_snapshot_id"))
      .distinct()

  /** iceberg_stats: a statistics file on the even versions. */
  def icebergStats(spark: SparkSession, dir: String): DataFrame =
    spark.range(1, 6).toDF("version_idx")
      .filter(col("version_idx") % 2 === 0)
      .select(col("version_idx"),
        concat(lit(IcebergSrc), lit("metadata/stats-v"), col("version_idx"),
          lit(".puffin")).as("stats_path"))

  /** prepare_ops: an OM op log through a prepare/cancel cycle — writes
    * before/inside/after the fence, non-admin prepare AND cancel refused
    * (the gate state unmoved), re-prepare while prepared, admin writes
    * fenced like any other, idempotent cancel with the gate off. */
  val prepareOpRows = Fixture("seq", "op_type", "caller")(
    (1L, "WRITE", "clerk1"),
    (2L, "PREPARE", "clerk1"),
    (3L, "WRITE", "clerk1"),
    (4L, "PREPARE", "om-admin"),
    (5L, "WRITE", "clerk1"),
    (6L, "PREPARE", "om-admin"),
    (7L, "CANCEL_PREPARE", "clerk1"),
    (8L, "WRITE", "om-admin"),
    (9L, "CANCEL_PREPARE", "om-admin"),
    (10L, "WRITE", "clerk1"),
    (11L, "CANCEL_PREPARE", "om-admin"))

  def prepareOps(spark: SparkSession, dir: String): DataFrame =
    prepareOpRows.df(spark)

  /** om_layout_features: the public OMLayoutFeature catalog slice the
    * upgrade-gate fixture references (OMLayoutFeature.java:28-49). */
  val omLayoutFeatureRows = Fixture("feature", "version")(
    ("INITIAL_VERSION", 0L),
    ("ERASURE_CODED_STORAGE_SUPPORT", 1L),
    ("BUCKET_LAYOUT_SUPPORT", 2L),
    ("MULTITENANCY_SCHEMA", 3L),
    ("HSYNC", 4L),
    ("FILESYSTEM_SNAPSHOT", 5L),
    ("QUOTA", 6L),
    ("HBASE_SUPPORT", 7L),
    ("DELEGATION_TOKEN_SYMMETRIC_SIGN", 8L),
    ("SNAPSHOT_DEFRAG", 9L),
    ("S3_LIFECYCLE_SUPPORT", 10L),
    ("MPU_PARTS_TABLE_SPLIT", 11L))

  def omLayoutFeatures(spark: SparkSession, dir: String): DataFrame =
    omLayoutFeatureRows.df(spark)

  /** upgrade_ops: an op log across a finalization — feature-gated
    * requests before/after, a non-admin finalize (moves nothing), the
    * finalize, and the idempotent re-finalize. */
  val upgradeOpRows = Fixture("seq", "op_type", "feature", "caller")(
    (1L, "REQUEST", "HSYNC", "clerk1"),
    (2L, "REQUEST", "FILESYSTEM_SNAPSHOT", "clerk1"),
    (3L, "REQUEST", "S3_LIFECYCLE_SUPPORT", "clerk1"),
    (4L, "FINALIZE", "", "clerk1"),
    (5L, "REQUEST", "FILESYSTEM_SNAPSHOT", "clerk1"),
    (6L, "FINALIZE", "", "om-admin"),
    (7L, "REQUEST", "FILESYSTEM_SNAPSHOT", "clerk1"),
    (8L, "REQUEST", "MPU_PARTS_TABLE_SPLIT", "clerk1"),
    (9L, "FINALIZE", "", "om-admin"),
    (10L, "REQUEST", "ERASURE_CODED_STORAGE_SUPPORT", "clerk1"))

  def upgradeOps(spark: SparkSession, dir: String): DataFrame =
    upgradeOpRows.df(spark)

  /** get_token_requests: GetDelegationToken mint branches — kerberos
    * mint, TOKEN-authenticated caller refused (a DT can't mint another),
    * SIMPLE auth refused with security on but ADMITTED with security
    * off, secret manager down (success with an empty response), a
    * CERTIFICATE proxy caller carrying realUser, and the
    * auth-gate-beats-manager-probe ordering probe. */
  val getTokenRequestRows = Fixture(
    "req_id", "caller", "auth_method", "renewer", "real_user", "security_on",
    "mgr_running")(
    (1L, "clerk1", "KERBEROS", "om", "", true, true),
    (2L, "clerk2", "TOKEN", "om", "", true, true),
    (3L, "clerk3", "SIMPLE", "om", "", true, true),
    (4L, "clerk4", "KERBEROS", "om", "", true, false),
    (5L, "clerk5", "SIMPLE", "om", "", false, true),
    (6L, "svc-hive", "CERTIFICATE", "om", "oozie", true, true),
    (7L, "clerk7", "KERBEROS_SSL", "", "", true, true),
    (8L, "clerk8", "TOKEN", "om", "", true, false))

  def getTokenRequests(spark: SparkSession, dir: String): DataFrame =
    getTokenRequestRows.df(spark)

  /** prefix_acls (ref OMDBDefinition.java:186-191 prefixTable): per bucket,
    * `warehouse/` grants auditor2 write-only while `warehouse/A/` grants
    * read — the two DISAGREE, so longest-prefix-wins evaluation is
    * observable (a shortest-match or any-match bug flips grants). */
  def prefixAcls(spark: SparkSession, dir: String): DataFrame = {
    val b = buckets(spark, dir).select("volume", "bucket")
    b.select(col("volume"), col("bucket"), lit("warehouse/").as("prefix"),
        lit("auditor2").as("name"), lit("USER").as("type"),
        lit("-w-").as("rights"))
      .unionByName(b.select(col("volume"), col("bucket"),
        lit("warehouse/A/").as("prefix"), lit("auditor2").as("name"),
        lit("USER").as("type"), lit("r--").as("rights")))
  }

  /**
   * acl_ops: the ACL write-request log (ref OMKeySetAclRequest /
   * OMKeyAddAclRequest / OMKeyRemoveAclRequest request family, semantics
   * in OzoneAclUtil.java:203-258 — entries keyed by (name, type, scope),
   * add unions the rights set, remove subtracts it, set replaces the whole
   * list). One op sequence per sampled key (~1/101), five variants
   * covering: add-then-partial-remove, add-voided-by-set, union-of-adds,
   * remove-on-absent no-op + group grant, and a multi-entry SET followed
   * by add/remove churn. `bits` is the rights bitmask
   * (READ=1 WRITE=2 CREATE=4 LIST=8). The template is a 13-row dimension
   * broadcast onto the sampled keys.
   */
  val aclOpTemplateRows = Fixture(
    "variant", "seq", "op", "ptype", "pname", "bits")(
    (0L, 1L, "ADD", "USER", "alice", 3L),
    (0L, 2L, "REMOVE", "USER", "alice", 2L),
    (1L, 1L, "ADD", "USER", "alice", 3L),
    (1L, 2L, "SET", "USER", "bob", 1L),
    (2L, 1L, "ADD", "USER", "alice", 1L),
    (2L, 2L, "ADD", "USER", "alice", 6L),
    (2L, 3L, "REMOVE", "USER", "alice", 4L),
    (3L, 1L, "REMOVE", "USER", "ghost", 7L),
    (3L, 2L, "ADD", "GROUP", "devs", 9L),
    (4L, 1L, "SET", "USER", "alice", 7L),
    (4L, 1L, "SET", "GROUP", "ops", 3L),
    (4L, 2L, "ADD", "USER", "alice", 8L),
    (4L, 3L, "REMOVE", "USER", "alice", 1L))

  def aclOps(spark: SparkSession, dir: String): DataFrame = {
    val template = aclOpTemplateRows.df(spark)
      .withColumn("scope", lit("ACCESS"))
    objects(spark, dir)
      .filter(col("object_id") % 101 === 0)
      .select(col("volume"), col("bucket"), col("key"),
        expr("(object_id DIV 101) % 5").as("variant"))
      .distinct() // a request log has one op stream per key (dup-safe)
      .join(broadcast(template), Seq("variant"))
      .select("volume", "bucket", "key", "seq", "op", "ptype", "pname",
        "scope", "bits")
  }

  /**
   * ec_shards: per-index shard replicas of the EC rs-3-2 containers (the
   * containers on EC pipelines: container_id % 12 on a p % 3 == 2
   * pipeline, matching [[pipelines]]). Index k of container c lands on
   * dn (c + 7k) % 20 — the same stride the pipeline fixture uses.
   * Planted failure modes:
   *   - %31: index 2 lost entirely (reconstructable — 4 indexes live);
   *   - %37: indexes 2, 4, 5 all lost (2 < data=3 → unrecoverable);
   *   - %41: index 3 carried TWICE on in-service nodes (over-replicated);
   *   - %29: index 1's only copy UNHEALTHY (counts as missing);
   * plus whatever indexes naturally land on the leaving nodes
   * (dn 2/5/8/11/14/17 — offline-available, not missing).
   */
  def ecShards(spark: SparkSession, dir: String): DataFrame = {
    val ec = containersScm(spark, dir)
      .filter(col("state") =!= "DELETED" &&
        (col("container_id") % 12) % 3 === 2)
      .select("container_id")
    val base = ec.crossJoin(spark.range(1, 6).toDF("idx"))
      .filter(!(col("container_id") % 31 === 0 && col("idx") === 2))
      .filter(!(col("container_id") % 37 === 0 && col("idx").isin(2, 4, 5)))
      .withColumn("dn", (col("container_id") + col("idx") * 7) % 20)
    val dups = ec.filter(col("container_id") % 41 === 0)
      .withColumn("idx", lit(3L))
      .withColumn("dn", (col("container_id") + col("idx") * 7 + 3) % 20)
    base.unionByName(dups)
      .select(col("container_id"), col("idx").as("replica_index"),
        concat(lit("dn"), col("dn").cast("string")).as("datanode"),
        when(col("container_id") % 29 === 0 && col("idx") === 1,
          lit("UNHEALTHY")).otherwise(lit("CLOSED")).as("shard_state"))
  }

  /** rename_requests: a RenameKeys batch per ~1/109 sampled key covering
    * every decision branch (ref OMKeysRenameRequest): clean rename,
    * missing source, existing destination (the version-1 sibling of the
    * same order always exists), empty target name, and
    * dest-exists+src-missing combined. */
  def renameRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "renamereq", dir)(objects(spark, dir)
      .filter(col("object_id") % 109 === 0)
      .select(col("volume"), col("bucket"), col("key"),
        expr("(object_id DIV 109) % 5").as("cls"),
        expr("regexp_replace(key, '[0-9]+\\\\.dat$', '1.dat')").as("sib"))
      .select(col("volume"), col("bucket"),
        when(col("cls").isin(1, 4), concat(col("key"), lit(".ghost")))
          .otherwise(col("key")).as("from_key"),
        when(col("cls") === 0, concat(col("key"), lit(".renamed")))
          .when(col("cls") === 1, concat(col("key"), lit(".r1")))
          .when(col("cls") === 3, lit(""))
          // cls 2: rename onto ITSELF — an existing destination in the
          // same bucket by construction; cls 4: the version-1 sibling
          // (same bucket only when the suppkeys agree — a data-split
          // between combined-failure and plain src-missing)
          .when(col("cls") === 2, col("key"))
          .otherwise(col("sib")).as("to_key"))
      .distinct())

  /** delete_key_requests: a DeleteKey batch per ~1/113 sampled key, one of
    * four classes (ref OMKeyDeleteRequestWithFSO): the key itself (a file
    * delete), a ghost sibling (KEY_NOT_FOUND), the key's PARENT directory
    * (a non-empty FSO dir), and an unknown bucket. */
  def deleteKeyRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "delkeyreq", dir)(objects(spark, dir)
      .filter(col("object_id") % 113 === 0)
      .select(col("volume"), col("bucket"), col("key"),
        expr("(object_id DIV 113) % 4").as("cls"))
      .select(col("volume"),
        when(col("cls") === 3, lit("no-such-bucket"))
          .otherwise(col("bucket")).as("bucket"),
        when(col("cls") === 1, concat(col("key"), lit(".ghost")))
          .when(col("cls") === 2, expr("substring(key, 1, length(key) - " +
            "length(element_at(split(key, '/'), -1)) - 1)"))
          .otherwise(col("key")).as("key"))
      .distinct())

  /** ofs_requests: a rooted-path resolution batch (ref OFSPath.java) —
    * per ~1/103 sampled key, one of six path shapes: volume-only,
    * bucket, full key, messy consecutive slashes, the /tmp mount, and a
    * trailing-slash directory path; plus the root itself. */
  def ofsRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "ofsreq", dir)(objects(spark, dir)
      .filter(col("object_id") % 103 === 0)
      .select(col("volume"), col("bucket"), col("key"), col("owner"),
        expr("(object_id DIV 103) % 6").as("cls"))
      .select(
        when(col("cls") === 0, concat(lit("/"), col("volume")))
          .when(col("cls") === 1,
            concat(lit("/"), col("volume"), lit("/"), col("bucket")))
          .when(col("cls") === 2, concat(lit("/"), col("volume"), lit("/"),
            col("bucket"), lit("/"), col("key")))
          .when(col("cls") === 3, concat(lit("/"), col("volume"),
            lit("//"), col("bucket"), lit("/"), col("key")))
          .when(col("cls") === 4, concat(lit("/tmp/"), col("key")))
          .otherwise(concat(lit("/"), col("volume"), lit("/"),
            col("bucket"), lit("/"),
            expr("array_join(slice(split(key, '/'), 1, 3), '/')"),
            lit("/"))).as("path"),
        col("owner").as("username"))
      .unionByName(ofsRootRows.df(spark))
      .distinct())

  /** The filesystem root request of [[ofsRequests]]. */
  val ofsRootRows = Fixture("path", "username")(("/", "root"))

  // ---- cluster-health plane (SCM/Recon datanode + pipeline catalog) ----

  /** datanodes: 20 nodes in 5 racks, aligned with [[replicas]]' dn/rack
    * naming — ref NodeEndpoint.java (DatanodeMetadata.java:34-93:
    * state/opState/heartbeat) + DatanodeStorageReport.java:27-36
    * (capacity/used/remaining/committed). The used% spread `(i*37)%80+5`
    * plants genuine over/under-utilized nodes for the balancer fixture;
    * 5% of capacity is reserved, so utilization (capacity-remaining)/
    * capacity = used% + 5. */
  def datanodes(spark: SparkSession, dir: String): DataFrame =
    spark.range(20).toDF("i")
      .withColumn("capacity", (col("i") % 4 + 1) * 1000000000000L)
      .withColumn("used",
        expr("capacity DIV 100 * ((i * 37) % 80 + 5)"))
      .select(
        concat(lit("dn"), col("i").cast("string")).as("uuid"),
        concat(lit("host"), col("i").cast("string"), lit(".rack"),
          (col("i") % 5).cast("string")).as("hostname"),
        concat(lit("rack"), (col("i") % 5).cast("string")).as("rack"),
        when(col("i") % 7 === 3, lit("STALE"))
          .when(col("i") % 7 === 6, lit("DEAD"))
          .otherwise(lit("HEALTHY")).as("state"),
        when(col("i") % 6 === 2, lit("DECOMMISSIONING"))
          .when(col("i") % 6 === 5, lit("IN_MAINTENANCE"))
          .otherwise(lit("IN_SERVICE")).as("op_state"),
        (lit(1700000000000L) - col("i") * 45000L).as("last_heartbeat_ms"),
        col("capacity"), col("used"),
        expr("capacity - used - capacity DIV 100 * 5").as("remaining"),
        expr("used DIV 10").as("committed"))

  /** pipelines: 12 pipelines over the dn ring — ref PipelineEndpoint.java
    * + PipelineMetadata.java:35-67. Replication decides the member count
    * (RATIS/THREE=3, RATIS/ONE=1, EC rs-3-2=5); EC pipelines have no Ratis
    * leader. Containers map onto pipelines by `container_id % 12` (the
    * fixture's SCM pipeline map). */
  def pipelines(spark: SparkSession, dir: String): DataFrame =
    spark.range(12).toDF("p")
      .select(
        concat(lit("pipeline-"), col("p").cast("string")).as("pipeline_id"),
        when(col("p") % 3 === 0, lit("RATIS/THREE"))
          .when(col("p") % 3 === 1, lit("RATIS/ONE"))
          .otherwise(lit("EC/rs-3-2-1024k")).as("replication"),
        when(col("p") % 3 === 0, lit(3)).when(col("p") % 3 === 1, lit(1))
          .otherwise(lit(5)).cast("int").as("num_datanodes"),
        when(col("p") % 5 === 4, lit("DORMANT"))
          .when(col("p") % 5 === 2, lit("CLOSED"))
          .otherwise(lit("OPEN")).as("state"),
        when(col("p") % 3 =!= 2,
          concat(lit("dn"), (col("p") % 20).cast("string"))).as("leader_node"),
        (lit(1700000000000L) - col("p") * 60000L).as("last_leader_election_ms"),
        (col("p") % 4).as("leader_elections"),
        col("p").as("pipeline_idx"))

  /** (pipeline, member datanode) pairs: member k of pipeline p is
    * dn `(p + 7k) % 20` — the stride spreads pipelines across racks. */
  def pipelineMembers(spark: SparkSession, dir: String): DataFrame =
    pipelines(spark, dir)
      .withColumn("k", explode(expr("sequence(0, num_datanodes - 1)")))
      .select(col("pipeline_id"),
        concat(lit("dn"),
          ((col("pipeline_idx") + col("k") * 7) % 20).cast("string"))
          .as("datanode"))

  /** The ReplicationManager health-check chain
    * ([[graft.operators.ClusterHealth.containerHealthChain]]) stored once
    * per (JVM, source): a deterministic fold over the container dim, read
    * by the chain query and by the replication report's three increment
    * projections, which must scan it rather than re-plan the fold. */
  def containerHealthChain(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "healthchain", dir)(
      graft.operators.ClusterHealth.containerHealthChain(datanodes(spark, dir),
        containersScm(spark, dir), containersOm(spark, dir),
        pipelineMembers(spark, dir)))

  /** deleted_dirs (ref OMDBDefinition.java:110,267-273
    * deletedDirectoryTable): directories deleted but not yet purged —
    * ~1/23 of the mixed namespace's distinct leaf dirs (md5-selected, so
    * the pick is engine-portable), each row one `rm -r` root awaiting the
    * background purge. */
  def deletedDirs(spark: SparkSession, dir: String): DataFrame =
    // a real deletedDirectoryTable is a stored table, not a derived view —
    // memoize it like the FSO tables so consumers pay a parquet read
    TempDirs.parquet(spark, "deldirs", dir) {
      objectsMixed(spark, dir)
        .select(col("volume"), col("bucket"),
          graft.operators.Aggregates.parentDirOf("key").as("dir"))
        .filter(col("dir") =!= "").distinct()
        .withColumn("h", graft.functions.TextFns.tokenHash60("dir"))
        .filter(col("h") % 23 === 0)
        .select(col("volume"), col("bucket"), col("dir"),
          (lit(1700000000000L) + (col("h") % 1000) * 1000L).as("deleted_ms"))
    }

  /** audit_access ← orders (heatmap source, ref HeatMapUtil.java:60-130). */
  def auditAccess(spark: SparkSession, dir: String): DataFrame = {
    val o = raw(spark, dir, "orders")
    o.select(
      epochMs(col("o_orderdate")).as("ts"),
      concat(lit("vol"), (col("o_orderkey") % 4).cast("string")).as("volume"),
      concat(lit("bucket"), (col("o_custkey") % 10).cast("string")).as("bucket"),
      concat(lit("warehouse/"), col("o_orderstatus"), lit("/"),
        col("o_orderkey").cast("string")).as("key"),
      when(col("o_orderkey") % 5 === 0, lit("WRITE_KEY"))
        .otherwise(lit("READ_KEY")).as("op"),
      concat(lit("u"), (col("o_custkey") % 20).cast("string")).as("user"))
  }

  /** open_keys: subset of objects "still open" + client id
    * (expiry ref OmMetadataManagerImpl.java:1446-1500). */
  def openKeys(spark: SparkSession, dir: String): DataFrame =
    objects(spark, dir)
      .filter(col("version") % 5 === 0)
      .withColumn("client_id", col("object_id") * 7 % 100000)

  /** multipart parts ← lineitem grouped by order (every 50th order is an
    * in-flight MPU; ref S3MultipartUploadCompleteRequest.java:291-334).
    * Parts with linenumber%6==0 are dropped to create part-number gaps. */
  def multipartParts(spark: SparkSession, dir: String): DataFrame = {
    val li = raw(spark, dir, "lineitem")
    li.filter(col("l_orderkey") % 50 === 0 && col("l_linenumber") % 6 =!= 0)
      .select(
        md5(concat(lit("upload"), col("l_orderkey").cast("string"))).as("upload_id"),
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("part_number"),
        md5(concat(lit("part"), col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string"))).as("etag"),
        floor(col("l_extendedprice")).cast("long").as("size"),
        epochMs(col("l_shipdate")).as("creation_time"))
  }

  /**
   * multipart_info: one row per IN-FLIGHT multipart upload keyed by
   * (volume, bucket, key, upload_id) — ref OMDBDefinition.java:230-235
   * multipartInfoTable (ListMultipartUploads walks it per bucket). Derived
   * from the parts synthesis; order_key multiples of 50 put every MPU in
   * bucket0 of vol0/vol2.
   */
  def multipartInfo(spark: SparkSession, dir: String): DataFrame =
    multipartParts(spark, dir)
      .groupBy("upload_id", "order_key")
      .agg(min("creation_time").as("initiated_ms"),
        count(lit(1)).as("num_parts"))
      .select(
        concat(lit("vol"), (col("order_key") % 4).cast("string")).as("volume"),
        concat(lit("bucket"), (col("order_key") % 10).cast("string")).as("bucket"),
        concat(lit("warehouse/mpu/"), col("order_key").cast("string"),
          lit(".bin")).as("key"),
        col("upload_id"), col("initiated_ms"), col("num_parts"))

  /** mpu_cleanup_store: the multipartInfoTable snapshot the MPU-cleanup
    * budget walk scans (MultipartUploadCleanupService →
    * OmMetadataManagerImpl.getExpiredMultipartUploads:1527-1578). Buckets
    * widen to 5 via (order_key DIV 50) % 5 — the base synthesis lands
    * every MPU in bucket0, which would starve the abort ladder's
    * bucket-missing rung — and the apply-time columns derive from
    * order_key: update_id (the Ratis-fence probe) and the
    * completed-meanwhile flag (every 7th upload slot is gone by apply). */
  def mpuCleanupStore(spark: SparkSession, dir: String): DataFrame =
    multipartParts(spark, dir)
      .groupBy("upload_id", "order_key")
      .agg(min("creation_time").as("initiated_ms"),
        count(lit(1)).as("num_parts"))
      .select(
        concat(lit("vol"), (col("order_key") % 4).cast("string"))
          .as("volume"),
        concat(lit("bucket"),
          expr("(order_key DIV 50) % 5").cast("string")).as("bucket"),
        concat(lit("warehouse/mpu/"), col("order_key").cast("string"),
          lit(".bin")).as("key"),
        col("upload_id"), col("initiated_ms"), col("num_parts"),
        (col("order_key") * 7 % 6000).as("update_id"),
        expr("(order_key DIV 50) % 7 <> 6").as("present_at_apply"))

  /** mpu_live_buckets: the bucket-table slice the expired-abort apply
    * probes — bucket3 is deliberately absent on every volume. */
  val mpuLiveBucketRows = Fixture("volume", "bucket")(
    (for (v <- 0 to 3; b <- Seq(0, 1, 2, 4))
      yield (s"vol$v", s"bucket$b")): _*)

  def mpuLiveBuckets(spark: SparkSession, dir: String): DataFrame =
    mpuLiveBucketRows.df(spark)

  /** mpu_open_parts: one openKeyTable entry per in-flight (upload, part) —
    * what a CommitPart resolves by clientID. Derived WITHOUT the %6
    * committed-part gap filter (a part can be open but not yet committed);
    * client_id = order_key*100 + part_number. Distinct because lineitem
    * carries duplicate (orderkey, linenumber) pairs. */
  def mpuOpenParts(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "mpuopen", dir) {
      raw(spark, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(
          concat(lit("vol"), (col("l_orderkey") % 4).cast("string"))
            .as("volume"),
          concat(lit("bucket"), (col("l_orderkey") % 10).cast("string"))
            .as("bucket"),
          concat(lit("warehouse/mpu/"), col("l_orderkey").cast("string"),
            lit(".bin")).as("key"),
          col("l_orderkey").as("order_key"),
          col("l_linenumber").cast("int").as("part_number"),
          (col("l_orderkey") * 100 + col("l_linenumber")).as("client_id"))
        .distinct()
    }

  /** mpu_complete_store: the multipartInfoTable slice the Complete
    * ladder probes — four in-flight uploads; up-B deliberately has NO
    * stored parts, up-D's key collides with a directory. */
  val mpuCompleteStoreRows = Fixture("volume", "bucket", "key", "upload_id")(
    ("vol0", "bucket0", "mpu/a.bin", "up-A"),
    ("vol0", "bucket0", "mpu/b.bin", "up-B"),
    ("vol0", "bucket0", "mpu/c.bin", "up-C"),
    ("vol0", "bucket0", "dircol/d.bin", "up-D"))

  def mpuCompleteStore(spark: SparkSession, dir: String): DataFrame =
    mpuCompleteStoreRows.df(spark)

  /** mpu_complete_store_parts: committed parts per upload. up-A part 1
    * sits EXACTLY on the 5 MiB floor (boundary passes), part 3 is a
    * small LAST part; up-C part 1 is undersized (the ENTITY_TOO_SMALL
    * probe when referenced as a non-last part). */
  val mpuCompleteStorePartRows = Fixture(
    "upload_id", "part_number", "etag", "size")(
    ("up-A", 1, "eA1", 5242880L),
    ("up-A", 2, "eA2", 6291456L),
    ("up-A", 3, "eA3", 1024L),
    ("up-C", 1, "eC1", 1024L),
    ("up-C", 2, "eC2", 6291456L),
    ("up-D", 1, "eD1", 6291456L))

  def mpuCompleteStoreParts(spark: SparkSession, dir: String): DataFrame =
    mpuCompleteStorePartRows.df(spark)

  /** mpu_complete_requests: every S3MultipartUploadCompleteRequest
    * branch — happy multi-part, unknown upload, empty part list, upload
    * with no stored parts, out-of-order list, ETag mismatch, absent part
    * number, undersized non-last part, dir-collision-beats-store-probe,
    * missing bucket, order-beats-etag, etag-beats-size, subset
    * completion, and single-part completion of an upload whose OTHER
    * stored part is undersized. */
  val mpuCompleteRequestsCRows = Fixture(
    "req_id", "volume", "bucket", "key", "upload_id")(
    (1L, "vol0", "bucket0", "mpu/a.bin", "up-A"),
    (2L, "vol0", "bucket0", "mpu/x.bin", "up-X"),
    (3L, "vol0", "bucket0", "mpu/a.bin", "up-A"),
    (4L, "vol0", "bucket0", "mpu/b.bin", "up-B"),
    (5L, "vol0", "bucket0", "mpu/a.bin", "up-A"),
    (6L, "vol0", "bucket0", "mpu/a.bin", "up-A"),
    (7L, "vol0", "bucket0", "mpu/a.bin", "up-A"),
    (8L, "vol0", "bucket0", "mpu/c.bin", "up-C"),
    (9L, "vol0", "bucket0", "dircol/d.bin", "up-ghost"),
    (10L, "vol0", "no-such", "mpu/a.bin", "up-A"),
    (11L, "vol0", "bucket0", "mpu/a.bin", "up-A"),
    (12L, "vol0", "bucket0", "mpu/c.bin", "up-C"),
    (13L, "vol0", "bucket0", "mpu/a.bin", "up-A"),
    (14L, "vol0", "bucket0", "mpu/c.bin", "up-C"))

  def mpuCompleteRequestsC(spark: SparkSession, dir: String): DataFrame =
    mpuCompleteRequestsCRows.df(spark)

  /** mpu_complete_req_parts: the client part lists, one row per entry
    * in list order. */
  val mpuCompleteReqPartRows = Fixture("req_id", "pos", "part_number", "etag")(
    (1L, 1, 1, "eA1"), (1L, 2, 2, "eA2"), (1L, 3, 3, "eA3"),
    (2L, 1, 1, "eX1"),
    (4L, 1, 1, "eB1"),
    (5L, 1, 1, "eA1"), (5L, 2, 3, "eA3"), (5L, 3, 2, "eA2"),
    (6L, 1, 1, "eA1"), (6L, 2, 2, "WRONG"), (6L, 3, 3, "eA3"),
    (7L, 1, 1, "eA1"), (7L, 2, 4, "eA4"),
    (8L, 1, 1, "eC1"), (8L, 2, 2, "eC2"),
    (9L, 1, 1, "eD1"),
    (10L, 1, 1, "eA1"),
    (11L, 1, 2, "WRONG"), (11L, 2, 1, "eA1"),
    (12L, 1, 1, "WRONG"), (12L, 2, 2, "eC2"),
    (13L, 1, 2, "eA2"), (13L, 2, 3, "eA3"),
    (14L, 1, 2, "eC2"))

  def mpuCompleteReqParts(spark: SparkSession, dir: String): DataFrame =
    mpuCompleteReqPartRows.df(spark)

  /** mpu_complete_dirs: the directory that collides with up-D's key —
    * the checkDirectoryAlreadyExists probe. */
  val mpuCompleteDirRows = Fixture("volume", "bucket", "dir")(
    ("vol0", "bucket0", "dircol/d.bin"))

  def mpuCompleteDirs(spark: SparkSession, dir: String): DataFrame =
    mpuCompleteDirRows.df(spark)

  /** copy_part_sources: the source-object catalog the UploadPartCopy
    * ladder reads (all on vol0): one key carrying a space (the
    * url-decode probe), one sized for range boundary probes. */
  val copyPartSourceRows = Fixture(
    "bucket", "key", "size", "mtime_ms", "etag")(
    ("srcb", "data/one.dat", 1000L, 1700000000000L, "s-e1"),
    ("srcb", "sp ace.dat", 500L, 1690000000000L, "s-e2"),
    ("srcb", "big.dat", 10000L, 1699999999999L, "s-e3"))

  def copyPartSources(spark: SparkSession, dir: String): DataFrame =
    copyPartSourceRows.df(spark)

  /** copy_part_requests: every UploadPartCopy branch — full and ranged
    * copies, slash-less header, leading-slash and url-encoded sources,
    * missing source bucket/key, malformed and out-of-bounds ranges,
    * both copy-source time preconditions (and the future-date-ignored
    * rung), unknown target upload (probed AFTER source validation), and
    * target-bucket-first ordering. ifmod/ifunmod = -1 means the header
    * is absent. */
  val copyPartRequestRows = Fixture(
    "req_id", "volume", "bucket", "key", "upload_id", "part_number",
    "copy_header", "range_header", "ifmod_ms", "ifunmod_ms")(
    (1L, "vol0", "bucket0", "mpu/a.bin", "up-A", 1,
      "srcb/data/one.dat", "", -1L, -1L),
    (2L, "vol0", "bucket0", "mpu/a.bin", "up-A", 2,
      "srcb/data/one.dat", "bytes=0-99", -1L, -1L),
    (3L, "vol0", "bucket0", "mpu/a.bin", "up-A", 3,
      "nobucketnoslash", "", -1L, -1L),
    (4L, "vol0", "bucket0", "mpu/a.bin", "up-A", 4,
      "/srcb/data/one.dat", "", -1L, -1L),
    (5L, "vol0", "bucket0", "mpu/a.bin", "up-A", 5,
      "/srcb/sp%20ace.dat", "", -1L, -1L),
    (6L, "vol0", "bucket0", "mpu/a.bin", "up-A", 6,
      "ghostb/data/one.dat", "", -1L, -1L),
    (7L, "vol0", "bucket0", "mpu/a.bin", "up-A", 7,
      "srcb/ghost.dat", "", -1L, -1L),
    (8L, "vol0", "bucket0", "mpu/a.bin", "up-A", 8,
      "srcb/data/one.dat", "bytes=5-", -1L, -1L),
    (9L, "vol0", "bucket0", "mpu/a.bin", "up-A", 9,
      "srcb/data/one.dat", "bytes=50-40", -1L, -1L),
    (10L, "vol0", "bucket0", "mpu/a.bin", "up-A", 10,
      "srcb/data/one.dat", "bytes=0-1000", -1L, -1L),
    (11L, "vol0", "bucket0", "mpu/a.bin", "up-A", 11,
      "srcb/sp%20ace.dat", "", 1695000000000L, -1L),
    (12L, "vol0", "bucket0", "mpu/a.bin", "up-A", 12,
      "srcb/sp%20ace.dat", "", -1L, 1680000000000L),
    (13L, "vol0", "bucket0", "mpu/a.bin", "up-A", 13,
      "srcb/data/one.dat", "", 1800000000000L, -1L),
    (14L, "vol0", "bucket0", "mpu/a.bin", "up-ghost", 14,
      "srcb/data/one.dat", "", -1L, -1L),
    (15L, "vol0", "no-such", "mpu/a.bin", "up-A", 15,
      "noslash", "", -1L, -1L),
    (16L, "vol0", "bucket0", "mpu/a.bin", "up-A", 16,
      "srcb/big.dat", "bytes=9000-9999", -1L, -1L))

  def copyPartRequests(spark: SparkSession, dir: String): DataFrame =
    copyPartRequestRows.df(spark)

  /** mpu_commit_requests: a CommitPart batch over the open-part set —
    * cls picks the probe: 0 commit (replaced iff the part is already in
    * the parts table), 1 clientID mismatch, 2 unknown uploadId, 3 blank
    * ETag, 4 missing bucket (which also nulls the etag — bucket must
    * still win, probing the ladder order). */
  def mpuCommitRequests(spark: SparkSession, dir: String): DataFrame =
    mpuOpenParts(spark, dir)
      .withColumn("cls",
        (expr("order_key DIV 50") + col("part_number")) % 5)
      .select(
        (col("order_key") * 10 + col("part_number")).as("req_id"),
        col("volume"),
        when(col("cls") === 4, lit("no-such-bucket"))
          .otherwise(col("bucket")).as("bucket"),
        col("key"), col("order_key"), col("part_number"),
        when(col("cls") === 2,
          md5(concat(lit("nope"), col("order_key").cast("string"))))
          .otherwise(
            md5(concat(lit("upload"), col("order_key").cast("string"))))
          .as("upload_id"),
        // +999983 (not +1): client ids pack as order_key*100+part, so a
        // small offset would collide with a sibling part's open entry
        when(col("cls") === 1, col("client_id") + 999983L)
          .otherwise(col("client_id")).as("client_id"),
        when(col("cls") === 3 || col("cls") === 4,
          lit(null).cast("string"))
          .otherwise(md5(concat(lit("part"), col("order_key").cast("string"),
            lit("_"), col("part_number").cast("string")))).as("etag"))

  /** mpu_abort_requests: an AbortMultipartUpload batch per upload — cls
    * 0 valid abort, 1 unknown uploadId, 2 missing bucket. */
  def mpuAbortRequests(spark: SparkSession, dir: String): DataFrame =
    multipartParts(spark, dir)
      .groupBy("order_key")
      .agg(count(lit(1)).as("__n"))
      .withColumn("cls", expr("(order_key DIV 50) % 3"))
      .select(
        col("order_key").as("req_id"),
        concat(lit("vol"), (col("order_key") % 4).cast("string"))
          .as("volume"),
        when(col("cls") === 2, lit("no-such-bucket"))
          .otherwise(concat(lit("bucket"),
            (col("order_key") % 10).cast("string"))).as("bucket"),
        concat(lit("warehouse/mpu/"), col("order_key").cast("string"),
          lit(".bin")).as("key"),
        when(col("cls") === 1,
          md5(concat(lit("nope"), col("order_key").cast("string"))))
          .otherwise(
            md5(concat(lit("upload"), col("order_key").cast("string"))))
          .as("upload_id"))

  /** replica_history: datanode report stream per container (ref
    * ContainerEndpoint.java:330-345 replica first/last-seen history). */
  def replicaHistory(spark: SparkSession, dir: String): DataFrame =
    objects(spark, dir).select(
      col("container_id"),
      concat(lit("dn"),
        ((col("container_id") + col("version")) % 20).cast("string")).as("datanode"),
      col("modification_time").as("ts"))

  /** documents / embeddings / events raw tables (LLM-pipeline inputs). */
  def documents(spark: SparkSession, dir: String): DataFrame =
    raw(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    raw(spark, dir, "embeddings")

  /** events epoch-ms derivation, robust to how the generator wrote `ts`:
    * micro/nano parquet timestamps surface as TIMESTAMP(_NTZ) and go through
    * [[epochMs]] (session TZ pinned UTC == DuckDB epoch_ms); legacy INT64
    * nanos (spark.sql.legacy.parquet.nanosAsLong=true, set in GraftSession)
    * surface as LongType and floor-divide to ms. Both floor toward zero;
    * values are all post-1970. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val ev = raw(spark, dir, "events")
    val tsMs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000000")
      case _                                   => epochMs(col("ts"))
    }
    ev.withColumn("ts_ms", tsMs)
  }

  /**
   * copy_requests: a CopyObject batch covering every decision branch of
   * the reference's `ObjectEndpoint.copyObject` — normal copy, missing
   * source, self-copy without metadata change (illegal), self-copy with a
   * storage-class change (allowed). Sampled deterministically from the
   * key population; class cycles with the sample index.
   */
  def copyRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "copyreq", dir)(objects(spark, dir)
      .filter(col("version") === 1 && col("object_id") % 101 === 0)
      .withColumn("cls", expr("(object_id DIV 101) % 4"))
      .select(
        col("volume"), col("bucket"),
        when(col("cls") === 1, concat(col("key"), lit(".nope")))
          .otherwise(col("key")).as("src_key"),
        when(col("cls") === 0, concat(col("key"), lit(".copy")))
          .when(col("cls") === 1, concat(col("key"), lit(".copied")))
          .otherwise(col("key")).as("dst_key"),
        when(col("cls") === 3, lit("REDUCED_REDUNDANCY"))
          .cast("string").as("storage_class"))
      .distinct())

  /** delete_requests: a MultiDelete batch — existing keys, missing keys
    * (idempotent-delete branch), and requests carrying a wrong
    * expected-bucket-owner (AccessDenied branch). */
  def deleteRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "delreq", dir)(objects(spark, dir)
      .filter(col("version") === 1 && col("object_id") % 97 === 0)
      .withColumn("cls", expr("(object_id DIV 97) % 3"))
      .select(
        col("volume"), col("bucket"),
        when(col("cls") === 1, concat(col("key"), lit(".ghost")))
          .otherwise(col("key")).as("key"),
        when(col("cls") === 2, lit("intruder"))
          .otherwise(concat(lit("admin"), substring(col("volume"), 4, 10)))
          .as("expected_owner"))
      .distinct())

  /**
   * sst_catalog: the SST-file universe behind the compaction-DAG differ
   * (ref hadoop-hdds/rocksdb-checkpoint-differ — RocksDBCheckpointDiffer /
   * CompactionDag / RocksDiffUtils). A three-level compaction history:
   * 1200 L0 flush files `f{i}` (created at gen 3i; only i<1000 ever
   * compact), 250 L1 outputs `l1-{k}` (compaction seq 2000+10k over inputs
   * f{4k..4k+3}; k<200 later consumed), 50 L2 outputs `l2-{j}` (seq
   * 3000+40j over l1-{4j..4j+3}), plus a static tail covering the walk's
   * terminal branches: `s-same` live in both snapshots; `s-old-out` whose
   * input `s-old-in` predates the dest horizon (generation cutoff — its key
   * range lies OUTSIDE the diff range, so the range-pruned dest map can't
   * claim it, exactly the reference's RocksDiffUtils-filtered-map case);
   * `s-tip` whose input `s-mid` was never an output (no-successor branch).
   * A snapshot at generation g holds files with created_gen <= g <
   * consumed_gen. Key ranges are zero-padded ids so lex order == numeric.
   */
  def sstCatalog(spark: SparkSession, dir: String): DataFrame = {
    def k6(c: org.apache.spark.sql.Column) = format_string("%06d", c)
    val l0 = spark.range(1200).toDF("i").select(
      concat(lit("f"), col("i")).as("file"),
      (col("i") * 3).as("created_gen"),
      when(col("i") < 1000, lit(2000) + expr("i DIV 4") * 10)
        .cast("long").as("consumed_gen"),
      k6(col("i")).as("start_key"),
      k6(col("i")).as("end_key"))
    val l1 = spark.range(250).toDF("k").select(
      concat(lit("l1-"), col("k")).as("file"),
      (lit(2000) + col("k") * 10).as("created_gen"),
      when(col("k") < 200, lit(3000) + expr("k DIV 4") * 40)
        .cast("long").as("consumed_gen"),
      k6(col("k") * 4).as("start_key"),
      k6(col("k") * 4 + 3).as("end_key"))
    val l2 = spark.range(50).toDF("j").select(
      concat(lit("l2-"), col("j")).as("file"),
      (lit(3000) + col("j") * 40).as("created_gen"),
      lit(null).cast("long").as("consumed_gen"),
      k6(col("j") * 16).as("start_key"),
      k6(col("j") * 16 + 15).as("end_key"))
    l0.unionByName(l1).unionByName(l2).unionByName(sstStaticRows.df(spark))
  }

  /** The static terminal-branch files of [[sstCatalog]]. */
  val sstStaticRows = Fixture(
    "file", "created_gen", "consumed_gen", "start_key", "end_key")(
    ("s-same", 200L, None, "000700", "000700"),
    ("s-old-out", 5000L, None, "000700", "000700"),
    ("s-tip", 5000L, None, "000700", "000700"),
    ("s-old-in", 100L, Some(5000L), "zz-out", "zz-out"),
    ("s-mid", 4000L, Some(5000L), "000700", "000700"),
    ("s-ancient", 50L, Some(100L), "zz-out", "zz-out"))

  /** Live SST map of the snapshot taken at generation `gen`. */
  def sstLive(spark: SparkSession, dir: String, gen: Long): DataFrame =
    sstCatalog(spark, dir)
      .filter(col("created_gen") <= gen &&
        (col("consumed_gen").isNull || col("consumed_gen") > gen))
      .select("file", "start_key", "end_key")

  /** Compaction log edges (output_file, input_file, seq) matching
    * [[sstCatalog]] — the reference's compactionLogTable entries flattened
    * to one row per (output, input) pair (CompactionDag edge direction:
    * output → input). */
  def sstEdges(spark: SparkSession, dir: String): DataFrame = {
    val l1 = spark.range(250).toDF("k")
      .crossJoin(spark.range(4).toDF("m"))
      .select(
        concat(lit("l1-"), col("k")).as("output_file"),
        concat(lit("f"), col("k") * 4 + col("m")).as("input_file"),
        (lit(2000) + col("k") * 10).as("seq"))
    val l2 = spark.range(50).toDF("j")
      .crossJoin(spark.range(4).toDF("m"))
      .select(
        concat(lit("l2-"), col("j")).as("output_file"),
        concat(lit("l1-"), col("j") * 4 + col("m")).as("input_file"),
        (lit(3000) + col("j") * 40).as("seq"))
    l1.unionByName(l2).unionByName(sstStaticEdgeRows.df(spark))
  }

  /** The static terminal-branch edges of [[sstEdges]]. */
  val sstStaticEdgeRows = Fixture("output_file", "input_file", "seq")(
    ("s-old-out", "s-old-in", 5000L),
    ("s-old-in", "s-ancient", 100L),
    ("s-tip", "s-mid", 5000L))

  /**
   * sst_namespace_files: the live SST file map of a DB whose keyTable holds
   * the whole namespace — each file one 500-key chunk of the sorted dbKey
   * space `/volume/bucket/key` with its (smallestKey, largestKey) metadata
   * (the LiveFileMetaData the reference reads in RocksDatabase
   * .deleteFilesNotMatchingPrefix:872-890), every 7th file parked at
   * level 0 (un-prunable: the old deleteFile API only removed last-level
   * files and the service keeps that restriction). The global sort is
   * fixture INGEST cost, memoized once per (JVM, source dir) — a real DB
   * writes its SSTs sorted to begin with.
   */
  def sstNamespaceFiles(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "sstns", dir) {
      val w = org.apache.spark.sql.expressions.Window.orderBy("db_key")
      objects(spark, dir)
        .select(concat(lit("/"), col("volume"), lit("/"), col("bucket"),
          lit("/"), col("key")).as("db_key"))
        .distinct()
        .withColumn("__rn", row_number().over(w))
        .withColumn("file_id", expr("CAST((__rn - 1) DIV 500 AS BIGINT)"))
        .groupBy("file_id")
        .agg(min("db_key").as("smallest_key"),
          max("db_key").as("largest_key"),
          count(lit(1)).as("n_keys"))
        .select(format_string("ns-%05d", col("file_id")).as("file"),
          when(col("file_id") % 7 === 0, lit(0))
            .otherwise(lit(3)).as("level"),
          col("smallest_key"), col("largest_key"), col("n_keys"))
    }

  /**
   * tag_requests: a PutObjectTagging request batch sampled from the key
   * catalog (every object with object_id % 101 == 0), with orthogonal
   * probe dimensions so gateway-validation errors, OM-existence errors
   * and their precedence are all live:
   *   - cls = (object_id DIV 101) % 10 picks the tag-set synthesis class
   *     (see [[tagEntries]]),
   *   - (object_id DIV 101) % 7 == 2 rewrites the key to a missing one,
   *   - (object_id DIV 101) % 13 == 3 rewrites the bucket to a missing
   *     one (gateway tag errors must still win — the validation runs
   *     before any OM lookup, EndpointBase.validateAndGetTagging).
   */
  def tagRequests(spark: SparkSession, dir: String): DataFrame =
    TempDirs.parquet(spark, "tagreq", dir)(
      sampledRequests(spark, dir, 101, 10)
        .select(col("req_id"), col("cls"), col("volume"),
          when(col("probe") % 13 === 3, lit("no-such-bucket"))
            .otherwise(col("bucket0")).as("bucket"),
          when(col("probe") % 7 === 2, concat(col("key0"), lit(".nope")))
            .otherwise(col("key0")).as("key")))

  /** tag_entries: the ordered tag list per request — one row per (req_id,
    * pos). Class map (cls from [[tagRequests]]): 0 valid; 1 empty key at
    * pos 2; 2 `aws:` key prefix at pos 1; 3 129-char key; 4 257-char
    * value; 5 key pattern violation; 6 value pattern violation; 7
    * duplicate key at pos 3; 8 eleven tags (count limit); 9 NULL value. */
  def tagEntries(spark: SparkSession, dir: String): DataFrame =
    tagRequests(spark, dir)
      .select(col("req_id"), col("cls"),
        explode(sequence(lit(1),
          when(col("cls") === 8, lit(11)).otherwise(lit(3)))).as("pos"))
      .select(col("req_id"), col("pos"),
        when(col("cls") === 1 && col("pos") === 2, lit(""))
          .when(col("cls") === 2 && col("pos") === 1, lit("aws:source"))
          .when(col("cls") === 3 && col("pos") === 2,
            lit("k" * 129))
          .when(col("cls") === 5 && col("pos") === 2, lit("bad#key"))
          .when(col("cls") === 7 && col("pos") === 3, lit("env1"))
          .otherwise(concat(lit("env"), col("pos"))).as("tag_key"),
        when(col("cls") === 4 && col("pos") === 3,
          lit("v" * 257))
          .when(col("cls") === 6 && col("pos") === 2, lit("bad!value"))
          .when(col("cls") === 9 && col("pos") === 2,
            lit(null).cast("string"))
          .otherwise(concat(lit("v"), col("pos"))).as("tag_value"))

  /** lc_set_requests: a PutBucketLifecycleConfiguration batch — name
    * probes, existence probes, and one request per config-/rule-level
    * branch of the validation ladder (rules live in [[lcRuleEntries]]). */
  val lcSetRequestRows = Fixture("req_id", "volume", "bucket")(
    (1L to 20L).map(i => (i, "vol0",
      if (i == 5 || i == 10) "bucket1" else "bucket0")) ++ Seq(
      (21L, "vol0", "no-such-bucket"),
      (22L, "vol0", "BAD..Name"),
      (23L, "bad_vol!", "bucket0"),
      (24L, "vol0", "bucket1"),
      (25L, "vol0", "no-such-bucket"),
      (26L, "vol0", "bucket0"),
      (27L, "bad_vol!", "BAD..Name"),
      (28L, "vol0", "bucket0"),
      (29L, "vol0", "bucket0"),
      (30L, "vol0", "bucket0"),
      (31L, "vol0", "bucket1"),
      (32L, "vol0", "bucket1")): _*)

  def lcSetRequests(spark: SparkSession, dir: String): DataFrame =
    lcSetRequestRows.df(spark)

  /** lc_rule_entries: the ordered rule list per lifecycle-set request.
    * Tuple = (req_id, rule_pos, rule_id, prefix, filter_prefix,
    * filter_tag_key, filter_tag_value, filter_has_and, n_actions,
    * n_expirations, exp_days, exp_date_ms). Req 19 carries 1001 generated
    * rules (the LC_MAX_RULES=1000 cap); req 20 has none (NO_RULES). */
  val lcRuleEntryRows = {
    val S = Option.apply[String] _
    val L = Option.apply[Long] _
    val n = Option.empty[String]
    val nl = Option.empty[Long]
    val rows: Seq[(Long, Int, String, Option[String], Option[String],
      Option[String], Option[String], Boolean, Int, Int, Option[Long],
      Option[Long])] = Seq(
      (1L, 1, "ok-1", S("warehouse/"), n, n, n, false, 1, 1, L(30L), nl),
      (2L, 1, "ok-1", S("warehouse/"), n, n, n, false, 1, 1, L(30L), nl),
      (2L, 2, "x" * 256, S("warehouse/"), n, n, n, false, 1, 1, L(30L), nl),
      (3L, 1, "r3", S("warehouse/"), n, n, n, false, 0, 0, nl, nl),
      (4L, 1, "r4", S("warehouse/"), n, n, n, false, 2, 2, L(30L), nl),
      (5L, 1, "r5", S("warehouse/A"), n, n, n, false, 1, 1, L(30L), nl),
      (6L, 1, "r6", S("warehouse/"), S("warehouse/A/"), n, n, false, 1, 1,
        L(30L), nl),
      (7L, 1, "r7", n, n, n, n, false, 1, 1, L(30L), nl),
      (8L, 1, "r8", S("p" * 1025), n, n, n, false, 1, 1, L(30L), nl),
      (9L, 1, "r9", S(".Trash/u1/"), n, n, n, false, 1, 1, L(30L), nl),
      (10L, 1, "r10", S("a//b/"), n, n, n, false, 1, 1, L(30L), nl),
      (11L, 1, "r11", n, S("warehouse/A/"), S("env"), S("prod"), false,
        1, 1, L(30L), nl),
      (12L, 1, "r12", n, n, S("k" * 129), S("v"), false, 1, 1, L(30L), nl),
      (13L, 1, "r13", S("warehouse/"), n, n, n, false, 1, 1, L(0L), nl),
      (14L, 1, "r14", S("warehouse/"), n, n, n, false, 1, 1, L(30L),
        L(798681600000L)),
      (15L, 1, "r15", S("warehouse/"), n, n, n, false, 1, 1, nl, nl),
      (16L, 1, "r16", S("warehouse/"), n, n, n, false, 1, 1, nl,
        L(790045200000L)),
      (17L, 1, "r17", S("warehouse/"), n, n, n, false, 1, 1, nl,
        L(789177600000L)),
      (18L, 1, "dup", S("warehouse/"), n, n, n, false, 1, 1, L(30L), nl),
      (18L, 2, "dup", S("warehouse/B/"), n, n, n, false, 1, 1, L(30L), nl),
      (21L, 1, "r21", S("warehouse/"), n, n, n, false, 1, 1, L(30L), nl),
      (22L, 1, "r22", S("warehouse/"), n, n, n, false, 1, 1, L(30L), nl),
      (23L, 1, "r23", S("warehouse/"), n, n, n, false, 1, 1, L(30L), nl),
      (24L, 1, "r24", S("warehouse/A/"), n, n, n, false, 1, 1, nl,
        L(798681600000L)),
      (25L, 1, "r25", S("warehouse/"), n, n, n, false, 0, 0, nl, nl),
      (26L, 1, "y" * 256, S("warehouse/"), n, n, n, false, 0, 0, nl, nl),
      (27L, 1, "r27", S("warehouse/"), n, n, n, false, 1, 1, L(30L), nl),
      (28L, 1, "dup", S("warehouse/"), n, n, n, false, 1, 1, L(30L), nl),
      (28L, 2, "dup", S("warehouse/"), n, n, n, false, 0, 0, nl, nl),
      (29L, 1, "r29", n, n, S("env"), S("prod"), true, 1, 1, L(30L), nl),
      (30L, 1, "r30", n, n, S("env"), S("prod"), false, 1, 1, L(30L), nl),
      (31L, 1, "r31", n, S("warehouse/B/"), n, n, false, 1, 1, L(30L), nl),
      (32L, 1, "r32", n, S("warehouse/B"), n, n, false, 1, 1, L(30L), nl)) ++
      (1 to 1001).map(i => (19L, i, "r" + i, S("warehouse/"), n, n, n,
        false, 1, 1, L(30L), nl))
    Fixture("req_id", "rule_pos", "rule_id", "prefix", "filter_prefix",
      "filter_tag_key", "filter_tag_value", "filter_has_and", "n_actions",
      "n_expirations", "exp_days", "exp_date_ms")(rows: _*)
  }

  def lcRuleEntries(spark: SparkSession, dir: String): DataFrame =
    lcRuleEntryRows.df(spark)

  /**
   * media_assets: multimodal rows synthesized from documents — an opaque
   * binary payload (64 bytes derived from the text digest; real decode is
   * stubbed, see [[graft.operators.Multimodal]]) plus typed metadata, the
   * schema shape of an image/audio/video column at 100 TB.
   */
  def mediaAssets(spark: SparkSession, dir: String): DataFrame = {
    val hex = concat(md5(col("text")), md5(concat(col("text"), lit("#1"))),
      md5(concat(col("text"), lit("#2"))), md5(concat(col("text"), lit("#3"))))
    documents(spark, dir).select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio"))
        .otherwise(lit("video")).as("media_type"),
      unhex(hex).as("payload"),
      hex.as("payload_hex"),
      (lit(16) + col("doc_id") % 64).cast("int").as("width"),
      (lit(16) + col("doc_id") % 48).cast("int").as("height"),
      col("source"))
  }

  // ---- literal inputs of operators and declared queries ----

  /** decommission_requests: the DatanodeAdminMonitor request batches of
    * [[graft.operators.ClusterHealth.decommissionAdmin]]. */
  val decommissionRequestRows = Fixture("batch_id", "op", "force", "host")(
    (1L, "DECOMMISSION", false, "host1.rack1"),
    (1L, "DECOMMISSION", false, "host2.rack2"),
    (1L, "DECOMMISSION", false, "host5.rack0"),
    (1L, "DECOMMISSION", false, "ghost.example"),
    (1L, "DECOMMISSION", false, "host3.rack3"),
    (2L, "DECOMMISSION", false, "host0.rack0"),
    (2L, "DECOMMISSION", false, "host1.rack1"),
    (2L, "DECOMMISSION", false, "host4.rack4"),
    (2L, "DECOMMISSION", false, "host7.rack2"),
    (2L, "DECOMMISSION", false, "host9.rack4"),
    (2L, "DECOMMISSION", false, "host12.rack2"),
    (2L, "DECOMMISSION", false, "host15.rack0"),
    (3L, "MAINTENANCE", false, "host4.rack4"),
    (3L, "MAINTENANCE", false, "host11.rack1"),
    (3L, "MAINTENANCE", false, "host6.rack1"),
    (4L, "MAINTENANCE", false, "host0.rack0"),
    (4L, "MAINTENANCE", false, "host1.rack1"),
    (4L, "MAINTENANCE", false, "host4.rack4"),
    (4L, "MAINTENANCE", false, "host7.rack2"),
    (4L, "MAINTENANCE", false, "host9.rack4"),
    (4L, "MAINTENANCE", false, "host12.rack2"),
    (4L, "MAINTENANCE", false, "host15.rack0"),
    (5L, "MAINTENANCE", true, "host16.rack1"),
    (5L, "MAINTENANCE", true, "host2.rack2"),
    (5L, "MAINTENANCE", true, "host18.rack3"),
    (6L, "RECOMMISSION", false, "host2.rack2"),
    (6L, "RECOMMISSION", false, "host0.rack0"),
    (6L, "RECOMMISSION", false, "nosuch.host"))

  /** export_job_tracker: the Recon export-job tracker snapshot —
    * insertion order, id, state, status, downloads so far. job3 is the
    * only QUEUED job → queue size 1, position 1. */
  val exportJobTrackedRows = Fixture(
    "job_idx", "job_id", "state", "status", "download_count")(
    (1L, "job1", "MISSING", "COMPLETED", 1L),
    (2L, "job2", "UNDER_REPLICATED", "RUNNING", 0L),
    (3L, "job3", "OVER_REPLICATED", "QUEUED", 0L),
    (4L, "job4", "MIS_REPLICATED", "FAILED", 0L),
    (5L, "job5", "EMPTY_MISSING", "COMPLETED", 2L))

  /** export_job_requests: the submit/status/download/cancel batch of
    * [[graft.operators.ReconJobs.exportJobLadder]]. */
  val exportJobRequestRows = Fixture("req_id", "op", "arg")(
    (1L, "SUBMIT", "ALL_REPLICAS_BAD"),
    (2L, "SUBMIT", "MISSING"),
    (3L, "SUBMIT", "UNDER_REPLICATED"),
    (4L, "SUBMIT", "MIS_REPLICATED"),
    (5L, "SUBMIT", "NEGATIVE_SIZE"),
    (6L, "SUBMIT", "ALL_REPLICAS_BAD"),
    (7L, "SUBMIT", "NEGATIVE_SIZE"),
    (8L, "SUBMIT", "BAD_STATE"),
    (9L, "SUBMIT", "REPLICA_MISMATCH"),
    (10L, "STATUS", "job3"),
    (11L, "STATUS", "job2"),
    (12L, "STATUS", "job4"),
    (13L, "STATUS", "job9"),
    (14L, "DOWNLOAD", "job1"),
    (15L, "DOWNLOAD", "job5"),
    (16L, "DOWNLOAD", "job2"),
    (17L, "DOWNLOAD", "job8"),
    (18L, "CANCEL", "job3"),
    (19L, "CANCEL", "job2"),
    (20L, "CANCEL", "job1"),
    (21L, "CANCEL", "job4"),
    (22L, "CANCEL", "job7"))

  /** The container states an export job may be submitted for. */
  val exportJobValidStateRows = Fixture("vstate")(
    "MISSING", "EMPTY_MISSING", "UNDER_REPLICATED", "OVER_REPLICATED",
    "MIS_REPLICATED", "ALL_REPLICAS_BAD", "NEGATIVE_SIZE",
    "REPLICA_MISMATCH")

  /** balancer_requests: the StartContainerBalancer request batch of
    * [[graft.operators.ClusterHealth.balancerAdmin]] — one request per
    * validation rung, then the leader/safemode/running gates and the size
    * cross-checks. */
  val balancerRequestRows = Fixture(
    "req_id", "threshold", "move_gb", "dn_pct", "iterations", "entering_gb",
    "leaving_gb", "interval_min", "move_to", "repl_to", "leader", "safemode",
    "running")(
    (1L, Some(10.0), None, None, None, None, None, None, None, None,
      true, false, false),
    (2L, Some(100.0), None, None, None, None, None, None, None, None,
      true, false, false),
    (3L, Some(-0.1), None, None, None, None, None, None, None, None,
      true, false, false),
    (4L, None, Some(0L), None, None, None, None, None, None, None,
      true, false, false),
    (5L, None, None, Some(101), None, None, None, None, None, None,
      true, false, false),
    (6L, None, None, None, Some(0), None, None, None, None, None,
      true, false, false),
    (7L, None, None, None, Some(-1), None, None, None, None, None,
      true, false, false),
    (8L, None, None, None, None, Some(0L), None, None, None, None,
      true, false, false),
    (9L, None, None, None, None, None, Some(-3L), None, None, None,
      true, false, false),
    (10L, None, None, None, None, None, None, Some(0), None, None,
      true, false, false),
    (11L, None, None, None, None, None, None, None, Some(-1), None,
      true, false, false),
    (12L, None, None, None, None, None, None, None, None, Some(0),
      true, false, false),
    (13L, None, None, None, None, None, None, None, None, None,
      false, false, false),
    (14L, None, None, None, None, None, None, None, None, None,
      true, true, false),
    (15L, None, None, None, None, None, None, None, None, None,
      true, false, true),
    (16L, None, None, None, None, Some(5L), None, None, None, None,
      true, false, false),
    (17L, None, None, None, None, None, Some(4L), None, None, None,
      true, false, false),
    (18L, None, Some(20L), None, None, Some(30L), None, None, None,
      None, true, false, false),
    (19L, None, Some(20L), None, None, Some(10L), Some(25L), None,
      None, None, true, false, false),
    (20L, Some(15.0), Some(600L), Some(50), Some(3), Some(40L),
      Some(40L), Some(60), Some(30), Some(30), true, false, false))

  /** recon_tasks: the Recon task registry (name, lag rank) that
    * [[graft.operators.ClusterHealth.reconTaskStatus]] reports on. */
  val reconTaskRows = Fixture("task_name", "task_idx")(
    ("FileSizeCountTask", 0), ("OmTableInsightTask", 1),
    ("NSSummaryTask", 2), ("ContainerKeyMapperTask", 3),
    ("ContainerHealthTask", 4), ("PipelineSyncTask", 5),
    ("OmDeltaRequest", 6))

  /** snapshot_diff fixture of [[graft.operators.Joins.snapshotDiffJobs]]:
    * the known snapshots, a job table covering every status, and one
    * DIFF and one CANCEL request per pair (unknown snapshots and
    * job-less known pairs included). */
  val snapshotDiffSnapRows = Fixture("snap")("s1", "s2", "s3", "s4", "s5")

  val snapshotDiffJobRows = Fixture("from_snap", "to_snap", "status", "pct")(
    ("s1", "s2", "IN_PROGRESS", 37),
    ("s1", "s3", "DONE", 100),
    ("s2", "s3", "FAILED", 0),
    ("s1", "s4", "CANCELLED", 0),
    ("s2", "s4", "REJECTED", 0),
    ("s3", "s4", "QUEUED", 0))

  val snapshotDiffRequestRows = Fixture(
    "req_id", "op", "from_snap", "to_snap")(
    (1L, "DIFF", "s1", "s2"), (2L, "DIFF", "s1", "s3"),
    (3L, "DIFF", "s2", "s3"), (4L, "DIFF", "s1", "s4"),
    (5L, "DIFF", "s2", "s4"), (6L, "DIFF", "s3", "s4"),
    (7L, "DIFF", "s4", "s5"), (8L, "DIFF", "s1", "s9"),
    (11L, "CANCEL", "s1", "s2"), (12L, "CANCEL", "s1", "s3"),
    (13L, "CANCEL", "s2", "s3"), (14L, "CANCEL", "s1", "s4"),
    (15L, "CANCEL", "s2", "s4"), (16L, "CANCEL", "s3", "s4"),
    (17L, "CANCEL", "s4", "s5"), (18L, "CANCEL", "s9", "s2"))

  /** om_list_requests: the listKeys batch
    * [[graft.operators.Listing.omListMetrics]] replays for the
    * OMPerformanceMetrics gauges. */
  val omListRequestRows = Fixture(
    "req_id", "volume", "bucket", "prefix", "max_keys")(
    (1L, "vol0", "bucket0", "warehouse/A/", 5L),
    (2L, "vol0", "bucket0", "warehouse/", 100000L),
    (3L, "vol1", "bucket3", "warehouse/N/", 50L),
    (4L, "vol2", "bucket5", "warehouse/R", 10L),
    (5L, "vol0", "bucket0", "nonexistent/", 10L))

  /** snapdiff_source_jobs: one job per delta-source gate of
    * [[graft.operators.CompactionDag.snapdiffSourceSelect]] plus the
    * differ-failure fallback. */
  val snapdiffSourceJobRows = Fixture(
    "job_id", "req_force_full", "req_disable_native", "cfg_force_full",
    "cfg_disable_native", "native_loaded", "dag_ok")(
    (1L, false, false, false, false, true, true),
    (2L, true, false, false, false, true, true),
    (3L, false, false, true, false, true, true),
    (4L, false, false, false, false, false, true),
    (5L, false, true, false, false, true, true),
    (6L, false, false, false, false, true, false),
    (7L, false, false, false, true, true, false),
    (8L, true, false, false, false, false, true))

  /** acl_probe_principals: the principals q_acl_probe checks. auditor2
    * is a NON-owner principal — only the name+type+rights match through
    * the acls array can grant it (an owner shortcut would miss it). */
  val aclProbePrincipalRows = Fixture("principal")(
    "clerk1", "clerk3", "auditor2")

  /** pending_deletion_requests: the Recon pending-deletion endpoint calls
    * [[graft.operators.ReconJobs.pendingDeletionDispatch]] answers
    * (limit -1 = absent). */
  val pendingDeletionRequestRows = Fixture("req_id", "component", "limit")(
    (1L, "", -1L), // null component
    (2L, "xyz", -1L),
    (3L, " DN ", 2L),
    (4L, "dn", 0L),
    (5L, "dn", -1L), // null limit → whole list
    (6L, "scm", -1L),
    (7L, "om", -1L),
    (8L, "OM ", 5L), // limit ignored off the dn route
    (9L, " ", -1L)) // whitespace-only: non-empty RAW, invalid after trim
}
