package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Write path as a commit log — the engine's analog of the reference's write
 * RPC dispatch (apache/ozone OzoneManagerRatisUtils.java:150-335: CreateKey,
 * CommitKey, DeleteKey(s), RenameKey(s), CreateSnapshot, ...). Every write
 * reduces to KV-level PUT(key, row)/DELETE(key) records with a total seq
 * order (the Ratis log); a snapshot is just a (name, seq) pointer
 * (SnapshotInfo), and reading any snapshot is a latest-op-wins fold of the
 * log up to its seq — the same semantics RocksDB gives the reference.
 *
 * Scale design: [[applyAt]] is ONE window over (volume, bucket, key) — a
 * single shuffle on the namespace key with map-side WindowGroupLimit
 * pruning, pre-filterable by seq; no per-op driver loop, no iterative
 * reconciliation. Snapshot diff reuses the
 * object_id full-outer join of [[Joins.snapshotDiff]] on two folded states.
 */
object CommitLog {

  /**
   * Deterministic synthetic write workload over the namespace (the
   * fixture's stand-in for live write RPCs). After the create flood, the
   * post-snapshot churn touches only the CHURN SCOPE — keys whose orderkey
   * ends in 0 (object_id DIV 10 % 10 == 0), ~10% of the namespace — the
   * realistic regime where a delta-pruned snapshot diff beats re-folding
   * full states. Per churned key, keyed by version v (== linenumber):
   *   - every key:        PUT  @seq 1 (create)
   *   - v ∈ {3, 6}:       PUT  @seq 2 with doubled size (overwrite/commit)
   *   - v == 4:           DELETE @seq 3 (delete)
   *   - v == 5:           DELETE @seq 3 + PUT key||'.mv' @seq 4 (rename)
   * Seq bands give the log its total order; duplicate fixture rows for the
   * same key tie-break deterministically inside the fold (size desc).
   * Which keys the log deletes is declared once, by [[churned]] and
   * [[isDeleted]]; its DELETE rows are [[deletedKeys]].
   */
  def synthesizeLog(objects: DataFrame): DataFrame = {
    // Four pushdown-filtered scans, NOT a per-row generator: an A/B of
    // the generator forms (all-rows and churn-only) at the 10× probe scale
    // found warm parity at best, and the generator's per-row
    // array/struct allocation degrades badly under JVM memory pressure
    // (55-65 s first-run outliers vs a stable 13-20 s here). The branch
    // scans 2-4 push `version`+churn predicates into the source, so their
    // IO is ~10% of the namespace each, not full re-reads.
    val base = objects.select(
      col("volume"), col("bucket"), col("key"), col("object_id"),
      col("container_id"), col("data_size"), col("version"))
    val creates = base.select(lit(1L).as("seq"), lit("PUT").as("op"),
      col("volume"), col("bucket"), col("key"), col("object_id"),
      col("container_id"), col("data_size"))
    val overwrites = base
      .filter((col("version") === 3 || col("version") === 6) && churned)
      .select(lit(2L).as("seq"), lit("PUT").as("op"),
        col("volume"), col("bucket"), col("key"), col("object_id"),
        col("container_id"), (col("data_size") * 2).as("data_size"))
    val renames = base.filter(col("version") === 5 && churned)
      .select(lit(4L).as("seq"), lit("PUT").as("op"),
        col("volume"), col("bucket"),
        concat(col("key"), lit(".mv")).as("key"), col("object_id"),
        col("container_id"), col("data_size"))
    creates.unionByName(overwrites).unionByName(deletedKeys(base))
      .unionByName(renames)
  }

  /** The churn scope: keys whose orderkey ends in 0, ~10% of the namespace. */
  def churned: Column = expr("(object_id DIV 10) % 10") === 0

  /** The keys the log deletes: churn-scope versions 4 (deleted) and 5
    * (renamed away). Over the key table, with its replicated_size, this is
    * the deletedTable population Recon sums. */
  def isDeleted: Column =
    (col("version") === 4 || col("version") === 5) && churned

  /** The log's DELETE rows, one per deleted key row (seq 3). */
  def deletedKeys(objects: DataFrame): DataFrame =
    objects.filter(isDeleted)
      .select(lit(3L).as("seq"), lit("DELETE").as("op"),
        col("volume"), col("bucket"), col("key"), col("object_id"),
        col("container_id"), col("data_size"))

  /**
   * Snapshot write ops (the CreateSnapshot / DeleteSnapshot requests of the
   * reference's write dispatch, OMDBDefinition.java:302-307
   * snapshotInfoTable): the catalog workload. A temp snapshot is created
   * and deleted to exercise the delete path; the survivors are the s1/s2
   * pair every diff query resolves through the catalog.
   */
  val SnapshotOps: Seq[(String, String, Long)] = Seq(
    ("CREATE", "s1", 1L), ("CREATE", "tmp", 2L),
    ("CREATE", "s2", 4L), ("DELETE", "tmp", 2L))

  /** Live snapshots after folding the op stream — the snapshot chain. The
    * fold is driver-side: the op stream is control-plane-tiny (one row per
    * snapshot op), like the reference's in-memory snapshot chain. */
  def snapshotChain: Seq[(String, Long)] =
    SnapshotOps.foldLeft(Vector.empty[(String, Long)]) {
      case (acc, ("CREATE", n, s)) => acc :+ (n -> s)
      case (acc, ("DELETE", n, _)) => acc.filterNot(_._1 == n)
      case (acc, _) => acc
    }

  /** Snapshot pointers (SnapshotInfo table): name → last included seq.
    * Derived from the op fold, not hardcoded. */
  def Snapshots: Seq[(String, Long)] = snapshotChain

  /** snapshot_info catalog rows: one per live snapshot with its state
    * stats — what listSnapshots / getSnapshotInfo read. */
  def snapshotInfo(objects: DataFrame): DataFrame = {
    val log = synthesizeLog(objects)
    snapshotChain.map { case (name, seq) =>
      applyAt(log, seq).agg(
          count(lit(1)).as("num_keys"),
          sum("data_size").cast("long").as("total_bytes"))
        .select(lit(name).as("name"), lit(seq).as("seq"),
          col("num_keys"), col("total_bytes"))
    }.reduce(_ unionByName _).orderBy("name")
  }

  /** Materialize table state as-of `maxSeq`: latest-op-wins per key (one
    * window = one shuffle), keeping only keys whose last op is a PUT. */
  def applyAt(log: DataFrame, maxSeq: Long): DataFrame = {
    // row_number()=1 deliberately: Spark's WindowGroupLimit rewrite prunes
    // to one candidate per key on the MAP side before the shuffle (measured
    // faster than max_by, whose struct buffer forces SortAggregate)
    val w = Window.partitionBy("volume", "bucket", "key")
      .orderBy(col("seq").desc, col("data_size").desc)
    log.filter(col("seq") <= maxSeq)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") === "PUT")
      .select("volume", "bucket", "key", "object_id", "data_size")
  }

  /** Final applied state, totally ordered (the read view after all writes). */
  def appliedState(objects: DataFrame): DataFrame =
    applyAt(synthesizeLog(objects), Snapshots.last._2)
      .orderBy("volume", "bucket", "key", "data_size")

  /** Verification dual of [[appliedState]]: the same latest-op-wins fold
    * expressed as a hash AGGREGATE (max_by keyed (seq, data_size) — the
    * window dual's exact tie order) instead of the row_number window. The
    * two plans resolve winners through disjoint execution paths
    * (WindowGroupLimit sort-prune vs max_by aggregate buffers), so
    * canon-equality against [[appliedState]] is evidence of the ANSWER,
    * not just the cost — an overflow / partition-boundary /
    * tie-ambiguity class bug would have to hit both plans identically to
    * pass. Spec-gated at fixture scale (CommitLogSpec). */
  def appliedStateAggDual(objects: DataFrame): DataFrame = {
    val log = synthesizeLog(objects)
    log.filter(col("seq") <= Snapshots.last._2)
      .groupBy("volume", "bucket", "key")
      .agg(max_by(
        struct(col("op"), col("object_id"), col("data_size")),
        struct(col("seq"), col("data_size"))).as("__w"))
      .filter(col("__w.op") === "PUT")
      .select(col("volume"), col("bucket"), col("key"),
        col("__w.object_id").as("object_id"),
        col("__w.data_size").as("data_size"))
      .orderBy("volume", "bucket", "key", "data_size")
  }

  /** One row per object_id (snapshot-read invariant; deterministic
    * representative: max size, then key) — same rule as Tables' snapshots.
    * row_number()=1 gets Spark's map-side WindowGroupLimit pruning. */
  private def dedupByObjectId(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("object_id")
      .orderBy(col("data_size").desc, col("key"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * RenameKeys batch decisions — OMKeysRenameRequest.java:135-223, the
   * per-key branch order evaluated for every request in one pass:
   *   - empty from/to name → EMPTY_NAME, not applied;
   *   - destination already exists → DEST_EXISTS, marked un-renamed BUT
   *     the rename still applies (the reference records the failure and
   *     then falls through to overwrite the destination — there is no
   *     `continue` on that branch, :173-181 vs :186-193);
   *   - source missing → SRC_MISSING (with DEST_EXISTS_AND_SRC_MISSING
   *     when both fire — the reference adds the key to unRenamedKeys
   *     twice);
   *   - otherwise → RENAMED.
   * The batch (one per bucket) reports OK only when nothing failed, else
   * PARTIAL_RENAME — the reference's renameStatus fold. ACL denial is
   * covered by the ACL probe family, not re-modeled here.
   *
   * Scale shape: two existence probes against the namespace key set, both
   * equi-joins on the full (volume, bucket, key) prefix — they co-shuffle
   * with the request batch; the batch verdict is one window over the
   * bucket.
   */
  def renameKeysDecisions(requests: DataFrame,
                          objects: DataFrame): DataFrame = {
    val keys = objects.select("volume", "bucket", "key").distinct()
    val fromProbe = keys
      .withColumnRenamed("key", "from_key")
      .withColumn("from_exists", lit(true))
    val toProbe = keys
      .withColumnRenamed("key", "to_key")
      .withColumn("to_exists", lit(true))
    val decided = requests
      .join(fromProbe, Seq("volume", "bucket", "from_key"), "left")
      .join(toProbe, Seq("volume", "bucket", "to_key"), "left")
      .withColumn("decision",
        when(col("from_key") === "" || col("to_key") === "",
          lit("EMPTY_NAME"))
          .when(coalesce(col("to_exists"), lit(false)) &&
            !coalesce(col("from_exists"), lit(false)),
            lit("DEST_EXISTS_AND_SRC_MISSING"))
          .when(coalesce(col("to_exists"), lit(false)), lit("DEST_EXISTS"))
          .when(!coalesce(col("from_exists"), lit(false)),
            lit("SRC_MISSING"))
          .otherwise(lit("RENAMED")))
      // the reference applies the rename on DEST_EXISTS despite marking it
      // failed — `applied` records what actually changed in the key table
      .withColumn("applied",
        col("decision") === "RENAMED" || col("decision") === "DEST_EXISTS")
    decided
      .withColumn("batch_status",
        when(max(when(col("decision") =!= "RENAMED", 1L).otherwise(0L))
          .over(Window.partitionBy("volume", "bucket")) > 0,
          lit("PARTIAL_RENAME")).otherwise(lit("OK")))
      .select("volume", "bucket", "from_key", "to_key", "decision",
        "applied", "batch_status")
      .orderBy("volume", "bucket", "from_key", "to_key")
  }

  /**
   * DeleteKey request decisions — the FSO delete ladder in reference
   * branch order (OMKeyDeleteRequestWithFSO.java:103-150): bucket lookup
   * (validateBucketAndVolume) → path resolution (file? directory? neither
   * → KEY_NOT_FOUND) → a directory must have no children
   * (OMKeyDeleteRequestWithFSO.java:141-146 → DIRECTORY_NOT_EMPTY) → an
   * empty dir deletes as a dir (DELETED_DIR, → deletedDirTable), a file
   * as a file (DELETED_FILE, → deletedTable). Emptiness is COMPUTED (any
   * namespace entry strictly under the path), never assumed from the
   * catalog shape, so callers with genuinely empty dirs classify right.
   *
   * Scale shape: the protocol-sized request batch broadcasts into every
   * probe — file/dir existence is one [[Hierarchy.pathProbe]], the child
   * count is one prefix-filtered scan grouped by the requested dir. The
   * namespace never shuffles; every post-probe join is request-sized.
   */
  def keyDeleteDecisions(requests: DataFrame, objects: DataFrame,
                         buckets: DataFrame, dirs: DataFrame): DataFrame = {
    val reqKeys = requests.select("volume", "bucket", "key").distinct()
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumn("bkt_exists", lit(true))
    val children = objects
      .join(broadcast(reqKeys.withColumnRenamed("key", "dir")),
        Seq("volume", "bucket"))
      .filter(col("key").startsWith(concat(col("dir"), lit("/"))))
      .groupBy(col("volume"), col("bucket"), col("dir").as("key"))
      .agg(count(lit(1)).as("n_children"))
    requests
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .join(broadcast(Hierarchy.pathProbe(reqKeys, objects, dirs)),
        Seq("volume", "bucket", "key"), "left")
      .join(broadcast(children), Seq("volume", "bucket", "key"), "left")
      .withColumn("decision",
        when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(coalesce(col("is_dir"), lit(false)) &&
            coalesce(col("n_children"), lit(0L)) > 0,
            lit("DIRECTORY_NOT_EMPTY"))
          .when(coalesce(col("is_dir"), lit(false)), lit("DELETED_DIR"))
          .when(coalesce(col("is_file"), lit(false)), lit("DELETED_FILE"))
          .otherwise(lit("KEY_NOT_FOUND")))
      .select("volume", "bucket", "key", "decision")
      .orderBy("volume", "bucket", "key")
  }

  /**
   * FSO single-key rename ladder (OMKeyRenameRequestWithFSO
   * .validateAndUpdateCache:95-210 + OMFileRequest
   * .verifyToDirIsASubDirOfFromDirectory:788-803 / getKeyParentDir:
   * 821-845), in reference branch order:
   *   1. empty source name (checked before even the bucket lock)
   *      → INVALID_KEY_NAME
   *   2. validateBucketAndVolume → BUCKET_NOT_FOUND
   *   3. source path resolves to neither file nor dir → KEY_NOT_FOUND
   *   4. source is an hsync'ed open file → RENAME_OPEN_FILE
   *   5. renaming a DIRECTORY to its own subtree (the dst's parent chain
   *      contains the src) → RENAME_ERROR_SUBDIR (KEY_RENAME_ERROR)
   *   6. destination exists:
   *      a. dst == src and src is a file → SELF_NOOP (SUCCESS, no write)
   *      b. dst == src and src is a dir  → KEY_ALREADY_EXISTS
   *      c. dst is a dir → the source moves UNDER it as
   *         dst/basename(src); if that path already exists
   *         → KEY_ALREADY_EXISTS, else → RENAMED_INTO_DIR
   *      d. dst is a file → KEY_ALREADY_EXISTS
   *   7. destination missing: its immediate parent must exist as a dir
   *      (root-level dsts exempt) → RENAME_ERROR_PARENT
   *      (KEY_RENAME_ERROR), else → RENAMED.
   * UpdateID preconditions (:124-129) are not modeled — the catalog
   * carries no client-supplied expected-updateID.
   *
   * hsync model: a key is an hsync'ed open file iff its LATEST version
   * ≡ 0 (mod 3) — the rename probes the committed key's metadata
   * (OmKeyInfo.isHsync), so the flag derives from the winning version.
   *
   * Scale shape: each request's four paths (src, dst, dst's parent,
   * dst/basename(src)) resolve through one [[Hierarchy.pathProbe]]; one
   * request-sized groupBy folds the roles into flags. The namespace never
   * shuffles.
   */
  def fsoRenameDecisions(requests: DataFrame, objects: DataFrame,
                         buckets: DataFrame, dirs: DataFrame): DataFrame = {
    def role(name: String, key: Column) =
      struct(lit(name).as("role"), key.as("key"))
    val roles = requests
      .withColumn("r", explode(array(
        role("src", col("src_key")),
        role("dst", col("to_key")),
        role("dst_parent", Aggregates.parentDirOf("to_key")),
        role("new_to", concat(col("to_key"), lit("/"),
          element_at(split(col("src_key"), "/"), -1))))))
      .select(col("req_id"), col("volume"), col("bucket"), col("src_key"),
        col("to_key"), col("r.role").as("role"), col("r.key").as("key"))
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumn("bkt_exists", lit(true))
    val exists = col("is_file") || col("is_dir")
    roles
      .join(broadcast(Hierarchy.pathProbe(roles, objects, dirs)),
        Seq("volume", "bucket", "key"), "left")
      .groupBy("req_id", "volume", "bucket", "src_key", "to_key")
      .agg(Hierarchy.roleFlag("src", col("is_file")).as("src_is_file"),
        Hierarchy.roleFlag("src", col("is_dir")).as("src_is_dir"),
        // the hsync flag derives from the winning (latest) version
        Hierarchy.roleFlag("src", col("latest_version") % 3 === 0)
          .as("src_hsync"),
        Hierarchy.roleFlag("dst", col("is_file")).as("dst_is_file"),
        Hierarchy.roleFlag("dst", exists).as("dst_exists"),
        Hierarchy.roleFlag("dst", col("is_dir")).as("dst_is_dir"),
        Hierarchy.roleFlag("dst_parent", col("is_dir")).as("parent_is_dir"),
        Hierarchy.roleFlag("new_to", exists).as("newto_exists"))
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .withColumn("decision",
        when(col("src_key") === "", lit("INVALID_KEY_NAME"))
          .when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(!col("src_is_file") && !col("src_is_dir"),
            lit("KEY_NOT_FOUND"))
          .when(col("src_is_file") && !col("src_is_dir") &&
            col("src_hsync"), lit("RENAME_OPEN_FILE"))
          .when(col("src_is_dir") &&
            col("to_key").startsWith(concat(col("src_key"), lit("/"))),
            lit("RENAME_ERROR_SUBDIR"))
          .when(col("dst_exists") && col("to_key") === col("src_key") &&
            col("dst_is_file"), lit("SELF_NOOP"))
          .when(col("dst_exists") && col("to_key") === col("src_key"),
            lit("KEY_ALREADY_EXISTS"))
          .when(col("dst_is_dir") && col("newto_exists"),
            lit("KEY_ALREADY_EXISTS"))
          .when(col("dst_is_dir"), lit("RENAMED_INTO_DIR"))
          .when(col("dst_exists"), lit("KEY_ALREADY_EXISTS"))
          .when(size(split(col("to_key"), "/")) > 1 &&
            !col("parent_is_dir"), lit("RENAME_ERROR_PARENT"))
          .otherwise(lit("RENAMED")))
      .select("req_id", "volume", "bucket", "src_key", "to_key", "decision")
      .orderBy("req_id")
  }

  /**
   * CreateSnapshot validation ladder (OMSnapshotCreateRequest): snapshot
   * name through the strict resource-name rules
   * (OMSnapshotCreateRequest.java:107 → OmUtils.validateSnapshotName:744 →
   * verifyResourceName strict) → bucket-link resolution BEFORE any other
   * check (the snapshot lands on the SOURCE bucket,
   * OMSnapshotCreateRequest.java:110-112 resolveBucketLink; a dangling
   * chain is a missing bucket, a loop refuses outright) → owner-or-admin
   * permission (OMSnapshotCreateRequest.java:116-123; owner approximated
   * by the resolved VOLUME owner — buckets carry no separate owner in
   * this catalog) → name collision against the live snapshot chain on the
   * RESOLVED bucket (OMSnapshotCreateRequest.java:166-169,
   * FILE_ALREADY_EXISTS) → CREATED, reporting the resolved target.
   *
   * Scale shape: links/buckets/volumes/snapshot-chain probes are all
   * control-plane catalogs broadcast into the request batch.
   */
  def snapshotCreateDecisions(requests: DataFrame, buckets: DataFrame,
                              links: Seq[Links.LinkRow], volumes: DataFrame,
                              snapshots: DataFrame,
                              admins: Seq[String] = Seq("om-admin"))
      : DataFrame = {
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumnRenamed("volume", "rv").withColumnRenamed("bucket", "rb")
      .withColumn("bkt_exists", lit(true))
    val ownerProbe = volumes.select(col("volume").as("rv"),
      col("owner").as("vol_owner"))
    val snapProbe = snapshots.select(col("volume").as("rv"),
      col("bucket").as("rb"), col("name").as("snapshot_name"),
      lit(true).as("snap_exists"))
    Links.stageLinkTargets(requests, links, buckets)
      .join(broadcast(bktProbe), Seq("rv", "rb"), "left")
      .join(broadcast(ownerProbe), Seq("rv"), "left")
      .join(broadcast(snapProbe), Seq("rv", "rb", "snapshot_name"), "left")
      .withColumn("decision",
        when(!BucketOps.nameValid(col("snapshot_name")),
          lit("INVALID_SNAPSHOT_NAME"))
          .when(col("link_status") === "CYCLE", lit("LINK_LOOP"))
          .when(col("link_status") === "DANGLING" ||
            col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("principal") =!= col("vol_owner") &&
            !col("principal").isin(admins: _*), lit("PERMISSION_DENIED"))
          .when(coalesce(col("snap_exists"), lit(false)),
            lit("FILE_ALREADY_EXISTS"))
          .otherwise(lit("CREATED")))
      .select(col("req_id"), col("snapshot_name"),
        col("rv").as("resolved_volume"), col("rb").as("resolved_bucket"),
        col("decision"))
      .orderBy("req_id")
  }

  /**
   * RenameSnapshot validation ladder (OMSnapshotRenameRequest.java):
   * preExecute validates ONLY the new name (:87 validateSnapshotName) →
   * bucket-link resolution (:93, the rename lands on the SOURCE bucket;
   * dangling chain = missing bucket, loop refuses) → owner-or-admin
   * permission (:101-107) → then validateAndUpdateCache probes the NEW
   * name for a collision BEFORE looking the old one up (:171 vs :180 —
   * so old-missing+new-exists reports FILE_ALREADY_EXISTS, and a
   * self-rename collides with itself) → old absent → FILE_NOT_FOUND
   * (:184) → old in any non-ACTIVE status (SNAPSHOT_DELETED pending
   * reclamation still occupies its name in snapshotInfoTable) →
   * FILE_NOT_FOUND (:188-197) → RENAMED.
   *
   * Scale shape: identical to [[snapshotCreateDecisions]] — every probe
   * (links, buckets, volume owners, snapshot catalog) is a control-plane
   * dimension broadcast into the request-batch scan; no shuffle.
   */
  def snapshotRenameDecisions(requests: DataFrame, buckets: DataFrame,
                              links: Seq[Links.LinkRow], volumes: DataFrame,
                              snapshotsExt: DataFrame,
                              admins: Seq[String] = Seq("om-admin"))
      : DataFrame = {
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumnRenamed("volume", "rv").withColumnRenamed("bucket", "rb")
      .withColumn("bkt_exists", lit(true))
    val ownerProbe = volumes.select(col("volume").as("rv"),
      col("owner").as("vol_owner"))
    // a SNAPSHOT_DELETED entry still occupies its name for the collision
    // check — probe existence over EVERY status, but carry status for
    // the old-name rung
    val newProbe = snapshotsExt.select(col("volume").as("rv"),
      col("bucket").as("rb"), col("name").as("new_name"),
      lit(true).as("new_exists"))
    val oldProbe = snapshotsExt.select(col("volume").as("rv"),
      col("bucket").as("rb"), col("name").as("old_name"),
      col("status").as("old_status"))
    Links.stageLinkTargets(requests, links, buckets)
      .join(broadcast(bktProbe), Seq("rv", "rb"), "left")
      .join(broadcast(ownerProbe), Seq("rv"), "left")
      .join(broadcast(newProbe), Seq("rv", "rb", "new_name"), "left")
      .join(broadcast(oldProbe), Seq("rv", "rb", "old_name"), "left")
      .withColumn("decision",
        when(!BucketOps.nameValid(col("new_name")),
          lit("INVALID_SNAPSHOT_NAME"))
          .when(col("link_status") === "CYCLE", lit("LINK_LOOP"))
          .when(col("link_status") === "DANGLING" ||
            col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("principal") =!= col("vol_owner") &&
            !col("principal").isin(admins: _*), lit("PERMISSION_DENIED"))
          .when(coalesce(col("new_exists"), lit(false)),
            lit("FILE_ALREADY_EXISTS"))
          .when(col("old_status").isNull ||
            col("old_status") =!= "SNAPSHOT_ACTIVE", lit("FILE_NOT_FOUND"))
          .otherwise(lit("RENAMED")))
      .select(col("req_id"), col("old_name"), col("new_name"),
        col("rv").as("resolved_volume"), col("rb").as("resolved_bucket"),
        col("decision"))
      .orderBy("req_id")
  }

  /**
   * Batch DeleteKeys ladder (OMKeysDeleteRequest.java — the multi-key
   * OBS/LEGACY delete, one request per bucket):
   *   1. presented updateIDs count != keys count → the whole request
   *      throws INVALID_REQUEST BEFORE any bucket work (:166-170); the
   *      catch then files EVERY key as INTERNAL_ERROR (:277-281)
   *   2. bucket/volume validation after link resolve (:173-184) — a
   *      missing bucket likewise fails the whole batch, per-key
   *      INTERNAL_ERROR with the request status carrying the real code
   *   3. per key, visited in request order: absent → KEY_NOT_FOUND
   *      (:195-201), presented updateID null-or-mismatch →
   *      UPDATE_ID_NOT_MATCH (:204-215, only when updateIDs were
   *      presented at all), DELETE-ACL failure → ACCESS_DENIED
   *      (:222-235), else DELETED
   *   4. request status: every key deleted → OK, else PARTIAL_DELETE
   *      (:286 deleteStatus → Status.PARTIAL_DELETE).
   * The ACL model matches the engine's other key ladders: the caller
   * must be the key's owner or the volume admin.
   *
   * Scale shape: the stored-key probe left-semi-restricts the namespace
   * scan to the batch's keys before any join; the per-request status
   * rollup is batch-sized and broadcast back — the big side never
   * shuffles.
   */
  def keysDeleteBatchDecisions(requestKeys: DataFrame, objects: DataFrame,
                               buckets: DataFrame): DataFrame = {
    val stored = objects
      .join(broadcast(requestKeys.select("volume", "bucket", "key")
        .distinct()), Seq("volume", "bucket", "key"), "left_semi")
      .groupBy("volume", "bucket", "key")
      .agg(max("version").as("__stored_uid"),
        min("owner").as("__key_owner"))
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumn("bkt_exists", lit(true))
    val perKey = requestKeys
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .join(broadcast(stored), Seq("volume", "bucket", "key"), "left")
      .withColumn("__is_admin", col("caller") ===
        concat(lit("admin"), substring(col("volume"), 4, 10)))
      .withColumn("key_decision",
        when(col("ids_mismatch"), lit("INTERNAL_ERROR"))
          .when(col("bkt_exists").isNull, lit("INTERNAL_ERROR"))
          .when(col("__stored_uid").isNull, lit("KEY_NOT_FOUND"))
          .when(col("presented_update_id") =!= -1L &&
            col("presented_update_id") =!= col("__stored_uid"),
            lit("UPDATE_ID_NOT_MATCH"))
          .when(col("caller") =!= col("__key_owner") &&
            !col("__is_admin"), lit("ACCESS_DENIED"))
          .otherwise(lit("DELETED")))
    val status = perKey.groupBy("req_id")
      .agg(max(col("ids_mismatch")).as("__mis"),
        max(col("bkt_exists").isNull).as("__nobkt"),
        max(col("key_decision") =!= "DELETED").as("__any_fail"))
      .select(col("req_id"),
        when(col("__mis"), lit("INVALID_REQUEST"))
          .when(col("__nobkt"), lit("BUCKET_NOT_FOUND"))
          .when(col("__any_fail"), lit("PARTIAL_DELETE"))
          .otherwise(lit("OK")).as("request_status"))
    perKey.join(broadcast(status), Seq("req_id"))
      .select(col("req_id"), col("volume"), col("bucket"), col("key"),
        col("key_decision"), col("request_status"))
      .orderBy("req_id", "key")
  }

  /**
   * DeleteSnapshot validation ladder (OMSnapshotDeleteRequest.java):
   * preExecute validates the name FIRST (:82 validateSnapshotName — the
   * legacy chain names s1/s2 fail the strict rules on deletion too, a
   * truthful artifact shared with the create/rename ladders) → bucket
   * link resolution (:88-90, the delete lands on the SOURCE bucket;
   * dangling = missing bucket, loop refuses) → owner-or-admin permission
   * (:94-101 PERMISSION_DENIED) → then validateAndUpdateCache: snapshot
   * absent → FILE_NOT_FOUND (:166), SNAPSHOT_DELETED "already deleted,
   * pending reclamation" → FILE_NOT_FOUND (:170-172), any other
   * non-active state → FILE_NOT_FOUND (:174-178), SNAPSHOT_ACTIVE →
   * DELETED (status flip + deletion timestamp). The reason column splits
   * the three FILE_NOT_FOUND rungs.
   *
   * Scale shape: identical to [[snapshotCreateDecisions]] — every probe
   * is a control-plane dimension broadcast into the request batch.
   */
  def snapshotDeleteDecisions(requests: DataFrame, buckets: DataFrame,
                              links: Seq[Links.LinkRow], volumes: DataFrame,
                              snapshotsExt: DataFrame,
                              admins: Seq[String] = Seq("om-admin"))
      : DataFrame = {
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumnRenamed("volume", "rv").withColumnRenamed("bucket", "rb")
      .withColumn("bkt_exists", lit(true))
    val ownerProbe = volumes.select(col("volume").as("rv"),
      col("owner").as("vol_owner"))
    val snapProbe = snapshotsExt.select(col("volume").as("rv"),
      col("bucket").as("rb"), col("name").as("snapshot_name"),
      col("status").as("snap_status"))
    Links.stageLinkTargets(requests, links, buckets)
      .join(broadcast(bktProbe), Seq("rv", "rb"), "left")
      .join(broadcast(ownerProbe), Seq("rv"), "left")
      .join(broadcast(snapProbe), Seq("rv", "rb", "snapshot_name"), "left")
      .select(col("req_id"), col("snapshot_name"),
        col("rv").as("resolved_volume"), col("rb").as("resolved_bucket"),
        when(!BucketOps.nameValid(col("snapshot_name")),
          lit("INVALID_SNAPSHOT_NAME"))
          .when(col("link_status") === "CYCLE", lit("LINK_LOOP"))
          .when(col("link_status") === "DANGLING" ||
            col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("principal") =!= col("vol_owner") &&
            !col("principal").isin(admins: _*), lit("PERMISSION_DENIED"))
          .when(col("snap_status").isNull, lit("FILE_NOT_FOUND"))
          .when(col("snap_status") =!= "SNAPSHOT_ACTIVE",
            lit("FILE_NOT_FOUND"))
          .otherwise(lit("DELETED")).as("decision"),
        when(!BucketOps.nameValid(col("snapshot_name")) ||
          col("link_status") === "CYCLE" ||
          col("link_status") === "DANGLING" ||
          col("bkt_exists").isNull, lit(""))
          .when(col("principal") =!= col("vol_owner") &&
            !col("principal").isin(admins: _*), lit(""))
          .when(col("snap_status").isNull, lit("NOT_FOUND"))
          .when(col("snap_status") === "SNAPSHOT_DELETED",
            lit("ALREADY_DELETED"))
          .when(col("snap_status") =!= "SNAPSHOT_ACTIVE",
            lit("NOT_ACTIVE"))
          .otherwise(lit("")).as("reason"))
      .orderBy("req_id")
  }

  /**
   * SetSnapshotProperty ladder (OMSnapshotSetPropertyRequest
   * .validateAndUpdateCache:122-170): an IN-BATCH duplicate snapshot key
   * refuses with INVALID_REQUEST (:134-138, checked as each request is
   * visited — so a duplicate of a MISSING key still reports the
   * duplicate, not FILE_NOT_FOUND); an absent snapshot →
   * FILE_NOT_FOUND (:151-155); else UPDATED. The reference never checks
   * snapshot STATUS here — a SNAPSHOT_DELETED entry pending reclamation
   * accepts property updates (deep-clean flags / exclusive sizes are
   * exactly what the reclamation services write).
   *
   * Scale shape: the batch is protocol-sized; the dup probe is one window
   * over the batch's own key, the existence probe one broadcast join.
   */
  def snapshotSetPropertyDecisions(requests: DataFrame,
                                   snapshotsExt: DataFrame): DataFrame = {
    val snapProbe = snapshotsExt.select(col("volume"), col("bucket"),
      col("name"), lit(true).as("__snap_exists"))
    val wKey = Window.partitionBy("volume", "bucket", "name")
      .orderBy("req_id")
    requests
      .withColumn("__occurrence", row_number().over(wKey))
      .join(broadcast(snapProbe), Seq("volume", "bucket", "name"), "left")
      .select(col("req_id"), col("volume"), col("bucket"), col("name"),
        col("property"),
        when(col("__occurrence") > 1, lit("INVALID_REQUEST"))
          .when(col("__snap_exists").isNull, lit("FILE_NOT_FOUND"))
          .otherwise(lit("UPDATED")).as("decision"))
      .orderBy("req_id")
  }

  /**
   * SnapshotPurge chain relink (OMSnapshotPurgeRequest:97-140 +
   * SnapshotChainManager.deleteSnapshot:375-379): purging a snapshot
   * splices it out of BOTH chains — the next global snapshot inherits
   * the purged one's globalPreviousSnapshotId (:240) and the next
   * path-chain (bucket) snapshot inherits its pathPreviousSnapshotId
   * (:230). Purges apply IN SEQUENCE inside one batch (:66-68), so
   * purging adjacent snapshots relinks TRANSITIVELY: the survivor's new
   * previous is its nearest non-purged ancestor — which in chain order
   * is simply the previous surviving element. A purge naming an unknown
   * / already-purged snapshot is a WARN no-op (:109-111), changing
   * nothing.
   *
   * Scale shape: the snapshot chain is control-plane-sized (one row per
   * snapshot); the survivor windows run on that tiny frame.
   */
  def snapshotPurgeRelink(chain: DataFrame,
                          purgeNames: Seq[String]): DataFrame = {
    val marked = chain.withColumn("purged",
      col("name").isin(purgeNames: _*))
    val wG = Window.partitionBy(lit(0)).orderBy("global_idx")
    val wP = Window.partitionBy("volume", "bucket").orderBy("global_idx")
    val survivors = marked.filter(!col("purged"))
      .withColumn("new_global_prev",
        coalesce(lag("name", 1).over(wG), lit("")))
      .withColumn("new_path_prev",
        coalesce(lag("name", 1).over(wP), lit("")))
      .select(col("name"), col("volume"), col("bucket"),
        col("global_idx"), lit("RETAINED").as("status"),
        col("new_global_prev"), col("new_path_prev"))
    val purged = marked.filter(col("purged"))
      .select(col("name"), col("volume"), col("bucket"),
        col("global_idx"), lit("PURGED").as("status"),
        lit("").as("new_global_prev"), lit("").as("new_path_prev"))
    survivors.unionByName(purged).orderBy("global_idx")
  }

  /** deletedTable view (ref OMDBDefinition deletedTable, RepeatedOmKeyInfo:
    * a key can accumulate SEVERAL deleted versions): every key with DELETE
    * events in the log, with version count + reclaimable bytes. */
  def trashList(objects: DataFrame): DataFrame =
    deletedKeys(objects)
      .groupBy("volume", "bucket", "key")
      .agg(count(lit(1)).as("n_deleted"),
        sum("data_size").as("reclaim_bytes"))
      .orderBy("volume", "bucket", "key")

  /** Reachability check deleted ∩ referenced (ref block-deletion safety /
    * FSORepairTool shape): deleted keys whose container is still live —
    * blocks pending reclaim that a container scan must not drop. Broadcast
    * semi-join against the (small) live-container set. */
  def deletedButReferenced(objects: DataFrame, containersScm: DataFrame): DataFrame = {
    val deleted = deletedKeys(objects)
    val live = containersScm.filter(col("state") =!= "DELETED")
      .select("container_id")
    deleted.join(broadcast(live), Seq("container_id"), "left_semi")
      .select("volume", "bucket", "key", "object_id", "container_id", "data_size")
      .orderBy("volume", "bucket", "key", "object_id", "data_size")
  }

  /** Snapshot diff computed by folding the FULL log to both versions — the
    * reference full-walk fallback (SnapshotDiffManager.java:1397-1469).
    * Kept as the verification oracle for [[snapshotDiffDelta]]; the
    * declared query uses the delta path. */
  def snapshotDiffFromLog(objects: DataFrame): DataFrame = {
    val log = synthesizeLog(objects)
    val s1 = dedupByObjectId(applyAt(log, Snapshots.head._2))
    val s2 = dedupByObjectId(applyAt(log, Snapshots.last._2))
    Joins.snapshotDiff(s1, s2)
  }

  // ---- materialized checkpoints + log-slice delta diff ---------------------

  /**
   * Materialize the commit log (seq-range-sorted parquet, so a delta slice
   * is a row-group-pruned scan) and each live snapshot's folded checkpoint
   * state ONCE per (JVM, source dir) — the engine's dual of the reference's
   * RocksDB checkpoints. Stores only paths; every session resolves each
   * table once ([[graft.core.TempDirs.read]]). Returns the warehouse dir.
   */
  def snapshotWarehouse(spark: SparkSession, objects: DataFrame,
                        dir: String): String =
    graft.core.TempDirs.artifact("snap", dir) { out =>
      synthesizeLog(objects)
        .repartitionByRange(8, col("seq"))
        .sortWithinPartitions("seq", "volume", "bucket", "key")
        .write.mode("overwrite").parquet(s"$out/log")
      val logDf = spark.read.parquet(s"$out/log")
      snapshotChain.foreach { case (name, seq) =>
        applyAt(logDf, seq).write.mode("overwrite").parquet(s"$out/state_$name")
      }
    }

  /**
   * Log-slice snapshot diff: fold ONLY the records with
   * `seqFrom < seq <= seqTo` and merge them against the FROM checkpoint —
   * O(|delta|) work plus a broadcast-probed read of the FROM state, the
   * commit-log dual of the reference's SST-delta pruning
   * (hadoop-hdds/rocksdb-checkpoint-differ/src/main/java/org/apache/ozone/
   * rocksdiff/RocksDBCheckpointDiffer.java:775-830 getSSTDiffList). The TO
   * state is never folded from the full log: it is reconstructed only for
   * the touched keys as (FROM rows as PUT@seqFrom) ∪ delta, latest-op-wins.
   *
   * The FROM probe pulls every row whose key appears in the delta AND every
   * row of every touched object_id (two broadcast hash lookups in one scan,
   * no shuffle of the state) — the id closure makes the per-object_id dedup
   * see the same row set a full-state computation would, so the result is
   * exactly `Joins.snapshotDiff(fold(≤seqFrom), fold(≤seqTo))`.
   */
  def snapshotDiffDelta(log: DataFrame, fromState: DataFrame,
                        seqFrom: Long, seqTo: Long): DataFrame = {
    val recCols = Seq("seq", "op", "volume", "bucket", "key", "object_id",
      "data_size").map(col)
    val delta = log.filter(col("seq") > seqFrom && col("seq") <= seqTo)
      .select(recCols: _*)
    // no forced broadcast: with a genuinely small delta AQE broadcasts the
    // touched sets into the state scan; when a synthetic delta covers most
    // of the namespace it falls back to a shuffle join instead of pushing
    // an oversized hash table to every task
    val touchedKeys = delta.select("volume", "bucket", "key").distinct()
    val keyMatched = fromState
      .join(touchedKeys, Seq("volume", "bucket", "key"), "left_semi")
    val touchedIds = delta.select("object_id")
      .unionByName(keyMatched.select("object_id")).distinct()
    val fromTouched = fromState
      .join(touchedIds, Seq("object_id"), "left_semi")
      .select("volume", "bucket", "key", "object_id", "data_size")
    val base = fromTouched.select(lit(seqFrom).as("seq"), lit("PUT").as("op"),
      col("volume"), col("bucket"), col("key"), col("object_id"),
      col("data_size"))
    val toTouched = applyAt(base.unionByName(delta), seqTo)
    Joins.snapshotDiff(dedupByObjectId(fromTouched), dedupByObjectId(toTouched))
  }

  /** snapshot_info served from the materialized checkpoints — each row is
    * one small aggregate over a checkpoint parquet, never a log re-fold. */
  def snapshotInfoFromWarehouse(spark: SparkSession, objects: DataFrame,
                                dir: String): DataFrame = {
    val wh = snapshotWarehouse(spark, objects, dir)
    snapshotChain.map { case (name, seq) =>
      graft.core.TempDirs.read(spark, s"$wh/state_$name").agg(
          count(lit(1)).as("num_keys"),
          sum("data_size").cast("long").as("total_bytes"))
        .select(lit(name).as("name"), lit(seq).as("seq"),
          col("num_keys"), col("total_bytes"))
    }.reduce(_ unionByName _).orderBy("name")
  }

  /** The declared diff query: resolve both snapshots through the catalog
    * chain and run the delta diff over the materialized warehouse. */
  def snapshotDiffFromCatalog(spark: SparkSession, objects: DataFrame,
                              dir: String, from: String = "s1",
                              to: String = "s2"): DataFrame = {
    val wh = snapshotWarehouse(spark, objects, dir)
    val chain = snapshotChain.toMap
    snapshotDiffDelta(
      graft.core.TempDirs.read(spark, s"$wh/log"),
      graft.core.TempDirs.read(spark, s"$wh/state_$from"),
      chain(from), chain(to))
  }

  /**
   * List keys through a `bucket/.snapshot/<name>/<prefix>` path — ref
   * OzoneConsts.java:544 (OM_SNAPSHOT_INDICATOR) and OmSnapshotManager's
   * snapshot-path routing: reads under the indicator are served from the
   * named snapshot's checkpoint DB, not the live table. The name resolves
   * through the live chain (a deleted/unknown snapshot fails loudly, the
   * reference's FILE_NOT_FOUND); the residual prefix + maxKeys+1
   * truncation page the checkpoint like any live listing.
   */
  def snapshotPathList(spark: SparkSession, objects: DataFrame, dir: String,
                       volume: String, bucket: String, path: String,
                       maxKeys: Int): DataFrame = {
    val ind = ".snapshot/"
    require(path.startsWith(ind), s"not a snapshot path: $path")
    val rest = path.substring(ind.length)
    val name = rest.takeWhile(_ != '/')
    val prefix = rest.drop(name.length).stripPrefix("/")
    require(snapshotChain.exists(_._1 == name), s"no such snapshot: $name")
    val wh = snapshotWarehouse(spark, objects, dir)
    graft.core.TempDirs.read(spark, s"$wh/state_$name")
      .filter(col("volume") === volume && col("bucket") === bucket &&
        col("key").startsWith(prefix))
      .select("key", "object_id", "data_size")
      .orderBy("key")
      .limit(maxKeys + 1)
  }

  /**
   * listStatus through a `bucket/.snapshot/<name>/<dir>` path — the
   * filesystem view of a snapshot (OmSnapshotManager's path routing +
   * the KeyManagerImpl.java:1910-1936 immediate-child/fake-dir synthesis
   * applied to the CHECKPOINT state instead of the live table): one row
   * per immediate child of the directory as it existed at the snapshot,
   * dirs carrying their recursive file count and size. The name resolves
   * through the live chain (unknown ⇒ loud failure, the reference's
   * FILE_NOT_FOUND).
   *
   * Scale shape: a pushdown-filtered scan of the materialized checkpoint
   * + one hash agg on the child segment — same plan as the live
   * listStatus.
   */
  def snapshotPathListStatus(spark: SparkSession, objects: DataFrame,
                             dir: String, volume: String, bucket: String,
                             path: String): DataFrame = {
    val ind = ".snapshot/"
    require(path.startsWith(ind), s"not a snapshot path: $path")
    val rest0 = path.substring(ind.length)
    val name = rest0.takeWhile(_ != '/')
    val dirPath = rest0.drop(name.length).stripPrefix("/")
    require(snapshotChain.exists(_._1 == name), s"no such snapshot: $name")
    // an empty residual path lists the snapshot ROOT — its prefix is ""
    // (a bare "/" would silently match nothing: keys carry no leading
    // slash)
    val prefix =
      if (dirPath.isEmpty || dirPath == "/") ""
      else if (dirPath.endsWith("/")) dirPath else dirPath + "/"
    val p = prefix.length
    val wh = snapshotWarehouse(spark, objects, dir)
    graft.core.TempDirs.read(spark, s"$wh/state_$name")
      .filter(col("volume") === volume && col("bucket") === bucket &&
        col("key").startsWith(prefix))
      .withColumn("rest", expr(s"substring(key, ${p + 1})"))
      .withColumn("slash", instr(col("rest"), "/"))
      .withColumn("child",
        when(col("slash") > 0, expr("substring(rest, 1, slash - 1)"))
          .otherwise(col("rest")))
      .groupBy("child")
      .agg((max(col("slash")) > 0).as("is_dir"),
        count(lit(1)).as("num_files"),
        sum("data_size").as("total_size"))
      .orderBy("child")
  }

  /**
   * SnapshotMoveTableKeys ladder — the snapshot-GC request that moves a
   * purged/deep-cleaned snapshot's buffered deletedTable / renamedTable /
   * deletedDirTable entries to the next path snapshot, or to the active
   * object store when the chain ends
   * (ozone-manager/.../request/snapshot/OMSnapshotMoveTableKeysRequest.java:76-186
   * preExecute, :190-230 validateAndUpdateCache;
   * snapshot/SnapshotUtils.java:154-177 getNextSnapshot).
   *
   * Decision order, as in the reference: the from-snapshot store probe
   * runs FIRST (preExecute getSnapshotInfo → FILE_NOT_FOUND), then the
   * three lists are walked in table order — deleted, renamed, deleted
   * dirs — each entry checked prefix-then-duplicate (INVALID_KEY_NAME /
   * INVALID_REQUEST); list filtering precedes validation (deleted
   * entries without keyInfos, value-less renamed pairs and dirs without
   * exactly one keyInfo are silently dropped, never validated). Only a
   * request that survives preExecute reaches the apply-stage chain walk:
   * a next-in-chain snapshot that is not ACTIVE refuses the move
   * (INVALID_SNAPSHOT_ERROR); a missing next moves to "AOS". Deleted /
   * renamed keys are name-prefixed `/volume/bucket/`; deleted dirs are
   * FSO-id-prefixed `/volId/bucketId/` (OmMetadataManagerImpl
   * .getTableBucketPrefix:2027-2049).
   *
   * Scale shape: one row_number window + one groupBy on req_id over the
   * entry lists (narrow rows), request/chain/id dims broadcast — no
   * shuffle touches anything corpus-sized.
   */
  def snapshotMoveTableKeys(requests: DataFrame, entries: DataFrame,
                            chain: DataFrame, catalog: DataFrame,
                            bucketIds: DataFrame): DataFrame = {
    val considered = entries
      .withColumn("tbl_order",
        when(col("tbl") === "DELETED", lit(1))
          .when(col("tbl") === "RENAMED", lit(2)).otherwise(lit(3)))
      .filter(
        when(col("tbl") === "DELETED", col("n_infos") > 0)
          .when(col("tbl") === "RENAMED", col("has_value"))
          .otherwise(col("n_infos") === 1))
      .join(broadcast(requests.select("req_id", "volume", "bucket")),
        Seq("req_id"))
      .join(broadcast(bucketIds), Seq("volume", "bucket"), "left")
    val expectedPrefix = when(col("tbl") === "DELETED_DIR",
        concat(lit("/"), col("vol_id"), lit("/"), col("bucket_id"),
          lit("/")))
      .otherwise(concat(lit("/"), col("volume"), lit("/"), col("bucket"),
        lit("/")))
    val graded = considered
      .withColumn("occurrence", row_number().over(
        Window.partitionBy("req_id", "tbl", "db_key").orderBy("pos")))
      .withColumn("err",
        when(!col("db_key").startsWith(expectedPrefix),
          lit("INVALID_KEY_NAME"))
          .when(col("occurrence") > 1, lit("INVALID_REQUEST")))
    val perReq = graded.groupBy("req_id").agg(
      min_by(col("err"),
        when(col("err").isNotNull,
          col("tbl_order") * 1000000L + col("pos"))).as("first_err"),
      sum(when(col("tbl") === "DELETED", 1L).otherwise(0L))
        .as("n_deleted"),
      sum(when(col("tbl") === "RENAMED", 1L).otherwise(0L))
        .as("n_renamed"),
      sum(when(col("tbl") === "DELETED_DIR", 1L).otherwise(0L))
        .as("n_dirs"))
    // min_by keeps null-ordering quirks out by scoring only error rows;
    // a request whose entries are all clean gets first_err null.
    val chainNext = chain
      .withColumn("next_name", lead("name", 1).over(
        Window.partitionBy("volume", "bucket").orderBy("global_idx")))
      .join(catalog.select(col("volume"), col("bucket"),
          col("name").as("next_name"), col("status").as("next_status")),
        Seq("volume", "bucket", "next_name"), "left")
      .select(col("volume"), col("bucket"), col("name").as("from_name"),
        lit(true).as("from_exists"), col("next_name"), col("next_status"))
    val decided = requests
      .join(broadcast(chainNext), Seq("volume", "bucket", "from_name"),
        "left")
      .join(broadcast(perReq), Seq("req_id"), "left")
      .withColumn("decision",
        when(col("from_exists").isNull, lit("FILE_NOT_FOUND"))
          .when(col("first_err").isNotNull, col("first_err"))
          .when(col("next_name").isNotNull &&
            col("next_status") =!= "SNAPSHOT_ACTIVE",
            lit("INVALID_SNAPSHOT_ERROR"))
          .otherwise(lit("MOVED")))
    decided.select(col("req_id"), col("volume"), col("bucket"),
        col("from_name"), col("decision"),
        when(col("decision") === "MOVED",
          coalesce(col("next_name"), lit("AOS"))).otherwise(lit(""))
          .as("destination"),
        when(col("decision") === "MOVED", coalesce(col("n_deleted"),
          lit(0L))).otherwise(lit(0L)).as("moved_deleted"),
        when(col("decision") === "MOVED", coalesce(col("n_renamed"),
          lit(0L))).otherwise(lit(0L)).as("moved_renamed"),
        when(col("decision") === "MOVED", coalesce(col("n_dirs"),
          lit(0L))).otherwise(lit(0L)).as("moved_dirs"))
      .orderBy("req_id")
  }

  /**
   * Legacy SnapshotMoveDeletedKeys ladder — the PREDECESSOR of
   * [[snapshotMoveTableKeys]] (ozone-manager/.../request/snapshot/
   * OMSnapshotMoveDeletedKeysRequest.java:48-105): the same
   * from-snapshot probe (SnapshotUtils.getSnapshotInfo →
   * FILE_NOT_FOUND on a missing table row) and the same
   * next-path-snapshot walk (SnapshotUtils.getNextSnapshot:154-177;
   * no next → the keys move to the Active Object Store), but NONE of
   * the modern request's validation — the divergences this ladder
   * pins:
   *   - the four lists (nextDBKeys, reclaimKeys, renamedKeys,
   *     deletedDirsToMove) pass through VERBATIM (:81-93 hand the
   *     protobuf lists straight to the response builder): no prefix
   *     walk, no duplicate fence, no silent list filtering — the
   *     legacy producer (SnapshotDeletingService) is trusted;
   *   - the next snapshot's STATUS is never checked: a move lands in
   *     a SNAPSHOT_DELETED successor where [[snapshotMoveTableKeys]]
   *     refuses with INVALID_SNAPSHOT_ERROR; a DELETED from-snapshot
   *     likewise proceeds (getSnapshotInfo probes existence only);
   *   - the live bucket objectID is captured into the response
   *     (:85-86 getBucketInfo, :97 setBucketId) for the response-side
   *     size updates — surfaced as bucket_id (the shared oid mint).
   *
   * Scale shape: requests/chain/catalog are control-plane broadcasts;
   * the entry lists fold with one map-side-combinable groupBy on
   * req_id. No shuffle beyond the output sort.
   */
  def snapshotMoveDeletedKeys(requests: DataFrame, entries: DataFrame,
                              chain: DataFrame,
                              catalog: DataFrame): DataFrame = {
    val counts = entries.groupBy("req_id").agg(
      sum(when(col("tbl") === "NEXT_DB", 1L).otherwise(0L))
        .as("n_next_db"),
      sum(when(col("tbl") === "RECLAIM", 1L).otherwise(0L))
        .as("n_reclaim"),
      sum(when(col("tbl") === "RENAMED", 1L).otherwise(0L))
        .as("n_renamed"),
      sum(when(col("tbl") === "MOVED_DIR", 1L).otherwise(0L))
        .as("n_dirs"))
    val chainNext = chain
      .withColumn("next_name", lead("name", 1).over(
        Window.partitionBy("volume", "bucket").orderBy("global_idx")))
      .select(col("volume"), col("bucket"), col("name").as("from_name"),
        col("next_name"))
    val decided = requests
      .join(broadcast(catalog.select(col("volume"), col("bucket"),
          col("name").as("from_name"), lit(true).as("in_catalog"))),
        Seq("volume", "bucket", "from_name"), "left")
      .join(broadcast(chainNext), Seq("volume", "bucket", "from_name"),
        "left")
      .join(broadcast(counts), Seq("req_id"), "left")
      .withColumn("decision",
        when(col("in_catalog").isNull, lit("FILE_NOT_FOUND"))
          .otherwise(lit("MOVED")))
    val moveCounters = Seq("n_next_db" -> "moved_next_db",
      "n_reclaim" -> "moved_reclaim", "n_renamed" -> "moved_renamed",
      "n_dirs" -> "moved_dirs")
    decided.select(Seq(col("req_id"), col("volume"), col("bucket"),
        col("from_name"), col("decision"),
        when(col("decision") === "MOVED",
          coalesce(col("next_name"), lit("AOS"))).otherwise(lit(""))
          .as("destination"),
        when(col("decision") === "MOVED",
          substring(col("volume"), 4, 10).cast("long") * 100 +
            substring(col("bucket"), 7, 10).cast("long") + 10)
          .otherwise(lit(0L)).as("bucket_id")) ++
      moveCounters.map { case (src, dst) =>
        when(col("decision") === "MOVED", coalesce(col(src), lit(0L)))
          .otherwise(lit(0L)).as(dst)
      }: _*)
      .orderBy("req_id")
  }

  /**
   * KeyPurge apply ladder — OMKeyPurgeRequest.validateAndUpdateCache
   * (ozone-manager/.../request/key/OMKeyPurgeRequest.java:79-166), the
   * KeyDeletingService's batch that finally drops deletedTable tombstones.
   * Reference decision order, one pass per request:
   *   1. fromSnapshot set → snapshot-catalog probe
   *      (SnapshotUtils.getSnapshotInfo) → missing ⇒ FILE_NOT_FOUND;
   *   2. requests carrying expectedPreviousSnapshotID re-validate the
   *      chain (SnapshotUtils.validatePreviousSnapshotId:273-283): the
   *      ACTUAL previous is the PATH-chain predecessor of fromSnapshot —
   *      or the LATEST GLOBAL snapshot when purging for AOS — and any
   *      mismatch ⇒ INVALID_REQUEST (a snapshot created mid-purge would
   *      make the tombstones visible to it; the txn must be skipped).
   *      Old-format requests without the field skip this rung entirely
   *      (but not the probe above);
   *   3. an empty purge list (no deleted keys AND no renamed keys) ⇒
   *      KEY_DELETION_ERROR;
   *   4. else PURGED, and the per-bucket usedBytes/usedNamespace
   *      givebacks apply ONLY where the bucket still exists AND the
   *      request's captured bucketId equals the live bucket objectID
   *      (OMKeyPurgeRequest.updateBucketSize:186-213 — a deleted or
   *      recreated bucket silently skips its refund).
   *
   * Scale shape: the chain and the request batch are control-plane-tiny —
   * two broadcast joins against them; the bucket catalog probe is one
   * broadcast of the (volume,bucket,oid) projection. No shuffle beyond
   * the output sort.
   */
  def keyPurgeDecisions(requests: DataFrame, bucketSizes: DataFrame,
                        chain: DataFrame, buckets: DataFrame): DataFrame = {
    // Path-chain predecessor per snapshot; '' = no predecessor (the
    // reference's null UUID).
    val wP = Window.partitionBy("volume", "bucket").orderBy("global_idx")
    val withPrev = chain
      .withColumn("path_prev", coalesce(lag("name", 1).over(wP), lit("")))
      .select(col("name").as("from_snapshot"), col("path_prev"))
    val latestGlobal = chain
      .agg(max_by(col("name"), col("global_idx")).as("latest_global"))
    // Live bucket object ids (deterministic mint mirrored in the oracle).
    val cat = buckets.select(col("volume"), col("bucket"),
      (substring(col("volume"), 4, 10).cast("long") * 100 +
        substring(col("bucket"), 7, 10).cast("long") + 10).as("bucket_oid"))
    val refunds = bucketSizes
      .join(broadcast(cat), Seq("volume", "bucket"), "left")
      .withColumn("applied",
        col("bucket_oid").isNotNull && col("bucket_id") === col("bucket_oid"))
      .groupBy("req_id")
      .agg(
        count_distinct(when(col("applied"),
          concat_ws("/", col("volume"), col("bucket")))).as("buckets_updated"),
        sum(when(col("applied"), col("purged_bytes")).otherwise(0L))
          .as("bytes_refunded"))
    requests
      .join(broadcast(withPrev), Seq("from_snapshot"), "left")
      .crossJoin(broadcast(latestGlobal))
      .join(broadcast(refunds), Seq("req_id"), "left")
      .withColumn("actual_prev",
        when(col("from_snapshot") === "", col("latest_global"))
          .otherwise(col("path_prev")))
      .withColumn("decision",
        when(col("from_snapshot") =!= "" && col("path_prev").isNull,
          lit("FILE_NOT_FOUND"))
          .when(col("has_expected") &&
            col("expected_prev") =!= col("actual_prev"),
            lit("INVALID_REQUEST"))
          .when(col("n_deleted") + col("n_renamed") === 0,
            lit("KEY_DELETION_ERROR"))
          .otherwise(lit("PURGED")))
      .select(col("req_id"), col("from_snapshot"), col("decision"),
        when(col("decision") === "PURGED", col("n_deleted"))
          .otherwise(lit(0L)).as("purged_keys"),
        when(col("decision") === "PURGED", col("n_renamed"))
          .otherwise(lit(0L)).as("purged_renames"),
        when(col("decision") === "PURGED",
          coalesce(col("buckets_updated"), lit(0L)))
          .otherwise(lit(0L)).as("buckets_updated"),
        when(col("decision") === "PURGED",
          coalesce(col("bytes_refunded"), lit(0L)))
          .otherwise(lit(0L)).as("bytes_refunded"))
      .orderBy("req_id")
  }

  /**
   * DirectoriesPurge apply ladder — the FSO *directory* dual of
   * [[keyPurgeDecisions]]: OMDirectoriesPurgeRequestWithFSO
   * .validateAndUpdateCache (ozone-manager/.../request/key/
   * OMDirectoriesPurgeRequestWithFSO.java:84-270), the
   * DirectoryDeletingService's apply batch. Shared rungs with key purge:
   *   1. fromSnapshot set → catalog/chain probe; missing ⇒
   *      FILE_NOT_FOUND (:106-107, getSnapshotInfo throws);
   *   2. expectedPreviousSnapshotID present → validatePreviousSnapshotId
   *      against the PATH-chain predecessor (or the latest GLOBAL
   *      snapshot for AOS purges); mismatch ⇒ INVALID_REQUEST
   *      (:109-119). Old-format requests skip the rung, NOT the probe.
   * Divergences from the key ladder (each probed by the fixture):
   *   - NO empty-list error rung: a purge request with zero paths
   *     applies cleanly (:143 just iterates — contrast
   *     OMKeyPurgeRequest's KEY_DELETION_ERROR);
   *   - per-entry bucket refunds, not per-request aggregates: every
   *     markDeletedSubDirs row refunds usedNamespace 1 and every
   *     deletedSubFiles row refunds (usedBytes=Σblocks, usedNamespace 1)
   *     — PER OCCURRENCE, a duplicated KeyInfo refunds twice — gated on
   *     the bucket still existing AND its live objectID matching the
   *     path's captured bucketId (:154, :191-192 — a deleted or
   *     recreated bucket silently skips);
   *   - hsync open-key tagging is gate-INDEPENDENT: a sub-file carrying
   *     HSYNC_CLIENT_ID whose open entry exists gets DELETED_HSYNC_KEY
   *     stamped before any bucket check (:169-182), deduped by the open
   *     db key (one tag per file, however many paths list it);
   *   - the deletedDir entry purges SNAPSHOT used-namespace (:211,
   *     purgeSnapshotUsedNamespace) under the same gate;
   *   - audit counters differ in kind: subFilesMoved counts ROWS
   *     (:186), subDirsMoved counts the DISTINCT sub-dir delete-keys
   *     MINUS the dirs actually deleted (:218-220, removeAll), and
   *     dirsDeleted counts deletedDir entries (:214).
   *
   * Scale shape: requests/chain are control-plane-tiny broadcasts; the
   * entry list is the only data-sized input and folds with one groupBy
   * on req_id (map-side combinable) plus one anti-join against the
   * deleted-dir set on the same key. No shuffle beyond the output sort.
   */
  def dirPurgeDecisions(requests: DataFrame, entries: DataFrame,
                        chain: DataFrame, buckets: DataFrame): DataFrame = {
    val wP = Window.partitionBy("volume", "bucket").orderBy("global_idx")
    val withPrev = chain
      .withColumn("path_prev", coalesce(lag("name", 1).over(wP), lit("")))
      .select(col("name").as("from_snapshot"), col("path_prev"))
    val latestGlobal = chain
      .agg(max_by(col("name"), col("global_idx")).as("latest_global"))
    // live bucket oid mint shared with keyPurgeDecisions (and the oracle)
    val cat = buckets.select(col("volume"), col("bucket"),
      (substring(col("volume"), 4, 10).cast("long") * 100 +
        substring(col("bucket"), 7, 10).cast("long") + 10).as("bucket_oid"))
    val gated = entries
      .join(broadcast(cat), Seq("volume", "bucket"), "left")
      .withColumn("gate",
        col("bucket_oid").isNotNull && col("bucket_id") === col("bucket_oid"))
    // removeAll(deletedDirNames): a sub-dir that is ALSO this request's
    // deleted dir is counted deleted, not moved (delete-key ≡ object_id)
    val deletedDirs = gated.filter(col("kind") === "DELETED_DIR")
      .select(col("req_id"), col("object_id")).distinct()
    val subdirsMoved = gated.filter(col("kind") === "SUB_DIR")
      .join(deletedDirs, Seq("req_id", "object_id"), "left_anti")
      .groupBy("req_id")
      .agg(count_distinct(col("object_id")).as("subdirs_moved"))
    val rollup = gated.groupBy("req_id").agg(
      sum(when(col("kind") === "DELETED_DIR", 1L).otherwise(0L))
        .as("dirs_deleted"),
      sum(when(col("kind") === "SUB_FILE", 1L).otherwise(0L))
        .as("subfiles_moved"),
      sum(when(col("gate") &&
        col("kind").isin("SUB_DIR", "SUB_FILE"), 1L).otherwise(0L))
        .as("ns_refunded"),
      sum(when(col("gate") && col("kind") === "SUB_FILE",
        col("size_bytes")).otherwise(0L)).as("bytes_refunded"),
      sum(when(col("gate") && col("kind") === "DELETED_DIR", 1L)
        .otherwise(0L)).as("snap_ns_purged"),
      count_distinct(when(col("kind") === "SUB_FILE" &&
        col("hsync") && col("open_exists"), col("object_id")))
        .as("opens_tagged"))
    val counters = Seq("dirs_deleted", "subdirs_moved", "subfiles_moved",
      "ns_refunded", "bytes_refunded", "snap_ns_purged", "opens_tagged")
    val decided = requests
      .join(broadcast(withPrev), Seq("from_snapshot"), "left")
      .crossJoin(broadcast(latestGlobal))
      .join(broadcast(rollup), Seq("req_id"), "left")
      .join(broadcast(subdirsMoved), Seq("req_id"), "left")
      .withColumn("actual_prev",
        when(col("from_snapshot") === "", col("latest_global"))
          .otherwise(col("path_prev")))
      .withColumn("decision",
        when(col("from_snapshot") =!= "" && col("path_prev").isNull,
          lit("FILE_NOT_FOUND"))
          .when(col("has_expected") &&
            col("expected_prev") =!= col("actual_prev"),
            lit("INVALID_REQUEST"))
          .otherwise(lit("PURGED")))
    counters.foldLeft(decided) { (df, c) =>
      df.withColumn(c, when(col("decision") === "PURGED",
        coalesce(col(c), lit(0L))).otherwise(lit(0L)))
    }
      .select((Seq("req_id", "from_snapshot", "decision") ++ counters)
        .map(col): _*)
      .orderBy("req_id")
  }
}
