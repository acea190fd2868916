package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.operators._

/**
 * Read-RPC catalog facade — one entry point per reference read RPC
 * (apache/ozone OzoneManagerRequestHandler.java:199-399), each delegating
 * to the §2 operators so a caller of the reference API finds the same
 * surface here. Point lookups are range-pruned scans over the persisted
 * key-sorted namespace (Tables.objectsSorted) — O(page), not O(table).
 */
object Api {

  // -- volume/bucket info + listings ----------------------------------------
  def infoVolume(s: SparkSession, d: String, volume: String): DataFrame =
    T.volumes(s, d).filter(col("volume") === volume)

  def infoBucket(s: SparkSession, d: String, volume: String, bucket: String): DataFrame =
    T.buckets(s, d).filter(col("volume") === volume && col("bucket") === bucket)

  // -- key lookups + listings ----------------------------------------------
  // Every key op first chases bucket links to the terminal real bucket
  // (identity for an existing non-link) — OmMetadataManagerImpl.java:
  // 1089-1093. The chase runs on the driver over the link fixture's rows
  // and the bucket catalog's collected key set, so an RPC plans and runs
  // only its namespace query; a missing bucket or broken link gets the
  // empty frame.
  private def resolved(s: SparkSession, d: String, volume: String,
                       bucket: String): Option[(String, String)] =
    Links.resolveOne(T.bucketLinkRows.rows, T.bucketKeys(s, d),
      volume, bucket).toOption

  def lookupKey(s: SparkSession, d: String, volume: String, bucket: String,
                key: String): DataFrame = {
    val base = T.objectsSorted(s, d)
    resolved(s, d, volume, bucket) match {
      case Some((v, b)) => base.filter(col("volume") === v &&
        col("bucket") === b && col("key") === key)
      case None => base.limit(0) // missing bucket or broken link: no key
    }
  }

  /** GetKeyInfo: lookup + nested locations/tags/acls. */
  def getKeyInfo(s: SparkSession, d: String, volume: String, bucket: String,
                 key: String): DataFrame = {
    val base = T.objectsNested(s, d)
    resolved(s, d, volume, bucket) match {
      case Some((v, b)) => base.filter(col("volume") === v &&
        col("bucket") === b && col("key") === key)
      case None => base.limit(0)
    }
  }

  def listKeys(s: SparkSession, d: String, volume: String, bucket: String,
               prefix: String, startKey: String, maxKeys: Int): DataFrame =
    Links.listKeysVia(T.objectsSorted(s, d), T.bucketLinkRows.rows,
      T.bucketKeys(s, d), volume, bucket, prefix, startKey, maxKeys)

  /** The link-resolution catalog (status per link: OK/DANGLING/CYCLE). */
  def resolveBucketLinks(s: SparkSession, d: String): DataFrame =
    Links.resolveBucketLinks(T.bucketLinkRows.rows, T.buckets(s, d))

  /** S3 ListObjectsV2 (delimiter grouping + CommonPrefixes), link-aware —
    * S3 bucket aliasing IS the link-bucket feature. */
  def listObjectsV2(s: SparkSession, d: String, volume: String, bucket: String,
                    prefix: String, startAfter: String,
                    maxKeys: Int): DataFrame = {
    val base = T.objectsSorted(s, d)
    resolved(s, d, volume, bucket) match {
      case Some((v, b)) =>
        Listing.listObjectsV2(base, v, b, prefix, startAfter, maxKeys)
      case None =>
        Listing.listObjectsV2(base, volume, bucket, prefix, startAfter, maxKeys)
          .limit(0)
    }
  }

  /** ListKeysLight: the same page with only the light columns (the
    * reference strips locations/acls for this RPC). */
  def listKeysLight(s: SparkSession, d: String, volume: String, bucket: String,
                    prefix: String, startKey: String, maxKeys: Int): DataFrame =
    listKeys(s, d, volume, bucket, prefix, startKey, maxKeys)
      .select("key", "data_size", "creation_time")

  def listStatus(s: SparkSession, d: String, volume: String, bucket: String,
                 dir: String): DataFrame = {
    val base = T.objectsSorted(s, d)
    resolved(s, d, volume, bucket) match {
      case Some((v, b)) => Listing.listStatus(base, v, b, dir)
      case None => Listing.listStatus(base, volume, bucket, dir).limit(0)
    }
  }

  /** FSO listStatus: a page of `dir`'s children after `startChild`, one
    * bounded slice of the stored child summary (Tables.fsoChildren), with
    * one look-ahead row past `numEntries` as listKeys has. A broken link's
    * empty listing starts no Spark job. */
  def listStatusFso(s: SparkSession, d: String, volume: String, bucket: String,
                    dir: String, startChild: String = "",
                    numEntries: Int = 1000): DataFrame =
    resolved(s, d, volume, bucket) match {
      case Some((v, b)) =>
        Hierarchy.listStatusFso(T.fsoChildren(s, d), v, b, dir, startChild,
          Some(numEntries))
      case None => s.createDataFrame(
        java.util.List.of[Row](), Hierarchy.ListStatusSchema)
    }

  def getAcl(s: SparkSession, d: String, volume: String, bucket: String,
             key: String): DataFrame =
    getKeyInfo(s, d, volume, bucket, key)
      .select(col("key"), explode(col("acls")).as("acl"))
      .select("key", "acl.name", "acl.type", "acl.rights")

  // -- multipart uploads ---------------------------------------------------
  /** ListMultipartUploads: a bucket's in-flight uploads under a prefix —
    * ref OzoneManagerRequestHandler.java:253 over multipartInfoTable. */
  def listMultipartUploads(s: SparkSession, d: String, volume: String,
                           bucket: String, prefix: String): DataFrame =
    Lifecycle.listMultipartUploads(T.multipartInfo(s, d), volume, bucket, prefix)

  // -- snapshots + change stream -------------------------------------------
  def listSnapshots(s: SparkSession, d: String): DataFrame =
    CommitLog.snapshotInfoFromWarehouse(s, T.objects(s, d), d)

  /** GetSnapshotInfo: one catalog row by name (checkpoint-served). */
  def getSnapshotInfo(s: SparkSession, d: String, name: String): DataFrame =
    listSnapshots(s, d).filter(col("name") === name)

  /** Reclaimable deleted keys (the KeyDeletingService / SnapshotDeleting
    * Service candidate set): buffered deletes whose blocks may be purged
    * now — absent from the previous snapshot in the chain. */
  def listReclaimableKeys(s: SparkSession, d: String): DataFrame =
    Reclaim.snapshotReclaim(s, T.objects(s, d), d)
      .filter(col("reclaimable"))

  /** Per-snapshot exclusive size (SnapshotInfo.exclusiveSize): bytes freed
    * if that snapshot alone were deleted. */
  def snapshotExclusiveSizes(s: SparkSession, d: String): DataFrame =
    Reclaim.snapshotExclusive(s, T.objects(s, d), d)

  /** ListSnapshotDiffJobs: one row per adjacent catalog pair with the
    * job-report rollup (the reference lists submitted diff jobs with
    * their status; here every chain pair is a completed job). */
  def listSnapshotDiffJobs(s: SparkSession, d: String): DataFrame = {
    val chain = CommitLog.snapshotChain
    chain.zip(chain.tail).map { case ((from, _), (to, _)) =>
      CommitLog.snapshotDiffFromCatalog(s, T.objects(s, d), d, from, to)
        .agg(count(lit(1)).as("diff_rows"))
        .select(lit(s"$from->$to").as("job_id"), lit(from).as("from_snapshot"),
          lit(to).as("to_snapshot"), lit("DONE").as("status"), col("diff_rows"))
    }.reduceOption(_ unionByName _).getOrElse {
      // a 0/1-snapshot catalog has no diff jobs — empty result, not a crash
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "job_id STRING, from_snapshot STRING, to_snapshot STRING, " +
            "status STRING, diff_rows BIGINT"))
    }
  }

  // -- auth catalog ---------------------------------------------------------
  /** GetS3Secret: the secret of one access id (ref s3SecretTable lookup). */
  def getS3Secret(s: SparkSession, d: String, accessId: String): DataFrame =
    T.s3Secrets(s, d).filter(col("access_id") === accessId)

  def getUserInfo(s: SparkSession, d: String, userName: String): DataFrame =
    T.userTable(s, d).filter(col("user_name") === userName)

  /** Delegation-token catalog (dTokenTable) with optional expiry cut. */
  def listDelegationTokens(s: SparkSession, d: String,
                           expiringBeforeMs: Long = Long.MaxValue): DataFrame =
    T.dTokens(s, d).filter(col("max_expiry_ms") < expiringBeforeMs)
      .orderBy("owner")

  /** Prefix-ACL-aware read probe for one principal (prefixTable layered
    * under the object ACLs, longest matching prefix wins). */
  def checkAccess(s: SparkSession, d: String, principal: String): DataFrame =
    graft.operators.Nested.prefixAclProbe(T.objectsNested(s, d),
      T.prefixAcls(s, d), principal)

  // -- multi-tenancy --------------------------------------------------------
  def listTenants(s: SparkSession, d: String): DataFrame =
    Tenants.listTenants(T.tenantState(s, d))

  def tenantGetUserInfo(s: SparkSession, d: String, principal: String): DataFrame =
    Tenants.tenantUserInfo(T.tenantAccessIds(s, d), principal)

  /** TenantListUser: the accessId roster of one tenant. */
  def tenantListUsers(s: SparkSession, d: String, tenantId: String): DataFrame =
    T.tenantAccessCatalog(s, d)
      .filter(col("tenant_id") === tenantId)
      .orderBy("access_id")

  /** DBUpdates(seq): the typed change stream since a sequence number. */
  def dbUpdates(s: SparkSession, d: String, sinceSeq: Long): DataFrame =
    graft.streaming.ChangeLog.events(T.objects(s, d))
      .filter(col("seq") > sinceSeq)
}
