package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Predicate-driven background jobs + scalar/window patterns of the reference:
 * lifecycle expiration (apache/ozone OmLCFilter.java:41-117,
 * OmLCExpiration.java:39-64, KeyLifecycleService.java:401-455), open-key
 * expiry (OmMetadataManagerImpl.java:1446-1500), multipart completion
 * validation (S3MultipartUploadCompleteRequest.java:291-334,616-652),
 * latest-version-wins (OmMetadataManagerImpl.java:1160-1162), byte-range
 * reads (ObjectEndpoint.java:416-471), checksums (Checksum.java:89-93).
 *
 * Scale design: rule evaluation is a pure codegen'd filter over the key scan
 * (no join, no shuffle); expiry summaries aggregate map-side; the multipart
 * validator is a window over (upload_id) — shuffles only MPU rows, a tiny
 * fraction of the namespace.
 */
object Lifecycle {

  /** A lifecycle rule: prefix match AND optional tag equality, with an
    * expiration cutoff — the boolean expression tree of OmLCFilter. */
  final case class LcRule(id: String, prefix: String,
                          tagValue: Option[String], cutoffMs: Long)

  private def ruleMatch(r: LcRule): Column = {
    val base = col("key").startsWith(r.prefix) &&
      col("modification_time") < r.cutoffMs
    r.tagValue.map(v => base && col("tag_flag") === v).getOrElse(base)
  }

  /** Keys matched by any enabled rule, tagged with the first matching rule id
    * (rules are ordered; first match wins as in KeyLifecycleService). */
  def lifecycleExpiry(objects: DataFrame, rules: Seq[LcRule]): DataFrame = {
    val ruleId = rules.foldRight(lit(null).cast("string")) { (r, acc) =>
      when(ruleMatch(r), lit(r.id)).otherwise(acc)
    }
    objects
      .withColumn("rule_id", ruleId)
      .filter(col("rule_id").isNotNull)
      .select("volume", "bucket", "key", "rule_id", "data_size",
        "modification_time")
      .orderBy("volume", "bucket", "key", "data_size", "modification_time")
  }

  /** Expired open keys summary per bucket: count + bytes of entries older
    * than the cutoff (ref KeyManagerImpl.java:1026-1038). */
  def openKeyExpiry(openKeys: DataFrame, cutoffMs: Long): DataFrame =
    openKeys
      .filter(col("creation_time") < cutoffMs)
      .groupBy("volume", "bucket")
      .agg(count(lit(1)).as("expired_count"),
        sum("data_size").as("expired_bytes"))
      .orderBy("volume", "bucket")

  /**
   * Recon OMDBInsightEndpoint open-keys insight (`recon/.../api/
   * OMDBInsightEndpoint.java` GET /keys/open summary): per-bucket open-key
   * count with the hsync split and both size totals (unreplicated and
   * replicated) — the numbers the insight page headlines. One
   * map-side-combined hash aggregation over the open-key table.
   */
  def openKeysInsight(openKeys: DataFrame): DataFrame =
    openKeys
      .withColumn("hsync", col("client_id") % 3 === 0)
      .groupBy("volume", "bucket")
      .agg(count(lit(1)).as("open_count"),
        sum(when(col("hsync"), 1L).otherwise(0L)).as("hsync_count"),
        sum("data_size").as("open_bytes"),
        sum("replicated_size").as("open_replicated_bytes"))
      .orderBy("volume", "bucket")

  /**
   * Open-key cleanup — the full getExpiredOpenKeys selection
   * (OmMetadataManagerImpl.java:1446-1520) chained into the
   * OMOpenKeysDeleteRequest apply ladder
   * (OMOpenKeysDeleteRequest.java:168-225). Selection, in reference
   * order over every open-key entry:
   *   1. open MPU keys are never cleaned (isOpenMultipartKey:1404-1423 —
   *      multipart flag or a live multipartInfo entry) ⇒ SKIP_MPU;
   *   2. neither creation-expired (service expire threshold) nor
   *      lease-expired (modification vs lease threshold) ⇒ RETAIN;
   *   3. (!hsync && creation-expired) OR a DELETED_HSYNC_KEY /
   *      OVERWRITTEN_HSYNC_KEY marker ⇒ submit for DELETE — the data
   *      never got a commit, or the keyTable row is already gone;
   *   4. else hsync && lease-expired && !LEASE_RECOVERY ⇒ submit for
   *      COMMIT (hsync'd data is durable; the service recovers it via a
   *      CommitKey built from the keyTable row, :1494-1516);
   *   5. everything else (hsync under recovery, hsync creation-expired
   *      but lease-live, non-hsync lease-expired-only) ⇒ RETAIN — the
   *      subtle rung: a lease-expired NON-hsync key whose creation is
   *      still fresh is NOT deleted.
   * Apply, per DELETE-submitted key: a concurrent commit removed the
   * open entry ⇒ SKIP_COMMITTED (:189-191); a newer updateID fences the
   * stale batch ⇒ SKIP_NEWER_UPDATE (:193-198); else DELETED. The hsync
   * flag reads the db key's clientId against HSYNC_CLIENT_ID metadata
   * (client_id % 3, as in [[openKeysInsight]]); markers/fences derive
   * from the order key f = object_id DIV 10.
   *
   * Scale shape: a pure row decision over the open-key table — no join,
   * no shuffle beyond the output sort.
   */
  def openKeyCleanup(openKeys: DataFrame, creationCutoffMs: Long,
                     leaseCutoffMs: Long): DataFrame =
    openKeys
      .withColumn("f", expr("object_id DIV 10"))
      .withColumn("hsynced", col("client_id") % 3 === 0)
      .withColumn("creation_expired", col("creation_time") <= creationCutoffMs)
      .withColumn("lease_expired", col("modification_time") <= leaseCutoffMs)
      .withColumn("selection",
        when(col("f") % 11 === 0, lit("SKIP_MPU"))
          .when(!col("creation_expired") && !col("lease_expired"),
            lit("RETAIN"))
          .when((!col("hsynced") && col("creation_expired")) ||
            col("f") % 13 === 0 || col("f") % 17 === 0, lit("DELETE"))
          .when(col("hsynced") && col("lease_expired") &&
            col("f") % 19 =!= 0, lit("COMMIT"))
          .otherwise(lit("RETAIN")))
      .withColumn("outcome",
        when(col("selection") =!= "DELETE", col("selection"))
          .when(col("f") % 23 === 0, lit("SKIP_COMMITTED"))
          .when(col("f") % 29 === 0, lit("SKIP_NEWER_UPDATE"))
          .otherwise(lit("DELETED")))
      .select("volume", "bucket", "key", "client_id", "hsynced",
        "selection", "outcome", "data_size")
      .orderBy("volume", "bucket", "key", "client_id", "data_size")

  /** NOW / soft-limit constants for [[recoverLeases]] (mirrored in the
    * oracle; the soft limit is the reference's 1h default). */
  val LeaseNowMs = 1700000000000L
  val LeaseSoftLimitMs = 3600000L

  /**
   * Lease-recovery decision table — OMRecoverLeaseRequest.doWork
   * (OMRecoverLeaseRequest.java:185-260), every branch in the reference's
   * precedence order, evaluated for a request batch in one pass:
   *   1. key absent from keyTable            → KEY_NOT_FOUND
   *   2. no HSYNC_CLIENT_ID on the key       → KEY_ALREADY_CLOSED
   *   3. open entry marked DELETED_HSYNC_KEY → OPEN_KEY_DELETED
   *   4. LEASE_RECOVERY already set          → ALREADY_UNDER_RECOVERY
   *      (the reference proceeds; it's a distinct outcome here)
   *   5. !force and now < lastUpdate + soft  → UNDER_SOFT_LIMIT
   *   6. else                                → RECOVERED, with the block
   *      count the response finalizes (updateBlockInfo walks the tail of
   *      the location list).
   * The batch: every hsync-open key (version 5 — the open_keys
   * population) plus a closed-key and a ghost-key request per ~1/101
   * sample. Open-key state flags derive from f = object_id DIV 10 (the
   * order key — version-5 object_ids are all odd, so object_id itself
   * cannot split mod 4): f%4=0 deleted open entry, f%4=1 already
   * recovering, f%4=2 a recent lastUpdate (inside the soft window only
   * when f % 7200000 < soft — a data-dependent split), f%4=3 stale;
   * force on f%16=2 overrides the soft limit.
   *
   * Scale shape: one projection pass over the namespace scan — the
   * decision is a pure row function; no join, no shuffle except the
   * output sort.
   */
  def recoverLeases(objects: DataFrame): DataFrame = {
    val base = objects.select("volume", "bucket", "key", "object_id",
      "data_size", "version")
    val closed = base.filter(col("version") === 1 &&
        col("object_id") % 101 === 0)
      .withColumn("state", lit("CLOSED"))
    val ghosts = base.filter(col("version") === 1 &&
        col("object_id") % 101 === 0)
      .withColumn("key", concat(col("key"), lit(".gone")))
      .withColumn("state", lit("ABSENT"))
    val open = base.filter(col("version") === 5)
      .withColumn("state", lit("OPEN"))
    val reqs = closed.unionByName(ghosts).unionByName(open)
      .withColumn("f", expr("object_id DIV 10"))
      .withColumn("force", col("state") === "OPEN" && col("f") % 16 === 2)
      .withColumn("last_update",
        when(col("state") === "OPEN" && col("f") % 4 === 2,
          lit(LeaseNowMs) - col("f") % 7200000L)
          .otherwise(lit(LeaseNowMs) - LeaseSoftLimitMs - 1))
    // a 0-byte file has no blocks — and (0-1) DIV c is the one input
    // where Spark's truncating DIV and DuckDB's flooring // disagree
    val blocks = expr(
      s"IF(data_size <= 0, 0L, (data_size - 1) DIV ${graft.core.Tables.LocChunkBytes} + 1)")
    reqs
      .withColumn("decision",
        when(col("state") === "ABSENT", lit("KEY_NOT_FOUND"))
          .when(col("state") === "CLOSED", lit("KEY_ALREADY_CLOSED"))
          .when(col("f") % 4 === 0, lit("OPEN_KEY_DELETED"))
          .when(col("f") % 4 === 1, lit("ALREADY_UNDER_RECOVERY"))
          .when(!col("force") &&
            lit(LeaseNowMs) <
              col("last_update") + LeaseSoftLimitMs,
            lit("UNDER_SOFT_LIMIT"))
          .otherwise(lit("RECOVERED")))
      .withColumn("n_blocks",
        when(col("decision") === "RECOVERED", blocks).otherwise(lit(0L)))
      .select("volume", "bucket", "key", "decision", "n_blocks")
      .orderBy("volume", "bucket", "key", "decision")
  }

  /**
   * Multipart completion validation: per upload, parts must be unique and
   * gap-free from 1; emits the S3 multipart ETag = md5(concat of part etags)
   * || '-' || part count (ref S3MultipartUploadCompleteRequest.java:500-535
   * ETag-of-ETags, :616-652 INVALID_PART_ORDER).
   */
  def multipartValidate(parts: DataFrame): DataFrame = {
    val w = Window.partitionBy("upload_id").orderBy("part_number")
    parts
      .withColumn("prev_part", lag("part_number", 1).over(w))
      .groupBy("upload_id", "order_key")
      .agg(
        count(lit(1)).as("num_parts"),
        min("part_number").as("min_part"),
        max("part_number").as("max_part"),
        max(when(col("prev_part").isNotNull &&
          col("part_number") <= col("prev_part"), 1L).otherwise(0L))
          .as("has_dup"),
        sum("size").as("total_size"))
      .withColumn("is_valid",
        col("min_part") === 1 &&
        col("max_part") === col("num_parts") &&
        col("has_dup") === 0L)
      .drop("has_dup")
      .orderBy("upload_id")
  }

  /** S3 ETag-of-ETags per upload, parts concatenated in part order —
    * deterministic via sort_array on (part_number, etag) structs. */
  def multipartEtag(parts: DataFrame): DataFrame =
    parts
      .groupBy("upload_id")
      .agg(collect_list(struct(col("part_number"), col("etag"))).as("ps"))
      .withColumn("etag_of_etags",
        concat(
          md5(concat_ws("", sort_array(col("ps")).getField("etag"))),
          lit("-"),
          size(col("ps")).cast("string")))
      .select("upload_id", "etag_of_etags")
      .orderBy("upload_id")

  /** Latest-version-wins dedup — the cache-over-DB merge semantics
    * (OmMetadataManagerImpl.java:1114-1162): one winner per logical key
    * under (version desc, key, size desc). */
  def latestVersionWins(objects: DataFrame): DataFrame = {
    val lvKey = concat_ws("/", slice(split(col("key"), "/"), 1, 3))
    // (version desc, key asc, size desc) winner as min_by(-version, key,
    // -size): hash aggregate with map-side partial winners — at scale only
    // one candidate per lv_key per mapper crosses the shuffle, where the
    // window form shuffles and sorts EVERY version of every key.
    // NULL version/size must LOSE (the window dual's DESC sorts NULLs
    // last, and so does the oracle) but ascending struct comparison puts
    // NULLs first — map them to Long.MaxValue explicitly. Negation cannot
    // overflow: versions and sizes are non-negative counters in the model
    // (OmKeyInfo updateID / dataSize).
    val nv = when(col("version").isNull, lit(Long.MaxValue))
      .otherwise(-col("version")).as("nv")
    val ns = when(col("data_size").isNull, lit(Long.MaxValue))
      .otherwise(-col("data_size")).as("ns")
    objects
      .withColumn("lv_key", lvKey)
      .groupBy("volume", "bucket", "lv_key")
      .agg(min_by(
        struct(col("key"), col("version"), col("data_size")),
        struct(nv, col("key"), ns)).as("__w"))
      .select(col("volume"), col("bucket"), col("lv_key"),
        col("__w.key").as("key"), col("__w.version").as("version"),
        col("__w.data_size").as("data_size"))
      .orderBy("volume", "bucket", "lv_key")
  }

  /** One winner-or-boundary-partial row of [[latestVersionWinsSorted]];
    * boundary rows (first/last run of a scan partition) may continue in an
    * adjacent partition and re-combine in a tiny follow-up aggregate. */
  case class LvFoldRow(volume: String, bucket: String, lv_key: String,
                       key: String, version: Long, data_size: Long,
                       boundary: Boolean)

  /**
   * [[latestVersionWins]] over KEY-SORTED input (the
   * [[graft.core.Tables.objectsSorted]] warehouse layout): every version
   * of a logical key shares its 3-segment prefix, so in key order they
   * form one contiguous run — a per-partition streaming fold keeps ONE
   * candidate at a time and emits each run's winner with no shuffle and
   * no hash map. Only the first/last run of each partition may straddle a
   * partition boundary; those emit as partials and re-combine in an
   * aggregate over ~2×partitions rows. This is the reference's own shape:
   * the cache-over-DB merge walks a SORTED iterator
   * (OmMetadataManagerImpl.java:1114-1162), it never hash-groups the
   * table. Throws on key-order regressions — an unsorted scan could
   * split a run across two finals. min_by
   * [[latestVersionWins]] stays the unsorted dual.
   */
  def latestVersionWinsSorted(sortedObjects: DataFrame): DataFrame = {
    val spark = sortedObjects.sparkSession
    import spark.implicits._
    val folded = sortedObjects
      .select(col("volume").cast("string"), col("bucket").cast("string"),
        col("key"), col("version"), col("data_size"))
      .as[(String, String, String, Long, Long)]
      .mapPartitions { rows =>
        new Iterator[LvFoldRow] {
          private var curV: String = null
          private var curB: String = null
          private var prevKey: String = null
          private var lvKey: String = null
          private var bKey: String = null
          private var bVer = 0L
          private var bSize = 0L
          private var firstRun = true
          private var open = false

          private def lvKeyOf(key: String): String = {
            var seen = 0; var i = 0
            while (i < key.length && seen < 3) {
              if (key.charAt(i) == '/') seen += 1
              if (seen < 3) i += 1
            }
            if (seen == 3) key.substring(0, i) else key
          }

          /** (version desc, key asc, data_size desc) — the same total
            * order as the min_by dual and the oracle window. */
          private def beats(k: String, v: Long, s: Long): Boolean =
            v > bVer || (v == bVer && (k < bKey ||
              (k == bKey && s > bSize)))

          private def close(atEnd: Boolean): LvFoldRow = {
            val r = LvFoldRow(curV, curB, lvKey, bKey, bVer, bSize,
              boundary = firstRun || atEnd)
            firstRun = false
            open = false
            r
          }

          private def step(v: String, b: String, key: String,
                           ver: Long, size: Long): LvFoldRow = {
            var out: LvFoldRow = null
            if (v != curV || b != curB) {
              if (open) out = close(atEnd = true) // run hit a source switch
              curV = v; curB = b; prevKey = null; firstRun = true
            } else if (prevKey != null && key < prevKey)
              throw new IllegalStateException(
                s"latestVersionWinsSorted requires key-sorted input: '$key' " +
                  s"follows '$prevKey' in ($v, $b) — use latestVersionWins")
            prevKey = key
            val lk = lvKeyOf(key)
            if (!open) {
              // a source switch above closed any open run, so at most one
              // output per step: either that close or this run change
              lvKey = lk; bKey = key; bVer = ver; bSize = size; open = true
            } else if (lk != lvKey) {
              out = close(atEnd = false)
              lvKey = lk; bKey = key; bVer = ver; bSize = size; open = true
            } else if (beats(key, ver, size)) {
              bKey = key; bVer = ver; bSize = size
            }
            out
          }

          def hasNext: Boolean = rows.hasNext || open
          def next(): LvFoldRow = {
            while (rows.hasNext) {
              val r = rows.next()
              val out = step(r._1, r._2, r._3, r._4, r._5)
              if (out != null) return out
            }
            if (open) return close(atEnd = true) // last run of the partition
            throw new NoSuchElementException
          }
        }
      }.toDF()
    val finals = folded.filter(!col("boundary"))
      .select("volume", "bucket", "lv_key", "key", "version", "data_size")
    val nv = when(col("version").isNull, lit(Long.MaxValue))
      .otherwise(-col("version")).as("nv")
    val ns = when(col("data_size").isNull, lit(Long.MaxValue))
      .otherwise(-col("data_size")).as("ns")
    val combined = folded.filter(col("boundary"))
      .groupBy("volume", "bucket", "lv_key")
      .agg(min_by(
        struct(col("key"), col("version"), col("data_size")),
        struct(nv, col("key"), ns)).as("__w"))
      .select(col("volume"), col("bucket"), col("lv_key"),
        col("__w.key").as("key"), col("__w.version").as("version"),
        col("__w.data_size").as("data_size"))
    finals.unionByName(combined).orderBy("volume", "bucket", "lv_key")
  }

  /**
   * Byte-range read planning: for a `Range: bytes=a-b` request compute the
   * effective range and the 4 MB chunk span to fetch (ref
   * ObjectEndpoint.java:416-471; chunk size ScmConfigKeys.java:136). Pure
   * arithmetic projection — at scale this is the planner for chunk-level
   * parallel fetches.
   */
  def rangeReadPlan(objects: DataFrame, rangeStart: Long, rangeEnd: Long,
                    chunkSize: Long = 4L * 1024 * 1024): DataFrame =
    objects
      .filter(col("data_size") > rangeStart)
      .withColumn("eff_start", lit(rangeStart))
      .withColumn("eff_end", least(lit(rangeEnd), col("data_size") - 1))
      .withColumn("first_chunk", expr(s"eff_start DIV ${chunkSize}"))
      .withColumn("last_chunk", expr(s"eff_end DIV ${chunkSize}"))
      .withColumn("content_range",
        concat(lit("bytes "), col("eff_start"), lit("-"), col("eff_end"),
          lit("/"), col("data_size")))
      .select("key", "data_size", "eff_start", "eff_end", "first_chunk",
        "last_chunk", "content_range")
      .orderBy("key", "data_size")

  /** Integrity columns: sha256 + md5 + crc32 over key identity (the container
    * scanner's checksum verification shape —
    * BackgroundContainerDataScanner.java:33-103). CRC32 exists in Spark but
    * not DuckDB, so the oracle covers md5/sha256; crc32 parity against the
    * JDK implementation is covered by FunctionsSpec in src/test. */
  def checksumColumns(objects: DataFrame): DataFrame =
    objects
      .select(
        col("key"),
        col("etag"),
        sha2(col("key").cast("binary"), 256).as("sha256_hex"),
        (md5(col("key")) === col("etag")).as("etag_ok"))
      .orderBy("key")

  /** crc32 of a string column (Spark built-in; oracle-exempt — spec-tested
    * against java.util.zip.CRC32). */
  def crc32Of(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    crc32(c.cast("binary"))

  /**
   * Composite file checksum — the ozone client's getFileChecksum path
   * (client/.../checksum/BaseFileChecksumHelper.java:381-398: per-block
   * CRCs fold through a CrcComposer; CompositeCrcFileChecksum.java:32-56
   * carries "COMPOSITE-CRC32C/CRC32"). The defining contract is that the
   * composed value equals the CRC of the whole byte stream regardless of
   * block boundaries — data never re-reads. Here each asset's payload
   * splits into UNEQUAL block slices, each block CRCs independently
   * (Spark's codegen'd crc32), and the blocks fold through the GF(2)
   * composition ([[graft.functions.Crc32Combine]]); `compose_ok`
   * cross-checks against the direct whole-payload CRC inside the query.
   *
   * Scale shape: per-row arithmetic only — block CRCs in one projection,
   * the fold over the (small, per-file) block array in a UDF; no shuffle
   * beyond the final presentation sort. At 100 TB the block CRCs arrive
   * FROM the datanodes (the reference never reads data for a checksum
   * call) — this models the OM-side composition over the block list.
   */
  def compositeFileChecksum(assets: DataFrame): DataFrame = {
    val slices = Seq((1, 16), (17, 8), (25, 24), (49, 16))
    val combineUdf = udf((crcs: Seq[Long], lens: Seq[Long]) =>
      graft.functions.Crc32Combine.compose(crcs.zip(lens)))
    val crcArr = array(slices.map { case (off, len) =>
      crc32(expr(s"substring(payload, $off, $len)")) }: _*)
    val lenArr = array(slices.map { case (_, len) => lit(len.toLong) }: _*)
    assets
      .withColumn("composite_crc", combineUdf(crcArr, lenArr))
      .withColumn("direct_crc", crc32(col("payload")))
      .select(
        col("media_id"),
        lit("COMPOSITE-CRC32").as("algorithm"),
        lit(slices.size.toLong).as("n_blocks"),
        lit(slices.map(_._2).sum.toLong).as("total_len"),
        (col("composite_crc") === col("direct_crc")).as("compose_ok"))
      .orderBy("media_id")
  }

  /** Expired multipart uploads: uploads initiated before `beforeMs`, with
    * their reclaimable part totals — the MPU-expiry dual of openKeyExpiry
    * (ref ExpiredMultipartUploadsAbortRequest / OmMetadataManagerImpl
    * getExpiredMultipartUploads). One groupBy on upload_id. */
  def mpuExpiry(parts: DataFrame, beforeMs: Long): DataFrame =
    parts
      .groupBy("upload_id")
      .agg(
        min("creation_time").as("initiated"),
        count(lit(1)).as("num_parts"),
        sum("size").as("total_size"))
      .filter(col("initiated") < beforeMs)
      .orderBy("upload_id")

  /**
   * MPU-cleanup budget walk + expired-abort ladder — the full
   * MultipartUploadCleanupService round:
   *
   * Selection (OmMetadataManagerImpl.getExpiredMultipartUploads:1527-1578):
   * the multipartInfoTable is iterated in dbMultipartInfoKey order
   * (/volume/bucket/key/uploadId) with the parts budget checked at LOOP
   * TOP (`while (numParts < maxParts && hasNext)`), so
   *  - an entry is reached iff the parts charged by EXPIRED entries
   *    strictly before it are still < maxParts — the entry that crosses
   *    the budget is itself fully included (boundary overrun), and the
   *    FIRST loop-top at ≥ maxParts stops the walk: later entries,
   *    expired or not, are NOT_REACHED;
   *  - only expired entries (creationTime <= now − expireThreshold,
   *    :1535-1536,1549) charge the budget; a non-expired entry is walked
   *    free (NOT_EXPIRED). Both part-count schema versions reduce to the
   *    upload's part count (:1563-1569 — SPLIT counts multipartPartsTable
   *    rows, legacy reads the embedded partKeyInfoMap size), which is
   *    `num_parts` here.
   *
   * Abort apply (S3ExpiredMultipartUploadsAbortRequest:196-290), per
   * selected upload grouped by bucket:
   *  - bucket gone from the bucket table → the whole bucket's batch is
   *    skipped (:215-219 SKIP_BUCKET_MISSING);
   *  - the MPU no longer in multipartInfoTable at apply time (completed /
   *    client-aborted between selection and apply, :227-233) → SKIP_GONE;
   *  - trxnLogIndex < the entry's updateID (:236-241) → SKIP_UPDATE_FENCE;
   *  - else ABORTED: the open MPU key is removed and all parts move to
   *    the delete table (parts_deleted).
   *
   * Scale shape: one prefix-sum window over the sorted store reproduces
   * the sequential budget recurrence (same argument as
   * Reclaim.dirDeleteWalk); the bucket probe is a broadcast of the
   * control-plane bucket dim. The budget bounds the touched prefix — a
   * production run would push a `limit` on the sorted scan first; the
   * full-table classification here is the per-round decision table.
   */
  def mpuCleanupWalk(store: DataFrame, liveBuckets: DataFrame,
                     expiredBeforeMs: Long, maxParts: Long,
                     trxnIndex: Long): DataFrame = {
    val w = Window.partitionBy(lit(0)).orderBy("mpu_key")
      .rowsBetween(Window.unboundedPreceding, -1)
    store
      .withColumn("mpu_key",
        concat(lit("/"), col("volume"), lit("/"), col("bucket"), lit("/"),
          col("key"), lit("/"), col("upload_id")))
      .withColumn("expired", col("initiated_ms") <= expiredBeforeMs)
      .withColumn("parts_charge",
        when(col("expired"), col("num_parts")).otherwise(lit(0L)))
      .withColumn("budget_raw",
        lit(maxParts) - coalesce(sum("parts_charge").over(w), lit(0L)))
      // Past the stop the loop never runs, so nothing more charges: every
      // NOT_REACHED row reads the exit budget — the raw prefix sum is
      // monotone nonincreasing, so that is the max of its ≤0 values.
      .withColumn("budget_before",
        when(col("budget_raw") <= 0,
          max(when(col("budget_raw") <= 0, col("budget_raw")))
            .over(Window.partitionBy(lit(0))))
          .otherwise(col("budget_raw")))
      .join(broadcast(liveBuckets.select("volume", "bucket")
        .withColumn("bucket_live", lit(true))),
        Seq("volume", "bucket"), "left")
      .withColumn("decision",
        when(col("budget_before") <= 0, lit("NOT_REACHED"))
          .when(!col("expired"), lit("NOT_EXPIRED"))
          .when(col("bucket_live").isNull, lit("SKIP_BUCKET_MISSING"))
          .when(!col("present_at_apply"), lit("SKIP_GONE"))
          .when(lit(trxnIndex) < col("update_id"), lit("SKIP_UPDATE_FENCE"))
          .otherwise(lit("ABORTED")))
      .withColumn("parts_deleted",
        when(col("decision") === "ABORTED", col("num_parts"))
          .otherwise(lit(0L)))
      .select("mpu_key", "decision", "num_parts", "budget_before",
        "parts_deleted")
      .orderBy("mpu_key")
  }

  /** ListMultipartUploads: the in-flight uploads of ONE bucket, optional
    * key prefix, ordered by (key, upload_id) with keyset pagination — ref
    * OzoneManagerRequestHandler.java:253 walking multipartInfoTable
    * (OMDBDefinition.java:230-235, keyed /vol/bucket/key/uploadId). The
    * resume token is the FULL (key, upload_id) pair: several in-flight
    * uploads of the SAME key are normal, and a key-only token would skip
    * the same-key siblings past a page boundary. Same sargable prefix
    * range as the key listings, maxUploads+1 rows for truncation. */
  def listMultipartUploads(multipartInfo: DataFrame, volume: String,
                           bucket: String, prefix: String,
                           startKey: String = "", startUploadId: String = "",
                           maxUploads: Int = 1000): DataFrame =
    multipartInfo
      .filter(col("volume") === volume && col("bucket") === bucket &&
        Listing.prefixPred(col("key"), prefix) &&
        (col("key") > startKey ||
          (col("key") === startKey && col("upload_id") > startUploadId)))
      .select("key", "upload_id", "initiated_ms", "num_parts")
      .orderBy("key", "upload_id")
      .limit(maxUploads + 1)

  /**
   * S3 ListParts, evaluated for every upload as one batch (the gateway
   * serves one upload per request — MultipartKeyHandler.java:126-175; the
   * batch form answers all of them in a single pass, the same shape as the
   * CopyObject/MultiDelete decision tables): parts with
   * `part_number > partNumberMarker` in part order, at most `maxParts` per
   * upload, with the per-upload truncation flag and
   * next-part-number-marker (= last returned part number) riding every
   * row. The stored part map is keyed by part number
   * (multipartInfoTable's PartKeyInfo map) — a re-uploaded part REPLACES
   * the stored one, so duplicate fixture parts dedup latest-wins
   * ((creation_time, size) desc, etag) first.
   *
   * Scale shape: the dedup is a map-side-partial min_by hash agg; the page
   * cut is one window over (upload_id, part_number) — a single shuffle of
   * the parts table, already tiny relative to the data plane.
   */
  def listParts(parts: DataFrame, partNumberMarker: Int,
                maxParts: Int): DataFrame = {
    val nct = when(col("creation_time").isNull, lit(Long.MaxValue))
      .otherwise(-col("creation_time"))
    val nsz = when(col("size").isNull, lit(Long.MaxValue))
      .otherwise(-col("size"))
    val stored = parts
      .groupBy("upload_id", "order_key", "part_number")
      .agg(min_by(
        struct(col("etag"), col("size"), col("creation_time")),
        struct(nct, nsz, col("etag"))).as("__w"))
      .select(col("upload_id"), col("order_key"), col("part_number"),
        col("__w.etag").as("etag"), col("__w.size").as("size"),
        col("__w.creation_time").as("last_modified"))
    val w = Window.partitionBy("upload_id").orderBy("part_number")
    val wAll = Window.partitionBy("upload_id")
    stored
      .filter(col("part_number") > partNumberMarker)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rn") <= maxParts)
      .withColumn("truncated", col("__n") > maxParts)
      .withColumn("next_part_number_marker",
        when(col("truncated"),
          max(when(col("__rn") === maxParts, col("part_number")))
            .over(wAll)).otherwise(lit(0)))
      .select("upload_id", "order_key", "part_number", "etag", "size",
        "last_modified", "truncated", "next_part_number_marker")
      .orderBy("upload_id", "part_number")
  }

  /** Replica-report history lag/lead per (container, datanode): first/last
    * seen and the largest report gap — ref ContainerEndpoint.java:330-345
    * (replica history timeline). One shuffle on the composite key; the gap
    * uses lag() inside each partition. */
  def replicaHistoryStats(history: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("container_id", "datanode").orderBy("ts")
    history
      .withColumn("gap", col("ts") - lag("ts", 1).over(w))
      .groupBy("container_id", "datanode")
      .agg(
        count(lit(1)).as("n_reports"),
        min("ts").as("first_seen"),
        max("ts").as("last_seen"),
        coalesce(max("gap"), lit(0L)).as("max_gap_ms"))
      .orderBy("container_id", "datanode")
  }

  /** URL-encoded key form + decode round trip (s3gateway edge serialization;
    * ref ObjectEndpoint key handling). Output parity note: for the key
    * alphabet [A-Za-z0-9./] only '/' percent-encodes, so the DuckDB oracle
    * mirrors with a replace chain. */
  def urlEncoded(objects: DataFrame): DataFrame =
    objects
      .select(col("key"), expr("url_encode(key)").as("enc"))
      .withColumn("roundtrip", expr("url_decode(enc)") === col("key"))
      .orderBy("key")

  /** JSON-at-the-edge serialization of the key record (the REST response
    * shape; ref Recon API types). Compact struct→JSON, engine-identical. */
  def jsonEdge(objects: DataFrame): DataFrame =
    objects
      .select(col("key"),
        to_json(struct(col("key"), col("data_size").as("size"))).as("doc"))
      .orderBy("key", "doc")

  /**
   * CommitPart (S3MultipartUploadCommitPartRequest.validateAndUpdateCache)
   * as a decision table, in reference branch order:
   *   1. validateBucketAndVolume (:150)            → BUCKET_NOT_FOUND
   *   2. open key by (vol,bkt,key,clientID) absent (:168 — the lookup
   *      happens after the multipartInfo GET but its null-check comes
   *      first)                                    → KEY_NOT_FOUND
   *   3. multipartInfoTable miss (:199 — upload aborted while the part
   *      was uploading)                            → NO_SUCH_MULTIPART_UPLOAD
   *   4. blank ETag in the split parts-table schema (:229-233, mandatory
   *      for every committed part)                 → INVALID_REQUEST
   *   5. COMMITTED — replaced_previous is true when the part number was
   *      already committed (oldMultipartPartInfo != null: the reference
   *      moves the old part to the delete table).
   *
   * Scale shape: the request batch broadcasts into every probe — the
   * open-part and parts tables are first left-semi-restricted to the
   * requested keys, so the big sides never shuffle and all decision
   * logic runs on request-sized frames.
   */
  /**
   * Recon deleted-keys insight (OMDBInsightEndpoint.getDeletedKeySummary
   * :356-378 — totalDeletedKeys counts every buffered deleted VERSION,
   * plus both size totals — grouped per bucket like the open-keys
   * rollup): the deleted population is the commit log's deleted keys
   * ([[CommitLog.isDeleted]]), summed over unreplicated data_size and
   * QuotaUtil-replicated size.
   *
   * Scale shape: one pushdown-filtered scan (the deleted-key predicate
   * reaches parquet) + one map-side-combined hash agg per bucket.
   */
  def deletedKeysInsight(objects: DataFrame): DataFrame =
    objects
      .filter(CommitLog.isDeleted)
      .groupBy("volume", "bucket")
      .agg(count(lit(1)).as("deleted_count"),
        sum("data_size").as("unreplicated_bytes"),
        sum("replicated_size").as("replicated_bytes"))
      .orderBy("volume", "bucket")

  /**
   * ListOpenFiles (OzoneManager.listOpenFiles:3558-3643 →
   * OmMetadataManagerImpl.listOpenFiles): an admin-only page walk over
   * the open-key table in DB-KEY order, where the db key is
   * volume/bucket/key/clientId — the same open entry key the commit path
   * probes. The continuation token is the last returned db key; the
   * reference seeks to it and skips the exact match, so resume is
   * strictly-greater. Page shape mirrors [[Listing.listKeys]]: maxKeys+1
   * rows, the caller derives truncation from the extra row.
   *
   * hsync derives client_id % 3 == 0, consistent with
   * [[openKeysInsight]]. Scale shape: prefix filter + top-k on the
   * open-key table — sargable on a key-sorted store, no join.
   */
  def listOpenFiles(openKeys: DataFrame, pathPrefix: String, maxKeys: Int,
                    contToken: String = ""): DataFrame =
    openKeys
      .withColumn("hsync", col("client_id") % 3 === 0)
      .withColumn("db_key", concat_ws("/", col("volume"), col("bucket"),
        col("key"), col("client_id")))
      .filter(col("db_key").startsWith(pathPrefix) &&
        col("db_key") > contToken)
      // the synthetic lineitem carries duplicate (orderkey, linenumber)
      // rows whose OTHER columns differ — a KV open-key table has ONE
      // value per db key, so canonicalize by min(data_size)
      .groupBy("db_key", "volume", "bucket", "key", "client_id", "hsync")
      .agg(min("data_size").as("data_size"))
      .orderBy("db_key")
      .limit(maxKeys + 1)

  /**
   * InitiateMultipartUpload ladder (S3InitiateMultipartUploadRequest
   * .java): preExecute resolves the bucket link (:101-103
   * resolveBucketAndCheckKeyAcls — a dangling chain is a missing bucket,
   * a loop refuses) → validateAndUpdateCache: validateBucketAndVolume
   * (:154) → for path-normalizing layouts (FSO) verifyFilesInPath over
   * the key's parent chain (:184-189 — an existing FILE ancestor refuses
   * NOT_A_FILE; the key ITSELF already existing is FINE, :176-182 AWS
   * parity, resolved at complete time) → replication preference
   * resolution (:190-196 OzoneConfigUtil
   * .resolveReplicationConfigPreference: request > bucket default >
   * server default) → INITIATED, minting the uploadId; the open-key and
   * multipartInfo entries are keyed (key, uploadId) so concurrent
   * uploads of one key coexist (:157-177).
   *
   * Bucket default replication is derived bucket_idx % 3
   * (0 RATIS/THREE, 1 EC, 2 unset) — the preference chain's middle rung
   * stays observable. upload_id is a deterministic digest stand-in for
   * OMMultipartUploadUtils.getMultipartUploadId.
   *
   * Scale shape: link/bucket probes broadcast; the ancestor-file probe
   * explodes the request batch's parent chains and left-semi-restricts
   * the namespace scan to them — the big side never shuffles.
   */
  def mpuInitiateDecisions(requests: DataFrame, buckets: DataFrame,
                           links: Seq[Links.LinkRow], objects: DataFrame,
                           serverDefaultRepl: String = "RATIS/THREE")
      : DataFrame = {
    val bktProbe = buckets
      .withColumn("__bidx", substring(col("bucket"), 7, 10).cast("long"))
      .select(col("volume").as("rv"), col("bucket").as("rb"),
        col("layout").as("__layout"),
        when(col("__bidx") % 3 === 0, lit("RATIS/THREE"))
          .when(col("__bidx") % 3 === 1, lit("EC/rs-3-2-1024k"))
          .otherwise(lit("")).as("__bucket_default"),
        lit(true).as("bkt_exists"))
    val staged = Links.stageLinkTargets(requests, links, buckets)
    val anc = staged
      .withColumn("__parent", Aggregates.parentDirOf("key"))
      .filter(col("__parent") =!= "")
      .select(col("req_id"), col("rv"), col("rb"),
        explode(Aggregates.dirAndAncestors("__parent")).as("pfx"))
    val pfxKeys = anc.select(col("rv").as("volume"),
      col("rb").as("bucket"), col("pfx").as("key")).distinct()
    val fileHits = objects
      .join(broadcast(pfxKeys), Seq("volume", "bucket", "key"), "left_semi")
      .select(col("volume").as("rv"), col("bucket").as("rb"),
        col("key").as("pfx")).distinct()
      .withColumn("__is_file", lit(true))
    val ancFlags = anc
      .join(broadcast(fileHits), Seq("rv", "rb", "pfx"), "left")
      .groupBy("req_id")
      .agg(max(coalesce(col("__is_file"), lit(false))).as("__anc_file"))
    staged
      .join(broadcast(bktProbe), Seq("rv", "rb"), "left")
      .join(broadcast(ancFlags), Seq("req_id"), "left")
      .withColumn("decision",
        when(col("link_status") === "CYCLE", lit("LINK_LOOP"))
          .when(col("link_status") === "DANGLING" ||
            col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("__layout") === "FSO" &&
            coalesce(col("__anc_file"), lit(false)), lit("NOT_A_FILE"))
          .otherwise(lit("INITIATED")))
      .select(col("req_id"),
        col("rv").as("resolved_volume"), col("rb").as("resolved_bucket"),
        col("key"), col("decision"),
        when(col("decision") =!= "INITIATED", lit(""))
          .when(col("requested_repl") =!= "", col("requested_repl"))
          .when(col("__bucket_default") =!= "", col("__bucket_default"))
          .otherwise(lit(serverDefaultRepl)).as("effective_replication"),
        when(col("decision") === "INITIATED",
          md5(concat_ws("|", col("rv"), col("rb"), col("key"),
            col("req_id")))).otherwise(lit("")).as("upload_id"))
      .orderBy("req_id")
  }

  def mpuCommitPart(requests: DataFrame, openParts: DataFrame,
                    mpuInfo: DataFrame, parts: DataFrame,
                    buckets: DataFrame): DataFrame = {
    val bktProbe = buckets.select(col("volume"), col("bucket"),
      lit(true).as("bkt_exists"))
    val openProbe = openParts
      .join(broadcast(requests.select("volume", "bucket", "key",
        "client_id")), Seq("volume", "bucket", "key", "client_id"),
        "left_semi")
      .select(col("volume"), col("bucket"), col("key"), col("client_id"),
        lit(true).as("open_exists")).distinct()
    val infoProbe = mpuInfo.select(col("volume"), col("bucket"),
      col("key"), col("upload_id"), lit(true).as("mpu_exists"))
    val partProbe = parts
      .select(col("upload_id"), col("part_number").cast("int")
        .as("part_number"), lit(true).as("had_part")).distinct()
    requests
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .join(broadcast(openProbe),
        Seq("volume", "bucket", "key", "client_id"), "left")
      .join(broadcast(infoProbe),
        Seq("volume", "bucket", "key", "upload_id"), "left")
      .join(broadcast(partProbe), Seq("upload_id", "part_number"), "left")
      .withColumn("decision",
        when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("open_exists").isNull, lit("KEY_NOT_FOUND"))
          .when(col("mpu_exists").isNull, lit("NO_SUCH_MULTIPART_UPLOAD"))
          .when(col("etag").isNull || trim(col("etag")) === "",
            lit("INVALID_REQUEST"))
          .otherwise(lit("COMMITTED")))
      .select(col("req_id"), col("volume"), col("bucket"), col("key"),
        col("part_number"), col("decision"),
        (col("decision") === "COMMITTED" &&
          coalesce(col("had_part"), lit(false))).as("replaced_previous"))
      .orderBy("req_id")
  }

  /**
   * AbortMultipartUpload (S3MultipartUploadAbortRequest
   * .validateAndUpdateCache:140-175) as a decision table:
   *   1. validateBucketAndVolume → BUCKET_NOT_FOUND
   *   2. multipartInfoTable miss → NO_SUCH_MULTIPART_UPLOAD (an open-key
   *      miss alone is only a WARN in the reference — orphan parts from
   *      OpenKeyCleanupService — and does not fail the abort)
   *   3. ABORTED, reporting the cleanup the response carries: committed
   *      parts moved to the delete table and their byte sum (the quota
   *      release).
   * Probe sides restrict to the request batch before any aggregation.
   */
  def mpuAbort(requests: DataFrame, mpuInfo: DataFrame, parts: DataFrame,
               buckets: DataFrame): DataFrame = {
    val bktProbe = buckets.select(col("volume"), col("bucket"),
      lit(true).as("bkt_exists"))
    val infoProbe = mpuInfo.select(col("volume"), col("bucket"),
      col("key"), col("upload_id"), lit(true).as("mpu_exists"))
    val partAgg = parts
      .join(broadcast(requests.select("upload_id")), Seq("upload_id"),
        "left_semi")
      .groupBy("upload_id")
      .agg(count(lit(1)).as("n_parts"), sum("size").as("part_bytes"))
    requests
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .join(broadcast(infoProbe),
        Seq("volume", "bucket", "key", "upload_id"), "left")
      .join(broadcast(partAgg), Seq("upload_id"), "left")
      .withColumn("decision",
        when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("mpu_exists").isNull,
            lit("NO_SUCH_MULTIPART_UPLOAD"))
          .otherwise(lit("ABORTED")))
      .select(col("req_id"), col("volume"), col("bucket"), col("key"),
        col("decision"),
        when(col("decision") === "ABORTED",
          coalesce(col("n_parts"), lit(0L))).otherwise(lit(0L))
          .as("parts_removed"),
        when(col("decision") === "ABORTED",
          coalesce(col("part_bytes"), lit(0L))).otherwise(lit(0L))
          .as("bytes_released"))
      .orderBy("req_id")
  }

  /** The reference's multipart minimum part size
    * (OzoneConsts.OM_MULTIPART_MIN_SIZE = 5 MiB, OzoneConsts.java:357) —
    * every part but the LAST in the request list must meet it. */
  val MinMpuPartSize = 5L * 1024 * 1024

  /**
   * CompleteMultipartUpload ladder — the S3 write path's final step
   * (S3MultipartUploadCompleteRequest.java, reference decision order):
   *   1. bucket/volume probe (validateBucketAndVolume)
   *   2. checkDirectoryAlreadyExists (:263,:425-436) — a directory at
   *      the key path refuses NOT_A_FILE, and this runs BEFORE the
   *      multipartInfoTable probe (probed with an unknown uploadId on a
   *      colliding key)
   *   3. multipartInfoTable miss → NO_SUCH_MULTIPART_UPLOAD_ERROR (:266)
   *   4. empty client part list → INVALID_REQUEST (:376-379)
   *   5. upload with NO parts in OM → INVALID_PART (:290-295)
   *   6. the WHOLE list's order scan (getPartsListSize:614-637):
   *      prev >= current at any index → INVALID_PART_ORDER — this scan
   *      completes BEFORE any per-part validation
   *   7. the per-part walk in list order (getMultipartDataSize:640-694):
   *      per part, the stored-part lookup + ETag match first
   *      (INVALID_PART), then — for every part but the request's LAST —
   *      the stored size against the 5 MiB floor (ENTITY_TOO_SMALL);
   *      the earliest failing part decides
   *   8. COMPLETED: data_size = Σ referenced stored sizes, ETag-of-ETags
   *      = md5(concat of part ETags in list order) + "-" + partCount.
   *      A SUBSET of stored parts completes fine (AWS parity — the
   *      unreferenced parts are discarded).
   *
   * Scale shape: request/store dims broadcast; the part-list walk is one
   * lag window + one groupBy on req_id over protocol-sized lists.
   */
  def mpuComplete(requests: DataFrame, reqParts: DataFrame,
                  store: DataFrame, storeParts: DataFrame,
                  dirs: DataFrame, buckets: DataFrame): DataFrame = {
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumn("bkt_exists", lit(true))
    val dirProbe = dirs.select(col("volume"), col("bucket"),
      col("dir").as("key"), lit(true).as("dir_collides"))
    val storeProbe = store.select(col("volume"), col("bucket"),
      col("key"), col("upload_id"), lit(true).as("mpu_exists"))
    val storedCount = storeParts.groupBy("upload_id")
      .agg(count(lit(1)).as("stored_parts"))
    // the per-request part walk: order scan + stored-part lookup
    val walked = reqParts
      .join(broadcast(requests.select("req_id", "upload_id")),
        Seq("req_id"))
      .withColumn("prev_part", lag("part_number", 1).over(
        Window.partitionBy("req_id").orderBy("pos")))
      .join(broadcast(storeParts.select(col("upload_id"),
          col("part_number"), col("etag").as("om_etag"),
          col("size").as("om_size"))),
        Seq("upload_id", "part_number"), "left")
      .withColumn("max_pos",
        max("pos").over(Window.partitionBy("req_id")))
    val perReq = walked.groupBy("req_id").agg(
      count(lit(1)).as("n_req_parts"),
      min(when(col("prev_part").isNotNull &&
        col("prev_part") >= col("part_number"), col("pos")))
        .as("order_err_pos"),
      // per part: lookup/etag first, then (non-last) the size floor
      min(when(col("om_etag").isNull || col("om_etag") =!= col("etag"),
        struct(col("pos"), lit("INVALID_PART").as("e")))
        .when(col("pos") =!= col("max_pos") &&
          col("om_size") < MinMpuPartSize,
          struct(col("pos"), lit("ENTITY_TOO_SMALL").as("e"))))
        .as("walk_err"),
      sum("om_size").as("data_size_sum"),
      concat(
        md5(concat_ws("", sort_array(
          collect_list(struct(col("pos"), col("etag")))).getField("etag"))),
        lit("-"), count(lit(1)).cast("string")).as("etag_of_etags"))
    requests
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .join(broadcast(dirProbe), Seq("volume", "bucket", "key"), "left")
      .join(broadcast(storeProbe),
        Seq("volume", "bucket", "key", "upload_id"), "left")
      .join(broadcast(storedCount), Seq("upload_id"), "left")
      .join(broadcast(perReq), Seq("req_id"), "left")
      .withColumn("decision",
        when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("dir_collides").isNotNull, lit("NOT_A_FILE"))
          .when(col("mpu_exists").isNull,
            lit("NO_SUCH_MULTIPART_UPLOAD_ERROR"))
          .when(col("n_req_parts").isNull, lit("INVALID_REQUEST"))
          .when(coalesce(col("stored_parts"), lit(0L)) === 0L,
            lit("INVALID_PART"))
          .when(col("order_err_pos").isNotNull, lit("INVALID_PART_ORDER"))
          .when(col("walk_err").isNotNull, col("walk_err.e"))
          .otherwise(lit("COMPLETED")))
      .select(col("req_id"), col("volume"), col("bucket"), col("key"),
        col("upload_id"), col("decision"),
        when(col("decision") === "COMPLETED", col("data_size_sum"))
          .otherwise(lit(0L)).as("data_size"),
        when(col("decision") === "COMPLETED", col("etag_of_etags"))
          .otherwise(lit("")).as("etag"))
      .orderBy("req_id")
  }

  /**
   * SetTimes ladder (OMKeySetTimesRequest): mtime < -1 rejected in
   * preExecute (:211-212, BEFORE any lookup) → INVALID_REQUEST; bucket
   * probe → BUCKET_NOT_FOUND; key lookup (:228) → KEY_NOT_FOUND;
   * mtime ≥ 0 → SET (new mtime); mtime == -1 → KEPT (the stored mtime
   * stands, :187-188). effective_mtime reports the resulting value
   * (-1 for failed requests).
   */
  def setTimesDecisions(requests: DataFrame, objects: DataFrame,
                        buckets: DataFrame): DataFrame = {
    val keyProbe = objects
      .join(broadcast(requests.select("volume", "bucket", "key")),
        Seq("volume", "bucket", "key"), "left_semi")
      .groupBy("volume", "bucket", "key")
      .agg(max(col("modification_time")).as("cur_mtime"))
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumn("bkt_exists", lit(true))
    requests
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .join(broadcast(keyProbe), Seq("volume", "bucket", "key"), "left")
      .withColumn("decision",
        when(col("mtime") < -1L, lit("INVALID_REQUEST"))
          .when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("cur_mtime").isNull, lit("KEY_NOT_FOUND"))
          .when(col("mtime") >= 0, lit("SET"))
          .otherwise(lit("KEPT")))
      .select(col("req_id"), col("volume"), col("bucket"), col("key"),
        col("decision"),
        when(col("decision") === "SET", col("mtime"))
          .when(col("decision") === "KEPT", col("cur_mtime"))
          .otherwise(lit(-1L)).as("effective_mtime"))
      .orderBy("req_id")
  }

  /**
   * KeyCommit ladder (OMKeyCommitRequest.validateAndUpdateCache:200-380 —
   * the write-path hot RPC), over requests pre-resolved against their
   * open-entry / committed-key state (the resolution join itself is the
   * broadcast probe pattern of [[mpuCommitPart]]):
   *   1. validateBucketAndVolume → BUCKET_NOT_FOUND
   *   2. recovery of a key whose committed form carries no hsync writer
   *      (:249-251, BEFORE the open-key lookup — the writer clientID
   *      comes from that metadata) → KEY_ALREADY_CLOSED
   *   3. open entry for (key, clientID) absent (:260-262) → KEY_NOT_FOUND
   *   4. open entry marked deleted/overwritten-hsync (:264-266) → also
   *      KEY_NOT_FOUND, surfaced via reason=DELETED_HSYNC
   *   5. LEASE_RECOVERY metadata on a non-recovery commit (:271-273)
   *      → KEY_UNDER_LEASE_RECOVERY
   *   6. bucket byte-quota on the committed allocation (:326
   *      checkBucketQuotaInBytes; quota -1 = unset admits anything)
   *      → QUOTA_EXCEEDED
   *   7. COMMITTED (RECOVERED for recovery requests).
   */
  def keyCommitDecisions(requests: DataFrame,
                         buckets: DataFrame): DataFrame = {
    val bktProbe = buckets.select(col("volume"), col("bucket"),
      col("quota_bytes"), col("used_bytes"), lit(true).as("bkt_exists"))
    requests
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .withColumn("decision",
        when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("is_recovery") && !col("committed_has_hsync_writer"),
            lit("KEY_ALREADY_CLOSED"))
          .when(!col("open_exists"), lit("KEY_NOT_FOUND"))
          .when(col("open_deleted_hsync"), lit("KEY_NOT_FOUND"))
          .when(col("open_lease_recovery") && !col("is_recovery"),
            lit("KEY_UNDER_LEASE_RECOVERY"))
          .when(col("quota_bytes") > -1L &&
            col("used_bytes") + col("commit_size") > col("quota_bytes"),
            lit("QUOTA_EXCEEDED"))
          .when(col("is_recovery"), lit("RECOVERED"))
          .otherwise(lit("COMMITTED")))
      .select(col("req_id"), col("volume"), col("bucket"), col("key"),
        col("decision"),
        when(col("decision") === "KEY_NOT_FOUND" && col("open_exists") &&
          col("open_deleted_hsync"), lit("DELETED_HSYNC"))
          .otherwise(lit("")).as("reason"))
      .orderBy("req_id")
  }

  /** Modeled ozone.scm.block.size — 1 MiB (the reference default is
    * 256 MB but it is a plain config; 1 MiB keeps the fixture's plain
    * allocations inside every bucket's quota headroom while the cls-5
    * 4000-block probe still overruns all of them). */
  val ScmBlockBytes = 1048576L

  /** QuotaUtil.getReplicatedSize (QuotaUtil.java:47-62) over a size in
    * whole scm blocks: RATIS/THREE ×3, RATIS/ONE ×1, EC/rs-3-2-1024k
    * exact stripe math (chunk = 1 MiB = one block here, data=3 parity=2:
    * fullStripes·parity·chunk + min(chunk, rem)·parity overhead). */
  def replicatedBlockBytes(blocks: Column, repType: Column): Column = {
    val mb = lit(ScmBlockBytes)
    when(repType === "RATIS/THREE", blocks * mb * 3L)
      .when(repType.startsWith("EC/"),
        blocks * mb + floor(blocks / 3L).cast("long") * 2L * mb +
          when(blocks % 3L > 0L, lit(2L) * mb).otherwise(lit(0L)))
      .otherwise(blocks * mb)
  }

  /**
   * AllocateBlock validation ladder (OMAllocateBlockRequest.java:175-230,
   * reference order):
   *   1. validateBucketAndVolume (:181)            → BUCKET_NOT_FOUND
   *   2. open-key lookup by (key, clientID) — a mismatched clientID finds
   *      no entry (:190-196)                       → KEY_NOT_FOUND
   *   3. LEASE_RECOVERY metadata marker (:199-201) → KEY_UNDER_LEASE_RECOVERY
   *   4. DELETED_HSYNC / OVERWRITTEN_HSYNC marker (:204-206) → KEY_NOT_FOUND
   *   5. bucket quota vs replicated(preAllocated=1 block) +
   *      replicated(hadAllocated blocks) (:215-226, QuotaUtil math) →
   *      QUOTA_EXCEEDED
   *   6. ALLOCATED (block appended; new block count reported).
   *
   * Scale shape: one broadcast bucket probe into the request-batch scan —
   * allocateBlock is called serially per client in the reference, here a
   * whole batch resolves in one codegen'd pass with zero shuffles.
   */
  def allocateBlockDecisions(requests: DataFrame,
                             buckets: DataFrame): DataFrame = {
    val bktProbe = buckets.select(col("volume"), col("bucket"),
      col("quota_bytes"), col("used_bytes"), lit(true).as("bkt_exists"))
    requests
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .withColumn("alloc_bytes",
        replicatedBlockBytes(lit(1L), col("replication_type")) +
          replicatedBlockBytes(col("had_blocks"), col("replication_type")))
      .withColumn("decision",
        when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(!col("open_exists"), lit("KEY_NOT_FOUND"))
          .when(col("open_lease_recovery"),
            lit("KEY_UNDER_LEASE_RECOVERY"))
          .when(col("open_deleted_hsync"), lit("KEY_NOT_FOUND"))
          .when(col("quota_bytes") > -1L &&
            col("used_bytes") + col("alloc_bytes") > col("quota_bytes"),
            lit("QUOTA_EXCEEDED"))
          .otherwise(lit("ALLOCATED")))
      .select(col("req_id"), col("volume"), col("bucket"), col("key"),
        col("decision"),
        when(col("decision") === "ALLOCATED", col("had_blocks") + 1L)
          .otherwise(lit(0L)).as("block_count"))
      .orderBy("req_id")
  }

  /** Request-time "now" for lifecycle-config validation — a midnight-UTC
    * epoch inside the fixture era (creationTime in
    * OmLifecycleConfiguration.valid). 790041600000 = day 9144 exactly. */
  val LcCreatedMs = 790041600000L

  /**
   * PutBucketLifecycleConfiguration as a decision table — the validation
   * ladder of `OMLifecycleConfigurationSetRequest` +
   * `OmLifecycleConfiguration.valid` + `OmLCRule.valid` +
   * `OmLCExpiration.valid` + `OmLCFilter.valid` in reference branch order:
   *
   * Request level (preExecute → validateAndUpdateCache):
   *   1. OmUtils.validateVolumeName (OMLifecycleConfigurationSetRequest
   *      .java:80) → INVALID_VOLUME_NAME
   *   2. validateBucketName (:81) → INVALID_BUCKET_NAME
   *   3. bucket lookup (layout resolve / :150) → BUCKET_NOT_FOUND
   * Config level (OmLifecycleConfiguration.java:112-147; blank-name checks
   *   are unreachable after 1-2):
   *   4. rules empty → NO_RULES
   *   5. rules > LC_MAX_RULES=1000 → TOO_MANY_RULES
   *   6. duplicate rule IDs → DUPLICATE_RULE_ID
   * Rule level, first failing rule in list order (OmLCRule.java:177-231;
   * the first action is modeled as the expiration when n_expirations ≥ 1):
   *   7.  id > 255 chars → ID_TOO_LONG
   *   8.  no actions → NO_ACTION
   *   9.  action-1 OmLCExpiration.valid (days XOR date, OmLCExpiration
   *       .java:94-110): both/neither → EXP_DAYS_XOR_DATE; days ≤ 0 →
   *       EXP_DAYS_NONPOSITIVE; date not midnight UTC →
   *       EXP_DATE_NOT_MIDNIGHT; date before creation →
   *       EXP_DATE_PAST
   *   10. FSO effective-prefix (prefix else filter prefix) nonempty and
   *       not '/'-terminated (checked INSIDE the action loop, after
   *       action.valid) → FSO_PREFIX_NO_SLASH
   *   11. a second expiration action (iteration 2 of the loop) →
   *       MULTIPLE_EXPIRATION
   *   12. prefix and filter together → PREFIX_AND_FILTER
   *   13. neither → NO_PREFIX_OR_FILTER
   *   14. prefix > 1024 bytes → PREFIX_TOO_LONG
   *   15. trash-root prefix → TRASH_PREFIX (OmLifecycleUtils
   *       .validateTrashPrefix)
   *   16. FSO prefix not normalized ('//') → FSO_PREFIX_INVALID
   *       (validateAndNormalizePrefix)
   *   17. filter with >1 of (prefix, tag, and-operator) → FILTER_MULTI
   *       (OmLCFilter.java:83)
   *   18. filter tag key empty/>128 or value >256 → FILTER_TAG_INVALID
   * else SET.
   *
   * Scale shape: the config batch is protocol-sized; the only catalog
   * touch is one broadcast bucket probe (existence + layout). Rule
   * evaluation is a projection over the request-sized rule list, the
   * first-failing-rule pick one min_by over it.
   */
  /**
   * DeleteBucketLifecycleConfiguration ladder
   * (OMLifecycleConfigurationDeleteRequest): preExecute resolves the
   * bucket link (:77-79 — the config lives on the SOURCE bucket; a loop
   * refuses, a dangling chain is a missing bucket) → cluster-admin or
   * bucket-owner permission (:184-185 PERMISSION_DENIED; owner modeled by
   * the resolved volume owner) → lifecycleConfigurationTable existence on
   * the resolved bucket (:131-134) → LIFECYCLE_CONFIGURATION_NOT_FOUND →
   * DELETED. The config catalog itself is DERIVED state: the distinct
   * buckets whose [[lifecycleSetDecisions]] run decided SET.
   *
   * Scale shape: all probes (links, buckets, volume owners, config
   * catalog) broadcast into the protocol-sized batch.
   */
  def lifecycleDeleteDecisions(requests: DataFrame, buckets: DataFrame,
                               links: Seq[Links.LinkRow], volumes: DataFrame,
                               lcConfigs: DataFrame,
                               admins: Seq[String] = Seq("om-admin"))
      : DataFrame = {
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumnRenamed("volume", "rv").withColumnRenamed("bucket", "rb")
      .withColumn("bkt_exists", lit(true))
    val ownerProbe = volumes.select(col("volume").as("rv"),
      col("owner").as("vol_owner"))
    val cfgProbe = lcConfigs.select(col("volume").as("rv"),
      col("bucket").as("rb")).distinct()
      .withColumn("cfg_exists", lit(true))
    Links.stageLinkTargets(requests, links, buckets)
      .join(broadcast(bktProbe), Seq("rv", "rb"), "left")
      .join(broadcast(ownerProbe), Seq("rv"), "left")
      .join(broadcast(cfgProbe), Seq("rv", "rb"), "left")
      .select(col("req_id"),
        col("rv").as("resolved_volume"), col("rb").as("resolved_bucket"),
        when(col("link_status") === "CYCLE", lit("LINK_LOOP"))
          .when(col("link_status") === "DANGLING" ||
            col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("principal") =!= col("vol_owner") &&
            !col("principal").isin(admins: _*), lit("PERMISSION_DENIED"))
          .when(col("cfg_exists").isNull,
            lit("LIFECYCLE_CONFIGURATION_NOT_FOUND"))
          .otherwise(lit("DELETED")).as("decision"))
      .orderBy("req_id")
  }

  def lifecycleSetDecisions(requests: DataFrame, rules: DataFrame,
                            buckets: DataFrame,
                            maxRules: Long = 1000L): DataFrame = {
    val effPrefix = coalesce(col("prefix"), col("filter_prefix"))
    val hasFilter = col("filter_prefix").isNotNull ||
      col("filter_tag_key").isNotNull || col("filter_has_and")
    val filterParts =
      when(col("filter_prefix").isNotNull, 1).otherwise(0) +
        when(col("filter_tag_key").isNotNull, 1).otherwise(0) +
        when(col("filter_has_and"), 1).otherwise(0)
    val ruleErr =
      when(length(col("rule_id")) > 255, lit("ID_TOO_LONG"))
        .when(col("n_actions") === 0, lit("NO_ACTION"))
        .when(col("n_expirations") >= 1 &&
          (col("exp_days").isNull === col("exp_date_ms").isNull),
          lit("EXP_DAYS_XOR_DATE"))
        .when(col("n_expirations") >= 1 && col("exp_days").isNotNull &&
          col("exp_days") <= 0, lit("EXP_DAYS_NONPOSITIVE"))
        .when(col("n_expirations") >= 1 && col("exp_date_ms").isNotNull &&
          col("exp_date_ms") % 86400000L =!= 0, lit("EXP_DATE_NOT_MIDNIGHT"))
        .when(col("n_expirations") >= 1 && col("exp_date_ms").isNotNull &&
          col("exp_date_ms") < LcCreatedMs, lit("EXP_DATE_PAST"))
        .when(col("layout") === "FSO" && effPrefix.isNotNull &&
          effPrefix =!= "" && !effPrefix.endsWith("/"),
          lit("FSO_PREFIX_NO_SLASH"))
        .when(col("n_expirations") > 1, lit("MULTIPLE_EXPIRATION"))
        .when(col("prefix").isNotNull && hasFilter,
          lit("PREFIX_AND_FILTER"))
        .when(col("prefix").isNull && !hasFilter,
          lit("NO_PREFIX_OR_FILTER"))
        .when(length(col("prefix")) > 1024, lit("PREFIX_TOO_LONG"))
        .when(col("prefix") === ".Trash" ||
          col("prefix").startsWith(".Trash/"), lit("TRASH_PREFIX"))
        .when(col("layout") === "FSO" && col("prefix").contains("//"),
          lit("FSO_PREFIX_INVALID"))
        .when(filterParts > 1, lit("FILTER_MULTI"))
        .when(col("filter_tag_key").isNotNull &&
          (col("filter_tag_key") === "" ||
            length(col("filter_tag_key")) > 128 ||
            length(col("filter_tag_value")) > 256),
          lit("FILTER_TAG_INVALID"))

    val bktProbe = buckets.select(col("volume"), col("bucket"),
      lit(true).as("bkt_exists"), col("layout"))
    val reqWithBkt = requests
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
    val ruleFrame = rules
      .join(broadcast(reqWithBkt.select("req_id", "layout")), Seq("req_id"))
      .withColumn("rule_err", ruleErr)
    val ruleCounts = ruleFrame.groupBy("req_id")
      .agg(count(lit(1)).as("rule_count"),
        countDistinct(col("rule_id")).as("distinct_ids"))
    val firstRuleErr = ruleFrame.where(col("rule_err").isNotNull)
      .groupBy("req_id")
      .agg(min_by(col("rule_err"), col("rule_pos")).as("first_rule_err"))
    reqWithBkt
      .join(broadcast(ruleCounts), Seq("req_id"), "left")
      .join(broadcast(firstRuleErr), Seq("req_id"), "left")
      .select(col("req_id"), col("volume"), col("bucket"),
        coalesce(
          when(!BucketOps.nameValid(col("volume")),
            lit("INVALID_VOLUME_NAME")),
          when(!BucketOps.nameValid(col("bucket")),
            lit("INVALID_BUCKET_NAME")),
          when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND")),
          when(col("rule_count").isNull, lit("NO_RULES")),
          when(col("rule_count") > maxRules, lit("TOO_MANY_RULES")),
          when(col("distinct_ids") < col("rule_count"),
            lit("DUPLICATE_RULE_ID")),
          col("first_rule_err"),
          lit("SET")).as("decision"))
      .orderBy("req_id")
  }

  /**
   * KeyLifecycleService control plane — two request families folded over
   * one op stream:
   *   - OMLifecycleSaveScanStateRequest
   *     (ozone-manager/.../request/lifecycle/OMLifecycleSaveScanStateRequest.java:45-72):
   *     admin-only (ACCESS_DENIED in preExecute), then an UNCONDITIONAL
   *     lifecycleScanStateTable upsert keyed by bucketKey — the service's
   *     resumable scan cursor; a later save REPLACES the bucket's state;
   *   - OMLifecycleSetServiceStatusRequest (:59-108 plus the
   *     CLUSTER_NEEDS_FINALIZATION validator :112-127): the PRE_PROCESS
   *     finalization gate fires BEFORE the preExecute admin check
   *     (probed by a pre-finalization non-admin suspend), then
   *     suspend()/resume() toggles the service — an idempotent toggle,
   *     and suspension does NOT fence SAVE writes (it stops the scanner,
   *     not the RPC plane).
   * Emits per op the decision, the running suspended flag after the op,
   * and whether an applied SAVE replaced a prior cursor.
   *
   * Scale shape: control-plane fold — two windows over a protocol-sized
   * stream.
   */
  def lifecycleServiceFold(ops: DataFrame,
                           admins: Seq[String] = Seq("om-admin"),
                           finalizedSeq: Long = 0L): DataFrame = {
    val isAdmin = col("caller").isin(admins: _*)
    val decided = ops.withColumn("decision",
      when(col("op_type") === "STATUS" && col("seq") < finalizedSeq,
        lit("NOT_SUPPORTED_OPERATION_PRIOR_FINALIZATION"))
        .when(!isAdmin, lit("ACCESS_DENIED"))
        .when(col("op_type") === "SAVE", lit("SAVED"))
        .when(col("suspend"), lit("SUSPENDED"))
        .otherwise(lit("RESUMED")))
    val wSeq = Window.orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBucketPrev = Window.partitionBy("bucket_key").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, -1)
    decided
      .withColumn("suspended_after",
        coalesce(last(
          when(col("decision") === "SUSPENDED", lit(true))
            .when(col("decision") === "RESUMED", lit(false)),
          ignoreNulls = true).over(wSeq), lit(false)))
      .withColumn("replaced_prior",
        col("decision") === "SAVED" &&
          count(when(col("decision") === "SAVED", lit(1)))
            .over(wBucketPrev) > 0)
      .select("seq", "op_type", "caller", "bucket_key", "decision",
        "suspended_after", "replaced_prior")
      .orderBy("seq")
  }
}
