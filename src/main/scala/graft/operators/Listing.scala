package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Namespace listing family — the reference's core "query engine"
 * (apache/ozone OmMetadataManagerImpl.java:1070-1209 listKeys,
 * s3gateway BucketEndpoint.java:95-256 ListObjectsV2,
 * KeyManagerImpl.java:1979-2100 listStatus with fake-dir synthesis).
 *
 * Scale design: every listing is a prefix+range predicate over the
 * PERSISTED key-sorted namespace (Tables.objectsSorted: parquet partitioned
 * by (volume, bucket), key-sorted within files) — the volume/bucket
 * equality prunes to one directory partition and the sargable key range
 * ([[Listing.prefixPred]]) skips non-overlapping parquet row groups via
 * min/max stats, together the O(page) "seek" of the reference's RocksDB
 * iterator. `ORDER BY key LIMIT n` compiles to TakeOrderedAndProject (no
 * global sort materialization). Pagination is keyset (`key > token`), never
 * OFFSET — constant cost per page at any table size.
 */
object Listing {

  /** Prefix predicate as a sargable range: startsWith(p) ⟺ p ≤ key < succ(p)
    * where succ increments p's last char — an EXACT bound (every extension of
    * p sorts below succ(p)), so parquet row-group min/max stats can skip
    * non-overlapping ranges (the "seek" of OmMetadataManagerImpl.java:
    * 1144-1172). startsWith is kept as a conjunct for its own pushdown. */
  def prefixPred(c: Column, prefix: String): Column =
    if (prefix.isEmpty) lit(true)
    // Incrementing into/through the surrogate block (U+D800–U+DFFF) breaks
    // UTF-8 binary ordering (a lone surrogate re-encodes as '?', and
    // supplementary chars sort above U+E000 in code-point order) — fall
    // back to plain startsWith for those rare prefixes rather than risk an
    // unsatisfiable range. Same guard as plans.PrefixRangeRule.
    else if (prefix.last >= 0xD7FF.toChar) c.startsWith(prefix)
    else {
      val upper = prefix.init + (prefix.last + 1).toChar
      c >= prefix && c < upper && c.startsWith(prefix)
    }

  /**
   * listKeys(volume, bucket, prefix, startKey, maxKeys): ordered page of
   * maxKeys+1 rows (caller derives isTruncated from row maxKeys+1), startKey
   * exclusive — ref OmMetadataManagerImpl.java:1095-1105 (skipStartKey) and
   * the Case-1..4 matrix of TestListKeys.java:155-265.
   */
  def listKeys(objects: DataFrame, volume: String, bucket: String,
               prefix: String, startKey: String, maxKeys: Int): DataFrame =
    objects
      .filter(col("volume") === volume && col("bucket") === bucket &&
        prefixPred(col("key"), prefix) && col("key") > startKey)
      .select("key", "data_size", "replicated_size", "replication_type",
        "creation_time", "owner", "etag")
      // key alone is not unique in the synthetic namespace — extend the sort
      // to a total order so the LIMIT boundary is engine-independent.
      .orderBy("key", "data_size", "creation_time")
      .limit(maxKeys + 1)

  /**
   * S3 ListObjectsV2 delimiter grouping: entries under `prefix` grouped at the
   * first `delimiter` past the prefix into CommonPrefixes; keys and prefixes
   * interleave in lexicographic order — ref BucketEndpoint.java:184-256
   * (prevDir dedup becomes a plain groupBy). Delegates to the tokenized
   * page (startAfter == a lastKey-only token) so the two can never diverge.
   */
  def listObjectsV2(objects: DataFrame, volume: String, bucket: String,
                    prefix: String, startAfter: String, maxKeys: Int): DataFrame =
    listObjectsV2Page(objects, volume, bucket, prefix,
      if (startAfter.isEmpty) None else Some(S3Token(startAfter, None)), maxKeys)

  /**
   * listStatus: immediate children of a directory, synthesizing "fake
   * directory" rows for intermediate path components of deeper keys — ref
   * KeyManagerImpl.java:1910-1936 (getImmediateChild / createDirectoryKey).
   * Output one row per child: dirs carry recursive file count + size.
   */
  def listStatus(objects: DataFrame, volume: String, bucket: String,
                 dirPath: String): DataFrame = {
    val prefix = if (dirPath.endsWith("/")) dirPath else dirPath + "/"
    val p = prefix.length
    objects
      .filter(col("volume") === volume && col("bucket") === bucket &&
        prefixPred(col("key"), prefix))
      .withColumn("rest", expr(s"substring(key, ${p + 1})"))
      .withColumn("slash", instr(col("rest"), "/"))
      .withColumn("child",
        when(col("slash") > 0, expr("substring(rest, 1, slash - 1)"))
          .otherwise(col("rest")))
      .groupBy("child")
      .agg(
        (max(col("slash")) > 0).as("is_dir"),
        count(lit(1)).as("num_files"),
        sum("data_size").as("total_size"),
        max("modification_time").as("modification_time"))
      .orderBy("child")
  }

  /**
   * Keyset continuation-token pagination (ref ContinueToken /
   * BucketEndpoint.java:184-247): page after `token` — identical shape to
   * listKeys but exercised as its own contract (token = last key of the
   * previous page).
   */
  def pageAfter(objects: DataFrame, volume: String, bucket: String,
                token: String, maxKeys: Int): DataFrame =
    objects
      .filter(col("volume") === volume && col("bucket") === bucket &&
        col("key") > token)
      .select("key", "data_size", "etag")
      .orderBy("key", "data_size")
      .limit(maxKeys)

  // ---- S3 ContinueToken pagination (ref s3gateway ContinueToken.java:
  // hex-encoded lastKey[+lastDir] with an integrity digest;
  // BucketEndpoint.java:184-256: keys and CommonPrefixes count JOINTLY
  // against maxKeys, and a page ending inside a CommonPrefix carries that
  // dir so the next page resumes past it without rescanning it) ----

  /** Decoded continuation token. `lastDir` is set when the previous page
    * ended on a CommonPrefix entry: the next page resumes at succ(lastDir),
    * skipping every remaining key under that prefix. */
  final case class S3Token(lastKey: String, lastDir: Option[String])

  private def hexEnc(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
  private def hexDec(h: String): String =
    new String(h.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray, "UTF-8")
  private def tokenDigest(payload: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Opaque wire form: `hex(lastKey)[:hex(lastDir)]-digest` — hex keeps the
    * separator chars unambiguous for arbitrary key bytes. */
  def encodeToken(t: S3Token): String = {
    val payload = hexEnc(t.lastKey) + t.lastDir.map(d => ":" + hexEnc(d)).getOrElse("")
    payload + "-" + tokenDigest(payload)
  }

  /** Inverse of [[encodeToken]]; rejects tampered or malformed tokens. */
  def decodeToken(s: String): S3Token = {
    val i = s.lastIndexOf('-')
    require(i > 0, s"malformed continue token: $s")
    val (payload, dg) = (s.substring(0, i), s.substring(i + 1))
    require(tokenDigest(payload) == dg, "continue token digest mismatch")
    payload.split(':') match {
      case Array(k)    => S3Token(hexDec(k), None)
      case Array(k, d) => S3Token(hexDec(k), Some(hexDec(d)))
      case _           => throw new IllegalArgumentException("malformed token payload")
    }
  }

  /** One tokenized ListObjectsV2 page: grouped entries (keys +
    * CommonPrefixes, jointly counted) strictly after the token position,
    * maxKeys+1 rows so the caller derives truncation. The lastDir resume is
    * a sargable `key >= succ(dir)` — the whole finished prefix is skipped
    * by row-group stats, never rescanned.
    *
    * Cost note: group completeness forces each page to aggregate the
    * remaining tail of the prefix range before its LIMIT applies (a
    * declarative groupBy cannot stop after maxKeys complete groups the way
    * the reference's ordered iterator does), so a full walk costs
    * O(pages · avg-remaining) — fine when pages ≪ groups; size maxKeys
    * accordingly. The resume predicate still prunes everything already
    * paged out. */
  def listObjectsV2Page(objects: DataFrame, volume: String, bucket: String,
                        prefix: String, token: Option[S3Token],
                        maxKeys: Int): DataFrame = {
    val resume: Column = token match {
      case None => lit(true)
      case Some(S3Token(lk, None)) => col("key") > lk
      case Some(S3Token(_, Some(dir))) =>
        // same surrogate-block guard as prefixPred
        if (dir.nonEmpty && dir.last < 0xD7FF.toChar)
          col("key") >= (dir.init + (dir.last + 1).toChar)
        else !col("key").startsWith(dir) && col("key") > dir
    }
    val p = prefix.length
    objects
      .filter(col("volume") === volume && col("bucket") === bucket &&
        prefixPred(col("key"), prefix) && resume)
      .withColumn("rest", expr(s"substring(key, ${p + 1})"))
      .withColumn("slash", instr(col("rest"), "/"))
      .withColumn("entry",
        when(col("slash") > 0,
          concat(lit(prefix), expr("substring(rest, 1, slash)")))
          .otherwise(col("key")))
      .groupBy("entry")
      .agg(
        (max(col("slash")) > 0).as("is_common_prefix"),
        count(lit(1)).as("num_keys"),
        sum("data_size").as("total_size"))
      .orderBy("entry")
      .limit(maxKeys + 1)
  }

  /** Next-page token from a collected maxKeys+1 page: None when the page
    * was final; else the last RETURNED entry, with the dir carry-over when
    * that entry is a CommonPrefix. */
  def nextTokenOf(page: Seq[org.apache.spark.sql.Row],
                  maxKeys: Int): Option[S3Token] =
    if (page.size <= maxKeys) None
    else {
      val last = page(maxKeys - 1)
      val entry = last.getString(0)
      if (last.getBoolean(1)) Some(S3Token(entry, Some(entry)))
      else Some(S3Token(entry, None))
    }

  /** Full tokenized walk (the client-side pagination loop): pages are
    * independent O(page) queries chained by encoded tokens; the
    * concatenation must equal the untokenized listing — each page collect
    * is bounded by maxKeys, never the namespace. */
  def listObjectsV2Walk(objects: DataFrame, volume: String, bucket: String,
                        prefix: String, maxKeys: Int,
                        maxPages: Int = 100000): DataFrame = {
    val spark = objects.sparkSession
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var token: Option[S3Token] = None
    var pages = 0
    var done = false
    while (!done && pages < maxPages) {
      // round-trip through the wire form every hop — the encode/decode path
      // is part of what the walk exercises
      val wire = token.map(encodeToken).map(decodeToken)
      val pg = listObjectsV2Page(objects, volume, bucket, prefix, wire, maxKeys)
        .collect().toSeq
      buf ++= pg.take(maxKeys)
      token = nextTokenOf(pg, maxKeys)
      done = token.isEmpty
      pages += 1
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(buf.toSeq, 1),
        org.apache.spark.sql.types.StructType.fromDDL(
          "entry STRING, is_common_prefix BOOLEAN, num_keys BIGINT, total_size BIGINT"))
      .orderBy("entry")
  }

  /** listBuckets of a volume with prefix + exclusive startBucket
    * (ref OmMetadataManagerImpl listBuckets semantics). */
  def listBuckets(buckets: DataFrame, volume: String,
                  startBucket: String, maxBuckets: Int): DataFrame =
    buckets
      .filter(col("volume") === volume && col("bucket") > startBucket)
      .orderBy("bucket")
      .limit(maxBuckets + 1)

  /** listVolumes ordered with aggregates. */
  def listVolumes(volumes: DataFrame): DataFrame =
    volumes.orderBy("volume")

  /**
   * ListDirectoryBuckets — the S3 Express surface
   * (s3gateway/.../endpoint/RootEndpoint.java:85-135): list only
   * FSO-layout ("directory") buckets, name-ordered across the S3 view,
   * resuming STRICTLY AFTER the continuation token's last bucket;
   * non-FSO buckets are skipped WITHOUT counting toward
   * maxDirectoryBuckets (the `continue` before `count++`), and the page
   * truncates when the cap fills with more FSO buckets behind it —
   * next_token = the last EMITTED bucket. One extra-row probe answers
   * is_truncated without a second scan, like [[listKeys]].
   *
   * Scale shape: the bucket catalog is control-plane-sized; the filter +
   * order + limit ride one broadcastable scan.
   */
  def listDirectoryBuckets(buckets: DataFrame, afterToken: String,
                           maxBuckets: Int): DataFrame = {
    // rank by the SAME key the token comparison uses: the concatenated
    // name — tuple order (volume, bucket) disagrees with string order
    // for legal names ('-' and '.' sort before '/'), which would skip
    // buckets across page boundaries
    val name = concat_ws("/", col("volume"), col("bucket"))
    val page = buckets
      .filter(col("layout") === "FSO" && name > afterToken)
      .withColumn("pos", row_number().over(Window.orderBy(name)))
      .filter(col("pos") <= maxBuckets + 1)
    val probe = page.agg(
      max(col("pos")).as("max_pos"),
      max(when(col("pos") <= maxBuckets,
        concat_ws("/", col("volume"), col("bucket")))).as("last_emitted"))
    page.crossJoin(broadcast(probe))
      .filter(col("pos") <= maxBuckets)
      .withColumn("is_truncated", col("max_pos") > maxBuckets)
      .withColumn("next_token",
        when(col("is_truncated"), col("last_emitted")).otherwise(lit("")))
      .select("volume", "bucket", "pos", "is_truncated", "next_token")
      .orderBy("pos")
  }

  /**
   * Recon `/volumes` endpoint rows — VolumeEndpoint.java:56-69 over
   * ReconOmMetadataManagerImpl.listVolumes:196-231: keyset-paged volume
   * listing with the composite usage row (VolumeObjectDBInfo: admin,
   * owner, quotas, usedNamespace, creation/modification times).
   * Pagination quirk mirrored exactly: the iterator SKIPS rows until it
   * sees a volume == prevKey and only then starts collecting — so a
   * prevKey that does not exist yields an EMPTY page (the flag never
   * flips), not "everything after it". totalCount is the page's own size
   * (VolumesResponse:31 passes volumes.size()).
   *
   * The reference lists EVERY catalog row — a volume with zero keys
   * still occupies a page slot (the iterator walks volumeTable; times
   * come from OmVolumeArgs, not from keys) — so the times rollup joins
   * LEFT and a key-less volume falls back to catalog-derived times
   * (deterministic off the volume idx, the OmVolumeArgs creationTime
   * stand-in).
   *
   * Scale shape: the volume catalog is control-plane-sized; the times
   * rollup is one agg over the (already partition-pruned) namespace scan.
   */
  def reconVolumes(volumes: DataFrame, objects: DataFrame, limit: Int,
                   prevKey: String): DataFrame = {
    val times = objects.groupBy("volume")
      .agg(min("creation_time").as("creation_time"),
        max("modification_time").as("modification_time"))
    val vidx = substring(col("volume"), 4, 10).cast("long")
    val rows = volumes.join(times, Seq("volume"), "left")
      .withColumn("creation_time", coalesce(col("creation_time"),
        lit(1400000000000L) + vidx * lit(86400000L)))
      .withColumn("modification_time", coalesce(col("modification_time"),
        lit(1400000000000L) + vidx * lit(86400000L) + lit(3600000L)))
      .withColumn("admin", lit("om-admin"))
      .withColumn("quota_namespace", lit(1000000L))
    val afterKey =
      if (prevKey.isEmpty) rows
      else {
        // existence probes the VOLUME TABLE (the reference iterator walks
        // volumeTable), not the times-joined rows — a volume with zero
        // objects must still flip the skip-until-match flag
        val pkOk = volumes.agg(max(when(col("volume") === prevKey, 1)
          .otherwise(0)).as("pk_ok"))
        rows.crossJoin(broadcast(pkOk))
          .filter(col("pk_ok") === 1 && col("volume") > prevKey)
          .drop("pk_ok")
      }
    val page = afterKey.orderBy("volume").limit(limit)
    page.crossJoin(broadcast(page.agg(count(lit(1)).as("total_count"))))
      .select("total_count", "volume", "admin", "owner", "quota_bytes",
        "quota_namespace", "used_bytes", "used_namespace", "bucket_count",
        "creation_time", "modification_time")
      .orderBy("volume")
  }

  /**
   * Recon `/buckets` endpoint rows — BucketEndpoint.java:57-73 over
   * ReconOmMetadataManagerImpl.listBucketsUnderVolume:253-311: composite
   * per-bucket usage rows (BucketObjectDBInfo: storageType, versioning,
   * usedBytes, quotas, layout, owner, times). With a volume given: empty
   * page if the volume does not exist (volumeExists gate :246-249), else
   * buckets strictly after startBucket (the exact startKey row is
   * `continue`d when skipStartKey, :294-296). An empty volume lists all
   * buckets and IGNORES startBucket (:259-264). totalCount is the page's
   * own size. storageType/versioning synthesized off bucket_idx (the
   * reference reads them from OmBucketInfo; DISK + unversioned are its
   * defaults — every 4th bucket versioned, every 3rd on SSD here so both
   * columns carry signal). Like [[reconVolumes]], the bucket CATALOG is
   * the listing's domain — listBucketsUnderVolume walks bucketTable, so
   * a zero-key bucket still fills a page slot; the times join is LEFT
   * with a catalog-derived (idx-deterministic) fallback, the
   * OmBucketInfo creationTime stand-in.
   */
  def reconBuckets(buckets: DataFrame, objects: DataFrame, volume: String,
                   startBucket: String, limit: Int): DataFrame = {
    val times = objects.groupBy("volume", "bucket")
      .agg(min("creation_time").as("creation_time"),
        max("modification_time").as("modification_time"))
    val idx = substring(col("bucket"), 7, 10).cast("long")
    val rows = buckets.join(times, Seq("volume", "bucket"), "left")
      .withColumn("creation_time", coalesce(col("creation_time"),
        lit(1400000000000L) + idx * lit(86400000L)))
      .withColumn("modification_time", coalesce(col("modification_time"),
        lit(1400000000000L) + idx * lit(86400000L) + lit(7200000L)))
      .withColumn("storage_type",
        when(idx % 3 === 0, lit("SSD")).otherwise(lit("DISK")))
      .withColumn("is_versioning_enabled", idx % 4 === 0)
      .withColumn("owner", concat(lit("admin"), substring(col("volume"), 4, 10)))
    // the reference's volumeExists gate needs no separate probe here:
    // filtering to volume === v yields the same empty page when v is
    // absent (every bucket row carries an existing volume)
    val scoped =
      if (volume.isEmpty) rows
      else rows.filter(col("volume") === volume &&
        (if (startBucket.isEmpty) lit(true)
         else col("bucket") > startBucket))
    val page = scoped.orderBy("volume", "bucket").limit(limit)
    page.crossJoin(broadcast(page.agg(count(lit(1)).as("total_count"))))
      .select("total_count", "volume", "bucket", "storage_type",
        "is_versioning_enabled", "used_bytes", "quota_bytes",
        "quota_namespace", "used_namespace", "layout", "owner",
        "creation_time", "modification_time")
      .orderBy("volume", "bucket")
  }

  /**
   * OM listKeys self-metrics rollup — the OMPerformanceMetrics surface the
   * listing path feeds per call (OmMetadataManagerImpl.java:1176-1188:
   * `keyCount = isTruncated ? maxKeys : resultSize` →
   * setListKeysAveragePagination; the ops/sec and RocksDB-latency gauges
   * are wall-clock observability, deliberately out of scope for a
   * deterministic rollup — we report the batch pagination numerators the
   * gauge is computed from instead of a timed rate).
   *
   * One row per listKeys call in the batch: the matching-key population,
   * the pagination keyCount the metric records, the truncation flag, plus
   * the batch-constant gauge inputs (total keyCount, number of calls).
   *
   * Scale shape: the request batch is a literal dim broadcast into ONE
   * pruned scan of the namespace (volume+bucket partition pruning, prefix
   * row-group skip); the gauge is a single scalar aggregate crossed back —
   * no windows over the corpus, no per-request scans.
   */
  def omListMetrics(objects: DataFrame): DataFrame = {
    val spark = objects.sparkSession
    val reqs = graft.core.Tables.omListRequestRows.df(spark)
    val matches = objects.select("volume", "bucket", "key")
      .join(broadcast(reqs), Seq("volume", "bucket"))
      .filter(col("key").startsWith(col("prefix")))
      .groupBy("req_id").agg(count(lit(1)).as("matching"))
    // matches is ≤ |reqs| rows post-aggregation — broadcast it or the
    // planner SMJs two shuffles for a 5-row join
    val base = reqs.join(broadcast(matches), Seq("req_id"), "left")
      .withColumn("matching", coalesce(col("matching"), lit(0L)))
      .withColumn("truncated", col("matching") > col("max_keys"))
      .withColumn("key_count", least(col("matching"), col("max_keys")))
    val gauge = base.agg(
      sum("key_count").cast("long").as("total_key_count"),
      count(lit(1)).as("n_calls"))
    base.crossJoin(broadcast(gauge))
      .select("req_id", "volume", "bucket", "prefix", "max_keys",
        "matching", "key_count", "truncated", "total_key_count", "n_calls")
      .orderBy("req_id")
  }
}
