package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * FSO (file-system-optimized) namespace: parent-pointer hierarchy over
 * `directories(dir_id, parent_id, name)` + `files(parent_id, name, ...)` —
 * the reference's directoryTable/fileTable model (apache/ozone
 * OMDBDefinition.java:246-265) with path resolution mirroring
 * ReconUtils.java:780-803 (gatherSubPaths) and
 * SnapshotDiffManager.java:1116-1130 (full-path construction).
 *
 * Scale design: resolution is a BOUNDED-DEPTH loop of equi-joins on
 * (volume, bucket, parent_id) — depth is a namespace config (the reference
 * caps path depth), so this is k co-partitioned shuffles, never driver-side
 * recursion or an unbounded iterative fixpoint; the directory table is
 * orders of magnitude smaller than the file table and broadcast-joins when
 * it fits. Listings never resolve: they slice a child summary (one row per
 * (parent_path, child) with subtree rollups, Recon's NSSummary), stored
 * once from the keys as [[graft.core.Tables.fsoChildren]].
 */
object Hierarchy {

  /** Deterministic 60-bit id of a (volume, bucket, path) node — md5-prefix
    * based so the DuckDB oracle derives identical ids (engine side runs
    * the native graft_hash60, spec-pinned bit-identical to the hex-prefix
    * form). Root parent id = 0. */
  def pathId(volume: Column, bucket: Column, path: Column): Column =
    graft.functions.TextFns.tokenHash60(
      concat(volume, lit(":"), bucket, lit(":"), path))

  /** Same id computed driver-side (for resolving a literal query path). */
  def pathIdOf(volume: String, bucket: String, path: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$volume:$bucket:$path".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(md.substring(0, 15), 16)
  }

  /** Trees deeper than this are assumed cyclic/corrupt and left partially
    * resolved rather than looping forever (the reference caps path depth
    * far below this). */
  val MaxResolveDepth = 64

  /**
   * Resolve every directory to its full path via batches of parent joins:
   * each pass prepends the parent's name and hops one level up; rows
   * already at the root pass through unchanged. After `maxDepth` hops a
   * COMPLETENESS CHECK (one tiny action on the dir-sized frame) extends
   * the climb in further batches until every row is rooted — a namespace
   * deeper than the hint degrades to one extra round-trip, never to
   * silently truncated paths.
   *
   * Construction is EAGER (ADVICE r15): the completeness check is an
   * action, and the ladder is pinned before it so the check and every
   * caller share ONE evaluation — building this frame launches Spark
   * jobs at construction time, so don't build it speculatively. Each
   * extension round releases the previous round's pin once its own is
   * filled, so a call leaves ONE pin, whatever its round count. Listings
   * over the stored FSO tables slice their child summary
   * ([[graft.core.Tables.fsoChildren]]) instead.
   */
  def resolveDirs(dirs: DataFrame, maxDepth: Int = 8): DataFrame = {
    val parents = dirs.select(
      col("volume").as("pv"), col("bucket").as("pb"),
      col("dir_id").as("p_id"), col("parent_id").as("p_parent"),
      col("name").as("p_name"))
    var cur = dirs.select(col("volume"), col("bucket"), col("dir_id"),
      col("parent_id"), col("name").as("path"))
    def hop(): Unit =
      cur = cur.join(parents,
          cur("volume") === parents("pv") && cur("bucket") === parents("pb") &&
            cur("parent_id") === parents("p_id"), "left")
        .select(cur("volume"), cur("bucket"), cur("dir_id"),
          coalesce(col("p_parent"), lit(0L)).as("parent_id"),
          when(col("p_name").isNotNull,
            concat(col("p_name"), lit("/"), col("path")))
            .otherwise(col("path")).as("path"))
    var hops = 0
    var batch = math.max(1, maxDepth - 1)
    var unresolved = true
    var pinned: Option[DataFrame] = None
    while (unresolved && hops < MaxResolveDepth) {
      for (_ <- 1 to batch) hop()
      hops += batch
      // Pin THIS evaluation before the completeness check: the check is an
      // action over the whole join ladder, and without the pin the caller's
      // own evaluation re-ran the ladder a SECOND time (r15 measured the
      // fso listing family at ~2× its join cost for exactly this reason).
      // The pinned blocks are dir-table-sized (orders of magnitude below
      // the file table). They are NOT freed by the ContextCleaner:
      // CacheManager holds a persisted Dataset strongly until someone
      // unpersists it. The returned frame's pin stays for the session's
      // life; a superseded round's pin is released here once the next
      // round, which read it, is filled.
      cur = cur.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cur.count() // full fill: isEmpty alone short-circuits the cache
      pinned.foreach(_.unpersist(blocking = false))
      pinned = Some(cur)
      unresolved = !cur.filter(col("parent_id") =!= 0).isEmpty
      batch = 8
    }
    cur.select("volume", "bucket", "dir_id", "path")
  }

  /** Full path of every file: resolved parent dir path + '/' + file name —
    * the FSO→flat round trip (must reproduce the original OBS keys). */
  def resolveFiles(dirs: DataFrame, files: DataFrame,
                   maxDepth: Int = 8): DataFrame = {
    val rd = resolveDirs(dirs, maxDepth)
      .select(col("volume"), col("bucket"),
        col("dir_id").as("parent_id"), col("path").as("dir_path"))
    files.join(rd, Seq("volume", "bucket", "parent_id"))
      .select(col("volume"), col("bucket"),
        concat(col("dir_path"), lit("/"), col("name")).as("path"),
        col("data_size"))
      .orderBy("volume", "bucket", "path", "data_size")
  }

  /** Reachability / orphan scan (ref FSORepairTool.java:88-89): files whose
    * parent directory no longer exists — a LEFT ANTI join on the parent
    * pointer (one co-partitioned shuffle; the dir side is the small one).
    * A root file's parent (id 0) is the bucket itself, never an orphan. */
  def orphanFiles(dirs: DataFrame, files: DataFrame): DataFrame =
    files.filter(col("parent_id") =!= 0L).join(
        dirs.select(col("volume"), col("bucket"), col("dir_id").as("parent_id")),
        Seq("volume", "bucket", "parent_id"), "left_anti")
      .select("volume", "bucket", "parent_id", "name", "object_id", "data_size")
      .orderBy("volume", "bucket", "name", "object_id", "data_size")

  /**
   * Child summary of a key table (volume, bucket, key, data_size): one row
   * per (volume, bucket, parent_path, child, is_dir) with num_files and
   * total_size. Each key explodes to one (ancestor, next segment) pair per
   * segment, the last one its file row, and one aggregation sums them: a
   * directory's figures cover its WHOLE subtree (the reference's listing,
   * KeyManagerImpl.java:1979-2100, with Recon's recursive sizes — what the
   * OBS [[Listing.listStatus]] prefix grouping counts).
   */
  def keyChildSummary(keys: DataFrame): DataFrame =
    summarize(keys.withColumn("files", lit(1L)).withColumn("leaf_dir", lit(false)))

  /** [[keyChildSummary]] over the FSO tables: each file joins to its parent
    * dir's path (`resolvedDirs` (volume, bucket, dir_id, path), e.g. a
    * [[resolveDirs]] ladder; a root file has parent_id 0, an orphan no
    * path), and each directory adds a zero-file entry, so an empty one is
    * still listed. */
  def childSummary(resolvedDirs: DataFrame, files: DataFrame): DataFrame = {
    val dirs = resolvedDirs.select(col("volume"), col("bucket"),
      col("dir_id").as("parent_id"), col("path").as("dir"))
    summarize(files.join(dirs, Seq("volume", "bucket", "parent_id"), "left")
      .filter(col("dir").isNotNull || col("parent_id") === 0L)
      .select(col("volume"), col("bucket"), col("data_size"), lit(1L).as("files"),
        lit(false).as("leaf_dir"), concat_ws("/", col("dir"), col("name")).as("key"))
      .unionByName(dirs.select(col("volume"), col("bucket"), lit(0L).as("data_size"),
        lit(0L).as("files"), lit(true).as("leaf_dir"), col("dir").as("key"))))
  }

  private def summarize(entries: DataFrame): DataFrame = {
    val segs = col("segs")
    entries.select(col("volume"), col("bucket"), col("data_size"), col("files"),
        col("leaf_dir"), split(col("key"), "/").as("segs"))
      .select(col("*"), posexplode(segs).as(Seq("i", "child")))
      .groupBy(col("volume"), col("bucket"),
        concat_ws("/", slice(segs, lit(1), col("i"))).as("parent_path"),
        col("child"), (col("leaf_dir") || col("i") < size(segs) - 1).as("is_dir"))
      .agg(sum("files").as("num_files"), sum("data_size").as("total_size"))
  }

  /** Row shape of an FSO listStatus reply. */
  val ListStatusSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "child STRING, is_dir BOOLEAN, num_files BIGINT, total_size BIGINT")

  /** FSO listStatus: the immediate children of `parentPath`, a slice of a
    * child summary (the stored [[graft.core.Tables.fsoChildren]] or a
    * [[childSummary]]; other buckets' rows are skipped). `startChild` is
    * EXCLUSIVE (the reference's startKey), and `numEntries` bounds the page
    * to numEntries+1 rows so the caller derives truncation, like listKeys. */
  def listStatusFso(children: DataFrame, volume: String, bucket: String,
                    parentPath: String, startChild: String = "",
                    numEntries: Option[Int] = None): DataFrame = {
    val out = children
      .filter(col("volume") === volume && col("bucket") === bucket &&
        col("parent_path") === parentPath && col("child") > startChild)
      .select("child", "is_dir", "num_files", "total_size")
      .orderBy("child", "is_dir")
    numEntries.map(n => out.limit(n + 1)).getOrElse(out)
  }

  /**
   * One existence probe for a batch of (volume, bucket, key) paths — the
   * shared lookup of the FSO write ladders: per path found, whether it is
   * a file (a key of `objects`), a directory (a path of `dirs`), and the
   * file's latest version (`objects` carries (volume, bucket, key,
   * version)). A path that is neither has no row, so a left join leaves
   * its flags null.
   *
   * Scale shape: the distinct probe keys broadcast into one semi-join per
   * side, pruning each namespace scan to the requested paths; the union
   * of the hits is request-sized.
   */
  def pathProbe(keys: DataFrame, objects: DataFrame,
                dirs: DataFrame): DataFrame = {
    val probeKeys =
      broadcast(keys.select("volume", "bucket", "key").distinct())
    val files = objects
      .join(probeKeys, Seq("volume", "bucket", "key"), "left_semi")
      .select(col("volume"), col("bucket"), col("key"),
        lit(true).as("is_file"), lit(false).as("is_dir"), col("version"))
    val dirHits = dirs
      .select(col("volume"), col("bucket"), col("path").as("key"))
      .join(probeKeys, Seq("volume", "bucket", "key"), "left_semi")
      .select(col("volume"), col("bucket"), col("key"),
        lit(false).as("is_file"), lit(true).as("is_dir"),
        lit(null).cast("long").as("version"))
    files.unionByName(dirHits)
      .groupBy("volume", "bucket", "key")
      .agg(max("is_file").as("is_file"), max("is_dir").as("is_dir"),
        max("version").as("latest_version"))
  }

  /** Per-request flag over role-tagged probe rows: `c` on the row of
    * `role`, false when that path was not found. */
  def roleFlag(role: String, c: Column): Column =
    coalesce(max(when(col("role") === role, c)), lit(false))

  /**
   * Missing-parent materialization for a CreateFile/CreateDirectory batch
   * — the reference's OMDirectoryCreateRequest walks a request's path from
   * the bucket root and collects every ancestor absent from the directory
   * table ("missing parents"), each minted with a fresh objectID, before
   * the key itself can land (OMDirectoryCreateRequest.java
   * getAllMissingParentDirInfos). Here the whole batch resolves in one
   * pass: explode each request's strict ancestors, dedup ACROSS requests
   * (two requests sharing a new subtree mint each dir once), and anti-join
   * the existing directory set; ids are the deterministic path ids the FSO
   * tables already use, so a minted dir's id equals what
   * [[graft.core.Tables.directoriesFso]] would derive for it.
   *
   * Scale shape: the existing-dir side is pre-pruned to the REQUESTS'
   * buckets (a broadcast semi-join pushed into the key scan) before its
   * ancestor explode; both sides then meet in one co-partitioned anti-join
   * on the dir path.
   */
  def mkdirMissingParents(requests: DataFrame,
                          objects: DataFrame): DataFrame = {
    def ancestors(df: DataFrame): DataFrame = df
      .select(col("volume"), col("bucket"),
        Aggregates.parentDirOf("key").as("pdir"))
      .filter(col("pdir") =!= "")
      .select(col("volume"), col("bucket"),
        explode(Aggregates.dirAndAncestors("pdir")).as("path"))
      .distinct()
    val reqBuckets = requests.select("volume", "bucket").distinct()
    val existing = ancestors(
      objects.join(broadcast(reqBuckets), Seq("volume", "bucket"),
        "left_semi"))
    val parentPath = expr("CASE WHEN instr(path, '/') > 0 THEN " +
      "substring(path, 1, length(path) - length(element_at(split(path, '/'), -1)) - 1) " +
      "ELSE '' END")
    ancestors(requests)
      .join(existing, Seq("volume", "bucket", "path"), "left_anti")
      .withColumn("dir_id", pathId(col("volume"), col("bucket"), col("path")))
      .withColumn("parent_path", parentPath)
      .withColumn("parent_id",
        when(col("parent_path") === "", lit(0L))
          .otherwise(pathId(col("volume"), col("bucket"),
            col("parent_path"))))
      .select("volume", "bucket", "path", "dir_id", "parent_id")
      .orderBy("volume", "bucket", "path")
  }

  /**
   * CreateDirectory ladder (OMDirectoryCreateRequest
   * .validateAndUpdateCache:141-205 + OMFileRequest.verifyFilesInPath):
   *   1. empty/normalized-to-root path → CANNOT_CREATE_DIRECTORY_AT_ROOT
   *      (:148-150)
   *   2. validateBucketAndVolume → BUCKET_NOT_FOUND
   *   3. the path itself or any ANCESTOR exists as a FILE →
   *      FILE_ALREADY_EXISTS (:172-174, FILE_EXISTS /
   *      FILE_EXISTS_IN_GIVENPATH; blocked_by says which)
   *   4. the full path already a dir → DIR_EXISTS (Result
   *      .DIRECTORY_ALREADY_EXISTS — an idempotent no-op, NOT an error)
   *   5. CREATED — with dirs_minted counting the missing prefixes the
   *      request materializes (the [[mkdirMissingParents]] walk per
   *      request).
   *
   * Scale shape: the request batch's prefix explode is request-sized and
   * resolves through one [[pathProbe]]. The namespace never shuffles.
   */
  def mkdirDecisions(requests: DataFrame, objects: DataFrame,
                     buckets: DataFrame, dirs: DataFrame): DataFrame = {
    val prefixes = requests
      .filter(col("path") =!= "")
      .select(col("req_id"), col("volume"), col("bucket"), col("path"),
        explode(Aggregates.dirAndAncestors("path")).as("key"))
    val isFile = coalesce(col("is_file"), lit(false))
    val isDir = coalesce(col("is_dir"), lit(false))
    val flags = prefixes
      .join(broadcast(pathProbe(prefixes, objects, dirs)),
        Seq("volume", "bucket", "key"), "left")
      .groupBy("req_id")
      .agg(
        max(isFile && col("key") === col("path")).as("self_file"),
        max(isFile && col("key") =!= col("path")).as("anc_file"),
        max(isDir && col("key") === col("path")).as("self_dir"),
        sum(when(isDir, 0L).otherwise(1L)).as("missing_prefixes"))
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumn("bkt_exists", lit(true))
    requests
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .join(broadcast(flags), Seq("req_id"), "left")
      .withColumn("decision",
        when(col("path") === "", lit("CANNOT_CREATE_DIRECTORY_AT_ROOT"))
          .when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("self_file") || col("anc_file"),
            lit("FILE_ALREADY_EXISTS"))
          .when(col("self_dir"), lit("DIR_EXISTS"))
          .otherwise(lit("CREATED")))
      .select(col("req_id"), col("volume"), col("bucket"), col("path"),
        col("decision"),
        when(col("decision") === "FILE_ALREADY_EXISTS",
          when(col("self_file"), lit("SELF")).otherwise(lit("ANCESTOR")))
          .otherwise(lit("")).as("blocked_by"),
        when(col("decision") === "CREATED", col("missing_prefixes"))
          .otherwise(lit(0L)).as("dirs_minted"))
      .orderBy("req_id")
  }

  /**
   * CreateFile ladder (OMFileCreateRequest.checkDirectoryResult:342-357 +
   * checkAllParentsExist:366-377) — mkdir's dual with the overwrite and
   * recursive client flags:
   *   1. validateBucketAndVolume → BUCKET_NOT_FOUND
   *   2. verifyFilesInPath outcome (the three results are mutually
   *      exclusive): path IS a dir → NOT_A_FILE; an ancestor is a file →
   *      NOT_A_FILE (FILE_EXISTS_IN_GIVENPATH); path is a file and
   *      overwrite unset → FILE_ALREADY_EXISTS
   *   3. non-recursive create requires the IMMEDIATE parent dir
   *      (higher levels assumed, checkAllParentsExist) →
   *      DIRECTORY_NOT_FOUND
   *   4. OVERWRITTEN (path was a file, overwrite set) or CREATED, with
   *      dirs_minted = missing parent-chain prefixes the recursive create
   *      materializes.
   *
   * Scale shape: each request's paths (the path itself, its immediate
   * parent, every higher ancestor) resolve through one [[pathProbe]];
   * one request-sized groupBy folds the roles into flags.
   */
  def createFileDecisions(requests: DataFrame, objects: DataFrame,
                          buckets: DataFrame, dirs: DataFrame): DataFrame = {
    val withParent = requests
      .withColumn("parent", Aggregates.parentDirOf("path"))
    val ancestors = withParent
      .filter(col("parent") =!= "")
      .withColumn("key", explode(Aggregates.dirAndAncestors("parent")))
      .withColumn("role", when(col("key") === col("parent"), lit("parent"))
        .otherwise(lit("ancestor")))
    val roles = withParent
      .withColumn("key", col("path"))
      .withColumn("role", lit("self"))
      .unionByName(ancestors)
    val inChain = col("role") =!= "self"
    val bktProbe = buckets.select("volume", "bucket").distinct()
      .withColumn("bkt_exists", lit(true))
    roles
      .join(broadcast(pathProbe(roles, objects, dirs)),
        Seq("volume", "bucket", "key"), "left")
      .groupBy("req_id", "volume", "bucket", "path", "parent", "overwrite",
        "recursive")
      .agg(roleFlag("self", col("is_file")).as("self_file"),
        roleFlag("self", col("is_dir")).as("self_dir"),
        roleFlag("parent", col("is_dir")).as("parent_is_dir"),
        coalesce(max(when(inChain, col("is_file"))), lit(false))
          .as("anc_file"),
        sum(when(inChain && !coalesce(col("is_dir"), lit(false)), 1L)
          .otherwise(0L)).as("missing_parents"))
      .join(broadcast(bktProbe), Seq("volume", "bucket"), "left")
      .withColumn("decision",
        when(col("bkt_exists").isNull, lit("BUCKET_NOT_FOUND"))
          .when(col("self_dir"), lit("NOT_A_FILE"))
          .when(col("anc_file"), lit("NOT_A_FILE"))
          .when(col("self_file") && !col("overwrite"),
            lit("FILE_ALREADY_EXISTS"))
          .when(!col("recursive") && col("parent") =!= "" &&
            !col("parent_is_dir"), lit("DIRECTORY_NOT_FOUND"))
          .when(col("self_file"), lit("OVERWRITTEN"))
          .otherwise(lit("CREATED")))
      .select(col("req_id"), col("volume"), col("bucket"), col("path"),
        col("decision"),
        when(col("decision") === "CREATED", col("missing_parents"))
          .otherwise(lit(0L)).as("dirs_minted"))
      .orderBy("req_id")
  }

  /**
   * Paged FSO listStatus walk (the client pagination loop): independent
   * pages chained by `child > lastChild` keyset tokens; concatenation must
   * equal the unpaged listing. Each page is one bounded [[listStatusFso]]
   * slice of the child summary.
   */
  def listStatusFsoWalk(children: DataFrame, volume: String, bucket: String,
                        parentPath: String, pageSize: Int,
                        maxPages: Int = 100000): DataFrame = {
    val spark = children.sparkSession
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var start = ""
    var pages = 0
    var done = false
    while (!done && pages < maxPages) {
      val pg = listStatusFso(children, volume, bucket, parentPath, start,
        Some(pageSize)).collect().toSeq
      buf ++= pg.take(pageSize)
      done = pg.size <= pageSize
      if (!done) start = pg(pageSize - 1).getString(0)
      pages += 1
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(buf.toSeq, 1), ListStatusSchema)
      .orderBy("child")
  }
}
