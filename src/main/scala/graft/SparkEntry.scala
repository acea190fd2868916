package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import graft.core.{OracleCte => O, Tables => T, TempDirs}
import graft.operators._

/**
 * Driver contract (see SURVEY.md §7): `queries` declares one entry per
 * implemented operator from SURVEY.md §2; `oracleSql` gives the DuckDB
 * equivalent over the same parquet tables (composed from OracleCte mirrors
 * of the Tables synthesis). Every query ends in a deterministic total ORDER
 * BY; all numeric outputs are integer-valued for cross-engine hash parity.
 */
object SparkEntry {

  /** Flagship: listKeys page over the persisted key-sorted namespace
    * (sf0.001) — partition-pruned to one (volume, bucket) directory. */
  def entry(spark: SparkSession): DataFrame =
    Listing.listKeys(T.objectsSorted(spark, "/root/testdata/sf0.001"),
      "vol1", "bucket3", "warehouse/N/", "", 100)

  // MinHash bands feed BOTH the LSH-pair query and the Jaccard verifier —
  // materialize them once per source as parquet, resolved once per session
  // (the at-scale pattern: candidate signatures are a materialized
  // artifact, not recomputed per consumer). Every `*Cached` artifact here
  // goes through the one artifact memo, keyed by kind + source dir.
  private def minhashBandsCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "bands", d)(Dedup.minhashBands(T.documents(s, d)))

  // Recon's /pendingDeletion rollup store: the reference maintains these
  // in its own DB (GlobalStats/NSSummary/per-DN metric tables) and the
  // endpoint only reads them — materialize every reply row once per
  // (JVM, dir); the dispatch is one broadcast join of requests to it.
  private def pendingRollupsCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "pdroll", d)(
      ReconJobs.pendingDeletionRollups(T.objects(s, d),
        T.nsSummaryMixed(s, d), T.deletedDirs(s, d), T.replicas(s, d),
        T.containersScm(s, d)))

  // The stored object-tag state = the put ladder's APPLIED outcomes —
  // a derived table exactly like the snapshot warehouse; the delete
  // ladder probes it rather than re-running the whole put plan inline.
  private def taggedKeysCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "tagged", d)(
      S3Ops.putObjectTagging(T.tagRequests(s, d),
        T.tagEntries(s, d), T.buckets(s, d), T.objects(s, d))
        .filter(col("decision") === "APPLIED")
        .select("volume", "bucket", "key"))

  // Lloyd-refined IVF centroids and PQ codebooks are index artifacts
  // exactly like the bands (built once at ingest, reused by every probe)
  private def ivfCentroidsCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "cents", d)(
      Similarity.ivfCentroids(Similarity.quantized(T.embeddings(s, d))))
  private def pqCodebooksCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "pqcb", d)(
      Similarity.pqCodebooks(Similarity.quantized(T.embeddings(s, d))))

  // Verified near-dup pairs (document jaccard + embedding cosine) are
  // materialized pipeline artifacts: LSH candidates → exact verify runs
  // once at ingest; clustering and canonical-doc pruning consume the
  // persisted pairs rather than re-verifying.
  private def verifiedPairsCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "pairs", d)(
      Dedup.ngramJaccardPairs(T.documents(s, d),
        candidates = Some(Dedup.lshPairsFromBands(minhashBandsCached(s, d)))))
  private def embedPairsCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "epairs", d)(
      Similarity.nearDupPairs(s, T.embeddings(s, d)))
  // The cluster assignment (label-propagation fixpoint over the verified
  // pairs) is itself a materialized artifact: keep-one, canonical and the
  // funnel all consume the SAME assignment — re-running the iterative
  // closure per consumer re-paid its jobs each time.
  private def docClustersCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "clusters", d)(
      Dedup.dupClusters(T.documents(s, d).select("doc_id"),
        verifiedPairsCached(s, d)))

  // Stored-dictionary verification index for the INCREMENTAL ingest path
  // (VERDICT r12 #6 / r13 next-round #3): the corpus's term-id dictionary
  // and per-doc encoded sets are persisted ingest artifacts exactly like
  // the band index — an arriving batch verifies its candidates against
  // them without re-encoding the corpus. The "corpus" here is the same
  // doc_id % 7 != 0 slice q_dedup_incremental screens against, so the
  // two queries model the same steady-state split.
  private def corpusDocs(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).filter(col("doc_id") % 7 =!= 0)
  private def ngramDictCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "ngdict", d)(Dedup.ngramDictionary(corpusDocs(s, d)))
  private def ngramSetsCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "ngsets", d)(
      Dedup.ngramSets(corpusDocs(s, d), ngramDictCached(s, d)))

  // The synthesized CDC log is an ingest-time artifact (the real system
  // RECEIVES it); materialized once so consumers pay a scan, not the
  // synthesis.
  private def changeLogCached(s: SparkSession, d: String): DataFrame =
    TempDirs.parquet(s, "chlog", d)(
      graft.streaming.ChangeLog.events(T.objects(s, d)))

  // DuckDB CTE chain for the verified-pair derivation, shared by the
  // jaccard-verify and cluster-assignment oracles so they cannot drift.
  private val candCte =
    """cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM minhash_bands a JOIN minhash_bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin
  private val bgCte = "bg AS (SELECT DISTINCT doc_id, s FROM shingle2)"
  private val szCte = "sz AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY 1)"
  private val interCte =
    """inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS inter_count
      |  FROM cand c
      |  JOIN bg a ON c.doc_a = a.doc_id
      |  JOIN bg b ON c.doc_b = b.doc_id AND a.s = b.s
      |  GROUP BY 1, 2
      |)""".stripMargin

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // Lifecycle rule set used by q_lifecycle_expiry (epochs: 1998-01-01, 1997-01-01).
  private val lcRules = Seq(
    Lifecycle.LcRule("r1", "warehouse/R/", Some("R"), 883612800000L),
    Lifecycle.LcRule("r2", "warehouse/A/", None, 852076800000L))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The q_dbg_bigint_sum / q_dbg_render_edges driver-gate rendering
    // pins (VERDICT r8 #1) were retired into FunctionsSpec's
    // parquet-rendering-edges pin in r14 (VERDICT r13 next-round #6):
    // tools/oracle_check.py's TYPELINT guards the oracle-type class,
    // the spec pins the Spark-side parquet round-trip edges.
    // ---- listing family (SURVEY §2.1/2.2/2.6) — reads the PERSISTED
    // key-sorted namespace so bucket partition pruning + key range
    // row-group skipping actually fire (see Tables.objectsSorted) ----
    "q_list_keys" -> ((s, d) =>
      Listing.listKeys(T.objectsSorted(s, d), "vol1", "bucket3", "warehouse/N/",
        "warehouse/N/2", 100)),
    // OMPerformanceMetrics listKeys gauges: per-call pagination keyCount
    // + truncation, with the batch gauge numerators.
    "q_om_metrics" -> ((s, d) =>
      Listing.omListMetrics(T.objectsSorted(s, d))),
    "q_list_objects_v2" -> ((s, d) =>
      Listing.listObjectsV2(T.objectsSorted(s, d), "vol0", "bucket0",
        "warehouse/N/", "", 1000)),
    "q_list_status" -> ((s, d) =>
      Listing.listStatus(T.objectsSorted(s, d), "vol2", "bucket5", "warehouse/R")),
    "q_page_after" -> ((s, d) =>
      Listing.pageAfter(T.objectsSorted(s, d), "vol3", "bucket7",
        "warehouse/N/15", 50)),
    // tokenized multi-page walk (maxKeys chosen so the walk spans several
    // pages at both verify and bench SFs); concatenation == untokenized
    "q_list_objects_pages" -> ((s, d) =>
      Listing.listObjectsV2Walk(T.objectsSorted(s, d), "vol0", "bucket0",
        "warehouse/N/", 397)),
    // bucket/volume LISTINGS walk the catalog tables (a zero-object
    // entry is a real row there), like the recon pair
    "q_list_buckets" -> ((s, d) =>
      Listing.listBuckets(T.bucketsCatalog(s, d), "vol1", "bucket2", 5)),
    "q_list_volumes" -> ((s, d) =>
      Listing.listVolumes(T.volumesCatalog(s, d))),
    // ListDirectoryBuckets: FSO-only page, skipped OBS buckets never
    // count, strictly-after token resume, extra-row truncation probe.
    "q_list_dir_buckets" -> ((s, d) =>
      Listing.listDirectoryBuckets(T.bucketsCatalog(s, d), "vol0/bucket3",
        5)),
    // ---- link buckets (OmBucketInfo.isLink chase) + MPU listing ----
    "q_link_resolve" -> ((s, d) =>
      Links.resolveBucketLinks(T.bucketLinkRows.rows, T.buckets(s, d))),
    // listing THROUGH the 2-hop chain link-b -> link-a -> (vol0, bucket0)
    // must equal listing the source bucket directly
    "q_link_list" -> ((s, d) =>
      Links.listKeysVia(T.objectsSorted(s, d), T.bucketLinkRows.rows,
        T.bucketKeys(s, d), "vol2", "link-b", "warehouse/N/", "", 100)),
    "q_list_mpus" -> ((s, d) =>
      Lifecycle.listMultipartUploads(T.multipartInfo(s, d), "vol2", "bucket0",
        "warehouse/mpu/1")),
    "q_list_parts" -> ((s, d) =>
      Lifecycle.listParts(T.multipartParts(s, d), partNumberMarker = 1,
        maxParts = 4)),
    "q_recover_lease" -> ((s, d) =>
      Lifecycle.recoverLeases(T.objects(s, d))),
    "q_ofs_resolve" -> ((s, d) => OfsPath.resolve(T.ofsRequests(s, d))),
    "q_rename_keys" -> ((s, d) =>
      CommitLog.renameKeysDecisions(T.renameRequests(s, d),
        T.objects(s, d))),
    // Batch DeleteKeys ladder (OMKeysDeleteRequest): count-mismatch and
    // missing-bucket fail the whole batch, per-key KEY_NOT_FOUND /
    // UPDATE_ID_NOT_MATCH / ACCESS_DENIED, PARTIAL_DELETE rollup.
    "q_delete_keys_batch" -> ((s, d) =>
      CommitLog.keysDeleteBatchDecisions(T.keysDeleteRequests(s, d),
        T.objects(s, d), T.buckets(s, d))),
    // FSO DeleteKey ladder: bucket → path resolve → dir emptiness. The
    // dir probe reads the directory path index (no iterative
    // resolve: the probe needs paths, not ids)
    "q_delete_key" -> ((s, d) =>
      CommitLog.keyDeleteDecisions(T.deleteKeyRequests(s, d),
        T.objects(s, d), T.buckets(s, d), T.directoryPathsFso(s, d))),
    // ---- aggregation family (SURVEY §2.4) ----
    "q_filesize_histogram" -> ((s, d) =>
      Aggregates.fileSizeHistogram(T.objects(s, d))),
    "q_container_histogram" -> ((s, d) =>
      Aggregates.containerSizeHistogram(T.containersScm(s, d))),
    // mixed 4/6-segment namespace: the rollup must emit depth-4/5 ancestors
    // for the deepened keys — any hardcoded depth bound fails the hash.
    // The rollup is stored once (Tables.nsSummaryMixed); this reads it.
    "q_ns_summary" -> ((s, d) =>
      T.nsSummaryMixed(s, d).orderBy("volume", "bucket", "dir")),
    "q_du_topn" -> ((s, d) => Aggregates.duTopN(T.objects(s, d), "vol0", 10)),
    // table COUNTS walk the catalog views (a zero-object volume/bucket
    // is still a table row — GlobalStats counts rows); usage/quota
    // ladders keep the usage dims
    "q_global_counts" -> ((s, d) =>
      Aggregates.globalCounts(T.objects(s, d), T.bucketsCatalog(s, d),
        T.volumesCatalog(s, d), T.openKeys(s, d), T.containersScm(s, d))),
    "q_quota_usage" -> ((s, d) => Aggregates.quotaUsage(T.buckets(s, d))),
    "q_quota_enforce" -> ((s, d) =>
      Aggregates.quotaEnforce(
        T.objects(s, d).filter(col("object_id") % 107 === 0)
          .select(col("volume"), col("bucket"),
            org.apache.spark.sql.functions.expr("key || '.new'").as("key"),
            col("replicated_size").as("allocate_bytes")),
        T.buckets(s, d))),
    "q_heatmap" -> ((s, d) =>
      Aggregates.heatmap(Aggregates.AuditHeatmapProvider.accessEvents(s, d))),
    "q_heatmap_tree" -> ((s, d) =>
      Aggregates.heatmapTree(Aggregates.AuditHeatmapProvider.accessEvents(s, d))),
    "q_typed_filesize" -> ((s, d) => {
      import s.implicits._
      graft.core.Model.objectsDS(s, d)
        .groupByKey(r => graft.functions.TypedAggs.pow2BinValue(r.data_size, 1024L))
        .agg(graft.functions.TypedAggs.FileSizeCounter.toColumn)
        .map { case (bin, (cnt, bytes)) => (bin, cnt, bytes) }
        .toDF("size_bin", "file_count", "total_bytes")
        .orderBy("size_bin")
    }),
    // ---- join/diff family (SURVEY §2.3/2.7) ----
    "q_container_key_join" -> ((s, d) =>
      Joins.containerKeyJoin(T.objects(s, d), T.containersScm(s, d))),
    // Recon /containers/{id}/keys page: db-key-ordered walk of one
    // container's inverted-index slice, versions deduped per key,
    // total index count alongside.
    "q_container_keys_page" -> ((s, d) =>
      Joins.containerKeysPage(T.objects(s, d), 42L, 25)),
    "q_om_scm_mismatch" -> ((s, d) =>
      Joins.omScmMismatch(T.containersOm(s, d), T.containersScm(s, d))),
    "q_replica_health" -> ((s, d) =>
      Joins.replicaHealth(T.containersScm(s, d), T.replicas(s, d))),
    "q_snapshot_diff" -> ((s, d) =>
      Joins.snapshotDiff(T.snapshotV1(s, d), T.snapshotV2(s, d))),
    "q_snapshot_diff_page" -> ((s, d) =>
      Joins.snapshotDiffPage(T.snapshotV1(s, d), T.snapshotV2(s, d),
        token = 100, pageSize = 50)),
    "q_snapshot_diff_summary" -> ((s, d) =>
      Joins.snapshotDiffSummary(T.snapshotV1(s, d), T.snapshotV2(s, d))),
    "q_layout_union" -> ((s, d) =>
      Joins.layoutUnion(T.objects(s, d), T.buckets(s, d))),
    // ---- predicate jobs + scalar/window (SURVEY §2.2/2.5/2.8) ----
    "q_lifecycle_expiry" -> ((s, d) =>
      Lifecycle.lifecycleExpiry(T.objects(s, d), lcRules)),
    // Recon open-keys insight: per-bucket count, hsync split, size totals.
    "q_open_keys_insight" -> ((s, d) =>
      Lifecycle.openKeysInsight(T.openKeys(s, d))),
    // ListOpenFiles RPC: db-key-ordered page over the open-key table
    // (volume/bucket/key/clientId), strictly-greater token resume.
    "q_list_open_files" -> ((s, d) =>
      Lifecycle.listOpenFiles(T.openKeys(s, d), "vol1/bucket3/", 50)),
    // Recon deleted-keys insight: per-bucket pending-delete version
    // count + unreplicated/replicated byte totals.
    "q_deleted_keys_insight" -> ((s, d) =>
      Lifecycle.deletedKeysInsight(T.objects(s, d))),
    "q_open_key_expiry" -> ((s, d) =>
      Lifecycle.openKeyExpiry(T.openKeys(s, d), 896659200000L)),
    // getExpiredOpenKeys selection (MPU exclusion, creation vs lease
    // thresholds, hsync markers) chained into the OMOpenKeysDeleteRequest
    // apply fences (concurrent commit, newer updateID).
    "q_open_key_cleanup" -> ((s, d) =>
      Lifecycle.openKeyCleanup(T.openKeys(s, d), 833587200000L,
        883612800000L)),
    // Trash emptier cycle: expired checkpoints deleted, Current rotated
    // into a now-stamped checkpoint, strays warned and kept.
    "q_trash_rotation" -> ((s, d) =>
      graft.operators.Reclaim.trashCheckpointRotation(
        T.trashEntries(s, d), nowMs = 1755172800000L,
        deletionIntervalMs = 2592000000L)),
    // S3 conditional writes: header parse errors before the store probe,
    // If-None-Match:* create-if-absent, comma-list/quoted/star If-Match.
    "q_conditional_write" -> ((s, d) =>
      graft.operators.Conditional.conditionalWrites(
        T.conditionalWriteRequests(s, d), T.objects(s, d))),
    "q_multipart_validate" -> ((s, d) =>
      Lifecycle.multipartValidate(T.multipartParts(s, d))),
    "q_multipart_etag" -> ((s, d) =>
      Lifecycle.multipartEtag(T.multipartParts(s, d))),
    // shuffle-free winner-per-key fold over the key-sorted warehouse
    // (latestVersionWins min_by stays the unsorted dual)
    "q_latest_version" -> ((s, d) =>
      Lifecycle.latestVersionWinsSorted(T.objectsSorted(s, d))),
    "q_range_read" -> ((s, d) =>
      Lifecycle.rangeReadPlan(T.objects(s, d), 1000L, 50000L)),
    "q_checksums" -> ((s, d) =>
      Lifecycle.checksumColumns(T.objects(s, d))),
    "q_file_checksum" -> ((s, d) =>
      Lifecycle.compositeFileChecksum(T.mediaAssets(s, d))),
    // ---- LLM-pipeline: dedup / similarity / text / multimodal / events ----
    "q_dedup_exact" -> ((s, d) => Dedup.exactDedup(T.documents(s, d))),
    // r16: the ONE-PASS form (count + occurrence carry in a single
    // per-gram aggregation — one corpus scan, one shuffle; the two-pass
    // count+semi-join form stays as the spec's parity dual)
    "q_substr_spans" -> ((s, d) =>
      Dedup.duplicateSpansOnePass(T.documents(s, d), k = 8)),
    "q_dedup_minhash_lsh" -> ((s, d) =>
      Dedup.lshPairsFromBands(minhashBandsCached(s, d))),
    "q_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(T.documents(s, d),
        Dedup.lshPairsFromBands(minhashBandsCached(s, d)))),
    "q_length_batches" -> ((s, d) =>
      TextAnalysis.lengthBatches(T.documents(s, d))),
    // steady-state ingest: screen an incoming batch (doc_id % 7) against
    // the corpus's persisted band index — no corpus re-hash
    "q_dedup_incremental" -> ((s, d) => {
      val bands = minhashBandsCached(s, d)
      Dedup.incrementalDedup(bands.filter(col("doc_id") % 7 === 0),
        bands.filter(col("doc_id") % 7 =!= 0))
    }),
    // incremental VERIFIED jaccard over the STORED corpus index: the
    // batch's banded candidates against the corpus are verified using
    // the persisted term-id dictionary + per-doc encoded sets — the
    // corpus text is never re-scanned (the batch pays hash(batch) + a
    // dictionary probe; new batch-only terms append ABOVE the stored
    // max id, so corpus sets stay valid)
    "q_dedup_incremental_verify" -> ((s, d) =>
      Dedup.incrementalJaccardVerify(
        T.documents(s, d).filter(col("doc_id") % 7 === 0),
        minhashBandsCached(s, d).filter(col("doc_id") % 7 =!= 0),
        ngramSetsCached(s, d), ngramDictCached(s, d))),
    "q_dedup_simhash" -> ((s, d) => Dedup.simhashPairs(T.documents(s, d))),
    // the degeneracy FALLBACK plan (chunk-PAIR pigeonhole keys, 6×10
    // bits, C(6,2)=15 composite keys — exact for hamming ≤ 4): same
    // output contract as q_dedup_simhash, independently derived by the
    // oracle from the pair-key form — the executable path a corpus
    // crossing the ~10× degeneracy trigger switches to (simhashPairsAuto)
    "q_dedup_simhash_paired" -> ((s, d) =>
      Dedup.simhashPairsFromSigsPaired(
        Dedup.simhash(T.documents(s, d)).localCheckpoint())),
    // the one-row degeneracy VERDICT the ingest gates on (raw pigeonhole
    // pairs vs surviving sig pairs, integer x1000 ratio — the fallback
    // trigger for narrower chunk keys)
    // localCheckpoint: the degeneracy plan references the signature
    // frame ~5 times (chunk stats, counts, intra, pigeonhole join) —
    // same pinning rule as simhashPairs; scale callers pass a stored
    // signature table
    "q_simhash_degeneracy" -> ((s, d) =>
      Dedup.simhashDegeneracy(
        Dedup.simhash(T.documents(s, d)).localCheckpoint())),
    // the pigeonhole degeneracy probe an ingest runs BEFORE the simhash
    // pair join (SURVEY §scale-matrix fallback trigger): distinct-sig
    // bucket sizes per (chunk idx, value) — Σ C(n_sigs,2) bounds the
    // join's raw candidate pairs
    "q_simhash_chunk_stats" -> ((s, d) =>
      Dedup.simhashChunkStats(Dedup.simhash(T.documents(s, d)))
        .withColumn("idx", col("idx").cast("long"))),
    "q_dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(T.documents(s, d),
        candidates = Some(Dedup.lshPairsFromBands(minhashBandsCached(s, d))))),
    // cluster assignment over the PERSISTED verified pairs: min-doc_id
    // label propagation to the component fixpoint (canonical = min doc)
    "q_dedup_clusters" -> ((s, d) =>
      docClustersCached(s, d).orderBy("doc_id")),
    // keep/drop per duplicate cluster: winner = highest quality, ties →
    // min doc_id; DROPs carry kept_doc_id for provenance
    "q_dedup_keep" -> ((s, d) =>
      Dedup.keepOneSelection(docClustersCached(s, d),
        TextAnalysis.qualityScore(T.documents(s, d)))),
    // End-to-end dedup funnel: URL-level exact dedup first (the cheap
    // zero-shuffle pre-pass), then banded-LSH near-dup keep-one — each
    // doc attributed to the FIRST stage that drops it, the dedup dual
    // of q_curation_funnel.
    "q_dedup_funnel" -> ((s, d) =>
      Dedup.dedupFunnel(T.docUrls(s, d), docClustersCached(s, d),
        TextAnalysis.qualityScore(T.documents(s, d)))),
    "q_ann_topk" -> ((s, d) => Similarity.annTopK(T.embeddings(s, d))),
    // Matryoshka retrieval: rank on the 16-dim prefix (1/4 the FLOPs),
    // report the full-dim cosine of every truncated-rank finalist.
    "q_ann_matryoshka" -> ((s, d) =>
      Similarity.annMatryoshka(T.embeddings(s, d))),
    // Hard-negative mining: top-k different-label neighbors per query
    // with the margin to the best same-label positive.
    "q_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(T.embeddings(s, d))),
    // SQ8 serving prep: per-vector affine code params + error bound
    "q_embed_quantize" -> ((s, d) =>
      Similarity.quantizeStats(T.embeddings(s, d))),
    "q_semantic_decon" -> ((s, d) =>
      Similarity.semanticDecon(T.embeddings(s, d))),
    "q_ann_ivf" -> ((s, d) => Similarity.annIvf(T.embeddings(s, d),
      precomputedCentroids = Some(ivfCentroidsCached(s, d)))),
    // Hard-negative mining routed through the IVF index — the scale
    // path when the query side outgrows a broadcast.
    "q_hard_negatives_ivf" -> ((s, d) =>
      Similarity.hardNegativesIvf(T.embeddings(s, d),
        precomputedCentroids = Some(ivfCentroidsCached(s, d)))),
    // PQ/ADC: the corpus side of the probe touches only 4 small codes per
    // vector (the compressed-index regime; codebooks are a built artifact)
    "q_ann_pq" -> ((s, d) => Similarity.annPq(T.embeddings(s, d),
      precomputedCodebooks = Some(pqCodebooksCached(s, d)))),
    "q_token_classes" -> ((s, d) =>
      TextAnalysis.tokenClasses(T.documents(s, d))),
    "q_ann_lsh" -> ((s, d) => Similarity.annLsh(s, T.embeddings(s, d))),
    "q_embed_neardup" -> ((s, d) =>
      embedPairsCached(s, d).orderBy("vec_a", "vec_b")),
    // the same component closure as q_dedup_clusters, over the embedding
    // near-dup edge list (cosine ≥ 0.4 on LSH candidates)
    "q_embed_clusters" -> ((s, d) =>
      Dedup.dupClusters(
        T.embeddings(s, d).select(col("vec_id").as("doc_id")),
        embedPairsCached(s, d)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .withColumnRenamed("doc_id", "vec_id")),
    "q_text_stats" -> ((s, d) => TextAnalysis.textStats(T.documents(s, d))),
    "q_quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(T.documents(s, d))),
    // Gopher rule cascade: first failing rule named, published order.
    "q_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(T.documents(s, d))),
    "q_lang_id" -> ((s, d) => TextAnalysis.langId(T.documents(s, d))),
    "q_doc_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(T.documents(s, d))),
    "q_media_meta" -> ((s, d) => Multimodal.mediaMeta(T.mediaAssets(s, d))),
    // EC round-trip: stripe RS(3,2), erase one shard per stripe,
    // reconstruct — output equals the source payloads iff decode works
    "q_ec_reconstruct" -> ((s, d) =>
      ErasureOps.reconstructAfterErasure(T.mediaAssets(s, d))),
    "q_daily_growth" -> ((s, d) => Aggregates.dailyGrowth(T.events(s, d))),
    "q_stream_hourly" -> ((s, d) => Events.hourlyCounts(T.events(s, d))),
    "q_sessionize" -> ((s, d) => Events.sessionize(T.events(s, d))),
    "q_session_window" -> ((s, d) => Events.sessionWindows(T.events(s, d))),
    // ---- lifecycle/ops extras: MPU expiry, replica history, orphans,
    // recon filters, edge serialization, media byte range ----
    "q_mpu_expiry" -> ((s, d) =>
      Lifecycle.mpuExpiry(T.multipartParts(s, d), 870000000000L)),
    "q_mpu_cleanup_walk" -> ((s, d) =>
      Lifecycle.mpuCleanupWalk(T.mpuCleanupStore(s, d),
        T.mpuLiveBuckets(s, d), expiredBeforeMs = 801964800000L,
        maxParts = 120L, trxnIndex = 5000L)),
    "q_replica_history" -> ((s, d) =>
      Lifecycle.replicaHistoryStats(T.replicaHistory(s, d))),
    "q_orphan_scan" -> ((s, d) =>
      Hierarchy.orphanFiles(
        T.directoriesFso(s, d).filter(col("dir_id") % 13 =!= 0),
        T.filesFso(s, d))),
    "q_recon_key_filter" -> ((s, d) =>
      FilterDsl.scan(T.objects(s, d),
        "replication_type:equals:EC/rs-3-2-1024k,data_size:greater:50000")
        .filter(col("creation_time").between(820454400000L, 883612800000L))
        .select("volume", "bucket", "key", "replication_type", "data_size",
          "creation_time")
        .orderBy("volume", "bucket", "key", "data_size", "creation_time")),
    "q_url_encode" -> ((s, d) => Lifecycle.urlEncoded(T.objects(s, d))),
    "q_json_edge" -> ((s, d) => Lifecycle.jsonEdge(T.objects(s, d))),
    "q_media_range" -> ((s, d) =>
      Multimodal.mediaByteRange(T.mediaAssets(s, d), 8, 8)),
    "q_media_frames" -> ((s, d) => {
      import s.implicits._
      Multimodal.frameSample(s, T.mediaAssets(s, d))
        .map(f => (f.media_id, f.frame_idx,
          f.frame.map("%02x".format(_)).mkString))
        .toDF("media_id", "frame_idx", "frame_hex")
        .orderBy("media_id", "frame_idx")
    }),
    // ---- nested types: MAP tags / ARRAY<STRUCT> acls + locations ----
    "q_tags_expiry" -> ((s, d) =>
      Nested.tagRuleExpiry(T.objectsNested(s, d), "R", 883612800000L)),
    "q_acl_probe" -> ((s, d) =>
      Nested.aclProbe(T.objectsNested(s, d), T.aclProbePrincipalRows.df(s))),
    // ---- auth catalog: user/s3-secret/d-token tables + prefix ACLs ----
    "q_user_volumes" -> ((s, d) =>
      T.userTable(s, d).orderBy("user_name")),
    // GetS3Secret shape: every access id of one principal with its secret
    "q_s3_secret" -> ((s, d) =>
      T.s3Secrets(s, d)
        .filter(col("access_id").endsWith("$clerk1"))
        .orderBy("access_id")),
    "q_dtoken_expiry" -> ((s, d) =>
      T.dTokens(s, d)
        .filter(col("max_expiry_ms") < 799286400000L) // 1995-05-01
        .select("token_id", "owner", "renewer", "issued_ms", "max_expiry_ms")
        .orderBy("owner")),
    // RenewToken ladder: presented maxDate checked BEFORE the store probe.
    "q_token_renew" -> ((s, d) =>
      graft.operators.Security.renewTokenDecisions(
        T.renewTokenRequests(s, d), T.dTokens(s, d))),
    // CancelToken ladder: owner-or-renewer access BEFORE the store probe.
    "q_token_cancel" -> ((s, d) =>
      graft.operators.Security.cancelTokenDecisions(
        T.cancelTokenRequests(s, d), T.dTokens(s, d))),
    // GetDelegationToken mint ladder: auth-method gate (TOKEN callers
    // can't mint), manager-down = success with an empty response.
    "q_token_mint" -> ((s, d) =>
      graft.operators.Security.getTokenDecisions(
        T.getTokenRequests(s, d))),
    // Prepare-gate fold: admin check before the gate moves, writes
    // fenced while prepared, re-prepare allowed, idempotent cancel.
    "q_prepare_gate" -> ((s, d) =>
      graft.operators.Security.prepareGateFold(T.prepareOps(s, d))),
    // FinalizeUpgrade gate fold: feature-version fencing before the
    // finalize, admin-only finalize advancing MLV, idempotent repeat.
    "q_finalize_gate" -> ((s, d) =>
      graft.operators.Security.finalizeGateFold(T.upgradeOps(s, d),
        T.omLayoutFeatures(s, d))),
    // Iceberg rewrite-table-path copy plan, incremental v2(excl)→v4:
    // staged metadata rewrites + verbatim data/stats copies, the data
    // inventory touched by one broadcast semi-probe.
    "q_iceberg_rewrite" -> ((s, d) =>
      graft.operators.IcebergOps.rewritePathCopyPlan(
        T.icebergVersions(s, d), T.icebergSnapshots(s, d),
        T.icebergManifests(s, d), T.icebergDataFiles(s, d),
        T.icebergStats(s, d), startIdx = 2L, endIdx = 4L,
        srcPrefix = T.IcebergSrc, tgtPrefix = "o3://vol9/backup/wh/",
        stagingDir = "o3://vol0/bucket0/staging/")),
    // object-ACL grants and prefix-ACL grants DISAGREE by construction:
    // auditor2 reads even-version keys via object acls, and warehouse/A/
    // keys via the longest-prefix rule (the shorter warehouse/ rule denies)
    "q_prefix_acl" -> ((s, d) =>
      Nested.prefixAclProbe(T.objectsNested(s, d), T.prefixAcls(s, d),
        "auditor2")),
    "q_acl_apply" -> ((s, d) => Nested.applyAclOps(T.aclOps(s, d))),
    // Prefix-ACL write ladder: trailing-slash gate, STATEFUL
    // PREFIX_NOT_FOUND (a remove that empties DELETES the entry, the
    // next remove refuses), SET boundary.
    "q_prefix_acl_ops" -> ((s, d) =>
      Nested.prefixAclOpsDecisions(T.prefixAclWriteOps(s, d),
        T.prefixAclBits(s, d))),
    // Final prefixTable state after the op log (emptied entries gone).
    "q_prefix_acl_fold" -> ((s, d) =>
      Nested.prefixAclFold(T.prefixAclWriteOps(s, d),
        T.prefixAclBits(s, d))),
    // ---- multi-tenancy catalog (SURVEY §2.11 tenant RPCs) ----
    "q_list_tenants" -> ((s, d) => Tenants.listTenants(T.tenantState(s, d))),
    // Ranger BG-sync reconcile: OM DB is source of truth — policies per
    // tenant STATE (even empty tenants), roles only for tenants with
    // members; PUSH on member drift either way, Ranger-only → DELETE.
    "q_ranger_sync" -> ((s, d) =>
      Tenants.rangerSync(T.tenantStateExt(s, d), T.tenantAccessCatalog(s, d),
        T.rangerPolicies(s, d), T.rangerRoles(s, d))),
    // Ranger version fence: the MAX_ATTEMPT-bounded version chase, with
    // the observed (not computed) version persisted each attempt.
    "q_ranger_version" -> ((s, d) =>
      Tenants.rangerSyncVersionFold(T.rangerSyncRuns(s, d))),
    "q_tenant_user_info" -> ((s, d) =>
      Tenants.tenantUserInfo(T.tenantAccessIds(s, d), "clerk1")),
    // GetS3VolumeContext: the per-request S3 volume + principal resolve
    // (default-volume fallbacks, removed-tenant refusal).
    "q_s3_volume_context" -> ((s, d) =>
      Tenants.s3VolumeContext(T.s3ContextRequests(s, d),
        T.tenantAccessCatalog(s, d), T.tenantStateExt(s, d))),
    // TenantListUser: one tenant's accessId roster.
    "q_tenant_list_users" -> ((s, d) =>
      graft.Api.tenantListUsers(s, d, "tenant1")),
    "q_tenant_assign" -> ((s, d) =>
      Tenants.assignAccessIdDecisions(T.assignRequests(s, d),
        T.tenantState(s, d), T.tenantAccessIds(s, d))),
    // FSO write path: the missing parent dirs a CreateFile batch mints
    // the existence probe's (volume,bucket) scope becomes DIRECTORY
    // partition pruning against the stored warehouse (the view scans
    // the whole base table)
    "q_mkdir_parents" -> ((s, d) =>
      Hierarchy.mkdirMissingParents(T.mkdirRequests(s, d),
        T.objectsSorted(s, d))),
    // audit parser templates (ozone debug auditparser commands.properties)
    "q_audit_top_users" -> ((s, d) => Audit.topUsers(T.auditLog(s, d))),
    "q_audit_top_cmds" -> ((s, d) => Audit.topCmds(T.auditLog(s, d))),
    "q_audit_top_times" -> ((s, d) =>
      Audit.topActiveTimes(T.auditLog(s, d))),
    // SigV4 auth batch: signing-key chain + string-to-sign compare via
    // the native graft_hmac kernel
    "q_sigv4_verify" -> ((s, d) =>
      S3Ops.sigv4Verify(T.sigv4Requests(s, d), T.s3Secrets(s, d))),
    // CreateBucket validation ladder in reference branch order (name →
    // cap → link args → volume → collision → byte quota → ns quota)
    "q_bucket_create" -> ((s, d) =>
      BucketOps.bucketCreateDecisions(T.bucketCreateRequests(s, d),
        T.volumesNs(s, d), T.buckets(s, d))),
    // CreateVolume ladder: POSIX names, collisions, per-owner cap of 2
    "q_volume_create" -> ((s, d) =>
      BucketOps.volumeCreateDecisions(T.volumeCreateRequests(s, d),
        T.volumes(s, d), maxUserVolumes = 2L)),
    // SetBucketProperty quota ladder: bytes before namespace, own quota
    // excluded from the volume-budget sum
    "q_set_quota" -> ((s, d) =>
      BucketOps.setBucketQuotaDecisions(T.setQuotaRequests(s, d),
        T.volumes(s, d), T.buckets(s, d), T.bucketLinks(s, d))),
    "q_locations_explode" -> ((s, d) =>
      Nested.locationsExplode(T.objectsNested(s, d))),
    // ---- conditional reads + filter DSL (SURVEY §2.2) ----
    // If-None-Match + If-Unmodified-Since: BOTH evaluate under RFC 7232
    // (If-Modified-Since would be ignored next to If-None-Match).
    "q_conditional_read" -> ((s, d) =>
      Conditional.conditionalRead(T.objects(s, d), Conditional.ReadConds(
        ifNoneMatch = Some(md5Hex("warehouse/N/1/1.dat")),
        ifUnmodifiedSince = Some(870000000000L)))),
    "q_filter_dsl" -> ((s, d) =>
      FilterDsl.scan(T.objects(s, d),
        "data_size:greater:50000,tag_flag:equals:R,key:regex:^warehouse/R/1")
        .select("volume", "bucket", "key", "data_size", "tag_flag")
        .orderBy("volume", "bucket", "key", "data_size")),
    // ---- write path: commit log + versioned snapshots (SURVEY §2.11) ----
    // the log-fold family reads the STORED warehouse (the commit log
    // applies against the persisted DB, and the branch scans' version/
    // churn predicates only push into parquet on real columns — 3.0 s
    // -> 0.95 s for the apply fold at sf0.1; the sf1 probes already
    // measured the stored shape)
    "q_write_apply" -> ((s, d) =>
      CommitLog.appliedState(T.objectsSorted(s, d))),
    "q_trash_list" -> ((s, d) =>
      CommitLog.trashList(T.objectsSorted(s, d))),
    "q_deleted_referenced" -> ((s, d) =>
      CommitLog.deletedButReferenced(T.objectsSorted(s, d),
        T.containersScm(s, d))),
    "q_salted_volume_bytes" -> ((s, d) =>
      Aggregates.saltedSumCount(T.objects(s, d), Seq("volume"), "data_size")
        .orderBy("volume")),
    "q_write_snapshot_diff" -> ((s, d) =>
      CommitLog.snapshotDiffFromCatalog(s, T.objects(s, d), d)),
    "q_list_snapshots" -> ((s, d) =>
      CommitLog.snapshotInfoFromWarehouse(s, T.objects(s, d), d)),
    // CreateSnapshot ladder: name rules, link resolution to the SOURCE
    // bucket, owner/admin gate, chain collision
    "q_snapshot_create" -> ((s, d) =>
      CommitLog.snapshotCreateDecisions(T.snapshotCreateRequests(s, d),
        T.buckets(s, d), T.bucketLinkRows.rows, T.volumes(s, d),
        T.snapshotCatalog(s, d))),
    // RenameSnapshot ladder: only the NEW name validated, link lands on
    // the source bucket, new-name collision BEFORE the old-name lookup
    // (deleted snapshots still occupy their name), non-ACTIVE old refused
    "q_snapshot_rename" -> ((s, d) =>
      CommitLog.snapshotRenameDecisions(T.snapshotRenameRequests(s, d),
        T.buckets(s, d), T.bucketLinkRows.rows, T.volumes(s, d),
        T.snapshotCatalogExt(s, d))),
    // Snapshot space reclamation (ReclaimableKeyFilter semantics): decide
    // every buffered deleted key through the chain; exclusive-size rollup
    "q_snapshot_reclaim" -> ((s, d) =>
      Reclaim.snapshotReclaim(s, T.objectsSorted(s, d), d)),
    "q_snapshot_exclusive" -> ((s, d) =>
      Reclaim.snapshotExclusive(s, T.objects(s, d), d)),
    "q_reclaim_dirs" -> ((s, d) =>
      Reclaim.reclaimDirs(T.deletedDirs(s, d),
        T.objectsMixed(s, d)
          .filter(col("creation_time") <= T.SnapCut1Ms))),
    "q_reclaim_renames" -> ((s, d) =>
      Reclaim.renameEntryReclaim(s, T.objects(s, d), d)),
    // SstFilteringService census: per bucket, the SST files a filtered
    // snapshot DB sheds (prefix outside [smallest,largest] at last level)
    "q_sst_filter" -> ((s, d) =>
      CompactionDag.sstBucketPrune(T.sstNamespaceFiles(s, d),
        T.buckets(s, d))),
    // One KeyDeletingService pass: key-ordered limit over the reclaimable
    // set, per-bucket purge rollup (BucketPurgeSize)
    "q_purge_plan" -> ((s, d) =>
      Reclaim.purgePlan(s, T.objects(s, d), d)),
    // S3 write-protocol decisions (CopyObject / MultiDelete) evaluated
    // against current key state — request batches broadcast into the scan
    "q_copy_object" -> ((s, d) =>
      S3Ops.copyObjects(T.objects(s, d), T.copyRequests(s, d))),
    // UploadPartCopy ladder: target bucket → source header parse/decode
    // → source probes → range → time preconditions (future dates
    // ignored) → the OM upload probe LAST.
    "q_copy_part" -> ((s, d) =>
      S3Ops.uploadPartCopy(T.copyPartRequests(s, d),
        T.copyPartSources(s, d), T.mpuCompleteStore(s, d),
        T.buckets(s, d))),
    // PutObjectTagging: gateway tag-set validation (first failing tag in
    // list order) ahead of the OM bucket/key probes — branch order per
    // EndpointBase.validateAndGetTagging + S3PutObjectTaggingRequest.
    "q_put_object_tagging" -> ((s, d) =>
      S3Ops.putObjectTagging(T.tagRequests(s, d),
        T.tagEntries(s, d), T.buckets(s, d), T.objects(s, d))),
    "q_put_bucket_tagging" -> ((s, d) =>
      S3Ops.putBucketTagging(T.bucketTagRequests(s, d),
        T.bucketTagEntries(s, d), T.buckets(s, d))),
    // PutBucketAcl: bucket → expected-owner → first-failing grant parse;
    // APPLIED explodes the S3→Ozone translation (bucket DEFAULT+ACCESS,
    // volume least-privilege ACCESS).
    "q_put_bucket_acl" -> ((s, d) =>
      S3Ops.putBucketAcl(T.putBucketAclRequests(s, d),
        T.putBucketAclGrants(s, d), T.buckets(s, d), T.volumes(s, d))),
    // GetBucketAcl: the Ozone→S3 reverse precedence chain; GROUP rows
    // and unmappable sets are dropped.
    "q_get_bucket_acl" -> ((s, d) =>
      S3Ops.getBucketAcl(T.bucketAclCatalog(s, d))),
    // DeleteObjectTagging / DeleteBucketTagging: OM probes only, the
    // clear is unconditional (untagged target = AWS 204 success);
    // had_tags probes the PUT ladder's APPLIED outcomes.
    "q_delete_object_tagging" -> ((s, d) =>
      S3Ops.deleteObjectTagging(T.tagRequests(s, d).drop("cls"),
        T.buckets(s, d), T.objects(s, d), taggedKeysCached(s, d))),
    "q_delete_bucket_tagging" -> ((s, d) =>
      S3Ops.deleteBucketTagging(T.bucketTagRequests(s, d).drop("cls"),
        T.buckets(s, d),
        S3Ops.putBucketTagging(T.bucketTagRequests(s, d),
          T.bucketTagEntries(s, d), T.buckets(s, d))
          .filter(col("decision") === "APPLIED")
          .select("volume", "bucket"))),
    // PutBucketLifecycleConfiguration: the full OmLifecycleConfiguration/
    // OmLCRule/OmLCExpiration/OmLCFilter validation ladder in reference
    // branch order, first-failing rule decides.
    "q_lifecycle_set" -> ((s, d) =>
      Lifecycle.lifecycleSetDecisions(T.lcSetRequests(s, d),
        T.lcRuleEntries(s, d), T.buckets(s, d))),
    // DeleteLifecycleConfiguration ladder over DERIVED config state (the
    // buckets the set ladder decided SET on), through links.
    "q_lifecycle_delete" -> ((s, d) =>
      Lifecycle.lifecycleDeleteDecisions(T.lcDeleteRequests(s, d),
        T.buckets(s, d), T.bucketLinkRows.rows, T.volumes(s, d),
        Lifecycle.lifecycleSetDecisions(T.lcSetRequests(s, d),
          T.lcRuleEntries(s, d), T.buckets(s, d))
          .filter(col("decision") === "SET")
          .select("volume", "bucket"))),
    // InitiateMultipartUpload ladder: link resolution, FSO file-in-path
    // guard (the key itself existing is FINE — AWS parity), replication
    // preference request > bucket default > server default.
    "q_mpu_initiate" -> ((s, d) =>
      Lifecycle.mpuInitiateDecisions(T.mpuInitiateRequests(s, d),
        T.buckets(s, d), T.bucketLinkRows.rows, T.objects(s, d))),
    // CommitPart / AbortMultipartUpload write ladders — completes the MPU
    // protocol surface (initiate→commit→complete/abort→list).
    "q_mpu_commit_part" -> ((s, d) =>
      Lifecycle.mpuCommitPart(T.mpuCommitRequests(s, d),
        T.mpuOpenParts(s, d), T.multipartInfo(s, d),
        T.multipartParts(s, d), T.buckets(s, d))),
    "q_mpu_abort" -> ((s, d) =>
      Lifecycle.mpuAbort(T.mpuAbortRequests(s, d), T.multipartInfo(s, d),
        T.multipartParts(s, d), T.buckets(s, d))),
    // CompleteMultipartUpload ladder: dir-collision beats the store
    // probe, whole-list order scan beats the per-part walk, per part
    // ETag beats the (non-last) 5 MiB floor; subsets complete fine.
    "q_mpu_complete" -> ((s, d) =>
      Lifecycle.mpuComplete(T.mpuCompleteRequestsC(s, d),
        T.mpuCompleteReqParts(s, d), T.mpuCompleteStore(s, d),
        T.mpuCompleteStoreParts(s, d), T.mpuCompleteDirs(s, d),
        T.buckets(s, d))),
    // Tenant admin write ladders: create / delete (not-empty checked
    // before existence, the reference's preExecute order) / revoke.
    "q_tenant_create" -> ((s, d) =>
      Tenants.tenantCreateDecisions(T.tenantCreateRequests(s, d),
        T.tenantState(s, d), T.volumes(s, d))),
    "q_tenant_delete" -> ((s, d) =>
      Tenants.tenantDeleteDecisions(T.tenantDeleteRequests(s, d),
        T.tenantStateExt(s, d), T.tenantAccessCatalog(s, d))),
    "q_tenant_revoke" -> ((s, d) =>
      Tenants.tenantRevokeDecisions(T.tenantRevokeRequests(s, d),
        T.tenantAccessCatalog(s, d))),
    // TenantAssignAdmin ladder: tenant inference from the accessId,
    // explicit-tenant existence, accessId membership, delegated grants.
    "q_tenant_assign_admin" -> ((s, d) =>
      Tenants.assignAdminDecisions(T.assignAdminRequests(s, d),
        T.tenantState(s, d), T.tenantAccessCatalog(s, d))),
    // TenantRevokeAdmin ladder: assign's mirror — revoke clears both
    // admin flags unconditionally (idempotent on non-admins), was_admin
    // reports whether the grant existed.
    "q_tenant_revoke_admin" -> ((s, d) =>
      Tenants.revokeAdminDecisions(T.revokeAdminRequests(s, d),
        T.tenantState(s, d), T.tenantAccessCatalog(s, d))),
    // SetSecret ladder: accessId probe FIRST, empty/8-char-minimum secret.
    "q_set_secret" -> ((s, d) =>
      Tenants.setSecretDecisions(T.setSecretRequests(s, d),
        T.tenantAccessCatalog(s, d))),
    // RevokeSecret ladder: permission gate in preExecute BEFORE the store
    // probe; remove-if-exists (missing secret is a non-error status).
    "q_revoke_secret" -> ((s, d) =>
      graft.operators.Security.revokeSecretDecisions(
        T.revokeSecretRequests(s, d), T.s3Secrets(s, d),
        T.tenantAccessCatalog(s, d))),
    // SetTimes ladder: preExecute mtime guard, keep-on--1.
    "q_set_times" -> ((s, d) =>
      Lifecycle.setTimesDecisions(T.setTimesRequests(s, d),
        T.objects(s, d), T.buckets(s, d))),
    // KeyCommit ladder: recovery/hsync guards ahead of the open-entry
    // probe, quota on the committed allocation.
    "q_key_commit" -> ((s, d) =>
      Lifecycle.keyCommitDecisions(T.keyCommitRequests(s, d),
        T.buckets(s, d))),
    // AllocateBlock ladder: open-entry probe by clientID, lease/hsync
    // markers, QuotaUtil replicated-size math on had+1 blocks.
    "q_allocate_block" -> ((s, d) =>
      Lifecycle.allocateBlockDecisions(T.allocateBlockRequests(s, d),
        T.buckets(s, d))),
    // SetVolumeOwner ladder: same-owner no-op, per-owner volume cap on
    // the receiving side.
    "q_volume_set_owner" -> ((s, d) =>
      BucketOps.volumeSetOwnerDecisions(T.volumeSetOwnerRequests(s, d),
        T.volumes(s, d), maxUserVolumes = 1L)),
    // SetBucketOwner ladder: same-owner explicit no-op (UNCHANGED).
    "q_bucket_set_owner" -> ((s, d) =>
      BucketOps.bucketSetOwnerDecisions(T.bucketSetOwnerRequests(s, d),
        T.buckets(s, d), T.volumes(s, d))),
    // DeleteSnapshot ladder: name re-validated in preExecute (legacy
    // chain names refuse deletion — truthful artifact), link resolution
    // to the source bucket, owner/admin gate, already-deleted and
    // non-active entries refused FILE_NOT_FOUND.
    "q_snapshot_delete" -> ((s, d) =>
      CommitLog.snapshotDeleteDecisions(T.snapshotDeleteRequests(s, d),
        T.buckets(s, d), T.bucketLinkRows.rows, T.volumes(s, d),
        T.snapshotCatalogLive(s, d))),
    // SnapshotPurge chain relink: adjacent purges splice transitively
    // (survivor's prev = nearest non-purged ancestor in BOTH chains);
    // the unknown target 'ghost' is a WARN no-op.
    "q_snapshot_purge" -> ((s, d) =>
      CommitLog.snapshotPurgeRelink(T.snapshotChainGlobal(s, d),
        Seq("s2", "snap-gone", "ghost"))),
    // KeyLifecycleService control fold: scan-state cursor saves +
    // suspend/resume toggles; finalization gate precedes the admin
    // check, suspension doesn't fence cursor writes.
    "q_lifecycle_service" -> ((s, d) =>
      Lifecycle.lifecycleServiceFold(T.lifecycleServiceOps(s, d),
        finalizedSeq = 5L)),
    // KeyPurge apply ladder: snapshot probe → expected-previous chain
    // validation (path prev / latest global; old-format requests skip
    // the rung, not the probe) → empty-list error → PURGED with bucket
    // refunds gated on live-bucket id match.
    "q_key_purge" -> ((s, d) =>
      CommitLog.keyPurgeDecisions(T.keyPurgeRequests(s, d),
        T.keyPurgeBucketSizes(s, d), T.snapshotChainGlobal(s, d),
        T.buckets(s, d))),
    // DirectoriesPurge apply ladder (FSO dual of q_key_purge): same
    // snapshot probe + chain fence, then per-entry gated refunds —
    // per-row ns/bytes givebacks, gate-independent hsync tagging,
    // row-counted sub-files vs deduped sub-dirs minus deleted dirs,
    // and NO empty-list error rung.
    "q_dir_purge" -> ((s, d) =>
      CommitLog.dirPurgeDecisions(T.dirPurgeRequests(s, d),
        T.dirPurgeEntries(s, d), T.snapshotChainGlobal(s, d),
        T.buckets(s, d))),
    // SnapshotMoveTableKeys ladder: the snapshot-GC move of buffered
    // deleted/renamed/deleted-dir entries to the next path snapshot (or
    // AOS) — from-snapshot probe first, per-table prefix/dup walk with
    // silent list filtering, not-ACTIVE next refused at apply time.
    "q_snapshot_move_keys" -> ((s, d) =>
      CommitLog.snapshotMoveTableKeys(T.moveTableKeysRequests(s, d),
        T.moveTableKeysEntries(s, d), T.snapshotChainGlobal(s, d),
        T.snapshotCatalogLive(s, d), T.fsoBucketIds(s, d))),
    // Legacy SnapshotMoveDeletedKeys ladder: same probe + chain walk as
    // the modern request, but lists pass through VERBATIM (no prefix/
    // dup/filter rungs) and the successor's status is never checked —
    // a move lands in a SNAPSHOT_DELETED next where the modern ladder
    // refuses.
    "q_snapshot_move_deleted" -> ((s, d) =>
      CommitLog.snapshotMoveDeletedKeys(T.moveDeletedKeysRequests(s, d),
        T.moveDeletedKeysEntries(s, d), T.snapshotChainGlobal(s, d),
        T.snapshotCatalogLive(s, d))),
    // SetSnapshotProperty ladder: in-batch dup beats missing-key; deleted
    // snapshots still accept property writes.
    "q_snapshot_set_property" -> ((s, d) =>
      CommitLog.snapshotSetPropertyDecisions(
        T.snapshotSetPropertyRequests(s, d), T.snapshotCatalogExt(s, d))),
    // QuotaRepair recount: namespace-wide usage recompute (replicated
    // bytes; FSO dirs count namespace) diffed against the stored catalog.
    "q_quota_repair" -> ((s, d) =>
      BucketOps.quotaRepair(T.objects(s, d), T.buckets(s, d))),
    // SetVolumeQuota ladder: silent-ignore semantics for invalid values,
    // unset-bucket and bucket-sum guards, bytes validated before ns.
    "q_volume_set_quota" -> ((s, d) =>
      BucketOps.volumeSetQuotaDecisions(T.volumeSetQuotaRequests(s, d),
        T.volumeQuotaProbe(s, d))),
    // DeleteVolume / DeleteBucket ladders (ref-count and occupancy
    // guards; links delete on their own empty key space).
    "q_volume_delete" -> ((s, d) =>
      BucketOps.volumeDeleteDecisions(T.volumeDeleteRequests(s, d),
        T.volumesRef(s, d))),
    "q_bucket_delete" -> ((s, d) =>
      BucketOps.bucketDeleteDecisions(T.bucketDeleteRequests(s, d),
        T.bucketCatalogExt(s, d), T.objects(s, d),
        T.multipartInfo(s, d).select("volume", "bucket")
          .unionByName(T.mpuBlockedBucketRows.df(s)),
        T.snapshotCatalog(s, d).select("volume", "bucket")
          .unionByName(T.snapshotBlockedBucketRows.df(s)))),
    // Recon ClusterStateEndpoint: one-row cluster summary (global counts,
    // container states + MISSING, pipelines, datanodes, capacity).
    "q_cluster_state" -> ((s, d) =>
      ClusterHealth.clusterState(T.volumesCatalog(s, d),
        T.bucketsCatalog(s, d), T.objects(s, d), T.containersScm(s, d),
        T.replicas(s, d), T.datanodes(s, d), T.pipelines(s, d),
        T.deletedDirs(s, d))),
    // Recon storage-distribution report: one-row composite — datanode
    // storage sums + open/MPU replicated bytes + pending deleted
    // key/dir (NSSummary-resolved) bytes + finalized bytes + key count.
    "q_storage_distribution" -> ((s, d) =>
      ClusterHealth.storageDistribution(T.datanodes(s, d), T.objects(s, d),
        T.nsSummaryMixed(s, d), T.openKeys(s, d), T.multipartParts(s, d),
        T.deletedDirs(s, d))),
    // CreateDirectory ladder: root guard, file-in-path guards (self and
    // ancestor), idempotent DIR_EXISTS, minted-parents count.
    // the ancestor set IS the directory path index (strict key prefixes,
    // distinct; the child summary's directory rows) — read it instead of
    // re-exploding the namespace
    "q_fso_mkdir" -> ((s, d) =>
      Hierarchy.mkdirDecisions(T.fsoMkdirRequests(s, d), T.objects(s, d),
        T.buckets(s, d),
        T.directoryPathsFso(s, d))),
    // CreateFile ladder: overwrite/recursive flags, file-in-path guards,
    // immediate-parent requirement, minted parents on recursive create.
    "q_create_file" -> ((s, d) =>
      Hierarchy.createFileDecisions(T.createFileRequests(s, d),
        T.objects(s, d), T.buckets(s, d),
        T.directoryPathsFso(s, d))),
    // FSO rename ladder: hsync guard, own-subtree guard, into-dir moves
    // with dst/basename collision, dst-parent existence.
    "q_fso_rename" -> ((s, d) =>
      CommitLog.fsoRenameDecisions(T.fsoRenameRequests(s, d),
        T.objects(s, d), T.buckets(s, d),
        T.directoryPathsFso(s, d))),
    "q_multi_delete" -> ((s, d) =>
      S3Ops.multiDelete(T.objects(s, d), T.deleteRequests(s, d),
        T.volumes(s, d))),
    // SST pruning for snapshot diff (rocksdb-checkpoint-differ): walk the
    // compaction DAG from the newer snapshot's range-pruned file map down
    // to files the older snapshot already holds — DIFFERENT rows are the
    // minimal SST read set for the diff job.
    "q_sst_diff" -> ((s, d) =>
      CompactionDag.sstDiff(
        T.sstLive(s, d, 6300), T.sstLive(s, d, 3500), T.sstEdges(s, d),
        destGen = 3500, lo = "000600", hi = "001200")),
    // Delta-source selection: forceFullDiff/native-lib gates → DAG walk
    // vs full diff, with the non-native tombstone workaround sizing.
    "q_snapdiff_source" -> ((s, d) =>
      CompactionDag.snapdiffSourceSelect(
        T.sstLive(s, d, 6300), T.sstLive(s, d, 3500), T.sstEdges(s, d),
        destGen = 3500, lo = "000600", hi = "001200")),
    // Directory-deleting purge walk: budgeted subdir/subfile drains,
    // reclaimability-gated file moves, both-listings-processed parent
    // purge, empty-dir skips, budget-exhaustion cutoff.
    "q_dir_delete_walk" -> ((s, d) =>
      Reclaim.dirDeleteWalk(T.pendingDeletedDirs(s, d), budget = 10L)),
    // Snapshot-diff cleanup: report purge for prior-run moves, then the
    // capped age/terminal-status job walk.
    "q_snapdiff_cleanup" -> ((s, d) =>
      Joins.snapdiffCleanupPlan(T.snapdiffCleanupJobs(s, d),
        maxAgeMs = 604800000L, maxPurgePerTask = 3)),
    // Snapshot-defrag service: budgeted global-chain walk, full vs
    // incremental mode by path position, version switch + cleanup.
    // Snapshot-deleting-service walk: reverse global-chain order under
    // the entry + snapshot budgets; skips free, moves drain
    // keys→dirs→renames, empty snapshots purge-listed.
    "q_snapshot_delete_walk" -> ((s, d) =>
      Reclaim.snapshotDeleteWalk(T.snapDeleteChain(s, d),
        keyLimit = 20L, snapLimit = 3L)),
    "q_snapshot_defrag" -> ((s, d) => {
      val c = T.defragChain(s, d)
      Reclaim.snapshotDefragPlan(c, limitPerTask = 2,
          nativeAvailable = true)
        .withColumn("run_id", lit(1L))
        .unionByName(Reclaim.snapshotDefragPlan(c, limitPerTask = 2,
            nativeAvailable = false)
          .withColumn("run_id", lit(2L)))
        .orderBy("run_id", "global_idx")
    }),
    // ---- FSO parent-pointer hierarchy (SURVEY §2.3 row FSO-resolve) ----
    // namespace depth is a config (keys here are 4 segments ⇒ 3 dir levels).
    // q_fso_resolve and q_fso_list_status_deep run the resolve ladder (its
    // oracle coverage); the listings slice the stored child summary.
    "q_fso_resolve" -> ((s, d) =>
      Hierarchy.resolveFiles(T.directoriesFso(s, d), T.filesFso(s, d),
        maxDepth = 4)),
    "q_fso_list_status" -> ((s, d) =>
      Hierarchy.listStatusFso(T.fsoChildren(s, d),
        "vol2", "bucket5", "warehouse/R")),
    // 5-segment namespace: each child dir's rollup must traverse TWO dir
    // levels to reach its files — direct-children-only counting returns 0.
    // The ladder resolves vol2/bucket5's dirs only, so it and its pin stay
    // bucket-sized; the summary is built from the FSO tables.
    "q_fso_list_status_deep" -> ((s, d) =>
      Hierarchy.listStatusFso(Hierarchy.childSummary(
          Hierarchy.resolveDirs(T.directoriesFsoDeep(s, d)
            .filter(col("volume") === "vol2" && col("bucket") === "bucket5")),
          T.filesFsoDeep(s, d)),
        "vol2", "bucket5", "warehouse/R")),
    // the same listing via keyset pages (child > token), concatenated —
    // must hash-equal the unpaged q_fso_list_status oracle. Page size
    // adapts to the child count (one count of the summary's slice) so the
    // walk spans ~5 pages at EVERY scale factor — exercising real
    // pagination at verify SF without page-count blowup at bench SF.
    "q_fso_list_pages" -> ((s, d) => {
      val children = T.fsoChildren(s, d)
      val n = Hierarchy.listStatusFso(children, "vol2", "bucket5",
        "warehouse/R").count()
      Hierarchy.listStatusFsoWalk(children, "vol2", "bucket5", "warehouse/R",
        pageSize = math.max(50, (n / 5 + 1).toInt))
    }),
    // ---- incremental CDC-maintained views (SURVEY §2.9) ----
    // the CDC source is the MIXED-depth namespace so the streamed NSSummary
    // exercises data-driven ancestor depth end-to-end
    "q_stream_filesize" -> ((s, d) => {
      val w = graft.streaming.ChangeStream.replayedWorkDir(s, T.objectsMixed(s, d), d)
      graft.streaming.ChangeStream.fileSizeView(s, w)
    }),
    "q_stream_counts" -> ((s, d) => {
      val w = graft.streaming.ChangeStream.replayedWorkDir(s, T.objectsMixed(s, d), d)
      graft.streaming.ChangeStream.countsView(s, w)
    }),
    "q_stream_nssummary" -> ((s, d) => {
      val w = graft.streaming.ChangeStream.replayedWorkDir(s, T.objectsMixed(s, d), d)
      graft.streaming.ChangeStream.nsSummaryView(s, w)
    }),
    // ---- cluster-health plane: datanodes / pipelines / balancer ----
    "q_datanode_usage" -> ((s, d) =>
      ClusterHealth.datanodeUsage(T.datanodes(s, d), T.replicas(s, d),
        T.pipelineMembers(s, d))),
    "q_pipeline_health" -> ((s, d) =>
      ClusterHealth.pipelineHealth(T.pipelines(s, d), T.containersScm(s, d))),
    "q_balancer_plan" -> ((s, d) =>
      ClusterHealth.balancerPlan(T.datanodes(s, d))),
    "q_decommission" -> ((s, d) =>
      ClusterHealth.decommissionReadiness(T.replicas(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // ReplicationManager queue: dead replicas gone, out-of-service
    // copies weigh a fixed 5 so real under-replication drains first.
    "q_replication_queue" -> ((s, d) =>
      ClusterHealth.replicationQueue(T.replicas(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // SCM report ingest: full reports REPLACE a node's replica set (the
    // FCR boundary), incremental reports upsert/remove single replicas.
    "q_container_report_fold" -> ((s, d) =>
      ClusterHealth.containerReportFold(T.containerReportEvents(s, d))),
    // rack-aware placement picks for under-replicated containers
    "q_replica_placement" -> ((s, d) =>
      ClusterHealth.replicaPlacement(T.replicas(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // balancer iteration: rank-paired nodes, budgeted largest-first moves
    "q_balancer_moves" -> ((s, d) =>
      ClusterHealth.balancerMoves(T.datanodes(s, d), T.replicas(s, d),
        T.containersScm(s, d))),
    "q_merkle_reconcile" -> ((s, d) =>
      ClusterHealth.merkleReconcile(T.objectsNested(s, d),
        T.replicas(s, d))),
    "q_ec_recovery_plan" -> ((s, d) =>
      ClusterHealth.ecRecoveryPlan(T.ecShards(s, d), T.datanodes(s, d))),
    // the backlog is the stored NSSummary's deleted-dir rows
    "q_deleted_dirs" -> ((s, d) =>
      ClusterHealth.deletedDirsInsight(T.nsSummaryMixed(s, d),
        T.deletedDirs(s, d))),
    "q_block_deletion" -> ((s, d) =>
      ClusterHealth.blockDeletionBacklog(T.objectsSorted(s, d))),
    // Recon /blocks/deletePending page: txID-ordered walk, strictly-
    // greater prevKey resume, the whole walk stops when ONE container
    // state's list fills the limit (single txID watermark).
    "q_blocks_pending_page" -> ((s, d) =>
      ClusterHealth.blocksPendingDeletionPage(T.objectsSorted(s, d),
        T.containersScm(s, d), prevTxn = 20000L, limit = 40)),
    // Deleted-block txn ACK fold: purge only on replica-superset commit;
    // under-replicated containers pin their txns, stale-dn quorums wait.
    "q_block_ack_fold" -> ((s, d) =>
      ClusterHealth.blockAckFold(T.objectsSorted(s, d),
        T.replicas(s, d))),
    // Pipeline scrubber: stuck-ALLOCATED close+delete, expired-CLOSED
    // delete, OPEN-with-unregistered-nodes close (the EC case).
    "q_pipeline_scrub" -> ((s, d) =>
      ClusterHealth.pipelineScrub(T.pipelines(s, d),
        T.pipelineMembers(s, d), T.datanodes(s, d))),
    // Container lifecycle fold: the SCM state machine with idempotent
    // replays and ignored invalid transitions.
    "q_container_lifecycle" -> ((s, d) =>
      ClusterHealth.containerLifecycleFold(
        T.containerLifecycleEvents(s, d))),
    // Node heartbeat health fold: HEALTHY/HEALTHY_READONLY/STALE/DEAD
    // with layout gating, restore/resurrect hysteresis, skip guard.
    "q_node_health" -> ((s, d) =>
      ClusterHealth.nodeHealthFold(T.nodeHealthEvents(s, d),
        T.nodeHealthChecks(s, d))),
    // DN container dispatch: state gate, BCSID replay fence with a
    // running per-container BCSID, read-side BCSID probes.
    "q_dn_dispatch" -> ((s, d) =>
      ClusterHealth.dnDispatchLadder(T.dnOps(s, d),
        T.dnContainers(s, d))),
    // Background container metadata scan: gate (failed volume / scan
    // gap) → first-failing fastCheck rung → unhealthy-marking outcome.
    "q_container_meta_scan" -> ((s, d) =>
      ClusterHealth.containerMetaScan(T.metaScanContainers(s, d))),
    // Stale RECOVERING-container scrub: deadline enqueue, exec-time
    // re-read (extension skip / missing skip), UNHEALTHY marking.
    "q_stale_recovering" -> ((s, d) =>
      ClusterHealth.staleRecoveringScrub(T.recoveringContainers(s, d),
        nowMs = 1000000L)),
    // DN disk balancer: per-volume utilization vs ideal±threshold,
    // bytesToMove, density gauge, and the pair gate.
    "q_disk_balancer_volumes" -> ((s, d) =>
      ClusterHealth.diskBalancerVolumePlan(T.dnVolumes(s, d))),
    // DN disk balancer move choice: highest-util source, first usable
    // lower-util dest, chooseContainer rung walk to the first survivor.
    "q_disk_balancer_move" -> ((s, d) =>
      ClusterHealth.diskBalancerMove(T.dnVolumes(s, d),
        T.dnBalancerContainers(s, d))),
    // Mis-replication copy plan: stability gates, rack-scatter walk,
    // source-eligibility with surfaced shortfalls.
    "q_mis_replication" -> ((s, d) =>
      ClusterHealth.misReplicationPlan(T.replicas(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // Quasi-closed-stuck accounting: per-ORIGIN targets (best-BCSID
    // origins 2, others 1, single-origin 3), maintenance floors.
    "q_qcs_replicas" -> ((s, d) =>
      ClusterHealth.quasiClosedStuckCount(T.replicas(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // QCS under-replication handler: empty skip → pending-add park →
    // per-origin deltas summed into the command count.
    "q_qcs_under_replication" -> ((s, d) =>
      ClusterHealth.qcsUnderReplicationPlan(T.replicas(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // QCS over-replication handler: pending-delete park → node-health
    // filter → per-origin excess → dn-ordered delete picks.
    "q_qcs_over_replication" -> ((s, d) =>
      ClusterHealth.qcsOverReplicationPlan(T.replicas(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // EC over-replication handler: health+service filter before any
    // counting, pending-delete correction, rack-shed removal picks.
    "q_ec_over_replication" -> ((s, d) =>
      ClusterHealth.ecOverReplicationPlan(T.ecShards(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // EC under-replication handler: sufficiency probes, one
    // reconstruction command per container, decom 1:1 copies,
    // maintenance redundancy top-up.
    "q_ec_under_replication" -> ((s, d) =>
      ClusterHealth.ecUnderReplicationPlan(T.ecShards(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // The ReplicationManager health-check chain: first-handling rung per
    // container, with the QC force-close and mismatch-close side rungs.
    // The chain fold (13 rungs over synthesized replicas incl. the %346
    // moved-copy dups) is a fixture of the container dim — memoized to
    // parquet once per (JVM, dir) and shared with q_replication_report,
    // which re-derives its increments from the same rows (VERDICT r8 #2).
    "q_health_check_chain" -> ((s, d) =>
      T.containerHealthChain(s, d).orderBy("container_id")),
    // ozone admin container report: per-state counts with 100-capped
    // id samples in chain-visit order, the side-rung reports included.
    "q_replication_report" -> ((s, d) =>
      ClusterHealth.replicationReportFromChain(T.containerHealthChain(s, d))),
    // ozone admin datanode decommission/maintenance/recommission:
    // host resolution, whole-batch capacity pre-checks, per-node rungs.
    "q_decommission_admin" -> ((s, d) =>
      ClusterHealth.decommissionAdmin(T.datanodes(s, d),
        T.containersScm(s, d), T.replicas(s, d), T.ecShards(s, d))),
    // aws-chunked upload verification: frame parse, final-chunk probe,
    // size checks, the HMAC signature chain re-derived natively.
    "q_sigv4_chunked" -> ((s, d) =>
      S3Ops.signedChunksVerify(T.chunkedUploads(s, d))),
    // OM atomic rewrite: CREATE_IF_ABSENT / generation / ETag fences
    // against the latest updateID.
    "q_atomic_rewrite" -> ((s, d) =>
      Conditional.atomicRewrite(T.objects(s, d))),
    // Training order: seeded per-epoch shuffle + closed-form
    // domain-interleaved curriculum slots (no global window).
    "q_train_order" -> ((s, d) =>
      Sampling.trainOrder(T.documents(s, d))),
    // Balancer start validation: RPC parameter rungs, eligibility and
    // state gates, config-vs-container-size checks.
    "q_balancer_admin" -> ((s, d) =>
      ClusterHealth.balancerAdmin(T.datanodes(s, d))),
    // DN replication supervisor: queue-full before dedup, deadline and
    // stale-term drops, per-task outcomes.
    "q_replication_supervisor" -> ((s, d) =>
      ClusterHealth.replicationSupervisorFold(T.containersScm(s, d))),
    // Snapshot-diff job lifecycle: report dispatch by job status,
    // cancel ladder (only IN_PROGRESS cancels).
    "q_snapdiff_jobs" -> ((s, d) => Joins.snapshotDiffJobs(s)),
    // EC rack-scatter placement validation with the over-replication
    // allowance and rack-deficit-first reason.
    "q_ec_placement_validate" -> ((s, d) =>
      ClusterHealth.ecPlacementValidate(T.ecShards(s, d))),
    // DN volume checker: failed-volume removal, min-gap throttle keyed
    // on completion, timeout/failure folds.
    "q_volume_check" -> ((s, d) =>
      ClusterHealth.volumeCheckFold(s)),
    // EC-plane health checks: the chain legs the Ratis chain
    // type-guards away — EC check, closed-with-unhealthy deletes,
    // EC mis-replication.
    "q_ec_health_check" -> ((s, d) =>
      ClusterHealth.ecHealthCheck(T.ecShards(s, d), T.datanodes(s, d),
        T.containersScm(s, d))),
    // DN container-import admission: dedup/exists/checksum/space rungs.
    "q_container_import" -> ((s, d) =>
      ClusterHealth.containerImportCheck(T.containersScm(s, d))),
    // Recon /taskstatus: per-task checkpoints against the real
    // change-log head.
    "q_recon_task_status" -> ((s, d) =>
      ClusterHealth.reconTaskStatus(changeLogCached(s, d))),
    // Auth dispatch + V2 ladder: V4-header > V4-query > V2 > anonymous,
    // with the V2 arity/blank rungs and Java's trailing-split artifact.
    "q_auth_dispatch" -> ((s, d) =>
      S3Ops.authDispatch(T.authDispatchRequests(s, d))),
    // Range-header parse: clamps, the asymmetric 416 rule, suffix
    // semantics with the bytes=- artifact, syntax fall-through.
    "q_range_header" -> ((s, d) =>
      S3Ops.rangeHeaderParse(T.rangeHeaders(s, d))),
    // Canonical-request / string-to-sign builder: URI/query encoding,
    // signed-header walk, host + x-amz coverage rules, payload hash.
    "q_string_to_sign" -> ((s, d) =>
      S3Ops.stringToSign(T.stringToSignRequests(s, d))),
    // Presigned-URL query parse ladder: 403-vs-400 split, range-before-
    // date-parse precedence, expiry window, credential/signature rungs.
    "q_presigned_parse" -> ((s, d) =>
      S3Ops.presignedQueryParse(T.presignedRequests(s, d))),
    // SigV4 Authorization-header parse ladder: NOT_V4 fall-through,
    // arity/algorithm rungs, the Credential 5/6 split with the
    // Kerberos join, strict-date window, hex signature rules.
    "q_sigv4_header_parse" -> ((s, d) =>
      S3Ops.sigv4HeaderParse(T.sigv4Headers(s, d))),
    // SCM deleted-block dispatch: circular-resume txn walk under the
    // global budget + per-dn caps, cleanup/open/inadequate rungs,
    // per-replica duplication filtering.
    "q_scm_block_dispatch" -> ((s, d) =>
      ClusterHealth.scmBlockDispatch(T.sbdTxns(s, d),
        T.sbdContainers(s, d), T.sbdReplicas(s, d),
        T.sbdIncluded(s, d), T.sbdDups(s, d))),
    // DN block-deleting selection: the eligibility ladder (pending /
    // type / state / Ratis close-log fences) + TopN budgeted fill with
    // the boundary PARTIAL.
    "q_dn_block_delete" -> ((s, d) =>
      ClusterHealth.dnBlockDeleteChoose(T.dnDeleteContainers(s, d))),
    // DN round-robin volume choice: circular scan from the persistent
    // cursor, success-only advance, shrink-guard restart, committed
    // accumulation, out-of-space/no-volumes refusals.
    "q_volume_choose" -> ((s, d) =>
      ClusterHealth.volumeChooseFold(T.dnVolumeOps(s, d))),
    // SCM block-allocation walk: OPEN-pipeline candidates with the
    // exclusion wipe-out fallback, healthy-first pipeline order, the
    // lastUsed cursor tail/head container walk, limit+space-gated
    // pre-mints, the miss-path mint, CREATE_PIPELINE when dry.
    "q_scm_block_allocate" -> ((s, d) =>
      ClusterHealth.scmBlockAllocate(T.allocRequests(s, d),
        T.allocPipelines(s, d), T.allocPipelineMembers(s, d),
        T.allocDatanodes(s, d), T.allocContainers(s, d),
        T.allocCursors(s, d))),
    // Recon /datanodes/remove ladder: not-found / non-DEAD refusal /
    // open-container / open-pipeline pins / removed, with mid-walk
    // node-manager mutation (a removed uuid re-reads NOT_FOUND).
    "q_datanode_remove" -> ((s, d) =>
      ClusterHealth.datanodeRemove(T.removeDnRequests(s, d),
        T.removeDnNodes(s, d), T.removeDnContainerRefs(s, d),
        T.removeDnContainerStates(s, d), T.removeDnPipelineRefs(s, d),
        T.removeDnPipelineStates(s, d))),
    // Pipeline-creation placement: viable filter (health/op/space/
    // pipeline-limit) → least-engaged anchor → different-rack second →
    // anchor-rack-preferring third with fallbacks.
    "q_pipeline_create" -> ((s, d) =>
      ClusterHealth.pipelineCreatePlan(T.datanodes(s, d),
        T.pipelines(s, d), T.pipelineMembers(s, d))),
    // Ratis over-replication delete plan: node-health filter → re-verify
    // → op-state eligibility → quasi-closed unique-origin saves →
    // mismatched-first deletes → placement-safe excess deletes.
    "q_over_replication" -> ((s, d) =>
      ClusterHealth.overReplicationPlan(T.replicas(s, d),
        T.datanodes(s, d), T.containersScm(s, d))),
    // Ratis under-replication repair plan: empty-QC skip → vulnerable
    // UNHEALTHY rescue → verify ladder → max-seq source selection →
    // additionalReplicaNeeded commands.
    "q_under_replication" -> ((s, d) =>
      ClusterHealth.underReplicationPlan(T.datanodes(s, d),
        T.containersScm(s, d))),
    // Empty-container check: CLOSED all-empty deletes (RATIS BCSID
    // fence), QUASI_CLOSED empties with the BCSID bump and stable-state
    // delete targeting, zero-replica closing-stuck EMPTYs.
    "q_empty_container" -> ((s, d) =>
      ClusterHealth.emptyContainerCheck(T.datanodes(s, d),
        T.containersScm(s, d), T.containersOm(s, d))),
    "q_safemode" -> ((s, d) =>
      ClusterHealth.safemodeStatus(T.datanodes(s, d), T.pipelines(s, d),
        T.pipelineMembers(s, d), T.containersScm(s, d), T.replicas(s, d))),
    "q_safemode_ec" -> ((s, d) =>
      ClusterHealth.safemodeEcRules(T.safemodeEcContainers(s, d),
        T.safemodeEcReports(s, d), T.datanodes(s, d))),
    "q_volume_space_filter" -> ((s, d) =>
      ClusterHealth.volumeSpaceFilter(T.capacityVolumes(s, d), 100000L)),
    "q_capacity_pairs" -> ((s, d) =>
      ClusterHealth.capacityVolumePairs(T.capacityVolumes(s, d), 100000L)),
    "q_pipeline_capacity_compare" -> ((s, d) =>
      ClusterHealth.pipelineCapacityCompare(T.capacityPipeNodes(s, d))),
    "q_finalization_walk" -> ((s, d) =>
      Upgrade.finalizationWalk(T.finalizationComponents(s, d),
        T.layoutFeatures(s, d))),
    "q_gdpr_scrub" -> ((s, d) =>
      Nested.gdprDeleteScrub(T.gdprKeys(s, d), trxnIndex = 7777L)),
    "q_chatbot_guard" -> ((s, d) =>
      ChatbotGuard.toolCallGuard(T.chatbotCalls(s, d),
        T.chatbotAllowlist(s, d))),
    "q_ec_container_provider" -> ((s, d) =>
      ClusterHealth.ecContainerProvider(T.ecProviderRequests(s, d),
        T.ecProviderPipelines(s, d), T.ecProviderExcludes(s, d))),
    "q_pipeline_creator" -> ((s, d) =>
      ClusterHealth.pipelineCreatorConfigs(
        T.pipelineCreatorScenarios(s, d))),
    "q_close_container_event" -> ((s, d) =>
      ClusterHealth.closeContainerEvents(T.closeContainerEvents(s, d))),
    "q_dead_node_handler" -> ((s, d) =>
      ClusterHealth.deadNodeHandler(T.deadNodeEvents(s, d))),
    "q_dn_close_command" -> ((s, d) =>
      ClusterHealth.dnCloseCommands(T.dnCloseCommands(s, d))),
    "q_ec_degraded_read" -> ((s, d) =>
      ErasureOps.degradedReadPlan(T.ecReadBlocks(s, d))),
    "q_url_dedup" -> ((s, d) => Curation.urlDedup(T.docUrls(s, d))),
    "q_recon_unhealthy" -> ((s, d) =>
      ClusterHealth.reconUnhealthyStates(T.containersScm(s, d),
        T.containersOm(s, d), T.replicas(s, d))),
    // Recon async CSV-export job manager: submit dedup/capacity rungs,
    // status + live queue position, download budget, cancel/delete.
    "q_export_jobs" -> ((s, _) => ReconJobs.exportJobLadder(s)),
    // Recon /volumes + /buckets: keyset-paged composite usage rows
    // (quotas, used bytes/namespace, times) with the endpoints' paging
    // quirks (absent prevKey → empty page; exact startBucket skipped).
    // The domain is the CATALOG tables (with planted zero-object rows:
    // vol21 occupies a /volumes page slot, vol2/bucket41 displaces
    // bucket7 from the /buckets page) — the reference walks
    // volumeTable/bucketTable, never a usage-derived view.
    "q_recon_volumes" -> ((s, d) =>
      Listing.reconVolumes(T.volumesCatalog(s, d), T.objects(s, d), 3,
        "vol1")),
    "q_recon_buckets" -> ((s, d) =>
      Listing.reconBuckets(T.bucketsCatalog(s, d), T.objects(s, d), "vol2",
        "bucket3", 4)),
    // Recon /pendingDeletion dispatch: component validation rungs, the
    // dn per-datanode pending list under the ≥1 limit, the scm
    // deleted-blocks summary triple, the om replicated-size pair.
    "q_pending_deletion" -> ((s, d) =>
      ReconJobs.pendingDeletionDispatch(pendingRollupsCached(s, d))),
    "q_acl_parent_chain" -> ((s, d) =>
      Security.aclParentChain(T.aclChainScenarios(s, d))),
    // reads a PRE-CHURN snapshot through the .snapshot path indicator —
    // vol2 is INSIDE the churn scope (orderkey%10==0 ⇒ vol∈{0,2}), so the
    // snapshot view provably differs from live: creation-time sizes, no
    // .mv keys, churn-deleted keys still present
    "q_snapshot_read" -> ((s, d) =>
      CommitLog.snapshotPathList(s, T.objects(s, d), d, "vol2", "bucket5",
        ".snapshot/s1/warehouse/N/", maxKeys = 100)),
    // filesystem view of a snapshot: immediate children + dir rollups
    // over the checkpoint state, not the live table
    "q_snapshot_list_status" -> ((s, d) =>
      CommitLog.snapshotPathListStatus(s, T.objects(s, d), d, "vol2",
        "bucket5", ".snapshot/s1/warehouse/N")),
    // ---- training-data sampling: exact quotas + token budgets ----
    "q_sample_stratified" -> ((s, d) =>
      Sampling.stratifiedSample(T.documents(s, d), "lang", quota = 40)),
    // hash-deterministic train/val/test assignment (stable under growth)
    "q_data_split" -> ((s, d) => Sampling.dataSplit(T.documents(s, d))),
    "q_corpus_mix" -> ((s, d) =>
      Sampling.corpusMix(T.documents(s, d), "source", budgetTokens = 800L)),
    "q_mix_weights" -> ((s, d) =>
      Sampling.mixWeights(T.documents(s, d), "source",
        budgetTokens = 1000000L)),
    // exact largest-remainder apportionment of the same budget
    "q_mix_allocation" -> ((s, d) =>
      Sampling.mixAllocation(T.documents(s, d), "source",
        budgetTokens = 1000000L)),
    // ---- corpus curation: PII redaction, repetition filter,
    // benchmark decontamination, sequence packing ----
    "q_pii_scrub" -> ((s, d) => Curation.piiScrub(T.documents(s, d))),
    "q_repetition_filter" -> ((s, d) =>
      Curation.repetitionFilter(T.documents(s, d))),
    "q_decontaminate" -> ((s, d) => Curation.decontaminate(T.documents(s, d))),
    // the whole pipeline's keep/drop report with first-failing-stage
    // attribution
    "q_curation_funnel" -> ((s, d) =>
      Curation.curationFunnel(T.documents(s, d))),
    "q_seq_pack" -> ((s, d) => Curation.seqPack(T.documents(s, d))),
    // per-shard packing diagnostics: padding waste + fragmentation
    "q_pack_stats" -> ((s, d) => Curation.packStats(T.documents(s, d))),
    // overlapping-window chunk plan (retrieval/embedding prep)
    "q_doc_chunks" -> ((s, d) => Curation.docChunks(T.documents(s, d))),
    // dedup pipeline's final stage: keep the best-quality member per cluster
    "q_dedup_canonical" -> ((s, d) =>
      Dedup.canonicalDocs(docClustersCached(s, d),
        TextAnalysis.qualityScore(T.documents(s, d)))),
    "q_keyword_search" -> ((s, d) =>
      TextAnalysis.keywordSearch(T.documents(s, d), SearchTerms)),
    // n-gram LM counts with cutoff: the canonical count-based-LM /
    // memorization-audit corpus pass (one hash agg over exploded trigrams)
    "q_ngram_counts" -> ((s, d) =>
      TextAnalysis.ngramCounts(T.documents(s, d), n = 3, minCount = 3)),
    "q_bm25_rank" -> ((s, d) =>
      TextAnalysis.bm25Rank(T.documents(s, d), SearchTerms)),
    "q_lm_familiarity" -> ((s, d) =>
      TextAnalysis.lmFamiliarity(T.documents(s, d),
        TextAnalysis.ngramCounts(T.documents(s, d), n = 3, minCount = 3))),
    // CCNet head/middle/tail: per-source familiarity terciles (the
    // perplexity-bucket pass training mixes sample by).
    "q_ccnet_buckets" -> ((s, d) =>
      TextAnalysis.ccnetBuckets(T.documents(s, d),
        TextAnalysis.ngramCounts(T.documents(s, d), n = 3, minCount = 3))),
    // CCNet paragraph-level exact dedup: global first-occurrence wins
    // per paragraph hash, per-doc retained rollup.
    "q_paragraph_dedup" -> ((s, d) =>
      Dedup.paragraphDedup(T.documents(s, d))),
    "q_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(T.documents(s, d))),
    // BPE merge-candidate ranking: adjacent char/</w> pair frequencies
    // over the distinct vocabulary, weighted by corpus word counts
    "q_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairStats(T.documents(s, d))))

  /** Query-term set for q_keyword_search (mirrored in its oracle). */
  val SearchTerms = Seq("table", "spark", "query", "zebra")

  /** The health-check-chain SELECT (shared by q_health_check_chain and,
    * as a CTE, by q_replication_report's increment re-derivation). */
  private val chhSelect: String =
    """SELECT container_id, chain_state, handled_by, detail,
      |  qc_force_close,
      |  CAST(n_mismatch_close AS BIGINT) AS n_mismatch_close
      |FROM (
      |  SELECT s.*,
      |  CASE
      |    WHEN chain_state = 'OPEN' THEN 'OPEN'
      |    WHEN chain_state = 'CLOSING' THEN 'CLOSING'
      |    WHEN chain_state IN ('DELETED', 'DELETING') THEN 'DELETING'
      |    WHEN chain_state = 'CLOSED' AND n_replicas > 0
      |      AND all_closed_empty = 1 THEN 'EMPTY'
      |    WHEN chain_state = 'QUASI_CLOSED' AND n_replicas > 0
      |      AND all_empty = 1 THEN 'EMPTY'
      |    WHEN chain_state = 'CLOSED' AND num_keys = 0
      |      AND n_replicas = 0 THEN 'EMPTY'
      |    WHEN qcs_stuck AND n_replicas = 0 THEN 'QCS_CHECK'
      |    WHEN qcs_stuck AND any_healthy_state = 1
      |      AND (qcs_under = 1 OR qcs_over = 1) THEN 'QCS_CHECK'
      |    WHEN NOT qcs_stuck AND NOT suff_without AND n_replicas = 0
      |      THEN 'RATIS_CHECK'
      |    WHEN NOT qcs_stuck AND NOT suff_without
      |      AND healthy_count > 0 THEN 'RATIS_CHECK'
      |    WHEN NOT qcs_stuck AND suff_without AND (over_without
      |      OR (over_with AND (chain_state = 'CLOSED'
      |        OR deletable_unh))) THEN 'RATIS_CHECK'
      |    WHEN NOT qcs_stuck AND suff_without AND NOT over_without
      |      AND NOT (over_with AND (chain_state = 'CLOSED'
      |        OR deletable_unh))
      |      AND n_racks < least(replication_factor, 5)
      |      THEN 'RATIS_CHECK'
      |    WHEN healthy_count = 0 AND n_unh > 0
      |      AND NOT suff_with_unh THEN 'UNHEALTHY_CHECK'
      |    WHEN healthy_count = 0 AND n_unh > 0 AND over_with_del
      |      THEN 'UNHEALTHY_CHECK'
      |    WHEN n_vulnerable > 0 THEN 'VULNERABLE'
      |    ELSE 'NONE' END AS handled_by
      |  FROM chh_stage s)
      |CROSS JOIN LATERAL (SELECT
      |  CASE
      |    WHEN handled_by = 'OPEN' THEN
      |      CASE WHEN bad_member = 1 THEN 'OPEN_WITHOUT_PIPELINE'
      |        WHEN all_match_state = 0 THEN 'OPEN_UNHEALTHY'
      |        ELSE 'OPEN_OK' END
      |    WHEN handled_by = 'CLOSING' THEN
      |      CASE WHEN n_replicas = 0 THEN 'CLOSING_MISSING'
      |        WHEN n_nonunh = 0 THEN 'CLOSING_ALL_UNHEALTHY'
      |        ELSE 'CLOSING_CLOSE' END
      |    WHEN handled_by = 'DELETING' THEN chain_state
      |    WHEN handled_by = 'EMPTY' THEN
      |      CASE WHEN chain_state = 'QUASI_CLOSED'
      |          THEN 'EMPTY_QUASI_CLOSED'
      |        WHEN n_replicas = 0 THEN 'EMPTY_NO_REPLICAS'
      |        ELSE 'EMPTY_CLOSED' END
      |    WHEN handled_by = 'QCS_CHECK' THEN
      |      CASE WHEN n_replicas = 0 THEN 'QCS_MISSING'
      |        WHEN qcs_under = 1 THEN 'QCS_UNDER'
      |        ELSE 'QCS_OVER' END
      |    WHEN handled_by = 'RATIS_CHECK' THEN
      |      CASE WHEN NOT suff_without AND n_replicas = 0
      |          THEN 'MISSING'
      |        WHEN NOT suff_without THEN 'UNDER_REPLICATED'
      |        WHEN over_without OR over_with THEN 'OVER_REPLICATED'
      |        ELSE 'MIS_REPLICATED' END
      |    WHEN handled_by = 'UNHEALTHY_CHECK' THEN
      |      CASE WHEN NOT suff_with_unh THEN 'UNHEALTHY_UNDER'
      |        ELSE 'UNHEALTHY_OVER' END
      |    WHEN handled_by = 'VULNERABLE' THEN 'UNHEALTHY_VULNERABLE'
      |    ELSE CASE WHEN n_unh > 0 THEN 'UNHEALTHY'
      |      ELSE 'HEALTHY' END
      |    END AS detail)""".stripMargin

  def oracleSql: Map[String, String] =
    oracleBase + ("q_replication_report" -> replicationReportOracle) +
      ("q_dedup_funnel" -> dedupFunnelOracle) +
      ("q_ccnet_buckets" -> ccnetBucketsOracle)

  /** CCNet-bucket mirror: the lm-familiarity component oracle nested
    * VERBATIM (string reuse, no drift), per-source tercile windows. */
  private def ccnetBucketsOracle: String =
    "WITH fam_t AS (\n" + oracleBase("q_lm_familiarity") + "\n)\n" +
      """SELECT doc_id, source, familiarity_pm, rank_in_source,
        |  CASE WHEN rank_in_source <= n_in_source // 3 THEN 'head'
        |    WHEN rank_in_source <= 2 * n_in_source // 3 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM (
        |  SELECT f.doc_id, d.source, f.familiarity_pm,
        |    CAST(row_number() OVER (PARTITION BY d.source
        |      ORDER BY f.familiarity_pm DESC, f.doc_id) AS BIGINT)
        |      AS rank_in_source,
        |    CAST(count(*) OVER (PARTITION BY d.source) AS BIGINT)
        |      AS n_in_source
        |  FROM fam_t f JOIN documents d USING (doc_id))
        |ORDER BY doc_id""".stripMargin

  /** Dedup-funnel mirror: the url-dedup and keep-one component oracles
    * nested VERBATIM (string reuse of the oracleBase entries, so the
    * funnel can never drift from its stages), first-dropping-stage
    * attribution exactly like q_curation_funnel's CASE priority. */
  private def dedupFunnelOracle: String =
    "WITH url_t AS (\n" + oracleBase("q_url_dedup") +
      "\n), keep_t AS (\n" + oracleBase("q_dedup_keep") + "\n)\n" +
      """SELECT u.doc_id, u.cluster_size AS url_cluster_size,
        |  k.cluster_id, k.cluster_size, k.kept_doc_id,
        |  CASE WHEN NOT u.keep THEN 'url'
        |    WHEN k.decision = 'DROP' THEN 'near_dup'
        |    ELSE 'keep' END AS verdict
        |FROM url_t u JOIN keep_t k USING (doc_id)
        |ORDER BY u.doc_id""".stripMargin

  /** ReplicationManagerReport mirror: the whole chain oracle re-used as
    * a CTE (string surgery on the q_health_check_chain entry so the two
    * can never drift), increments re-derived per rung, 100-cap sample
    * slices in ascending (visit) order, the pre-populated stat spine. */
  private def replicationReportOracle: String = {
    val chain = oracleBase("q_health_check_chain")
    val ctesOnly = chain.stripSuffix("\nORDER BY container_id")
      .stripSuffix(chhSelect).stripSuffix("\n")
    ctesOnly + ",\nchh_chain AS (\n" + chhSelect + "\n)\n" +
      """SELECT s.stat, CAST(coalesce(a.cnt, 0) AS BIGINT) AS cnt,
        |  coalesce(a.sample_ids, '') AS sample_ids
        |FROM (VALUES ('OPEN'), ('CLOSING'), ('QUASI_CLOSED'),
        |  ('CLOSED'), ('DELETING'), ('DELETED'), ('HEALTHY'),
        |  ('UNDER_REPLICATED'), ('MIS_REPLICATED'), ('OVER_REPLICATED'),
        |  ('MISSING'), ('UNHEALTHY'), ('EMPTY'), ('OPEN_UNHEALTHY'),
        |  ('QUASI_CLOSED_STUCK'), ('OPEN_WITHOUT_PIPELINE'),
        |  ('UNHEALTHY_UNDER_REPLICATED'), ('UNHEALTHY_OVER_REPLICATED'),
        |  ('MISSING_UNDER_REPLICATED'),
        |  ('QUASI_CLOSED_STUCK_UNDER_REPLICATED'),
        |  ('QUASI_CLOSED_STUCK_OVER_REPLICATED'),
        |  ('QUASI_CLOSED_STUCK_MISSING')) s(stat)
        |LEFT JOIN (
        |  SELECT stat, count(*) AS cnt,
        |    array_to_string((list(container_id ORDER BY container_id)
        |      FILTER (WHERE sampled))[1:100], ',') AS sample_ids
        |  FROM (
        |    SELECT chain_state AS stat, container_id, false AS sampled
        |    FROM chh_chain
        |    UNION ALL
        |    SELECT h.stat, h.container_id, true AS sampled FROM (
        |      SELECT container_id,
        |        CASE
        |          WHEN detail = 'OPEN_WITHOUT_PIPELINE'
        |            THEN 'OPEN_WITHOUT_PIPELINE'
        |          WHEN detail = 'OPEN_UNHEALTHY' THEN 'OPEN_UNHEALTHY'
        |          WHEN detail = 'CLOSING_MISSING' THEN 'MISSING'
        |          WHEN handled_by = 'EMPTY' THEN 'EMPTY'
        |          WHEN detail = 'QCS_MISSING'
        |            THEN 'QUASI_CLOSED_STUCK_MISSING'
        |          WHEN detail = 'QCS_UNDER'
        |            THEN 'QUASI_CLOSED_STUCK_UNDER_REPLICATED'
        |          WHEN detail = 'QCS_OVER'
        |            THEN 'QUASI_CLOSED_STUCK_OVER_REPLICATED'
        |          WHEN detail = 'MISSING' THEN 'MISSING'
        |          WHEN detail = 'UNDER_REPLICATED'
        |            THEN 'UNDER_REPLICATED'
        |          WHEN detail = 'OVER_REPLICATED'
        |            THEN 'OVER_REPLICATED'
        |          WHEN detail = 'MIS_REPLICATED' THEN 'MIS_REPLICATED'
        |          WHEN detail = 'UNHEALTHY_UNDER'
        |            THEN 'UNHEALTHY_UNDER_REPLICATED'
        |          WHEN detail = 'UNHEALTHY_OVER'
        |            THEN 'UNHEALTHY_OVER_REPLICATED'
        |          WHEN detail = 'UNHEALTHY_VULNERABLE'
        |            THEN 'UNHEALTHY_UNDER_REPLICATED'
        |          WHEN handled_by = 'NONE' AND detail = 'UNHEALTHY'
        |            THEN 'UNHEALTHY'
        |        END AS stat
        |      FROM chh_chain) h WHERE h.stat IS NOT NULL
        |    UNION ALL
        |    SELECT 'QUASI_CLOSED_STUCK' AS stat, container_id,
        |      true AS sampled
        |    FROM chh_chain
        |    WHERE chain_state = 'QUASI_CLOSED' AND qc_force_close = 0)
        |  GROUP BY 1) a ON a.stat = s.stat
        |ORDER BY s.stat""".stripMargin
  }

  private def oracleBase: Map[String, String] = Map(

    "q_list_keys" -> O.withCtes(
      """SELECT key, data_size, replicated_size, replication_type,
        |  creation_time, owner, etag
        |FROM objects
        |WHERE volume = 'vol1' AND bucket = 'bucket3'
        |  AND key LIKE 'warehouse/N/%' AND key > 'warehouse/N/2'
        |ORDER BY key, data_size, creation_time LIMIT 101""".stripMargin, O.objects),

    "q_om_metrics" -> O.withCtes(
      """SELECT b.req_id, b.volume, b.bucket, b.prefix,
        |  CAST(b.max_keys AS BIGINT) AS max_keys,
        |  CAST(b.matching AS BIGINT) AS matching,
        |  CAST(least(b.matching, b.max_keys) AS BIGINT) AS key_count,
        |  b.matching > b.max_keys AS truncated,
        |  (SELECT CAST(sum(least(matching, max_keys)) AS BIGINT)
        |     FROM omm_base) AS total_key_count,
        |  (SELECT CAST(count(*) AS BIGINT) FROM omm_base) AS n_calls
        |FROM omm_base b ORDER BY b.req_id""".stripMargin,
      O.objects,
      O.values("omm_reqs", T.omListRequestRows),
      """omm_m AS (
        |  SELECT r.req_id, count(*) AS matching
        |  FROM omm_reqs r JOIN objects o
        |    ON o.volume = r.volume AND o.bucket = r.bucket
        |    AND o.key LIKE r.prefix || '%'
        |  GROUP BY 1)""".stripMargin,
      """omm_base AS (
        |  SELECT r.req_id, r.volume, r.bucket, r.prefix, r.max_keys,
        |    coalesce(m.matching, 0) AS matching
        |  FROM omm_reqs r LEFT JOIN omm_m m USING (req_id))""".stripMargin),

    "q_list_objects_v2" -> O.withCtes(
      """SELECT entry, max(slash) > 0 AS is_common_prefix,
        |  count(*) AS num_keys, CAST(sum(data_size) AS BIGINT) AS total_size
        |FROM (
        |  SELECT CASE WHEN strpos(rest, '/') > 0
        |      THEN 'warehouse/N/' || substring(rest, 1, strpos(rest, '/'))
        |      ELSE key END AS entry,
        |    strpos(rest, '/') AS slash, data_size
        |  FROM (
        |    SELECT key, data_size, substring(key, 13) AS rest
        |    FROM objects
        |    WHERE volume = 'vol0' AND bucket = 'bucket0'
        |      AND key LIKE 'warehouse/N/%' AND key > ''))
        |GROUP BY entry ORDER BY entry LIMIT 1001""".stripMargin, O.objects),

    "q_list_status" -> O.withCtes(
      """SELECT CASE WHEN strpos(rest, '/') > 0
        |    THEN substring(rest, 1, strpos(rest, '/') - 1) ELSE rest END AS child,
        |  max(strpos(rest, '/')) > 0 AS is_dir,
        |  count(*) AS num_files,
        |  CAST(sum(data_size) AS BIGINT) AS total_size,
        |  max(modification_time) AS modification_time
        |FROM (
        |  SELECT substring(key, 13) AS rest, data_size, modification_time
        |  FROM objects
        |  WHERE volume = 'vol2' AND bucket = 'bucket5'
        |    AND key LIKE 'warehouse/R/%')
        |GROUP BY child ORDER BY child""".stripMargin, O.objects),

    "q_page_after" -> O.withCtes(
      """SELECT key, data_size, etag FROM objects
        |WHERE volume = 'vol3' AND bucket = 'bucket7'
        |  AND key > 'warehouse/N/15'
        |ORDER BY key, data_size LIMIT 50""".stripMargin, O.objects),

    "q_list_objects_pages" -> O.withCtes(
      """SELECT entry, max(slash) > 0 AS is_common_prefix,
        |  count(*) AS num_keys, CAST(sum(data_size) AS BIGINT) AS total_size
        |FROM (
        |  SELECT CASE WHEN strpos(rest, '/') > 0
        |      THEN 'warehouse/N/' || substring(rest, 1, strpos(rest, '/'))
        |      ELSE key END AS entry,
        |    strpos(rest, '/') AS slash, data_size
        |  FROM (
        |    SELECT key, data_size, substring(key, 13) AS rest
        |    FROM objects
        |    WHERE volume = 'vol0' AND bucket = 'bucket0'
        |      AND key LIKE 'warehouse/N/%'))
        |GROUP BY entry ORDER BY entry""".stripMargin, O.objects),

    "q_list_buckets" -> O.withCtes(
      """SELECT * FROM buckets_catalog
        |WHERE volume = 'vol1' AND bucket > 'bucket2'
        |ORDER BY bucket LIMIT 6""".stripMargin, O.objects, O.buckets,
      O.bucketsCatalog),

    // Directory-buckets mirror: FSO filter + the extra-row probe.
    "q_list_dir_buckets" -> O.withCtes(
      """SELECT volume, bucket, pos,
        |  mx > 5 AS is_truncated,
        |  CASE WHEN mx > 5 THEN le ELSE '' END AS next_token
        |FROM (
        |  SELECT p.*, s.mx, s.le FROM (
        |    SELECT volume, bucket,
        |      row_number() OVER (ORDER BY volume || '/' || bucket) AS pos
        |    FROM buckets_catalog
        |    WHERE layout = 'FSO'
        |      AND volume || '/' || bucket > 'vol0/bucket3') p
        |  CROSS JOIN (
        |    SELECT max(pos) AS mx,
        |      max(CASE WHEN pos <= 5 THEN volume || '/' || bucket END)
        |        AS le
        |    FROM (
        |      SELECT volume, bucket,
        |        row_number() OVER (ORDER BY volume || '/' || bucket) AS pos
        |      FROM buckets_catalog
        |      WHERE layout = 'FSO'
        |        AND volume || '/' || bucket > 'vol0/bucket3') q
        |    WHERE pos <= 6) s
        |  WHERE p.pos <= 5)
        |ORDER BY pos""".stripMargin,
      O.objects, O.buckets, O.bucketsCatalog),

    "q_list_volumes" -> O.withCtes(
      "SELECT * FROM volumes_catalog ORDER BY volume",
      O.objects, O.buckets, O.bucketsCatalog, O.volumesCatalog),

    // The link catalog is a 5-row static fixture, so its resolution has a
    // closed literal form derived by hand from the chase semantics
    // (direct OK@1, chain OK@2, dangling@1, 2-cycle CYCLE@Links.MaxHops+1).
    "q_link_resolve" ->
      """SELECT volume, bucket, resolved_volume, resolved_bucket,
        |  CAST(hops AS BIGINT) AS hops, status
        |FROM (VALUES
        |  ('vol0', 'link-cycle1', 'vol0', 'link-cycle2', 9, 'CYCLE'),
        |  ('vol0', 'link-cycle2', 'vol0', 'link-cycle1', 9, 'CYCLE'),
        |  ('vol1', 'link-a', 'vol0', 'bucket0', 1, 'OK'),
        |  ('vol2', 'link-b', 'vol0', 'bucket0', 2, 'OK'),
        |  ('vol3', 'link-broken', 'vol0', 'no-such-bucket', 1, 'DANGLING'))
        |  t(volume, bucket, resolved_volume, resolved_bucket, hops, status)
        |ORDER BY volume, bucket""".stripMargin,

    // listing through the chain == listing the terminal source bucket
    "q_link_list" -> O.withCtes(
      """SELECT key, data_size, replicated_size, replication_type,
        |  creation_time, owner, etag
        |FROM objects
        |WHERE volume = 'vol0' AND bucket = 'bucket0'
        |  AND key LIKE 'warehouse/N/%' AND key > ''
        |ORDER BY key, data_size, creation_time LIMIT 101""".stripMargin,
      O.objects),

    "q_list_mpus" -> O.withCtes(
      """SELECT key, upload_id, initiated_ms, num_parts FROM (
        |  SELECT 'vol' || (order_key % 4) AS volume,
        |    'bucket' || (order_key % 10) AS bucket,
        |    'warehouse/mpu/' || order_key || '.bin' AS key,
        |    upload_id, min(creation_time) AS initiated_ms,
        |    count(*) AS num_parts
        |  FROM multipart_parts GROUP BY order_key, upload_id)
        |WHERE volume = 'vol2' AND bucket = 'bucket0'
        |  AND key LIKE 'warehouse/mpu/1%'
        |ORDER BY key, upload_id LIMIT 1001""".stripMargin,
      O.multipartParts),

    "q_rename_keys" -> O.withCtes(
      """SELECT volume, bucket, from_key, to_key, decision,
        |  (decision = 'RENAMED' OR decision = 'DEST_EXISTS') AS applied,
        |  CASE WHEN max(CASE WHEN decision <> 'RENAMED' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY volume, bucket) > 0
        |    THEN 'PARTIAL_RENAME' ELSE 'OK' END AS batch_status
        |FROM (
        |  SELECT r.volume, r.bucket, r.from_key, r.to_key,
        |    CASE WHEN r.from_key = '' OR r.to_key = '' THEN 'EMPTY_NAME'
        |         WHEN t.k IS NOT NULL AND f.k IS NULL
        |           THEN 'DEST_EXISTS_AND_SRC_MISSING'
        |         WHEN t.k IS NOT NULL THEN 'DEST_EXISTS'
        |         WHEN f.k IS NULL THEN 'SRC_MISSING'
        |         ELSE 'RENAMED' END AS decision
        |  FROM rename_requests r
        |  LEFT JOIN (SELECT DISTINCT volume, bucket, key AS k FROM objects) f
        |    ON r.volume = f.volume AND r.bucket = f.bucket
        |      AND r.from_key = f.k
        |  LEFT JOIN (SELECT DISTINCT volume, bucket, key AS k FROM objects) t
        |    ON r.volume = t.volume AND r.bucket = t.bucket
        |      AND r.to_key = t.k)
        |ORDER BY volume, bucket, from_key, to_key""".stripMargin,
      O.objects, O.renameRequests),

    // Batch DeleteKeys ladder mirror: batch-level gates then per-key
    // rungs, PARTIAL_DELETE rollup.
    "q_delete_keys_batch" -> O.withCtes(
      """SELECT p.req_id, p.volume, p.bucket, p.key, p.key_decision,
        |  st.request_status
        |FROM perkey p
        |JOIN (
        |  SELECT req_id,
        |    CASE WHEN bool_or(ids_mismatch) THEN 'INVALID_REQUEST'
        |      WHEN bool_or(nobkt) THEN 'BUCKET_NOT_FOUND'
        |      WHEN bool_or(key_decision <> 'DELETED')
        |        THEN 'PARTIAL_DELETE'
        |      ELSE 'OK' END AS request_status
        |  FROM perkey GROUP BY req_id) st USING (req_id)
        |ORDER BY p.req_id, p.key""".stripMargin,
      O.objects,
      """kd_reqs AS (
        |  SELECT req_id0 AS req_id, volume,
        |    CASE WHEN req_id0 % 19 = 4 THEN 'no-such-bucket'
        |         ELSE bucket END AS bucket,
        |    CASE WHEN cls = 1 THEN key || '.nope' ELSE key END AS key,
        |    CASE WHEN cls = 2 THEN uid + 999
        |         WHEN cls = 1 OR cls >= 3 THEN -1 ELSE uid END
        |      AS presented_update_id,
        |    CASE WHEN CAST(substr(volume, 4, 10) AS BIGINT) % 2 = 0
        |         THEN 'admin' || substr(volume, 4, 10)
        |         ELSE 'clerk1' END AS caller,
        |    req_id0 % 17 = 7 AS ids_mismatch
        |  FROM (
        |    SELECT volume, bucket, key, max(version) AS uid,
        |      (min(object_id) // 1070) % 5 AS cls,
        |      CAST(substr(volume, 4, 10) AS BIGINT) * 10 +
        |        CAST(substr(bucket, 7, 10) AS BIGINT) AS req_id0
        |    FROM objects WHERE object_id % 107 = 0
        |    GROUP BY volume, bucket, key))""".stripMargin,
      """stored AS (
        |  SELECT volume, bucket, key, max(version) AS uid,
        |    min(owner) AS key_owner
        |  FROM objects GROUP BY 1, 2, 3)""".stripMargin,
      """perkey AS (
        |  SELECT r.req_id, r.volume, r.bucket, r.key, r.ids_mismatch,
        |    b.bucket IS NULL AS nobkt,
        |    CASE WHEN r.ids_mismatch THEN 'INTERNAL_ERROR'
        |      WHEN b.bucket IS NULL THEN 'INTERNAL_ERROR'
        |      WHEN s.key IS NULL THEN 'KEY_NOT_FOUND'
        |      WHEN r.presented_update_id <> -1
        |        AND r.presented_update_id <> s.uid
        |        THEN 'UPDATE_ID_NOT_MATCH'
        |      WHEN r.caller <> s.key_owner
        |        AND r.caller <> 'admin' || substr(r.volume, 4, 10)
        |        THEN 'ACCESS_DENIED'
        |      ELSE 'DELETED' END AS key_decision
        |  FROM kd_reqs r
        |  LEFT JOIN (SELECT DISTINCT volume, bucket FROM objects) b
        |    ON r.volume = b.volume AND r.bucket = b.bucket
        |  LEFT JOIN stored s ON r.volume = s.volume
        |    AND r.bucket = s.bucket AND r.key = s.key)""".stripMargin),

    // DeleteKey ladder: bucket probe → dir/file path resolve → computed
    // dir emptiness (never assumed from catalog shape)
    "q_delete_key" -> O.withCtes(
      """SELECT r.volume, r.bucket, r.key,
        |  CASE WHEN b.volume IS NULL THEN 'BUCKET_NOT_FOUND'
        |       WHEN d.path IS NOT NULL AND coalesce(ch.n, 0) > 0
        |         THEN 'DIRECTORY_NOT_EMPTY'
        |       WHEN d.path IS NOT NULL THEN 'DELETED_DIR'
        |       WHEN f.key IS NOT NULL THEN 'DELETED_FILE'
        |       ELSE 'KEY_NOT_FOUND' END AS decision
        |FROM del_reqs r
        |LEFT JOIN (SELECT DISTINCT volume, bucket FROM objects) b
        |  ON r.volume = b.volume AND r.bucket = b.bucket
        |LEFT JOIN fso_dirs d ON r.volume = d.volume
        |  AND r.bucket = d.bucket AND r.key = d.path
        |LEFT JOIN (SELECT DISTINCT volume, bucket, key FROM objects) f
        |  ON r.volume = f.volume AND r.bucket = f.bucket AND r.key = f.key
        |LEFT JOIN (
        |  SELECT r2.volume, r2.bucket, r2.key, count(*) AS n
        |  FROM del_reqs r2 JOIN objects o
        |    ON o.volume = r2.volume AND o.bucket = r2.bucket
        |      AND o.key LIKE r2.key || '/%'
        |  GROUP BY 1, 2, 3) ch
        |  ON r.volume = ch.volume AND r.bucket = ch.bucket
        |    AND r.key = ch.key
        |ORDER BY r.volume, r.bucket, r.key""".stripMargin,
      O.objects,
      """del_reqs AS (
        |  SELECT DISTINCT volume,
        |    CASE WHEN cls = 3 THEN 'no-such-bucket' ELSE bucket END AS bucket,
        |    CASE WHEN cls = 1 THEN key || '.ghost'
        |         WHEN cls = 2 THEN substr(key, 1,
        |           length(key) - length(string_split(key, '/')[-1]) - 1)
        |         ELSE key END AS key
        |  FROM (
        |    SELECT volume, bucket, key, (object_id // 113) % 4 AS cls
        |    FROM objects WHERE object_id % 113 = 0))""".stripMargin,
      O.fsoDirs),

    "q_ofs_resolve" -> O.withCtes(
      """SELECT path, username,
        |  CASE WHEN n = 0 THEN 'ROOT'
        |       WHEN key_name <> '' THEN 'KEY'
        |       WHEN bucket <> '' THEN 'BUCKET'
        |       ELSE 'VOLUME' END AS level,
        |  mount, volume, bucket, key_name
        |FROM (
        |  SELECT path, username, n, mount,
        |    CASE WHEN n = 0 THEN ''
        |         WHEN mount = 'tmp' THEN 'tmp'
        |         ELSE toks[1] END AS volume,
        |    CASE WHEN mount = 'tmp' THEN md5(username)
        |         WHEN n >= 2 THEN toks[2] ELSE '' END AS bucket,
        |    CASE WHEN key0 <> '' AND path LIKE '%/' THEN key0 || '/'
        |         ELSE key0 END AS key_name
        |  FROM (
        |    SELECT path, username, toks, len(toks) AS n,
        |      CASE WHEN len(toks) >= 1 AND toks[1] = 'tmp' THEN 'tmp'
        |           ELSE '' END AS mount,
        |      coalesce(array_to_string(list_slice(toks,
        |        CASE WHEN len(toks) >= 1 AND toks[1] = 'tmp' THEN 2
        |             ELSE 3 END, len(toks)), '/'), '') AS key0
        |    FROM (
        |      SELECT path, username,
        |        list_filter(string_split(path, '/'), t -> t <> '') AS toks
        |      FROM ofs_requests)))
        |ORDER BY path, username""".stripMargin,
      O.objects, O.ofsRequests),

    "q_recover_lease" -> O.withCtes(
      s"""SELECT volume, bucket, key, decision,
         |  CASE WHEN decision = 'RECOVERED' AND data_size > 0
         |    THEN (data_size - 1) // ${graft.core.Tables.LocChunkBytes} + 1
         |    ELSE 0 END AS n_blocks
         |FROM (
         |  SELECT volume, bucket, key, data_size,
         |    CASE WHEN state = 'ABSENT' THEN 'KEY_NOT_FOUND'
         |         WHEN state = 'CLOSED' THEN 'KEY_ALREADY_CLOSED'
         |         WHEN (object_id // 10) % 4 = 0 THEN 'OPEN_KEY_DELETED'
         |         WHEN (object_id // 10) % 4 = 1
         |           THEN 'ALREADY_UNDER_RECOVERY'
         |         WHEN NOT ((object_id // 10) % 16 = 2)
         |           AND 1700000000000 < last_update + 3600000
         |           THEN 'UNDER_SOFT_LIMIT'
         |         ELSE 'RECOVERED' END AS decision
         |  FROM (
         |    SELECT volume, bucket, key, object_id, data_size, state,
         |      CASE WHEN state = 'OPEN' AND (object_id // 10) % 4 = 2
         |           THEN 1700000000000 - (object_id // 10) % 7200000
         |           ELSE 1700000000000 - 3600000 - 1 END AS last_update
         |    FROM (
         |      SELECT volume, bucket, key, object_id, data_size, 'CLOSED'
         |        AS state
         |      FROM objects WHERE version = 1 AND object_id % 101 = 0
         |      UNION ALL
         |      SELECT volume, bucket, key || '.gone', object_id, data_size,
         |        'ABSENT'
         |      FROM objects WHERE version = 1 AND object_id % 101 = 0
         |      UNION ALL
         |      SELECT volume, bucket, key, object_id, data_size, 'OPEN'
         |      FROM objects WHERE version = 5)))
         |ORDER BY volume, bucket, key, decision""".stripMargin, O.objects),

    "q_list_parts" -> O.withCtes(
      """SELECT upload_id, order_key, part_number, etag, size, last_modified,
        |  n > 4 AS truncated,
        |  CASE WHEN n > 4 THEN max(CASE WHEN rn = 4 THEN part_number END)
        |    OVER (PARTITION BY upload_id) ELSE 0 END
        |    AS next_part_number_marker
        |FROM (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY upload_id ORDER BY part_number)
        |      AS rn,
        |    count(*) OVER (PARTITION BY upload_id) AS n
        |  FROM (
        |    SELECT upload_id, order_key, part_number, etag, size,
        |      creation_time AS last_modified
        |    FROM (
        |      SELECT *, row_number() OVER (
        |          PARTITION BY upload_id, order_key, part_number
        |          ORDER BY creation_time DESC, size DESC, etag) AS dr
        |      FROM multipart_parts)
        |    WHERE dr = 1)
        |  WHERE part_number > 1)
        |WHERE rn <= 4
        |ORDER BY upload_id, part_number""".stripMargin,
      O.multipartParts),

    "q_filesize_histogram" -> O.withCtes(
      """SELECT volume, bucket,
        |  GREATEST((CAST(1 AS BIGINT) << (CASE WHEN data_size <= 1 THEN 0 ELSE length(bin(data_size - 1)) END)), 1024) AS size_bin,
        |  count(*) AS file_count
        |FROM objects
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin, O.objects),

    "q_container_histogram" -> O.withCtes(
      """SELECT
        |  GREATEST((CAST(1 AS BIGINT) << (CASE WHEN used_bytes <= 1 THEN 0 ELSE length(bin(used_bytes - 1)) END)), 1048576) AS size_bin,
        |  count(*) AS container_count
        |FROM containers_scm
        |GROUP BY 1 ORDER BY 1""".stripMargin, O.containersScm),

    // ALL strict ancestor prefixes (depth from each key, not a constant) —
    // over the mixed 4/6-segment namespace
    "q_ns_summary" -> O.withCtes(
      s"""SELECT volume, bucket, dir,
         |  count(*) AS num_files,
         |  CAST(sum(data_size) AS BIGINT) AS size_of_files,
         |  CAST(sum(replicated_size) AS BIGINT) AS replicated_size
         |FROM (
         |  SELECT volume, bucket, data_size, replicated_size,
         |    array_to_string(list_slice(string_split(key, '/'), 1, d), '/') AS dir
         |  FROM (
         |    SELECT *, unnest(generate_series(1,
         |      least(len(string_split(key, '/')) - 1,
         |            ${Aggregates.MaxAncestorDepth}))) AS d
         |    FROM objects_mixed))
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      O.objects, O.objectsMixed),

    "q_du_topn" -> O.withCtes(
      """SELECT bucket,
        |  array_to_string(list_slice(string_split(key, '/'), 1, 2), '/') AS dir,
        |  CAST(sum(data_size) AS BIGINT) AS dir_size,
        |  count(*) AS num_files
        |FROM objects WHERE volume = 'vol0'
        |GROUP BY 1, 2 ORDER BY dir_size DESC, bucket, dir LIMIT 10""".stripMargin,
      O.objects),

    // table COUNTS read the catalog views (GlobalStats counts table
    // rows — a zero-object volume/bucket is a row), matching the recon
    // listings; usage/quota ladders stay on the usage dims.
    "q_global_counts" -> O.withCtes(
      """SELECT * FROM (
        |  SELECT 'keys' AS entity, count(*) AS cnt,
        |    CAST(coalesce(sum(data_size), 0) AS BIGINT) AS total_bytes FROM objects
        |  UNION ALL
        |  SELECT 'buckets', count(*), CAST(coalesce(sum(used_bytes), 0) AS BIGINT) FROM buckets_catalog
        |  UNION ALL
        |  SELECT 'volumes', count(*), CAST(coalesce(sum(used_bytes), 0) AS BIGINT) FROM volumes_catalog
        |  UNION ALL
        |  SELECT 'open_keys', count(*), CAST(coalesce(sum(data_size), 0) AS BIGINT) FROM open_keys
        |  UNION ALL
        |  SELECT 'containers', count(*), CAST(coalesce(sum(used_bytes), 0) AS BIGINT) FROM containers_scm
        |) ORDER BY entity""".stripMargin,
      O.objects, O.buckets, O.volumes, O.bucketsCatalog, O.volumesCatalog,
      O.openKeys, O.containersScm),

    "q_quota_enforce" -> O.withCtes(
      """SELECT r.volume, r.bucket, r.key, r.allocate_bytes,
        |  CASE WHEN b.quota_bytes > -1
        |         AND b.quota_bytes - b.used_bytes < r.allocate_bytes
        |         THEN 'QUOTA_BYTES_EXCEEDED'
        |       WHEN b.quota_namespace > -1
        |         AND b.quota_namespace < b.used_namespace + 1
        |         THEN 'QUOTA_NAMESPACE_EXCEEDED'
        |       ELSE 'ALLOWED' END AS decision
        |FROM (
        |  SELECT volume, bucket, key || '.new' AS key,
        |    replicated_size AS allocate_bytes
        |  FROM objects WHERE object_id % 107 = 0) r
        |JOIN buckets b USING (volume, bucket)
        |ORDER BY 1, 2, 3, 4""".stripMargin, O.objects, O.buckets),

    "q_quota_usage" -> O.withCtes(
      """SELECT volume, bucket, used_bytes, quota_bytes, used_namespace,
        |  (quota_bytes <> -1 AND used_bytes > quota_bytes) AS over_quota,
        |  CAST(CASE WHEN quota_bytes > 0 THEN used_bytes * 10000 // quota_bytes
        |       ELSE -1 END AS BIGINT) AS usage_pct_x100
        |FROM buckets ORDER BY volume, bucket""".stripMargin,
      O.objects, O.buckets),

    "q_heatmap" -> O.withCtes(
      """SELECT volume, bucket, prefix, access_count,
        |  CASE WHEN max_c > min_c
        |    THEN (access_count - min_c) * 10000 // (max_c - min_c)
        |    ELSE 0 END AS heat_x10000
        |FROM (
        |  SELECT volume, bucket,
        |    array_to_string(list_slice(string_split(key, '/'), 1, 2), '/') AS prefix,
        |    count(*) AS access_count
        |  FROM audit_access WHERE op = 'READ_KEY' GROUP BY 1, 2, 3)
        |CROSS JOIN (
        |  SELECT min(access_count) AS min_c, max(access_count) AS max_c
        |  FROM (SELECT count(*) AS access_count FROM audit_access
        |        WHERE op = 'READ_KEY'
        |        GROUP BY volume, bucket,
        |          array_to_string(list_slice(string_split(key, '/'), 1, 2), '/')))
        |ORDER BY volume, bucket, prefix""".stripMargin, O.auditAccess),

    // per-LEVEL normalization: min/max among a level's own siblings
    "q_heatmap_tree" -> O.withCtes(
      """SELECT level, path, access_count,
        |  CASE WHEN max(access_count) OVER (PARTITION BY level)
        |          > min(access_count) OVER (PARTITION BY level)
        |    THEN (access_count - min(access_count) OVER (PARTITION BY level)) * 10000
        |         // (max(access_count) OVER (PARTITION BY level)
        |            - min(access_count) OVER (PARTITION BY level))
        |    ELSE 0 END AS heat_x10000
        |FROM (
        |  SELECT 1 AS level, volume AS path, count(*) AS access_count
        |  FROM hm_base GROUP BY volume
        |  UNION ALL
        |  SELECT 2, volume || '/' || bucket, count(*)
        |  FROM hm_base GROUP BY volume, bucket
        |  UNION ALL
        |  SELECT 3, volume || '/' || bucket || '/' || prefix, count(*)
        |  FROM hm_base GROUP BY volume, bucket, prefix)
        |ORDER BY level, path""".stripMargin,
      O.auditAccess,
      """hm_base AS (
        |  SELECT volume, bucket,
        |    array_to_string(list_slice(string_split(key, '/'), 1, 2), '/') AS prefix
        |  FROM audit_access WHERE op = 'READ_KEY'
        |)""".stripMargin),

    "q_container_key_join" -> O.withCtes(
      """SELECT t.container_id, t.num_keys, t.total_size, c.state
        |FROM (
        |  SELECT container_id, count(*) AS num_keys,
        |    CAST(sum(data_size) AS BIGINT) AS total_size
        |  FROM objects GROUP BY 1) t
        |JOIN containers_scm c USING (container_id)
        |ORDER BY container_id""".stripMargin, O.objects, O.containersScm),

    // /containers/{id}/keys page mirror: db-key order, version dedup,
    // total index-entry count on every row.
    "q_container_keys_page" -> O.withCtes(
      """SELECT p.db_key, p.volume, p.bucket, p.key, p.data_size,
        |  p.versions_csv, p.n_versions, t.total_count
        |FROM (
        |  SELECT db_key, volume, bucket, key,
        |    CAST(max(data_size) AS BIGINT) AS data_size,
        |    array_to_string(list_sort(list(DISTINCT version)), ',')
        |      AS versions_csv,
        |    CAST(count(DISTINCT version) AS BIGINT) AS n_versions
        |  FROM ckp_idx WHERE db_key > ''
        |  GROUP BY db_key, volume, bucket, key
        |  ORDER BY db_key LIMIT 25) p,
        |  (SELECT CAST(count(*) AS BIGINT) AS total_count
        |   FROM (SELECT DISTINCT db_key, version FROM ckp_idx)) t
        |ORDER BY db_key""".stripMargin,
      O.objects,
      """ckp_idx AS (
        |  SELECT '/' || volume || '/' || bucket || '/' || key AS db_key,
        |    volume, bucket, key, version, data_size
        |  FROM objects WHERE container_id = 42)""".stripMargin),

    "q_om_scm_mismatch" -> O.withCtes(
      """SELECT container_id, 'OM_ONLY' AS side FROM containers_om
        |WHERE container_id NOT IN
        |  (SELECT container_id FROM containers_scm WHERE state <> 'DELETED')
        |UNION ALL
        |SELECT container_id, 'SCM_ONLY' FROM containers_scm
        |WHERE state <> 'DELETED' AND container_id NOT IN
        |  (SELECT container_id FROM containers_om)
        |ORDER BY side, container_id""".stripMargin,
      O.objects, O.containersScm, O.containersOm),

    // MIS_REPLICATED: full healthy count, but the replicas span fewer
    // racks than min(replication_factor, cluster racks)
    "q_replica_health" -> O.withCtes(
      """SELECT c.container_id, c.replication_factor,
        |  coalesce(t.replica_count, 0) AS replica_count,
        |  coalesce(t.healthy_count, 0) AS healthy_count,
        |  coalesce(t.rack_count, 0) AS rack_count,
        |  CASE WHEN coalesce(t.healthy_count, 0) = 0 THEN 'MISSING'
        |       WHEN coalesce(t.healthy_count, 0) < c.replication_factor THEN 'UNDER_REPLICATED'
        |       WHEN coalesce(t.replica_count, 0) > c.replication_factor THEN 'OVER_REPLICATED'
        |       WHEN coalesce(t.rack_count, 0) < least(c.replication_factor, 5) THEN 'MIS_REPLICATED'
        |       ELSE 'HEALTHY' END AS health
        |FROM containers_scm c
        |LEFT JOIN (
        |  SELECT container_id, count(*) AS replica_count,
        |    CAST(sum(CASE WHEN replica_state = 'CLOSED' THEN 1 ELSE 0 END) AS BIGINT) AS healthy_count,
        |    count(DISTINCT rack) AS rack_count
        |  FROM replicas GROUP BY 1) t USING (container_id)
        |WHERE c.state <> 'DELETED'
        |ORDER BY container_id""".stripMargin, O.containersScm, O.replicas),

    "q_snapshot_diff" -> O.withCtes(
      """SELECT coalesce(a.object_id, b.object_id) AS object_id,
        |  coalesce(a.old_key, '') AS old_key,
        |  coalesce(a.old_size, -1) AS old_size,
        |  coalesce(b.new_key, '') AS new_key,
        |  coalesce(b.new_size, -1) AS new_size,
        |  CASE WHEN a.old_key IS NULL THEN 'CREATE'
        |       WHEN b.new_key IS NULL THEN 'DELETE'
        |       WHEN a.old_key <> b.new_key THEN 'RENAME'
        |       WHEN a.old_size <> b.new_size THEN 'MODIFY'
        |       ELSE 'UNCHANGED' END AS diff_type
        |FROM (SELECT object_id, key AS old_key, data_size AS old_size FROM snap_v1) a
        |FULL OUTER JOIN (SELECT object_id, key AS new_key, data_size AS new_size FROM snap_v2) b
        |  ON a.object_id = b.object_id
        |WHERE NOT (a.old_key IS NOT NULL AND b.new_key IS NOT NULL
        |  AND a.old_key = b.new_key AND a.old_size = b.new_size)
        |ORDER BY object_id""".stripMargin,
      O.objects, O.snapshotV1, O.snapshotV2),

    "q_snapshot_diff_page" -> O.withCtes(
      """SELECT idx, object_id, old_key, new_key, old_size, new_size,
        |  diff_type,
        |  CASE WHEN 150 < n THEN 150 ELSE -1 END AS next_token
        |FROM (
        |  SELECT *, row_number() OVER (ORDER BY object_id) - 1 AS idx,
        |    count(*) OVER () AS n
        |  FROM (
        |    SELECT coalesce(a.object_id, b.object_id) AS object_id,
        |      coalesce(a.old_key, '') AS old_key,
        |      coalesce(a.old_size, -1) AS old_size,
        |      coalesce(b.new_key, '') AS new_key,
        |      coalesce(b.new_size, -1) AS new_size,
        |      CASE WHEN a.old_key IS NULL THEN 'CREATE'
        |           WHEN b.new_key IS NULL THEN 'DELETE'
        |           WHEN a.old_key <> b.new_key THEN 'RENAME'
        |           WHEN a.old_size <> b.new_size THEN 'MODIFY'
        |           ELSE 'UNCHANGED' END AS diff_type
        |    FROM (SELECT object_id, key AS old_key, data_size AS old_size
        |          FROM snap_v1) a
        |    FULL OUTER JOIN (SELECT object_id, key AS new_key,
        |          data_size AS new_size FROM snap_v2) b
        |      ON a.object_id = b.object_id
        |    WHERE NOT (a.old_key IS NOT NULL AND b.new_key IS NOT NULL
        |      AND a.old_key = b.new_key AND a.old_size = b.new_size)))
        |WHERE idx >= 100 AND idx < 150
        |ORDER BY idx""".stripMargin,
      O.objects, O.snapshotV1, O.snapshotV2),

    "q_snapshot_diff_summary" -> O.withCtes(
      """SELECT CASE WHEN a.old_key IS NULL THEN 'CREATE'
        |       WHEN b.new_key IS NULL THEN 'DELETE'
        |       WHEN a.old_key <> b.new_key THEN 'RENAME'
        |       WHEN a.old_size <> b.new_size THEN 'MODIFY'
        |       ELSE 'UNCHANGED' END AS diff_type,
        |  count(*) AS cnt
        |FROM (SELECT object_id, key AS old_key, data_size AS old_size FROM snap_v1) a
        |FULL OUTER JOIN (SELECT object_id, key AS new_key, data_size AS new_size FROM snap_v2) b
        |  ON a.object_id = b.object_id
        |WHERE NOT (a.old_key IS NOT NULL AND b.new_key IS NOT NULL
        |  AND a.old_key = b.new_key AND a.old_size = b.new_size)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      O.objects, O.snapshotV1, O.snapshotV2),

    "q_layout_union" -> O.withCtes(
      """SELECT b.layout, count(*) AS num_keys,
        |  CAST(sum(o.data_size) AS BIGINT) AS total_size
        |FROM objects o JOIN buckets b USING (volume, bucket)
        |GROUP BY 1 ORDER BY 1""".stripMargin, O.objects, O.buckets),

    "q_lifecycle_expiry" -> O.withCtes(
      """SELECT volume, bucket, key, rule_id, data_size, modification_time
        |FROM (
        |  SELECT *,
        |    CASE WHEN key LIKE 'warehouse/R/%' AND modification_time < 883612800000
        |              AND tag_flag = 'R' THEN 'r1'
        |         WHEN key LIKE 'warehouse/A/%' AND modification_time < 852076800000
        |              THEN 'r2' END AS rule_id
        |  FROM objects)
        |WHERE rule_id IS NOT NULL
        |ORDER BY volume, bucket, key, data_size, modification_time""".stripMargin, O.objects),

    "q_open_key_cleanup" -> O.withCtes(
      """SELECT volume, bucket, key, client_id, hsynced, selection,
        |  CASE WHEN selection <> 'DELETE' THEN selection
        |       WHEN f % 23 = 0 THEN 'SKIP_COMMITTED'
        |       WHEN f % 29 = 0 THEN 'SKIP_NEWER_UPDATE'
        |       ELSE 'DELETED' END AS outcome,
        |  data_size
        |FROM (
        |  SELECT *,
        |    CASE WHEN f % 11 = 0 THEN 'SKIP_MPU'
        |         WHEN NOT creation_expired AND NOT lease_expired
        |           THEN 'RETAIN'
        |         WHEN (NOT hsynced AND creation_expired)
        |           OR f % 13 = 0 OR f % 17 = 0 THEN 'DELETE'
        |         WHEN hsynced AND lease_expired AND f % 19 <> 0
        |           THEN 'COMMIT'
        |         ELSE 'RETAIN' END AS selection
        |  FROM (
        |    SELECT volume, bucket, key, client_id, data_size,
        |      object_id // 10 AS f,
        |      client_id % 3 = 0 AS hsynced,
        |      creation_time <= 833587200000 AS creation_expired,
        |      modification_time <= 883612800000 AS lease_expired
        |    FROM open_keys))
        |ORDER BY volume, bucket, key, client_id, data_size""".stripMargin,
      O.objects, O.openKeys),

    "q_open_key_expiry" -> O.withCtes(
      """SELECT volume, bucket, count(*) AS expired_count,
        |  CAST(sum(data_size) AS BIGINT) AS expired_bytes
        |FROM open_keys WHERE creation_time < 896659200000
        |GROUP BY 1, 2 ORDER BY volume, bucket""".stripMargin,
      O.objects, O.openKeys),

    // Deleted-keys insight mirror: the log's DELETE branch per bucket.
    "q_deleted_keys_insight" -> O.withCtes(
      """SELECT volume, bucket, count(*) AS deleted_count,
        |  CAST(sum(data_size) AS BIGINT) AS unreplicated_bytes,
        |  CAST(sum(replicated_size) AS BIGINT) AS replicated_bytes
        |FROM objects
        |WHERE version IN (4, 5) AND (object_id // 10) % 10 = 0
        |GROUP BY volume, bucket
        |ORDER BY volume, bucket""".stripMargin,
      O.objects),

    // ListOpenFiles mirror: db-key order, maxKeys+1 page.
    "q_list_open_files" -> O.withCtes(
      """SELECT db_key, volume, bucket, key, client_id, hsync,
        |  min(data_size) AS data_size
        |FROM (
        |  SELECT
        |    volume || '/' || bucket || '/' || key || '/' ||
        |      CAST(client_id AS VARCHAR) AS db_key,
        |    volume, bucket, key, client_id,
        |    client_id % 3 = 0 AS hsync, data_size
        |  FROM (
        |    SELECT volume, bucket, key,
        |      object_id * 7 % 100000 AS client_id, data_size
        |    FROM objects WHERE version % 5 = 0))
        |WHERE db_key LIKE 'vol1/bucket3/%'
        |GROUP BY db_key, volume, bucket, key, client_id, hsync
        |ORDER BY db_key LIMIT 51""".stripMargin,
      O.objects),

    "q_open_keys_insight" -> O.withCtes(
      """SELECT volume, bucket, count(*) AS open_count,
        |  CAST(sum(CASE WHEN client_id % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hsync_count,
        |  CAST(sum(data_size) AS BIGINT) AS open_bytes,
        |  CAST(sum(replicated_size) AS BIGINT) AS open_replicated_bytes
        |FROM open_keys
        |GROUP BY 1, 2 ORDER BY volume, bucket""".stripMargin,
      O.objects, O.openKeys),

    "q_multipart_validate" -> O.withCtes(
      """SELECT upload_id, order_key, count(*) AS num_parts,
        |  min(part_number) AS min_part, max(part_number) AS max_part,
        |  CAST(sum(size) AS BIGINT) AS total_size,
        |  (min(part_number) = 1 AND max(part_number) = count(*)
        |   AND count(DISTINCT part_number) = count(*)) AS is_valid
        |FROM multipart_parts GROUP BY 1, 2 ORDER BY upload_id""".stripMargin,
      O.multipartParts),

    "q_multipart_etag" -> O.withCtes(
      """SELECT upload_id,
        |  md5(string_agg(etag, '' ORDER BY part_number)) || '-' || count(*) AS etag_of_etags
        |FROM multipart_parts GROUP BY 1 ORDER BY upload_id""".stripMargin,
      O.multipartParts),

    "q_latest_version" -> O.withCtes(
      """SELECT volume, bucket, lv_key, key, version, data_size FROM (
        |  SELECT volume, bucket,
        |    array_to_string(list_slice(string_split(key, '/'), 1, 3), '/') AS lv_key,
        |    key, version, data_size,
        |    row_number() OVER (
        |      PARTITION BY volume, bucket,
        |        array_to_string(list_slice(string_split(key, '/'), 1, 3), '/')
        |      ORDER BY version DESC, key, data_size DESC) AS rn
        |  FROM objects)
        |WHERE rn = 1 ORDER BY volume, bucket, lv_key""".stripMargin, O.objects),

    "q_range_read" -> O.withCtes(
      """SELECT key, data_size, eff_start, eff_end,
        |  eff_start // 4194304 AS first_chunk,
        |  eff_end // 4194304 AS last_chunk,
        |  'bytes ' || eff_start || '-' || eff_end || '/' || data_size AS content_range
        |FROM (
        |  SELECT key, data_size, CAST(1000 AS BIGINT) AS eff_start,
        |    least(CAST(50000 AS BIGINT), data_size - 1) AS eff_end
        |  FROM objects WHERE data_size > 1000)
        |ORDER BY key, data_size""".stripMargin, O.objects),

    "q_checksums" -> O.withCtes(
      """SELECT key, etag, sha256(key) AS sha256_hex,
        |  (md5(key) = etag) AS etag_ok
        |FROM objects ORDER BY key""".stripMargin, O.objects),

    // The CRC values themselves are oracle-exempt (DuckDB has no crc32);
    // the oracle pins the block structure and the composition CONTRACT —
    // compose_ok is the reference's invariant (composite == whole-stream
    // CRC), and a composition bug flips it to false on the Spark side.
    // The GF(2) math itself is JDK-gated in FunctionsSpec.
    "q_file_checksum" ->
      """SELECT doc_id AS media_id, 'COMPOSITE-CRC32' AS algorithm,
        |  CAST(4 AS BIGINT) AS n_blocks, CAST(64 AS BIGINT) AS total_len,
        |  true AS compose_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" -> O.withCtes(
      """SELECT doc_id, md5(norm) AS fingerprint,
        |  count(*) OVER (PARTITION BY md5(norm)) AS cluster_size,
        |  (count(*) OVER (PARTITION BY md5(norm))) > 1 AS is_dup
        |FROM doc_words ORDER BY doc_id""".stripMargin, O.docWords),

    "q_substr_spans" -> O.withCtes(
      """SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
        |  max(e) - min(s) + 1 AS span_tokens
        |FROM (
        |  SELECT doc_id, s, e,
        |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM (
        |    SELECT doc_id, s, e,
        |      CASE WHEN s <= coalesce(max(e) OVER (
        |          PARTITION BY doc_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        -2) + 1 THEN 0 ELSE 1 END AS ni
        |    FROM (
        |      SELECT doc_id, s, e,
        |        count(*) OVER (PARTITION BY gram) AS c
        |      FROM (
        |        SELECT doc_id, CAST(i - 1 AS BIGINT) AS s,
        |          CAST(i + 6 AS BIGINT) AS e,
        |          array_to_string(ws[i:i+7], ' ') AS gram
        |        FROM (
        |          SELECT doc_id, ws,
        |            unnest(generate_series(1, len(ws) - 7)) AS i
        |          FROM doc_words WHERE len(ws) >= 8)))
        |    WHERE c > 1))
        |GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin, O.docWords),

    "q_dedup_minhash_lsh" -> O.withCtes(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
        |FROM minhash_bands a JOIN minhash_bands b
        |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.docWords, O.shingle2, O.shingleHash, O.minhashSigs, O.minhashBandsCte),

    // Length-sorted batch cuts + padding accounting.
    "q_length_batches" -> (
      """SELECT batch_id, count(*) AS n_docs,
        |  max(n_tokens) AS max_tokens,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
        |    AS padding,
        |  CAST(CASE WHEN count(*) * max(n_tokens) > 0
        |    THEN (count(*) * max(n_tokens) - sum(n_tokens)) * 1000
        |      // (count(*) * max(n_tokens))
        |    ELSE 0 END AS BIGINT) AS pad_pm
        |FROM (
        |  SELECT (row_number() OVER (ORDER BY n_tokens, doc_id) - 1)
        |    // 32 AS batch_id, n_tokens
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(regexp_extract_all(text, '\S+', 0)) AS BIGINT)
        |        AS n_tokens
        |    FROM documents))
        |GROUP BY 1 ORDER BY 1""".stripMargin : String),

    // Cross-source overlap matrix from the SAME banded candidates.
    "q_source_overlap" -> O.withCtes(
      """SELECT source_a, source_b,
        |  CAST(count(*) / 2 AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
        |FROM (
        |  SELECT least(sa.source, sb.source) AS source_a,
        |    greatest(sa.source, sb.source) AS source_b,
        |    unnest([p.doc_a, p.doc_b]) AS doc
        |  FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |    FROM minhash_bands a JOIN minhash_bands b
        |      ON a.band = b.band AND a.sig = b.sig
        |        AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN documents sa ON sa.doc_id = p.doc_a
        |  JOIN documents sb ON sb.doc_id = p.doc_b)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.docWords, O.shingle2, O.shingleHash, O.minhashSigs,
      O.minhashBandsCte),

    // incremental dedup: new-batch bands probe the corpus index + each
    // other; DUP_CORPUS beats DUP_IN_BATCH
    "q_dedup_incremental" -> O.withCtes(
      """SELECT d.doc_id,
        |  coalesce(ch.corpus_candidates, 0) AS corpus_candidates,
        |  coalesce(bc.batch_candidates, 0) AS batch_candidates,
        |  CASE WHEN coalesce(ch.corpus_candidates, 0) > 0 THEN 'DUP_CORPUS'
        |       WHEN coalesce(bc.batch_candidates, 0) > 0
        |         THEN 'DUP_IN_BATCH'
        |       ELSE 'NEW' END AS verdict
        |FROM (SELECT DISTINCT doc_id FROM newb) d
        |LEFT JOIN ch ON d.doc_id = ch.doc_id
        |LEFT JOIN bc ON d.doc_id = bc.doc_id
        |ORDER BY d.doc_id""".stripMargin,
      O.docWords, O.shingle2, O.shingleHash, O.minhashSigs,
      O.minhashBandsCte,
      """newb AS (SELECT * FROM minhash_bands WHERE doc_id % 7 = 0)""",
      """corp AS (SELECT * FROM minhash_bands WHERE doc_id % 7 <> 0)""",
      """ch AS (
        |  SELECT n.doc_id, count(DISTINCT c.doc_id) AS corpus_candidates
        |  FROM newb n JOIN corp c ON n.band = c.band AND n.sig = c.sig
        |  GROUP BY 1)""".stripMargin,
      """bc AS (
        |  SELECT doc_id, count(DISTINCT other) AS batch_candidates
        |  FROM (
        |    SELECT a.doc_id, b.doc_id AS other
        |    FROM newb a JOIN newb b
        |      ON a.band = b.band AND a.sig = b.sig
        |        AND a.doc_id <> b.doc_id)
        |  GROUP BY 1)""".stripMargin),

    // incremental verified jaccard: the same candidate orientation as
    // the engine (batch doc_a, corpus doc_b), verified over string
    // bigram sets — injective term-id encoding makes the engine's
    // stored-dict counts EXACTLY these string-set counts
    "q_dedup_incremental_verify" -> O.withCtes(
      """SELECT doc_a, doc_b, inter_count,
        |  na + nb - inter_count AS union_count,
        |  inter_count * 1000 // (na + nb - inter_count) AS jacc_x1000
        |FROM inter
        |JOIN (SELECT doc_id, n AS na FROM sz) sa ON doc_a = sa.doc_id
        |JOIN (SELECT doc_id, n AS nb FROM sz) sb ON doc_b = sb.doc_id
        |WHERE inter_count * 1000 // (na + nb - inter_count) >= 100
        |ORDER BY doc_a, doc_b""".stripMargin,
      O.docWords, O.shingle2, O.shingleHash, O.minhashSigs,
      O.minhashBandsCte,
      """newb AS (SELECT * FROM minhash_bands WHERE doc_id % 7 = 0)""",
      """corp AS (SELECT * FROM minhash_bands WHERE doc_id % 7 <> 0)""",
      """cand AS (
        |  SELECT n.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM newb n JOIN corp c ON n.band = c.band AND n.sig = c.sig
        |  GROUP BY 1, 2
        |)""".stripMargin,
      bgCte, szCte, interCte),

    "q_dedup_simhash" -> O.withCtes(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(max(bit_count(xor(a.simhash, b.simhash))) AS BIGINT) AS hamming
        |FROM ch a JOIN ch b
        |  ON a.idx = b.idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.docWords, O.simhashCte,
      s"""ch AS (
         |  SELECT doc_id, simhash, t.c AS idx,
         |    (simhash >> (${Dedup.ChunkBits} * t.c)) & ${(1 << Dedup.ChunkBits) - 1} AS chunk_val
         |  FROM simhash CROSS JOIN range(4) t(c)
         |)""".stripMargin),

    // fallback plan, oracled from the chunk-PAIR key form itself (15
    // composite 20-bit keys in DuckDB — an independent derivation of
    // the same pair set, validating the pair-key pigeonhole directly)
    "q_dedup_simhash_paired" -> O.withCtes(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(max(bit_count(xor(a.simhash, b.simhash))) AS BIGINT) AS hamming
        |FROM chp a JOIN chp b
        |  ON a.idx = b.idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.docWords, O.simhashCte,
      s"""chp AS (
         |  SELECT doc_id, simhash, t.i * 6 + t.j AS idx,
         |    ((simhash >> (${Dedup.PairChunkBits} * t.i)) & ${(1 << Dedup.PairChunkBits) - 1})
         |      * ${1 << Dedup.PairChunkBits}
         |      + ((simhash >> (${Dedup.PairChunkBits} * t.j)) & ${(1 << Dedup.PairChunkBits) - 1}) AS chunk_val
         |  FROM simhash CROSS JOIN
         |    (SELECT a.c AS i, b.c AS j FROM range(6) a(c), range(6) b(c)
         |     WHERE a.c < b.c) t
         |)""".stripMargin),

    "q_simhash_chunk_stats" -> O.withCtes(
      s"""SELECT idx, chunk_val, CAST(count(*) AS BIGINT) AS n_sigs
         |FROM (
         |  SELECT t.c AS idx,
         |    (simhash >> (${Dedup.ChunkBits} * t.c)) & ${(1 << Dedup.ChunkBits) - 1} AS chunk_val
         |  FROM (SELECT DISTINCT simhash FROM simhash) CROSS JOIN range(4) t(c)
         |)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.docWords, O.simhashCte),

    // one-row degeneracy verdict: Σ C(n_sigs,2) raw pigeonhole pairs vs
    // the surviving sig pairs AND the doc pairs they expand to (the
    // join's output floor — the ratio's denominator), integer x1000
    "q_simhash_degeneracy" -> O.withCtes(
      s"""SELECT raw_pairs, yield_sig_pairs,
         |  intra_doc_pairs + cross_doc_pairs AS yield_doc_pairs,
         |  CAST(raw_pairs * 1000
         |    // greatest(intra_doc_pairs + cross_doc_pairs, 1) AS BIGINT)
         |    AS ratio_x1000
         |FROM raw CROSS JOIN ps CROSS JOIN intra""".stripMargin,
      O.docWords, O.simhashCte,
      s"""chd AS (
         |  SELECT simhash, t.c AS idx,
         |    (simhash >> (${Dedup.ChunkBits} * t.c)) & ${(1 << Dedup.ChunkBits) - 1} AS chunk_val
         |  FROM (SELECT DISTINCT simhash FROM simhash) CROSS JOIN range(4) t(c)
         |)""".stripMargin,
      """raw AS (
        |  SELECT CAST(coalesce(sum(n_sigs * (n_sigs - 1) // 2), 0)
        |    AS BIGINT) AS raw_pairs
        |  FROM (SELECT idx, chunk_val, count(*) AS n_sigs
        |        FROM chd GROUP BY 1, 2)
        |)""".stripMargin,
      """counts AS (
        |  SELECT simhash, count(*) AS g FROM simhash GROUP BY 1
        |)""".stripMargin,
      """intra AS (
        |  SELECT CAST(coalesce(sum(g * (g - 1) // 2), 0) AS BIGINT)
        |    AS intra_doc_pairs FROM counts
        |)""".stripMargin,
      """sp AS (
        |  SELECT DISTINCT a.simhash AS sa, b.simhash AS sb
        |  FROM chd a JOIN chd b
        |    ON a.idx = b.idx AND a.chunk_val = b.chunk_val
        |      AND a.simhash < b.simhash
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |)""".stripMargin,
      """ps AS (
        |  SELECT CAST(count(*) AS BIGINT) AS yield_sig_pairs,
        |    CAST(coalesce(sum(ca.g * cb.g), 0) AS BIGINT)
        |      AS cross_doc_pairs
        |  FROM sp JOIN counts ca ON sp.sa = ca.simhash
        |  JOIN counts cb ON sp.sb = cb.simhash
        |)""".stripMargin),

    "q_dedup_ngram_jaccard" -> O.withCtes(
      """SELECT doc_a, doc_b, inter_count,
        |  na + nb - inter_count AS union_count,
        |  inter_count * 1000 // (na + nb - inter_count) AS jacc_x1000
        |FROM inter
        |JOIN (SELECT doc_id, n AS na FROM sz) sa ON doc_a = sa.doc_id
        |JOIN (SELECT doc_id, n AS nb FROM sz) sb ON doc_b = sb.doc_id
        |WHERE inter_count * 1000 // (na + nb - inter_count) >= 100
        |ORDER BY doc_a, doc_b""".stripMargin,
      O.docWords, O.shingle2, O.shingleHash, O.minhashSigs, O.minhashBandsCte,
      candCte, bgCte, szCte, interCte),

    // connected components via a recursive closure: every doc reachable
    // over verified pairs shares min(doc_id) as its cluster id
    "q_dedup_clusters" -> dedupClustersOracle,

    // Keep-one selection: winner per cluster by quality (ties → min
    // doc_id), nesting the clusters + quality oracles verbatim.
    "q_dedup_keep" ->
      ("WITH clus_t AS (\n" + dedupClustersOracle +
        "\n), qual_t AS (\n" + qualityScoreOracle + "\n)\n" +
        """SELECT doc_id, cluster_id, cluster_size, kept_doc_id,
          |  CASE WHEN doc_id = kept_doc_id THEN 'KEEP'
          |       ELSE 'DROP' END AS decision
          |FROM (
          |  SELECT c.doc_id, c.cluster_id, c.cluster_size,
          |    first_value(c.doc_id) OVER (PARTITION BY c.cluster_id
          |      ORDER BY q.quality_x1000 DESC, c.doc_id) AS kept_doc_id
          |  FROM clus_t c JOIN qual_t q USING (doc_id))
          |ORDER BY doc_id""".stripMargin),

    "q_embed_clusters" -> O.withCtesRecursive(
      """SELECT a.vec_id, a.cluster_id, c.cluster_size
        |FROM asg a JOIN (SELECT cluster_id, count(*) AS cluster_size
        |                 FROM asg GROUP BY 1) c USING (cluster_id)
        |ORDER BY a.vec_id""".stripMargin,
      O.embQuant, O.planes, O.lshBandsCte, O.lshCandCte, O.candCosCte,
      """epairs AS (
        |  SELECT vec_a, vec_b FROM cand_cos WHERE cos_x1e6 >= 400000
        |)""".stripMargin,
      """eedges AS (
        |  SELECT vec_a AS u, vec_b AS v FROM epairs
        |  UNION ALL
        |  SELECT vec_b, vec_a FROM epairs
        |)""".stripMargin,
      """reach(vec_id, lab) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.u, r.lab FROM eedges e JOIN reach r ON e.v = r.vec_id
        |)""".stripMargin,
      "asg AS (SELECT vec_id, min(lab) AS cluster_id FROM reach GROUP BY 1)"),

    // SQ8 stats: non-negative integer DIV throughout → exact parity
    "q_embed_quantize" -> O.withCtes(
      """SELECT vec_id, mn, mx,
        |  CAST(list_sum([(v - mn) * 255 // gspan for v in qv]) AS BIGINT)
        |    AS code_sum,
        |  CAST(list_max([abs(v - (mn + ((v - mn) * 255 // gspan) * gspan
        |    // 255)) for v in qv]) AS BIGINT) AS max_err_milli
        |FROM (
        |  SELECT vec_id, qv,
        |    CAST(list_min(qv) AS BIGINT) AS mn,
        |    CAST(list_max(qv) AS BIGINT) AS mx,
        |    CAST(greatest(list_max(qv) - list_min(qv), 1) AS BIGINT)
        |      AS gspan
        |  FROM emb_n)
        |ORDER BY vec_id""".stripMargin, O.embQuant),

    "q_ann_topk" -> O.withCtes(
      s"""SELECT query_id, neighbor_id, rank, cos_x1e6 FROM (
         |  SELECT query_id, neighbor_id, cos_x1e6,
         |    row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos_x1e6 DESC, neighbor_id) AS rank
         |  FROM (
         |    SELECT s.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      ${O.cosSql("list_sum([c.qv[i] * s.qv[i] for i in generate_series(1, 64)])", "c.nrm", "s.nrm")} AS cos_x1e6
         |    FROM emb_n c JOIN emb_n s
         |      ON s.vec_id < 20 AND c.vec_id <> s.vec_id))
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin, O.embQuant),

    // Hard-negative mirror: different-label rank + positive margin.
    "q_hard_negatives" -> O.withCtes(
      s"""SELECT query_id, neighbor_id, rank, cos_x1e6,
         |  coalesce(best_pos_cos, 0) - cos_x1e6 AS margin_x1e6
         |FROM (
         |  SELECT *,
         |    max(CASE WHEN n_label = q_label THEN cos_x1e6 END)
         |      OVER (PARTITION BY query_id) AS best_pos_cos,
         |    CAST(sum(CASE WHEN n_label <> q_label THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY query_id
         |        ORDER BY cos_x1e6 DESC, neighbor_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS rank,
         |    n_label <> q_label AS is_neg
         |  FROM (
         |    SELECT s.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      c.label AS n_label, s.label AS q_label,
         |      ${O.cosSql("list_sum([c.qv[i] * s.qv[i] for i in generate_series(1, 64)])", "c.nrm", "s.nrm")} AS cos_x1e6
         |    FROM emb_n c JOIN emb_n s
         |      ON s.vec_id < 20 AND c.vec_id <> s.vec_id))
         |WHERE is_neg AND rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
      O.embQuant),

    // Matryoshka mirror: prefix-slice dots + full-dim re-score.
    "q_ann_matryoshka" -> O.withCtes(
      s"""SELECT query_id, neighbor_id, rank, cos_trunc_x1e6,
         |  ${O.cosSql("list_sum([cv[i] * sv[i] for i in generate_series(1, 64)])", "nrm_a", "nrm_b")} AS cos_full_x1e6
         |FROM (
         |  SELECT query_id, neighbor_id, cos_trunc_x1e6, cv, sv,
         |    nrm_a, nrm_b,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_trunc_x1e6 DESC, neighbor_id) AS rank
         |  FROM (
         |    SELECT s.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      CASE WHEN list_sum([c.qv[i] * c.qv[i]
         |          for i in generate_series(1, 16)]) = 0
         |        OR list_sum([s.qv[i] * s.qv[i]
         |          for i in generate_series(1, 16)]) = 0 THEN 0
         |      ELSE ${O.cosSql("list_sum([c.qv[i] * s.qv[i] for i in generate_series(1, 16)])",
      "list_sum([c.qv[i] * c.qv[i] for i in generate_series(1, 16)])",
      "list_sum([s.qv[i] * s.qv[i] for i in generate_series(1, 16)])")}
         |      END AS cos_trunc_x1e6,
         |      c.qv AS cv, s.qv AS sv, c.nrm AS nrm_a, s.nrm AS nrm_b
         |    FROM emb_n c JOIN emb_n s
         |      ON s.vec_id < 20 AND c.vec_id <> s.vec_id))
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      O.embQuant),

    "q_ann_pq" -> O.withCtes(
      s"""SELECT query_id, neighbor_id, rank, cos_x1e6 FROM (
         |  SELECT s.query_id, s.neighbor_id,
         |    ${O.cosSql("list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, 64)])", "a.nrm", "b.nrm")} AS cos_x1e6,
         |    row_number() OVER (PARTITION BY s.query_id ORDER BY
         |      ${O.cosSql("list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, 64)])", "a.nrm", "b.nrm")} DESC,
         |      s.neighbor_id) AS rank
         |  FROM (
         |    SELECT query_id, neighbor_id FROM (
         |      SELECT query_id, neighbor_id,
         |        row_number() OVER (
         |          PARTITION BY query_id ORDER BY adist, neighbor_id) AS srank
         |      FROM (
         |        SELECT l.query_id, p.vec_id AS neighbor_id,
         |          CAST(sum(l.d) AS BIGINT) AS adist
         |        FROM pq_codes p JOIN pq_lut l ON p.m = l.m AND p.code = l.code
         |        WHERE p.vec_id <> l.query_id
         |        GROUP BY 1, 2))
         |    WHERE srank <= 100) s
         |  JOIN emb_n a ON a.vec_id = s.neighbor_id
         |  JOIN emb_n b ON b.vec_id = s.query_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      (Seq(O.embQuant) ++ O.pqCtes): _*),

    "q_ann_ivf" -> O.withCtes(
      s"""SELECT query_id, neighbor_id, cell_id, rank, cos_x1e6 FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_x1e6 DESC, neighbor_id) AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      c.cell_id,
         |      ${O.cosSql("list_sum([c.qv[i] * q.qv[i] for i in generate_series(1, 64)])", "c.nrm", "q.nrm")} AS cos_x1e6
         |    FROM ivf_cells c JOIN ivf_probe q
         |      ON c.cell_id = q.cell_id
         |     AND c.vec_id <> q.vec_id))
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
      (O.embQuant +: O.ivfCtes): _*),

    // IVF-routed mirror of q_hard_negatives: same margin/rank logic over
    // the probed-cells candidate set instead of the full corpus.
    "q_hard_negatives_ivf" -> O.withCtes(
      s"""SELECT query_id, neighbor_id, rank, cos_x1e6,
         |  coalesce(best_pos_cos, 0) - cos_x1e6 AS margin_x1e6
         |FROM (
         |  SELECT *,
         |    max(CASE WHEN n_label = q_label THEN cos_x1e6 END)
         |      OVER (PARTITION BY query_id) AS best_pos_cos,
         |    CAST(sum(CASE WHEN n_label <> q_label THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY query_id
         |        ORDER BY cos_x1e6 DESC, neighbor_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS rank,
         |    n_label <> q_label AS is_neg
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      en.label AS n_label, eq.label AS q_label,
         |      ${O.cosSql("list_sum([c.qv[i] * q.qv[i] for i in generate_series(1, 64)])", "c.nrm", "q.nrm")} AS cos_x1e6
         |    FROM ivf_cells c JOIN ivf_probe q
         |      ON c.cell_id = q.cell_id AND c.vec_id <> q.vec_id
         |    JOIN emb_n en ON en.vec_id = c.vec_id
         |    JOIN emb_n eq ON eq.vec_id = q.vec_id))
         |WHERE is_neg AND rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
      (O.embQuant +: O.ivfCtes): _*),

    "q_token_classes" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
        |  len(regexp_extract_all(text, '[0-9]')) AS n_digits,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
        |  len(regexp_extract_all(text, '[A-Za-z]+'))
        |    + len(regexp_extract_all(text, '[0-9]'))
        |    + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS approx_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_ann_lsh" -> O.withCtes(
      """SELECT query_id, neighbor_id, shared_bands, rank, cos_x1e6 FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos_x1e6 DESC, neighbor_id) AS rank
        |  FROM (
        |    SELECT vec_a AS query_id, vec_b AS neighbor_id, shared_bands, cos_x1e6
        |    FROM cand_cos
        |    UNION ALL
        |    SELECT vec_b, vec_a, shared_bands, cos_x1e6 FROM cand_cos))
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
      O.embQuant, O.planes, O.lshBandsCte, O.lshCandCte, O.candCosCte),

    "q_semantic_decon" -> O.withCtes(
      s"""SELECT vec_id, bench_id, cos_x1e6, n_bench_hits FROM (
         |  SELECT vec_id, bench_id, cos_x1e6,
         |    count(*) OVER (PARTITION BY vec_id) AS n_bench_hits,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_x1e6 DESC, bench_id) AS rn
         |  FROM (
         |  SELECT c.vec_id, b.bench_id,
         |    ${O.cosSql(
              "list_sum([c.cv[i] * b.bv[i] for i in generate_series(1, 64)])",
              "c.nrm_a", "b.nrm_b")} AS cos_x1e6
         |  FROM (
         |    SELECT vec_id, qv AS cv, nrm AS nrm_a FROM emb_n
         |    WHERE vec_id % 50 <> 0) c
         |  CROSS JOIN (
         |    SELECT vec_id AS bench_id, qv AS bv, nrm AS nrm_b FROM emb_n
         |    WHERE vec_id % 50 = 0) b)
         |  WHERE cos_x1e6 >= 350000)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin, O.embQuant),

    "q_embed_neardup" -> O.withCtes(
      """SELECT vec_a, vec_b, cos_x1e6 FROM cand_cos
        |WHERE cos_x1e6 >= 400000
        |ORDER BY vec_a, vec_b""".stripMargin,
      O.embQuant, O.planes, O.lshBandsCte, O.lshCandCte, O.candCosCte),

    "q_text_stats" ->
      """SELECT doc_id, n_tokens, n_chars_obs, chars_match, non_space_chars,
        |  CASE WHEN n_tokens > 0 THEN non_space_chars * 100 // n_tokens
        |       ELSE 0 END AS avg_token_len_x100
        |FROM (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens,
        |    length(text) AS n_chars_obs,
        |    (length(text) = n_chars) AS chars_match,
        |    length(regexp_replace(text, '\s', '', 'g')) AS non_space_chars
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_quality_score" -> qualityScoreOracle,

    // Gopher cascade mirror: integer basis points, first failing rule.
    "q_gopher_rules" -> O.withCtes(
      """SELECT doc_id, n_tokens, mean_wlen_x100, sym_ratio_x1000,
        |  alpha_frac_x1000, n_req_stop,
        |  CASE WHEN n_tokens < 50 OR n_tokens > 100000 THEN 'WORD_COUNT'
        |    WHEN mean_wlen_x100 < 300 OR mean_wlen_x100 > 1000
        |      THEN 'MEAN_WORD_LENGTH'
        |    WHEN sym_ratio_x1000 > 100 THEN 'SYMBOL_RATIO'
        |    WHEN alpha_frac_x1000 < 800 THEN 'ALPHA_FRACTION'
        |    WHEN n_req_stop < 2 THEN 'STOPWORDS'
        |    ELSE 'KEEP' END AS verdict
        |FROM (
        |  SELECT doc_id, len(ws) AS n_tokens,
        |    CASE WHEN len(ws) > 0 THEN
        |      CAST(list_sum([len(x) for x in ws]) AS BIGINT) * 100
        |        // len(ws) ELSE 0 END AS mean_wlen_x100,
        |    CAST(len([x for x in ws
        |      if contains(x, '#') OR contains(x, '...')]) AS BIGINT)
        |      * 1000 // len(ws) AS sym_ratio_x1000,
        |    CAST(len([x for x in ws
        |      if regexp_matches(x, '[a-z]')]) AS BIGINT) * 1000
        |      // len(ws) AS alpha_frac_x1000,
        |    CAST(len([x for x in list_distinct(ws)
        |      if list_contains(['the', 'be', 'to', 'of', 'and', 'that',
        |        'have', 'with'], x)]) AS BIGINT) AS n_req_stop
        |  FROM doc_words)
        |ORDER BY doc_id""".stripMargin, O.docWords),

    "q_lang_id" -> langIdOracle,

    "q_doc_fingerprint" -> O.withCtes(
      """SELECT doc_id, fp60, coalesce(list_min(shl), -1) AS min_shingle_h,
        |  coalesce(list_max(shl), -1) AS max_shingle_h
        |FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp60,
        |    [('0x' || substr(md5(x), 1, 15))::BIGINT
        |     for x in [array_to_string(ws[i:i+1], ' ')
        |               for i in generate_series(1, len(ws) - 1)]] AS shl
        |  FROM doc_words)
        |ORDER BY doc_id""".stripMargin, O.docWords),

    "q_media_meta" -> O.withCtes(
      """SELECT media_id, media_type,
        |  octet_length(from_hex(payload_hex)) AS byte_len,
        |  CAST(list_sum([('0x' || substr(payload_hex, i * 2 - 1, 2))::BIGINT
        |                 for i in generate_series(1, 64)]) AS BIGINT) AS byte_sum,
        |  width, height
        |FROM media_assets ORDER BY media_id""".stripMargin, O.mediaAssets),

    // reconstruction must reproduce the source payload bytes exactly
    "q_ec_reconstruct" -> O.withCtes(
      """SELECT media_id, payload_hex AS recovered_hex
        |FROM media_assets ORDER BY media_id""".stripMargin, O.mediaAssets),

    "q_daily_growth" -> O.withCtes(
      """SELECT ts_ms // 86400000 AS day, event_type,
        |  count(*) AS event_count,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |  count(DISTINCT user_id) AS active_users
        |FROM events_norm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.eventsNorm),

    "q_stream_hourly" -> O.withCtes(
      """SELECT ts_ms // 3600000 * 3600000 AS hour_start_ms, event_type,
        |  count(*) AS event_count,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events_norm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.eventsNorm),

    "q_typed_filesize" -> O.withCtes(
      """SELECT
        |  GREATEST((CAST(1 AS BIGINT) << (CASE WHEN data_size <= 1 THEN 0 ELSE length(bin(data_size - 1)) END)), 1024) AS size_bin,
        |  count(*) AS file_count,
        |  CAST(sum(data_size) AS BIGINT) AS total_bytes
        |FROM objects GROUP BY 1 ORDER BY 1""".stripMargin, O.objects),

    "q_mpu_expiry" -> O.withCtes(
      """SELECT upload_id, initiated, num_parts, total_size FROM (
        |  SELECT upload_id, min(creation_time) AS initiated,
        |    count(*) AS num_parts, CAST(sum(size) AS BIGINT) AS total_size
        |  FROM multipart_parts GROUP BY 1)
        |WHERE initiated < 870000000000
        |ORDER BY upload_id""".stripMargin, O.multipartParts),

    // MPU-cleanup mirror: prefix-sum budget walk over the sorted store,
    // then the expired-abort ladder against the literal bucket slice.
    "q_mpu_cleanup_walk" -> O.withCtes(
      """SELECT mpu_key,
        |  CASE WHEN budget_raw <= 0 THEN 'NOT_REACHED'
        |    WHEN NOT expired THEN 'NOT_EXPIRED'
        |    WHEN NOT bucket_live THEN 'SKIP_BUCKET_MISSING'
        |    WHEN NOT present_at_apply THEN 'SKIP_GONE'
        |    WHEN 5000 < update_id THEN 'SKIP_UPDATE_FENCE'
        |    ELSE 'ABORTED' END AS decision,
        |  num_parts,
        |  CAST(CASE WHEN budget_raw <= 0 THEN
        |      max(CASE WHEN budget_raw <= 0 THEN budget_raw END) OVER ()
        |    ELSE budget_raw END AS BIGINT) AS budget_before,
        |  CAST(CASE WHEN budget_raw > 0 AND expired AND bucket_live
        |      AND present_at_apply AND update_id <= 5000
        |    THEN num_parts ELSE 0 END AS BIGINT) AS parts_deleted
        |FROM (
        |  SELECT w.*,
        |    EXISTS (SELECT 1 FROM mpu_live_buckets lb
        |      WHERE lb.volume = w.volume AND lb.bucket = w.bucket)
        |      AS bucket_live,
        |    120 - coalesce(sum(CASE WHEN expired THEN num_parts
        |        ELSE 0 END) OVER (ORDER BY mpu_key
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS budget_raw
        |  FROM (
        |    SELECT *,
        |      '/' || volume || '/' || bucket || '/' || key || '/'
        |        || upload_id AS mpu_key,
        |      initiated_ms <= 801964800000 AS expired
        |    FROM mpu_cleanup_store) w)
        |ORDER BY mpu_key""".stripMargin,
      O.multipartParts,
      """mpu_cleanup_store AS (
        |  SELECT 'vol' || (order_key % 4) AS volume,
        |    'bucket' || ((order_key // 50) % 5) AS bucket,
        |    'warehouse/mpu/' || order_key || '.bin' AS key,
        |    upload_id, min(creation_time) AS initiated_ms,
        |    count(*) AS num_parts,
        |    (order_key * 7) % 6000 AS update_id,
        |    ((order_key // 50) % 7) <> 6 AS present_at_apply
        |  FROM multipart_parts
        |  GROUP BY upload_id, order_key)""".stripMargin,
      O.values("mpu_live_buckets", T.mpuLiveBucketRows)),

    "q_replica_history" -> O.withCtes(
      """SELECT container_id, datanode, count(*) AS n_reports,
        |  min(ts) AS first_seen, max(ts) AS last_seen,
        |  coalesce(CAST(max(gap) AS BIGINT), 0) AS max_gap_ms
        |FROM (
        |  SELECT container_id, datanode, ts,
        |    ts - lag(ts) OVER (PARTITION BY container_id, datanode ORDER BY ts) AS gap
        |  FROM replica_history)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.objects, O.replicaHistoryCte),

    "q_orphan_scan" -> O.withCtes(
      """SELECT volume, bucket, pid AS parent_id, name, object_id, data_size
        |FROM (
        |  SELECT volume, bucket, object_id, data_size,
        |    list_extract(parts, len(parts)) AS name,
        |    ('0x' || substr(md5(volume || ':' || bucket || ':' ||
        |      array_to_string(list_slice(parts, 1, len(parts) - 1), '/')), 1, 15))::BIGINT AS pid
        |  FROM (SELECT volume, bucket, object_id, data_size,
        |          string_split(key, '/') AS parts FROM objects))
        |WHERE pid % 13 = 0
        |ORDER BY volume, bucket, name, object_id, data_size""".stripMargin,
      O.objects),

    "q_recon_key_filter" -> O.withCtes(
      """SELECT volume, bucket, key, replication_type, data_size, creation_time
        |FROM objects
        |WHERE replication_type = 'EC/rs-3-2-1024k' AND data_size > 50000
        |  AND creation_time BETWEEN 820454400000 AND 883612800000
        |ORDER BY volume, bucket, key, data_size, creation_time""".stripMargin,
      O.objects),

    "q_url_encode" -> O.withCtes(
      """SELECT key, replace(key, '/', '%2F') AS enc,
        |  replace(replace(key, '/', '%2F'), '%2F', '/') = key AS roundtrip
        |FROM objects ORDER BY key""".stripMargin, O.objects),

    "q_json_edge" -> O.withCtes(
      """SELECT key,
        |  to_json(struct_pack(key := key, size := data_size))::VARCHAR AS doc
        |FROM objects ORDER BY key, doc""".stripMargin, O.objects),

    "q_media_range" -> O.withCtes(
      """SELECT media_id, CAST(8 AS BIGINT) AS range_start,
        |  substr(payload_hex, 17, 16) AS chunk_hex
        |FROM media_assets ORDER BY media_id""".stripMargin, O.mediaAssets),

    // 64-byte payloads, 16-byte frames, stride 2 ⇒ frames 0 and 2; frame k
    // covers hex chars [32k+1, 32k+32].
    "q_media_frames" -> O.withCtes(
      """SELECT media_id, i * 2 AS frame_idx,
        |  substr(payload_hex, i * 64 + 1, 32) AS frame_hex
        |FROM media_assets CROSS JOIN (VALUES (0), (1)) t(i)
        |ORDER BY media_id, frame_idx""".stripMargin, O.mediaAssets),

    // Nested-type oracles use the flat closed forms the nested columns
    // derive from (tags['flag'] == tag_flag, acl name == owner, locations
    // == chunked byte ranges).
    "q_tags_expiry" -> O.withCtes(
      """SELECT volume, bucket, key, data_size, modification_time
        |FROM objects
        |WHERE tag_flag = 'R' AND modification_time < 883612800000
        |ORDER BY volume, bucket, key, data_size, modification_time""".stripMargin,
      O.objects),

    // READ is granted by the owner's USER/rwx entry (name = owner) or the
    // auditor<object_id%3> USER entry, readable only when version is even
    // (mirrors the Tables.objectsNested acl synthesis).
    "q_acl_probe" -> O.withCtes(
      """SELECT volume, bucket, key, principal FROM objects
        |CROSS JOIN acl_principals p
        |WHERE owner = principal
        |   OR ('auditor' || (object_id % 3) = principal AND version % 2 = 0)
        |ORDER BY volume, bucket, key, principal""".stripMargin, O.objects,
      O.values("acl_principals", T.aclProbePrincipalRows)),

    "q_user_volumes" -> O.withCtes(
      """SELECT owner AS user_name, count(*) AS volume_count,
        |  CAST(sum(used_bytes) AS BIGINT) AS owned_bytes
        |FROM volumes GROUP BY 1 ORDER BY 1""".stripMargin,
      O.objects, O.buckets, O.volumes),

    "q_s3_secret" -> O.withCtes(
      """SELECT access_id, md5(access_id || '#secret') AS secret
        |FROM (
        |  SELECT DISTINCT
        |    'tenant' || substr(volume, 4, 10) || '$' || owner AS access_id
        |  FROM objects WHERE owner = 'clerk1')
        |ORDER BY access_id""".stripMargin, O.objects),

    // audit parser: the three canned templates, DESC-total ASC-key top-5
    "q_audit_top_users" -> O.withCtes(
      """SELECT owner AS user, count(*) AS total
        |FROM objects GROUP BY 1
        |ORDER BY total DESC, user LIMIT 5""".stripMargin, O.objects),

    "q_audit_top_cmds" -> O.withCtes(
      """SELECT CASE WHEN version % 4 = 0 THEN 'READ_KEY'
        |       WHEN version % 4 = 1 THEN 'ALLOCATE_KEY'
        |       WHEN version % 4 = 2 THEN 'COMMIT_KEY'
        |       ELSE 'DELETE_KEY' END AS op, count(*) AS total
        |FROM objects GROUP BY 1
        |ORDER BY total DESC, op LIMIT 5""".stripMargin, O.objects),

    "q_audit_top_times" -> O.withCtes(
      """SELECT strftime(to_timestamp(modification_time // 1000),
        |    '%Y-%m-%d %H:%M:%S') AS dt,
        |  count(*) AS thecount
        |FROM objects GROUP BY 1
        |ORDER BY thecount DESC, dt LIMIT 5""".stripMargin, O.objects),

    // SigV4 verdicts: the fixture signs per access id one valid request
    // (independent javax.crypto signer), one corrupted, one ghost — so the
    // verdict column is a pure function of the id set; the MATCH rows only
    // materialize if the engine's graft_hmac chain reproduces the
    // independent signer bit-for-bit.
    "q_sigv4_verify" -> O.withCtes(
      """SELECT access_id, verdict FROM (
        |  SELECT access_id, 'MATCH' AS verdict FROM ids
        |  UNION ALL SELECT access_id, 'MISMATCH' FROM ids
        |  UNION ALL SELECT access_id || '-ghost', 'NO_SECRET' FROM ids)
        |ORDER BY access_id, verdict""".stripMargin,
      O.objects,
      """ids AS (
        |  SELECT DISTINCT
        |    'tenant' || substr(volume, 4, 10) || '$' || owner AS access_id
        |  FROM objects)""".stripMargin),

    // Atomic-rewrite mirror: md5-sampled store, nibble classes, the
    // same fence CASE.
    "q_atomic_rewrite" -> O.withCtes(
      """SELECT r.volume, r.bucket, r.key,
        |  CASE
        |    WHEN r.expected_gen = -1 AND s.stored_gen IS NOT NULL
        |      THEN 'KEY_ALREADY_EXISTS'
        |    WHEN r.expected_gen = -1 THEN 'CREATED'
        |    WHEN r.expected_gen IS NOT NULL AND s.stored_gen IS NULL
        |      THEN 'KEY_NOT_FOUND'
        |    WHEN r.expected_gen IS NOT NULL
        |      AND r.expected_gen <> s.stored_gen
        |      THEN 'GENERATION_MISMATCH'
        |    WHEN r.expected_gen IS NOT NULL THEN 'REWRITTEN'
        |    WHEN r.expected_etag = s.etag THEN 'ETAG_TO_GEN'
        |    ELSE 'ETAG_MISMATCH' END AS verdict,
        |  CAST(CASE
        |    WHEN r.expected_gen IS NOT NULL AND r.expected_gen <> -1
        |      AND s.stored_gen IS NOT NULL
        |      AND r.expected_gen = s.stored_gen THEN s.stored_gen
        |    WHEN r.expected_gen IS NULL AND r.expected_etag = s.etag
        |      THEN s.stored_gen
        |    WHEN r.expected_gen = -1 AND s.stored_gen IS NULL THEN 0
        |    ELSE -1 END AS BIGINT) AS effective_gen
        |FROM arw_reqs r
        |LEFT JOIN arw_store s USING (volume, bucket, key)
        |ORDER BY r.volume, r.bucket, r.key, verdict""".stripMargin,
      O.objects,
      """arw_store AS (
        |  SELECT volume, bucket, key, max(version) AS stored_gen,
        |    min(mk) AS mk, md5(key) AS etag
        |  FROM (
        |    SELECT *, md5(volume || '/' || bucket || '/' || key) AS mk
        |    FROM objects)
        |  WHERE substr(mk, 1, 1) = '0'
        |  GROUP BY 1, 2, 3)""".stripMargin,
      """arw_reqs AS (
        |  SELECT volume, bucket,
        |    CASE WHEN cls IN (2, 4) THEN key || '#nx' ELSE key END
        |      AS key,
        |    CASE WHEN cls IN (1, 2) THEN -1
        |      WHEN cls = 0 THEN stored_gen
        |      WHEN cls = 3 THEN stored_gen + 7
        |      WHEN cls = 4 THEN 1
        |      ELSE NULL END AS expected_gen,
        |    CASE WHEN cls = 5 THEN md5(key)
        |      WHEN cls = 6 THEN md5(key || 'x')
        |      ELSE NULL END AS expected_etag
        |  FROM (SELECT *, ascii(substr(mk, 2, 1)) % 7 AS cls
        |    FROM arw_store))""".stripMargin),

    // Chunked-upload mirror: the planted corruption classes decide the
    // verdicts; chunk counts re-derived from the document bodies — the
    // Spark side must parse the frames and re-run the HMAC chain to
    // reach the same rows.
    "q_sigv4_chunked" ->
      """SELECT doc_id AS upload_id,
        |  CAST(n AS BIGINT) AS n_chunks,
        |  CASE doc_id % 4 WHEN 3 THEN 'MISSING_FINAL_CHUNK'
        |    WHEN 2 THEN 'SIZE_MISMATCH'
        |    WHEN 1 THEN 'BAD_CHUNK_SIG'
        |    ELSE 'VALID' END AS verdict,
        |  CAST(CASE doc_id % 4 WHEN 2 THEN 0
        |    WHEN 1 THEN least(1, n - 1)
        |    ELSE -1 END AS BIGINT) AS bad_index
        |FROM (
        |  SELECT doc_id,
        |    (length(substr(replace(text, chr(13), ''), 1, 800)) + 199)
        |      // 200 AS n
        |  FROM documents WHERE doc_id % 23 = 0)
        |ORDER BY upload_id""".stripMargin,

    "q_dtoken_expiry" -> O.withCtes(
      """SELECT md5('token' || owner) AS token_id, owner, 'om' AS renewer,
        |  issued_ms,
        |  issued_ms + (CAST(substr(owner, 6, 10) AS BIGINT) + 1) * 2592000000 AS max_expiry_ms
        |FROM (
        |  SELECT owner, min(creation_time) AS issued_ms
        |  FROM objects GROUP BY 1)
        |WHERE issued_ms + (CAST(substr(owner, 6, 10) AS BIGINT) + 1) * 2592000000
        |      < 799286400000
        |ORDER BY owner""".stripMargin, O.objects),

    // RenewToken ladder mirror: expiry checked before the store probe.
    "q_token_renew" -> O.withCtes(
      """SELECT r.req_id, r.token_owner, r.caller,
        |  CASE WHEN r.max_expiry_ms < 799286400000 THEN 'TOKEN_EXPIRED'
        |    WHEN s.token_id IS NULL THEN 'INVALID_TOKEN'
        |    WHEN r.renewer = '' THEN 'ACCESS_DENIED'
        |    WHEN r.caller <> r.renewer THEN 'ACCESS_DENIED'
        |    ELSE 'RENEWED' END AS decision,
        |  CASE WHEN r.max_expiry_ms >= 799286400000
        |      AND s.token_id IS NOT NULL AND r.renewer <> ''
        |      AND r.caller = r.renewer
        |    THEN least(r.max_expiry_ms, 799286400000 + 86400000)
        |    ELSE 0 END AS new_expiry_ms
        |FROM rt_reqs r
        |LEFT JOIN dstore s ON r.token_id = s.token_id
        |ORDER BY r.req_id""".stripMargin,
      O.objects,
      """dstore AS (
        |  SELECT DISTINCT md5('token' || owner) AS token_id
        |  FROM objects)""".stripMargin,
      O.values("rt_rows", T.renewTokenRequestRows),
      """rt_reqs AS (
        |  SELECT *, md5('token' || token_owner) AS token_id
        |  FROM rt_rows)""".stripMargin),

    // CancelToken ladder mirror: access gate before the store probe.
    "q_token_cancel" -> O.withCtes(
      """SELECT r.req_id, r.token_owner, r.caller,
        |  CASE WHEN r.presented_owner = '' THEN 'INVALID_TOKEN'
        |    WHEN r.caller <> r.presented_owner
        |      AND (r.renewer = '' OR r.caller <> r.renewer)
        |      THEN 'ACCESS_DENIED'
        |    WHEN s.token_id IS NULL THEN 'INVALID_TOKEN'
        |    ELSE 'CANCELLED' END AS decision,
        |  CASE WHEN r.presented_owner = '' THEN 'NO_OWNER'
        |    WHEN r.caller <> r.presented_owner
        |      AND (r.renewer = '' OR r.caller <> r.renewer) THEN ''
        |    WHEN s.token_id IS NULL THEN 'NOT_FOUND'
        |    ELSE '' END AS reason
        |FROM ct_reqs r
        |LEFT JOIN dstore s ON r.token_id = s.token_id
        |ORDER BY r.req_id""".stripMargin,
      O.objects,
      """dstore AS (
        |  SELECT DISTINCT md5('token' || owner) AS token_id
        |  FROM objects)""".stripMargin,
      O.values("ct_rows", T.cancelTokenRequestRows),
      """ct_reqs AS (
        |  SELECT *, md5('token' || token_owner) AS token_id
        |  FROM ct_rows)""".stripMargin),

    // GetDelegationToken mint mirror: auth gate → manager probe → mint.
    "q_token_mint" -> O.withCtes(
      """SELECT req_id, caller, renewer, decision,
        |  CASE WHEN decision = 'MINTED' THEN caller ELSE '' END AS owner,
        |  CASE WHEN decision = 'MINTED' THEN real_user ELSE '' END
        |    AS real_user,
        |  CASE WHEN decision = 'MINTED'
        |    THEN 799286400000 + 86400000 ELSE 0 END AS renew_by_ms,
        |  CASE WHEN decision = 'MINTED'
        |    THEN 799286400000 + 604800000 ELSE 0 END AS max_date_ms
        |FROM (
        |  SELECT req_id, caller, renewer, real_user,
        |    CASE WHEN security_on AND auth_method NOT IN
        |        ('KERBEROS', 'KERBEROS_SSL', 'CERTIFICATE')
        |      THEN 'INVALID_AUTH_METHOD'
        |      WHEN NOT mgr_running THEN 'NO_TOKEN'
        |      ELSE 'MINTED' END AS decision
        |  FROM gt_reqs)
        |ORDER BY req_id""".stripMargin,
      O.values("gt_reqs", T.getTokenRequestRows)),

    // Iceberg rewrite mirror: version/snapshot/manifest scope in
    // (start, end], data files via the delta snapshot set.
    "q_iceberg_rewrite" -> O.withCtes(
      """SELECT file_type, path, copy_src, dst_path FROM (
        |  SELECT 'VERSION_FILE' AS file_type, path,
        |    'o3://vol0/bucket0/staging/' || substr(path, 22) AS copy_src,
        |    'o3://vol9/backup/wh/' || substr(path, 22) AS dst_path
        |  FROM ib_versions WHERE version_idx > 2 AND version_idx <= 4
        |  UNION ALL
        |  SELECT 'STATS_FILE', stats_path, stats_path,
        |    'o3://vol9/backup/wh/' || substr(stats_path, 22)
        |  FROM ib_stats WHERE version_idx > 2 AND version_idx <= 4
        |  UNION ALL
        |  SELECT 'MANIFEST_LIST', manifest_list,
        |    'o3://vol0/bucket0/staging/' || substr(manifest_list, 22),
        |    'o3://vol9/backup/wh/' || substr(manifest_list, 22)
        |  FROM ib_snaps WHERE added_in_version > 2 AND added_in_version <= 4
        |  UNION ALL
        |  SELECT 'MANIFEST', manifest_path,
        |    'o3://vol0/bucket0/staging/' || substr(manifest_path, 22),
        |    'o3://vol9/backup/wh/' || substr(manifest_path, 22)
        |  FROM ib_manifests WHERE snapshot_id IN (
        |    SELECT snapshot_id FROM ib_snaps
        |    WHERE added_in_version > 2 AND added_in_version <= 4)
        |  UNION ALL
        |  SELECT 'DATA_FILE', data_path, data_path,
        |    'o3://vol9/backup/wh/' || substr(data_path, 22)
        |  FROM ib_data WHERE added_snapshot_id IN (
        |    SELECT snapshot_id FROM ib_snaps
        |    WHERE added_in_version > 2 AND added_in_version <= 4))
        |ORDER BY file_type, path""".stripMargin,
      O.objects,
      """ib_versions AS (
        |  SELECT i AS version_idx,
        |    'o3://vol0/bucket0/wh/metadata/v' || i || '.metadata.json'
        |      AS path
        |  FROM range(1, 6) t(i))""".stripMargin,
      """ib_snaps AS (
        |  SELECT i + 100 AS snapshot_id,
        |    'o3://vol0/bucket0/wh/metadata/snap-' || (i + 100) || '.avro'
        |      AS manifest_list,
        |    i // 2 + 1 AS added_in_version
        |  FROM range(8) t(i))""".stripMargin,
      """ib_manifests AS (
        |  SELECT 'o3://vol0/bucket0/wh/metadata/m-' || (j // 2 + 100)
        |      || '-' || (j % 2) || '.avro' AS manifest_path,
        |    j // 2 + 100 AS snapshot_id
        |  FROM range(16) t(j))""".stripMargin,
      """ib_data AS (
        |  SELECT DISTINCT 'o3://vol0/bucket0/wh/data/' || key AS data_path,
        |    object_id % 8 + 100 AS added_snapshot_id
        |  FROM objects)""".stripMargin,
      """ib_stats AS (
        |  SELECT i AS version_idx,
        |    'o3://vol0/bucket0/wh/metadata/stats-v' || i || '.puffin'
        |      AS stats_path
        |  FROM range(1, 6) t(i) WHERE i % 2 = 0)""".stripMargin),

    // Finalize-gate mirror: same correlated last-state-change fold.
    "q_finalize_gate" -> O.withCtes(
      """SELECT o.seq, o.op_type, o.feature, o.caller,
        |  CASE WHEN coalesce((SELECT o2.sc FROM fg_ops o2
        |      WHERE o2.seq < o.seq AND o2.sc IS NOT NULL
        |      ORDER BY o2.seq DESC LIMIT 1) = 1, false)
        |    THEN CAST(11 AS BIGINT) ELSE CAST(4 AS BIGINT) END
        |    AS mlv_before,
        |  CASE WHEN o.op_type = 'FINALIZE' THEN
        |      CASE WHEN o.caller <> 'om-admin' THEN 'ACCESS_DENIED'
        |        WHEN coalesce((SELECT o2.sc FROM fg_ops o2
        |          WHERE o2.seq < o.seq AND o2.sc IS NOT NULL
        |          ORDER BY o2.seq DESC LIMIT 1) = 1, false)
        |          THEN 'ALREADY_FINALIZED'
        |        ELSE 'FINALIZATION_DONE' END
        |    WHEN f.version <= CASE WHEN coalesce((SELECT o2.sc
        |        FROM fg_ops o2 WHERE o2.seq < o.seq AND o2.sc IS NOT NULL
        |        ORDER BY o2.seq DESC LIMIT 1) = 1, false)
        |      THEN 11 ELSE 4 END THEN 'ALLOWED'
        |    ELSE 'NOT_SUPPORTED_OPERATION_PRIOR_FINALIZATION' END
        |    AS decision,
        |  CASE WHEN o.op_type = 'FINALIZE' AND o.caller = 'om-admin'
        |      AND NOT coalesce((SELECT o2.sc FROM fg_ops o2
        |        WHERE o2.seq < o.seq AND o2.sc IS NOT NULL
        |        ORDER BY o2.seq DESC LIMIT 1) = 1, false)
        |    THEN CAST(7 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |    AS features_run
        |FROM fg_ops o
        |LEFT JOIN fg_features f ON o.feature = f.feature
        |ORDER BY o.seq""".stripMargin,
      O.values("fg_features", T.omLayoutFeatureRows),
      O.values("fg_rows", T.upgradeOpRows),
      """fg_ops AS (
        |  SELECT *,
        |    CASE WHEN op_type = 'FINALIZE' AND caller = 'om-admin'
        |      THEN 1 END AS sc
        |  FROM fg_rows)""".stripMargin),

    // Prepare-gate mirror: last-non-null state fold via a correlated
    // most-recent-state-change probe (the op log is control-plane tiny).
    "q_prepare_gate" -> O.withCtes(
      """SELECT o.seq, o.op_type, o.caller,
        |  coalesce((SELECT o2.sc FROM pg_ops o2
        |    WHERE o2.seq < o.seq AND o2.sc IS NOT NULL
        |    ORDER BY o2.seq DESC LIMIT 1) = 1, false) AS gate_on,
        |  CASE WHEN o.op_type = 'PREPARE' THEN
        |      CASE WHEN o.caller <> 'om-admin' THEN 'ACCESS_DENIED'
        |        ELSE 'PREPARED' END
        |    WHEN o.op_type = 'CANCEL_PREPARE' THEN
        |      CASE WHEN o.caller <> 'om-admin' THEN 'ACCESS_DENIED'
        |        ELSE 'CANCELLED' END
        |    WHEN coalesce((SELECT o2.sc FROM pg_ops o2
        |      WHERE o2.seq < o.seq AND o2.sc IS NOT NULL
        |      ORDER BY o2.seq DESC LIMIT 1) = 1, false)
        |      THEN 'NOT_SUPPORTED_OPERATION_WHEN_PREPARED'
        |    ELSE 'APPLIED' END AS decision,
        |  CASE WHEN o.op_type = 'PREPARE' AND o.caller = 'om-admin'
        |    THEN o.seq ELSE -1 END AS prepare_index
        |FROM pg_ops o
        |ORDER BY o.seq""".stripMargin,
      O.values("pg_rows", T.prepareOpRows),
      """pg_ops AS (
        |  SELECT *,
        |    CASE WHEN op_type = 'PREPARE' AND caller = 'om-admin' THEN 1
        |      WHEN op_type = 'CANCEL_PREPARE' AND caller = 'om-admin'
        |      THEN 0 END AS sc
        |  FROM pg_rows)""".stripMargin),

    // auditor2 = 'auditor' || (object_id % 3) with object-read iff version
    // even (objectsNested synthesis); prefix grant iff under warehouse/A/
    // (longest match 'warehouse/A/' r--; the shorter 'warehouse/' is -w-)
    "q_acl_apply" -> O.withCtes(
      """SELECT volume, bucket, key, ptype, pname, scope,
        |  CAST(sum(1 << b) AS BIGINT) AS rights_mask
        |FROM (
        |  SELECT volume, bucket, key, ptype, pname, scope, b,
        |    arg_max(op, seq) AS last_op
        |  FROM (
        |    SELECT a.*, t.b
        |    FROM acl_ops a
        |    LEFT JOIN (
        |      SELECT volume, bucket, key, max(seq) AS set_seq
        |      FROM acl_ops WHERE op = 'SET' GROUP BY 1, 2, 3) s
        |      USING (volume, bucket, key)
        |    CROSS JOIN range(0, 8) t(b)
        |    WHERE a.seq >= coalesce(s.set_seq, 0)
        |      AND ((a.bits >> b) & 1) = 1)
        |  GROUP BY 1, 2, 3, 4, 5, 6, 7)
        |WHERE last_op <> 'REMOVE'
        |GROUP BY 1, 2, 3, 4, 5, 6
        |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
      O.objects, O.aclOpsCte),

    // Prefix-ACL write ladder mirror: exact existence-before-op via the
    // bit-event model (stored = seq-0 ADDs, SET = boundary).
    "q_prefix_acl_ops" -> O.withCtes(
      """SELECT o.seq, o.volume, o.bucket, o.prefix, o.op, o.pname,
        |  CASE WHEN o.prefix NOT LIKE '%/'
        |      THEN 'INVALID_PATH_IN_ACL_REQUEST'
        |    WHEN o.op = 'REMOVE' AND p.on_bits IS NULL
        |      THEN 'PREFIX_NOT_FOUND'
        |    ELSE 'APPLIED' END AS decision
        |FROM pao_ops o
        |LEFT JOIN pon p ON o.volume = p.volume AND o.bucket = p.bucket
        |  AND o.prefix = p.prefix AND o.seq = p.k
        |ORDER BY o.volume, o.bucket, o.prefix, o.seq""".stripMargin,
      O.objects, O.buckets,
      O.values("pao_ops", T.prefixAclWriteOpRows),
      """stored_bits AS (
        |  SELECT volume, bucket, 'warehouse/' AS prefix,
        |    'auditor2' AS name, 2 AS bits FROM buckets
        |  UNION ALL
        |  SELECT volume, bucket, 'warehouse/A/', 'auditor2', 1
        |  FROM buckets)""".stripMargin,
      """pev AS (
        |  SELECT e.volume, e.bucket, e.prefix, e.seq, e.op, e.pname,
        |    t.b AS bit
        |  FROM (
        |    SELECT seq, volume, bucket, prefix, op, pname, bits
        |    FROM pao_ops WHERE prefix LIKE '%/'
        |    UNION ALL
        |    SELECT 0, volume, bucket, prefix, 'ADD', name, bits
        |    FROM stored_bits) e
        |  CROSS JOIN range(0, 8) t(b)
        |  WHERE ((e.bits >> t.b) & 1) = 1)""".stripMargin,
      """pbound AS (
        |  SELECT o.volume, o.bucket, o.prefix, o.seq AS k,
        |    coalesce(max(s.seq) FILTER (WHERE s.seq < o.seq), 0)
        |      AS boundary
        |  FROM pao_ops o
        |  LEFT JOIN (SELECT DISTINCT volume, bucket, prefix, seq
        |             FROM pev WHERE op = 'SET') s
        |    ON o.volume = s.volume AND o.bucket = s.bucket
        |      AND o.prefix = s.prefix
        |  GROUP BY 1, 2, 3, 4)""".stripMargin,
      """pon AS (
        |  SELECT volume, bucket, prefix, k, count(*) AS on_bits
        |  FROM (
        |    SELECT b.volume, b.bucket, b.prefix, b.k, e.pname, e.bit,
        |      arg_max(e.op, e.seq) AS last_op
        |    FROM pbound b
        |    JOIN pev e ON b.volume = e.volume AND b.bucket = e.bucket
        |      AND b.prefix = e.prefix
        |    WHERE e.seq < b.k AND e.seq >= b.boundary
        |    GROUP BY 1, 2, 3, 4, 5, 6)
        |  WHERE last_op <> 'REMOVE'
        |  GROUP BY 1, 2, 3, 4)""".stripMargin),

    // Final prefixTable state mirror: the applyAclOps bit fold, emptied
    // entries dropped.
    "q_prefix_acl_fold" -> O.withCtes(
      """SELECT volume, bucket, prefix, pname,
        |  CAST(sum(1 << bit) AS BIGINT) AS rights_mask
        |FROM (
        |  SELECT e.volume, e.bucket, e.prefix, e.pname, t.b AS bit,
        |    arg_max(e.op, e.seq) AS last_op
        |  FROM pf_events e
        |  LEFT JOIN (SELECT volume, bucket, prefix, max(seq) AS set_seq
        |             FROM pf_events WHERE op = 'SET' GROUP BY 1, 2, 3) s
        |    ON e.volume = s.volume AND e.bucket = s.bucket
        |      AND e.prefix = s.prefix
        |  CROSS JOIN range(0, 8) t(b)
        |  WHERE e.seq >= coalesce(s.set_seq, 0)
        |    AND ((e.bits >> t.b) & 1) = 1
        |  GROUP BY 1, 2, 3, 4, 5)
        |WHERE last_op <> 'REMOVE'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY 1, 2, 3, 4""".stripMargin,
      O.objects, O.buckets,
      O.values("pao_ops", T.prefixAclWriteOpRows),
      """pf_events AS (
        |  SELECT seq, volume, bucket, prefix, op, pname, bits
        |  FROM pao_ops WHERE prefix LIKE '%/'
        |  UNION ALL
        |  SELECT 0, volume, bucket, 'warehouse/', 'ADD', 'auditor2', 2
        |  FROM buckets
        |  UNION ALL
        |  SELECT 0, volume, bucket, 'warehouse/A/', 'ADD', 'auditor2', 1
        |  FROM buckets)""".stripMargin),

    "q_prefix_acl" -> O.withCtes(
      """SELECT volume, bucket, key, 'auditor2' AS principal,
        |  CASE WHEN object_id % 3 = 2 AND version % 2 = 0 THEN 'OBJECT'
        |       ELSE 'PREFIX' END AS granted_via
        |FROM objects
        |WHERE (object_id % 3 = 2 AND version % 2 = 0)
        |   OR key LIKE 'warehouse/A/%'
        |ORDER BY volume, bucket, key, granted_via""".stripMargin, O.objects),

    // Ranger sync mirror: full-outer policy/role diffs, member csv sets.
    "q_ranger_sync" -> O.withCtes(
      """SELECT kind, name, decision, om_users, ranger_users FROM (
        |  SELECT 'POLICY' AS kind,
        |    coalesce(e.name, r.policy_name) AS name,
        |    CASE WHEN r.policy_name IS NULL THEN 'CREATE'
        |      WHEN e.name IS NULL THEN 'DELETE'
        |      ELSE 'IN_SYNC' END AS decision,
        |    '' AS om_users, '' AS ranger_users
        |  FROM rs_expected_policies e
        |  FULL OUTER JOIN rs_rpolicies r ON e.name = r.policy_name
        |  UNION ALL
        |  SELECT 'ROLE',
        |    coalesce(o.role_name, g.role_name),
        |    CASE WHEN g.role_name IS NULL THEN 'CREATE_AND_PUSH'
        |      WHEN o.role_name IS NULL THEN 'DELETE'
        |      WHEN o.om_set <> g.ranger_set THEN 'PUSH'
        |      ELSE 'IN_SYNC' END,
        |    coalesce(array_to_string(o.om_set, ','), ''),
        |    coalesce(array_to_string(g.ranger_set, ','), '')
        |  FROM rs_om_roles o
        |  FULL OUTER JOIN rs_rroles g ON o.role_name = g.role_name)
        |ORDER BY kind, name""".stripMargin,
      O.objects,
      O.values("empty_tenant", T.emptyTenantRows),
      """rs_tenants AS (
        |  SELECT DISTINCT 'tenant' || substr(volume, 4, 10) AS tenant_id
        |  FROM objects
        |  UNION ALL SELECT tenant_id FROM empty_tenant)""".stripMargin,
      """rs_members AS (
        |  SELECT DISTINCT 'tenant' || substr(volume, 4, 10) AS tenant_id,
        |    owner AS user_principal, owner = 'clerk0' AS is_admin
        |  FROM objects)""".stripMargin,
      """rs_expected_policies AS (
        |  SELECT tenant_id || s AS name
        |  FROM rs_tenants, (VALUES ('-VolumeAccess'), ('-BucketAccess'))
        |    v(s))""".stripMargin,
      O.values("rs_rpolicies", T.rangerPolicyRows),
      """rs_om_roles AS (
        |  SELECT s.role_name,
        |    coalesce(m.om_set, CAST([] AS VARCHAR[])) AS om_set
        |  FROM (
        |    SELECT tenant_id || r AS role_name
        |    FROM (SELECT DISTINCT tenant_id FROM rs_members),
        |      (VALUES ('-UserRole'), ('-AdminRole')) v(r)) s
        |  LEFT JOIN (
        |    SELECT role_name,
        |      list_sort(list(DISTINCT user_principal)) AS om_set
        |    FROM (
        |      SELECT tenant_id || '-UserRole' AS role_name, user_principal
        |      FROM rs_members
        |      UNION ALL
        |      SELECT tenant_id || '-AdminRole', user_principal
        |      FROM rs_members WHERE is_admin)
        |    GROUP BY 1) m ON s.role_name = m.role_name)""".stripMargin,
      O.values("rs_rrole_rows", T.rangerRoleRows),
      """rs_rroles AS (
        |  SELECT role_name,
        |    list_sort(list(DISTINCT user_principal)) AS ranger_set
        |  FROM rs_rrole_rows
        |  GROUP BY 1)""".stripMargin),

    "q_list_tenants" -> O.withCtes(
      """SELECT 'tenant' || substr(volume, 4, 10) AS tenant_id, volume,
        |  bucket_count, used_bytes
        |FROM volumes ORDER BY tenant_id""".stripMargin,
      O.objects, O.buckets, O.volumes),

    "q_tenant_user_info" -> O.withCtes(
      """SELECT DISTINCT
        |  'tenant' || substr(volume, 4, 10) || '$' || owner AS access_id,
        |  'tenant' || substr(volume, 4, 10) AS tenant_id,
        |  owner AS user_principal
        |FROM objects WHERE owner = 'clerk1'
        |ORDER BY access_id""".stripMargin, O.objects),

    // AssignUserAccessId ladder in the reference's branch order.
    "q_tenant_assign" -> O.withCtes(
      """SELECT r.tenant_id, r.user_principal, r.access_id,
        |  CASE WHEN length(r.access_id) >= 100 THEN 'INVALID_ACCESS_ID'
        |       WHEN r.user_principal LIKE '%$%' THEN 'INVALID_TENANT_USERNAME'
        |       WHEN r.tenant_id LIKE '%$%' THEN 'INVALID_TENANT_ID'
        |       WHEN t.tenant_id IS NULL THEN 'TENANT_NOT_FOUND'
        |       WHEN i.access_id IS NOT NULL OR u.user_principal IS NOT NULL
        |         THEN 'TENANT_USER_ACCESS_ID_ALREADY_EXISTS'
        |       ELSE 'ASSIGNED' END AS decision
        |FROM assign_reqs r
        |LEFT JOIN (
        |  SELECT DISTINCT 'tenant' || substr(volume, 4, 10) AS tenant_id
        |  FROM objects) t ON r.tenant_id = t.tenant_id
        |LEFT JOIN (
        |  SELECT DISTINCT
        |    'tenant' || substr(volume, 4, 10) || '$' || owner AS access_id
        |  FROM objects) i ON r.access_id = i.access_id
        |LEFT JOIN (
        |  SELECT DISTINCT 'tenant' || substr(volume, 4, 10) AS tenant_id,
        |    owner AS user_principal
        |  FROM objects) u ON r.tenant_id = u.tenant_id
        |  AND r.user_principal = u.user_principal
        |ORDER BY r.tenant_id, r.user_principal, r.access_id""".stripMargin,
      O.objects, O.values("assign_reqs", T.assignRequestRows)),

    "q_locations_explode" -> O.withCtes(
      s"""SELECT key, data_size, container_id,
         |  object_id * 100 + i AS local_id,
         |  i * ${graft.core.Tables.LocChunkBytes} AS "offset",
         |  least(${graft.core.Tables.LocChunkBytes}, data_size - i * ${graft.core.Tables.LocChunkBytes}) AS length
         |FROM (
         |  SELECT key, data_size, container_id, object_id,
         |    unnest(generate_series(0, (data_size - 1) // ${graft.core.Tables.LocChunkBytes})) AS i
         |  FROM objects)
         |ORDER BY key, data_size, "offset"""".stripMargin, O.objects),

    "q_conditional_read" -> O.withCtes(
      s"""SELECT volume, bucket, key, etag, modification_time,
         |  CASE WHEN modification_time > 870000000000 THEN '412'
         |       WHEN etag = '${md5Hex("warehouse/N/1/1.dat")}' THEN '304'
         |       ELSE '200' END AS status
         |FROM objects
         |ORDER BY volume, bucket, key, modification_time""".stripMargin,
      O.objects),

    "q_filter_dsl" -> O.withCtes(
      """SELECT volume, bucket, key, data_size, tag_flag
        |FROM objects
        |WHERE data_size > 50000 AND tag_flag = 'R'
        |  AND regexp_matches(key, '^warehouse/R/1')
        |ORDER BY volume, bucket, key, data_size""".stripMargin, O.objects),

    // Commit-log closed forms: the synthetic write workload creates every
    // key @1, then churns ONLY keys with (object_id//10)%10=0 (~10% of the
    // namespace): v∈{3,6} overwrite ×2 @2; v=4 delete @3; v=5 rename @3/@4.
    // The latest-wins fold has a per-key closed form over the grouped
    // objects (dup fixture rows collapse to max size).
    "q_write_apply" -> O.withCtes(
      """SELECT volume, bucket,
        |  CASE WHEN version = 5 AND churn THEN key || '.mv' ELSE key END AS key,
        |  object_id,
        |  CASE WHEN version IN (3, 6) AND churn THEN mx * 2 ELSE mx END AS data_size
        |FROM (
        |  SELECT volume, bucket, key, object_id, version,
        |    (object_id // 10) % 10 = 0 AS churn, max(data_size) AS mx
        |  FROM objects GROUP BY 1, 2, 3, 4, 5, 6)
        |WHERE NOT (version = 4 AND churn)
        |ORDER BY volume, bucket, key, data_size""".stripMargin, O.objects),

    // DELETE events exist exactly for churned version ∈ {4, 5} rows (see
    // CommitLog synthesizeLog), giving the trash / reachability closed forms.
    "q_trash_list" -> O.withCtes(
      """SELECT volume, bucket, key, count(*) AS n_deleted,
        |  CAST(sum(data_size) AS BIGINT) AS reclaim_bytes
        |FROM objects
        |WHERE version IN (4, 5) AND (object_id // 10) % 10 = 0
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin, O.objects),

    "q_deleted_referenced" -> O.withCtes(
      """SELECT volume, bucket, key, object_id, container_id, data_size
        |FROM objects
        |WHERE version IN (4, 5) AND (object_id // 10) % 10 = 0
        |  AND container_id % 97 <> 0
        |ORDER BY volume, bucket, key, object_id, data_size""".stripMargin,
      O.objects),

    "q_salted_volume_bytes" -> O.withCtes(
      """SELECT volume, CAST(sum(data_size) AS BIGINT) AS total_data_size,
        |  count(*) AS cnt
        |FROM objects GROUP BY 1 ORDER BY 1""".stripMargin, O.objects),

    "q_write_snapshot_diff" -> O.withCtes(
      """SELECT coalesce(a.object_id, b.object_id) AS object_id,
        |  coalesce(a.old_key, '') AS old_key,
        |  coalesce(a.old_size, -1) AS old_size,
        |  coalesce(b.new_key, '') AS new_key,
        |  coalesce(b.new_size, -1) AS new_size,
        |  CASE WHEN a.old_key IS NULL THEN 'CREATE'
        |       WHEN b.new_key IS NULL THEN 'DELETE'
        |       WHEN a.old_key <> b.new_key THEN 'RENAME'
        |       WHEN a.old_size <> b.new_size THEN 'MODIFY'
        |       ELSE 'UNCHANGED' END AS diff_type
        |FROM (SELECT object_id, key AS old_key, data_size AS old_size FROM s1d) a
        |FULL OUTER JOIN (SELECT object_id, key AS new_key, data_size AS new_size FROM s2d) b
        |  ON a.object_id = b.object_id
        |WHERE NOT (a.old_key IS NOT NULL AND b.new_key IS NOT NULL
        |  AND a.old_key = b.new_key AND a.old_size = b.new_size)
        |ORDER BY object_id""".stripMargin,
      O.objects,
      O.writeGroups,
      """s1d AS (
        |  SELECT key, object_id, mx AS data_size FROM wgrp
        |  QUALIFY row_number() OVER (
        |    PARTITION BY object_id ORDER BY mx DESC, key) = 1
        |)""".stripMargin,
      """s2d AS (
        |  SELECT CASE WHEN version = 5 AND churn THEN key || '.mv' ELSE key END AS key,
        |    object_id,
        |    CASE WHEN version IN (3, 6) AND churn THEN mx * 2 ELSE mx END AS data_size
        |  FROM wgrp WHERE NOT (version = 4 AND churn)
        |  QUALIFY row_number() OVER (
        |    PARTITION BY object_id ORDER BY data_size DESC, key) = 1
        |)""".stripMargin),

    // Snapshot catalog: s1 state = all created keys at original size (fold
    // at seq 1 = creates only); s2 state = the q_write_apply closed form.
    "q_list_snapshots" -> O.withCtes(
      """SELECT * FROM (
        |  SELECT 's1' AS name, CAST(1 AS BIGINT) AS seq,
        |    count(*) AS num_keys, CAST(sum(mx) AS BIGINT) AS total_bytes
        |  FROM wgrp
        |  UNION ALL
        |  SELECT 's2', CAST(4 AS BIGINT), count(*),
        |    CAST(sum(CASE WHEN version IN (3, 6) AND churn THEN mx * 2 ELSE mx END) AS BIGINT)
        |  FROM wgrp WHERE NOT (version = 4 AND churn)
        |) ORDER BY name""".stripMargin,
      O.objects,
      O.writeGroups),

    // Reclaim closed forms over the commit-log chain (s1 @1, s2 @4, AOS):
    // s2's deletedTable = the row-granular seq-3 deletes — present in s1
    // (the per-key fold winner mx) exactly when the row carries the max
    // size, so a non-max duplicate row is location-mismatched → reclaimable,
    // and a matched row is exclusive to the chain-head s1. The AOS band
    // (churn v ∈ {1,3,4}): v=1 shared with s1 (no charge), v=3 overwritten
    // → exclusive to s2, v=4 already gone from s2 → reclaimable.
    "q_snapshot_reclaim" -> O.withCtes(
      """SELECT owner, volume, bucket, key, object_id, data_size,
        |  reclaimable, exclusive_to
        |FROM (
        |  SELECT 's2' AS owner, o.volume, o.bucket, o.key, o.object_id,
        |    o.data_size, o.data_size <> w.mx AS reclaimable,
        |    CASE WHEN o.data_size = w.mx THEN 's1' END AS exclusive_to
        |  FROM objects o
        |  JOIN wgrp w ON o.volume = w.volume AND o.bucket = w.bucket
        |    AND o.key = w.key
        |  WHERE o.version IN (4, 5) AND (o.object_id // 10) % 10 = 0
        |  UNION ALL
        |  SELECT 'AOS', volume, bucket, key, object_id,
        |    CASE WHEN version = 3 THEN mx * 2 ELSE mx END,
        |    version = 4,
        |    CASE WHEN version = 3 THEN 's2' END
        |  FROM wgrp WHERE churn AND version IN (1, 3, 4))
        |ORDER BY owner, volume, bucket, key, data_size""".stripMargin,
      O.objects,
      O.writeGroups),

    // Purge pass: reclaimable rows only (band-1 non-max duplicate rows +
    // the AOS v=4 band), key-ordered ('AOS' sorts before 's2'), capped at
    // 500 keys, rolled up per bucket with the chunk-layout block count.
    "q_purge_plan" -> O.withCtes(
      s"""SELECT volume, bucket, count(*) AS purged_namespace,
         |  CAST(sum(data_size) AS BIGINT) AS purged_bytes,
         |  CAST(sum(CASE WHEN data_size <= 0 THEN 0
         |    ELSE (data_size - 1) // ${graft.core.Tables.LocChunkBytes} + 1
         |    END) AS BIGINT) AS purged_blocks
         |FROM (
         |  SELECT * FROM (
         |    SELECT 's2' AS owner, o.volume, o.bucket, o.key, o.data_size
         |    FROM objects o
         |    JOIN wgrp w ON o.volume = w.volume AND o.bucket = w.bucket
         |      AND o.key = w.key
         |    WHERE o.version IN (4, 5) AND (o.object_id // 10) % 10 = 0
         |      AND o.data_size <> w.mx
         |    UNION ALL
         |    SELECT 'AOS', volume, bucket, key, mx
         |    FROM wgrp WHERE churn AND version = 4)
         |  ORDER BY owner, volume, bucket, key, data_size
         |  LIMIT 500)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.objects,
      O.writeGroups),

    "q_snapshot_exclusive" -> O.withCtes(
      """SELECT exclusive_to AS snapshot, count(*) AS n_exclusive,
        |  CAST(sum(data_size) AS BIGINT) AS exclusive_bytes
        |FROM (
        |  SELECT o.data_size,
        |    CASE WHEN o.data_size = w.mx THEN 's1' END AS exclusive_to
        |  FROM objects o
        |  JOIN wgrp w ON o.volume = w.volume AND o.bucket = w.bucket
        |    AND o.key = w.key
        |  WHERE o.version IN (4, 5) AND (o.object_id // 10) % 10 = 0
        |  UNION ALL
        |  SELECT CASE WHEN version = 3 THEN mx * 2 ELSE mx END,
        |    CASE WHEN version = 3 THEN 's2' END
        |  FROM wgrp WHERE churn AND version IN (1, 3, 4))
        |WHERE exclusive_to IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      O.objects,
      O.writeGroups),

    // Deleted-dir reclaim: a dir is referenced by the previous snapshot iff
    // some key alive at the cut has it as a strict ancestor prefix.
    "q_reclaim_dirs" -> O.withCtes(
      s"""SELECT dd.volume, dd.bucket, dd.dir, dd.deleted_ms,
         |  p.dir IS NULL AS reclaimable
         |FROM deleted_dirs dd
         |LEFT JOIN prev_dirs p ON dd.volume = p.volume
         |  AND dd.bucket = p.bucket AND dd.dir = p.dir
         |ORDER BY dd.volume, dd.bucket, dd.dir""".stripMargin,
      O.objects, O.objectsMixed, O.deletedDirs,
      s"""prev_dirs AS (
         |  SELECT DISTINCT volume, bucket,
         |    array_to_string(list_slice(string_split(key, '/'), 1, d), '/') AS dir
         |  FROM (
         |    SELECT *, unnest(generate_series(1,
         |      least(len(string_split(key, '/')) - 1,
         |            ${Aggregates.MaxAncestorDepth}))) AS d
         |    FROM objects_mixed
         |    WHERE creation_time <= ${graft.core.Tables.SnapCut1Ms})
         |)""".stripMargin),

    // SstFilteringService: a last-level file is prunable for a bucket iff
    // its [smallest, largest] prefix window excludes '/vol/bucket/'.
    "q_sst_filter" -> O.withCtes(
      """SELECT volume, bucket,
        |  count(*) AS n_files,
        |  CAST(sum(CASE WHEN level = 3 AND NOT ov THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
        |  CAST(sum(CASE WHEN ov THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_range,
        |  CAST(sum(CASE WHEN level <> 3 AND NOT ov THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_level,
        |  CAST(sum(CASE WHEN level = 3 AND NOT ov THEN n_keys ELSE 0 END) AS BIGINT) AS pruned_keys
        |FROM (
        |  SELECT b.volume, b.bucket, f.level, f.n_keys,
        |    substr(f.smallest_key, 1, length(b.pfx)) <= b.pfx
        |      AND b.pfx <= substr(f.largest_key, 1, length(b.pfx)) AS ov
        |  FROM sst_ns f
        |  CROSS JOIN (
        |    SELECT DISTINCT volume, bucket,
        |      '/' || volume || '/' || bucket || '/' AS pfx
        |    FROM objects) b)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      O.objects, O.sstNamespaceFiles),

    // Rename-entry reclaim: the same entries live in s2's frozen
    // renamedTable (probe s1 — old names still referenced) and the active
    // store's (probe s2 — rename already applied, no reference left).
    "q_reclaim_renames" -> O.withCtes(
      """SELECT owner, volume, bucket, object_id, orig_key, reclaimable
        |FROM (
        |  SELECT 's2' AS owner, e.volume, e.bucket, e.object_id,
        |    e.orig_key, s1k.key IS NULL AS reclaimable
        |  FROM entries e LEFT JOIN s1keys s1k ON e.volume = s1k.volume
        |    AND e.bucket = s1k.bucket AND e.orig_key = s1k.key
        |  UNION ALL
        |  SELECT 'AOS', e.volume, e.bucket, e.object_id, e.orig_key,
        |    s2k.key IS NULL
        |  FROM entries e LEFT JOIN s2keys s2k ON e.volume = s2k.volume
        |    AND e.bucket = s2k.bucket AND e.orig_key = s2k.key)
        |ORDER BY owner, volume, bucket, orig_key, object_id""".stripMargin,
      O.objects,
      O.writeGroups,
      """entries AS (
        |  SELECT DISTINCT volume, bucket, object_id, key AS orig_key
        |  FROM objects
        |  WHERE version = 5 AND (object_id // 10) % 10 = 0
        |)""".stripMargin,
      """s1keys AS (SELECT DISTINCT volume, bucket, key FROM objects)""",
      """s2keys AS (
        |  SELECT volume, bucket,
        |    CASE WHEN version = 5 AND churn THEN key || '.mv' ELSE key END AS key
        |  FROM wgrp WHERE NOT (version = 4 AND churn)
        |)""".stripMargin),

    // CopyObject decision table: source looked up FIRST (missing source
    // wins over self-copy checks), self-copy w/o metadata change illegal,
    // storage-class self-copy allowed, copies carry the source ETag.
    // UploadPartCopy mirror: header parse → source probes → range →
    // time preconditions → upload probe.
    "q_copy_part" -> O.withCtes(
      """SELECT req_id, bucket, key, upload_id, part_number, decision,
        |  CAST(CASE WHEN decision = 'COPIED' THEN
        |    CASE WHEN r_start IS NOT NULL THEN r_end - r_start + 1
        |      ELSE src_size END ELSE 0 END AS BIGINT) AS copied_length,
        |  CASE WHEN decision = 'COPIED'
        |    THEN md5(src_etag || '-p' || part_number)
        |    ELSE '' END AS part_etag
        |FROM (
        |  SELECT p.req_id, p.bucket, p.key, p.upload_id, p.part_number,
        |    p.r_start, p.r_end, s.size AS src_size, s.etag AS src_etag,
        |    CASE WHEN b.bucket IS NULL THEN 'NO_SUCH_BUCKET'
        |      WHEN p.slash_pos = 0 THEN 'INVALID_ARGUMENT'
        |      WHEN sb.src_bucket IS NULL THEN 'NO_SUCH_BUCKET'
        |      WHEN s.etag IS NULL THEN 'NO_SUCH_KEY'
        |      WHEN p.range_bad THEN 'INVALID_ARGUMENT'
        |      WHEN p.r_start IS NOT NULL AND (p.r_start > p.r_end
        |        OR p.r_end >= s.size) THEN 'INVALID_RANGE'
        |      WHEN NOT (p.ifmod_eff <= s.mtime_ms
        |        AND s.mtime_ms <= p.ifunmod_eff) THEN 'PRECOND_FAILED'
        |      WHEN u.upload_id IS NULL THEN 'NO_SUCH_UPLOAD'
        |      ELSE 'COPIED' END AS decision
        |  FROM cp_parsed p
        |  LEFT JOIN (SELECT DISTINCT volume, bucket FROM buckets) b
        |    ON p.volume = b.volume AND p.bucket = b.bucket
        |  LEFT JOIN (SELECT DISTINCT bucket AS src_bucket FROM cp_src) sb
        |    ON p.src_bucket = sb.src_bucket
        |  LEFT JOIN cp_src s ON p.src_bucket = s.bucket
        |    AND p.src_key = s.key
        |  LEFT JOIN cp_store u ON p.volume = u.volume
        |    AND p.bucket = u.bucket AND p.key = u.key
        |    AND p.upload_id = u.upload_id)
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets,
      O.values("cp_src", T.copyPartSourceRows),
      O.values("cp_store", T.mpuCompleteStoreRows),
      O.values("cp_reqs", T.copyPartRequestRows),
      """cp_parsed AS (
        |  SELECT req_id, volume, bucket, key, upload_id, part_number,
        |    hdr, instr(hdr, '/') AS slash_pos,
        |    CASE WHEN instr(hdr, '/') > 0
        |      THEN substr(hdr, 1, instr(hdr, '/') - 1) ELSE '' END
        |      AS src_bucket,
        |    CASE WHEN instr(hdr, '/') > 0
        |      THEN replace(substr(hdr, instr(hdr, '/') + 1), '%20', ' ')
        |      ELSE '' END AS src_key,
        |    range_header <> '' AND
        |      regexp_extract(range_header, '^bytes=(\d+)-(\d+)$', 1) = ''
        |      AS range_bad,
        |    CASE WHEN regexp_extract(range_header,
        |        '^bytes=(\d+)-(\d+)$', 1) <> ''
        |      THEN CAST(regexp_extract(range_header,
        |        '^bytes=(\d+)-(\d+)$', 1) AS BIGINT) END AS r_start,
        |    CASE WHEN regexp_extract(range_header,
        |        '^bytes=(\d+)-(\d+)$', 2) <> ''
        |      THEN CAST(regexp_extract(range_header,
        |        '^bytes=(\d+)-(\d+)$', 2) AS BIGINT) END AS r_end,
        |    CASE WHEN ifmod_ms >= 0 AND ifmod_ms <= 1700000000000
        |      THEN ifmod_ms ELSE -9223372036854775807 END AS ifmod_eff,
        |    CASE WHEN ifunmod_ms >= 0 AND ifunmod_ms <= 1700000000000
        |      THEN ifunmod_ms ELSE 9223372036854775807 END
        |      AS ifunmod_eff
        |  FROM (
        |    SELECT *, CASE WHEN starts_with(copy_header, '/')
        |      THEN substr(copy_header, 2) ELSE copy_header END AS hdr
        |    FROM cp_reqs))""".stripMargin),

    "q_copy_object" -> O.withCtes(
      """SELECT volume, bucket, src_key, dst_key, status,
        |  CASE WHEN status LIKE 'COPIED%' THEN src_etag ELSE '' END AS etag,
        |  CASE WHEN status LIKE 'COPIED%' THEN src_size ELSE -1 END AS size
        |FROM (
        |  SELECT r.volume, r.bucket, r.src_key, r.dst_key,
        |    s.src_etag, s.src_size,
        |    CASE WHEN s.src_etag IS NULL THEN 'ERR_NO_SUCH_KEY'
        |         WHEN r.dst_key = r.src_key AND r.storage_class IS NULL
        |           THEN 'ERR_INVALID_REQUEST'
        |         WHEN r.dst_key = r.src_key THEN 'COPIED_SELF'
        |         ELSE 'COPIED' END AS status
        |  FROM copy_requests r
        |  LEFT JOIN src s ON s.volume = r.volume AND s.bucket = r.bucket
        |    AND s.src_key = r.src_key)
        |ORDER BY volume, bucket, src_key, dst_key, status""".stripMargin,
      O.objects, O.copyRequests,
      """src AS (
        |  SELECT volume, bucket, key AS src_key, data_size AS src_size,
        |    etag AS src_etag
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY volume, bucket, key
        |          ORDER BY version DESC, data_size DESC) AS rn
        |        FROM objects o
        |        WHERE EXISTS (SELECT 1 FROM copy_requests r
        |          WHERE r.volume = o.volume AND r.bucket = o.bucket
        |            AND r.src_key = o.key))
        |  WHERE rn = 1
        |)""".stripMargin),

    // PutObjectTagging: per-tag ladder in list order (first failing tag
    // decides), then the count limit, then OM bucket/key existence —
    // mirrors EndpointBase.validateAndGetTagging + the OM request.
    "q_put_object_tagging" -> O.withCtes(
      """SELECT r.req_id, r.volume, r.bucket, r.key,
        |  coalesce(c.tag_count, 0) AS tag_count,
        |  coalesce(f.first_tag_err,
        |    CASE WHEN c.tag_count > 10 THEN 'TOO_MANY_TAGS' END,
        |    CASE WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND' END,
        |    CASE WHEN k.key IS NULL THEN 'KEY_NOT_FOUND' END,
        |    'APPLIED') AS decision
        |FROM tag_reqs r
        |LEFT JOIN (SELECT req_id, count(*) AS tag_count
        |           FROM tag_entries GROUP BY 1) c USING (req_id)
        |LEFT JOIN (SELECT req_id, arg_min(eff_err, pos) AS first_tag_err
        |           FROM per_tag WHERE eff_err IS NOT NULL GROUP BY 1) f
        |  USING (req_id)
        |LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |LEFT JOIN (SELECT DISTINCT volume, bucket, key FROM objects) k
        |  ON r.volume = k.volume AND r.bucket = k.bucket AND r.key = k.key
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets,
      """tag_reqs AS (
        |  SELECT req_id, cls,
        |    volume,
        |    CASE WHEN probe % 13 = 3 THEN 'no-such-bucket'
        |         ELSE split_part(bk, '|', 1) END AS bucket,
        |    CASE WHEN probe % 7 = 2 THEN split_part(bk, '|', 2) || '.nope'
        |         ELSE split_part(bk, '|', 2) END AS key
        |  FROM (
        |    SELECT object_id AS req_id,
        |      (object_id // 1010) % 10 AS cls,
        |      (object_id // 101) AS probe,
        |      min(volume) AS volume,
        |      min(bucket || '|' || key) AS bk
        |    FROM objects WHERE object_id % 101 = 0
        |    GROUP BY 1, 2, 3))""".stripMargin,
      """tag_entries AS (
        |  SELECT req_id, pos,
        |    CASE WHEN cls = 1 AND pos = 2 THEN ''
        |         WHEN cls = 2 AND pos = 1 THEN 'aws:source'
        |         WHEN cls = 3 AND pos = 2 THEN repeat('k', 129)
        |         WHEN cls = 5 AND pos = 2 THEN 'bad#key'
        |         WHEN cls = 7 AND pos = 3 THEN 'env1'
        |         ELSE 'env' || pos END AS tag_key,
        |    CASE WHEN cls = 4 AND pos = 3 THEN repeat('v', 257)
        |         WHEN cls = 6 AND pos = 2 THEN 'bad!value'
        |         WHEN cls = 9 AND pos = 2 THEN NULL
        |         ELSE 'v' || pos END AS tag_value
        |  FROM tag_reqs CROSS JOIN range(1, 12) t(pos)
        |  WHERE pos <= CASE WHEN cls = 8 THEN 11 ELSE 3 END)""".stripMargin,
      """per_tag AS (
        |  SELECT req_id, pos,
        |    coalesce(
        |      CASE WHEN tag_key = '' THEN 'EMPTY_KEY'
        |        WHEN tag_key LIKE 'aws:%' THEN 'AWS_PREFIX'
        |        WHEN tag_value IS NULL THEN 'VALUE_MISSING'
        |        WHEN length(tag_key) > 128 THEN 'KEY_TOO_LONG'
        |        WHEN length(tag_value) > 256 THEN 'VALUE_TOO_LONG'
        |        WHEN NOT regexp_matches(tag_key, '^[a-zA-Z0-9 _.:/=+-]*$')
        |          THEN 'KEY_PATTERN'
        |        WHEN NOT regexp_matches(tag_value, '^[a-zA-Z0-9 _.:/=+-]*$')
        |          THEN 'VALUE_PATTERN' END,
        |      CASE WHEN row_number() OVER (
        |          PARTITION BY req_id, tag_key ORDER BY pos) > 1
        |        THEN 'DUPLICATE_KEY' END) AS eff_err
        |  FROM tag_entries)""".stripMargin),

    // PutBucketAcl mirror: probe order, first-failing grant, and the
    // two translation tables exploded over target/scope rows.
    "q_put_bucket_acl" -> O.withCtes(
      """SELECT req_id, volume, bucket, decision, pos, grantee,
        |  target, scope, rights
        |FROM (
        |  SELECT d.req_id, d.volume, d.bucket, d.decision,
        |    g.pos, g.grantee, t.target, t.scope,
        |    CASE WHEN t.src = 'B' THEN
        |      CASE g.s3_perm WHEN 'FULL_CONTROL' THEN 'ALL'
        |        WHEN 'WRITE_ACP' THEN 'WRITE_ACL'
        |        WHEN 'READ_ACP' THEN 'READ_ACL'
        |        WHEN 'WRITE' THEN 'CREATE,DELETE,WRITE'
        |        ELSE 'LIST,READ' END
        |    ELSE
        |      CASE g.s3_perm WHEN 'FULL_CONTROL'
        |          THEN 'READ,READ_ACL,WRITE,WRITE_ACL'
        |        WHEN 'WRITE_ACP' THEN 'READ,READ_ACL,WRITE_ACL'
        |        WHEN 'READ_ACP' THEN 'READ,READ_ACL'
        |        WHEN 'WRITE' THEN 'READ,WRITE'
        |        ELSE 'READ' END END AS rights
        |  FROM pba_decided d
        |  JOIN pba_grants g USING (req_id)
        |  CROSS JOIN (VALUES ('BUCKET', 'DEFAULT', 'B'),
        |    ('BUCKET', 'ACCESS', 'B'), ('VOLUME', 'ACCESS', 'V'))
        |    t(target, scope, src)
        |  WHERE d.decision = 'APPLIED'
        |  UNION ALL
        |  SELECT req_id, volume, bucket, decision, 0, '', '', '', ''
        |  FROM pba_decided WHERE decision <> 'APPLIED')
        |ORDER BY req_id, pos, grantee, target, scope""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.values("pba_reqs", T.putBucketAclRequestRows),
      O.values("pba_grants", T.putBucketAclGrantRows),
      """pba_decided AS (
        |  SELECT r.req_id, r.volume, r.bucket,
        |    CASE WHEN b.bucket IS NULL THEN 'NO_SUCH_BUCKET'
        |      WHEN r.expected_owner <> '' AND r.expected_owner <> v.owner
        |        THEN 'ACCESS_DENIED'
        |      ELSE coalesce(f.err, 'APPLIED') END AS decision
        |  FROM pba_reqs r
        |  LEFT JOIN buckets b ON r.volume = b.volume
        |    AND r.bucket = b.bucket
        |  LEFT JOIN volumes v ON r.volume = v.volume
        |  LEFT JOIN (
        |    SELECT req_id, arg_min(
        |      CASE WHEN malformed THEN 'INVALID_ARGUMENT'
        |        ELSE 'NOT_IMPLEMENTED' END, pos) AS err
        |    FROM pba_grants
        |    WHERE malformed OR grantee_type <> 'id'
        |    GROUP BY 1) f USING (req_id))""".stripMargin),

    // GetBucketAcl mirror: USER-only, first precedence match, bare READ
    // dropped.
    "q_get_bucket_acl" -> O.withCtes(
      """SELECT volume, bucket, name AS grantee, permission
        |FROM (
        |  SELECT volume, bucket, name,
        |    CASE WHEN list_contains(string_split(rights, ','), 'ALL')
        |        THEN 'FULL_CONTROL'
        |      WHEN list_contains(string_split(rights, ','), 'WRITE_ACL')
        |        THEN 'WRITE_ACP'
        |      WHEN list_contains(string_split(rights, ','), 'READ_ACL')
        |        THEN 'READ_ACP'
        |      WHEN list_contains(string_split(rights, ','), 'WRITE')
        |        AND list_contains(string_split(rights, ','), 'DELETE')
        |        AND list_contains(string_split(rights, ','), 'CREATE')
        |        THEN 'WRITE'
        |      WHEN list_contains(string_split(rights, ','), 'READ')
        |        AND list_contains(string_split(rights, ','), 'LIST')
        |        THEN 'READ' END AS permission
        |  FROM bacl_cat WHERE type = 'USER')
        |WHERE permission IS NOT NULL
        |ORDER BY volume, bucket, grantee, permission""".stripMargin,
      O.objects, O.buckets,
      """bacl_cat AS (
        |  SELECT volume, bucket,
        |    'admin' || substr(volume, 4, 10) AS name, 'USER' AS type,
        |    'ALL' AS rights
        |  FROM buckets
        |  UNION ALL
        |  SELECT volume, bucket, 'world', 'GROUP', 'LIST,READ'
        |  FROM buckets
        |  UNION ALL
        |  SELECT volume, bucket,
        |    'auditor' || (CAST(substr(bucket, 7, 10) AS BIGINT) % 3),
        |    'USER',
        |    CASE CAST(substr(bucket, 7, 10) AS BIGINT) % 5
        |      WHEN 0 THEN 'READ,WRITE_ACL'
        |      WHEN 1 THEN 'READ,READ_ACL'
        |      WHEN 2 THEN 'CREATE,DELETE,WRITE'
        |      WHEN 3 THEN 'LIST,READ'
        |      ELSE 'READ' END
        |  FROM buckets)""".stripMargin),

    // DeleteObjectTagging mirror: OM probes only, unconditional clear;
    // had_tags = the put ladder APPLIED to the same key (cls 0, clean
    // probes).
    "q_delete_object_tagging" -> O.withCtes(
      """SELECT r.req_id, r.volume, r.bucket, r.key,
        |  CASE WHEN b.bucket IS NULL THEN 'NO_SUCH_BUCKET'
        |       WHEN o.key IS NULL THEN 'NO_SUCH_KEY'
        |       ELSE 'DELETED' END AS decision,
        |  (b.bucket IS NOT NULL AND o.key IS NOT NULL
        |    AND t.key IS NOT NULL) AS had_tags
        |FROM dot_reqs r
        |LEFT JOIN (SELECT DISTINCT volume, bucket FROM objects) b
        |  ON r.volume = b.volume AND r.bucket = b.bucket
        |LEFT JOIN (SELECT DISTINCT volume, bucket, key FROM objects) o
        |  ON r.volume = o.volume AND r.bucket = o.bucket
        |    AND r.key = o.key
        |LEFT JOIN (SELECT volume, bucket, key FROM dot_reqs
        |           WHERE cls = 0 AND probe % 13 <> 3 AND probe % 7 <> 2) t
        |  ON r.volume = t.volume AND r.bucket = t.bucket
        |    AND r.key = t.key
        |ORDER BY r.req_id""".stripMargin,
      O.objects,
      """dot_reqs AS (
        |  SELECT req_id, (req_id // 1010) % 10 AS cls,
        |    (req_id // 101) AS probe, volume,
        |    CASE WHEN (req_id // 101) % 13 = 3 THEN 'no-such-bucket'
        |         ELSE split_part(bk, '|', 1) END AS bucket,
        |    CASE WHEN (req_id // 101) % 7 = 2
        |         THEN split_part(bk, '|', 2) || '.nope'
        |         ELSE split_part(bk, '|', 2) END AS key
        |  FROM (
        |    SELECT object_id AS req_id, min(volume) AS volume,
        |      min(bucket || '|' || key) AS bk
        |    FROM objects WHERE object_id % 101 = 0 GROUP BY 1))""".stripMargin),

    // DeleteBucketTagging mirror: bucket probe only; had_tags = the put
    // ladder APPLIED (cls 0 or the 50-tag boundary pass, real bucket).
    "q_delete_bucket_tagging" -> O.withCtes(
      """SELECT r.req_id, r.volume, r.bucket,
        |  CASE WHEN b.bucket IS NULL THEN 'NO_SUCH_BUCKET'
        |       ELSE 'DELETED' END AS decision,
        |  (b.bucket IS NOT NULL AND t.bucket IS NOT NULL) AS had_tags
        |FROM bt_reqs r
        |LEFT JOIN (SELECT DISTINCT volume, bucket FROM objects) b
        |  ON r.volume = b.volume AND r.bucket = b.bucket
        |LEFT JOIN (SELECT volume, bucket FROM bt_reqs
        |           WHERE cls IN (0, 4) AND req_id < 9000) t
        |  ON r.volume = t.volume AND r.bucket = t.bucket
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets,
      O.bucketTagRequests),

    // PutBucketTagging: same per-tag ladder, 50-tag bucket cap, bucket
    // existence only.
    "q_put_bucket_tagging" -> O.withCtes(
      """SELECT r.req_id, r.volume, r.bucket,
        |  coalesce(c.tag_count, 0) AS tag_count,
        |  coalesce(f.first_tag_err,
        |    CASE WHEN c.tag_count > 50 THEN 'TOO_MANY_TAGS' END,
        |    CASE WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND' END,
        |    'APPLIED') AS decision
        |FROM bt_reqs r
        |LEFT JOIN (SELECT req_id, count(*) AS tag_count
        |           FROM bt_entries GROUP BY 1) c USING (req_id)
        |LEFT JOIN (SELECT req_id, arg_min(eff_err, pos) AS first_tag_err
        |           FROM bt_per_tag WHERE eff_err IS NOT NULL GROUP BY 1) f
        |  USING (req_id)
        |LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets,
      O.bucketTagRequests,
      """bt_entries AS (
        |  SELECT req_id, pos,
        |    CASE WHEN cls = 2 AND pos = 1 THEN 'aws:team'
        |         WHEN cls = 3 AND pos = 3 THEN 'env1'
        |         WHEN cls = 5 AND pos = 2 THEN ''
        |         ELSE 'env' || pos END AS tag_key,
        |    'v' || pos AS tag_value
        |  FROM bt_reqs CROSS JOIN range(1, 52) t(pos)
        |  WHERE pos <= CASE WHEN cls = 1 THEN 51
        |                    WHEN cls = 4 THEN 50 ELSE 3 END)""".stripMargin,
      """bt_per_tag AS (
        |  SELECT req_id, pos,
        |    coalesce(
        |      CASE WHEN tag_key = '' THEN 'EMPTY_KEY'
        |        WHEN tag_key LIKE 'aws:%' THEN 'AWS_PREFIX'
        |        WHEN tag_value IS NULL THEN 'VALUE_MISSING'
        |        WHEN length(tag_key) > 128 THEN 'KEY_TOO_LONG'
        |        WHEN length(tag_value) > 256 THEN 'VALUE_TOO_LONG'
        |        WHEN NOT regexp_matches(tag_key, '^[a-zA-Z0-9 _.:/=+-]*$')
        |          THEN 'KEY_PATTERN'
        |        WHEN NOT regexp_matches(tag_value,
        |          '^[a-zA-Z0-9 _.:/=+-]*$') THEN 'VALUE_PATTERN' END,
        |      CASE WHEN row_number() OVER (
        |          PARTITION BY req_id, tag_key ORDER BY pos) > 1
        |        THEN 'DUPLICATE_KEY' END) AS eff_err
        |  FROM bt_entries)""".stripMargin),

    // Lifecycle-configuration set ladder over the request/rule fixtures
    // (req 19 carries 1001 rules).
    "q_lifecycle_set" -> O.withCtes(
      """SELECT q.req_id, q.volume, q.bucket,
        |  coalesce(
        |    CASE WHEN NOT (length(q.volume) BETWEEN 3 AND 63
        |      AND regexp_matches(q.volume, '^[a-z0-9.-]+$')
        |      AND instr(q.volume, '..') = 0 AND instr(q.volume, '-.') = 0
        |      AND instr(q.volume, '.-') = 0
        |      AND NOT regexp_matches(q.volume, '^[0-9.]+$')
        |      AND substr(q.volume, 1, 1) NOT IN ('.', '-')
        |      AND substr(q.volume, length(q.volume), 1) NOT IN ('.', '-'))
        |      THEN 'INVALID_VOLUME_NAME' END,
        |    CASE WHEN NOT (length(q.bucket) BETWEEN 3 AND 63
        |      AND regexp_matches(q.bucket, '^[a-z0-9.-]+$')
        |      AND instr(q.bucket, '..') = 0 AND instr(q.bucket, '-.') = 0
        |      AND instr(q.bucket, '.-') = 0
        |      AND NOT regexp_matches(q.bucket, '^[0-9.]+$')
        |      AND substr(q.bucket, 1, 1) NOT IN ('.', '-')
        |      AND substr(q.bucket, length(q.bucket), 1) NOT IN ('.', '-'))
        |      THEN 'INVALID_BUCKET_NAME' END,
        |    CASE WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND' END,
        |    CASE WHEN rc.rule_count IS NULL THEN 'NO_RULES' END,
        |    CASE WHEN rc.rule_count > 1000 THEN 'TOO_MANY_RULES' END,
        |    CASE WHEN rc.distinct_ids < rc.rule_count
        |      THEN 'DUPLICATE_RULE_ID' END,
        |    fe.first_rule_err, 'SET') AS decision
        |FROM lc_reqs q
        |LEFT JOIN buckets b ON q.volume = b.volume AND q.bucket = b.bucket
        |LEFT JOIN (SELECT req_id, count(*) AS rule_count,
        |             count(DISTINCT rule_id) AS distinct_ids
        |           FROM lcerr GROUP BY 1) rc USING (req_id)
        |LEFT JOIN (SELECT req_id, arg_min(rule_err, rule_pos)
        |             AS first_rule_err
        |           FROM lcerr WHERE rule_err IS NOT NULL GROUP BY 1) fe
        |  USING (req_id)
        |ORDER BY q.req_id""".stripMargin,
      O.objects, O.buckets,
      O.values("lc_reqs", T.lcSetRequestRows),
      O.values("lc_rules", T.lcRuleEntryRows),
      """lcerr AS (
        |  SELECT r.req_id, r.rule_pos, r.rule_id,
        |    CASE WHEN length(r.rule_id) > 255 THEN 'ID_TOO_LONG'
        |      WHEN r.n_actions = 0 THEN 'NO_ACTION'
        |      WHEN r.n_expirations >= 1 AND
        |        ((r.exp_days IS NULL) = (r.exp_date_ms IS NULL))
        |        THEN 'EXP_DAYS_XOR_DATE'
        |      WHEN r.n_expirations >= 1 AND r.exp_days IS NOT NULL
        |        AND r.exp_days <= 0 THEN 'EXP_DAYS_NONPOSITIVE'
        |      WHEN r.n_expirations >= 1 AND r.exp_date_ms IS NOT NULL
        |        AND r.exp_date_ms % 86400000 <> 0
        |        THEN 'EXP_DATE_NOT_MIDNIGHT'
        |      WHEN r.n_expirations >= 1 AND r.exp_date_ms IS NOT NULL
        |        AND r.exp_date_ms < 790041600000 THEN 'EXP_DATE_PAST'
        |      WHEN b.layout = 'FSO'
        |        AND coalesce(r.prefix, r.filter_prefix) IS NOT NULL
        |        AND coalesce(r.prefix, r.filter_prefix) <> ''
        |        AND NOT ends_with(coalesce(r.prefix, r.filter_prefix), '/')
        |        THEN 'FSO_PREFIX_NO_SLASH'
        |      WHEN r.n_expirations > 1 THEN 'MULTIPLE_EXPIRATION'
        |      WHEN r.prefix IS NOT NULL AND (r.filter_prefix IS NOT NULL
        |        OR r.filter_tag_key IS NOT NULL OR r.filter_has_and)
        |        THEN 'PREFIX_AND_FILTER'
        |      WHEN r.prefix IS NULL AND NOT (r.filter_prefix IS NOT NULL
        |        OR r.filter_tag_key IS NOT NULL OR r.filter_has_and)
        |        THEN 'NO_PREFIX_OR_FILTER'
        |      WHEN length(r.prefix) > 1024 THEN 'PREFIX_TOO_LONG'
        |      WHEN r.prefix = '.Trash' OR starts_with(r.prefix, '.Trash/')
        |        THEN 'TRASH_PREFIX'
        |      WHEN b.layout = 'FSO' AND contains(r.prefix, '//')
        |        THEN 'FSO_PREFIX_INVALID'
        |      WHEN (CASE WHEN r.filter_prefix IS NOT NULL THEN 1 ELSE 0 END
        |          + CASE WHEN r.filter_tag_key IS NOT NULL THEN 1 ELSE 0 END
        |          + CASE WHEN r.filter_has_and THEN 1 ELSE 0 END) > 1
        |        THEN 'FILTER_MULTI'
        |      WHEN r.filter_tag_key IS NOT NULL AND (r.filter_tag_key = ''
        |        OR length(r.filter_tag_key) > 128
        |        OR length(r.filter_tag_value) > 256)
        |        THEN 'FILTER_TAG_INVALID' END AS rule_err
        |  FROM lc_rules r
        |  JOIN lc_reqs q USING (req_id)
        |  LEFT JOIN buckets b ON q.volume = b.volume
        |    AND q.bucket = b.bucket)""".stripMargin),

    // InitiateMPU ladder mirror: link staging, FSO ancestor-file guard,
    // replication preference chain.
    "q_mpu_initiate" -> O.withCtes(
      """SELECT req_id, resolved_volume, resolved_bucket, key, decision,
        |  CASE WHEN decision <> 'INITIATED' THEN ''
        |    WHEN requested_repl <> '' THEN requested_repl
        |    WHEN bucket_default <> '' THEN bucket_default
        |    ELSE 'RATIS/THREE' END AS effective_replication,
        |  CASE WHEN decision = 'INITIATED'
        |    THEN md5(resolved_volume || '|' || resolved_bucket || '|'
        |      || key || '|' || CAST(req_id AS VARCHAR))
        |    ELSE '' END AS upload_id
        |FROM (
        |  SELECT s.req_id, s.rv AS resolved_volume,
        |    s.rb AS resolved_bucket, s.key, s.requested_repl,
        |    coalesce(bx.bucket_default, '') AS bucket_default,
        |    CASE WHEN s.status = 'CYCLE' THEN 'LINK_LOOP'
        |      WHEN s.status = 'DANGLING' OR bx.rb IS NULL
        |        THEN 'BUCKET_NOT_FOUND'
        |      WHEN bx.layout = 'FSO' AND af.req_id IS NOT NULL
        |        THEN 'NOT_A_FILE'
        |      ELSE 'INITIATED' END AS decision
        |  FROM staged s
        |  LEFT JOIN bkt_ext bx ON s.rv = bx.rv AND s.rb = bx.rb
        |  LEFT JOIN anc_hits af ON s.req_id = af.req_id)
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets,
      """mi_base AS (
        |  SELECT req_id, (req_id // 1030) % 7 AS cls, volume0,
        |    split_part(bk, '|', 1) AS bucket0,
        |    split_part(bk, '|', 2) AS key0
        |  FROM (
        |    SELECT object_id AS req_id, min(volume) AS volume0,
        |      min(bucket || '|' || key) AS bk
        |    FROM objects WHERE object_id % 103 = 0 GROUP BY 1))""".stripMargin,
      """mi_reqs AS (
        |  SELECT req_id,
        |    CASE WHEN cls = 4 THEN 'vol1' WHEN cls = 5 THEN 'vol3'
        |         WHEN cls = 6 THEN 'vol0' ELSE volume0 END AS volume,
        |    CASE WHEN cls = 3 THEN 'no-such-bucket'
        |         WHEN cls = 4 THEN 'link-a'
        |         WHEN cls = 5 THEN 'link-broken'
        |         WHEN cls = 6 THEN 'link-cycle1'
        |         ELSE bucket0 END AS bucket,
        |    CASE WHEN cls = 2 THEN key0 || '/part.0' ELSE key0 END AS key,
        |    CASE WHEN cls = 1 THEN 'EC/rs-3-2-1024k' ELSE '' END
        |      AS requested_repl
        |  FROM mi_base)""".stripMargin,
      O.linkres,
      """staged AS (
        |  SELECT r.req_id, r.key, r.requested_repl,
        |    coalesce(l.rv0, r.volume) AS rv,
        |    coalesce(l.rb0, r.bucket) AS rb, l.status
        |  FROM mi_reqs r LEFT JOIN linkres l
        |    ON r.volume = l.volume AND r.bucket = l.bucket)""".stripMargin,
      """bkt_ext AS (
        |  SELECT volume AS rv, bucket AS rb, layout,
        |    CASE CAST(substr(bucket, 7, 10) AS BIGINT) % 3
        |      WHEN 0 THEN 'RATIS/THREE'
        |      WHEN 1 THEN 'EC/rs-3-2-1024k'
        |      ELSE '' END AS bucket_default
        |  FROM buckets)""".stripMargin,
      """anc_hits AS (
        |  SELECT DISTINCT s.req_id
        |  FROM staged s
        |  JOIN (SELECT DISTINCT volume, bucket, key FROM objects) o
        |    ON o.volume = s.rv AND o.bucket = s.rb
        |    AND s.key LIKE o.key || '/%')""".stripMargin),

    // CommitPart ladder: bucket → open-key(clientID) → multipartInfo →
    // blank-ETag → COMMITTED(+replaced_previous).
    "q_mpu_commit_part" -> O.withCtes(
      """SELECT req_id, volume, bucket, key, part_number, decision,
        |  (decision = 'COMMITTED' AND had_part) AS replaced_previous
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket, r.key, r.part_number,
        |    CASE WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND'
        |         WHEN o.client_id IS NULL THEN 'KEY_NOT_FOUND'
        |         WHEN i.upload_id IS NULL THEN 'NO_SUCH_MULTIPART_UPLOAD'
        |         WHEN r.etag IS NULL OR trim(r.etag) = ''
        |           THEN 'INVALID_REQUEST'
        |         ELSE 'COMMITTED' END AS decision,
        |    coalesce(p.part_number IS NOT NULL, FALSE) AS had_part
        |  FROM commit_reqs r
        |  LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |  LEFT JOIN (SELECT DISTINCT volume, bucket, key, client_id
        |             FROM mpu_open) o
        |    ON r.volume = o.volume AND r.bucket = o.bucket
        |    AND r.key = o.key AND r.client_id = o.client_id
        |  LEFT JOIN mpu_info i ON r.volume = i.volume
        |    AND r.bucket = i.bucket AND r.key = i.key
        |    AND r.upload_id = i.upload_id
        |  LEFT JOIN (SELECT DISTINCT upload_id,
        |               CAST(part_number AS INTEGER) AS part_number
        |             FROM multipart_parts) p
        |    ON r.upload_id = p.upload_id AND r.part_number = p.part_number)
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets, O.multipartParts,
      """mpu_open AS (
        |  SELECT DISTINCT
        |    'vol' || (l_orderkey % 4) AS volume,
        |    'bucket' || (l_orderkey % 10) AS bucket,
        |    'warehouse/mpu/' || l_orderkey || '.bin' AS key,
        |    l_orderkey AS order_key,
        |    CAST(l_linenumber AS INTEGER) AS part_number,
        |    l_orderkey * 100 + l_linenumber AS client_id
        |  FROM lineitem WHERE l_orderkey % 50 = 0)""".stripMargin,
      """mpu_info AS (
        |  SELECT 'vol' || (order_key % 4) AS volume,
        |    'bucket' || (order_key % 10) AS bucket,
        |    'warehouse/mpu/' || order_key || '.bin' AS key,
        |    upload_id
        |  FROM multipart_parts GROUP BY order_key, upload_id)""".stripMargin,
      """commit_reqs AS (
        |  SELECT order_key * 10 + part_number AS req_id,
        |    volume,
        |    CASE WHEN cls = 4 THEN 'no-such-bucket' ELSE bucket END
        |      AS bucket,
        |    key, order_key, part_number,
        |    CASE WHEN cls = 2 THEN md5('nope' || order_key)
        |         ELSE md5('upload' || order_key) END AS upload_id,
        |    CASE WHEN cls = 1 THEN client_id + 999983
        |         ELSE client_id END AS client_id,
        |    CASE WHEN cls IN (3, 4) THEN NULL
        |         ELSE md5('part' || order_key || '_' || part_number) END
        |      AS etag
        |  FROM (SELECT *, (order_key // 50 + part_number) % 5 AS cls
        |        FROM mpu_open))""".stripMargin),

    // AbortMultipartUpload ladder: bucket → multipartInfo → ABORTED with
    // the parts/bytes cleanup rollup (open-key miss is WARN-only).
    "q_mpu_abort" -> O.withCtes(
      """SELECT req_id, volume, bucket, key, decision,
        |  CASE WHEN decision = 'ABORTED' THEN coalesce(n_parts, 0)
        |       ELSE 0 END AS parts_removed,
        |  CASE WHEN decision = 'ABORTED' THEN coalesce(part_bytes, 0)
        |       ELSE 0 END AS bytes_released
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket, r.key,
        |    CASE WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND'
        |         WHEN i.upload_id IS NULL THEN 'NO_SUCH_MULTIPART_UPLOAD'
        |         ELSE 'ABORTED' END AS decision,
        |    p.n_parts, p.part_bytes
        |  FROM abort_reqs r
        |  LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |  LEFT JOIN mpu_info i ON r.volume = i.volume
        |    AND r.bucket = i.bucket AND r.key = i.key
        |    AND r.upload_id = i.upload_id
        |  LEFT JOIN (SELECT upload_id, count(*) AS n_parts,
        |               CAST(sum(size) AS BIGINT) AS part_bytes
        |             FROM multipart_parts GROUP BY 1) p
        |    ON r.upload_id = p.upload_id)
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets, O.multipartParts,
      """mpu_info AS (
        |  SELECT 'vol' || (order_key % 4) AS volume,
        |    'bucket' || (order_key % 10) AS bucket,
        |    'warehouse/mpu/' || order_key || '.bin' AS key,
        |    upload_id
        |  FROM multipart_parts GROUP BY order_key, upload_id)""".stripMargin,
      """abort_reqs AS (
        |  SELECT order_key AS req_id,
        |    'vol' || (order_key % 4) AS volume,
        |    CASE WHEN cls = 2 THEN 'no-such-bucket'
        |         ELSE 'bucket' || (order_key % 10) END AS bucket,
        |    'warehouse/mpu/' || order_key || '.bin' AS key,
        |    CASE WHEN cls = 1 THEN md5('nope' || order_key)
        |         ELSE md5('upload' || order_key) END AS upload_id
        |  FROM (SELECT order_key, (order_key // 50) % 3 AS cls
        |        FROM multipart_parts GROUP BY order_key))""".stripMargin),

    // CompleteMPU mirror: bucket → dir collision → store → empty list →
    // no stored parts → order scan → per-part walk (etag then size).
    "q_mpu_complete" -> O.withCtes(
      """SELECT req_id, volume, bucket, key, upload_id, decision,
        |  CASE WHEN decision = 'COMPLETED' THEN data_size_sum
        |    ELSE 0 END AS data_size,
        |  CASE WHEN decision = 'COMPLETED' THEN etag_of_etags
        |    ELSE '' END AS etag
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket, r.key, r.upload_id,
        |    a.data_size_sum, a.etag_of_etags,
        |    CASE WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND'
        |      WHEN d.dir IS NOT NULL THEN 'NOT_A_FILE'
        |      WHEN s.upload_id IS NULL
        |        THEN 'NO_SUCH_MULTIPART_UPLOAD_ERROR'
        |      WHEN a.req_id IS NULL THEN 'INVALID_REQUEST'
        |      WHEN coalesce(c.stored_parts, 0) = 0 THEN 'INVALID_PART'
        |      WHEN a.order_err_pos IS NOT NULL THEN 'INVALID_PART_ORDER'
        |      WHEN a.walk_err IS NOT NULL THEN a.walk_err
        |      ELSE 'COMPLETED' END AS decision
        |  FROM mc_reqs r
        |  LEFT JOIN (SELECT DISTINCT volume, bucket FROM buckets) b
        |    ON r.volume = b.volume AND r.bucket = b.bucket
        |  LEFT JOIN mc_dirs d ON r.volume = d.volume
        |    AND r.bucket = d.bucket AND r.key = d.dir
        |  LEFT JOIN mc_store s ON r.volume = s.volume
        |    AND r.bucket = s.bucket AND r.key = s.key
        |    AND r.upload_id = s.upload_id
        |  LEFT JOIN mc_counts c ON r.upload_id = c.upload_id
        |  LEFT JOIN mc_agg a ON r.req_id = a.req_id)
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets,
      O.values("mc_store", T.mpuCompleteStoreRows),
      O.values("mc_store_parts", T.mpuCompleteStorePartRows),
      O.values("mc_reqs", T.mpuCompleteRequestsCRows),
      O.values("mc_req_parts", T.mpuCompleteReqPartRows),
      O.values("mc_dirs", T.mpuCompleteDirRows),
      """mc_walk AS (
        |  SELECT p.req_id, p.pos, p.part_number, p.etag,
        |    lag(p.part_number) OVER (PARTITION BY p.req_id ORDER BY p.pos)
        |      AS prev_part,
        |    sp.etag AS om_etag, sp.size AS om_size,
        |    max(p.pos) OVER (PARTITION BY p.req_id) AS max_pos
        |  FROM mc_req_parts p
        |  JOIN mc_reqs r ON p.req_id = r.req_id
        |  LEFT JOIN mc_store_parts sp ON r.upload_id = sp.upload_id
        |    AND p.part_number = sp.part_number)""".stripMargin,
      """mc_agg AS (
        |  SELECT req_id, count(*) AS n_req_parts,
        |    min(CASE WHEN prev_part IS NOT NULL
        |      AND prev_part >= part_number THEN pos END) AS order_err_pos,
        |    arg_min(
        |      CASE WHEN om_etag IS NULL OR om_etag <> etag
        |        THEN 'INVALID_PART'
        |        WHEN pos <> max_pos AND om_size < 5242880
        |        THEN 'ENTITY_TOO_SMALL' END,
        |      CASE WHEN om_etag IS NULL OR om_etag <> etag
        |        OR (pos <> max_pos AND om_size < 5242880)
        |        THEN pos END) AS walk_err,
        |    CAST(sum(om_size) AS BIGINT) AS data_size_sum,
        |    md5(string_agg(etag, '' ORDER BY pos)) || '-' || count(*)
        |      AS etag_of_etags
        |  FROM mc_walk GROUP BY req_id)""".stripMargin,
      """mc_counts AS (
        |  SELECT upload_id, count(*) AS stored_parts
        |  FROM mc_store_parts GROUP BY 1)""".stripMargin),

    // CreateTenant ladder: '$' delimiter → tenant-exists → volume name →
    // volume-exists (force skips) → CREATED.
    "q_tenant_create" -> O.withCtes(
      """SELECT r.req_id, r.tenant_id, r.volume,
        |  CASE WHEN contains(r.tenant_id, '$') THEN 'INVALID_VOLUME_NAME'
        |    WHEN t.tenant_id IS NOT NULL THEN 'TENANT_ALREADY_EXISTS'
        |    WHEN NOT (length(r.volume) BETWEEN 3 AND 63
        |      AND regexp_matches(r.volume, '^[a-z0-9._-]+$')
        |      AND instr(r.volume, '..') = 0 AND instr(r.volume, '-.') = 0
        |      AND instr(r.volume, '.-') = 0
        |      AND NOT regexp_matches(r.volume, '^[0-9.]+$')
        |      AND substr(r.volume, 1, 1) NOT IN ('.', '-')
        |      AND substr(r.volume, length(r.volume), 1) NOT IN ('.', '-'))
        |      THEN 'INVALID_VOLUME_NAME'
        |    WHEN v.volume IS NOT NULL AND NOT r.force_when_volume_exists
        |      THEN 'VOLUME_ALREADY_EXISTS'
        |    ELSE 'CREATED' END AS decision
        |FROM t_create_reqs r
        |LEFT JOIN (SELECT DISTINCT 'tenant' || substr(volume, 4, 10)
        |             AS tenant_id FROM volumes) t USING (tenant_id)
        |LEFT JOIN (SELECT DISTINCT volume FROM volumes) v USING (volume)
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.values("t_create_reqs", T.tenantCreateRequestRows)),

    // DeleteTenant ladder — not-empty precedes existence (preExecute
    // order), so a missing tenant with live access ids is NOT_EMPTY.
    "q_tenant_delete" -> O.withCtes(
      """SELECT r.req_id, r.tenant_id,
        |  CASE WHEN h.tenant_id IS NOT NULL THEN 'TENANT_NOT_EMPTY'
        |    WHEN t.tenant_id IS NULL THEN 'TENANT_NOT_FOUND'
        |    ELSE 'DELETED' END AS decision
        |FROM t_delete_reqs r
        |LEFT JOIN (SELECT DISTINCT 'tenant' || substr(volume, 4, 10)
        |             AS tenant_id FROM volumes
        |           UNION ALL SELECT tenant_id FROM empty_tenant) t
        |  USING (tenant_id)
        |LEFT JOIN (SELECT DISTINCT tenant_id FROM t_access_cat) h
        |  USING (tenant_id)
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets, O.volumes, O.tenantAccessCat,
      O.values("empty_tenant", T.emptyTenantRows),
      O.values("t_delete_reqs", T.tenantDeleteRequestRows)),

    // RevokeUserAccessId ladder: id-exists → assigned-to-tenant → admin
    // guard → REVOKED.
    "q_tenant_revoke" -> O.withCtes(
      """SELECT r.req_id, r.access_id,
        |  CASE WHEN c.access_id IS NULL THEN 'ACCESS_ID_NOT_FOUND'
        |    WHEN c.tenant_id IS NULL THEN 'TENANT_NOT_FOUND'
        |    WHEN c.is_admin THEN 'PERMISSION_DENIED'
        |    ELSE 'REVOKED' END AS decision
        |FROM t_revoke_reqs r
        |LEFT JOIN t_access_cat c USING (access_id)
        |ORDER BY r.req_id""".stripMargin,
      O.objects,
      O.tenantAccessCat,
      O.values("t_revoke_reqs", T.tenantRevokeRequestRows)),

    // TenantAssignAdmin ladder mirror: inference via the access catalog,
    // then tenant existence, then membership.
    "q_tenant_assign_admin" -> O.withCtes(
      """SELECT r.req_id,
        |  coalesce(CASE WHEN r.tenant_id = '' THEN c.tenant_id
        |    ELSE r.tenant_id END, '') AS tenant_id,
        |  r.access_id,
        |  CASE WHEN r.tenant_id = '' AND c.access_id IS NULL
        |      THEN 'TENANT_NOT_FOUND'
        |    WHEN t.tenant_id IS NULL THEN 'TENANT_NOT_FOUND'
        |    WHEN c.access_id IS NULL THEN 'ACCESS_ID_NOT_FOUND'
        |    WHEN c.tenant_id <> r.tenant_id AND r.tenant_id <> ''
        |      THEN 'INVALID_TENANT_ID'
        |    WHEN r.delegated THEN 'ASSIGNED_DELEGATED'
        |    ELSE 'ASSIGNED' END AS decision
        |FROM ta_reqs r
        |LEFT JOIN t_access_cat c USING (access_id)
        |LEFT JOIN (SELECT DISTINCT 'tenant' || substr(volume, 4, 10)
        |    AS tenant_id FROM objects) t
        |  ON t.tenant_id = CASE WHEN r.tenant_id = '' THEN c.tenant_id
        |    ELSE r.tenant_id END
        |ORDER BY r.req_id""".stripMargin,
      O.objects,
      O.tenantAccessCat,
      O.values("ta_reqs", T.assignAdminRequestRows)),

    // TenantRevokeAdmin ladder mirror: assign's rungs, REVOKED is
    // idempotent, was_admin reports the pre-existing grant.
    "q_tenant_revoke_admin" -> O.withCtes(
      """SELECT req_id, tenant_id, access_id, decision,
        |  (decision = 'REVOKED' AND coalesce(is_admin, FALSE))
        |    AS was_admin
        |FROM (
        |  SELECT r.req_id,
        |    coalesce(CASE WHEN r.tenant_id = '' THEN c.tenant_id
        |      ELSE r.tenant_id END, '') AS tenant_id,
        |    r.access_id, c.is_admin,
        |    CASE WHEN r.tenant_id = '' AND c.access_id IS NULL
        |        THEN 'TENANT_NOT_FOUND'
        |      WHEN t.tenant_id IS NULL THEN 'TENANT_NOT_FOUND'
        |      WHEN c.access_id IS NULL THEN 'ACCESS_ID_NOT_FOUND'
        |      WHEN c.tenant_id <> r.tenant_id AND r.tenant_id <> ''
        |        THEN 'INVALID_TENANT_ID'
        |      ELSE 'REVOKED' END AS decision
        |  FROM ra_reqs r
        |  LEFT JOIN t_access_cat c USING (access_id)
        |  LEFT JOIN (SELECT DISTINCT 'tenant' || substr(volume, 4, 10)
        |      AS tenant_id FROM objects) t
        |    ON t.tenant_id = CASE WHEN r.tenant_id = '' THEN c.tenant_id
        |      ELSE r.tenant_id END)
        |ORDER BY req_id""".stripMargin,
      O.objects,
      O.tenantAccessCat,
      O.values("ra_reqs", T.revokeAdminRequestRows)),

    // RevokeSecret ladder mirror: preExecute permission gate before the
    // store probe; remove-if-exists.
    "q_revoke_secret" -> O.withCtes(
      """SELECT r.req_id, r.access_id, r.caller,
        |  CASE WHEN r.caller <> coalesce(c.user_principal, r.access_id)
        |      AND r.caller <> 'om-admin' THEN 'ACCESS_DENIED'
        |    WHEN s.access_id IS NULL THEN 'S3_SECRET_NOT_FOUND'
        |    ELSE 'REVOKED' END AS decision
        |FROM rs_reqs r
        |LEFT JOIN t_access_cat c USING (access_id)
        |LEFT JOIN secret_store s ON r.access_id = s.access_id
        |ORDER BY r.req_id""".stripMargin,
      O.objects,
      O.tenantAccessCat,
      """secret_store AS (
        |  SELECT 'tenant' || substr(volume, 4, 10) || '$' || owner
        |      AS access_id
        |  FROM (SELECT DISTINCT volume, owner FROM objects))""".stripMargin,
      O.values("rs_reqs", T.revokeSecretRequestRows)),

    // SetSecret ladder mirror: accessId probe first, then secret rules.
    "q_set_secret" -> O.withCtes(
      """SELECT r.req_id, r.access_id,
        |  CASE WHEN c.access_id IS NULL THEN 'ACCESS_ID_NOT_FOUND'
        |    WHEN length(r.secret) = 0 THEN 'INVALID_REQUEST'
        |    WHEN length(r.secret) < 8 THEN 'INVALID_REQUEST'
        |    ELSE 'SET' END AS decision,
        |  CASE WHEN c.access_id IS NULL THEN ''
        |    WHEN length(r.secret) = 0 THEN 'EMPTY_SECRET'
        |    WHEN length(r.secret) < 8 THEN 'SECRET_TOO_SHORT'
        |    ELSE '' END AS reason
        |FROM ss_reqs r
        |LEFT JOIN (SELECT DISTINCT access_id FROM t_access_cat) c
        |  USING (access_id)
        |ORDER BY r.req_id""".stripMargin,
      O.objects,
      O.tenantAccessCat,
      O.values("ss_reqs", T.setSecretRequestRows)),

    // SetTimes ladder mirror.
    "q_set_times" -> O.withCtes(
      """SELECT r.req_id, r.volume, r.bucket, r.key,
        |  CASE WHEN r.mtime < -1 THEN 'INVALID_REQUEST'
        |       WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND'
        |       WHEN k.cur_mtime IS NULL THEN 'KEY_NOT_FOUND'
        |       WHEN r.mtime >= 0 THEN 'SET'
        |       ELSE 'KEPT' END AS decision,
        |  CASE WHEN r.mtime < -1 OR b.bucket IS NULL
        |        OR k.cur_mtime IS NULL THEN -1
        |       WHEN r.mtime >= 0 THEN r.mtime
        |       ELSE k.cur_mtime END AS effective_mtime
        |FROM st_reqs r
        |LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |LEFT JOIN (SELECT volume, bucket, key,
        |             max(modification_time) AS cur_mtime
        |           FROM objects GROUP BY 1, 2, 3) k
        |  ON r.volume = k.volume AND r.bucket = k.bucket AND r.key = k.key
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets,
      """st_reqs AS (
        |  SELECT req_id, volume,
        |    CASE WHEN probe % 13 = 3 THEN 'no-such-bucket'
        |         ELSE bucket0 END AS bucket,
        |    CASE WHEN cls = 3 THEN key0 || '.ghost' ELSE key0 END AS key,
        |    CASE WHEN cls = 0 THEN 800000000000
        |         WHEN cls = 1 THEN -1
        |         WHEN cls = 2 THEN -5
        |         ELSE 800000000000 END AS mtime
        |  FROM (
        |    SELECT req_id, (req_id // 1270) % 4 AS cls,
        |      (req_id // 127) AS probe, volume,
        |      split_part(bk, '|', 1) AS bucket0,
        |      split_part(bk, '|', 2) AS key0
        |    FROM (
        |      SELECT object_id AS req_id, min(volume) AS volume,
        |        min(bucket || '|' || key) AS bk
        |      FROM objects WHERE object_id % 127 = 0 GROUP BY 1)))""".stripMargin),

    // KeyCommit ladder — flags mirror Tables.keyCommitRequests exactly.
    // AllocateBlock ladder: QuotaUtil replicated-size math (1 MiB scm
    // block; EC rs-3-2 exact stripe overhead) against bucket quotas.
    "q_allocate_block" -> O.withCtes(
      """SELECT req_id, volume, bucket, key,
        |  CASE WHEN bkt_quota IS NULL AND bkt_used IS NULL
        |        THEN 'BUCKET_NOT_FOUND'
        |      WHEN NOT open_exists THEN 'KEY_NOT_FOUND'
        |      WHEN open_lease THEN 'KEY_UNDER_LEASE_RECOVERY'
        |      WHEN open_deleted THEN 'KEY_NOT_FOUND'
        |      WHEN bkt_quota > -1
        |        AND bkt_used + alloc_bytes > bkt_quota
        |        THEN 'QUOTA_EXCEEDED'
        |      ELSE 'ALLOCATED' END AS decision,
        |  CASE WHEN bkt_quota IS NOT NULL AND open_exists
        |        AND NOT open_lease AND NOT open_deleted
        |        AND NOT (bkt_quota > -1
        |          AND bkt_used + alloc_bytes > bkt_quota)
        |        THEN had_blocks + 1 ELSE 0 END AS block_count
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket, r.key, r.open_exists,
        |    r.open_lease, r.open_deleted, r.had_blocks,
        |    b.quota_bytes AS bkt_quota, b.used_bytes AS bkt_used,
        |    (CASE WHEN r.replication_type = 'RATIS/THREE'
        |        THEN 3145728
        |      WHEN r.replication_type LIKE 'EC/%' THEN 3145728
        |      ELSE 1048576 END)
        |    + (CASE WHEN r.replication_type = 'RATIS/THREE'
        |        THEN r.had_blocks * 3145728
        |      WHEN r.replication_type LIKE 'EC/%'
        |        THEN r.had_blocks * 1048576
        |          + (r.had_blocks // 3) * 2097152
        |          + CASE WHEN r.had_blocks % 3 > 0
        |              THEN 2097152 ELSE 0 END
        |      ELSE r.had_blocks * 1048576 END) AS alloc_bytes
        |  FROM ab_reqs r
        |  LEFT JOIN buckets b ON r.volume = b.volume
        |    AND r.bucket = b.bucket)
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets,
      """ab_reqs AS (
        |  SELECT req_id, volume,
        |    CASE WHEN probe % 13 = 3 THEN 'no-such-bucket'
        |         ELSE bucket0 END AS bucket,
        |    key, replication_type,
        |    cls <> 2 AS open_exists,
        |    cls = 3 AS open_lease,
        |    cls = 4 AS open_deleted,
        |    CASE WHEN cls = 5 THEN 4000 ELSE probe % 4 END AS had_blocks
        |  FROM (
        |    SELECT req_id, (req_id // 970) % 6 AS cls,
        |      (req_id // 97) AS probe, volume,
        |      split_part(bk, '|', 1) AS bucket0,
        |      split_part(bk, '|', 2) AS key, replication_type
        |    FROM (
        |      SELECT object_id AS req_id, min(volume) AS volume,
        |        min(bucket || '|' || key) AS bk,
        |        min(replication_type) AS replication_type
        |      FROM objects WHERE object_id % 97 = 0 GROUP BY 1)))""".stripMargin),

    "q_key_commit" -> O.withCtes(
      """SELECT req_id, volume, bucket, key, decision,
        |  CASE WHEN decision = 'KEY_NOT_FOUND' AND open_exists
        |        AND open_deleted THEN 'DELETED_HSYNC'
        |       ELSE '' END AS reason
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket, r.key, r.open_exists,
        |    r.open_deleted,
        |    CASE WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND'
        |      WHEN r.is_recovery AND NOT r.committed_hsync
        |        THEN 'KEY_ALREADY_CLOSED'
        |      WHEN NOT r.open_exists THEN 'KEY_NOT_FOUND'
        |      WHEN r.open_deleted THEN 'KEY_NOT_FOUND'
        |      WHEN r.open_lease AND NOT r.is_recovery
        |        THEN 'KEY_UNDER_LEASE_RECOVERY'
        |      WHEN b.quota_bytes > -1
        |        AND b.used_bytes + r.commit_size > b.quota_bytes
        |        THEN 'QUOTA_EXCEEDED'
        |      WHEN r.is_recovery THEN 'RECOVERED'
        |      ELSE 'COMMITTED' END AS decision
        |  FROM kc_reqs r
        |  LEFT JOIN buckets b ON r.volume = b.volume
        |    AND r.bucket = b.bucket)
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets,
      """kc_reqs AS (
        |  SELECT req_id, volume,
        |    CASE WHEN probe % 13 = 3 THEN 'no-such-bucket'
        |         ELSE bucket0 END AS bucket,
        |    key, cls = 2 AS is_recovery,
        |    cls <> 1 AS open_exists,
        |    CASE WHEN cls = 3 THEN 1000000000000
        |         ELSE data_size END AS commit_size,
        |    req_id % 9 = 0 AS open_deleted,
        |    req_id % 9 = 1 AS open_lease,
        |    req_id % 2 = 0 AS committed_hsync
        |  FROM (
        |    SELECT req_id, (req_id // 890) % 6 AS cls,
        |      (req_id // 89) AS probe, volume,
        |      split_part(bk, '|', 1) AS bucket0,
        |      split_part(bk, '|', 2) AS key, data_size
        |    FROM (
        |      SELECT object_id AS req_id, min(volume) AS volume,
        |        min(bucket || '|' || key) AS bk,
        |        min(data_size) AS data_size
        |      FROM objects WHERE object_id % 89 = 0 GROUP BY 1)))""".stripMargin),

    // SetVolumeOwner ladder mirror (cap = 1 to make the branch live).
    "q_volume_set_owner" -> O.withCtes(
      """SELECT r.req_id, r.volume, r.new_owner,
        |  CASE WHEN v.volume IS NULL THEN 'VOLUME_NOT_FOUND'
        |       WHEN v.owner = r.new_owner THEN 'OK_NOOP'
        |       WHEN coalesce(oc.owned, 0) >= 1 THEN 'TOO_MANY_VOLUMES'
        |       ELSE 'OWNER_CHANGED' END AS decision
        |FROM vso_reqs r
        |LEFT JOIN (SELECT volume, 'admin' || substr(volume, 4, 10)
        |             AS owner FROM volumes) v USING (volume)
        |LEFT JOIN (SELECT 'admin' || substr(volume, 4, 10) AS new_owner,
        |             count(*) AS owned
        |           FROM volumes GROUP BY 1) oc USING (new_owner)
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.values("vso_reqs", T.volumeSetOwnerRequestRows)),

    // SetVolumeQuota ladder mirror.
    "q_volume_set_quota" -> O.withCtes(
      """SELECT r.req_id, r.volume,
        |  CASE WHEN p.volume IS NULL THEN 'VOLUME_NOT_FOUND'
        |       WHEN bo LIKE 'ERROR%' THEN bo
        |       WHEN no LIKE 'ERROR%' THEN no
        |       ELSE 'APPLIED' END AS decision,
        |  CASE WHEN p.volume IS NULL THEN '-' ELSE bo END AS bytes_outcome,
        |  CASE WHEN p.volume IS NULL THEN '-' ELSE no END AS ns_outcome
        |FROM (
        |  SELECT r.req_id, r.volume,
        |    CASE WHEN r.new_quota_bytes = -2 THEN 'ABSENT'
        |      WHEN r.new_quota_bytes = -1 THEN 'RESET'
        |      WHEN r.new_quota_bytes < -1 OR r.new_quota_bytes = 0
        |        THEN 'IGNORED'
        |      WHEN p.has_unset_bucket THEN 'ERROR_UNSET_BUCKETS'
        |      WHEN r.new_quota_bytes < p.bucket_quota_sum
        |        THEN 'ERROR_LT_BUCKET_SUM'
        |      ELSE 'SET' END AS bo,
        |    CASE WHEN r.new_quota_ns = -2 THEN 'ABSENT'
        |      WHEN r.new_quota_ns = -1 THEN 'RESET'
        |      WHEN r.new_quota_ns < -1 OR r.new_quota_ns = 0
        |        THEN 'IGNORED'
        |      WHEN p.bucket_count > r.new_quota_ns
        |        THEN 'ERROR_LT_BUCKET_COUNT'
        |      ELSE 'SET' END AS no,
        |    p.volume AS pvol
        |  FROM vsq_reqs r
        |  LEFT JOIN vq_probe p USING (volume)) r
        |LEFT JOIN vq_probe p USING (volume)
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets,
      O.values("vq_synthetic", T.syntheticQuotaProbeRows),
      """vq_probe AS (
        |  SELECT volume, count(*) AS bucket_count,
        |    CAST(sum(CASE WHEN quota_bytes > -1 THEN quota_bytes
        |      ELSE 0 END) AS BIGINT) AS bucket_quota_sum,
        |    bool_or(quota_bytes = -1) AS has_unset_bucket
        |  FROM buckets GROUP BY 1
        |  UNION ALL SELECT * FROM vq_synthetic)""".stripMargin,
      O.values("vsq_reqs", T.volumeSetQuotaRequestRows)),

    // DeleteVolume ladder: lookup → ref-count → emptiness → DELETED.
    "q_volume_delete" -> O.withCtes(
      """SELECT r.req_id, r.volume,
        |  CASE WHEN v.volume IS NULL THEN 'VOLUME_NOT_FOUND'
        |       WHEN v.ref_count <> 0 THEN 'VOLUME_IS_REFERENCED'
        |       WHEN v.bucket_count > 0 THEN 'VOLUME_NOT_EMPTY'
        |       ELSE 'DELETED' END AS decision
        |FROM vd_reqs r
        |LEFT JOIN (
        |  SELECT volume, bucket_count,
        |    CASE WHEN volume = 'vol3' THEN 1 ELSE 0 END AS ref_count
        |  FROM volumes
        |  UNION ALL SELECT * FROM bare_volume) v USING (volume)
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.values("vd_reqs", T.volumeDeleteRequestRows),
      O.values("bare_volume", T.bareVolumeRefRows)),

    // DeleteBucket ladder: keys beat MPUs beat snapshots; link buckets
    // delete on their own (empty) key space.
    "q_bucket_delete" -> O.withCtes(
      """SELECT req_id, volume, bucket, decision,
        |  CASE WHEN decision = 'BUCKET_NOT_EMPTY'
        |       THEN CASE WHEN has_keys THEN 'KEYS' ELSE 'MPUS' END
        |       ELSE '' END AS reason
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket,
        |    k.volume IS NOT NULL AS has_keys,
        |    CASE WHEN c.volume IS NULL THEN 'BUCKET_NOT_FOUND'
        |         WHEN k.volume IS NOT NULL THEN 'BUCKET_NOT_EMPTY'
        |         WHEN m.volume IS NOT NULL THEN 'BUCKET_NOT_EMPTY'
        |         WHEN s.volume IS NOT NULL THEN 'CONTAINS_SNAPSHOT'
        |         ELSE 'DELETED' END AS decision
        |  FROM bd_reqs r
        |  LEFT JOIN (
        |    SELECT volume, bucket FROM buckets
        |    UNION ALL SELECT volume, bucket FROM bucket_links
        |    UNION ALL SELECT * FROM empty_buckets) c
        |    ON r.volume = c.volume AND r.bucket = c.bucket
        |  LEFT JOIN (SELECT DISTINCT volume, bucket FROM objects) k
        |    ON r.volume = k.volume AND r.bucket = k.bucket
        |  LEFT JOIN (
        |    SELECT DISTINCT 'vol' || (order_key % 4) AS volume,
        |      'bucket' || (order_key % 10) AS bucket
        |    FROM multipart_parts
        |    UNION ALL SELECT * FROM mpu_blocked) m
        |    ON r.volume = m.volume AND r.bucket = m.bucket
        |  LEFT JOIN (SELECT DISTINCT volume, bucket FROM snap_cat
        |    UNION ALL SELECT * FROM snap_blocked) s
        |    ON r.volume = s.volume AND r.bucket = s.bucket)
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets, O.multipartParts,
      O.values("bd_reqs", T.bucketDeleteRequestRows),
      O.values("bucket_links", T.bucketLinkRows),
      O.values("empty_buckets", T.emptyBucketRows),
      O.values("mpu_blocked", T.mpuBlockedBucketRows),
      O.values("snap_cat", T.snapshotCatalogRows),
      O.values("snap_blocked", T.snapshotBlockedBucketRows)),

    // ClusterStateEndpoint one-row summary via scalar subqueries.
    "q_cluster_state" -> O.withCtes(
      """SELECT
        |  (SELECT count(*) FROM volumes_catalog) AS volumes,
        |  (SELECT count(*) FROM buckets_catalog) AS buckets,
        |  (SELECT count(*) FROM objects) AS keys,
        |  (SELECT count(*) FROM containers_scm) AS containers_total,
        |  (SELECT CAST(sum(CASE WHEN state = 'OPEN' THEN 1 ELSE 0 END)
        |     AS BIGINT) FROM containers_scm) AS containers_open,
        |  (SELECT CAST(sum(CASE WHEN state = 'CLOSED' THEN 1 ELSE 0 END)
        |     AS BIGINT) FROM containers_scm) AS containers_closed,
        |  (SELECT CAST(sum(CASE WHEN state = 'DELETED' THEN 1 ELSE 0 END)
        |     AS BIGINT) FROM containers_scm) AS containers_deleted,
        |  (SELECT count(*) FROM containers_scm c
        |   WHERE c.state <> 'DELETED' AND NOT EXISTS
        |     (SELECT 1 FROM replicas r
        |      WHERE r.container_id = c.container_id))
        |    AS containers_missing,
        |  (SELECT count(*) FROM pipelines) AS pipelines_total,
        |  (SELECT CAST(sum(CASE WHEN state = 'OPEN' THEN 1 ELSE 0 END)
        |     AS BIGINT) FROM pipelines) AS pipelines_open,
        |  (SELECT count(*) FROM datanodes) AS datanodes_total,
        |  (SELECT CAST(sum(CASE WHEN state = 'HEALTHY' THEN 1 ELSE 0 END)
        |     AS BIGINT) FROM datanodes) AS datanodes_healthy,
        |  (SELECT CAST(sum(capacity) AS BIGINT) FROM datanodes)
        |    AS capacity_total,
        |  (SELECT CAST(sum(used) AS BIGINT) FROM datanodes)
        |    AS capacity_used,
        |  (SELECT count(*) FROM deleted_dirs) AS deleted_dirs""".stripMargin,
      O.objects, O.objectsMixed, O.buckets, O.volumes, O.bucketsCatalog,
      O.volumesCatalog, O.containersScm, O.replicas, O.datanodes,
      O.pipelines, O.deletedDirs),

    // Storage-distribution one-row composite: datanode sums + replicated
    // open/MPU/pending/finalized bytes; pending dirs resolve through the
    // NSSummary rollup (nested deleted dirs double-count, as in the ref).
    "q_storage_distribution" -> O.withCtes(
      s"""SELECT s.total_capacity, s.total_used, s.total_remaining,
         |  s.total_committed, s.total_reserved, s.total_min_free,
         |  k.pending_key_bytes, k.finalized_key_bytes, k.total_keys,
         |  o.open_key_bytes, m.open_mpu_bytes, dd.pending_dir_bytes,
         |  dd.pending_dir_bytes + k.pending_key_bytes + o.open_key_bytes
         |    + k.finalized_key_bytes AS total_used_namespace
         |FROM
         |  (SELECT CAST(sum(capacity) AS BIGINT) AS total_capacity,
         |    CAST(sum(used) AS BIGINT) AS total_used,
         |    CAST(sum(remaining) AS BIGINT) AS total_remaining,
         |    CAST(sum(committed) AS BIGINT) AS total_committed,
         |    CAST(sum(capacity // 100 * 5) AS BIGINT) AS total_reserved,
         |    CAST(sum(capacity // 200) AS BIGINT) AS total_min_free
         |   FROM datanodes) s,
         |  (SELECT
         |    CAST(coalesce(sum(CASE WHEN version IN (4, 5)
         |      AND (object_id // 10) % 10 = 0 THEN replicated_size END),
         |      0) AS BIGINT) AS pending_key_bytes,
         |    CAST(coalesce(sum(CASE WHEN NOT (version IN (4, 5)
         |      AND (object_id // 10) % 10 = 0) THEN replicated_size END),
         |      0) AS BIGINT) AS finalized_key_bytes,
         |    CAST(count(*) FILTER (NOT (version IN (4, 5)
         |      AND (object_id // 10) % 10 = 0)) AS BIGINT) AS total_keys
         |   FROM objects) k,
         |  (SELECT CAST(coalesce(sum(replicated_size), 0) AS BIGINT)
         |    AS open_key_bytes FROM open_keys) o,
         |  (SELECT CAST(coalesce(sum(size), 0) * 3 AS BIGINT)
         |    AS open_mpu_bytes FROM multipart_parts) m,
         |  (SELECT CAST(coalesce(sum(r.replicated_size), 0) AS BIGINT)
         |    AS pending_dir_bytes
         |   FROM (
         |    SELECT volume, bucket, dir,
         |      sum(replicated_size) AS replicated_size
         |    FROM (
         |      SELECT volume, bucket, replicated_size,
         |        array_to_string(list_slice(string_split(key, '/'), 1, d),
         |          '/') AS dir
         |      FROM (
         |        SELECT *, unnest(generate_series(1,
         |          least(len(string_split(key, '/')) - 1,
         |                ${Aggregates.MaxAncestorDepth}))) AS d
         |        FROM objects_mixed))
         |    GROUP BY 1, 2, 3) r
         |   JOIN deleted_dirs dd2 ON r.volume = dd2.volume
         |    AND r.bucket = dd2.bucket AND r.dir = dd2.dir) dd"""
        .stripMargin,
      O.objects, O.objectsMixed, O.openKeys, O.multipartParts,
      O.datanodes, O.deletedDirs),

    // CreateDirectory ladder — prefix explode per request, file/dir
    // probes per prefix, minted = missing prefixes.
    "q_fso_mkdir" -> O.withCtes(
      """SELECT r.req_id, r.volume, r.bucket, r.path,
        |  CASE WHEN r.path = '' THEN 'CANNOT_CREATE_DIRECTORY_AT_ROOT'
        |       WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND'
        |       WHEN f.self_file OR f.anc_file THEN 'FILE_ALREADY_EXISTS'
        |       WHEN f.self_dir THEN 'DIR_EXISTS'
        |       ELSE 'CREATED' END AS decision,
        |  CASE WHEN r.path <> '' AND b.bucket IS NOT NULL
        |        AND (f.self_file OR f.anc_file)
        |       THEN CASE WHEN f.self_file THEN 'SELF' ELSE 'ANCESTOR' END
        |       ELSE '' END AS blocked_by,
        |  CASE WHEN r.path <> '' AND b.bucket IS NOT NULL
        |        AND NOT (f.self_file OR f.anc_file OR f.self_dir)
        |       THEN f.missing_prefixes ELSE 0 END AS dirs_minted
        |FROM mkdir_reqs r
        |LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |LEFT JOIN mk_flags f USING (req_id)
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets,
      O.fsoDirs,
      """mkdir_reqs AS (
        |  SELECT req_id, volume,
        |    CASE WHEN probe % 13 = 3 THEN 'no-such-bucket'
        |         ELSE bucket0 END AS bucket,
        |    CASE WHEN probe % 17 = 5 THEN ''
        |         WHEN cls = 0 THEN pdir || '/newdir'
        |         WHEN cls = 1 THEN pdir || '/n1/n2/n3'
        |         WHEN cls = 2 THEN pdir
        |         WHEN cls = 3 THEN key0
        |         WHEN cls = 4 THEN key0 || '/sub/x'
        |         ELSE 'newtop/d' || (probe % 5) || '/x' END AS path
        |  FROM (
        |    SELECT req_id, (req_id // 1510) % 6 AS cls,
        |      (req_id // 151) AS probe, volume,
        |      split_part(bk, '|', 1) AS bucket0,
        |      split_part(bk, '|', 2) AS key0,
        |      substring(split_part(bk, '|', 2), 1,
        |        length(split_part(bk, '|', 2)) -
        |        length(string_split(split_part(bk, '|', 2), '/')[-1]) - 1)
        |        AS pdir
        |    FROM (
        |      SELECT object_id AS req_id, min(volume) AS volume,
        |        min(bucket || '|' || key) AS bk
        |      FROM objects WHERE object_id % 151 = 0 GROUP BY 1)))""".stripMargin,
      """mk_flags AS (
        |  SELECT req_id,
        |    bool_or(fk.key IS NOT NULL AND p.pfx = p.path) AS self_file,
        |    bool_or(fk.key IS NOT NULL AND p.pfx <> p.path) AS anc_file,
        |    bool_or(dd.path IS NOT NULL AND p.pfx = p.path) AS self_dir,
        |    CAST(sum(CASE WHEN dd.path IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS missing_prefixes
        |  FROM (
        |    SELECT req_id, volume, bucket, path,
        |      array_to_string(ws[1:d], '/') AS pfx
        |    FROM (
        |      SELECT req_id, volume, bucket, path,
        |        string_split(path, '/') AS ws,
        |        unnest(generate_series(1,
        |          len(string_split(path, '/')))) AS d
        |      FROM mkdir_reqs WHERE path <> '')) p
        |  LEFT JOIN (SELECT DISTINCT volume, bucket, key FROM objects) fk
        |    ON p.volume = fk.volume AND p.bucket = fk.bucket
        |    AND p.pfx = fk.key
        |  LEFT JOIN fso_dirs dd ON p.volume = dd.volume
        |    AND p.bucket = dd.bucket AND p.pfx = dd.path
        |  GROUP BY 1)""".stripMargin),

    // CreateFile ladder mirror.
    "q_create_file" -> O.withCtes(
      """SELECT req_id, volume, bucket, path, decision,
        |  CASE WHEN decision = 'CREATED' THEN coalesce(mp, 0)
        |       ELSE 0 END AS dirs_minted
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket, r.path,
        |    CASE WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND'
        |      WHEN sd.path IS NOT NULL THEN 'NOT_A_FILE'
        |      WHEN coalesce(f.anc_file, FALSE) THEN 'NOT_A_FILE'
        |      WHEN sf.key IS NOT NULL AND NOT r.overwrite
        |        THEN 'FILE_ALREADY_EXISTS'
        |      WHEN NOT r.recursive AND r.parent <> '' AND pd.path IS NULL
        |        THEN 'DIRECTORY_NOT_FOUND'
        |      WHEN sf.key IS NOT NULL THEN 'OVERWRITTEN'
        |      ELSE 'CREATED' END AS decision,
        |    f.missing_parents AS mp
        |  FROM cf_reqs r
        |  LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |  LEFT JOIN (SELECT DISTINCT volume, bucket, key FROM objects) sf
        |    ON r.volume = sf.volume AND r.bucket = sf.bucket
        |    AND r.path = sf.key
        |  LEFT JOIN fso_dirs sd ON r.volume = sd.volume
        |    AND r.bucket = sd.bucket AND r.path = sd.path
        |  LEFT JOIN fso_dirs pd ON r.volume = pd.volume
        |    AND r.bucket = pd.bucket AND r.parent = pd.path
        |  LEFT JOIN cf_flags f USING (req_id))
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets,
      O.fsoDirs,
      """cf_reqs AS (
        |  SELECT req_id, volume,
        |    CASE WHEN probe % 13 = 3 THEN 'no-such-bucket'
        |         ELSE bucket0 END AS bucket,
        |    path,
        |    substring(path, 1, length(path) -
        |      length(string_split(path, '/')[-1]) - 1) AS parent,
        |    cls = 2 AS overwrite, cls = 6 AS recursive
        |  FROM (
        |    SELECT req_id, cls, probe, volume, bucket0,
        |      CASE WHEN cls = 0 THEN pdir || '/fresh.dat'
        |           WHEN cls IN (1, 2) THEN key0
        |           WHEN cls = 3 THEN pdir
        |           WHEN cls = 4 THEN key0 || '/sub.dat'
        |           ELSE pdir || '/nd1/nd2/leaf.dat' END AS path
        |    FROM (
        |      SELECT req_id, (req_id // 1390) % 7 AS cls,
        |        (req_id // 139) AS probe, volume,
        |        split_part(bk, '|', 1) AS bucket0,
        |        split_part(bk, '|', 2) AS key0,
        |        substring(split_part(bk, '|', 2), 1,
        |          length(split_part(bk, '|', 2)) -
        |          length(string_split(split_part(bk, '|', 2), '/')[-1]) - 1)
        |          AS pdir
        |      FROM (
        |        SELECT object_id AS req_id, min(volume) AS volume,
        |          min(bucket || '|' || key) AS bk
        |        FROM objects WHERE object_id % 139 = 0 GROUP BY 1))))""".stripMargin,
      """cf_flags AS (
        |  SELECT req_id,
        |    bool_or(fk.key IS NOT NULL) AS anc_file,
        |    CAST(sum(CASE WHEN dd.path IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS missing_parents
        |  FROM (
        |    SELECT req_id, volume, bucket,
        |      array_to_string(ws[1:d], '/') AS pfx
        |    FROM (
        |      SELECT req_id, volume, bucket,
        |        string_split(parent, '/') AS ws,
        |        unnest(generate_series(1,
        |          len(string_split(parent, '/')))) AS d
        |      FROM cf_reqs WHERE parent <> '')) p
        |  LEFT JOIN (SELECT DISTINCT volume, bucket, key FROM objects) fk
        |    ON p.volume = fk.volume AND p.bucket = fk.bucket
        |    AND p.pfx = fk.key
        |  LEFT JOIN fso_dirs dd ON p.volume = dd.volume
        |    AND p.bucket = dd.bucket AND p.pfx = dd.path
        |  GROUP BY 1)""".stripMargin),

    // FSO rename ladder — probes mirror the operator's file/dir/parent/
    // dst-basename lookups; hsync = latest version ≡ 0 (mod 3).
    "q_fso_rename" -> O.withCtes(
      """SELECT r.req_id, r.volume, r.bucket, r.src_key, r.to_key,
        |  CASE WHEN r.src_key = '' THEN 'INVALID_KEY_NAME'
        |    WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND'
        |    WHEN sf.key IS NULL AND sd.path IS NULL THEN 'KEY_NOT_FOUND'
        |    WHEN sf.key IS NOT NULL AND sd.path IS NULL
        |      AND sf.maxv % 3 = 0 THEN 'RENAME_OPEN_FILE'
        |    WHEN sd.path IS NOT NULL
        |      AND starts_with(r.to_key, r.src_key || '/')
        |      THEN 'RENAME_ERROR_SUBDIR'
        |    WHEN (df.key IS NOT NULL OR dd.path IS NOT NULL)
        |      AND r.to_key = r.src_key AND df.key IS NOT NULL
        |      THEN 'SELF_NOOP'
        |    WHEN (df.key IS NOT NULL OR dd.path IS NOT NULL)
        |      AND r.to_key = r.src_key THEN 'KEY_ALREADY_EXISTS'
        |    WHEN dd.path IS NOT NULL AND nt.k IS NOT NULL
        |      THEN 'KEY_ALREADY_EXISTS'
        |    WHEN dd.path IS NOT NULL THEN 'RENAMED_INTO_DIR'
        |    WHEN df.key IS NOT NULL THEN 'KEY_ALREADY_EXISTS'
        |    WHEN len(string_split(r.to_key, '/')) > 1 AND pd.path IS NULL
        |      THEN 'RENAME_ERROR_PARENT'
        |    ELSE 'RENAMED' END AS decision
        |FROM rename_fso_reqs r
        |LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |LEFT JOIN rn_files sf ON r.volume = sf.volume
        |  AND r.bucket = sf.bucket AND r.src_key = sf.key
        |LEFT JOIN fso_dirs sd ON r.volume = sd.volume
        |  AND r.bucket = sd.bucket AND r.src_key = sd.path
        |LEFT JOIN rn_files df ON r.volume = df.volume
        |  AND r.bucket = df.bucket AND r.to_key = df.key
        |LEFT JOIN fso_dirs dd ON r.volume = dd.volume
        |  AND r.bucket = dd.bucket AND r.to_key = dd.path
        |LEFT JOIN fso_dirs pd ON r.volume = pd.volume
        |  AND r.bucket = pd.bucket
        |  AND pd.path = substring(r.to_key, 1, length(r.to_key) -
        |    length(string_split(r.to_key, '/')[-1]) - 1)
        |LEFT JOIN (SELECT volume, bucket, key AS k FROM rn_files
        |           UNION SELECT volume, bucket, path FROM fso_dirs) nt
        |  ON r.volume = nt.volume AND r.bucket = nt.bucket
        |  AND nt.k = r.to_key || '/' || string_split(r.src_key, '/')[-1]
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets,
      """rn_files AS (
        |  SELECT volume, bucket, key, max(version) AS maxv
        |  FROM objects GROUP BY 1, 2, 3)""".stripMargin,
      O.fsoDirs,
      """rename_fso_reqs AS (
        |  SELECT req_id, volume,
        |    CASE WHEN probe % 13 = 3 THEN 'no-such-bucket'
        |         ELSE bucket0 END AS bucket,
        |    CASE WHEN probe % 17 = 5 THEN ''
        |         WHEN cls = 1 THEN key0 || '.ghost'
        |         WHEN cls IN (2, 3, 7) THEN pdir
        |         ELSE key0 END AS src_key,
        |    CASE WHEN cls = 0 THEN key0 || '.r0'
        |         WHEN cls = 1 THEN key0 || '.r1'
        |         WHEN cls = 2 THEN pdir || '-moved'
        |         WHEN cls = 3 THEN pdir || '/x/sub'
        |         WHEN cls = 4 THEN key0
        |         WHEN cls = 5 AND probe % 2 = 0 THEN 'warehouse'
        |         WHEN cls = 5 THEN pdir
        |         WHEN cls = 6 THEN 'nowhere/x/' || base
        |         ELSE pdir END AS to_key
        |  FROM (
        |    SELECT req_id, (req_id // 1310) % 8 AS cls,
        |      (req_id // 131) AS probe, volume,
        |      split_part(bk, '|', 1) AS bucket0,
        |      split_part(bk, '|', 2) AS key0,
        |      substring(split_part(bk, '|', 2), 1,
        |        length(split_part(bk, '|', 2)) -
        |        length(string_split(split_part(bk, '|', 2), '/')[-1]) - 1)
        |        AS pdir,
        |      string_split(split_part(bk, '|', 2), '/')[-1] AS base
        |    FROM (
        |      SELECT object_id AS req_id, min(volume) AS volume,
        |        min(bucket || '|' || key) AS bk
        |      FROM objects WHERE object_id % 131 = 0 GROUP BY 1)))""".stripMargin),

    // MultiDelete result table: missing keys still count as deleted
    // (idempotent), wrong expected-bucket-owner -> AccessDenied.
    "q_multi_delete" -> O.withCtes(
      """SELECT r.volume, r.bucket, r.key, r.expected_owner,
        |  coalesce(e.existed, false) AS existed,
        |  CASE WHEN r.expected_owner <> v.owner THEN 'ACCESS_DENIED'
        |       ELSE 'DELETED' END AS result
        |FROM delete_requests r
        |JOIN volumes v USING (volume)
        |LEFT JOIN (
        |  SELECT DISTINCT volume, bucket, key, true AS existed FROM objects o
        |  WHERE EXISTS (SELECT 1 FROM delete_requests r
        |    WHERE r.volume = o.volume AND r.bucket = o.bucket
        |      AND r.key = o.key)) e
        |  USING (volume, bucket, key)
        |ORDER BY volume, bucket, key, expected_owner""".stripMargin,
      O.objects, O.buckets, O.volumes, O.deleteRequests),

    // Compaction-DAG SST diff: recursive walk from the newer snapshot's
    // range-pruned live set through output→input edges; SAME = reached ∩
    // dest, DIFFERENT = terminal frontier (no node / predates dest horizon
    // / no successors), interior nodes not emitted.
    "q_sst_diff" -> O.withCtesRecursive(
      """SELECT r.file,
        |  CASE WHEN EXISTS (SELECT 1 FROM dest_live d WHERE d.file = r.file)
        |       THEN 'SAME' ELSE 'DIFFERENT' END AS cls
        |FROM reach r
        |WHERE EXISTS (SELECT 1 FROM dest_live d WHERE d.file = r.file)
        |   OR NOT EXISTS (SELECT 1 FROM nodes n WHERE n.file = r.file)
        |   OR (SELECT n.gen FROM nodes n WHERE n.file = r.file) < 3500
        |   OR NOT EXISTS (SELECT 1 FROM sst_edges e WHERE e.output_file = r.file)
        |ORDER BY cls, file""".stripMargin,
      O.sstCatalog, O.sstEdges,
      """nodes AS (
        |  SELECT file, MIN(seq) AS gen FROM (
        |    SELECT output_file AS file, seq FROM sst_edges
        |    UNION ALL SELECT input_file, seq FROM sst_edges)
        |  GROUP BY file
        |)""".stripMargin,
      """src_live AS (
        |  SELECT file FROM sst_catalog
        |  WHERE created_gen <= 6300
        |    AND (consumed_gen IS NULL OR consumed_gen > 6300)
        |    AND end_key >= '000600' AND start_key <= '001200'
        |)""".stripMargin,
      """dest_live AS (
        |  SELECT file FROM sst_catalog
        |  WHERE created_gen <= 3500
        |    AND (consumed_gen IS NULL OR consumed_gen > 3500)
        |    AND end_key >= '000600' AND start_key <= '001200'
        |)""".stripMargin,
      """reach AS (
        |  SELECT file FROM src_live
        |  UNION
        |  SELECT e.input_file AS file
        |  FROM reach r
        |  JOIN nodes n ON n.file = r.file
        |  JOIN sst_edges e ON e.output_file = r.file
        |  WHERE n.gen >= 3500
        |    AND NOT EXISTS (SELECT 1 FROM dest_live d WHERE d.file = r.file)
        |)""".stripMargin),

    // Purge-walk mirror: full-demand prefix sums over the literal
    // pending-dir table.
    "q_dir_delete_walk" -> O.withCtes(
      """SELECT dir_id,
        |  CASE WHEN budget_before <= 0 THEN 'NOT_REACHED'
        |    WHEN base_demand <= budget_before THEN
        |      CASE WHEN purge_dir THEN 'PURGED'
        |        WHEN base_demand > 0 THEN 'MOVED'
        |        ELSE 'SKIP_EMPTY' END
        |    ELSE 'PARTIAL' END AS action,
        |  CAST(CASE WHEN budget_before <= 0 THEN 0
        |    ELSE least(n_subdirs, budget_before) END AS BIGINT)
        |    AS subdirs_moved,
        |  CAST(CASE WHEN budget_before <= 0 THEN 0
        |    ELSE least(eligible_files, budget_before -
        |      CASE WHEN budget_before <= 0 THEN 0
        |        ELSE least(n_subdirs, budget_before) END) END AS BIGINT)
        |    AS files_moved,
        |  (budget_before > 0 AND base_demand <= budget_before
        |    AND purge_dir) AS parent_purged,
        |  CAST(budget_before AS BIGINT) AS budget_before
        |FROM (
        |  SELECT *,
        |    10 - coalesce(sum(base_demand +
        |        CASE WHEN purge_dir THEN 1 ELSE 0 END) OVER (
        |      ORDER BY dir_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS budget_before
        |  FROM (
        |    SELECT *,
        |      CASE WHEN purge_dir THEN n_subfiles
        |        ELSE n_reclaimable_files END AS eligible_files,
        |      n_subdirs + CASE WHEN purge_dir THEN n_subfiles
        |        ELSE n_reclaimable_files END AS base_demand
        |    FROM pdd))
        |ORDER BY dir_id""".stripMargin,
      O.values("pdd", T.pendingDeletedDirRows)),

    // Cleanup mirror: purged-table phase UNION the capped running-sum
    // job walk.
    "q_snapdiff_cleanup" -> O.withCtes(
      """SELECT job_key, status,
        |  CASE WHEN purge_rank -
        |      CASE WHEN purgeable THEN 1 ELSE 0 END >= 3
        |      THEN 'NOT_REACHED'
        |    WHEN purgeable THEN 'MOVED_TO_PURGE'
        |    ELSE 'RETAINED' END AS action,
        |  CAST(CASE WHEN purgeable AND purge_rank -
        |      CASE WHEN purgeable THEN 1 ELSE 0 END < 3
        |    THEN report_entries ELSE 0 END AS BIGINT) AS n_report_entries
        |FROM sdc_act
        |UNION ALL
        |SELECT job_key, status, 'REPORT_PURGED',
        |  CAST(report_entries AS BIGINT)
        |FROM sdc_jobs WHERE in_purged_table
        |ORDER BY job_key""".stripMargin,
      O.values("sdc_jobs", T.snapdiffCleanupJobRows),
      """sdc_act AS (
        |  SELECT *,
        |    (age_ms > 604800000
        |      OR status IN ('FAILED', 'REJECTED', 'CANCELLED'))
        |      AS purgeable,
        |    sum(CASE WHEN age_ms > 604800000
        |        OR status IN ('FAILED', 'REJECTED', 'CANCELLED')
        |      THEN 1 ELSE 0 END) OVER (ORDER BY job_key
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS purge_rank
        |  FROM sdc_jobs WHERE NOT in_purged_table)""".stripMargin),

    // Deleting-service mirror: path-lead + reverse-walk full-demand
    // prefix sums over the literal chain.
    "q_snapshot_delete_walk" -> O.withCtes(
      """SELECT global_seq, snap, action,
        |  CAST(CASE WHEN action = 'MOVED'
        |    THEN least(n_deleted_keys, budget_before) ELSE 0 END AS BIGINT)
        |    AS keys_moved,
        |  CAST(CASE WHEN action = 'MOVED'
        |    THEN least(n_deleted_dirs,
        |      budget_before - least(n_deleted_keys, budget_before))
        |    ELSE 0 END AS BIGINT) AS dirs_moved,
        |  CAST(CASE WHEN action = 'MOVED'
        |    THEN least(n_renames,
        |      budget_before - least(n_deleted_keys, budget_before)
        |      - least(n_deleted_dirs,
        |        budget_before - least(n_deleted_keys, budget_before)))
        |    ELSE 0 END AS BIGINT) AS renames_moved,
        |  CASE WHEN action = 'MOVED' THEN coalesce(next_snap, 'AOS')
        |    ELSE '' END AS dest,
        |  CAST(budget_before AS BIGINT) AS budget_before,
        |  CAST(snaps_before AS BIGINT) AS snaps_before
        |FROM (
        |  SELECT *,
        |    CASE WHEN NOT (budget_before > 0 AND snaps_before > 0)
        |      THEN 'NOT_REACHED'
        |      WHEN skip_reason IS NOT NULL THEN skip_reason
        |      WHEN total_entries = 0 THEN 'PURGE_LISTED'
        |      ELSE 'MOVED' END AS action
        |  FROM (
        |    SELECT *,
        |      20 - coalesce(sum(CASE WHEN skip_reason IS NULL
        |          THEN total_entries ELSE 0 END) OVER (
        |        ORDER BY global_seq DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS budget_before,
        |      3 - coalesce(sum(CASE WHEN skip_reason IS NULL
        |          THEN 1 ELSE 0 END) OVER (
        |        ORDER BY global_seq DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS snaps_before
        |    FROM (
        |      SELECT *,
        |        CASE WHEN status <> 'SNAPSHOT_DELETED'
        |          THEN 'SKIP_ACTIVE'
        |          WHEN NOT flushed THEN 'SKIP_NOT_FLUSHED'
        |          WHEN next_snap IS NOT NULL
        |            AND next_status <> 'SNAPSHOT_ACTIVE'
        |          THEN 'SKIP_NEXT_NOT_ACTIVE' END AS skip_reason
        |      FROM (
        |        SELECT *,
        |          lead(snap) OVER (PARTITION BY path_id
        |            ORDER BY path_seq) AS next_snap,
        |          lead(status) OVER (PARTITION BY path_id
        |            ORDER BY path_seq) AS next_status,
        |          n_deleted_keys + n_deleted_dirs + n_renames
        |            AS total_entries
        |        FROM sdel_chain))))
        |ORDER BY global_seq""".stripMargin,
      O.values("sdel_chain", T.snapDeleteChainRows)),

    // Defrag-service mirror: path-lag + running-budget windows over the
    // literal chain, crossed into the two-run (native on/off) dim.
    "q_snapshot_defrag" -> O.withCtes(
      """SELECT run_id, global_idx, name, volume, bucket, action,
        |  CASE WHEN action IN ('FULL_DEFRAG', 'INCREMENTAL_DEFRAG')
        |    THEN coalesce(path_prev, name) ELSE '' END
        |    AS checkpoint_source,
        |  CAST(CASE WHEN action = 'FULL_DEFRAG' THEN 3 ELSE 0 END
        |    AS BIGINT) AS tables_compacted,
        |  CAST(CASE WHEN action IN ('FULL_DEFRAG', 'INCREMENTAL_DEFRAG')
        |    THEN version + 1 ELSE version END AS BIGINT) AS new_version,
        |  CAST(CASE WHEN action IN ('FULL_DEFRAG', 'INCREMENTAL_DEFRAG')
        |      THEN version - 1
        |    WHEN action = 'SKIP_DEFRAGGED' AND version > 0
        |      THEN version - 1
        |    ELSE -1 END AS BIGINT) AS cleanup_below
        |FROM dfg_act ORDER BY run_id, global_idx""".stripMargin,
      O.values("dfg_chain", T.defragChainRows),
      """dfg_base AS (
        |  SELECT *,
        |    lag(name) OVER (PARTITION BY volume, bucket
        |      ORDER BY global_idx) AS path_prev,
        |    sum(CASE WHEN needs_defrag THEN 1 ELSE 0 END) OVER (
        |      ORDER BY global_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS defrag_rank
        |  FROM dfg_chain)""".stripMargin,
      """dfg_runs(run_id, native) AS (VALUES (1, true), (2, false))""",
      """dfg_act AS (
        |  SELECT r.run_id, b.*,
        |    CASE WHEN NOT r.native THEN 'SKIPPED_NATIVE'
        |      WHEN NOT (b.defrag_rank -
        |        CASE WHEN b.needs_defrag THEN 1 ELSE 0 END < 2)
        |        THEN 'NOT_REACHED'
        |      WHEN NOT b.needs_defrag THEN 'SKIP_DEFRAGGED'
        |      WHEN b.path_prev IS NULL THEN 'FULL_DEFRAG'
        |      ELSE 'INCREMENTAL_DEFRAG' END AS action
        |  FROM dfg_runs r CROSS JOIN dfg_base b)""".stripMargin),

    // Source-selection mirror: same recursive walk, counted, crossed into
    // the literal job/flag dim.
    "q_snapdiff_source" -> O.withCtesRecursive(
      """SELECT job_id,
        |  (cfg_force_full OR req_force_full) AS use_full_diff,
        |  (cfg_disable_native OR req_disable_native OR NOT native_loaded)
        |    AS non_native,
        |  CASE WHEN NOT (cfg_force_full OR req_force_full) AND dag_ok
        |    THEN 'SST_FILE_DELTA_DAG_WALK'
        |    ELSE 'SST_FILE_DELTA_FULL_DIFF' END AS delta_source,
        |  CASE WHEN (cfg_disable_native OR req_disable_native
        |      OR NOT native_loaded)
        |    THEN 'KEY_STREAM' ELSE 'KEY_STREAM_WITH_TOMBSTONE' END
        |    AS read_mode,
        |  CASE WHEN NOT (cfg_force_full OR req_force_full) AND dag_ok
        |    THEN (SELECT dag_n FROM diff_n)
        |    ELSE (SELECT full_n FROM full_n) END AS n_delta_files,
        |  CASE WHEN (cfg_disable_native OR req_disable_native
        |      OR NOT native_loaded)
        |    THEN (SELECT from_n FROM from_n) ELSE 0 END
        |    AS n_from_files_added,
        |  (CASE WHEN NOT (cfg_force_full OR req_force_full) AND dag_ok
        |    THEN (SELECT dag_n FROM diff_n)
        |    ELSE (SELECT full_n FROM full_n) END)
        |  + (CASE WHEN (cfg_disable_native OR req_disable_native
        |      OR NOT native_loaded)
        |    THEN (SELECT from_n FROM from_n) ELSE 0 END) AS n_read_files
        |FROM sds_jobs ORDER BY job_id""".stripMargin,
      O.sstCatalog, O.sstEdges,
      """nodes AS (
        |  SELECT file, MIN(seq) AS gen FROM (
        |    SELECT output_file AS file, seq FROM sst_edges
        |    UNION ALL SELECT input_file, seq FROM sst_edges)
        |  GROUP BY file
        |)""".stripMargin,
      """src_live AS (
        |  SELECT file FROM sst_catalog
        |  WHERE created_gen <= 6300
        |    AND (consumed_gen IS NULL OR consumed_gen > 6300)
        |    AND end_key >= '000600' AND start_key <= '001200'
        |)""".stripMargin,
      """dest_live AS (
        |  SELECT file FROM sst_catalog
        |  WHERE created_gen <= 3500
        |    AND (consumed_gen IS NULL OR consumed_gen > 3500)
        |    AND end_key >= '000600' AND start_key <= '001200'
        |)""".stripMargin,
      """reach AS (
        |  SELECT file FROM src_live
        |  UNION
        |  SELECT e.input_file AS file
        |  FROM reach r
        |  JOIN nodes n ON n.file = r.file
        |  JOIN sst_edges e ON e.output_file = r.file
        |  WHERE n.gen >= 3500
        |    AND NOT EXISTS (SELECT 1 FROM dest_live d WHERE d.file = r.file)
        |)""".stripMargin,
      """diff_n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS dag_n FROM reach r
        |  WHERE NOT EXISTS (SELECT 1 FROM dest_live d WHERE d.file = r.file)
        |    AND (NOT EXISTS (SELECT 1 FROM nodes n WHERE n.file = r.file)
        |      OR (SELECT n.gen FROM nodes n WHERE n.file = r.file) < 3500
        |      OR NOT EXISTS (SELECT 1 FROM sst_edges e
        |           WHERE e.output_file = r.file))
        |)""".stripMargin,
      """full_n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS full_n FROM src_live
        |)""".stripMargin,
      """from_n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS from_n FROM dest_live
        |)""".stripMargin,
      O.values("sds_jobs", T.snapdiffSourceJobRows)),

    // FSO resolve must round-trip to the original flat keys — the oracle is
    // simply the objects table re-read as (volume, bucket, path, size).
    "q_fso_resolve" -> O.withCtes(
      """SELECT volume, bucket, key AS path, data_size
        |FROM objects
        |ORDER BY volume, bucket, path, data_size""".stripMargin, O.objects),

    // Missing parents: request-path ancestors absent from the existing
    // ancestor set of the requests' buckets; ids are the FSO path ids.
    "q_mkdir_parents" -> O.withCtes(
      """SELECT c.volume, c.bucket, c.path,
        |  ('0x' || substr(md5(c.volume || ':' || c.bucket || ':' || c.path),
        |    1, 15))::BIGINT AS dir_id,
        |  CASE WHEN instr(c.path, '/') = 0 THEN 0
        |    ELSE ('0x' || substr(md5(c.volume || ':' || c.bucket || ':' ||
        |      substr(c.path, 1,
        |        length(c.path) - length(string_split(c.path, '/')[-1]) - 1)),
        |      1, 15))::BIGINT END AS parent_id
        |FROM cand c
        |LEFT JOIN exist e ON c.volume = e.volume AND c.bucket = e.bucket
        |  AND c.path = e.path
        |WHERE e.path IS NULL
        |ORDER BY c.volume, c.bucket, c.path""".stripMargin,
      O.objects,
      O.values("reqs", T.mkdirRequestRows),
      """cand AS (
        |  SELECT DISTINCT volume, bucket,
        |    array_to_string(list_slice(string_split(key, '/'), 1, d), '/') AS path
        |  FROM (
        |    SELECT *, unnest(generate_series(1,
        |      least(len(string_split(key, '/')) - 1, 64))) AS d
        |    FROM reqs)
        |)""".stripMargin,
      """exist AS (
        |  SELECT DISTINCT volume, bucket,
        |    array_to_string(list_slice(string_split(key, '/'), 1, d), '/') AS path
        |  FROM (
        |    SELECT o.volume, o.bucket, o.key, unnest(generate_series(1,
        |      least(len(string_split(o.key, '/')) - 1, 64))) AS d
        |    FROM objects o
        |    JOIN (SELECT DISTINCT volume, bucket FROM reqs) rb
        |      ON o.volume = rb.volume AND o.bucket = rb.bucket)
        |)""".stripMargin),

    // CreateBucket ladder: staged CASE rungs in reference branch order;
    // in-batch collisions and namespace admission via cumulative windows
    "q_bucket_create" -> O.withCtes(
      """SELECT req_id, volume, bucket, coalesce(e4, 'CREATED') AS decision
        |FROM ns ORDER BY req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      """volumes_ns AS (
        |  SELECT volume, bucket_count, quota_bytes,
        |    CASE WHEN volume = 'vol3' THEN bucket_count + 2
        |         ELSE -1 END AS quota_namespace
        |  FROM volumes)""".stripMargin,
      O.values("reqs", T.bucketCreateRequestRows),
      """tot AS (SELECT count(*) AS total_buckets FROM buckets)""",
      """qsum AS (
        |  SELECT volume, CAST(sum(CASE WHEN quota_bytes > -1
        |    THEN quota_bytes ELSE 0 END) AS BIGINT) AS bucket_quota_sum
        |  FROM buckets GROUP BY 1)""".stripMargin,
      """staged AS (
        |  SELECT r.req_id, r.volume, r.bucket, r.has_source_volume,
        |    r.has_source_bucket, r.has_encryption, r.quota_bytes,
        |    v.volume IS NOT NULL AS vol_exists,
        |    v.quota_bytes AS vol_quota_bytes, v.bucket_count,
        |    v.quota_namespace, b.bucket IS NOT NULL AS bkt_exists,
        |    t.total_buckets, coalesce(q.bucket_quota_sum, 0) AS bucket_quota_sum
        |  FROM reqs r
        |  CROSS JOIN tot t
        |  LEFT JOIN volumes_ns v ON r.volume = v.volume
        |  LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |  LEFT JOIN qsum q ON r.volume = q.volume)""".stripMargin,
      """early AS (
        |  SELECT *, CASE
        |    WHEN NOT (length(bucket) BETWEEN 3 AND 63
        |      AND regexp_matches(bucket, '^[a-z0-9.-]+$')
        |      AND instr(bucket, '..') = 0 AND instr(bucket, '-.') = 0
        |      AND instr(bucket, '.-') = 0
        |      AND NOT regexp_matches(bucket, '^[0-9.]+$')
        |      AND substr(bucket, 1, 1) NOT IN ('.', '-')
        |      AND substr(bucket, length(bucket), 1) NOT IN ('.', '-'))
        |      THEN 'INVALID_BUCKET_NAME'
        |    WHEN total_buckets >= 1000000 THEN 'TOO_MANY_BUCKETS'
        |    WHEN has_source_bucket <> has_source_volume
        |      THEN 'INVALID_LINK_ARGS'
        |    WHEN has_source_bucket AND has_encryption
        |      THEN 'LINK_WITH_ENCRYPTION'
        |    WHEN NOT vol_exists THEN 'VOLUME_NOT_FOUND'
        |    WHEN bkt_exists THEN 'BUCKET_ALREADY_EXISTS' END AS e1
        |  FROM staged)""".stripMargin,
      """dup AS (
        |  SELECT *, coalesce(e1, CASE WHEN
        |    sum(CASE WHEN e1 IS NULL THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY volume, bucket ORDER BY req_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 1
        |    THEN 'BUCKET_ALREADY_EXISTS' END) AS e2
        |  FROM early)""".stripMargin,
      """bytes AS (
        |  SELECT *, coalesce(e2, CASE
        |    WHEN NOT has_source_bucket AND vol_quota_bytes > 0
        |      AND quota_bytes <= 0 THEN 'QUOTA_ERROR'
        |    WHEN NOT has_source_bucket AND quota_bytes > 0
        |      AND vol_quota_bytes <> -1
        |      AND bucket_quota_sum + quota_bytes > vol_quota_bytes
        |      THEN 'QUOTA_EXCEEDED_BYTES' END) AS e3
        |  FROM dup)""".stripMargin,
      """ns AS (
        |  SELECT *, coalesce(e3, CASE
        |    WHEN quota_namespace > 0 AND bucket_count +
        |      sum(CASE WHEN e3 IS NULL THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY volume ORDER BY req_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      > quota_namespace THEN 'QUOTA_EXCEEDED_NS' END) AS e4
        |  FROM bytes)""".stripMargin),

    "q_fso_list_status" -> O.withCtes(
      """SELECT split_part(key, '/', 3) AS child, true AS is_dir,
        |  count(*) AS num_files, CAST(sum(data_size) AS BIGINT) AS total_size
        |FROM objects
        |WHERE volume = 'vol2' AND bucket = 'bucket5'
        |  AND key LIKE 'warehouse/R/%'
        |GROUP BY 1 ORDER BY 1""".stripMargin, O.objects),

    // paged walk ≡ unpaged listing (keyset pagination is lossless)
    "q_fso_list_pages" -> O.withCtes(
      """SELECT split_part(key, '/', 3) AS child, true AS is_dir,
        |  count(*) AS num_files, CAST(sum(data_size) AS BIGINT) AS total_size
        |FROM objects
        |WHERE volume = 'vol2' AND bucket = 'bucket5'
        |  AND key LIKE 'warehouse/R/%'
        |GROUP BY 1 ORDER BY 1""".stripMargin, O.objects),

    // recursive subtree rollup: every key under warehouse/R/<child>/... is
    // counted toward <child>, two dir levels above the files
    "q_fso_list_status_deep" -> O.withCtes(
      """SELECT split_part(key, '/', 3) AS child, true AS is_dir,
        |  count(*) AS num_files, CAST(sum(data_size) AS BIGINT) AS total_size
        |FROM objects_deep
        |WHERE volume = 'vol2' AND bucket = 'bucket5'
        |  AND key LIKE 'warehouse/R/%'
        |GROUP BY 1 ORDER BY 1""".stripMargin, O.objects, O.objectsDeep),

    // The CDC log replays PUT(every object) + DELETE(version % 7 == 0), so
    // the net state the incrementally-maintained views must equal is
    // `objects WHERE version % 7 <> 0` — the closed form the oracle checks.
    "q_stream_filesize" -> O.withCtes(
      """SELECT volume, bucket,
        |  GREATEST((CAST(1 AS BIGINT) << (CASE WHEN data_size <= 1 THEN 0 ELSE length(bin(data_size - 1)) END)), 1024) AS size_bin,
        |  count(*) AS file_count,
        |  CAST(sum(data_size) AS BIGINT) AS total_size
        |FROM objects WHERE version % 7 <> 0
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin, O.objects),

    "q_stream_counts" -> O.withCtes(
      """SELECT 'keys' AS entity, count(*) AS cnt,
        |  CAST(sum(data_size) AS BIGINT) AS total_bytes
        |FROM objects WHERE version % 7 <> 0""".stripMargin, O.objects),

    // streamed over the mixed-depth namespace: ALL ancestor prefixes
    "q_stream_nssummary" -> O.withCtes(
      s"""SELECT volume, bucket, dir,
         |  count(*) AS num_files,
         |  CAST(sum(data_size) AS BIGINT) AS size_of_files
         |FROM (
         |  SELECT volume, bucket, data_size,
         |    array_to_string(list_slice(string_split(key, '/'), 1, d), '/') AS dir
         |  FROM (
         |    SELECT *, unnest(generate_series(1,
         |      least(len(string_split(key, '/')) - 1,
         |            ${Aggregates.MaxAncestorDepth}))) AS d
         |    FROM objects_mixed WHERE version % 7 <> 0))
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      O.objects, O.objectsMixed),

    "q_session_window" -> O.withCtes(
      """SELECT user_id, count(*) AS n_events,
        |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM (
        |  SELECT user_id, ts_ms, value,
        |    CAST(sum(is_new) OVER (
        |      PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts_ms, value,
        |      CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) IS NULL
        |             OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) > 1800000
        |           THEN 1 ELSE 0 END AS is_new
        |    FROM events_norm))
        |GROUP BY user_id, session_id ORDER BY user_id, start_ms""".stripMargin,
      O.eventsNorm),

    "q_sessionize" -> O.withCtes(
      """SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM (
        |  SELECT user_id, ts_ms, value,
        |    CAST(sum(is_new) OVER (
        |      PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts_ms, value,
        |      CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) IS NULL
        |             OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) > 1800000
        |           THEN 1 ELSE 0 END AS is_new
        |    FROM events_norm))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, O.eventsNorm),

    "q_datanode_usage" -> O.withCtes(
      """SELECT d.uuid, d.hostname, d.rack, d.state, d.op_state,
        |  d.last_heartbeat_ms, d.capacity, d.used, d.remaining, d.committed,
        |  (d.capacity - d.remaining) * 10000 // d.capacity AS utilization_bp,
        |  COALESCE(c.containers, 0) AS containers,
        |  COALESCE(p.pipelines, 0) AS pipelines
        |FROM datanodes d
        |LEFT JOIN (
        |  SELECT datanode, count(DISTINCT container_id) AS containers
        |  FROM replicas GROUP BY 1) c ON c.datanode = d.uuid
        |LEFT JOIN (
        |  SELECT datanode, count(*) AS pipelines
        |  FROM pipeline_members GROUP BY 1) p ON p.datanode = d.uuid
        |ORDER BY d.uuid""".stripMargin,
      O.datanodes, O.containersScm, O.replicas, O.pipelines,
      O.pipelineMembers),

    "q_pipeline_health" -> O.withCtes(
      """SELECT pl.pipeline_id, pl.replication, pl.state, pl.leader_node,
        |  pl.num_datanodes, pl.last_leader_election_ms, pl.leader_elections,
        |  COALESCE(c.cnt, 0) AS container_count,
        |  (pl.state = 'OPEN' AND (pl.leader_node IS NOT NULL
        |     OR pl.replication LIKE 'EC/%')) AS healthy
        |FROM pipelines pl
        |LEFT JOIN (
        |  SELECT container_id % 12 AS pipeline_idx, count(*) AS cnt
        |  FROM containers_scm WHERE state <> 'DELETED' GROUP BY 1) c
        |  ON c.pipeline_idx = pl.pipeline_idx
        |ORDER BY pl.pipeline_id""".stripMargin,
      O.pipelines, O.containersScm),

    "q_ec_recovery_plan" -> O.withCtes(
      """SELECT container_id, online_indexes, offline_only_indexes,
        |  5 - (online_indexes + offline_only_indexes) AS missing_indexes,
        |  max_copies, decision,
        |  CASE WHEN decision = 'UNDER_REPLICATED'
        |    THEN 5 - (online_indexes + offline_only_indexes)
        |    ELSE 0 END AS reconstruct_shards
        |FROM (
        |  SELECT *,
        |    CASE WHEN online_indexes + offline_only_indexes < 3
        |           THEN 'UNRECOVERABLE'
        |         WHEN online_indexes + offline_only_indexes < 5
        |           THEN 'UNDER_REPLICATED'
        |         WHEN max_copies > 1 THEN 'OVER_REPLICATED'
        |         WHEN offline_only_indexes > 0 THEN 'OFFLINE_COPIES'
        |         ELSE 'HEALTHY' END AS decision
        |  FROM (
        |    SELECT container_id,
        |      CAST(sum(CASE WHEN online >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |        AS online_indexes,
        |      CAST(sum(CASE WHEN online = 0 AND offline >= 1
        |        THEN 1 ELSE 0 END) AS BIGINT) AS offline_only_indexes,
        |      CAST(max(online) AS BIGINT) AS max_copies
        |    FROM (
        |      SELECT s.container_id, s.replica_index,
        |        sum(CASE WHEN s.shard_state <> 'UNHEALTHY'
        |          AND d.op_state = 'IN_SERVICE' THEN 1 ELSE 0 END)
        |          AS online,
        |        sum(CASE WHEN s.shard_state <> 'UNHEALTHY'
        |          AND d.op_state <> 'IN_SERVICE' THEN 1 ELSE 0 END)
        |          AS offline
        |      FROM ec_shards s JOIN datanodes d ON s.datanode = d.uuid
        |      GROUP BY 1, 2)
        |    GROUP BY 1))
        |ORDER BY container_id""".stripMargin,
      O.containersScm, O.ecShards, O.datanodes),

    "q_merkle_reconcile" -> O.withCtes(
      s"""SELECT container_id, datanode, data_checksum, n_replicas,
         |  agree_count,
         |  data_checksum <> (min(CASE WHEN agree_count = max_agree
         |      THEN data_checksum END)
         |    OVER (PARTITION BY container_id)) AS needs_reconcile
         |FROM (
         |  SELECT *, max(agree_count) OVER (PARTITION BY container_id)
         |    AS max_agree
         |  FROM (
         |    SELECT *,
         |      count(*) OVER (PARTITION BY container_id) AS n_replicas,
         |      count(*) OVER (PARTITION BY container_id, data_checksum)
         |        AS agree_count
         |    FROM (
         |      SELECT container_id, datanode,
         |        md5(container_id || ':' || bit_xor(block_ck))
         |          AS data_checksum
         |      FROM (
         |        SELECT container_id, datanode, local_id,
         |          ('0x' || substr(md5(container_id || ':' || local_id
         |              || ':' || bit_xor(chunk_ck)), 1, 15))::BIGINT
         |            AS block_ck
         |        FROM (
         |          SELECT c.container_id, r.datanode, c.local_id, c.off,
         |            ('0x' || substr(md5(c.container_id || ':'
         |              || c.local_id || ':'
         |              || c.off || ':' || c.length || ':'
         |              || CASE WHEN r.replica_state = 'UNHEALTHY'
         |                 THEN 'corrupt' ELSE 'ok' END), 1, 15))::BIGINT
         |              AS chunk_ck
         |          FROM (
         |            SELECT container_id, object_id * 100 + i AS local_id,
         |              i * ${graft.core.Tables.LocChunkBytes} AS off,
         |              least(${graft.core.Tables.LocChunkBytes},
         |                data_size - i * ${graft.core.Tables.LocChunkBytes})
         |                AS length
         |            FROM (
         |              SELECT container_id, object_id, data_size,
         |                unnest(generate_series(0,
         |                  (data_size - 1) // ${graft.core.Tables.LocChunkBytes}))
         |                  AS i
         |              FROM objects)) c
         |          JOIN replicas r USING (container_id))
         |        GROUP BY 1, 2, 3)
         |      GROUP BY 1, 2)))
         |ORDER BY container_id, datanode""".stripMargin,
      O.objects, O.containersScm, O.replicas),

    // CreateVolume ladder: staged rungs + cumulative windows (collision
    // ownership, sequential per-owner cap at 2)
    "q_volume_create" -> O.withCtes(
      """SELECT req_id, volume, owner, coalesce(e3, 'CREATED') AS decision
        |FROM (
        |  SELECT *, coalesce(e2, CASE WHEN coalesce(owned, 0) +
        |      sum(CASE WHEN e2 IS NULL THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY owner ORDER BY req_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - 1 >= 2 THEN 'USER_TOO_MANY_VOLUMES' END) AS e3
        |  FROM (
        |    SELECT *, coalesce(e1, CASE WHEN
        |      sum(CASE WHEN e1 IS NULL THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY volume ORDER BY req_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 1
        |      THEN 'VOLUME_ALREADY_EXISTS' END) AS e2
        |    FROM (
        |      SELECT r.req_id, r.volume, r.owner, c.owned,
        |        CASE WHEN NOT (length(r.volume) BETWEEN 3 AND 63
        |          AND regexp_matches(r.volume, '^[a-z0-9._-]+$')
        |          AND instr(r.volume, '..') = 0
        |          AND instr(r.volume, '-.') = 0
        |          AND instr(r.volume, '.-') = 0
        |          AND NOT regexp_matches(r.volume, '^[0-9.]+$')
        |          AND substr(r.volume, 1, 1) NOT IN ('.', '-')
        |          AND substr(r.volume, length(r.volume), 1)
        |            NOT IN ('.', '-'))
        |          THEN 'INVALID_VOLUME_NAME'
        |        WHEN v.volume IS NOT NULL THEN 'VOLUME_ALREADY_EXISTS'
        |        END AS e1
        |      FROM vc_reqs r
        |      LEFT JOIN volumes v ON r.volume = v.volume
        |      LEFT JOIN (SELECT owner, count(*) AS owned FROM volumes
        |                 GROUP BY 1) c ON r.owner = c.owner)))
        |ORDER BY req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.values("vc_reqs", T.volumeCreateRequestRows)),

    // CreateSnapshot ladder: hardcoded link-resolution table (the static
    // link fixture), snapshot chain s1/s2 on the commit-log bucket
    "q_snapshot_create" -> O.withCtes(
      s"""SELECT s.req_id, s.snapshot_name, s.rv AS resolved_volume,
        |  s.rb AS resolved_bucket,
        |  CASE WHEN ${O.invalidSnapshotName("s.snapshot_name")}
        |      THEN 'INVALID_SNAPSHOT_NAME'
        |    WHEN s.status = 'CYCLE' THEN 'LINK_LOOP'
        |    WHEN s.status = 'DANGLING' OR b.volume IS NULL
        |      THEN 'BUCKET_NOT_FOUND'
        |    WHEN s.principal <> v.owner AND s.principal <> 'om-admin'
        |      THEN 'PERMISSION_DENIED'
        |    WHEN sn.name IS NOT NULL THEN 'FILE_ALREADY_EXISTS'
        |    ELSE 'CREATED' END AS decision
        |FROM staged s
        |LEFT JOIN buckets b ON s.rv = b.volume AND s.rb = b.bucket
        |LEFT JOIN volumes v ON s.rv = v.volume
        |LEFT JOIN snaps sn ON s.rv = sn.volume AND s.rb = sn.bucket
        |  AND s.snapshot_name = sn.name
        |ORDER BY s.req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.linkres,
      O.values("snaps", T.snapshotCatalogRows),
      O.values("reqs", T.snapshotCreateRequestRows),
      """staged AS (
        |  SELECT r.req_id, r.snapshot_name, r.principal,
        |    coalesce(l.rv0, r.volume) AS rv,
        |    coalesce(l.rb0, r.bucket) AS rb, l.status
        |  FROM reqs r LEFT JOIN linkres l
        |    ON r.volume = l.volume AND r.bucket = l.bucket)""".stripMargin),

    // DeleteLifecycleConfiguration ladder mirror. The config catalog is
    // the derived SET outcome of the lifecycle-set ladder (vol0/bucket0,
    // vol0/bucket1 — deterministic from the lcSetRequests fixture).
    "q_lifecycle_delete" -> O.withCtes(
      """SELECT s.req_id, s.rv AS resolved_volume, s.rb AS resolved_bucket,
        |  CASE WHEN s.status = 'CYCLE' THEN 'LINK_LOOP'
        |    WHEN s.status = 'DANGLING' OR b.volume IS NULL
        |      THEN 'BUCKET_NOT_FOUND'
        |    WHEN s.principal <> v.owner AND s.principal <> 'om-admin'
        |      THEN 'PERMISSION_DENIED'
        |    WHEN c.volume IS NULL
        |      THEN 'LIFECYCLE_CONFIGURATION_NOT_FOUND'
        |    ELSE 'DELETED' END AS decision
        |FROM staged s
        |LEFT JOIN buckets b ON s.rv = b.volume AND s.rb = b.bucket
        |LEFT JOIN volumes v ON s.rv = v.volume
        |LEFT JOIN lc_cfgs c ON s.rv = c.volume AND s.rb = c.bucket
        |ORDER BY s.req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.linkres,
      """lc_cfgs(volume, bucket) AS (VALUES
        |  ('vol0', 'bucket0'), ('vol0', 'bucket1'))""".stripMargin,
      O.values("reqs", T.lcDeleteRequestRows),
      """staged AS (
        |  SELECT r.req_id, r.principal,
        |    coalesce(l.rv0, r.volume) AS rv,
        |    coalesce(l.rb0, r.bucket) AS rb, l.status
        |  FROM reqs r LEFT JOIN linkres l
        |    ON r.volume = l.volume AND r.bucket = l.bucket)""".stripMargin),

    // RenameSnapshot ladder: NEW-name-only validation, link resolution,
    // collision-before-old-lookup (deleted entries occupy names)
    "q_snapshot_rename" -> O.withCtes(
      s"""SELECT s.req_id, s.old_name, s.new_name,
        |  s.rv AS resolved_volume, s.rb AS resolved_bucket,
        |  CASE WHEN ${O.invalidSnapshotName("s.new_name")}
        |      THEN 'INVALID_SNAPSHOT_NAME'
        |    WHEN s.status = 'CYCLE' THEN 'LINK_LOOP'
        |    WHEN s.status = 'DANGLING' OR b.volume IS NULL
        |      THEN 'BUCKET_NOT_FOUND'
        |    WHEN s.principal <> v.owner AND s.principal <> 'om-admin'
        |      THEN 'PERMISSION_DENIED'
        |    WHEN sn.name IS NOT NULL THEN 'FILE_ALREADY_EXISTS'
        |    WHEN so.name IS NULL OR so.status <> 'SNAPSHOT_ACTIVE'
        |      THEN 'FILE_NOT_FOUND'
        |    ELSE 'RENAMED' END AS decision
        |FROM staged s
        |LEFT JOIN buckets b ON s.rv = b.volume AND s.rb = b.bucket
        |LEFT JOIN volumes v ON s.rv = v.volume
        |LEFT JOIN snapsext sn ON s.rv = sn.volume AND s.rb = sn.bucket
        |  AND s.new_name = sn.name
        |LEFT JOIN snapsext so ON s.rv = so.volume AND s.rb = so.bucket
        |  AND s.old_name = so.name
        |ORDER BY s.req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.linkres,
      O.snapshotCatalog("snapsext", live = false),
      O.values("reqs", T.snapshotRenameRequestRows),
      """staged AS (
        |  SELECT r.req_id, r.old_name, r.new_name, r.principal,
        |    coalesce(l.rv0, r.volume) AS rv,
        |    coalesce(l.rb0, r.bucket) AS rb, l.status
        |  FROM reqs r LEFT JOIN linkres l
        |    ON r.volume = l.volume AND r.bucket = l.bucket)""".stripMargin),

    // DeleteSnapshot ladder mirror: name re-validated first (legacy
    // chain names refuse), link resolution, owner/admin gate, non-active
    // refused FILE_NOT_FOUND with a split reason.
    "q_snapshot_delete" -> O.withCtes(
      s"""SELECT s.req_id, s.snapshot_name,
        |  s.rv AS resolved_volume, s.rb AS resolved_bucket,
        |  CASE WHEN ${O.invalidSnapshotName("s.snapshot_name")}
        |      THEN 'INVALID_SNAPSHOT_NAME'
        |    WHEN s.status = 'CYCLE' THEN 'LINK_LOOP'
        |    WHEN s.status = 'DANGLING' OR b.volume IS NULL
        |      THEN 'BUCKET_NOT_FOUND'
        |    WHEN s.principal <> v.owner AND s.principal <> 'om-admin'
        |      THEN 'PERMISSION_DENIED'
        |    WHEN sn.name IS NULL THEN 'FILE_NOT_FOUND'
        |    WHEN sn.status <> 'SNAPSHOT_ACTIVE' THEN 'FILE_NOT_FOUND'
        |    ELSE 'DELETED' END AS decision,
        |  CASE WHEN ${O.invalidSnapshotName("s.snapshot_name")}
        |      THEN ''
        |    WHEN s.status = 'CYCLE' OR s.status = 'DANGLING'
        |      OR b.volume IS NULL THEN ''
        |    WHEN s.principal <> v.owner AND s.principal <> 'om-admin'
        |      THEN ''
        |    WHEN sn.name IS NULL THEN 'NOT_FOUND'
        |    WHEN sn.status = 'SNAPSHOT_DELETED' THEN 'ALREADY_DELETED'
        |    WHEN sn.status <> 'SNAPSHOT_ACTIVE' THEN 'NOT_ACTIVE'
        |    ELSE '' END AS reason
        |FROM staged s
        |LEFT JOIN buckets b ON s.rv = b.volume AND s.rb = b.bucket
        |LEFT JOIN volumes v ON s.rv = v.volume
        |LEFT JOIN snapsliv sn ON s.rv = sn.volume AND s.rb = sn.bucket
        |  AND s.snapshot_name = sn.name
        |ORDER BY s.req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.linkres,
      O.snapshotCatalog("snapsliv", live = true),
      O.values("sd_reqs", T.snapshotDeleteRequestRows),
      """staged AS (
        |  SELECT r.req_id, r.snapshot_name, r.principal,
        |    coalesce(l.rv0, r.volume) AS rv,
        |    coalesce(l.rb0, r.bucket) AS rb, l.status
        |  FROM sd_reqs r LEFT JOIN linkres l
        |    ON r.volume = l.volume AND r.bucket = l.bucket)""".stripMargin),

    // SetBucketOwner ladder mirror (bucket owner = volume owner).
    "q_bucket_set_owner" -> O.withCtes(
      """SELECT r.req_id, r.volume, r.bucket, r.new_owner,
        |  CASE WHEN b.bucket IS NULL THEN 'BUCKET_NOT_FOUND'
        |    WHEN r.new_owner = v.owner THEN 'UNCHANGED'
        |    ELSE 'SET' END AS decision
        |FROM bso_reqs r
        |LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |LEFT JOIN volumes v ON r.volume = v.volume
        |ORDER BY r.req_id""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.values("bso_reqs", T.bucketSetOwnerRequestRows)),

    // SnapshotPurge relink mirror: survivor windows over both chains.
    "q_snapshot_purge" -> O.withCtes(
      """SELECT name, volume, bucket, global_idx, status,
        |  new_global_prev, new_path_prev
        |FROM (
        |  SELECT name, volume, bucket, global_idx,
        |    'RETAINED' AS status,
        |    coalesce(lag(name) OVER (ORDER BY global_idx), '')
        |      AS new_global_prev,
        |    coalesce(lag(name) OVER (PARTITION BY volume, bucket
        |      ORDER BY global_idx), '') AS new_path_prev
        |  FROM sp_chain WHERE name NOT IN ('s2', 'snap-gone', 'ghost')
        |  UNION ALL
        |  SELECT name, volume, bucket, global_idx, 'PURGED', '', ''
        |  FROM sp_chain WHERE name IN ('s2', 'snap-gone', 'ghost'))
        |ORDER BY global_idx""".stripMargin,
      O.values("sp_chain", T.snapshotChainGlobalRows)),

    // Trash-rotation mirror: strptime parse + the same cutoffs.
    "q_trash_rotation" -> O.withCtes(
      """SELECT trash_root, name,
        |  CASE
        |    WHEN name = 'Current' THEN 'CHECKPOINTED'
        |    WHEN NOT regexp_matches(regexp_replace(name, '-\d+$', ''),
        |      '^\d{12}$') THEN 'IGNORED_UNPARSEABLE'
        |    WHEN epoch_ms(strptime(regexp_replace(name, '-\d+$', ''),
        |      '%y%m%d%H%M%S')) < 1755172800000 - 2592000000
        |      THEN 'DELETED'
        |    ELSE 'KEPT' END AS action,
        |  CASE WHEN name = 'Current' THEN '250814120000' ELSE '' END
        |    AS new_name
        |FROM tr_entries
        |ORDER BY trash_root, name""".stripMargin,
      O.values("tr_entries", T.trashEntryRows)),

    // Conditional-write mirror: list-normalized ETag candidates.
    "q_conditional_write" -> O.withCtes(
      """SELECT req_id, op,
        |  CASE
        |    WHEN op = 'PUT' AND has_inm AND trim(inm_value) = ''
        |      THEN 'INVALID_EMPTY_INM'
        |    WHEN has_im AND trim(im_value) = '' THEN 'INVALID_EMPTY_IM'
        |    WHEN op = 'PUT' AND has_inm AND has_im THEN 'INVALID_BOTH'
        |    WHEN op = 'PUT' AND has_inm AND inm_norm <> '*'
        |      THEN 'INVALID_INM_NOT_STAR'
        |    WHEN op = 'PUT' AND has_inm AND inm_norm = '*'
        |      AND key_exists IS NOT NULL
        |      THEN 'PRECONDITION_FAILED'
        |    WHEN has_im AND NOT im_match THEN 'PRECONDITION_FAILED'
        |    WHEN op = 'PUT' THEN 'WRITTEN'
        |    ELSE 'DELETED' END AS decision
        |FROM (
        |  SELECT q.*, s.cur_etag, s.key_exists,
        |    regexp_replace(trim(q.inm_value), '^"|"$', '', 'g')
        |      AS inm_norm,
        |    CASE WHEN NOT q.has_im THEN false ELSE
        |      len(list_filter(
        |        list_transform(string_split(q.im_value, ','),
        |          x -> regexp_replace(trim(x), '^"|"$', '', 'g')),
        |        x -> (x = '*' AND s.key_exists IS NOT NULL)
        |          OR (s.cur_etag IS NOT NULL AND x = s.cur_etag))) > 0
        |      END AS im_match
        |  FROM cwr_reqs q
        |  LEFT JOIN cwr_state s ON s.key = q.key)
        |ORDER BY req_id""".stripMargin,
      O.objects,
      """cwr_target AS (
        |  SELECT min(key) AS t_key FROM objects
        |  WHERE volume = 'vol0' AND bucket = 'bucket0')""".stripMargin,
      O.values("cwr_rows", T.conditionalWriteRequestRows),
      """cwr_reqs AS (
        |  SELECT r.req_id, r.op,
        |    CASE WHEN r.ghost THEN 'no/such/key' ELSE t.t_key END AS key,
        |    r.has_inm, r.inm_value, r.has_im,
        |    CASE WHEN r.im_kind = 'ETAG' THEN md5(t.t_key)
        |      WHEN r.im_kind = 'QETAG' THEN '"' || md5(t.t_key) || '"'
        |      WHEN r.im_kind = 'LIST' THEN 'aaa, "' || md5(t.t_key) || '"'
        |      ELSE r.im_kind END AS im_value
        |  FROM cwr_rows r CROSS JOIN cwr_target t)""".stripMargin,
      """cwr_state AS (
        |  SELECT key, max(etag) AS cur_etag, true AS key_exists
        |  FROM objects WHERE volume = 'vol0' AND bucket = 'bucket0'
        |  GROUP BY key)""".stripMargin),

    // Tenant-roster mirror: the catalog's tenant1 slice.
    "q_tenant_list_users" -> O.withCtes(
      """SELECT 'tenant1' AS tenant_id, owner AS user_principal,
        |  'tenant1$' || owner AS access_id,
        |  owner = 'clerk0' AS is_admin
        |FROM (SELECT DISTINCT owner FROM objects WHERE volume = 'vol1')
        |ORDER BY access_id""".stripMargin,
      O.objects),

    // S3-volume-context mirror: catalog + state probes from objects.
    "q_s3_volume_context" -> O.withCtes(
      """SELECT req_id,
        |  CASE WHEN NOT has_auth THEN 'OK'
        |       WHEN cat_tenant IS NULL THEN 'OK'
        |       WHEN tenant_volume IS NULL THEN 'TENANT_NOT_FOUND'
        |       ELSE 'OK' END AS status,
        |  CASE WHEN has_auth AND cat_tenant IS NOT NULL
        |      AND tenant_volume IS NULL THEN ''
        |    WHEN NOT has_auth OR cat_tenant IS NULL THEN 's3v'
        |    ELSE tenant_volume END AS s3_volume,
        |  CASE WHEN has_auth AND cat_tenant IS NOT NULL
        |      AND tenant_volume IS NULL THEN ''
        |    WHEN NOT has_auth THEN remote_user
        |    WHEN cat_tenant IS NULL THEN r.access_id
        |    ELSE split_part(r.access_id, '$', 2) END AS user_principal
        |FROM svc_reqs r
        |LEFT JOIN svc_catalog c ON c.access_id = r.access_id
        |LEFT JOIN svc_state s ON s.tenant_id = c.cat_tenant
        |ORDER BY req_id""".stripMargin,
      O.objects,
      O.values("svc_reqs", T.s3ContextRequestRows),
      O.tenantAccessCat,
      """svc_catalog AS (
        |  SELECT DISTINCT access_id, tenant_id AS cat_tenant
        |  FROM t_access_cat)""".stripMargin,
      O.values("empty_tenant", T.emptyTenantRows),
      """svc_state AS (
        |  SELECT DISTINCT 'tenant' || substr(volume, 4, 10) AS tenant_id,
        |    volume AS tenant_volume
        |  FROM objects
        |  UNION ALL SELECT tenant_id, volume FROM empty_tenant)"""
        .stripMargin),

    // Ranger version-fence mirror: the same closed form.
    "q_ranger_version" -> O.withCtes(
      """SELECT run_id, db_version,
        |  CASE WHEN db_version = v0 THEN 0
        |       WHEN v1 = v0 THEN 1 ELSE 2 END AS attempts,
        |  CASE WHEN db_version = v0 THEN db_version
        |       WHEN v1 = v0 THEN v0 ELSE v1 END AS final_db_version,
        |  CASE WHEN db_version = v0 THEN 'IN_SYNC'
        |       WHEN v1 = v0 THEN 'SYNCED'
        |       WHEN v2 = v1 THEN 'SYNCED'
        |       ELSE 'ABORTED_MAX_ATTEMPT' END AS outcome
        |FROM rsv_runs ORDER BY run_id""".stripMargin,
      O.values("rsv_runs", T.rangerSyncRunRows)),

    // Lifecycle-service mirror: running last-applied toggle + prior-save
    // count per bucket cursor.
    "q_lifecycle_service" -> O.withCtes(
      """SELECT seq, op_type, caller, bucket_key, decision,
        |  coalesce(last_value(CASE WHEN decision = 'SUSPENDED' THEN true
        |      WHEN decision = 'RESUMED' THEN false END IGNORE NULLS)
        |    OVER (ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW), false) AS suspended_after,
        |  decision = 'SAVED' AND
        |    count(CASE WHEN decision = 'SAVED' THEN 1 END)
        |      OVER (PARTITION BY bucket_key ORDER BY seq
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 0
        |    AS replaced_prior
        |FROM (
        |  SELECT *,
        |    CASE
        |      WHEN op_type = 'STATUS' AND seq < 5
        |        THEN 'NOT_SUPPORTED_OPERATION_PRIOR_FINALIZATION'
        |      WHEN caller <> 'om-admin' THEN 'ACCESS_DENIED'
        |      WHEN op_type = 'SAVE' THEN 'SAVED'
        |      WHEN suspend THEN 'SUSPENDED'
        |      ELSE 'RESUMED' END AS decision
        |  FROM ls_ops)
        |ORDER BY seq""".stripMargin,
      O.values("ls_ops", T.lifecycleServiceOpRows)),

    // KeyPurge mirror: chain-prev window + latest-global scalar, bucket
    // refunds through the live catalog's minted oids.
    "q_key_purge" -> O.withCtes(
      """SELECT req_id, from_snapshot, decision,
        |  CASE WHEN decision = 'PURGED' THEN n_deleted ELSE 0 END
        |    AS purged_keys,
        |  CASE WHEN decision = 'PURGED' THEN n_renamed ELSE 0 END
        |    AS purged_renames,
        |  CASE WHEN decision = 'PURGED' THEN coalesce(buckets_updated, 0)
        |    ELSE 0 END AS buckets_updated,
        |  CASE WHEN decision = 'PURGED' THEN coalesce(bytes_refunded, 0)
        |    ELSE 0 END AS bytes_refunded
        |FROM (
        |  SELECT r.req_id, r.from_snapshot, r.n_deleted, r.n_renamed,
        |    u.buckets_updated, u.bytes_refunded,
        |    CASE
        |      WHEN r.from_snapshot <> '' AND cp.path_prev IS NULL
        |        THEN 'FILE_NOT_FOUND'
        |      WHEN r.has_expected AND r.expected_prev <>
        |        (CASE WHEN r.from_snapshot = '' THEN l.latest_global
        |           ELSE cp.path_prev END)
        |        THEN 'INVALID_REQUEST'
        |      WHEN r.n_deleted + r.n_renamed = 0 THEN 'KEY_DELETION_ERROR'
        |      ELSE 'PURGED' END AS decision
        |  FROM kp_reqs r
        |  CROSS JOIN latest l
        |  LEFT JOIN chain_prev cp ON cp.name = r.from_snapshot
        |  LEFT JOIN kp_upd u ON u.req_id = r.req_id)
        |ORDER BY req_id""".stripMargin,
      O.values("kp_reqs", T.keyPurgeRequestRows),
      O.values("kp_chain", T.snapshotChainGlobalRows),
      O.values("kp_sizes", T.keyPurgeBucketSizeRows),
      """chain_prev AS (
        |  SELECT name, coalesce(lag(name) OVER (PARTITION BY volume, bucket
        |    ORDER BY global_idx), '') AS path_prev
        |  FROM kp_chain)""".stripMargin,
      """latest AS (
        |  SELECT name AS latest_global FROM kp_chain
        |  ORDER BY global_idx DESC LIMIT 1)""".stripMargin,
      O.objects, O.buckets,
      """kp_cat AS (
        |  SELECT volume, bucket,
        |    CAST(substr(volume, 4, 10) AS BIGINT) * 100 +
        |    CAST(substr(bucket, 7, 10) AS BIGINT) + 10 AS bucket_oid
        |  FROM buckets)""".stripMargin,
      """kp_upd AS (
        |  SELECT s.req_id,
        |    count(DISTINCT CASE WHEN c.bucket_oid IS NOT NULL
        |      AND s.bucket_id = c.bucket_oid
        |      THEN s.volume || '/' || s.bucket END) AS buckets_updated,
        |    CAST(coalesce(sum(CASE WHEN c.bucket_oid IS NOT NULL
        |      AND s.bucket_id = c.bucket_oid
        |      THEN s.purged_bytes ELSE 0 END), 0) AS BIGINT)
        |      AS bytes_refunded
        |  FROM kp_sizes s
        |  LEFT JOIN kp_cat c
        |    ON c.volume = s.volume AND c.bucket = s.bucket
        |  GROUP BY s.req_id)""".stripMargin),

    // DirectoriesPurge mirror: same chain-prev/latest probe as key purge,
    // per-row gated refunds, dedup'd sub-dirs minus deleted dirs,
    // gate-independent hsync tagging, no empty-list rung.
    "q_dir_purge" -> O.withCtes(
      """SELECT req_id, from_snapshot, decision,
        |  CASE WHEN decision = 'PURGED' THEN coalesce(dirs_deleted, 0)
        |    ELSE 0 END AS dirs_deleted,
        |  CASE WHEN decision = 'PURGED' THEN coalesce(subdirs_moved, 0)
        |    ELSE 0 END AS subdirs_moved,
        |  CASE WHEN decision = 'PURGED' THEN coalesce(subfiles_moved, 0)
        |    ELSE 0 END AS subfiles_moved,
        |  CASE WHEN decision = 'PURGED' THEN coalesce(ns_refunded, 0)
        |    ELSE 0 END AS ns_refunded,
        |  CASE WHEN decision = 'PURGED' THEN coalesce(bytes_refunded, 0)
        |    ELSE 0 END AS bytes_refunded,
        |  CASE WHEN decision = 'PURGED' THEN coalesce(snap_ns_purged, 0)
        |    ELSE 0 END AS snap_ns_purged,
        |  CASE WHEN decision = 'PURGED' THEN coalesce(opens_tagged, 0)
        |    ELSE 0 END AS opens_tagged
        |FROM (
        |  SELECT r.req_id, r.from_snapshot, roll.dirs_deleted,
        |    sm.subdirs_moved, roll.subfiles_moved, roll.ns_refunded,
        |    roll.bytes_refunded, roll.snap_ns_purged, roll.opens_tagged,
        |    CASE
        |      WHEN r.from_snapshot <> '' AND cp.path_prev IS NULL
        |        THEN 'FILE_NOT_FOUND'
        |      WHEN r.has_expected AND r.expected_prev <>
        |        (CASE WHEN r.from_snapshot = '' THEN l.latest_global
        |           ELSE cp.path_prev END)
        |        THEN 'INVALID_REQUEST'
        |      ELSE 'PURGED' END AS decision
        |  FROM dp_reqs r
        |  CROSS JOIN latest l
        |  LEFT JOIN chain_prev cp ON cp.name = r.from_snapshot
        |  LEFT JOIN dp_roll roll ON roll.req_id = r.req_id
        |  LEFT JOIN dp_sm sm ON sm.req_id = r.req_id)
        |ORDER BY req_id""".stripMargin,
      O.values("dp_reqs", T.dirPurgeRequestRows),
      O.values("dp_entries", T.dirPurgeEntryRows),
      O.values("kp_chain", T.snapshotChainGlobalRows),
      """chain_prev AS (
        |  SELECT name, coalesce(lag(name) OVER (PARTITION BY volume, bucket
        |    ORDER BY global_idx), '') AS path_prev
        |  FROM kp_chain)""".stripMargin,
      """latest AS (
        |  SELECT name AS latest_global FROM kp_chain
        |  ORDER BY global_idx DESC LIMIT 1)""".stripMargin,
      O.objects, O.buckets,
      """kp_cat AS (
        |  SELECT volume, bucket,
        |    CAST(substr(volume, 4, 10) AS BIGINT) * 100 +
        |    CAST(substr(bucket, 7, 10) AS BIGINT) + 10 AS bucket_oid
        |  FROM buckets)""".stripMargin,
      """dp_gated AS (
        |  SELECT e.*, (c.bucket_oid IS NOT NULL
        |    AND e.bucket_id = c.bucket_oid) AS gate
        |  FROM dp_entries e
        |  LEFT JOIN kp_cat c
        |    ON c.volume = e.volume AND c.bucket = e.bucket)""".stripMargin,
      """dp_dd AS (
        |  SELECT DISTINCT req_id, object_id FROM dp_gated
        |  WHERE kind = 'DELETED_DIR')""".stripMargin,
      """dp_sm AS (
        |  SELECT g.req_id, count(DISTINCT g.object_id) AS subdirs_moved
        |  FROM dp_gated g
        |  WHERE g.kind = 'SUB_DIR' AND NOT EXISTS (
        |    SELECT 1 FROM dp_dd d
        |    WHERE d.req_id = g.req_id AND d.object_id = g.object_id)
        |  GROUP BY 1)""".stripMargin,
      """dp_roll AS (
        |  SELECT req_id,
        |    CAST(sum(CASE WHEN kind = 'DELETED_DIR' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dirs_deleted,
        |    CAST(sum(CASE WHEN kind = 'SUB_FILE' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS subfiles_moved,
        |    CAST(sum(CASE WHEN gate AND kind IN ('SUB_DIR', 'SUB_FILE')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ns_refunded,
        |    CAST(sum(CASE WHEN gate AND kind = 'SUB_FILE'
        |      THEN size_bytes ELSE 0 END) AS BIGINT) AS bytes_refunded,
        |    CAST(sum(CASE WHEN gate AND kind = 'DELETED_DIR'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS snap_ns_purged,
        |    count(DISTINCT CASE WHEN kind = 'SUB_FILE' AND hsync
        |      AND open_exists THEN object_id END) AS opens_tagged
        |  FROM dp_gated GROUP BY 1)""".stripMargin),

    // SnapshotMoveTableKeys mirror: from-probe first, filtered lists,
    // prefix-then-dup walk in table order, chain-next ACTIVE gate.
    // Legacy SnapshotMoveDeletedKeys mirror: existence-only probe,
    // chain successor regardless of status, verbatim list counts.
    "q_snapshot_move_deleted" -> O.withCtes(
      """SELECT req_id, volume, bucket, from_name, decision,
        |  CASE WHEN decision = 'MOVED' THEN coalesce(next_name, 'AOS')
        |    ELSE '' END AS destination,
        |  CASE WHEN decision = 'MOVED'
        |    THEN CAST(substr(volume, 4, 10) AS BIGINT) * 100 +
        |      CAST(substr(bucket, 7, 10) AS BIGINT) + 10
        |    ELSE 0 END AS bucket_id,
        |  CASE WHEN decision = 'MOVED' THEN coalesce(n_next_db, 0)
        |    ELSE 0 END AS moved_next_db,
        |  CASE WHEN decision = 'MOVED' THEN coalesce(n_reclaim, 0)
        |    ELSE 0 END AS moved_reclaim,
        |  CASE WHEN decision = 'MOVED' THEN coalesce(n_renamed, 0)
        |    ELSE 0 END AS moved_renamed,
        |  CASE WHEN decision = 'MOVED' THEN coalesce(n_dirs, 0)
        |    ELSE 0 END AS moved_dirs
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket, r.from_name, cn.next_name,
        |    co.n_next_db, co.n_reclaim, co.n_renamed, co.n_dirs,
        |    CASE WHEN ca.name IS NULL THEN 'FILE_NOT_FOUND'
        |      ELSE 'MOVED' END AS decision
        |  FROM smd_reqs r
        |  LEFT JOIN smd_cat ca ON r.volume = ca.volume
        |    AND r.bucket = ca.bucket AND r.from_name = ca.name
        |  LEFT JOIN smd_chain_next cn ON r.volume = cn.volume
        |    AND r.bucket = cn.bucket AND r.from_name = cn.from_name
        |  LEFT JOIN smd_counts co ON r.req_id = co.req_id)
        |ORDER BY req_id""".stripMargin,
      O.values("smd_chain", T.snapshotChainGlobalRows),
      O.snapshotCatalog("smd_cat", live = true),
      O.values("smd_reqs", T.moveDeletedKeysRequestRows),
      O.values("smd_entries", T.moveDeletedKeysEntryRows),
      """smd_chain_next AS (
        |  SELECT volume, bucket, name AS from_name,
        |    lead(name) OVER (PARTITION BY volume, bucket
        |      ORDER BY global_idx) AS next_name
        |  FROM smd_chain)""".stripMargin,
      """smd_counts AS (
        |  SELECT req_id,
        |    CAST(sum(CASE WHEN tbl = 'NEXT_DB' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_next_db,
        |    CAST(sum(CASE WHEN tbl = 'RECLAIM' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_reclaim,
        |    CAST(sum(CASE WHEN tbl = 'RENAMED' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_renamed,
        |    CAST(sum(CASE WHEN tbl = 'MOVED_DIR' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_dirs
        |  FROM smd_entries GROUP BY req_id)""".stripMargin),

    "q_snapshot_move_keys" -> O.withCtes(
      """SELECT req_id, volume, bucket, from_name, decision,
        |  CASE WHEN decision = 'MOVED' THEN coalesce(next_name, 'AOS')
        |    ELSE '' END AS destination,
        |  CASE WHEN decision = 'MOVED' THEN coalesce(n_deleted, 0)
        |    ELSE 0 END AS moved_deleted,
        |  CASE WHEN decision = 'MOVED' THEN coalesce(n_renamed, 0)
        |    ELSE 0 END AS moved_renamed,
        |  CASE WHEN decision = 'MOVED' THEN coalesce(n_dirs, 0)
        |    ELSE 0 END AS moved_dirs
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket, r.from_name, cn.next_name,
        |    co.n_deleted, co.n_renamed, co.n_dirs,
        |    CASE WHEN cn.from_name IS NULL THEN 'FILE_NOT_FOUND'
        |      WHEN fe.first_err IS NOT NULL THEN fe.first_err
        |      WHEN cn.next_name IS NOT NULL
        |        AND cn.next_status <> 'SNAPSHOT_ACTIVE'
        |        THEN 'INVALID_SNAPSHOT_ERROR'
        |      ELSE 'MOVED' END AS decision
        |  FROM mtk_reqs r
        |  LEFT JOIN mtk_chain_next cn ON r.volume = cn.volume
        |    AND r.bucket = cn.bucket AND r.from_name = cn.from_name
        |  LEFT JOIN mtk_first_err fe ON r.req_id = fe.req_id
        |  LEFT JOIN mtk_counts co ON r.req_id = co.req_id)
        |ORDER BY req_id""".stripMargin,
      O.values("mtk_ids", T.fsoBucketIdRows),
      O.values("mtk_chain", T.snapshotChainGlobalRows),
      O.snapshotCatalog("mtk_cat", live = true),
      O.values("mtk_reqs", T.moveTableKeysRequestRows),
      O.values("mtk_entries", T.moveTableKeysEntryRows),
      """mtk_graded AS (
        |  SELECT c.req_id, c.tbl, c.tbl_order, c.pos,
        |    CASE WHEN NOT starts_with(c.db_key,
        |        CASE WHEN c.tbl = 'DELETED_DIR'
        |          THEN '/' || i.vol_id || '/' || i.bucket_id || '/'
        |          ELSE '/' || c.volume || '/' || c.bucket || '/' END)
        |      THEN 'INVALID_KEY_NAME'
        |      WHEN row_number() OVER (PARTITION BY c.req_id, c.tbl,
        |        c.db_key ORDER BY c.pos) > 1 THEN 'INVALID_REQUEST'
        |      END AS err
        |  FROM (
        |    SELECT e.*, r.volume, r.bucket,
        |      CASE e.tbl WHEN 'DELETED' THEN 1 WHEN 'RENAMED' THEN 2
        |        ELSE 3 END AS tbl_order
        |    FROM mtk_entries e JOIN mtk_reqs r ON e.req_id = r.req_id
        |    WHERE (e.tbl = 'DELETED' AND e.n_infos > 0)
        |      OR (e.tbl = 'RENAMED' AND e.has_value)
        |      OR (e.tbl = 'DELETED_DIR' AND e.n_infos = 1)) c
        |  LEFT JOIN mtk_ids i ON c.volume = i.volume
        |    AND c.bucket = i.bucket)""".stripMargin,
      """mtk_first_err AS (
        |  SELECT req_id, arg_min(err, tbl_order * 1000000 + pos)
        |    AS first_err
        |  FROM mtk_graded WHERE err IS NOT NULL GROUP BY req_id)"""
        .stripMargin,
      """mtk_counts AS (
        |  SELECT req_id,
        |    CAST(count(*) FILTER (tbl = 'DELETED') AS BIGINT)
        |      AS n_deleted,
        |    CAST(count(*) FILTER (tbl = 'RENAMED') AS BIGINT)
        |      AS n_renamed,
        |    CAST(count(*) FILTER (tbl = 'DELETED_DIR') AS BIGINT)
        |      AS n_dirs
        |  FROM mtk_graded GROUP BY req_id)""".stripMargin,
      """mtk_chain_next AS (
        |  SELECT ch.volume, ch.bucket, ch.name AS from_name,
        |    ch.next_name, ct.status AS next_status
        |  FROM (
        |    SELECT volume, bucket, name, global_idx,
        |      lead(name) OVER (PARTITION BY volume, bucket
        |        ORDER BY global_idx) AS next_name
        |    FROM mtk_chain) ch
        |  LEFT JOIN mtk_cat ct ON ch.volume = ct.volume
        |    AND ch.bucket = ct.bucket AND ch.next_name = ct.name)"""
        .stripMargin),

    // SetSnapshotProperty ladder mirror: dup window beats existence.
    "q_snapshot_set_property" -> O.withCtes(
      """SELECT req_id, volume, bucket, name, property,
        |  CASE WHEN occurrence > 1 THEN 'INVALID_REQUEST'
        |    WHEN snap_exists IS NULL THEN 'FILE_NOT_FOUND'
        |    ELSE 'UPDATED' END AS decision
        |FROM (
        |  SELECT r.req_id, r.volume, r.bucket, r.name, r.property,
        |    row_number() OVER (PARTITION BY r.volume, r.bucket, r.name
        |      ORDER BY r.req_id) AS occurrence,
        |    sn.name AS snap_exists
        |  FROM ssp_reqs r
        |  LEFT JOIN snapsext sn ON r.volume = sn.volume
        |    AND r.bucket = sn.bucket AND r.name = sn.name)
        |ORDER BY req_id""".stripMargin,
      O.snapshotCatalog("snapsext", live = false),
      O.values("ssp_reqs", T.snapshotSetPropertyRequestRows)),

    // QuotaRepair recount mirror: replicated-size recount + FSO dir
    // namespace, diffed against the stored catalog.
    "q_quota_repair" -> O.withCtes(
      """SELECT b.volume, b.bucket,
        |  b.used_bytes AS stored_bytes,
        |  coalesce(k.actual_bytes, 0) AS actual_bytes,
        |  coalesce(k.actual_bytes, 0) - b.used_bytes AS diff_bytes,
        |  b.used_namespace AS stored_ns,
        |  coalesce(k.key_ns, 0) + CASE WHEN b.layout = 'FSO'
        |    THEN coalesce(d.dir_ns, 0) ELSE 0 END AS actual_ns,
        |  coalesce(k.key_ns, 0) + CASE WHEN b.layout = 'FSO'
        |    THEN coalesce(d.dir_ns, 0) ELSE 0 END
        |    - b.used_namespace AS diff_ns,
        |  coalesce(k.actual_bytes, 0) <> b.used_bytes
        |    OR coalesce(k.key_ns, 0) + CASE WHEN b.layout = 'FSO'
        |      THEN coalesce(d.dir_ns, 0) ELSE 0 END
        |      <> b.used_namespace AS changed
        |FROM buckets b
        |LEFT JOIN (
        |  SELECT volume, bucket, count(*) AS key_ns,
        |    CAST(sum(replicated_size) AS BIGINT) AS actual_bytes
        |  FROM objects GROUP BY 1, 2) k
        |  ON b.volume = k.volume AND b.bucket = k.bucket
        |LEFT JOIN (
        |  SELECT volume, bucket, count(*) AS dir_ns
        |  FROM (
        |    SELECT DISTINCT volume, bucket,
        |      array_to_string(list_slice(string_split(key, '/'), 1, d),
        |        '/') AS path
        |    FROM (
        |      SELECT volume, bucket, key,
        |        unnest(generate_series(1,
        |          len(string_split(key, '/')) - 1)) AS d
        |      FROM objects))
        |  GROUP BY 1, 2) d
        |  ON b.volume = d.volume AND b.bucket = d.bucket
        |ORDER BY b.volume, b.bucket""".stripMargin,
      O.objects, O.buckets),

    // SetBucketProperty quota ladder: same staged CASE over broadcastable
    // catalog rollups; -2 = absent field, -1 = QUOTA_RESET
    "q_set_quota" -> O.withCtes(
      """SELECT r.volume, r.bucket, r.new_quota_bytes, r.new_quota_ns,
        |  CASE
        |    WHEN b.bucket IS NULL AND l.bucket IS NULL
        |      THEN 'BUCKET_NOT_FOUND'
        |    WHEN l.bucket IS NOT NULL THEN 'CANNOT_SET_ON_LINK'
        |    WHEN r.new_quota_bytes = -1 AND v.quota_bytes <> -1
        |      THEN 'QUOTA_ERROR_CLEAR'
        |    WHEN r.new_quota_bytes > 0
        |      AND r.new_quota_bytes < b.used_bytes
        |      THEN 'QUOTA_ERROR_BELOW_USAGE'
        |    WHEN r.new_quota_bytes > 0
        |      AND r.new_quota_bytes >= b.quota_bytes
        |      AND v.quota_bytes <> -1
        |      AND coalesce(q.all_quota_sum, 0)
        |        - CASE WHEN b.quota_bytes > -1 THEN b.quota_bytes
        |               ELSE 0 END
        |        + r.new_quota_bytes > v.quota_bytes
        |      THEN 'QUOTA_EXCEEDED'
        |    WHEN r.new_quota_ns > 0 AND r.new_quota_ns < b.used_namespace
        |      THEN 'QUOTA_ERROR_NS_BELOW_USAGE'
        |    ELSE 'UPDATED' END AS decision
        |FROM reqs r
        |LEFT JOIN buckets b ON r.volume = b.volume AND r.bucket = b.bucket
        |LEFT JOIN links l ON r.volume = l.volume AND r.bucket = l.bucket
        |LEFT JOIN volumes v ON r.volume = v.volume
        |LEFT JOIN (
        |  SELECT volume, CAST(sum(CASE WHEN quota_bytes > -1
        |    THEN quota_bytes ELSE 0 END) AS BIGINT) AS all_quota_sum
        |  FROM buckets GROUP BY 1) q ON r.volume = q.volume
        |ORDER BY r.volume, r.bucket, r.new_quota_bytes,
        |  r.new_quota_ns""".stripMargin,
      O.objects, O.buckets, O.volumes,
      O.values("links", T.bucketLinkRows),
      O.values("sq_probes", T.setQuotaProbeRows),
      """reqs AS (
        |  SELECT volume, bucket,
        |    CASE WHEN bucket_idx % 5 = 0 THEN used_bytes + 1000000000
        |         WHEN bucket_idx % 5 = 1 THEN -1
        |         WHEN bucket_idx % 5 = 2
        |           THEN greatest(used_bytes // 2, 1)
        |         WHEN bucket_idx % 5 = 3 THEN 999999000000
        |         ELSE -2 END AS new_quota_bytes,
        |    CASE WHEN bucket_idx % 5 = 4
        |      THEN greatest(used_namespace // 2, 1)
        |      ELSE -2 END AS new_quota_ns
        |  FROM (SELECT *, CAST(substr(bucket, 7, 10) AS BIGINT)
        |          AS bucket_idx FROM buckets)
        |  UNION ALL SELECT * FROM sq_probes)""".stripMargin),

    // Rack-aware placement: same staged picks — candidates exclude
    // holders and short-space nodes, rank by (new rack, free space, id);
    // the second pick re-excludes the first pick's node and rack.
    "q_replica_placement" -> O.withCtes(
      """SELECT container_id, CAST(1 AS BIGINT) AS pick, uuid AS datanode,
        |  dn_rack AS rack, new_rack
        |FROM pick1
        |UNION ALL
        |SELECT container_id, CAST(2 AS BIGINT), uuid, dn_rack, new_rack
        |FROM pick2 WHERE rn2 = 1
        |ORDER BY container_id, pick""".stripMargin,
      O.containersScm, O.replicas, O.datanodes,
      """per_cont AS (
        |  SELECT container_id,
        |    sum(CASE WHEN replica_state <> 'UNHEALTHY' THEN 1 ELSE 0 END)
        |      AS healthy,
        |    list(datanode) AS held_nodes,
        |    list(rack) FILTER (replica_state <> 'UNHEALTHY') AS held_racks
        |  FROM replicas GROUP BY 1)""".stripMargin,
      """under_rep AS (
        |  SELECT c.container_id, c.used_bytes AS container_bytes,
        |    p.held_nodes, p.held_racks,
        |    c.replication_factor - p.healthy AS needed
        |  FROM containers_scm c JOIN per_cont p USING (container_id)
        |  WHERE c.state <> 'DELETED'
        |    AND c.replication_factor - p.healthy > 0)""".stripMargin,
      """elig AS (
        |  SELECT uuid, rack AS dn_rack, remaining FROM datanodes
        |  WHERE state = 'HEALTHY' AND op_state = 'IN_SERVICE')""".stripMargin,
      """ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY container_id
        |    ORDER BY new_rack DESC, remaining DESC, uuid) AS rn
        |  FROM (
        |    SELECT u.container_id, u.needed, e.uuid, e.dn_rack, e.remaining,
        |      NOT list_contains(coalesce(u.held_racks, []), e.dn_rack) AS new_rack
        |    FROM under_rep u CROSS JOIN elig e
        |    WHERE NOT list_contains(u.held_nodes, e.uuid)
        |      AND e.remaining >= greatest(5368709120, u.container_bytes)))""".stripMargin,
      """pick1 AS (SELECT * FROM ranked WHERE rn = 1)""",
      """pick2 AS (
        |  SELECT r.container_id, r.uuid, r.dn_rack, r.new_rack,
        |    row_number() OVER (PARTITION BY r.container_id
        |      ORDER BY (r.dn_rack <> p.dn_rack) DESC, r.new_rack DESC,
        |        r.remaining DESC, r.uuid) AS rn2
        |  FROM ranked r JOIN pick1 p ON r.container_id = p.container_id
        |  WHERE r.needed >= 2 AND r.uuid <> p.uuid)""".stripMargin),

    // Report-fold mirror: FCR boundary per node, latest event wins,
    // DELETED drops.
    "q_container_report_fold" -> O.withCtes(
      """SELECT datanode, container_id, last_state AS replica_state
        |FROM (
        |  SELECT e.datanode, e.container_id,
        |    arg_max(e.replica_state, e.seq) AS last_state
        |  FROM cre e
        |  LEFT JOIN (SELECT datanode, max(seq) AS fcr_seq
        |             FROM cre WHERE kind = 'FCR' GROUP BY 1) b
        |    ON e.datanode = b.datanode
        |  WHERE e.seq >= coalesce(b.fcr_seq, 0)
        |  GROUP BY 1, 2)
        |WHERE last_state <> 'DELETED'
        |ORDER BY datanode, container_id""".stripMargin,
      O.containersScm, O.replicas,
      """cre AS (
        |  SELECT 1 AS seq, datanode, 'FCR' AS kind, container_id,
        |    replica_state
        |  FROM replicas
        |  UNION ALL
        |  SELECT 2, datanode, 'ICR', container_id, 'DELETED'
        |  FROM (SELECT container_id, min(datanode) AS datanode
        |        FROM replicas WHERE container_id % 7 = 1 GROUP BY 1)
        |  UNION ALL
        |  SELECT 3, 'dn19', 'ICR', container_id, 'CLOSED'
        |  FROM (SELECT DISTINCT container_id FROM replicas
        |        WHERE container_id % 11 = 3)
        |  UNION ALL
        |  SELECT 4, datanode, 'FCR', container_id, 'QUASI_CLOSED'
        |  FROM replicas WHERE datanode = 'dn0' AND container_id % 2 = 0
        |  UNION ALL
        |  SELECT 5, datanode, 'ICR', container_id, 'CLOSED'
        |  FROM replicas WHERE datanode = 'dn0' AND container_id % 2 = 1
        |    AND container_id % 3 = 0)""".stripMargin),

    // ReplicationManager queue mirror: dead excluded, OOS weight 5,
    // (weighted, container_id) priority order.
    "q_replication_queue" -> O.withCtes(
      """SELECT row_number() OVER (
        |    ORDER BY weighted_redundancy, container_id) AS queue_pos,
        |  container_id, replication_factor, available, out_of_service,
        |  remaining_redundancy, due_to_out_of_service,
        |  weighted_redundancy
        |FROM (
        |  SELECT c.container_id, c.replication_factor,
        |    coalesce(n.available, 0) AS available,
        |    coalesce(n.out_of_service, 0) AS out_of_service,
        |    greatest(coalesce(n.available, 0)
        |      + coalesce(n.out_of_service, 0) - 1, 0)
        |      AS remaining_redundancy,
        |    coalesce(n.available, 0) + coalesce(n.out_of_service, 0)
        |      >= c.replication_factor AS due_to_out_of_service,
        |    CASE WHEN coalesce(n.available, 0)
        |        + coalesce(n.out_of_service, 0) >= c.replication_factor
        |      THEN 5
        |      ELSE greatest(coalesce(n.available, 0)
        |        + coalesce(n.out_of_service, 0) - 1, 0) END
        |      AS weighted_redundancy
        |  FROM containers_scm c
        |  LEFT JOIN (
        |    SELECT r.container_id,
        |      CAST(sum(CASE WHEN d.op_state = 'IN_SERVICE'
        |        THEN 1 ELSE 0 END) AS BIGINT) AS available,
        |      CAST(sum(CASE WHEN d.op_state <> 'IN_SERVICE'
        |        THEN 1 ELSE 0 END) AS BIGINT) AS out_of_service
        |    FROM replicas r
        |    JOIN datanodes d ON r.datanode = d.uuid
        |    WHERE d.state <> 'DEAD' AND r.replica_state = 'CLOSED'
        |    GROUP BY 1) n USING (container_id)
        |  WHERE c.state <> 'DELETED')
        |WHERE available < replication_factor
        |  AND available + out_of_service > 0
        |ORDER BY queue_pos""".stripMargin,
      O.containersScm, O.replicas, O.datanodes),

    "q_decommission" -> O.withCtes(
      """SELECT l.datanode AS uuid, l.op_state,
        |  count(*) AS total,
        |  CAST(sum(CASE WHEN cls.class = 'SUFFICIENTLY_REPLICATED'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS sufficiently_replicated,
        |  CAST(sum(CASE WHEN cls.class = 'DELETING'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS deleting,
        |  CAST(sum(CASE WHEN cls.class = 'UNDER_REPLICATED'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS under_replicated,
        |  CAST(sum(CASE WHEN cls.class = 'UNCLOSED'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS unclosed,
        |  (sum(CASE WHEN cls.class = 'UNDER_REPLICATED' THEN 1 ELSE 0 END) = 0
        |   AND sum(CASE WHEN cls.class = 'UNCLOSED' THEN 1 ELSE 0 END) = 0)
        |    AS can_proceed
        |FROM (
        |  SELECT r.container_id, r.datanode, d.op_state
        |  FROM replicas r JOIN datanodes d ON r.datanode = d.uuid
        |  WHERE d.op_state <> 'IN_SERVICE') l
        |JOIN (
        |  SELECT container_id,
        |    CASE WHEN state IN ('DELETED', 'DELETING') THEN 'DELETING'
        |         WHEN state NOT IN ('CLOSED', 'QUASI_CLOSED')
        |           OR in_service = 0 OR mismatched > 0 THEN 'UNCLOSED'
        |         WHEN (CASE WHEN rf - healthy <= 0 THEN 0
        |               ELSE GREATEST(GREATEST(0, rf - healthy - maint),
        |                    GREATEST(0, LEAST(rf, 2) - healthy)) END) > 0
        |           THEN 'UNDER_REPLICATED'
        |         ELSE 'SUFFICIENTLY_REPLICATED' END AS class
        |  FROM (
        |    SELECT a.container_id,
        |      max(a.state) AS state,
        |      max(a.replication_factor) AS rf,
        |      sum(CASE WHEN a.op_state = 'IN_SERVICE'
        |        AND a.replica_state <> 'UNHEALTHY' THEN 1 ELSE 0 END)
        |        AS healthy,
        |      sum(CASE WHEN a.op_state IN
        |          ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
        |        AND a.replica_state <> 'UNHEALTHY' THEN 1 ELSE 0 END)
        |        AS maint,
        |      sum(CASE WHEN a.op_state = 'IN_SERVICE' THEN 1 ELSE 0 END)
        |        AS in_service,
        |      sum(CASE WHEN a.op_state = 'IN_SERVICE'
        |        AND a.replica_state <> 'UNHEALTHY'
        |        AND a.replica_state <> a.state THEN 1 ELSE 0 END)
        |        AS mismatched
        |    FROM (
        |      SELECT r.container_id, r.replica_state, d.op_state,
        |        c.state, c.replication_factor
        |      FROM replicas r
        |      JOIN datanodes d ON r.datanode = d.uuid
        |      JOIN containers_scm c USING (container_id)) a
        |    WHERE a.container_id IN (
        |      SELECT r2.container_id FROM replicas r2
        |      JOIN datanodes d2 ON r2.datanode = d2.uuid
        |      WHERE d2.op_state <> 'IN_SERVICE')
        |    GROUP BY a.container_id)) cls
        |  USING (container_id)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
      O.datanodes, O.containersScm, O.replicas),

    "q_balancer_plan" -> O.withCtes(
      """SELECT uuid, rack, capacity, utilization_bp,
        |  avg_bp AS avg_utilization_bp,
        |  CASE WHEN utilization_bp > avg_bp + 1000 THEN 'OVER_UTILIZED'
        |       WHEN utilization_bp < avg_bp - 1000 THEN 'UNDER_UTILIZED'
        |       ELSE 'WITHIN_THRESHOLD' END AS action,
        |  CASE WHEN utilization_bp > avg_bp + 1000
        |         THEN capacity * utilization_bp // 10000
        |            - capacity * (avg_bp + 1000) // 10000
        |       WHEN utilization_bp < avg_bp - 1000
        |         THEN capacity * (avg_bp - 1000) // 10000
        |            - capacity * utilization_bp // 10000
        |       ELSE 0 END AS move_bytes
        |FROM (
        |  SELECT *, (capacity - remaining) * 10000 // capacity AS utilization_bp
        |  FROM datanodes
        |  WHERE state = 'HEALTHY' AND op_state = 'IN_SERVICE') e
        |CROSS JOIN (
        |  SELECT (CAST(sum(capacity) AS BIGINT) - CAST(sum(remaining) AS BIGINT))
        |           * 10000 // CAST(sum(capacity) AS BIGINT) AS avg_bp
        |  FROM datanodes
        |  WHERE state = 'HEALTHY' AND op_state = 'IN_SERVICE') s
        |ORDER BY utilization_bp DESC, uuid""".stripMargin, O.datanodes),

    // balancer iteration: rank-paired over/under nodes, per-pair budgets
    // (source floor, target ceiling, iteration cap), largest-first fill
    "q_balancer_moves" -> O.withCtes(
      """SELECT source, target, container_id, used_bytes, cum_bytes
        |FROM (
        |  SELECT c.source, c.target, c.container_id, c.used_bytes,
        |    CAST(sum(c.used_bytes) OVER (PARTITION BY c.source
        |      ORDER BY c.used_bytes DESC, c.container_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_bytes,
        |    c.budget
        |  FROM (
        |    SELECT p.source, p.target, p.budget, r.container_id,
        |      ci.used_bytes
        |    FROM pairs p
        |    JOIN replicas r ON r.datanode = p.source
        |    JOIN containers_scm ci ON ci.container_id = r.container_id
        |      AND ci.state = 'CLOSED'
        |    LEFT JOIN (SELECT DISTINCT container_id, datanode
        |               FROM replicas) t
        |      ON t.container_id = r.container_id AND t.datanode = p.target
        |    WHERE t.datanode IS NULL) c)
        |WHERE cum_bytes <= budget
        |ORDER BY source, cum_bytes""".stripMargin,
      O.containersScm, O.replicas, O.datanodes,
      """elig AS (
        |  SELECT *,
        |    (capacity - remaining) * 10000 // capacity AS utilization_bp
        |  FROM datanodes
        |  WHERE state = 'HEALTHY' AND op_state = 'IN_SERVICE')""".stripMargin,
      """stats AS (
        |  SELECT (CAST(sum(capacity) AS BIGINT)
        |    - CAST(sum(remaining) AS BIGINT)) * 10000
        |    // CAST(sum(capacity) AS BIGINT) AS avg_bp FROM elig)""".stripMargin,
      """overn AS (
        |  SELECT uuid AS source,
        |    row_number() OVER (ORDER BY utilization_bp DESC, uuid) AS rk,
        |    capacity * (utilization_bp - (avg_bp - 1000)) // 10000
        |      AS source_budget
        |  FROM elig CROSS JOIN stats
        |  WHERE utilization_bp > avg_bp + 1000)""".stripMargin,
      """undern AS (
        |  SELECT uuid AS target,
        |    row_number() OVER (ORDER BY utilization_bp ASC, uuid) AS rk,
        |    capacity * ((avg_bp + 1000) - utilization_bp) // 10000
        |      AS target_budget
        |  FROM elig CROSS JOIN stats
        |  WHERE utilization_bp < avg_bp - 1000)""".stripMargin,
      """pairs AS (
        |  SELECT o.source, u.target,
        |    least(o.source_budget, u.target_budget, 107374182400)
        |      AS budget
        |  FROM overn o JOIN undern u ON o.rk = u.rk)""".stripMargin),

    "q_deleted_dirs" -> O.withCtes(
      s"""SELECT n.volume, n.bucket, n.dir, dd.deleted_ms,
         |  n.num_files AS pending_files, n.size_of_files AS pending_bytes
         |FROM (
         |  SELECT volume, bucket, dir, count(*) AS num_files,
         |    CAST(sum(data_size) AS BIGINT) AS size_of_files
         |  FROM (
         |    SELECT volume, bucket, data_size,
         |      array_to_string(list_slice(string_split(key, '/'), 1, d), '/') AS dir
         |    FROM (
         |      SELECT *, unnest(generate_series(1,
         |        least(len(string_split(key, '/')) - 1,
         |              ${Aggregates.MaxAncestorDepth}))) AS d
         |      FROM objects_mixed))
         |  GROUP BY 1, 2, 3) n
         |JOIN deleted_dirs dd
         |  ON n.volume = dd.volume AND n.bucket = dd.bucket AND n.dir = dd.dir
         |ORDER BY n.volume, n.bucket, n.dir""".stripMargin,
      O.objects, O.objectsMixed, O.deletedDirs),

    "q_block_deletion" -> O.withCtes(
      s"""SELECT container_id,
         |  count(*) AS pending_txns,
         |  CAST(sum((data_size - 1) // ${graft.core.Tables.LocChunkBytes} + 1) AS BIGINT) AS pending_blocks,
         |  CAST(sum(data_size) AS BIGINT) AS pending_bytes,
         |  CAST(sum(CASE WHEN object_id % 5 > 3 THEN 1 ELSE 0 END) AS BIGINT) AS expired_txns
         |FROM objects
         |WHERE (version = 4 OR version = 5) AND (object_id // 10) % 10 = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin, O.objects),

    // /blocks/deletePending mirror: KV-canonical txns, per-state
    // row_number, scalar watermark cutoff.
    "q_blocks_pending_page" -> O.withCtes(
      s"""SELECT state, txn_id, container_id, local_id_count
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY state
         |    ORDER BY txn_id) AS rn
         |  FROM (
         |    SELECT c.state, t.txn_id, t.container_id,
         |      (t.data_size - 1) // ${graft.core.Tables.LocChunkBytes} + 1
         |        AS local_id_count
         |    FROM (
         |      SELECT object_id AS txn_id,
         |        CAST(max(data_size) AS BIGINT) AS data_size,
         |        (object_id // 10) % 1000 AS container_id
         |      FROM objects
         |      WHERE (version = 4 OR version = 5)
         |        AND (object_id // 10) % 10 = 0
         |      GROUP BY object_id) t
         |    JOIN containers_scm c ON c.container_id = t.container_id
         |    WHERE t.txn_id > 20000)) r
         |WHERE txn_id <= coalesce(
         |  (SELECT min(CASE WHEN rn = 40 THEN txn_id END)
         |   FROM (
         |     SELECT row_number() OVER (PARTITION BY state
         |       ORDER BY txn_id) AS rn, txn_id
         |     FROM (
         |       SELECT c.state, t.txn_id
         |       FROM (
         |         SELECT object_id AS txn_id,
         |           (object_id // 10) % 1000 AS container_id
         |         FROM objects
         |         WHERE (version = 4 OR version = 5)
         |           AND (object_id // 10) % 10 = 0
         |         GROUP BY object_id) t
         |       JOIN containers_scm c ON c.container_id = t.container_id
         |       WHERE t.txn_id > 20000))), 9223372036854775807)
         |ORDER BY txn_id""".stripMargin,
      O.objects, O.containersScm),

    // Pipeline-scrub mirror: the same mints + a dead-member any().
    "q_pipeline_scrub" -> O.withCtes(
      """SELECT pipeline_id, scrub_state, replication,
        |  CASE
        |    WHEN scrub_state = 'ALLOCATED'
        |      AND pipeline_idx * 3600000 >= 18000000
        |      THEN 'CLOSE_AND_DELETE'
        |    WHEN scrub_state = 'CLOSED'
        |      AND pipeline_idx * 3600000 - 600000 >= 14400000
        |      THEN 'DELETE'
        |    WHEN scrub_state = 'OPEN'
        |      AND coalesce(has_unregistered, 0) = 1 THEN 'CLOSE'
        |    ELSE 'RETAIN' END AS verdict
        |FROM (
        |  SELECT p.*, u.has_unregistered,
        |    CASE WHEN p.pipeline_idx % 5 = 3 THEN 'ALLOCATED'
        |      ELSE p.state END AS scrub_state
        |  FROM pipelines p
        |LEFT JOIN (
        |  SELECT m.pipeline_id,
        |    max(CASE WHEN d.state = 'DEAD' THEN 1 ELSE 0 END)
        |      AS has_unregistered
        |  FROM pipeline_members m
        |  JOIN datanodes d ON d.uuid = m.datanode
        |  GROUP BY m.pipeline_id) u ON u.pipeline_id = p.pipeline_id)
        |ORDER BY pipeline_id""".stripMargin,
      O.datanodes, O.pipelines, O.pipelineMembers),

    // Lifecycle-fold mirror: list_reduce prefix folds over ordered
    // per-container event lists.
    "q_container_lifecycle" -> O.withCtes(
      """SELECT container_id, i AS seq, evs[i] AS event,
        |  state_before,
        |  CASE
        |    WHEN evs[i] = 'FINALIZE' AND state_before = 'OPEN'
        |      THEN 'CLOSING'
        |    WHEN evs[i] = 'QUASI_CLOSE' AND state_before = 'CLOSING'
        |      THEN 'QUASI_CLOSED'
        |    WHEN evs[i] = 'CLOSE' AND state_before = 'CLOSING'
        |      THEN 'CLOSED'
        |    WHEN evs[i] = 'FORCE_CLOSE' AND state_before = 'QUASI_CLOSED'
        |      THEN 'CLOSED'
        |    WHEN evs[i] = 'DELETE'
        |      AND state_before IN ('QUASI_CLOSED', 'CLOSED')
        |      THEN 'DELETING'
        |    WHEN evs[i] = 'CLEANUP' AND state_before = 'DELETING'
        |      THEN 'DELETED'
        |    ELSE state_before END AS state_after,
        |  CASE
        |    WHEN state_after <> state_before THEN 'TRANSITIONED'
        |    WHEN (evs[i] = 'FINALIZE' AND state_before IN ('CLOSING',
        |        'QUASI_CLOSED', 'CLOSED', 'DELETING', 'DELETED'))
        |      OR (evs[i] = 'QUASI_CLOSE' AND state_before IN
        |        ('QUASI_CLOSED', 'CLOSED', 'DELETING', 'DELETED'))
        |      OR (evs[i] IN ('CLOSE', 'FORCE_CLOSE') AND state_before
        |        IN ('CLOSED', 'DELETING', 'DELETED'))
        |      OR (evs[i] = 'DELETE' AND state_before IN
        |        ('DELETING', 'DELETED'))
        |      OR (evs[i] = 'CLEANUP' AND state_before = 'DELETED')
        |      THEN 'IDEMPOTENT_NOOP'
        |    ELSE 'INVALID_IGNORED' END AS outcome
        |FROM (
        |  SELECT container_id, evs, i,
        |    list_reduce(list_prepend('OPEN', evs[1:i-1]), (s, e) ->
        |      CASE
        |        WHEN e = 'FINALIZE' AND s = 'OPEN' THEN 'CLOSING'
        |        WHEN e = 'QUASI_CLOSE' AND s = 'CLOSING'
        |          THEN 'QUASI_CLOSED'
        |        WHEN e = 'CLOSE' AND s = 'CLOSING' THEN 'CLOSED'
        |        WHEN e = 'FORCE_CLOSE' AND s = 'QUASI_CLOSED'
        |          THEN 'CLOSED'
        |        WHEN e = 'DELETE' AND s IN ('QUASI_CLOSED', 'CLOSED')
        |          THEN 'DELETING'
        |        WHEN e = 'CLEANUP' AND s = 'DELETING' THEN 'DELETED'
        |        ELSE s END) AS state_before
        |  FROM (
        |    SELECT container_id, list(event ORDER BY seq) AS evs
        |    FROM cl_events GROUP BY container_id),
        |    UNNEST(generate_series(1, len(evs))) AS u(i))
        |ORDER BY container_id, seq""".stripMargin,
      O.values("cl_events", T.containerLifecycleEventRows)),

    // Node-health mirror: the same fold as a recursive per-node walk.
    "q_node_health" -> O.withCtesRecursive(
      """SELECT e.uuid, e.ts AS check_ms,
        |  CASE WHEN e.ts - p.last_chk >= 300000 THEN 1 ELSE 0 END
        |    AS skipped,
        |  p.state AS state_before, c.state AS state_after,
        |  p.last_hb AS last_hb_ms,
        |  CASE
        |    WHEN e.ts - p.last_chk >= 300000 THEN ''
        |    WHEN p.state = 'HEALTHY' THEN CASE
        |      WHEN p.mlv <> 3 AND p.last_hb < e.ts - 300000
        |        THEN 'HEALTHY_READONLY_NODE,STALE_NODE'
        |      WHEN p.mlv <> 3 THEN 'HEALTHY_READONLY_NODE'
        |      WHEN p.last_hb < e.ts - 300000 THEN 'STALE_NODE'
        |      ELSE '' END
        |    WHEN p.state = 'HEALTHY_READONLY' THEN CASE
        |      WHEN p.mlv = 3 AND p.last_hb < e.ts - 300000
        |        THEN 'HEALTHY_READONLY_TO_HEALTHY_NODE,STALE_NODE'
        |      WHEN p.mlv = 3 THEN 'HEALTHY_READONLY_TO_HEALTHY_NODE'
        |      WHEN p.last_hb < e.ts - 300000 THEN 'STALE_NODE'
        |      ELSE '' END
        |    WHEN p.state = 'STALE' THEN CASE
        |      WHEN p.last_hb < e.ts - 600000 THEN 'DEAD_NODE'
        |      WHEN p.last_hb >= e.ts - 300000
        |        THEN 'HEALTHY_READONLY_NODE'
        |      ELSE '' END
        |    ELSE CASE
        |      WHEN p.last_hb >= e.ts - 300000
        |        THEN 'HEALTHY_READONLY_NODE'
        |      ELSE '' END
        |  END AS fired
        |FROM nh_sev e
        |JOIN nh_walk p ON p.uuid = e.uuid AND p.i = e.i - 1
        |JOIN nh_walk c ON c.uuid = e.uuid AND c.i = e.i
        |WHERE e.kind = 'CHECK' AND p.state <> ''
        |ORDER BY e.uuid, check_ms""".stripMargin,
      O.values("nh_events", T.nodeHealthEventRows),
      """nh_reg AS (
        |  SELECT uuid, ts_ms AS ts, mlv FROM nh_events
        |  WHERE kind = 'REGISTER')""".stripMargin,
      """nh_hb AS (
        |  SELECT uuid, ts_ms AS ts, mlv FROM nh_events
        |  WHERE kind = 'HB')""".stripMargin,
      O.values("nh_chk", T.nodeHealthCheckRows),
      """nh_ev AS (
        |  SELECT uuid, ts, 'REGISTER' AS kind, mlv FROM nh_reg
        |  UNION ALL SELECT uuid, ts, 'HB', mlv FROM nh_hb
        |  UNION ALL SELECT r.uuid, c.check_ms, 'CHECK', -1
        |    FROM nh_reg r, nh_chk c)""".stripMargin,
      """nh_sev AS (
        |  SELECT uuid, ts, kind, mlv,
        |    row_number() OVER (PARTITION BY uuid ORDER BY ts) AS i
        |  FROM nh_ev)""".stripMargin,
      """nh_walk(uuid, i, state, last_hb, last_chk, mlv) AS (
        |  SELECT uuid, 0, '', CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(-1 AS BIGINT)
        |  FROM nh_reg
        |  UNION ALL
        |  SELECT w.uuid, w.i + 1,
        |    CASE
        |      WHEN e.kind = 'REGISTER' THEN
        |        CASE WHEN e.mlv <> 3 THEN 'HEALTHY_READONLY'
        |          ELSE 'HEALTHY' END
        |      WHEN e.kind = 'HB' THEN w.state
        |      WHEN w.state = '' OR e.ts - w.last_chk >= 300000
        |        THEN w.state
        |      ELSE CASE w.state
        |        WHEN 'HEALTHY' THEN CASE
        |          WHEN w.last_hb < e.ts - 300000 THEN 'STALE'
        |          WHEN w.mlv <> 3 THEN 'HEALTHY_READONLY'
        |          ELSE 'HEALTHY' END
        |        WHEN 'HEALTHY_READONLY' THEN CASE
        |          WHEN w.last_hb < e.ts - 300000 THEN 'STALE'
        |          WHEN w.mlv = 3 THEN 'HEALTHY'
        |          ELSE 'HEALTHY_READONLY' END
        |        WHEN 'STALE' THEN CASE
        |          WHEN w.last_hb < e.ts - 600000 THEN 'DEAD'
        |          WHEN w.last_hb >= e.ts - 300000
        |            THEN 'HEALTHY_READONLY'
        |          ELSE 'STALE' END
        |        ELSE CASE
        |          WHEN w.last_hb >= e.ts - 300000
        |            THEN 'HEALTHY_READONLY'
        |          ELSE 'DEAD' END
        |      END
        |    END,
        |    CASE WHEN e.kind IN ('REGISTER', 'HB') THEN CAST(e.ts AS
        |      BIGINT) ELSE w.last_hb END,
        |    CASE WHEN e.kind = 'CHECK' THEN CAST(e.ts AS BIGINT)
        |      ELSE w.last_chk END,
        |    CASE WHEN e.kind IN ('REGISTER', 'HB') THEN CAST(e.mlv AS
        |      BIGINT) ELSE w.mlv END
        |  FROM nh_walk w
        |  JOIN nh_sev e ON e.uuid = w.uuid AND e.i = w.i + 1)""".stripMargin),

    // DN-dispatch mirror: the cumulative put-max window in SQL.
    "q_stale_recovering" -> O.withCtes(
      """SELECT container_id,
        |  CAST(deadline_ms AS BIGINT) AS deadline_ms,
        |  CASE WHEN deadline_ms > 1000000 THEN 'NOT_DUE'
        |    WHEN exec_deadline_ms > 1000000 THEN 'SKIP_EXTENDED'
        |    WHEN NOT "exists" THEN 'SKIP_MISSING'
        |    ELSE 'MARK_UNHEALTHY' END AS action
        |FROM rcv ORDER BY container_id""".stripMargin,
      O.values("rcv", T.recoveringContainerRows)),

    // Disk-balancer volume mirror: integer basis-point arithmetic over
    // the literal volume dim.
    "q_disk_balancer_volumes" -> O.withCtes(
      """SELECT u.volume_id, u.capacity, u.effective_used,
        |  u.utilization_bp, t.ideal_bp,
        |  t.ideal_bp - 1000 AS lower_bp, t.ideal_bp + 1000 AS upper_bp,
        |  CASE WHEN u.utilization_bp > t.ideal_bp + 1000
        |      THEN 'ABOVE_THRESHOLD'
        |    WHEN u.utilization_bp < t.ideal_bp - 1000
        |      THEN 'BELOW_THRESHOLD'
        |    ELSE 'WITHIN' END AS role,
        |  CAST(greatest((u.utilization_bp - (t.ideal_bp + 1000))
        |    * u.capacity, 0) // 10000 AS BIGINT) AS bytes_to_move,
        |  (t.n_usable >= 2 AND NOT (t.max_util < t.ideal_bp + 1000
        |    AND t.min_util > t.ideal_bp - 1000)) AS move_needed,
        |  (SELECT CAST(CASE WHEN max(n_usable) <= 1 THEN 0
        |     ELSE sum(abs(u2.utilization_bp - t2.ideal_bp)) END AS BIGINT)
        |   FROM dbv_usable u2 CROSS JOIN dbv_tot t2) AS density_bp
        |FROM dbv_usable u CROSS JOIN dbv_tot t
        |UNION ALL
        |SELECT volume_id, capacity, 0, 0, 0, 0, 0,
        |  'SKIPPED_NO_CAPACITY', 0, false,
        |  (SELECT CAST(CASE WHEN max(n_usable) <= 1 THEN 0
        |     ELSE sum(abs(u2.utilization_bp - t2.ideal_bp)) END AS BIGINT)
        |   FROM dbv_usable u2 CROSS JOIN dbv_tot t2)
        |FROM dbv_vols WHERE capacity <= 0
        |ORDER BY volume_id""".stripMargin,
      O.values("dbv_vols", T.dnVolumeRows),
      """dbv_usable AS (
        |  SELECT volume_id, CAST(capacity AS BIGINT) AS capacity,
        |    CAST(capacity - available + committed AS BIGINT)
        |      AS effective_used,
        |    CAST(CAST(capacity - available + committed AS BIGINT)
        |      * 10000 // capacity AS BIGINT) AS utilization_bp
        |  FROM dbv_vols WHERE capacity > 0)""".stripMargin,
      """dbv_tot AS (
        |  SELECT CAST(sum(effective_used) * 10000 // sum(capacity)
        |      AS BIGINT) AS ideal_bp,
        |    count(*) AS n_usable, max(utilization_bp) AS max_util,
        |    min(utilization_bp) AS min_util
        |  FROM dbv_usable)""".stripMargin),

    // Move-choice mirror: source/dest picks + the rung scan with the
    // first-survivor cutoff.
    "q_disk_balancer_move" -> O.withCtes(
      """SELECT c.container_id, s.src_volume, d.dst_volume,
        |  CASE WHEN sum(CASE WHEN c2.verdict_raw = 'CHOSEN' THEN 1
        |      ELSE 0 END) > 0 THEN 'NOT_SCANNED'
        |    ELSE c.verdict_raw END AS verdict,
        |  c.bytes_used
        |FROM dbm_scan c
        |CROSS JOIN dbm_src s CROSS JOIN dbm_dst d
        |LEFT JOIN dbm_scan c2 ON c2.container_id < c.container_id
        |GROUP BY c.container_id, s.src_volume, d.dst_volume,
        |  c.verdict_raw, c.bytes_used
        |ORDER BY c.container_id""".stripMargin,
      O.values("dbm_vols", T.dnVolumeRows),
      O.values("dbm_conts", T.dnBalancerContainerRows),
      """dbm_usable AS (
        |  SELECT volume_id, CAST(capacity AS BIGINT) AS capacity,
        |    CAST(available AS BIGINT) AS available,
        |    CAST(committed AS BIGINT) AS committed,
        |    CAST(CAST(capacity - available + committed AS BIGINT)
        |      * 10000 // capacity AS BIGINT) AS utilization_bp,
        |    CAST(available - committed - spared AS BIGINT)
        |      AS usable_space
        |  FROM dbm_vols WHERE capacity > 0)""".stripMargin,
      """dbm_ideal AS (
        |  SELECT CAST(sum(capacity - available + committed) * 10000
        |    // sum(capacity) AS BIGINT) AS ideal_bp
        |  FROM dbm_usable)""".stripMargin,
      """dbm_src AS (
        |  SELECT volume_id AS src_volume, utilization_bp AS src_util
        |  FROM dbm_usable
        |  ORDER BY utilization_bp DESC, volume_id DESC LIMIT 1)""".stripMargin,
      """dbm_dst AS (
        |  SELECT u.volume_id AS dst_volume, u.capacity AS dst_capacity,
        |    u.available AS dst_available, u.committed AS dst_committed,
        |    u.usable_space AS dst_usable
        |  FROM dbm_usable u CROSS JOIN dbm_src s
        |  WHERE u.utilization_bp < s.src_util AND u.usable_space > 0
        |  ORDER BY u.utilization_bp, u.volume_id LIMIT 1)""".stripMargin,
      """dbm_scan AS (
        |  SELECT c.container_id, CAST(c.bytes_used AS BIGINT)
        |      AS bytes_used,
        |    CASE WHEN NOT c.in_set THEN 'SKIP_NOT_IN_SET'
        |      WHEN c.in_progress THEN 'SKIP_IN_PROGRESS'
        |      WHEN c.bytes_used <= 0 THEN 'SKIP_EMPTY'
        |      WHEN c.state NOT IN ('CLOSED', 'QUASI_CLOSED')
        |        THEN 'SKIP_STATE'
        |      WHEN c.bytes_used >= d.dst_usable THEN 'SKIP_TOO_BIG'
        |      WHEN (d.dst_capacity - d.dst_available + d.dst_committed
        |          + c.bytes_used) * 10000 // d.dst_capacity
        |          >= i.ideal_bp + 1000
        |        THEN 'SKIP_WOULD_EXCEED'
        |      ELSE 'CHOSEN' END AS verdict_raw
        |  FROM dbm_conts c
        |  CROSS JOIN dbm_src s CROSS JOIN dbm_dst d
        |  CROSS JOIN dbm_ideal i
        |  WHERE c.volume_id = s.src_volume)""".stripMargin),

    // Metadata-scan mirror: the same gate → rung → outcome CASE ladder
    // over the literal container fixture.
    "q_container_meta_scan" -> O.withCtes(
      """SELECT container_id, action, first_error,
        |  CAST(n_errors AS BIGINT) AS n_errors,
        |  (action = 'SCANNED' AND n_errors > 0) AS mark_attempted,
        |  (action = 'SCANNED' AND n_errors > 0 AND NOT already_unhealthy)
        |    AS unhealthy_inc,
        |  (action = 'SCANNED' AND n_errors > 0 AND NOT already_unhealthy)
        |    AS volume_scan_triggered,
        |  (action = 'SCANNED') AS scanned_inc
        |FROM msc_act ORDER BY container_id""".stripMargin,
      O.values("msc", T.metaScanContainerRows),
      """msc_base AS (
        |  SELECT *,
        |    CASE WHEN NOT dir_exists THEN 'MISSING_CONTAINER_DIR'
        |         WHEN NOT meta_dir_exists THEN 'MISSING_METADATA_DIR'
        |         WHEN file_status = 'MISSING' THEN 'MISSING_CONTAINER_FILE'
        |         WHEN file_status = 'CORRUPT' THEN 'CORRUPT_CONTAINER_FILE'
        |         END AS fatal,
        |    CASE WHEN volume_failed THEN 'SKIP_VOLUME_FAILED'
        |         WHEN last_scan_ago_ms >= 0 AND last_scan_ago_ms < 900000
        |           THEN 'SKIP_RECENTLY_SCANNED'
        |         ELSE 'SCAN' END AS gate
        |  FROM msc)""".stripMargin,
      """msc_err AS (
        |  SELECT *,
        |    CASE WHEN gate <> 'SCAN' OR deleted_during_scan THEN ''
        |         WHEN fatal IS NOT NULL THEN fatal
        |         WHEN file_check_errors > 0 THEN 'CORRUPT_CONTAINER_FILE'
        |         WHEN NOT chunks_dir_exists THEN 'MISSING_CHUNKS_DIR'
        |         ELSE '' END AS first_error,
        |    CASE WHEN gate <> 'SCAN' OR deleted_during_scan THEN 0
        |         WHEN fatal IS NOT NULL THEN 1
        |         ELSE file_check_errors +
        |           CASE WHEN chunks_dir_exists THEN 0 ELSE 1 END
        |         END AS n_errors
        |  FROM msc_base)""".stripMargin,
      """msc_act AS (
        |  SELECT *,
        |    CASE WHEN gate <> 'SCAN' THEN gate
        |         WHEN deleted_during_scan THEN 'DELETED'
        |         WHEN transient_fd_errors AND n_errors > 0 THEN 'INCOMPLETE'
        |         ELSE 'SCANNED' END AS action
        |  FROM msc_err)""".stripMargin),

    "q_dn_dispatch" -> O.withCtes(
      """SELECT seq, container_id, op,
        |  CASE
        |    WHEN op IN ('WRITE_CHUNK', 'PUT_BLOCK') AND NOT gate_ok THEN
        |      CASE WHEN cstate IN ('QUASI_CLOSED', 'CLOSED')
        |          THEN 'CLOSED_CONTAINER_IO'
        |        WHEN cstate = 'UNHEALTHY' THEN 'CONTAINER_UNHEALTHY'
        |        WHEN cstate = 'INVALID' THEN 'INVALID_CONTAINER_STATE'
        |        ELSE 'CONTAINER_INTERNAL_ERROR' END
        |    WHEN op = 'DELETE_BLOCK' THEN 'UNSUPPORTED_OP'
        |    WHEN op = 'PUT_BLOCK' AND bcsid <> 0 AND bcsid <= bcs_before
        |      THEN 'REPLAY_IGNORED'
        |    WHEN op IN ('WRITE_CHUNK', 'PUT_BLOCK') THEN 'APPLIED'
        |    WHEN bcsid > bcs_before THEN 'UNKNOWN_BCSID'
        |    WHEN NOT block_exists THEN 'NO_SUCH_BLOCK'
        |    WHEN stored_bcsid < bcsid THEN 'BCSID_MISMATCH'
        |    ELSE 'OK' END AS decision,
        |  CASE WHEN put_cand THEN greatest(bcs_before, bcsid)
        |    ELSE bcs_before END AS bcs_after
        |FROM (
        |  SELECT o.*, c.cstate,
        |    c.cstate IN ('OPEN', 'CLOSING', 'RECOVERING') AS gate_ok,
        |    o.op = 'PUT_BLOCK'
        |      AND c.cstate IN ('OPEN', 'CLOSING', 'RECOVERING')
        |      AND o.bcsid <> 0 AS put_cand,
        |    greatest(c.initial_bcsid, coalesce(
        |      max(CASE WHEN o.op = 'PUT_BLOCK'
        |        AND c.cstate IN ('OPEN', 'CLOSING', 'RECOVERING')
        |        AND o.bcsid <> 0 THEN o.bcsid END)
        |      OVER (PARTITION BY o.container_id ORDER BY o.seq
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |      AS bcs_before
        |  FROM dn_ops o JOIN dn_containers c
        |    ON c.container_id = o.container_id)
        |ORDER BY seq""".stripMargin,
      O.values("dn_containers", T.dnContainerRows),
      O.values("dn_ops", T.dnOpRows)),

    // Mis-replication mirror: rack aggregates joined back + source ranks.
    "q_mis_replication" -> O.withCtes(
      """SELECT container_id, datanode, rack,
        |  CASE
        |    WHEN container_id % 46 = 0 THEN 'SKIP_PENDING'
        |    WHEN n_total <> replication_factor THEN 'SKIP_NOT_STABLE'
        |    WHEN n_racks >= least(5, n_total) THEN 'NOT_MISREPLICATED'
        |    WHEN source_ok AND src_rank <= rack_n - 1 THEN 'COPY'
        |    ELSE 'STAY' END AS verdict,
        |  CASE WHEN container_id % 46 <> 0
        |    AND n_total = replication_factor
        |    AND n_racks < least(5, n_total)
        |    THEN shortfall ELSE 0 END AS shortfall
        |FROM (
        |  SELECT b.*, rs.rack_n, rs.rack_sources, cs.n_racks, cs.n_total,
        |    cs.shortfall,
        |    sum(CASE WHEN b.source_ok THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY b.container_id, b.rack ORDER BY b.datanode
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS src_rank
        |  FROM mrp_base b
        |  JOIN mrp_racks rs ON rs.container_id = b.container_id
        |    AND rs.rack = b.rack
        |  JOIN mrp_conts cs ON cs.container_id = b.container_id)
        |ORDER BY container_id, datanode""".stripMargin,
      O.containersScm, O.replicas, O.datanodes,
      """mrp_base AS (
        |  SELECT r.container_id, r.datanode, r.rack, c.replication_factor,
        |    r.replica_state IN ('CLOSED', 'QUASI_CLOSED')
        |      AND d.state = 'HEALTHY' AND d.op_state = 'IN_SERVICE'
        |      AS source_ok
        |  FROM replicas r
        |  JOIN containers_scm c ON c.container_id = r.container_id
        |    AND c.state <> 'DELETED'
        |  JOIN datanodes d ON d.uuid = r.datanode)""".stripMargin,
      """mrp_racks AS (
        |  SELECT container_id, rack, count(*) AS rack_n,
        |    sum(CASE WHEN source_ok THEN 1 ELSE 0 END) AS rack_sources
        |  FROM mrp_base GROUP BY 1, 2)""".stripMargin,
      """mrp_conts AS (
        |  SELECT container_id, count(*) AS n_racks,
        |    CAST(sum(rack_n) AS BIGINT) AS n_total,
        |    CAST(sum(greatest(rack_n - 1, 0) -
        |      least(greatest(rack_n - 1, 0), rack_sources)) AS BIGINT)
        |      AS shortfall
        |  FROM mrp_racks GROUP BY 1)""".stripMargin),

    // QCS mirror: per-origin groupBy with a per-container origin count.
    "q_qcs_replicas" -> O.withCtes(
      """SELECT container_id, origin, n_replicas, n_in_service,
        |  n_maintenance, is_best, target,
        |  CASE WHEN under_delta > 0 THEN 'UNDER_REPLICATED'
        |       WHEN over_delta > 0 THEN 'OVER_REPLICATED'
        |       ELSE 'OK' END AS status,
        |  under_delta, over_delta
        |FROM (
        |  SELECT *,
        |    CASE WHEN n_origins = 1 THEN
        |      CASE WHEN n_maintenance > 0
        |        THEN greatest(2 - n_in_service, 0)
        |        ELSE greatest(3 - n_in_service, 0) END
        |    ELSE CASE WHEN n_in_service < target THEN
        |      CASE WHEN n_maintenance > 0 THEN
        |        CASE WHEN n_in_service = 0 THEN 1 ELSE 0 END
        |      ELSE target - n_in_service END
        |    ELSE 0 END END AS under_delta,
        |    greatest(n_in_service - target, 0) AS over_delta
        |  FROM (
        |    SELECT *,
        |      count(*) OVER (PARTITION BY container_id) AS n_origins,
        |      CASE WHEN n_origins_pre = 1 THEN 3
        |        WHEN is_best THEN 2 ELSE 1 END AS target
        |    FROM (
        |      SELECT container_id, origin,
        |        count(*) AS n_replicas,
        |        CAST(sum(CASE WHEN in_service THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_in_service,
        |        CAST(sum(CASE WHEN maint THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_maintenance,
        |        max(CASE WHEN healthy AND seq = max_healthy_seq
        |          THEN 1 ELSE 0 END) = 1 AS is_best,
        |        count(*) OVER (PARTITION BY container_id) AS n_origins_pre
        |      FROM qcs_base
        |      GROUP BY container_id, origin)))
        |ORDER BY container_id, origin""".stripMargin,
      O.containersScm, O.replicas, O.datanodes,
      """qcs_base AS (
        |  SELECT *,
        |    max(CASE WHEN healthy THEN seq END)
        |      OVER (PARTITION BY container_id) AS max_healthy_seq
        |  FROM (
        |    SELECT r.container_id, r.datanode, r.replica_state,
        |      r.container_id * 100 +
        |        CAST(substr(r.datanode, 3, 10) AS BIGINT) AS seq,
        |      CASE WHEN r.container_id % 3 = 0
        |          THEN min(r.datanode) OVER w
        |        WHEN r.datanode = max(r.datanode) OVER w
        |          THEN min(r.datanode) OVER w
        |        ELSE r.datanode END AS origin,
        |      r.replica_state <> 'UNHEALTHY' AS healthy,
        |      d.op_state = 'IN_SERVICE' AS in_service,
        |      d.op_state IN ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
        |        AS maint
        |    FROM replicas r
        |    JOIN containers_scm c ON c.container_id = r.container_id
        |      AND c.state <> 'DELETED' AND c.container_id % 119 = 0
        |    JOIN datanodes d ON d.uuid = r.datanode
        |    WINDOW w AS (PARTITION BY r.container_id)))""".stripMargin),

    // QCS under-replication handler mirror: per-origin deltas folded,
    // empty/pending parks in reference order.
    "q_qcs_under_replication" -> O.withCtes(
      """SELECT container_id,
        |  CASE WHEN container_id % 238 = 0 THEN 'SKIP_EMPTY'
        |    WHEN container_id % 357 = 0 THEN 'SKIP_PENDING_ADD'
        |    WHEN req = 0 THEN 'NOT_UNDER'
        |    ELSE 'REPLICATE' END AS verdict,
        |  CAST(CASE WHEN container_id % 238 = 0
        |    OR container_id % 357 = 0 OR req = 0
        |    THEN 0 ELSE req END AS BIGINT) AS n_required,
        |  CAST(CASE WHEN container_id % 238 = 0
        |    OR container_id % 357 = 0 OR req = 0
        |    THEN 0 ELSE n_under END AS BIGINT) AS n_origins_under
        |FROM (
        |  SELECT container_id, sum(under_delta) AS req,
        |    sum(CASE WHEN under_delta > 0 THEN 1 ELSE 0 END) AS n_under
        |  FROM qcsu_po GROUP BY 1)
        |ORDER BY container_id""".stripMargin,
      O.containersScm, O.replicas, O.datanodes, O.qcsRows,
      O.qcsPerOriginSql("qcsu_po", "qcs_rows")),

    // QCS over-replication handler mirror: injected moved copy, the
    // node-health filter, filtered per-origin excess, dn-ordered picks.
    "q_qcs_over_replication" -> O.withCtes(
      """SELECT c.container_id,
        |  CASE WHEN c.container_id % 357 = 0 THEN 'SKIP_PENDING_DELETE'
        |    WHEN coalesce(p.n_commands, 0) > 0 THEN 'DELETE'
        |    ELSE 'NOT_OVER' END AS verdict,
        |  CAST(CASE WHEN c.container_id % 357 = 0 THEN 0
        |    ELSE coalesce(p.n_commands, 0) END AS BIGINT) AS n_commands,
        |  CASE WHEN c.container_id % 357 = 0 THEN ''
        |    ELSE coalesce(p.del_dns, '') END AS del_dns
        |FROM containers_scm c
        |LEFT JOIN qcso_picks p USING (container_id)
        |WHERE c.state <> 'DELETED' AND c.container_id % 119 = 0
        |ORDER BY c.container_id""".stripMargin,
      O.containersScm, O.replicas, O.datanodes, O.qcsRows,
      """qcso_dup AS (
        |  SELECT 'dn' || ((container_id + 9) % 20) AS datanode,
        |    container_id, replica_state, seq - 50 AS seq, origin,
        |    healthy
        |  FROM (SELECT *, row_number() OVER (PARTITION BY container_id
        |      ORDER BY datanode) AS rk FROM qcs_rows)
        |  WHERE rk = 2 AND container_id % 238 = 0)""".stripMargin,
      """qcso_all AS (
        |  SELECT container_id, datanode, seq, origin, healthy,
        |    in_service, maint, node_state
        |  FROM qcs_rows
        |  UNION ALL
        |  SELECT p.container_id, p.datanode, p.seq, p.origin, p.healthy,
        |    d.op_state = 'IN_SERVICE' AS in_service,
        |    d.op_state IN ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
        |      AS maint,
        |    d.state AS node_state
        |  FROM qcso_dup p JOIN datanodes d ON d.uuid = p.datanode)""".stripMargin,
      """qcso_filt AS (
        |  SELECT * FROM qcso_all WHERE node_state = 'HEALTHY')""".stripMargin,
      O.qcsPerOriginSql("qcso_po", "qcso_filt"),
      """qcso_picks AS (
        |  SELECT container_id, count(*) AS n_commands,
        |    string_agg(datanode, ',' ORDER BY datanode) AS del_dns
        |  FROM (
        |    SELECT f.container_id, f.datanode,
        |      row_number() OVER (PARTITION BY f.container_id, f.origin
        |        ORDER BY f.datanode) AS rk,
        |      o.over_delta
        |    FROM qcso_filt f
        |    JOIN qcso_po o ON o.container_id = f.container_id
        |      AND o.origin = f.origin AND o.over_delta > 0
        |    WHERE f.in_service)
        |  WHERE rk <= over_delta GROUP BY 1)""".stripMargin),

    // EC over-replication mirror: dup family, good-node filter, index
    // counts with/without pending deletes, rack-shed picks.
    "q_ec_over_replication" -> O.withCtes(
      """SELECT c.container_id,
        |  CASE WHEN coalesce(f.over_nodel, 0) = 0 THEN 'NOT_OVER'
        |    WHEN coalesce(f.over_del, 0) = 0 THEN 'PENDING_FIX'
        |    WHEN coalesce(p.n_commands, 0) = 0 THEN 'NO_CANDIDATES'
        |    ELSE 'DELETE' END AS verdict,
        |  CAST(CASE WHEN coalesce(f.over_nodel, 0) = 1
        |      AND coalesce(f.over_del, 0) = 1
        |      AND coalesce(p.n_commands, 0) > 0
        |    THEN p.n_commands ELSE 0 END AS BIGINT) AS n_commands,
        |  CASE WHEN coalesce(f.over_nodel, 0) = 1
        |      AND coalesce(f.over_del, 0) = 1
        |      AND coalesce(p.n_commands, 0) > 0
        |    THEN p.del_dns ELSE '' END AS del_dns
        |FROM containers_scm c
        |LEFT JOIN eco_flags f USING (container_id)
        |LEFT JOIN eco_picks p USING (container_id)
        |WHERE c.state <> 'DELETED' AND (c.container_id % 12) % 3 = 2
        |ORDER BY c.container_id""".stripMargin,
      O.containersScm, O.datanodes, O.ecShards,
      """eco_all AS (
        |  SELECT s.container_id, s.replica_index, s.datanode,
        |    s.shard_state, d.rack,
        |    d.state = 'HEALTHY' AND d.op_state = 'IN_SERVICE' AS good,
        |    s.container_id = 533 AND s.datanode =
        |      'dn' || ((s.container_id + 16) % 20) AS pending_del
        |  FROM (
        |    SELECT * FROM ec_shards
        |    UNION ALL
        |    SELECT container_id, replica_index,
        |      'dn' || ((container_id + 16) % 20) AS datanode, shard_state
        |    FROM ec_shards
        |    WHERE container_id % 41 = 0 AND replica_index = 1) s
        |  JOIN datanodes d ON d.uuid = s.datanode)""".stripMargin,
      """eco_counted AS (
        |  SELECT *,
        |    count(*) OVER wi AS cnt_nodel,
        |    sum(CASE WHEN NOT pending_del THEN 1 ELSE 0 END) OVER wi
        |      AS cnt_del
        |  FROM eco_all WHERE good
        |  WINDOW wi AS (PARTITION BY container_id, replica_index))""".stripMargin,
      """eco_flags AS (
        |  SELECT container_id,
        |    max(CASE WHEN cnt_nodel > 1 THEN 1 ELSE 0 END)
        |      AS over_nodel,
        |    max(CASE WHEN cnt_del > 1 THEN 1 ELSE 0 END) AS over_del
        |  FROM eco_counted GROUP BY 1)""".stripMargin,
      """eco_cands AS (
        |  SELECT *,
        |    count(*) OVER (PARTITION BY container_id, rack) AS rack_cnt
        |  FROM eco_counted
        |  WHERE NOT pending_del AND shard_state = 'CLOSED')""".stripMargin,
      """eco_picks AS (
        |  SELECT container_id, count(*) AS n_commands,
        |    string_agg(datanode, ',' ORDER BY datanode) AS del_dns
        |  FROM (
        |    SELECT *,
        |      row_number() OVER (
        |        PARTITION BY container_id, replica_index
        |        ORDER BY rack_cnt DESC, rack, datanode) AS rk,
        |      count(*) OVER (PARTITION BY container_id, replica_index)
        |        AS n_cand_idx
        |    FROM eco_cands WHERE cnt_del > 1)
        |  WHERE rk <= cnt_del - 1 AND n_cand_idx >= 2
        |  GROUP BY 1)""".stripMargin),

    // EC under-replication mirror: (container, index) spine accounting,
    // the two sufficiency probes, reconstruction/decom/maintenance
    // command math.
    "q_ec_under_replication" -> O.withCtes(
      """SELECT container_id,
        |  CASE WHEN suff_noadd THEN 'NOT_UNDER'
        |    WHEN suff_add THEN 'PENDING_FIX'
        |    ELSE 'REPAIR' END AS verdict,
        |  CAST(CASE WHEN suff_noadd OR suff_add THEN 0
        |    ELSE n_missing END AS BIGINT) AS n_missing,
        |  CASE WHEN suff_noadd OR suff_add OR n_missing = 0 THEN ''
        |    WHEN n_src_idx >= 3 THEN 'RECONSTRUCT'
        |    ELSE 'NO_SOURCES' END AS reconstruct,
        |  CAST(CASE WHEN suff_noadd OR suff_add THEN 0
        |    ELSE n_decom_src END AS BIGINT) AS n_decom_cmds,
        |  CAST(CASE WHEN suff_noadd OR suff_add THEN 0
        |    ELSE least(addl_maint, n_maint_src) END AS BIGINT)
        |    AS n_maint_cmds,
        |  CAST(CASE WHEN suff_noadd OR suff_add THEN 0
        |    ELSE (CASE WHEN n_missing > 0 AND n_src_idx >= 3
        |      THEN 1 ELSE 0 END) + n_decom_src +
        |      least(addl_maint, n_maint_src) END AS BIGINT) AS n_commands
        |FROM eu_fold
        |ORDER BY container_id""".stripMargin,
      O.containersScm, O.datanodes, O.ecShards,
      """eu_ann AS (
        |  SELECT s.container_id, s.replica_index, s.datanode,
        |    s.shard_state, d.state AS node_state, d.op_state,
        |    s.container_id % 86 = 0 AND s.replica_index = 1
        |      AND s.datanode = 'dn' || ((s.container_id + 7) % 20)
        |      AS pend_del,
        |    s.shard_state = 'UNHEALTHY' AS unhealthy
        |  FROM ec_shards s JOIN datanodes d ON d.uuid = s.datanode)""".stripMargin,
      """eu_raw AS (
        |  SELECT container_id, replica_index,
        |    sum(CASE WHEN NOT unhealthy AND op_state = 'IN_SERVICE'
        |      AND NOT pend_del THEN 1 ELSE 0 END) AS hq,
        |    sum(CASE WHEN NOT unhealthy AND op_state IN
        |      ('DECOMMISSIONING', 'DECOMMISSIONED') THEN 1 ELSE 0 END)
        |      AS dq,
        |    sum(CASE WHEN NOT unhealthy AND op_state IN
        |      ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
        |      THEN 1 ELSE 0 END) AS mq,
        |    max(CASE WHEN shard_state = 'CLOSED' AND NOT pend_del
        |      AND node_state = 'HEALTHY' THEN 1 ELSE 0 END) AS src
        |  FROM eu_ann GROUP BY 1, 2)""".stripMargin,
      """eu_peridx AS (
        |  SELECT sp.container_id, sp.replica_index,
        |    coalesce(r.hq, 0) AS hq, coalesce(r.dq, 0) AS dq,
        |    coalesce(r.mq, 0) AS mq, coalesce(r.src, 0) AS src,
        |    CASE WHEN sp.container_id % 62 = 0 AND sp.replica_index = 2
        |      THEN 1 ELSE 0 END AS pa
        |  FROM (
        |    SELECT c.container_id, i.idx AS replica_index
        |    FROM containers_scm c CROSS JOIN range(1, 6) i(idx)
        |    WHERE c.state <> 'DELETED'
        |      AND (c.container_id % 12) % 3 = 2) sp
        |  LEFT JOIN eu_raw r USING (container_id, replica_index))""".stripMargin,
      """eu_fold AS (
        |  SELECT container_id,
        |    min(CASE WHEN hq >= 1 THEN 1 ELSE 0 END) = 1
        |      OR (min(CASE WHEN hq + mq >= 1 THEN 1 ELSE 0 END) = 1
        |        AND sum(CASE WHEN hq >= 1 THEN 1 ELSE 0 END) >= 4)
        |      AS suff_noadd,
        |    min(CASE WHEN hq + pa >= 1 THEN 1 ELSE 0 END) = 1
        |      OR (min(CASE WHEN hq + pa + mq >= 1 THEN 1 ELSE 0 END) = 1
        |        AND sum(CASE WHEN hq + pa >= 1 THEN 1 ELSE 0 END) >= 4)
        |      AS suff_add,
        |    sum(CASE WHEN hq = 0 AND pa = 0 AND mq = 0 AND dq = 0
        |      THEN 1 ELSE 0 END) AS n_missing,
        |    sum(src) AS n_src_idx,
        |    sum(CASE WHEN dq > 0 AND hq = 0 AND pa = 0 AND src = 1
        |      THEN 1 ELSE 0 END) AS n_decom_src,
        |    sum(CASE WHEN mq > 0 AND hq = 0 AND pa = 0 AND src = 1
        |      THEN 1 ELSE 0 END) AS n_maint_src,
        |    greatest(sum(CASE WHEN mq > 0 AND hq = 0 AND pa = 0
        |      THEN 1 ELSE 0 END) - 1, 0) AS addl_maint
        |  FROM eu_peridx GROUP BY 1)""".stripMargin),

    // Health-check chain mirror: the chain spine, the stuck-QC families,
    // the counting scalars, and the first-true rung ladder in SQL.
    "q_health_check_chain" -> O.withCtes(
      chhSelect + "\nORDER BY container_id",
      O.datanodes, O.objects, O.containersOm, O.pipelines,
      O.pipelineMembers,
      """chh_cont AS (
        |  SELECT r AS container_id,
        |    CASE WHEN r % 97 = 0 THEN 'DELETED'
        |      WHEN r % 151 = 0 THEN 'OPEN'
        |      WHEN r % 157 = 0 THEN 'CLOSING'
        |      WHEN r % 163 = 0 THEN 'DELETING'
        |      WHEN r % 53 = 0 OR r % 58 = 0 OR r % 119 = 0
        |        OR r % 173 = 0 OR r % 187 = 0 THEN 'QUASI_CLOSED'
        |      ELSE 'CLOSED' END AS chain_state,
        |    CASE WHEN r % 53 = 0 OR r % 58 = 0 OR r % 119 = 0
        |      THEN 'QUASI_CLOSED' ELSE 'CLOSED' END AS container_state,
        |    3 AS replication_factor, r * 100 AS c_seq
        |  FROM range(1000) t(r))""".stripMargin,
      O.urpRepsSql("chh_reps0", "chh_cont"),
      """chh_reps1 AS (
        |  SELECT * REPLACE(
        |    CASE WHEN container_id % 173 = 0 OR container_id % 187 = 0
        |      THEN CASE WHEN r = 1 THEN 'UNHEALTHY'
        |        ELSE 'QUASI_CLOSED' END
        |      ELSE replica_state END AS replica_state,
        |    CASE WHEN container_id % 173 = 0 AND r = 1 THEN c_seq + 5
        |      WHEN container_id % 346 = 0 AND r = 0 THEN c_seq + 1
        |      ELSE seq END AS seq)
        |  FROM chh_reps0)""".stripMargin,
      """chh_dups AS (
        |  SELECT p.container_id, p.chain_state, p.container_state,
        |    p.replication_factor, p.c_seq, p.r,
        |    (p.container_id + o.off) % 20 AS dn_num,
        |    'dn' || ((p.container_id + o.off) % 20) AS datanode,
        |    p.replica_state, p.seq, p.is_empty, p.origin,
        |    d.state AS node_state, d.op_state
        |  FROM chh_reps1 p
        |  JOIN (VALUES (0, 3), (2, 7), (2, 9)) o(rr, off) ON p.r = o.rr
        |  JOIN datanodes d
        |    ON d.uuid = 'dn' || ((p.container_id + o.off) % 20)
        |  WHERE p.container_id % 346 = 0)""".stripMargin,
      """chh_all AS (
        |  SELECT * FROM chh_reps1
        |  UNION ALL BY NAME SELECT * FROM chh_dups)""".stripMargin,
      """chh_rows AS (
        |  SELECT *,
        |    (replica_state = 'UNHEALTHY'
        |      OR (replica_state = 'QUASI_CLOSED'
        |        AND chain_state = 'CLOSED' AND seq <> c_seq)) AS tu,
        |    op_state IN ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
        |      AS mnt,
        |    op_state IN ('DECOMMISSIONING', 'DECOMMISSIONED') AS dcm
        |  FROM chh_all)""".stripMargin,
      """chh_counts AS (
        |  SELECT container_id, count(*) AS n_replicas,
        |    min(CASE WHEN is_empty THEN 1 ELSE 0 END) AS all_empty,
        |    min(CASE WHEN replica_state = 'CLOSED' AND is_empty
        |      THEN 1 ELSE 0 END) AS all_closed_empty,
        |    max(CASE WHEN replica_state <> 'UNHEALTHY' THEN 1 ELSE 0
        |      END) AS any_healthy_state,
        |    sum(CASE WHEN NOT tu AND NOT mnt AND NOT dcm THEN 1 ELSE 0
        |      END) AS healthy_is,
        |    sum(CASE WHEN tu AND NOT mnt AND NOT dcm THEN 1 ELSE 0 END)
        |      AS unhealthy_is,
        |    sum(CASE WHEN NOT tu AND mnt THEN 1 ELSE 0 END) AS maint_h,
        |    sum(CASE WHEN tu AND mnt THEN 1 ELSE 0 END) AS maint_u,
        |    sum(CASE WHEN NOT tu AND dcm THEN 1 ELSE 0 END) AS decom_h,
        |    sum(CASE WHEN tu AND dcm THEN 1 ELSE 0 END) AS decom_u,
        |    coalesce(max(CASE WHEN replica_state = 'QUASI_CLOSED'
        |      THEN seq END), -1) AS max_qc_seq,
        |    coalesce(max(CASE WHEN replica_state = 'UNHEALTHY'
        |      THEN seq END), -1) AS max_unh_seq,
        |    count(DISTINCT CASE WHEN replica_state IN
        |      ('QUASI_CLOSED', 'UNHEALTHY') THEN origin END)
        |      AS n_qcunh_origins,
        |    count(DISTINCT CASE WHEN replica_state IN
        |      ('QUASI_CLOSED', 'OPEN') THEN origin END)
        |      AS n_open_origins,
        |    count(DISTINCT origin) AS n_origins,
        |    count(DISTINCT dn_num % 5) AS n_racks,
        |    sum(CASE WHEN replica_state <> 'UNHEALTHY'
        |      AND replica_state <> chain_state
        |      AND chain_state IN ('CLOSED', 'QUASI_CLOSED')
        |      THEN 1 ELSE 0 END) AS n_mismatch_close,
        |    sum(CASE WHEN replica_state <> 'UNHEALTHY' THEN 1 ELSE 0
        |      END) AS n_nonunh,
        |    min(CASE WHEN replica_state = chain_state THEN 1 ELSE 0
        |      END) AS all_match_state
        |  FROM chh_rows GROUP BY 1)""".stripMargin,
      """chh_vuln AS (
        |  SELECT r.container_id, count(*) AS n_vuln_raw
        |  FROM chh_rows r
        |  WHERE r.replica_state = 'UNHEALTHY' AND r.seq = r.c_seq
        |    AND NOT r.is_empty AND r.node_state = 'HEALTHY'
        |    AND NOT EXISTS (SELECT 1 FROM chh_rows o
        |      WHERE o.container_id = r.container_id
        |        AND o.op_state = 'IN_SERVICE'
        |        AND o.node_state = 'HEALTHY' AND o.seq = o.c_seq
        |        AND o.origin = r.origin)
        |  GROUP BY 1)""".stripMargin,
      """chh_qcsrows AS (
        |  SELECT container_id, origin, seq,
        |    replica_state <> 'UNHEALTHY' AS healthy,
        |    op_state = 'IN_SERVICE' AS in_service,
        |    op_state IN ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
        |      AS maint
        |  FROM chh_all)""".stripMargin,
      O.qcsPerOriginSql("chh_qcspo", "chh_qcsrows"),
      """chh_qcs AS (
        |  SELECT container_id,
        |    max(CASE WHEN under_delta > 0 THEN 1 ELSE 0 END)
        |      AS qcs_under,
        |    max(CASE WHEN over_delta > 0 THEN 1 ELSE 0 END) AS qcs_over
        |  FROM chh_qcspo GROUP BY 1)""".stripMargin,
      """chh_pend AS (
        |  SELECT container_id,
        |    CASE WHEN container_id % 31 = 0 OR container_id % 116 = 0
        |      OR container_id % 118 = 0 THEN 1 ELSE 0 END AS n_add,
        |    CASE WHEN container_id % 37 = 0
        |      THEN 'dn' || (container_id % 20) ELSE '' END AS del_dn
        |  FROM chh_cont)""".stripMargin,
      """chh_del AS (
        |  SELECT p.container_id, p.n_add, p.del_dn,
        |    max(CASE WHEN r.datanode IS NOT NULL THEN 1 ELSE 0 END)
        |      AS del_on_unhealthy
        |  FROM chh_pend p
        |  LEFT JOIN chh_rows r ON r.container_id = p.container_id
        |    AND r.datanode = p.del_dn AND r.tu
        |  GROUP BY 1, 2, 3)""".stripMargin,
      """chh_pipebad AS (
        |  SELECT m.pipeline_id,
        |    max(CASE WHEN d.state <> 'HEALTHY' THEN 1 ELSE 0 END)
        |      AS bad_member
        |  FROM pipeline_members m
        |  JOIN datanodes d ON d.uuid = m.datanode
        |  GROUP BY 1)""".stripMargin,
      """chh_stage AS (
        |  SELECT c.container_id, c.chain_state, c.replication_factor,
        |    coalesce(k.n_replicas, 0) AS n_replicas,
        |    coalesce(k.all_empty, 0) AS all_empty,
        |    coalesce(k.all_closed_empty, 0) AS all_closed_empty,
        |    coalesce(k.any_healthy_state, 0) AS any_healthy_state,
        |    coalesce(k.n_racks, 0) AS n_racks,
        |    coalesce(k.n_mismatch_close, 0) AS n_mismatch_close,
        |    coalesce(k.n_nonunh, 0) AS n_nonunh,
        |    coalesce(k.all_match_state, 0) AS all_match_state,
        |    coalesce(k.unhealthy_is, 0) + coalesce(k.maint_u, 0)
        |      + coalesce(k.decom_u, 0) AS n_unh,
        |    coalesce(k.healthy_is, 0) + coalesce(k.maint_h, 0)
        |      + coalesce(k.decom_h, 0) AS healthy_count,
        |    coalesce(om.num_keys, 0) AS num_keys,
        |    coalesce(pb.bad_member, 0) AS bad_member,
        |    coalesce(q.qcs_under, 0) AS qcs_under,
        |    coalesce(q.qcs_over, 0) AS qcs_over,
        |    CASE WHEN c.chain_state = 'QUASI_CLOSED'
        |      AND coalesce(k.max_qc_seq, -1) > -1
        |      AND coalesce(k.max_qc_seq, -1)
        |        >= coalesce(k.max_unh_seq, -1)
        |      AND coalesce(k.n_qcunh_origins, 0)
        |        >= c.replication_factor THEN 1 ELSE 0 END
        |      AS qc_force_close,
        |    c.chain_state = 'QUASI_CLOSED'
        |      AND NOT (coalesce(k.max_qc_seq, -1) > -1
        |        AND coalesce(k.max_qc_seq, -1)
        |          >= coalesce(k.max_unh_seq, -1)
        |        AND coalesce(k.n_qcunh_origins, 0)
        |          >= c.replication_factor)
        |      AND coalesce(k.n_origins, 0) > 1
        |      AND coalesce(k.n_open_origins, 0) < c.replication_factor
        |      AS qcs_stuck,
        |    coalesce(k.unhealthy_is, 0) + coalesce(k.maint_u, 0)
        |      + coalesce(k.decom_u, 0) > 0
        |      AND coalesce(k.n_origins, 0) < coalesce(k.n_replicas, 0)
        |      AS deletable_unh,
        |    m.miss_without + CASE WHEN d.del_dn <> ''
        |      AND d.del_on_unhealthy = 0 THEN 1 ELSE 0 END <= 0
        |      AS suff_without,
        |    m.miss_without < 0 AS over_without,
        |    m.miss_with < 0 AS over_with,
        |    m.miss_with + CASE WHEN d.del_dn <> '' THEN 1 ELSE 0 END
        |      <= 0 AS suff_with_unh,
        |    m.miss_with + CASE WHEN d.del_dn <> '' THEN 1 ELSE 0 END
        |      < 0 AS over_with_del,
        |    CASE WHEN c.chain_state = 'QUASI_CLOSED'
        |      AND coalesce(k.any_healthy_state, 0) = 1
        |      THEN coalesce(v.n_vuln_raw, 0) ELSE 0 END AS n_vulnerable
        |  FROM chh_cont c
        |  LEFT JOIN chh_counts k USING (container_id)
        |  LEFT JOIN chh_vuln v USING (container_id)
        |  LEFT JOIN chh_qcs q USING (container_id)
        |  LEFT JOIN containers_om om USING (container_id)
        |  LEFT JOIN chh_pipebad pb
        |    ON pb.pipeline_id = 'pipeline-' || (c.container_id % 12)
        |  JOIN chh_del d USING (container_id)
        |  CROSS JOIN LATERAL (SELECT
        |    CASE WHEN 3 - coalesce(k.healthy_is, 0) < 0
        |        THEN 3 - coalesce(k.healthy_is, 0)
        |      WHEN 3 - coalesce(k.healthy_is, 0) > 0
        |        THEN GREATEST(GREATEST(3 - coalesce(k.healthy_is, 0)
        |          - coalesce(k.maint_h, 0), 0),
        |          GREATEST(2 - coalesce(k.healthy_is, 0), 0))
        |      ELSE 0 END AS miss_without,
        |    CASE WHEN 3 - coalesce(k.healthy_is, 0)
        |        - coalesce(k.unhealthy_is, 0) < 0
        |        THEN 3 - coalesce(k.healthy_is, 0)
        |          - coalesce(k.unhealthy_is, 0)
        |      WHEN 3 - coalesce(k.healthy_is, 0)
        |        - coalesce(k.unhealthy_is, 0) > 0
        |        THEN GREATEST(GREATEST(3 - coalesce(k.healthy_is, 0)
        |          - coalesce(k.unhealthy_is, 0) - coalesce(k.maint_h, 0)
        |          - coalesce(k.maint_u, 0), 0),
        |          GREATEST(2 - coalesce(k.healthy_is, 0)
        |            - coalesce(k.unhealthy_is, 0), 0))
        |      ELSE 0 END AS miss_with) m)""".stripMargin),

    // Pipeline-create mirror: viable CTE + three ORDER-BY-LIMIT-1 picks.
    "q_pipeline_create" -> O.withCtes(
      """SELECT n.uuid, n.rack, n.pcount, n.remaining,
        |  coalesce(p.role,
        |    CASE WHEN n.verdict0 = 'VIABLE' THEN 'VIABLE_UNUSED'
        |      ELSE n.verdict0 END) AS verdict
        |FROM ppc_nodes n
        |LEFT JOIN (
        |  SELECT a_uuid AS uuid, 'ANCHOR' AS role FROM ppc_anchor
        |  UNION ALL
        |  SELECT n_uuid, 'SECOND_DIFF_RACK' FROM ppc_second
        |  UNION ALL
        |  SELECT t_uuid, t_role FROM ppc_third) p ON p.uuid = n.uuid
        |ORDER BY n.uuid""".stripMargin,
      O.datanodes, O.pipelines, O.pipelineMembers,
      """ppc_counts AS (
        |  SELECT m.datanode, count(*) AS pcount
        |  FROM pipeline_members m
        |  JOIN pipelines pl ON pl.pipeline_id = m.pipeline_id
        |    AND pl.replication = 'RATIS/THREE' AND pl.state <> 'CLOSED'
        |  GROUP BY m.datanode)""".stripMargin,
      """ppc_nodes AS (
        |  SELECT d.uuid, d.rack, coalesce(c.pcount, 0) AS pcount,
        |    d.remaining,
        |    CASE
        |      WHEN d.state <> 'HEALTHY' THEN 'EXCLUDED_HEALTH'
        |      WHEN d.op_state <> 'IN_SERVICE' THEN 'EXCLUDED_OP_STATE'
        |      WHEN d.remaining < 701000000000 THEN 'EXCLUDED_SPACE'
        |      WHEN coalesce(c.pcount, 0) >= 2
        |        THEN 'EXCLUDED_PIPELINE_LIMIT'
        |      ELSE 'VIABLE' END AS verdict0
        |  FROM datanodes d
        |  LEFT JOIN ppc_counts c ON c.datanode = d.uuid)""".stripMargin,
      """ppc_viable AS (
        |  SELECT uuid, rack, pcount FROM ppc_nodes
        |  WHERE verdict0 = 'VIABLE')""".stripMargin,
      """ppc_anchor AS (
        |  SELECT uuid AS a_uuid, rack AS a_rack FROM ppc_viable
        |  ORDER BY pcount, uuid LIMIT 1)""".stripMargin,
      """ppc_second AS (
        |  SELECT v.uuid AS n_uuid, v.rack AS n_rack
        |  FROM ppc_viable v CROSS JOIN ppc_anchor a
        |  WHERE v.rack <> a.a_rack
        |  ORDER BY v.pcount, v.uuid LIMIT 1)""".stripMargin,
      """ppc_second1 AS (
        |  SELECT coalesce((SELECT n_uuid FROM ppc_second), '') AS n_uuid,
        |    coalesce((SELECT n_rack FROM ppc_second), '') AS n_rack)""".stripMargin,
      """ppc_third AS (
        |  SELECT v.uuid AS t_uuid,
        |    CASE WHEN v.rack = a.a_rack THEN 'THIRD_ANCHOR_RACK'
        |         WHEN v.rack = s.n_rack THEN 'THIRD_NEXT_RACK'
        |         ELSE 'THIRD_FALLBACK' END AS t_role
        |  FROM ppc_viable v CROSS JOIN ppc_anchor a
        |  CROSS JOIN ppc_second1 s
        |  WHERE v.uuid <> a.a_uuid AND v.uuid <> s.n_uuid
        |  ORDER BY CASE WHEN v.rack = a.a_rack THEN 0
        |    WHEN v.rack = s.n_rack THEN 1 ELSE 2 END, v.pcount, v.uuid
        |  LIMIT 1)""".stripMargin),

    // Empty-container mirror: the shared repair synthesis, per-container
    // emptiness aggregate, the RATIS BCSID fence and QC BCSID bump.
    "q_empty_container" -> O.withCtes(
      """SELECT c.container_id, c.container_state, c.repl_type,
        |  CASE
        |    WHEN c.container_state = 'CLOSED'
        |      AND coalesce(a.n_replicas, 0) > 0
        |      AND coalesce(a.all_closed_state, 0) = 1
        |      AND coalesce(a.all_empty, 0) = 1 THEN 'EMPTY_CLOSED'
        |    WHEN c.container_state = 'QUASI_CLOSED'
        |      AND coalesce(a.n_replicas, 0) > 0
        |      AND coalesce(a.all_empty, 0) = 1 THEN 'EMPTY_QUASI_CLOSED'
        |    WHEN c.container_state = 'CLOSED'
        |      AND coalesce(k.num_keys, 0) = 0
        |      AND coalesce(a.n_replicas, 0) = 0
        |      THEN 'EMPTY_NO_REPLICAS'
        |    ELSE 'NOT_EMPTY' END AS verdict,
        |  CAST(CASE
        |    WHEN c.container_state = 'CLOSED'
        |      AND coalesce(a.n_replicas, 0) > 0
        |      AND coalesce(a.all_closed_state, 0) = 1
        |      AND coalesce(a.all_empty, 0) = 1
        |      THEN coalesce(a.n_replicas, 0)
        |    WHEN c.container_state = 'QUASI_CLOSED'
        |      AND coalesce(a.n_replicas, 0) > 0
        |      AND coalesce(a.all_empty, 0) = 1
        |      THEN coalesce(a.n_stable, 0)
        |    ELSE 0 END AS BIGINT) AS n_delete_cmds,
        |  CASE
        |    WHEN c.container_state = 'CLOSED'
        |      AND coalesce(a.n_replicas, 0) > 0
        |      AND coalesce(a.all_closed_state, 0) = 1
        |      AND coalesce(a.all_empty, 0) = 1
        |      AND (c.repl_type <> 'RATIS'
        |        OR coalesce(a.any_seq_match, 0) = 1) THEN 'DELETE'
        |    WHEN c.container_state = 'QUASI_CLOSED'
        |      AND coalesce(a.n_replicas, 0) > 0
        |      AND coalesce(a.all_empty, 0) = 1 THEN 'DELETE'
        |    ELSE 'NONE' END AS transition,
        |  CAST(CASE
        |    WHEN c.container_state = 'QUASI_CLOSED'
        |      AND coalesce(a.n_replicas, 0) > 0
        |      AND coalesce(a.all_empty, 0) = 1
        |      THEN GREATEST(coalesce(a.max_replica_seq, c.c_seq), c.c_seq)
        |    ELSE c.c_seq END AS BIGINT) AS new_bcs
        |FROM urp_cont c
        |LEFT JOIN ecc_agg a USING (container_id)
        |LEFT JOIN containers_om k USING (container_id)
        |ORDER BY c.container_id""".stripMargin,
      O.objects, O.containersOm, O.datanodes, O.urpCont, O.urpReps,
      """ecc_agg AS (
        |  SELECT container_id, count(*) AS n_replicas,
        |    min(CASE WHEN is_empty THEN 1 ELSE 0 END) AS all_empty,
        |    min(CASE WHEN replica_state = 'CLOSED' THEN 1 ELSE 0 END)
        |      AS all_closed_state,
        |    sum(CASE WHEN replica_state IN ('CLOSED', 'QUASI_CLOSED')
        |      THEN 1 ELSE 0 END) AS n_stable,
        |    max(CASE WHEN seq = c_seq THEN 1 ELSE 0 END)
        |      AS any_seq_match,
        |    max(seq) AS max_replica_seq
        |  FROM urp_rep2 GROUP BY 1)""".stripMargin),

    // Decommission-admin mirror: the request batch, host
    // resolution, capacity walks, per-node rung CASE.
    "q_decommission_admin" -> O.withCtes(
      """SELECT CAST(r.batch_id AS BIGINT) AS batch_id, r.op, r.force,
        |  r.host,
        |  CASE
        |    WHEN r.datanode IS NULL THEN 'HOST_NOT_FOUND'
        |    WHEN f.batch_id IS NOT NULL AND NOT r.force
        |      THEN 'BATCH_INSUFFICIENT_NODES'
        |    WHEN r.op = 'DECOMMISSION' THEN
        |      CASE WHEN r.op_state = 'IN_SERVICE'
        |          THEN 'DECOMMISSIONING_STARTED'
        |        WHEN r.op_state IN ('DECOMMISSIONING', 'DECOMMISSIONED')
        |          THEN 'NOOP_ALREADY'
        |        ELSE 'INVALID_STATE' END
        |    WHEN r.op = 'MAINTENANCE' THEN
        |      CASE WHEN r.op_state = 'IN_SERVICE'
        |          THEN 'ENTERING_MAINTENANCE'
        |        WHEN r.op_state IN
        |          ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
        |          THEN 'NOOP_ALREADY'
        |        ELSE 'INVALID_STATE' END
        |    ELSE CASE WHEN r.op_state <> 'IN_SERVICE'
        |        THEN 'QUEUED_RECOMMISSION'
        |      ELSE 'NOOP_ALREADY' END
        |    END AS verdict
        |FROM decadm_resolved r
        |LEFT JOIN decadm_fail f USING (batch_id)
        |ORDER BY r.batch_id, r.host""".stripMargin,
      O.containersScm, O.replicas, O.datanodes, O.ecShards,
      O.values("decadm_reqs", T.decommissionRequestRows),
      """decadm_resolved AS (
        |  SELECT q.*, d.uuid AS datanode, d.op_state, d.state
        |  FROM decadm_reqs q
        |  LEFT JOIN datanodes d ON d.hostname = q.host)""".stripMargin,
      """decadm_counts AS (
        |  SELECT batch_id,
        |    sum(CASE WHEN datanode IS NOT NULL
        |      AND op_state = 'IN_SERVICE' THEN 1 ELSE 0 END)
        |      AS num_valid
        |  FROM decadm_resolved GROUP BY 1)""".stripMargin,
      """decadm_nc AS (
        |  SELECT n.datanode, n.container_id,
        |    CASE WHEN (c.container_id % 12) % 3 = 2 THEN 5 ELSE 3 END
        |      AS req_nodes,
        |    CASE WHEN (c.container_id % 12) % 3 = 2 THEN 4 ELSE 2 END
        |      AS min_in_service
        |  FROM (
        |    SELECT datanode, container_id FROM replicas
        |    UNION ALL SELECT datanode, container_id FROM ec_shards) n
        |  JOIN containers_scm c ON c.container_id = n.container_id
        |    AND c.state <> 'DELETED')""".stripMargin,
      """decadm_fail AS (
        |  SELECT DISTINCT r.batch_id
        |  FROM decadm_resolved r
        |  JOIN decadm_counts k USING (batch_id)
        |  JOIN decadm_nc nc ON nc.datanode = r.datanode
        |  CROSS JOIN (SELECT count(*) AS ist FROM datanodes
        |    WHERE op_state = 'IN_SERVICE' AND state = 'HEALTHY') t
        |  WHERE r.datanode IS NOT NULL AND r.op_state = 'IN_SERVICE'
        |    AND NOT r.force
        |    AND ((r.op = 'DECOMMISSION'
        |        AND t.ist - k.num_valid < nc.req_nodes)
        |      OR (r.op = 'MAINTENANCE'
        |        AND t.ist - k.num_valid < nc.min_in_service)))""".stripMargin),

    // Under-replication mirror: the same synthesized replica/pending
    // dimensions, two-mode RatisContainerReplicaCount math, the verify
    // ladder and max-seq source selection in SQL.
    "q_under_replication" -> O.withCtes(
      """SELECT container_id, container_state, verdict,
        |  CAST(CASE WHEN verdict IN ('REPLICATE', 'NO_SOURCES')
        |    THEN needed ELSE 0 END AS BIGINT) AS needed,
        |  CAST(n_vulnerable AS BIGINT) AS n_vulnerable,
        |  CAST(CASE WHEN verdict IN ('REPLICATE', 'NO_SOURCES')
        |    THEN n_sources ELSE 0 END AS BIGINT) AS n_sources,
        |  CASE WHEN verdict = 'REPLICATE' THEN src_dns ELSE '' END
        |    AS src_dns,
        |  CAST(CASE WHEN verdict = 'REPLICATE_VULNERABLE'
        |      THEN n_vulnerable
        |    WHEN verdict = 'REPLICATE' THEN needed
        |    ELSE 0 END AS BIGINT) AS n_commands
        |FROM (
        |  SELECT s.*, coalesce(src.n_sources, 0) AS n_sources,
        |    coalesce(src.src_dns, '') AS src_dns,
        |    CASE
        |      WHEN s.n_replicas > 0 AND s.all_empty = 1
        |        AND s.container_state = 'QUASI_CLOSED'
        |        THEN 'SKIP_EMPTY_QC'
        |      WHEN s.n_vulnerable > 0 AND s.n_add >= s.n_vulnerable
        |        THEN 'SKIP_VULNERABLE_PENDING'
        |      WHEN s.n_vulnerable > 0 THEN 'REPLICATE_VULNERABLE'
        |      WHEN s.suff_without_noadd THEN 'NOT_UNDER'
        |      WHEN s.suff_without_add THEN 'PENDING_FIX'
        |      WHEN s.n_replicas = 0 THEN 'UNRECOVERABLE'
        |      WHEN s.suff_with_add AND s.healthy_count = 0
        |        THEN 'PENDING_UNHEALTHY_FIX'
        |      WHEN coalesce(src.n_sources, 0) = 0 THEN 'NO_SOURCES'
        |      ELSE 'REPLICATE' END AS verdict
        |  FROM urp_calc2 s
        |  LEFT JOIN urp_src src USING (container_id))
        |ORDER BY container_id""".stripMargin,
      O.datanodes, O.urpCont, O.urpReps,
      """urp_rep2x AS (
        |  SELECT *,
        |    (replica_state = 'UNHEALTHY'
        |      OR (replica_state = 'QUASI_CLOSED'
        |        AND container_state = 'CLOSED' AND seq <> c_seq)) AS tu,
        |    op_state IN ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
        |      AS mnt,
        |    op_state IN ('DECOMMISSIONING', 'DECOMMISSIONED') AS dcm
        |  FROM urp_rep2)""".stripMargin,
      """urp_pend AS (
        |  SELECT container_id,
        |    CASE WHEN container_id % 31 = 0 OR container_id % 116 = 0
        |      OR container_id % 118 = 0 THEN 1 ELSE 0 END AS n_add,
        |    CASE WHEN container_id % 37 = 0
        |      THEN 'dn' || (container_id % 20) ELSE '' END AS del_dn
        |  FROM urp_cont)""".stripMargin,
      """urp_counts AS (
        |  SELECT container_id, count(*) AS n_replicas,
        |    min(CASE WHEN is_empty THEN 1 ELSE 0 END) AS all_empty,
        |    max(CASE WHEN replica_state = 'CLOSED' THEN 1 ELSE 0 END)
        |      AS has_closed,
        |    max(CASE WHEN replica_state <> 'UNHEALTHY' THEN 1 ELSE 0
        |      END) AS any_healthy_state,
        |    sum(CASE WHEN NOT tu AND NOT mnt AND NOT dcm THEN 1 ELSE 0
        |      END) AS healthy_is,
        |    sum(CASE WHEN tu AND NOT mnt AND NOT dcm THEN 1 ELSE 0 END)
        |      AS unhealthy_is,
        |    sum(CASE WHEN NOT tu AND mnt THEN 1 ELSE 0 END) AS maint_h,
        |    sum(CASE WHEN tu AND mnt THEN 1 ELSE 0 END) AS maint_u,
        |    sum(CASE WHEN NOT tu AND dcm THEN 1 ELSE 0 END) AS decom_h,
        |    sum(CASE WHEN tu AND dcm THEN 1 ELSE 0 END) AS decom_u
        |  FROM urp_rep2x GROUP BY 1)""".stripMargin,
      """urp_vuln AS (
        |  SELECT r.container_id, count(*) AS n_vuln_raw
        |  FROM urp_rep2x r
        |  WHERE r.replica_state = 'UNHEALTHY' AND r.seq = r.c_seq
        |    AND NOT r.is_empty AND r.node_state = 'HEALTHY'
        |    AND NOT EXISTS (SELECT 1 FROM urp_rep2x o
        |      WHERE o.container_id = r.container_id
        |        AND o.op_state = 'IN_SERVICE'
        |        AND o.node_state = 'HEALTHY' AND o.seq = o.c_seq
        |        AND o.origin = r.origin)
        |  GROUP BY 1)""".stripMargin,
      """urp_del AS (
        |  SELECT p.container_id, p.n_add, p.del_dn,
        |    max(CASE WHEN r.datanode IS NOT NULL THEN 1 ELSE 0 END)
        |      AS del_on_unhealthy
        |  FROM urp_pend p
        |  LEFT JOIN urp_rep2x r ON r.container_id = p.container_id
        |    AND r.datanode = p.del_dn AND r.tu
        |  GROUP BY 1, 2, 3)""".stripMargin,
      """urp_calc AS (
        |  SELECT c.container_id, c.container_state,
        |    coalesce(k.n_replicas, 0) AS n_replicas,
        |    coalesce(k.all_empty, 0) AS all_empty,
        |    coalesce(k.has_closed, 0) AS has_closed,
        |    d.n_add, d.del_dn,
        |    CASE WHEN c.container_state = 'QUASI_CLOSED'
        |      AND coalesce(k.any_healthy_state, 0) = 1
        |      THEN coalesce(v.n_vuln_raw, 0) ELSE 0 END AS n_vulnerable,
        |    coalesce(k.healthy_is, 0) + coalesce(k.maint_h, 0)
        |      + coalesce(k.decom_h, 0) AS healthy_count,
        |    CASE WHEN d.del_dn <> '' AND d.del_on_unhealthy = 0 THEN 1
        |      ELSE 0 END AS n_del_without,
        |    CASE WHEN d.del_dn <> '' THEN 1 ELSE 0 END AS n_del_with,
        |    CASE WHEN 3 - coalesce(k.healthy_is, 0) < 0
        |        THEN 3 - coalesce(k.healthy_is, 0)
        |      WHEN 3 - coalesce(k.healthy_is, 0) > 0
        |        THEN GREATEST(
        |          GREATEST(3 - coalesce(k.healthy_is, 0)
        |            - coalesce(k.maint_h, 0), 0),
        |          GREATEST(2 - coalesce(k.healthy_is, 0), 0))
        |      ELSE 0 END AS miss_without,
        |    CASE WHEN 3 - coalesce(k.healthy_is, 0)
        |        - coalesce(k.unhealthy_is, 0) < 0
        |        THEN 3 - coalesce(k.healthy_is, 0)
        |          - coalesce(k.unhealthy_is, 0)
        |      WHEN 3 - coalesce(k.healthy_is, 0)
        |        - coalesce(k.unhealthy_is, 0) > 0
        |        THEN GREATEST(
        |          GREATEST(3 - coalesce(k.healthy_is, 0)
        |            - coalesce(k.unhealthy_is, 0)
        |            - coalesce(k.maint_h, 0) - coalesce(k.maint_u, 0),
        |            0),
        |          GREATEST(2 - coalesce(k.healthy_is, 0)
        |            - coalesce(k.unhealthy_is, 0), 0))
        |      ELSE 0 END AS miss_with
        |  FROM urp_cont c
        |  LEFT JOIN urp_counts k USING (container_id)
        |  LEFT JOIN urp_vuln v USING (container_id)
        |  JOIN urp_del d USING (container_id))""".stripMargin,
      """urp_calc2 AS (
        |  SELECT *,
        |    miss_without + n_del_without <= 0 AS suff_without_noadd,
        |    miss_without + n_del_without - n_add <= 0
        |      AS suff_without_add,
        |    miss_with + n_del_with - n_add <= 0 AS suff_with_add,
        |    CASE WHEN healthy_count = 0 THEN
        |      CASE WHEN miss_with < 0 THEN miss_with + n_del_with
        |        ELSE GREATEST(0, miss_with - n_add + n_del_with) END
        |    ELSE
        |      CASE WHEN miss_without < 0
        |        THEN miss_without + n_del_without
        |        ELSE GREATEST(0, miss_without - n_add + n_del_without)
        |        END
        |    END AS needed
        |  FROM urp_calc)""".stripMargin,
      """urp_src AS (
        |  SELECT container_id, count(*) AS n_sources,
        |    string_agg(datanode, ',' ORDER BY datanode) AS src_dns
        |  FROM (
        |    SELECT r.container_id, r.datanode, r.seq,
        |      max(r.seq) OVER (PARTITION BY r.container_id) AS max_seq
        |    FROM urp_rep2x r
        |    JOIN urp_calc s USING (container_id)
        |    WHERE (r.replica_state = 'CLOSED'
        |        OR (r.replica_state = 'QUASI_CLOSED'
        |          AND (s.has_closed = 0
        |            OR r.container_state = 'QUASI_CLOSED'))
        |        OR (r.replica_state = 'UNHEALTHY'
        |          AND s.healthy_count = 0))
        |      AND r.node_state = 'HEALTHY'
        |      AND (s.del_dn = '' OR r.datanode <> s.del_dn))
        |  WHERE seq = max_seq GROUP BY 1)""".stripMargin),

    // Over-replication mirror: the same staged windows in SQL — origin
    // ranks, mismatch positions, surviving-set rack counts.
    "q_over_replication" -> O.withCtes(
      """SELECT container_id, datanode, container_state, replica_state,
        |  CASE
        |    WHEN NOT node_healthy THEN 'FILTERED_NODE'
        |    WHEN excess <= 0 THEN 'NOT_OVER'
        |    WHEN op_state <> 'IN_SERVICE' THEN 'NOT_ELIGIBLE_OP_STATE'
        |    WHEN saved THEN 'SAVED_UNIQUE_ORIGIN'
        |    WHEN del_mismatch THEN 'DELETE_MISMATCH'
        |    WHEN rack_safe AND excess_pos <= rem_excess
        |      THEN 'DELETE_EXCESS'
        |    ELSE 'KEEP' END AS verdict
        |FROM (
        |  SELECT s.*, rc.rack_n, rt.rc,
        |    s.surviving AND NOT s.mismatched AND (
        |      (rt.rc >= 3 AND rt.rc -
        |        (CASE WHEN rc.rack_n = 1 THEN 1 ELSE 0 END) >= 3)
        |      OR (rt.rc < 3 AND rc.rack_n >= 2)) AS rack_safe,
        |    sum(CASE WHEN s.surviving AND NOT s.mismatched AND (
        |        (rt.rc >= 3 AND rt.rc -
        |          (CASE WHEN rc.rack_n = 1 THEN 1 ELSE 0 END) >= 3)
        |        OR (rt.rc < 3 AND rc.rack_n >= 2)) THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY s.container_id ORDER BY s.datanode
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS excess_pos
        |  FROM orp_staged s
        |  LEFT JOIN (SELECT container_id, rack, count(*) AS rack_n
        |    FROM orp_staged WHERE surviving GROUP BY 1, 2) rc
        |    ON rc.container_id = s.container_id AND rc.rack = s.rack
        |  LEFT JOIN (SELECT container_id, count(DISTINCT rack) AS rc
        |    FROM orp_staged WHERE surviving GROUP BY 1) rt
        |    ON rt.container_id = s.container_id)
        |ORDER BY container_id, datanode""".stripMargin,
      O.containersScm, O.replicas, O.datanodes,
      """orp_base AS (
        |  SELECT r.container_id, r.datanode, r.rack, r.replica_state,
        |    d.state AS node_state, d.op_state,
        |    d.state = 'HEALTHY' AS node_healthy,
        |    CASE WHEN c.container_id % 119 = 0 THEN 'QUASI_CLOSED'
        |      ELSE 'CLOSED' END AS container_state,
        |    c.replication_factor,
        |    count(*) OVER w AS n_replicas,
        |    sum(CASE WHEN d.state = 'HEALTHY' THEN 1 ELSE 0 END)
        |      OVER w AS n_healthy,
        |    min(r.datanode) OVER w AS min_dn,
        |    max(r.datanode) OVER w AS max_dn
        |  FROM replicas r
        |  JOIN datanodes d ON d.uuid = r.datanode
        |  JOIN containers_scm c ON c.container_id = r.container_id
        |    AND c.state <> 'DELETED'
        |  WINDOW w AS (PARTITION BY r.container_id))""".stripMargin,
      """orp_elig AS (
        |  SELECT *,
        |    n_healthy - replication_factor AS excess,
        |    CASE WHEN container_state = 'QUASI_CLOSED'
        |      AND datanode = max_dn THEN min_dn ELSE datanode END
        |      AS origin_dn,
        |    node_healthy AND op_state = 'IN_SERVICE'
        |      AND n_healthy - replication_factor > 0 AS eligible,
        |    replica_state <> container_state AS mismatched
        |  FROM orp_base WHERE n_replicas > replication_factor)""".stripMargin,
      """orp_ranked AS (
        |  SELECT *,
        |    sum(CASE WHEN eligible THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY container_id, origin_dn
        |      ORDER BY CASE WHEN replica_state = 'UNHEALTHY' THEN 1
        |        ELSE 0 END, datanode
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS origin_rank
        |  FROM orp_elig)""".stripMargin,
      """orp_saved AS (
        |  SELECT *,
        |    eligible AND container_state <> 'CLOSED' AND origin_rank = 1
        |      AS saved,
        |    eligible AND NOT (eligible AND container_state <> 'CLOSED'
        |      AND origin_rank = 1) AS is_cand
        |  FROM orp_ranked)""".stripMargin,
      """orp_staged AS (
        |  SELECT *,
        |    is_cand AND mismatched AND mis_pos <= excess AS del_mismatch,
        |    greatest(excess - sum(CASE WHEN is_cand AND mismatched
        |      AND mis_pos <= excess THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY container_id), 0) AS rem_excess,
        |    is_cand AND NOT (is_cand AND mismatched AND mis_pos <= excess)
        |      AS surviving
        |  FROM (
        |    SELECT *,
        |      sum(CASE WHEN is_cand AND mismatched THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY container_id ORDER BY datanode
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS mis_pos
        |    FROM orp_saved))""".stripMargin),

    // ACK-fold mirror: per-(txn, replica) ack flags → one hash agg.
    "q_block_ack_fold" -> O.withCtes(
      """SELECT txn_id, container_id, n_replicas, n_committed, n_missing,
        |  CASE WHEN least(n_replicas, n_committed) >= 3 THEN
        |    CASE WHEN n_missing = 0 THEN 'PURGED'
        |         ELSE 'WAITING_ALL_REPLICAS' END
        |  ELSE 'PENDING' END AS status
        |FROM (
        |  SELECT txn_id, container_id,
        |    count(*) AS n_replicas,
        |    CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) +
        |      CASE WHEN txn_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |      AS n_committed,
        |    CAST(sum(CASE WHEN success THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_missing
        |  FROM (
        |    SELECT t.txn_id, t.container_id, r.datanode,
        |      NOT (t.txn_id % 3 = 1 AND r.datanode = b.max_dn)
        |        AND NOT (t.txn_id % 3 = 2 AND r.datanode = b.min_dn)
        |        AS success
        |    FROM (
        |      SELECT object_id AS txn_id,
        |        (object_id // 10) % 1000 AS container_id
        |      FROM objects
        |      WHERE (version = 4 OR version = 5)
        |        AND (object_id // 10) % 10 = 0
        |      GROUP BY object_id) t
        |    JOIN replicas r ON r.container_id = t.container_id
        |    JOIN (SELECT container_id, max(datanode) AS max_dn,
        |            min(datanode) AS min_dn
        |          FROM replicas GROUP BY container_id) b
        |      ON b.container_id = t.container_id)
        |  GROUP BY txn_id, container_id)
        |ORDER BY txn_id""".stripMargin,
      O.objects, O.containersScm, O.replicas),

    "q_safemode" -> O.withCtes(
      """SELECT * FROM (
        |  WITH rules AS (
        |    SELECT 'CONTAINER' AS rule,
        |      (total * 9900 + 9999) // 10000 AS required, actual
        |    FROM (SELECT count(*) AS total FROM containers_scm
        |          WHERE state <> 'DELETED')
        |    CROSS JOIN (
        |      SELECT count(*) AS actual FROM (
        |        SELECT container_id FROM containers_scm
        |        WHERE state <> 'DELETED'
        |          AND container_id IN (SELECT container_id FROM replicas)))
        |    UNION ALL
        |    SELECT 'HEALTHY_PIPELINE',
        |      (total * 1000 + 9999) // 10000, actual
        |    FROM (SELECT count(*) AS total FROM pipelines)
        |    CROSS JOIN (
        |      SELECT count(*) AS actual FROM pipelines
        |      WHERE replication = 'RATIS/THREE' AND state = 'OPEN'
        |        AND leader_node IS NOT NULL)
        |    UNION ALL
        |    SELECT 'ONE_REPLICA_PIPELINE',
        |      (total * 9000 + 9999) // 10000, actual
        |    FROM (SELECT count(*) AS total FROM pipelines)
        |    CROSS JOIN (
        |      SELECT count(DISTINCT m.pipeline_id) AS actual
        |      FROM pipeline_members m
        |      JOIN datanodes d ON d.uuid = m.datanode
        |      WHERE d.state <> 'DEAD')
        |    UNION ALL
        |    SELECT 'DATANODE', 1, count(*)
        |    FROM datanodes WHERE state <> 'DEAD')
        |  SELECT rule, required, actual, actual >= required AS satisfied
        |  FROM rules
        |  UNION ALL
        |  SELECT 'EXIT_SAFEMODE', count(*),
        |    CAST(sum(CASE WHEN actual >= required THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN actual >= required THEN 1 ELSE 0 END) AS BIGINT) >= count(*)
        |  FROM rules)
        |ORDER BY rule""".stripMargin,
      O.datanodes, O.pipelines, O.pipelineMembers, O.containersScm,
      O.replicas),

    // EC-aware refinement: typed container rules + the EC datanode floor.
    "q_safemode_ec" -> O.withCtes(
      """SELECT * FROM (
        |  WITH tracked AS (
        |    SELECT container_id,
        |      CASE WHEN rep_type = 'EC' THEN ec_data ELSE 1 END
        |        AS min_replica, rep_type
        |    FROM sm_ec_containers
        |    WHERE state IN ('CLOSED', 'QUASI_CLOSED') AND num_keys > 0),
        |  reporters AS (
        |    SELECT container_id, count(DISTINCT datanode) AS n_reported
        |    FROM sm_ec_reports GROUP BY 1),
        |  counted AS (
        |    SELECT rep_type, count(*) AS total,
        |      sum(CASE WHEN coalesce(n_reported, 0) >= min_replica
        |        THEN 1 ELSE 0 END) AS actual
        |    FROM tracked LEFT JOIN reporters USING (container_id)
        |    GROUP BY 1),
        |  rules AS (
        |    SELECT t.rep_type || '_CONTAINER' AS rule,
        |      (coalesce(total, 0) * 9900 + 9999) // 10000 AS required,
        |      coalesce(actual, 0) AS actual
        |    FROM (VALUES ('RATIS'), ('EC')) t(rep_type)
        |    LEFT JOIN counted ON counted.rep_type = t.rep_type
        |    UNION ALL
        |    SELECT 'EC_MIN_DATANODE', 5, count(*)
        |    FROM datanodes
        |    WHERE state = 'HEALTHY' AND op_state = 'IN_SERVICE')
        |  SELECT rule, CAST(required AS BIGINT) AS required,
        |    CAST(actual AS BIGINT) AS actual,
        |    actual >= required AS satisfied
        |  FROM rules
        |  UNION ALL
        |  SELECT 'EXIT_SAFEMODE', count(*),
        |    CAST(sum(CASE WHEN actual >= required THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(sum(CASE WHEN actual >= required THEN 1 ELSE 0 END)
        |      AS BIGINT) >= count(*)
        |  FROM rules)
        |ORDER BY rule""".stripMargin,
      O.datanodes,
      """sm_ec_containers AS (
        |  SELECT container_id,
        |    CASE WHEN container_id % 3 = 0 THEN 'EC' ELSE 'RATIS' END
        |      AS rep_type,
        |    CASE WHEN container_id % 3 = 0 THEN
        |        CASE WHEN (container_id // 3) % 2 = 0 THEN 3 ELSE 6 END
        |      ELSE 0 END AS ec_data,
        |    CASE WHEN container_id % 97 = 0 THEN 'DELETED'
        |      WHEN container_id % 13 = 5 THEN 'OPEN'
        |      WHEN container_id % 13 = 9 THEN 'QUASI_CLOSED'
        |      ELSE 'CLOSED' END AS state,
        |    CASE WHEN container_id % 17 = 3 THEN 0
        |      ELSE container_id % 50 + 1 END AS num_keys
        |  FROM range(600) t(container_id))""".stripMargin,
      """sm_ec_reports AS (
        |  SELECT container_id,
        |    'dn' || ((container_id + r * 3) % 20) AS datanode
        |  FROM range(600) t(container_id), range(5) u(r)
        |  WHERE r < (container_id // 3) % 6)""".stripMargin),

    // AvailableSpaceFilter ladder over the shared volume literals.
    "q_volume_space_filter" -> O.withCtes(
      """SELECT vol_id, available, usable_reported,
        |  CASE WHEN available <= 100000 THEN 'REJECTED_HARD'
        |    WHEN usable_reported <= 100000 THEN 'SOFT_BAND'
        |    ELSE 'OK' END AS verdict,
        |  max(available) OVER () AS most_available
        |FROM (
        |  SELECT vol_id,
        |    remaining - committed - hard_spare AS available,
        |    remaining - committed - reported_spare AS usable_reported
        |  FROM cap_vols)
        |ORDER BY vol_id""".stripMargin,
      O.values("cap_vols", T.capacityVolumeRows)),

    // Two-choices winner table: exact cross-multiplied freeSpaceRatio.
    "q_capacity_pairs" -> O.withCtes(
      """SELECT f.vol_id AS first_id, s.vol_id AS second_id,
        |  CASE WHEN f.free_eff * s.cap_eff < s.free_eff * f.cap_eff
        |    THEN s.vol_id ELSE f.vol_id END AS winner_id
        |FROM elig f, elig s
        |ORDER BY 1, 2""".stripMargin,
      O.values("cap_vols", T.capacityVolumeRows),
      """elig AS (
        |  SELECT vol_id,
        |    CASE WHEN capacity <= 0 THEN 0
        |      ELSE greatest(remaining - committed, 0) END AS free_eff,
        |    greatest(capacity, 1) AS cap_eff
        |  FROM cap_vols
        |  WHERE remaining - committed - hard_spare > 100000)""".stripMargin),

    // Capacity-pipeline comparator: ranked-stack pop walk, integer
    // epsilon band, raw-used tiebreak, exhaustion/same-id → FIRST.
    "q_pipeline_capacity_compare" -> O.withCtes(
      """SELECT p.first_id, p.second_id,
        |  CASE WHEN p.first_id = p.second_id THEN 'FIRST'
        |    WHEN d.cmp IS NULL OR d.cmp <= 0 THEN 'FIRST'
        |    ELSE 'SECOND' END AS winner,
        |  CASE WHEN p.first_id = p.second_id OR d.cmp IS NULL
        |      OR d.cmp <= 0 THEN p.first_id
        |    ELSE p.second_id END AS winner_id,
        |  CAST(CASE WHEN p.first_id = p.second_id THEN 0
        |    ELSE coalesce(d.decided_round, 0) END AS BIGINT)
        |    AS decided_round,
        |  CASE WHEN p.first_id = p.second_id THEN 'SAME_ID'
        |    ELSE coalesce(d.mode, 'EXHAUSTED') END AS mode
        |FROM (SELECT a.pipeline_id AS first_id,
        |        b.pipeline_id AS second_id
        |      FROM (SELECT DISTINCT pipeline_id FROM pipe_nodes) a,
        |        (SELECT DISTINCT pipeline_id FROM pipe_nodes) b) p
        |LEFT JOIN (
        |  SELECT first_id, second_id, min(rnk) AS decided_round,
        |    min_by(cmp, rnk) AS cmp, min_by(mode, rnk) AS mode
        |  FROM (
        |    SELECT first_id, second_id, rnk,
        |      CASE WHEN abs(crossv) * 1000000 > c1 * c2 THEN
        |          CASE WHEN crossv > 0 THEN 1 ELSE -1 END
        |        WHEN u1 <> u2 THEN
        |          CASE WHEN u1 > u2 THEN 1 ELSE -1 END
        |        ELSE 0 END AS cmp,
        |      CASE WHEN abs(crossv) * 1000000 > c1 * c2 THEN 'WEIGHT'
        |        WHEN u1 <> u2 THEN 'RAW_USED'
        |        ELSE 'EQUAL' END AS mode
        |    FROM (
        |      SELECT a.pipeline_id AS first_id,
        |        b.pipeline_id AS second_id, a.rnk,
        |        a.used * b.cap_eff - b.used * a.cap_eff AS crossv,
        |        a.used AS u1, b.used AS u2,
        |        a.cap_eff AS c1, b.cap_eff AS c2
        |      FROM ranked a JOIN ranked b ON a.rnk = b.rnk))
        |  WHERE cmp <> 0
        |  GROUP BY 1, 2) d
        |  ON d.first_id = p.first_id AND d.second_id = p.second_id
        |ORDER BY p.first_id, p.second_id""".stripMargin,
      O.values("pipe_nodes", T.capacityPipeNodeRows),
      """ranked AS (
        |  SELECT pipeline_id,
        |    CAST(row_number() OVER (PARTITION BY pipeline_id
        |      ORDER BY used * 1000000 //
        |        (CASE WHEN capacity = 0 THEN 1 ELSE capacity END) DESC,
        |        used DESC, node) AS BIGINT) AS rnk,
        |    used,
        |    CASE WHEN capacity = 0 THEN 1 ELSE capacity END AS cap_eff
        |  FROM pipe_nodes)""".stripMargin),

    // Finalization checkpoints + initFinalize ladder + pending-feature
    // walk over the shared component/feature literals.
    "q_finalization_walk" -> O.withCtes(
      """SELECT c.comp_id, c.kind,
        |  CASE WHEN mlv > slv THEN 'INVALID_MLV_AHEAD'
        |    WHEN NOT has_mark AND mlv < slv THEN 'FINALIZATION_REQUIRED'
        |    WHEN has_mark AND mlv < slv THEN 'FINALIZATION_STARTED'
        |    WHEN has_mark THEN 'MLV_EQUALS_SLV'
        |    ELSE 'FINALIZATION_COMPLETE' END AS checkpoint,
        |  CASE WHEN mlv > slv THEN 'ERROR'
        |    WHEN NOT has_mark AND mlv < slv THEN 'FINALIZATION_REQUIRED'
        |    WHEN has_mark THEN 'FINALIZATION_IN_PROGRESS'
        |    ELSE 'FINALIZATION_DONE' END AS client_status,
        |  iv AS init_verdict,
        |  coalesce(p.n_features, 0) AS n_features,
        |  coalesce(p.first_feature, '') AS first_feature,
        |  CASE WHEN iv = 'PROCEED' THEN slv ELSE mlv END AS target_mlv
        |FROM (
        |  SELECT *,
        |    CASE WHEN mlv > slv THEN 'ERR_MLV_AHEAD'
        |      WHEN upgrade_state = 'STARTING_FINALIZATION'
        |        THEN 'STARTING'
        |      WHEN upgrade_state = 'FINALIZATION_IN_PROGRESS'
        |        THEN 'IN_PROGRESS'
        |      WHEN upgrade_state IN ('FINALIZATION_DONE',
        |          'ALREADY_FINALIZED') THEN
        |        CASE WHEN mlv < slv THEN 'ERR_INCONSISTENT_DONE'
        |          ELSE 'FINALIZED' END
        |      ELSE CASE WHEN mlv >= slv
        |        THEN 'ERR_INCONSISTENT_REQUIRED'
        |        ELSE 'PROCEED' END END AS iv
        |  FROM fin_comps) c
        |LEFT JOIN (
        |  SELECT comp_id, count(*) AS n_features,
        |    min_by(feature, version) AS first_feature
        |  FROM fin_comps JOIN layout_features
        |    ON version > mlv AND version <= slv
        |  GROUP BY 1) p ON p.comp_id = c.comp_id
        |ORDER BY c.comp_id""".stripMargin,
      O.values("fin_comps", T.finalizationComponentRows),
      O.values("layout_features", T.layoutFeatureRows)),

    // GDPR scrub mirror from the flat shared literals (the Spark side
    // does the real map_filter; kept keys sort alphabetically:
    // algorithm < custom < gdprEnabled < secret).
    "q_gdpr_scrub" -> O.withCtes(
      """SELECT key_id, was_gdpr,
        |  rtrim(
        |    (CASE WHEN has_algorithm AND NOT was_gdpr
        |       THEN 'algorithm,' ELSE '' END) ||
        |    (CASE WHEN extra_meta <> '' THEN 'custom,' ELSE '' END) ||
        |    (CASE WHEN gdpr_flag_raw IS NOT NULL AND NOT was_gdpr
        |       THEN 'gdprEnabled,' ELSE '' END) ||
        |    (CASE WHEN has_secret AND NOT was_gdpr
        |       THEN 'secret,' ELSE '' END), ',') AS kept_meta,
        |  has_enc_info AND NOT was_gdpr AS enc_kept,
        |  CAST(7777 AS BIGINT) AS new_update_id
        |FROM (
        |  SELECT *,
        |    lower(coalesce(gdpr_flag_raw, '')) = 'true' AS was_gdpr
        |  FROM gdpr_keys)
        |ORDER BY key_id""".stripMargin,
      O.values("gdpr_keys", T.gdprKeyRows)),

    // Chatbot guard mirror: allowlist probe, bucket-scope rungs, the
    // limit-parse ladder (TRY_CAST + regex == Integer.parseInt incl. the
    // parseable-but-≤0 throw), over the SHARED call/allowlist literals.
    "q_chatbot_guard" -> O.withCtes(
      """SELECT call_id, verdict,
        |  CAST(CASE WHEN verdict = 'ALLOWED'
        |    THEN least(coalesce(parsed, 1000), 1000)
        |    ELSE 0 END AS BIGINT) AS effective_limit,
        |  (verdict = 'ALLOWED' AND has_prev_key) AS prev_key_stripped
        |FROM (
        |  SELECT c.*,
        |    CASE WHEN tool_name = '' THEN 'FALLBACK'
        |      WHEN tool_name NOT IN (SELECT tool FROM chatbot_tools)
        |        THEN 'BLOCKED_UNKNOWN_TOOL'
        |      WHEN tool_name = 'api_v1_keys_listKeys' AND NOT (
        |          start_prefix IS NOT NULL
        |          AND trim(start_prefix) <> ''
        |          AND trim(start_prefix) <> '/'
        |          AND trim(start_prefix) LIKE '/%'
        |          AND trim(start_prefix) NOT LIKE '%..%'
        |          AND len(list_filter(
        |            string_split(trim(start_prefix), '/'),
        |            x -> x <> '')) >= 2)
        |        THEN 'BLOCKED_UNSCOPED'
        |      WHEN parseable AND parsed <= 0 THEN 'ERROR_BAD_LIMIT'
        |      ELSE 'ALLOWED' END AS verdict
        |  FROM (
        |    SELECT *,
        |      limit_raw IS NOT NULL AND trim(limit_raw) <> ''
        |        AND regexp_matches(trim(limit_raw), '^[+-]?[0-9]+$')
        |        AND TRY_CAST(trim(limit_raw) AS DECIMAL(38,0))
        |          BETWEEN -2147483648 AND 2147483647 AS parseable,
        |      CASE WHEN limit_raw IS NOT NULL
        |          AND trim(limit_raw) <> ''
        |          AND regexp_matches(trim(limit_raw), '^[+-]?[0-9]+$')
        |          AND TRY_CAST(trim(limit_raw) AS DECIMAL(38,0))
        |            BETWEEN -2147483648 AND 2147483647
        |        THEN CAST(trim(limit_raw) AS BIGINT) END AS parsed
        |    FROM chatbot_calls) c)
        |ORDER BY call_id""".stripMargin,
      O.values("chatbot_calls", T.chatbotCallRows),
      O.values("chatbot_tools", T.chatbotAllowlistRows)),

    // EC writable-provider mirror over the shared scenario literals.
    "q_ec_container_provider" -> O.withCtes(
      """SELECT req_id, CAST(max0 AS BIGINT) AS max_pipelines, outcome,
        |  CAST(CASE WHEN outcome = 'SELECTED' THEN selected
        |    ELSE 0 END AS BIGINT) AS chosen_pipeline,
        |  CAST(CASE WHEN outcome = 'NEW_ALLOC_PREMAX' THEN 0
        |    WHEN outcome = 'SELECTED' THEN coalesce(closed_before, 0)
        |    ELSE closed_all END AS BIGINT) AS n_closed,
        |  CAST(CASE WHEN outcome = 'NEW_ALLOC_PREMAX' THEN 0
        |    WHEN outcome = 'SELECTED' THEN coalesce(skipped_before, 0)
        |    ELSE skipped_all END AS BIGINT) AS n_skipped,
        |  CAST(CASE WHEN outcome IN ('NEW_ALLOC_FINAL', 'FAIL_CREATE',
        |      'FAIL_LIMIT') THEN fmax ELSE max0 END AS BIGINT)
        |    AS final_max
        |FROM (
        |  SELECT *,
        |    CASE WHEN pre_gate AND NOT create_fails
        |        THEN 'NEW_ALLOC_PREMAX'
        |      WHEN selected IS NOT NULL THEN 'SELECTED'
        |      WHEN open_after < fmax THEN
        |        CASE WHEN create_fails THEN 'FAIL_CREATE'
        |          ELSE 'NEW_ALLOC_FINAL' END
        |      ELSE 'FAIL_LIMIT' END AS outcome
        |  FROM (
        |    SELECT r.*, w.selected, w.closed_all, w.skipped_all,
        |      p.closed_before, p.skipped_before,
        |      greatest((factor_bp * healthy_volumes) // 50000,
        |        min_pipelines) AS max0,
        |      (SELECT count(*) FROM ecp_pipes) <
        |        greatest((factor_bp * healthy_volumes) // 50000,
        |          min_pipelines) AS pre_gate,
        |      (SELECT count(*) FROM ecp_pipes) - w.closed_all
        |        AS open_after,
        |      CASE WHEN (SELECT count(*) FROM ecp_pipes) - w.closed_all
        |          >= greatest((factor_bp * healthy_volumes) // 50000,
        |            min_pipelines)
        |          AND node_count >
        |            greatest((factor_bp * healthy_volumes) // 50000,
        |              min_pipelines)
        |        THEN node_count
        |        ELSE greatest((factor_bp * healthy_volumes) // 50000,
        |          min_pipelines) END AS fmax
        |    FROM ecp_reqs r
        |    JOIN (
        |      SELECT req_id,
        |        min(CASE WHEN rung = 'OK' THEN pipeline_id END)
        |          AS selected,
        |        sum(CASE WHEN rung = 'CLOSE' THEN 1 ELSE 0 END)
        |          AS closed_all,
        |        sum(CASE WHEN rung = 'SKIP' THEN 1 ELSE 0 END)
        |          AS skipped_all
        |      FROM cls GROUP BY 1) w ON w.req_id = r.req_id
        |    LEFT JOIN (
        |      SELECT c.req_id,
        |        sum(CASE WHEN c.rung = 'CLOSE'
        |          AND c.pipeline_id < w2.selected THEN 1 ELSE 0 END)
        |          AS closed_before,
        |        sum(CASE WHEN c.rung = 'SKIP'
        |          AND c.pipeline_id < w2.selected THEN 1 ELSE 0 END)
        |          AS skipped_before
        |      FROM cls c JOIN (
        |        SELECT req_id,
        |          min(CASE WHEN rung = 'OK' THEN pipeline_id END)
        |            AS selected
        |        FROM cls GROUP BY 1) w2 ON w2.req_id = c.req_id
        |      WHERE w2.selected IS NOT NULL
        |      GROUP BY 1) p ON p.req_id = r.req_id))
        |ORDER BY req_id""".stripMargin,
      O.values("ecp_pipes", T.ecProviderPipelineRows),
      O.values("ecp_excl", T.ecProviderExcludeRows),
      O.values("ecp_reqs", T.ecProviderRequestRows),
      """cls AS (
        |  SELECT r.req_id, p.pipeline_id,
        |    CASE WHEN NOT p.has_container
        |        OR p.used_bytes + 100000 > 1000000 THEN 'CLOSE'
        |      WHEN EXISTS (SELECT 1 FROM ecp_excl e
        |        WHERE e.set_id = r.set_id
        |          AND e.pipeline_id = p.pipeline_id) THEN 'SKIP'
        |      ELSE 'OK' END AS rung
        |  FROM ecp_reqs r, ecp_pipes p)""".stripMargin),

    // Pipeline-creator selection table over the shared scenario literals.
    "q_pipeline_creator" -> O.withCtes(
      """SELECT sc_id,
        |  CASE WHEN default_type = 'EC' THEN
        |      CASE WHEN create_ratis_three_for_ec THEN 'RATIS/THREE'
        |        ELSE '' END
        |    WHEN default_type = 'RATIS' THEN
        |      CASE WHEN auto_factor_one THEN 'RATIS/ONE,RATIS/THREE'
        |        ELSE 'RATIS/THREE' END
        |    WHEN default_type = 'STAND_ALONE' THEN 'STANDALONE/ONE'
        |    ELSE '' END AS configs,
        |  leader_ready AND (NOT in_safemode OR create_in_safemode)
        |    AS runs
        |FROM pc_scenarios
        |ORDER BY sc_id""".stripMargin,
      O.values("pc_scenarios", T.pipelineCreatorScenarioRows)),

    // CLOSE_CONTAINER ladder over the shared event literals.
    "q_close_container_event" -> O.withCtes(
      """SELECT event_id, action, finalized,
        |  CAST(CASE WHEN action IN ('SENT', 'SENT_FORCE') THEN
        |      CASE WHEN pipeline_exists THEN n_pipeline_nodes
        |        ELSE n_replica_nodes END
        |    ELSE 0 END AS BIGINT) AS n_targets
        |FROM (
        |  SELECT *,
        |    CASE WHEN NOT is_leader THEN 'SKIP_NOT_LEADER'
        |      WHEN eff_state <> 'CLOSING' THEN 'NOOP'
        |      WHEN already_queued THEN 'SKIP_QUEUED'
        |      WHEN rep_type <> 'RATIS' THEN 'SENT_FORCE'
        |      ELSE 'SENT' END AS action
        |  FROM (
        |    SELECT *,
        |      is_leader AND state = 'OPEN' AS finalized,
        |      CASE WHEN is_leader AND state = 'OPEN' THEN 'CLOSING'
        |        ELSE state END AS eff_state
        |    FROM cce))
        |ORDER BY event_id""".stripMargin,
      O.values("cce", T.closeContainerEventRows)),

    // Dead-node ladder over the shared event literals.
    "q_dead_node_handler" -> O.withCtes(
      """SELECT node_id,
        |  CASE WHEN health_at_event <> 'DEAD' THEN 'SKIP_NOT_DEAD'
        |    ELSE 'HANDLED' END AS action,
        |  CAST(CASE WHEN health_at_event = 'DEAD' THEN n_pipelines
        |    ELSE 0 END AS BIGINT) AS pipelines_destroyed,
        |  CAST(CASE WHEN health_at_event = 'DEAD' AND NOT in_maintenance
        |    THEN n_replicas ELSE 0 END AS BIGINT) AS replicas_removed,
        |  (health_at_event = 'DEAD' AND NOT in_maintenance)
        |    AS rm_notified,
        |  (health_at_event = 'DEAD' AND NOT in_maintenance)
        |    AS dn_txns_purged,
        |  CAST(CASE WHEN health_at_event = 'DEAD' THEN n_commands
        |    ELSE 0 END AS BIGINT) AS commands_cleared,
        |  (health_at_event = 'DEAD' AND health_at_topology = 'DEAD'
        |    AND in_topology) AS topology_removed
        |FROM dne
        |ORDER BY node_id""".stripMargin,
      O.values("dne", T.deadNodeEventRows)),

    // DN close-command ladder over the shared literals.
    "q_dn_close_command" -> O.withCtes(
      """SELECT cmd_id,
        |  CASE WHEN NOT container_present THEN 'MISSING'
        |    WHEN state IN ('OPEN', 'CLOSING') THEN
        |      CASE WHEN pipeline_in_channel THEN 'CLOSE_VIA_RATIS'
        |        WHEN force THEN 'CLOSED_DIRECT'
        |        ELSE 'QUASI_CLOSED' END
        |    WHEN state = 'QUASI_CLOSED' THEN
        |      CASE WHEN force THEN 'CLOSED_DIRECT' ELSE 'NOOP' END
        |    WHEN state = 'CLOSED' THEN 'NOOP'
        |    ELSE 'NOOP_BAD_STATE' END AS action,
        |  (container_present AND state = 'OPEN') AS marked_closing
        |FROM dcc
        |ORDER BY cmd_id""".stripMargin,
      O.values("dcc", T.dnCloseCommandRows)),

    // EC degraded-read decision over the shared block literals.
    "q_ec_degraded_read" -> O.withCtes(
      """SELECT block_id, expected_data, available_data,
        |  CASE WHEN available_data < expected_data
        |    THEN 'RECONSTRUCTION' ELSE 'NORMAL' END AS reader,
        |  CAST(CASE WHEN available_data < expected_data
        |    THEN expected_data - available_data ELSE 0 END AS BIGINT)
        |    AS n_missing,
        |  n_parity_avail,
        |  CASE WHEN available_data >= expected_data THEN 'OK'
        |    WHEN expected_data - available_data <= n_parity_avail
        |      THEN 'OK'
        |    ELSE 'INSUFFICIENT' END AS verdict
        |FROM (
        |  SELECT block_id,
        |    least((block_len + chunk_size - 1) // chunk_size, ec_data)
        |      AS expected_data,
        |    CAST(len(list_distinct(list_filter(
        |      list_transform(string_split(avail, ','),
        |        x -> CAST(x AS BIGINT)),
        |      x -> x >= 1 AND x <= least(
        |        (block_len + chunk_size - 1) // chunk_size, ec_data))))
        |      AS BIGINT) AS available_data,
        |    CAST(len(list_distinct(list_filter(
        |      list_transform(string_split(avail, ','),
        |        x -> CAST(x AS BIGINT)),
        |      x -> x > ec_data AND x <= ec_data + ec_parity)))
        |      AS BIGINT) AS n_parity_avail
        |  FROM ecr)
        |ORDER BY block_id""".stripMargin,
      O.values("ecr", T.ecReadBlockRows)),

    // URL canonicalization + keep-min dedup; the synthesis CTE mirrors
    // Tables.docUrls bit-for-bit.
    "q_url_dedup" -> O.withCtes(
      """SELECT doc_id, canonical,
        |  count(*) OVER (PARTITION BY canonical) AS cluster_size,
        |  count(*) OVER (PARTITION BY canonical) > 1 AS is_dup,
        |  doc_id = min(doc_id) OVER (PARTITION BY canonical) AS keep
        |FROM (
        |  SELECT doc_id,
        |    scheme || '://' || host || portkept || path ||
        |      CASE WHEN kept = '' THEN '' ELSE '?' || kept END
        |      AS canonical
        |  FROM (
        |    SELECT doc_id,
        |      lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |      lower(regexp_extract(regexp_extract(url,
        |        '^[A-Za-z]+://([^/?#]+)', 1), '^([^:]+)', 1)) AS host,
        |      CASE WHEN prt = ''
        |          OR (lower(regexp_extract(url, '^([A-Za-z]+)://', 1))
        |            = 'https' AND prt = '443')
        |          OR (lower(regexp_extract(url, '^([A-Za-z]+)://', 1))
        |            = 'http' AND prt = '80')
        |        THEN '' ELSE ':' || prt END AS portkept,
        |      CASE WHEN p0 = '' THEN '/'
        |        ELSE regexp_replace(p0, '/index\.html$', '/') END AS path,
        |      coalesce(array_to_string(list_sort(list_filter(
        |        string_split(coalesce(
        |          regexp_extract(url, '\?([^#]*)', 1), ''), '&'),
        |        p -> NOT (starts_with(p, 'utm_')
        |          OR starts_with(p, 'fbclid=')
        |          OR starts_with(p, 'gclid=') OR p = ''))), '&'), '')
        |        AS kept
        |    FROM (
        |      SELECT doc_id, url,
        |        coalesce(regexp_extract(regexp_extract(url,
        |          '^[A-Za-z]+://([^/?#]+)', 1), ':([0-9]+)$', 1), '')
        |          AS prt,
        |        regexp_replace(regexp_extract(url,
        |          '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/{2,}', '/', 'g')
        |          AS p0
        |      FROM doc_urls)))
        |ORDER BY doc_id""".stripMargin,
      """doc_urls AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
        |    || '://'
        |    || (CASE WHEN doc_id % 4 = 0 THEN 'Example.COM'
        |        WHEN doc_id % 4 = 1 THEN 'example.com'
        |        WHEN doc_id % 4 = 2 THEN 'cdn.example.com'
        |        ELSE 'data.net' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':443'
        |        WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
        |    || '/crawl//' || (doc_id // 7)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/index.html'
        |        ELSE '/' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&ref=1'
        |        WHEN doc_id % 6 = 1 THEN '?ref=1&utm_source=mail'
        |        WHEN doc_id % 6 = 2 THEN '?b=2&a=1'
        |        WHEN doc_id % 6 = 3 THEN '?a=1&b=2' ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN '#sec' ELSE '' END)
        |      AS url
        |  FROM documents)""".stripMargin),

    // Export-job-manager mirror: the same snapshot fixtures, the same
    // candidate/first-occurrence/running-capacity windows, rung CASEs.
    "q_export_jobs" -> O.withCtes(
      """SELECT req_id, op, arg, verdict, queue_position, downloads_left
        |FROM (
        |  SELECT s.req_id, 'SUBMIT' AS op, s.arg,
        |    CASE WHEN NOT s.is_valid THEN 'INVALID_STATE'
        |      WHEN s.dup_tracked THEN 'DUPLICATE_STATE'
        |      WHEN NOT s.is_cand THEN
        |        CASE WHEN f.first_accepted THEN 'DUPLICATE_STATE'
        |          ELSE 'QUEUE_FULL' END
        |      WHEN s.accepted THEN 'ACCEPTED'
        |      ELSE 'QUEUE_FULL' END AS verdict,
        |    CASE WHEN s.accepted AND s.is_cand AND s.is_valid
        |        AND NOT s.dup_tracked
        |      THEN s.q0 + s.k ELSE 0 END AS queue_position,
        |    CAST(0 AS BIGINT) AS downloads_left
        |  FROM ej_subm3 s
        |  LEFT JOIN ej_first f ON f.arg = s.arg
        |  UNION ALL
        |  SELECT r.req_id, r.op, r.arg,
        |    CASE WHEN t.status IS NULL THEN 'NOT_FOUND'
        |      ELSE t.status END AS verdict,
        |    CASE WHEN t.status = 'QUEUED'
        |      THEN CAST(p.qpos AS BIGINT) ELSE 0 END AS queue_position,
        |    CAST(0 AS BIGINT) AS downloads_left
        |  FROM ej_reqs r
        |  LEFT JOIN ej_tracked t ON t.job_id = r.arg
        |  LEFT JOIN ej_qpos p ON p.job_id = r.arg
        |  WHERE r.op = 'STATUS'
        |  UNION ALL
        |  SELECT r.req_id, r.op, r.arg,
        |    CASE WHEN t.status IS NULL THEN 'NOT_FOUND'
        |      WHEN t.status <> 'COMPLETED' THEN 'NOT_COMPLETED'
        |      WHEN t.download_count >= 2 THEN 'LIMIT_REACHED'
        |      ELSE 'DOWNLOAD_OK' END AS verdict,
        |    CAST(0 AS BIGINT) AS queue_position,
        |    CASE WHEN t.status = 'COMPLETED' AND t.download_count < 2
        |      THEN CAST(2 - t.download_count - 1 AS BIGINT)
        |      ELSE 0 END AS downloads_left
        |  FROM ej_reqs r
        |  LEFT JOIN ej_tracked t ON t.job_id = r.arg
        |  WHERE r.op = 'DOWNLOAD'
        |  UNION ALL
        |  SELECT r.req_id, r.op, r.arg,
        |    CASE WHEN t.status IS NULL THEN 'NOT_FOUND'
        |      WHEN t.status IN ('QUEUED', 'RUNNING') THEN 'CANCELLED'
        |      ELSE 'DELETED' END AS verdict,
        |    CAST(0 AS BIGINT) AS queue_position,
        |    CAST(0 AS BIGINT) AS downloads_left
        |  FROM ej_reqs r
        |  LEFT JOIN ej_tracked t ON t.job_id = r.arg
        |  WHERE r.op = 'CANCEL')
        |ORDER BY req_id""".stripMargin,
      O.values("ej_tracked", T.exportJobTrackedRows),
      O.values("ej_reqs", T.exportJobRequestRows),
      O.values("ej_valid", T.exportJobValidStateRows),
      """ej_qpos AS (
        |  SELECT job_id, row_number() OVER (ORDER BY job_idx) AS qpos
        |  FROM ej_tracked WHERE status = 'QUEUED')""".stripMargin,
      """ej_subm AS (
        |  SELECT r.req_id, r.arg,
        |    v.vstate IS NOT NULL AS is_valid,
        |    a.state IS NOT NULL AS dup_tracked,
        |    (v.vstate IS NOT NULL AND a.state IS NULL AND
        |     row_number() OVER (PARTITION BY r.arg ORDER BY r.req_id) = 1)
        |      AS is_cand
        |  FROM ej_reqs r
        |  LEFT JOIN ej_valid v ON v.vstate = r.arg
        |  LEFT JOIN (SELECT DISTINCT state FROM ej_tracked
        |    WHERE status IN ('QUEUED', 'RUNNING', 'COMPLETED')) a
        |    ON a.state = r.arg
        |  WHERE r.op = 'SUBMIT')""".stripMargin,
      """ej_subm3 AS (
        |  SELECT s.*, q.q0, (s.is_cand AND q.q0 + s.k <= 3) AS accepted
        |  FROM (
        |    SELECT *, CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END)
        |      OVER (ORDER BY req_id ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS BIGINT) AS k
        |    FROM ej_subm) s
        |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS q0
        |    FROM ej_tracked WHERE status = 'QUEUED') q)""".stripMargin,
      """ej_first AS (
        |  SELECT arg, accepted AS first_accepted
        |  FROM ej_subm3 WHERE is_cand)""".stripMargin),

    // Recon /volumes mirror: volume CATALOG (incl. the planted
    // zero-object vol21) LEFT-joined to the per-volume time rollup with
    // catalog-derived fallback times, exists-gated exclusive prevKey
    // page, totalCount = page size.
    "q_recon_volumes" -> O.withCtes(
      """SELECT CAST(count(*) OVER () AS BIGINT) AS total_count,
        |  volume, 'om-admin' AS admin, owner, quota_bytes,
        |  CAST(1000000 AS BIGINT) AS quota_namespace,
        |  used_bytes, used_namespace, bucket_count,
        |  creation_time, modification_time
        |FROM (
        |  SELECT v.*,
        |    COALESCE(t.creation_time, 1400000000000 +
        |      CAST(substr(v.volume, 4, 10) AS BIGINT) * 86400000)
        |      AS creation_time,
        |    COALESCE(t.modification_time, 1400000000000 +
        |      CAST(substr(v.volume, 4, 10) AS BIGINT) * 86400000
        |      + 3600000) AS modification_time
        |  FROM volumes_catalog v
        |  LEFT JOIN (SELECT volume,
        |      CAST(min(creation_time) AS BIGINT) AS creation_time,
        |      CAST(max(modification_time) AS BIGINT) AS modification_time
        |    FROM objects GROUP BY volume) t USING (volume)
        |  WHERE v.volume > 'vol1'
        |    AND EXISTS (SELECT 1 FROM volumes_catalog WHERE volume = 'vol1')
        |  ORDER BY v.volume LIMIT 3)
        |ORDER BY volume""".stripMargin,
      O.objects, O.buckets, O.bucketsCatalog, O.volumesCatalog),

    // Recon /buckets mirror: bucket CATALOG (incl. the planted
    // zero-object vol2/bucket41, which displaces bucket7 from the page)
    // LEFT-joined to the per-bucket time rollup with catalog-derived
    // fallback times, volume-scoped exclusive startBucket page,
    // synthesized storageType/versioning off bucket_idx, totalCount =
    // page size.
    "q_recon_buckets" -> O.withCtes(
      """SELECT CAST(count(*) OVER () AS BIGINT) AS total_count,
        |  volume, bucket,
        |  CASE WHEN bucket_idx % 3 = 0 THEN 'SSD' ELSE 'DISK' END
        |    AS storage_type,
        |  bucket_idx % 4 = 0 AS is_versioning_enabled,
        |  used_bytes, quota_bytes, quota_namespace, used_namespace,
        |  layout, 'admin' || substr(volume, 4, 10) AS owner,
        |  creation_time, modification_time
        |FROM (
        |  SELECT b.*, CAST(substr(b.bucket, 7, 10) AS BIGINT) AS bucket_idx,
        |    COALESCE(t.creation_time, 1400000000000 +
        |      CAST(substr(b.bucket, 7, 10) AS BIGINT) * 86400000)
        |      AS creation_time,
        |    COALESCE(t.modification_time, 1400000000000 +
        |      CAST(substr(b.bucket, 7, 10) AS BIGINT) * 86400000
        |      + 7200000) AS modification_time
        |  FROM buckets_catalog b
        |  LEFT JOIN (SELECT volume, bucket,
        |      CAST(min(creation_time) AS BIGINT) AS creation_time,
        |      CAST(max(modification_time) AS BIGINT) AS modification_time
        |    FROM objects GROUP BY volume, bucket) t
        |    USING (volume, bucket)
        |  WHERE b.volume = 'vol2' AND b.bucket > 'bucket3'
        |  ORDER BY b.volume, b.bucket LIMIT 4)
        |ORDER BY volume, bucket""".stripMargin,
      O.objects, O.buckets, O.bucketsCatalog),

    // /pendingDeletion mirror: request dispatch over the same txn/dir/key
    // rollups, every aggregate CAST BIGINT.
    "q_pending_deletion" -> O.withCtes(
      s"""SELECT req_id, verdict, entity, metric, value FROM (
         |  SELECT req_id,
         |    CASE WHEN component = '' THEN 'MISSING_COMPONENT'
         |      WHEN comp NOT IN ('dn', 'scm', 'om')
         |        THEN 'INVALID_COMPONENT'
         |      ELSE 'LIMIT_TOO_SMALL' END AS verdict,
         |    '' AS entity, '' AS metric, CAST(0 AS BIGINT) AS value
         |  FROM pd_reqs
         |  WHERE component = '' OR comp NOT IN ('dn', 'scm', 'om')
         |    OR (comp = 'dn' AND lim = 0)
         |  UNION ALL
         |  SELECT r.req_id, 'DN_OK', p.dn, 'pending_blocks',
         |    p.pending_blocks
         |  FROM pd_reqs r CROSS JOIN (
         |    SELECT dn, pending_blocks, row_number() OVER (
         |      ORDER BY pending_blocks DESC, dn) AS rk FROM pd_dn) p
         |  WHERE r.comp = 'dn' AND r.lim <> 0
         |    AND (r.lim < 0 OR p.rk <= r.lim)
         |  UNION ALL
         |  SELECT r.req_id, 'DN_OK', '_summary', m.metric, m.value
         |  FROM pd_reqs r CROSS JOIN (
         |    SELECT 'total_pending_deletion' AS metric,
         |      CAST(coalesce(sum(pending_blocks), 0) AS BIGINT) AS value
         |    FROM pd_dn
         |    UNION ALL
         |    SELECT 'nodes_queried', CAST(count(*) AS BIGINT)
         |    FROM pd_dn) m
         |  WHERE r.comp = 'dn' AND r.lim <> 0
         |  UNION ALL
         |  SELECT r.req_id, 'SCM_OK', 'scm', m.metric, m.value
         |  FROM pd_reqs r CROSS JOIN (
         |    SELECT 'total_block_size' AS metric,
         |      CAST(sum(data_size) AS BIGINT) AS value FROM pd_txns_live
         |    UNION ALL
         |    SELECT 'total_replicated_size',
         |      CAST(sum(data_size * n_replicas) AS BIGINT)
         |    FROM pd_txns_live
         |    UNION ALL
         |    SELECT 'total_count', CAST(sum(block_count) AS BIGINT)
         |    FROM pd_txns_live) m
         |  WHERE r.comp = 'scm'
         |  UNION ALL
         |  SELECT r.req_id, 'OM_OK', 'om', m.metric, m.value
         |  FROM pd_reqs r CROSS JOIN (
         |    SELECT 'pendingDirectorySize' AS metric,
         |      (SELECT v FROM pd_dirsize) AS value
         |    UNION ALL
         |    SELECT 'pendingKeySize', (SELECT v FROM pd_keysize)
         |    UNION ALL
         |    SELECT 'totalSize', (SELECT v FROM pd_dirsize)
         |      + (SELECT v FROM pd_keysize)) m
         |  WHERE r.comp = 'om')
         |ORDER BY req_id, metric, entity""".stripMargin,
      O.objects, O.objectsMixed, O.deletedDirs, O.replicas,
      O.containersScm,
      O.values("pd_rows", T.pendingDeletionRequestRows),
      """pd_reqs AS (
        |  SELECT req_id, component, lower(trim(component)) AS comp,
        |    "limit" AS lim
        |  FROM pd_rows)""".stripMargin,
      s"""pd_txns_live AS (
         |  SELECT t.txn_id, t.data_size, t.container_id,
         |    (t.data_size - 1) // ${graft.core.Tables.LocChunkBytes} + 1
         |      AS block_count,
         |    CAST(coalesce(rc.n_replicas, 0) AS BIGINT) AS n_replicas
         |  FROM (
         |    SELECT object_id AS txn_id,
         |      CAST(max(data_size) AS BIGINT) AS data_size,
         |      (object_id // 10) % 1000 AS container_id
         |    FROM objects
         |    WHERE (version = 4 OR version = 5)
         |      AND (object_id // 10) % 10 = 0
         |    GROUP BY object_id) t
         |  JOIN containers_scm c ON c.container_id = t.container_id
         |    AND c.state <> 'DELETED'
         |  LEFT JOIN (
         |    SELECT container_id, CAST(count(*) AS BIGINT) AS n_replicas
         |    FROM replicas GROUP BY 1) rc
         |    ON rc.container_id = t.container_id)""".stripMargin,
      """pd_dn AS (
        |  SELECT rp.datanode AS dn,
        |    CAST(sum(t.block_count) AS BIGINT) AS pending_blocks
        |  FROM pd_txns_live t
        |  JOIN replicas rp ON rp.container_id = t.container_id
        |  GROUP BY 1)""".stripMargin,
      s"""pd_dirsize AS (
         |  SELECT CAST(coalesce(sum(n.rsz), 0) AS BIGINT) AS v
         |  FROM (
         |    SELECT volume, bucket, dir,
         |      CAST(sum(replicated_size) AS BIGINT) AS rsz
         |    FROM (
         |      SELECT volume, bucket, replicated_size,
         |        array_to_string(list_slice(string_split(key, '/'), 1, d),
         |          '/') AS dir
         |      FROM (
         |        SELECT *, unnest(generate_series(1,
         |          least(len(string_split(key, '/')) - 1,
         |                ${graft.operators.Aggregates.MaxAncestorDepth})))
         |          AS d
         |        FROM objects_mixed))
         |    GROUP BY 1, 2, 3) n
         |  JOIN deleted_dirs dd ON n.volume = dd.volume
         |    AND n.bucket = dd.bucket AND n.dir = dd.dir)""".stripMargin,
      """pd_keysize AS (
        |  SELECT CAST(coalesce(sum(replicated_size), 0) AS BIGINT) AS v
        |  FROM objects
        |  WHERE (version = 4 OR version = 5)
        |    AND (object_id // 10) % 10 = 0)""".stripMargin),

    // Recon fsck classification mirror: lost-replica predicate + OM key
    // counts + checksum distinct-count over the shared synth tables.
    "q_recon_unhealthy" -> O.withCtes(
      """SELECT c.container_id,
        |  CASE WHEN coalesce(a.actual, 0) = 0 THEN
        |      CASE WHEN coalesce(o.num_keys, 0) = 0
        |        THEN 'EMPTY_MISSING' ELSE 'MISSING' END
        |    WHEN a.actual < c.replication_factor
        |      THEN 'UNDER_REPLICATED'
        |    WHEN a.actual > c.replication_factor
        |      THEN 'OVER_REPLICATED'
        |    ELSE 'HEALTHY' END AS health_state,
        |  CAST(c.replication_factor AS BIGINT) AS expected,
        |  CAST(coalesce(a.actual, 0) AS BIGINT) AS actual,
        |  (CASE WHEN c.container_id % 41 = 0 THEN -c.used_bytes
        |    ELSE c.used_bytes END) < 0 AS negative_size,
        |  coalesce(a.n_checksums, 0) > 1 AS replica_mismatch
        |FROM containers_scm c
        |LEFT JOIN containers_om o ON o.container_id = c.container_id
        |LEFT JOIN (
        |  SELECT container_id, count(*) AS actual,
        |    count(DISTINCT data_checksum) AS n_checksums
        |  FROM (
        |    SELECT container_id, datanode,
        |      CASE WHEN container_id % 37 = 0 THEN NULL
        |        ELSE md5('c' || container_id ||
        |          CASE WHEN container_id % 31 = 0
        |            AND datanode = 'dn' || (container_id % 20)
        |          THEN 'x' ELSE '' END) END AS data_checksum
        |    FROM replicas
        |    WHERE NOT (container_id % 43 = 0 OR container_id % 178 = 89))
        |  GROUP BY 1) a ON a.container_id = c.container_id
        |WHERE c.state <> 'DELETED'
        |  AND (coalesce(a.actual, 0) <> c.replication_factor
        |    OR (CASE WHEN c.container_id % 41 = 0 THEN -c.used_bytes
        |      ELSE c.used_bytes END) < 0
        |    OR coalesce(a.n_checksums, 0) > 1)
        |ORDER BY c.container_id""".stripMargin,
      O.objects, O.containersScm, O.containersOm, O.replicas),

    // ACL parent-chain routing over the shared scenario literals.
    "q_acl_parent_chain" -> O.withCtes(
      """SELECT sc_id,
        |  CAST(CASE WHEN single THEN 1 ELSE 2 END AS BIGINT)
        |    AS n_checks,
        |  CASE WHEN single THEN res_type ELSE 'VOLUME' END AS first_res,
        |  CASE WHEN single THEN acl_type
        |    WHEN native_enabled AND res_type = 'BUCKET' THEN pna
        |    ELSE 'READ' END AS first_right,
        |  'volume' AS first_owner_ctx,
        |  CASE WHEN single THEN '' ELSE acl_type END AS second_right,
        |  CASE WHEN single THEN '' ELSE 'bucket' END
        |    AS second_owner_ctx,
        |  pna AS parent_native_acl
        |FROM (
        |  SELECT *,
        |    res_type = 'VOLUME' OR is_vol_owner AS single,
        |    CASE WHEN res_type = 'VOLUME' THEN 'NONE'
        |      WHEN acl_type = 'CREATE' THEN 'WRITE'
        |      WHEN res_type = 'BUCKET' THEN 'READ'
        |      WHEN acl_type = 'WRITE' THEN 'WRITE'
        |      WHEN acl_type IN ('DELETE', 'LIST', 'READ_ACL',
        |        'WRITE_ACL') THEN 'READ'
        |      ELSE acl_type END AS pna
        |  FROM acs)
        |ORDER BY sc_id""".stripMargin,
      O.values("acs", T.aclChainScenarioRows)),

    // snapshot s1 = seq 1 = the create flood only: per-key max-size fold
    // with NONE of the churn (no doubling, no .mv keys, no deletes)
    "q_snapshot_read" -> O.withCtes(
      """SELECT key, object_id, data_size FROM (
        |  SELECT key, object_id, max(data_size) AS data_size
        |  FROM objects
        |  WHERE volume = 'vol2' AND bucket = 'bucket5'
        |    AND key LIKE 'warehouse/N/%'
        |  GROUP BY 1, 2)
        |ORDER BY key LIMIT 101""".stripMargin, O.objects),

    // snapshot listStatus mirror: key-dedup state → child rollup.
    "q_snapshot_list_status" -> O.withCtes(
      """SELECT child, max(slash) > 0 AS is_dir,
        |  count(*) AS num_files,
        |  CAST(sum(data_size) AS BIGINT) AS total_size
        |FROM (
        |  SELECT CASE WHEN slash > 0 THEN substr(rest, 1, slash - 1)
        |    ELSE rest END AS child, slash, data_size
        |  FROM (
        |    SELECT substr(key, len('warehouse/N/') + 1) AS rest,
        |      instr(substr(key, len('warehouse/N/') + 1), '/') AS slash,
        |      data_size
        |    FROM (
        |      SELECT key, max(data_size) AS data_size
        |      FROM objects
        |      WHERE volume = 'vol2' AND bucket = 'bucket5'
        |        AND key LIKE 'warehouse/N/%'
        |      GROUP BY key)))
        |GROUP BY child
        |ORDER BY child""".stripMargin, O.objects),

    "q_sample_stratified" -> (
      """SELECT doc_id, lang, sample_rank FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (
        |      PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 40
        |ORDER BY lang, sample_rank""".stripMargin),

    "q_corpus_mix" -> (
      """SELECT doc_id, source, n_tokens, cum_tokens FROM (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (
        |      PARTITION BY source ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM (
        |    SELECT doc_id, source,
        |      CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |      md5(CAST(doc_id AS VARCHAR)) AS h
        |    FROM documents))
        |WHERE cum_tokens <= 800
        |ORDER BY source, cum_tokens""".stripMargin),

    "q_mix_weights" -> (
      """SELECT domain, docs, tokens,
        |  isq * 10000 // isq_total AS weight_bp,
        |  1000000 * (isq * 10000 // isq_total) // 10000 AS sampled_tokens,
        |  (1000000 * (isq * 10000 // isq_total) // 10000) * 10000 // tokens
        |    AS epochs_bp
        |FROM (
        |  SELECT *, CAST(sum(isq) OVER () AS BIGINT) AS isq_total FROM (
        |    SELECT source AS domain, count(*) AS docs,
        |      CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |      CAST(floor(sqrt(CAST(sum(n_tokens) AS BIGINT))) AS BIGINT)
        |        AS isq
        |    FROM (
        |      SELECT source,
        |        CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |          AS n_tokens
        |      FROM documents)
        |    GROUP BY 1))
        |ORDER BY domain""".stripMargin),

    // Hamilton apportionment: floor shares, then +1 to the largest scaled
    // remainders until the budget is exact.
    "q_mix_allocation" -> (
      """SELECT domain, docs, tokens, base_alloc,
        |  base_alloc + CASE WHEN row_number() OVER
        |      (ORDER BY rem DESC, domain) <= n_extra
        |    THEN 1 ELSE 0 END AS alloc
        |FROM (
        |  SELECT *,
        |    1000000 * isq // isq_total AS base_alloc,
        |    (1000000 * isq) % isq_total AS rem,
        |    CAST(1000000 - sum(1000000 * isq // isq_total) OVER () AS BIGINT)
        |      AS n_extra
        |  FROM (
        |    SELECT *, CAST(sum(isq) OVER () AS BIGINT) AS isq_total FROM (
        |      SELECT source AS domain, count(*) AS docs,
        |        CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |        CAST(floor(sqrt(CAST(sum(n_tokens) AS BIGINT))) AS BIGINT)
        |          AS isq
        |      FROM (
        |        SELECT source,
        |          CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |            AS n_tokens
        |        FROM documents)
        |      GROUP BY 1)))
        |ORDER BY domain""".stripMargin),

    "q_pii_scrub" -> piiScrubOracle,

    "q_repetition_filter" -> repetitionFilterOracle,

    "q_decontaminate" -> decontaminateOracle,

    "q_curation_funnel" -> curationFunnelOracle,

    // chunk count: 1 if n <= 256 else ceil((n - 256) / 192) + 1; spans
    // advance by the stride and clamp at the doc end
    "q_doc_chunks" -> O.withCtes(
      """SELECT doc_id, chunk_idx, chunk_idx * 192 AS start_tok,
        |  least(chunk_idx * 192 + 256, n_tokens) AS end_tok, n_tokens
        |FROM (
        |  SELECT doc_id, n_tokens, unnest(generate_series(0,
        |    CASE WHEN n_tokens <= 256 THEN 0
        |         ELSE (n_tokens - 256 + 191) // 192 END)) AS chunk_idx
        |  FROM (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens
        |        FROM doc_words))
        |ORDER BY doc_id, chunk_idx""".stripMargin, O.docWords),

    "q_seq_pack" -> O.withCtes(
      """SELECT doc_id, shard, n_tokens,
        |  end_off - n_tokens AS start_off,
        |  (end_off - n_tokens) // 2048 AS start_block,
        |  (end_off - 1) // 2048 AS end_block,
        |  (end_off - 1) // 2048 - (end_off - n_tokens) // 2048 + 1 AS n_blocks
        |FROM (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (
        |      PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS end_off
        |  FROM (
        |    SELECT doc_id, len(ws) AS n_tokens,
        |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
        |        AS shard
        |    FROM doc_words))
        |ORDER BY doc_id""".stripMargin, O.docWords),

    // hash-deterministic split assignment: bucket = md5-60bit % 1000
    "q_data_split" ->
      """SELECT doc_id, source, bucket_pm,
        |  CASE WHEN bucket_pm < 10 THEN 'test'
        |       WHEN bucket_pm < 20 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 1000 AS bucket_pm
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // balancer-admin mirror: the same request batch + rung CASE
    "q_balancer_admin" -> O.withCtes(
      """SELECT CAST(req_id AS BIGINT) AS req_id,
        |  CASE
        |    WHEN threshold IS NOT NULL
        |        AND (threshold < 0.0 OR threshold >= 100.0)
        |      THEN 'THRESHOLD_RANGE'
        |    WHEN move_gb IS NOT NULL AND move_gb <= 0
        |      THEN 'MOVE_SIZE_NOT_POSITIVE'
        |    WHEN dn_pct IS NOT NULL AND (dn_pct <= 0 OR dn_pct > 100)
        |      THEN 'DN_PERCENT_RANGE'
        |    WHEN iterations IS NOT NULL
        |        AND (iterations < -1 OR iterations = 0)
        |      THEN 'ITERATIONS_INVALID'
        |    WHEN entering_gb IS NOT NULL AND entering_gb <= 0
        |      THEN 'ENTERING_NOT_POSITIVE'
        |    WHEN leaving_gb IS NOT NULL AND leaving_gb <= 0
        |      THEN 'LEAVING_NOT_POSITIVE'
        |    WHEN interval_min IS NOT NULL AND interval_min <= 0
        |      THEN 'INTERVAL_NOT_POSITIVE'
        |    WHEN move_to IS NOT NULL AND move_to <= 0
        |      THEN 'MOVE_TIMEOUT_NOT_POSITIVE'
        |    WHEN repl_to IS NOT NULL AND repl_to <= 0
        |      THEN 'REPL_TIMEOUT_NOT_POSITIVE'
        |    WHEN NOT leader THEN 'NOT_LEADER_READY'
        |    WHEN safemode THEN 'IN_SAFE_MODE'
        |    WHEN running THEN 'ALREADY_RUNNING'
        |    WHEN coalesce(entering_gb, 26) <= 5
        |      THEN 'ENTERING_LE_CONTAINER_SIZE'
        |    WHEN coalesce(leaving_gb, 26) <= 5
        |      THEN 'LEAVING_LE_CONTAINER_SIZE'
        |    WHEN coalesce(entering_gb, 26) > coalesce(move_gb, 500)
        |      THEN 'ENTERING_GT_MAX_MOVE'
        |    WHEN coalesce(leaving_gb, 26) > coalesce(move_gb, 500)
        |      THEN 'LEAVING_GT_MAX_MOVE'
        |    ELSE 'STARTED' END AS verdict
        |FROM bal_reqs
        |ORDER BY req_id""".stripMargin,
      O.values("bal_reqs", T.balancerRequestRows)),

    // task-status mirror: the event-log head (puts + version%7 deletes,
    // seq-dense 0-based) minus per-task lags
    "q_recon_task_status" -> O.withCtes(
      """SELECT t.task_name,
        |  CAST(1700000000000 + greatest(h.head_seq - t.task_idx * 3, 0)
        |    * 10 AS BIGINT) AS last_updated_timestamp,
        |  CAST(greatest(h.head_seq - t.task_idx * 3, 0) AS BIGINT)
        |    AS last_updated_seq_number,
        |  CAST(CASE WHEN t.task_idx = 4 THEN -1 ELSE 0 END AS INT)
        |    AS last_task_run_status,
        |  CAST(CASE WHEN t.task_idx % 3 = 0 THEN 1 ELSE 0 END AS INT)
        |    AS is_current_task_running
        |FROM recon_tasks t
        |CROSS JOIN (
        |  SELECT count(*) +
        |    sum(CASE WHEN version % 7 = 0 THEN 1 ELSE 0 END)
        |    AS head_seq
        |  FROM objects) h
        |ORDER BY t.task_name""".stripMargin,
      O.objects, O.values("recon_tasks", T.reconTaskRows)),

    // auth-dispatch mirror: the same chain over the SHARED rows
    "q_auth_dispatch" -> O.withCtes(
      """SELECT CAST(req_id AS BIGINT) AS req_id, claimed_by,
        |  CASE WHEN claimed_by IN ('V4_HEADER', 'V4_QUERY')
        |    THEN 'DELEGATED'
        |  WHEN claimed_by = 'NONE' THEN 'ANONYMOUS'
        |  WHEN len(string_split(rtrim(auth_header, ' '), ' ')) <> 2
        |    THEN 'MALFORMED'
        |  WHEN len(frag) <> 2 THEN 'MALFORMED'
        |  WHEN trim(frag[1]) = '' OR trim(frag[2]) = ''
        |    THEN 'MALFORMED'
        |  ELSE 'OK' END AS verdict,
        |  CASE WHEN claimed_by = 'V2'
        |      AND len(string_split(rtrim(auth_header, ' '), ' ')) = 2
        |      AND len(frag) = 2 AND trim(frag[1]) <> ''
        |      AND trim(frag[2]) <> ''
        |    THEN frag[1] ELSE '' END AS access_id,
        |  CASE WHEN claimed_by = 'V2'
        |      AND len(string_split(rtrim(auth_header, ' '), ' ')) = 2
        |      AND len(frag) = 2 AND trim(frag[1]) <> ''
        |      AND trim(frag[2]) <> ''
        |    THEN frag[2] ELSE '' END AS signature
        |FROM (
        |  SELECT *,
        |    string_split(rtrim(substring(auth_header, 5), ':'), ':')
        |      AS frag,
        |    CASE
        |    WHEN auth_header IS NOT NULL
        |      AND starts_with(auth_header, 'AWS4') THEN 'V4_HEADER'
        |    WHEN has_query_sig THEN 'V4_QUERY'
        |    WHEN auth_header IS NOT NULL
        |      AND starts_with(auth_header, 'AWS ') THEN 'V2'
        |    ELSE 'NONE' END AS claimed_by
        |  FROM auth_req)
        |ORDER BY req_id""".stripMargin,
      O.values("auth_req", T.authDispatchRows)),

    // range-header mirror: the same decision table over the SHARED rows
    "q_range_header" -> O.withCtes(
      """SELECT CAST(req_id AS BIGINT) AS req_id, range_header,
        |  CAST(CASE WHEN NOT m THEN 0
        |    WHEN nostart THEN
        |      CASE WHEN e0 < 100 THEN 100 - e0 ELSE 0 END
        |    WHEN s0 >= 100 THEN
        |      CASE WHEN e0 >= 100 THEN s0 ELSE 0 END
        |    ELSE s0 END AS BIGINT) AS "start",
        |  CAST(CASE WHEN NOT m THEN 99
        |    WHEN nostart THEN 99
        |    WHEN s0 >= 100 THEN
        |      CASE WHEN e0 >= 100 THEN e0 ELSE 99 END
        |    WHEN e0 >= 100 THEN 99
        |    ELSE e0 END AS BIGINT) AS "end",
        |  (NOT m OR (NOT nostart AND s0 >= 100)) AS read_full,
        |  (m AND NOT nostart AND s0 >= 100 AND e0 >= 100)
        |    AS invalid_range
        |FROM (
        |  SELECT *,
        |    regexp_matches(range_header, '^bytes=[0-9]*-[0-9]*$')
        |      AS m,
        |    regexp_extract(range_header,
        |      '^bytes=([0-9]*)-([0-9]*)$', 1) = '' AS nostart,
        |    CASE WHEN regexp_extract(range_header,
        |        '^bytes=([0-9]*)-([0-9]*)$', 1) = '' THEN 0
        |      ELSE CAST(regexp_extract(range_header,
        |        '^bytes=([0-9]*)-([0-9]*)$', 1) AS BIGINT) END AS s0,
        |    CASE WHEN regexp_extract(range_header,
        |        '^bytes=([0-9]*)-([0-9]*)$', 2) = '' THEN 99
        |      ELSE CAST(regexp_extract(range_header,
        |        '^bytes=([0-9]*)-([0-9]*)$', 2) AS BIGINT) END AS e0
        |  FROM range_req)
        |ORDER BY req_id""".stripMargin,
      O.values("range_req", T.rangeHeaderRows)),

    // string-to-sign mirror: the same construction over the SHARED rows
    "q_string_to_sign" -> {
      val enc = (x: String) =>
        s"replace(replace(replace(replace($x, '+', '%2B'), ' ', " +
          s"'%20'), '*', '%2A'), '/', '%2F')"
      val hp = "list_filter(list_transform(string_split(headers_str," +
        " '|'), kv -> {'k': string_split(kv, '=')[1], 'v': " +
        "substring(kv, length(string_split(kv, '=')[1]) + 2)}), " +
        "p -> p.k <> '')"
      val look = (h: String) =>
        s"list_reduce(list_prepend(CAST(NULL AS VARCHAR), " +
          s"list_transform($hp, p -> CASE WHEN p.k = $h THEN p.v " +
          s"END)), (a, b) -> coalesce(b, a))"
      O.withCtes(
        s"""SELECT CAST(req_id AS BIGINT) AS req_id, verdict,
           |  CASE WHEN verdict = 'OK' THEN sha256(canon_req)
           |    ELSE '' END AS canon_req_sha,
           |  CASE WHEN verdict = 'OK' THEN sha256(algorithm ||
           |    chr(10) || dt || chr(10) || scope || chr(10) ||
           |    sha256(canon_req)) ELSE '' END AS str_to_sign_sha
           |FROM (
           |  SELECT *,
           |    method || chr(10) || canon_uri || chr(10) || canon_q ||
           |      chr(10) || hdr_block || chr(10) || signed_headers ||
           |      chr(10) || payload AS canon_req
           |  FROM (
           |    SELECT *,
           |      CASE
           |      WHEN dt IS NULL THEN 'MISSING_DATETIME'
           |      WHEN hdr_err IS NOT NULL THEN hdr_err
           |      WHEN NOT contains(hdr_block, 'host:')
           |        THEN 'MISSING_HOST'
           |      WHEN n_unsigned_amz > 0 THEN 'UNSIGNED_XAMZ_HEADER'
           |      WHEN sign_payload
           |        AND (${look("'x-amz-content-sha256'")}) IS NULL
           |        THEN 'MISSING_CONTENT_SHA'
           |      ELSE 'OK' END AS verdict,
           |      CASE WHEN NOT sign_payload THEN 'UNSIGNED-PAYLOAD'
           |        ELSE coalesce(${look("'x-amz-content-sha256'")},
           |          '') END AS payload
           |    FROM (
           |      SELECT *,
           |        list_reduce(list_prepend(CAST(NULL AS VARCHAR),
           |          list_transform(sh, h -> CASE
           |          WHEN (${look("h")}) IS NULL
           |            THEN 'MISSING_SIGNED_HEADER'
           |          WHEN h = 'x-amz-date' AND (
           |            epoch(try_strptime(${look("h")},
           |              '%Y%m%dT%H%M%SZ')) < 1684929600 - 604800 OR
           |            epoch(try_strptime(${look("h")},
           |              '%Y%m%dT%H%M%SZ')) > 1684929600 + 604800)
           |            THEN 'BAD_DATE_RANGE' END)),
           |          (x, y) -> coalesce(x, y)) AS hdr_err,
           |        array_to_string(list_transform(sh, h ->
           |          lower(h) || ':' || coalesce(${look("h")}, '')
           |          || chr(10)), '') AS hdr_block,
           |        coalesce(array_to_string(list_transform(
           |          list_sort(list_filter(qp,
           |            p -> p.k <> 'X-Amz-Signature')),
           |          p -> ${enc("p.k")} || '=' || ${enc("p.v")}),
           |          '&'), '') AS canon_q,
           |        array_to_string(list_transform(string_split(u,
           |          '/'), s -> ${enc("s")}), '/') AS canon_uri,
           |        len(list_filter($hp,
           |          p -> starts_with(p.k, 'x-amz-')
           |          AND p.k <> 'x-amz-content-sha256'
           |          AND NOT list_contains(sh, p.k)))
           |          AS n_unsigned_amz
           |      FROM (
           |        SELECT *,
           |          string_split(signed_headers, ';') AS sh,
           |          CASE WHEN uri IS NULL OR uri = '' THEN '/'
           |            ELSE uri END AS u,
           |          list_filter(list_transform(string_split(
           |            query_str, '|'), kv ->
           |            {'k': string_split(kv, '=')[1],
           |             'v': substring(kv,
           |               length(string_split(kv, '=')[1]) + 2)}),
           |            p -> p.k <> '') AS qp
           |        FROM sts_req))))
           |ORDER BY req_id""".stripMargin,
        O.values("sts_req", T.stringToSignRows))
    },

    // presigned mirror: the same ladder over the SHARED row literals
    "q_presigned_parse" -> O.withCtes(
      """SELECT CAST(req_id AS BIGINT) AS req_id, verdict,
        |  CAST(CASE WHEN verdict = 'NOT_PRESIGNED' THEN 0
        |    WHEN verdict IN ('EXPIRES_OUT_OF_RANGE', 'URL_EXPIRED')
        |      THEN 403
        |    WHEN verdict = 'OK' THEN 200 ELSE 400 END AS BIGINT)
        |    AS http,
        |  CASE WHEN verdict = 'OK' THEN trim(access_id) ELSE '' END
        |    AS access_id,
        |  CASE WHEN verdict = 'OK' THEN trim(cred_date) || '/' ||
        |    trim(region) || '/' || trim(service) || '/' ||
        |    trim(aws_req) ELSE '' END AS cred_scope
        |FROM (
        |  SELECT *,
        |    CASE
        |    WHEN signature IS NULL THEN 'NOT_PRESIGNED'
        |    WHEN algorithm IS NULL THEN 'NO_ALGORITHM'
        |    WHEN algorithm = '' OR algorithm <> 'AWS4-HMAC-SHA256'
        |      THEN 'BAD_ALGORITHM'
        |    WHEN amz_date IS NULL OR amz_date = ''
        |      OR expires IS NULL OR expires = ''
        |      THEN 'MISSING_DATE_OR_EXPIRES'
        |    WHEN expl < 1 OR expl > 604800
        |      THEN 'EXPIRES_OUT_OF_RANGE'
        |    WHEN pts IS NULL THEN 'BAD_AMZ_DATE'
        |    WHEN epoch(pts) + expl < 1684929600 THEN 'URL_EXPIRED'
        |    WHEN len(cred) NOT IN (5, 6)
        |      THEN 'BAD_CREDENTIAL_FORMAT'
        |    WHEN trim(access_id) = '' THEN 'EMPTY_ACCESS_ID'
        |    WHEN trim(region) = '' THEN 'EMPTY_REGION'
        |    WHEN trim(aws_req) <> 'aws4_request'
        |      THEN 'BAD_AWS_REQUEST'
        |    WHEN trim(service) = '' THEN 'EMPTY_SERVICE'
        |    WHEN trim(cred_date) = '' THEN 'EMPTY_CRED_DATE'
        |    WHEN NOT regexp_matches(trim(cred_date), '^[0-9]{8}$')
        |      OR CAST(try_strptime(trim(cred_date), '%Y%m%d')
        |        AS DATE) IS NULL THEN 'BAD_CRED_DATE'
        |    WHEN signed_headers IS NULL OR signed_headers = ''
        |      THEN 'NO_SIGNED_HEADERS'
        |    WHEN signature = '' THEN 'EMPTY_SIGNATURE'
        |    WHEN NOT regexp_matches(signature,
        |      '^([0-9a-fA-F]{2})*$') THEN 'NON_HEX_SIGNATURE'
        |    ELSE 'OK' END AS verdict
        |  FROM (
        |    SELECT *,
        |      CASE WHEN len(cred) = 6 THEN cred[1] || '/' || cred[2]
        |        ELSE cred[1] END AS access_id,
        |      CASE WHEN len(cred) = 6 THEN cred[3] ELSE cred[2] END
        |        AS cred_date,
        |      CASE WHEN len(cred) = 6 THEN cred[4] ELSE cred[3] END
        |        AS region,
        |      CASE WHEN len(cred) = 6 THEN cred[5] ELSE cred[4] END
        |        AS service,
        |      CASE WHEN len(cred) = 6 THEN cred[6] ELSE cred[5] END
        |        AS aws_req
        |    FROM (
        |      SELECT *,
        |        string_split(replace(replace(credential, '%2F',
        |          '/'), '%40', '@'), '/') AS cred,
        |        try_strptime(amz_date, '%Y%m%dT%H%M%SZ') AS pts,
        |        TRY_CAST(expires AS BIGINT) AS expl
        |      FROM ps_req)))
        |ORDER BY req_id""".stripMargin,
      O.values("ps_req", T.presignedRows)),

    // V4-header mirror: the same ladder over the SHARED row literals
    "q_sigv4_header_parse" -> O.withCtes(
      """SELECT CAST(req_id AS BIGINT) AS req_id, verdict,
        |  CASE WHEN verdict = 'OK' THEN trim(access_id)
        |    ELSE '' END AS access_id,
        |  CASE WHEN verdict = 'OK' THEN trim(cred_date) || '/' ||
        |    trim(region) || '/' || trim(service) || '/' ||
        |    trim(aws_req) ELSE '' END AS cred_scope,
        |  CASE WHEN verdict = 'OK' THEN sh_body ELSE '' END
        |    AS signed_headers,
        |  CASE WHEN verdict = 'OK' THEN sig_body ELSE '' END
        |    AS signature
        |FROM (
        |  SELECT *,
        |    CASE
        |    WHEN auth_header IS NULL
        |      OR NOT starts_with(auth_header, 'AWS4') THEN 'NOT_V4'
        |    WHEN sep = 0 THEN 'NO_SEPARATOR'
        |    WHEN len(parts) <> 3 THEN 'BAD_PART_COUNT'
        |    WHEN algo <> 'AWS4-HMAC-SHA256' THEN 'BAD_ALGORITHM'
        |    WHEN NOT starts_with(parts[1], 'Credential=')
        |      THEN 'NO_CREDENTIAL'
        |    WHEN len(cred) NOT IN (5, 6)
        |      THEN 'BAD_CREDENTIAL_FORMAT'
        |    WHEN trim(access_id) = '' THEN 'EMPTY_ACCESS_ID'
        |    WHEN trim(region) = '' THEN 'EMPTY_REGION'
        |    WHEN trim(aws_req) <> 'aws4_request'
        |      THEN 'BAD_AWS_REQUEST'
        |    WHEN trim(service) = '' THEN 'EMPTY_SERVICE'
        |    WHEN trim(cred_date) = '' THEN 'EMPTY_DATE'
        |    WHEN NOT regexp_matches(trim(cred_date), '^[0-9]{8}$')
        |      OR CAST(try_strptime(trim(cred_date), '%Y%m%d')
        |        AS DATE) IS NULL THEN 'BAD_DATE_FORMAT'
        |    WHEN CAST(try_strptime(trim(cred_date), '%Y%m%d')
        |        AS DATE) < DATE '2023-05-24' - 1
        |      OR CAST(try_strptime(trim(cred_date), '%Y%m%d')
        |        AS DATE) > DATE '2023-05-24' + 1
        |      THEN 'DATE_OUT_OF_RANGE'
        |    WHEN NOT starts_with(parts[2], 'SignedHeaders=')
        |      OR sh_count = 0 THEN 'NO_SIGNED_HEADERS'
        |    WHEN NOT starts_with(parts[3], 'Signature=')
        |      THEN 'NO_SIGNATURE'
        |    WHEN sig_body = '' THEN 'EMPTY_SIGNATURE'
        |    WHEN NOT regexp_matches(sig_body,
        |      '^([0-9a-fA-F]{2})*$') THEN 'NON_HEX_SIGNATURE'
        |    ELSE 'OK' END AS verdict
        |  FROM (
        |    SELECT *,
        |      len(cred) AS credn,
        |      CASE WHEN len(cred) = 6 THEN cred[1] || '/' || cred[2]
        |        ELSE cred[1] END AS access_id,
        |      CASE WHEN len(cred) = 6 THEN cred[3] ELSE cred[2] END
        |        AS cred_date,
        |      CASE WHEN len(cred) = 6 THEN cred[4] ELSE cred[3] END
        |        AS region,
        |      CASE WHEN len(cred) = 6 THEN cred[5] ELSE cred[4] END
        |        AS service,
        |      CASE WHEN len(cred) = 6 THEN cred[6] ELSE cred[5] END
        |        AS aws_req,
        |      len(list_filter(string_split(substring(parts[2],
        |        length('SignedHeaders=') + 1), ';'),
        |        x -> trim(x) <> '')) AS sh_count,
        |      substring(parts[2], length('SignedHeaders=') + 1)
        |        AS sh_body,
        |      substring(parts[3], length('Signature=') + 1)
        |        AS sig_body
        |    FROM (
        |      SELECT req_id, auth_header,
        |        instr(auth_header, ' ') AS sep,
        |        CASE WHEN instr(auth_header, ' ') > 0
        |          THEN substring(auth_header, 1,
        |            instr(auth_header, ' ') - 1)
        |          ELSE '' END AS algo,
        |        regexp_split_to_array(trim(substring(auth_header,
        |          instr(auth_header, ' ') + 1)), ', *') AS parts,
        |        string_split(substring(
        |          regexp_split_to_array(trim(substring(auth_header,
        |            instr(auth_header, ' ') + 1)), ', *')[1],
        |          length('Credential=') + 1), '/') AS cred
        |      FROM v4_req)))
        |ORDER BY req_id""".stripMargin,
      O.values("v4_req", T.sigv4HeaderRows)),

    // SCM dispatch mirror: the same packed-state fold replayed with
    // nested list_reduce
    "q_scm_block_dispatch" -> {
      def ents(s: String) =
        s"list_filter(string_split($s, '|'), x -> x <> '')"
      def cnt(s: String, d: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |  list_transform(${ents(s)}, x ->
           |    CASE WHEN string_split(x, ':')[1] = $d
           |    THEN CAST(string_split(x, ':')[2] AS BIGINT)
           |    ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b)""".stripMargin
      def glob(s: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |  list_transform(${ents(s)}, x ->
           |    CAST(string_split(x, ':')[2] AS BIGINT))),
           |  (a, b) -> a + b)""".stripMargin
      def ndArr(e: String) =
        s"list_filter(string_split(string_split($e, ';')[5], ','), " +
          "x -> x <> '')"
      def allArr(e: String) =
        s"list_filter(string_split(string_split($e, ';')[4], ','), " +
          "x -> x <> '')"
      def blocksOf(e: String) =
        s"CAST(string_split($e, ';')[2] AS BIGINT)"
      def capBad(s: String, e: String) =
        s"len(list_filter(${allArr(e)}, d -> (${cnt(s, "d")}) >= 50))"
      def bump(s: String, e: String) =
        s"""list_reduce(list_prepend($s, ${ndArr(e)}), (s2, d) ->
           |  CASE WHEN len(list_filter(${ents("s2")},
           |      x -> string_split(x, ':')[1] = d)) > 0
           |  THEN array_to_string(list_transform(${ents("s2")}, x ->
           |    CASE WHEN string_split(x, ':')[1] = d
           |    THEN d || ':' ||
           |      CAST(CAST(string_split(x, ':')[2] AS BIGINT) +
           |        ${blocksOf(e)} AS VARCHAR)
           |    ELSE x END), '|')
           |  ELSE CASE WHEN s2 = ''
           |    THEN d || ':' || CAST(${blocksOf(e)} AS VARCHAR)
           |    ELSE s2 || '|' || d || ':' ||
           |      CAST(${blocksOf(e)} AS VARCHAR) END END)""".stripMargin
      def step(s: String, e: String) =
        s"""CASE
           |WHEN (${glob(s)}) >= 100 THEN $s
           |WHEN string_split($e, ';')[3] <> 'OK' THEN $s
           |WHEN (${capBad(s, e)}) > 0 THEN $s
           |WHEN len(${ndArr(e)}) = 0 THEN $s
           |ELSE ${bump(s, e)} END""".stripMargin
      val verdict =
        s"""CASE
           |WHEN (${glob("pre")}) >= 100 THEN 'NOT_REACHED'
           |WHEN string_split(ev, ';')[3] = 'CLEANUP'
           |  THEN 'CLEANUP_COMPLETED'
           |WHEN string_split(ev, ';')[3] = 'OPEN' THEN 'SKIP_OPEN'
           |WHEN string_split(ev, ';')[3] = 'INADEQ'
           |  THEN 'SKIP_INADEQUATE_REPLICA'
           |WHEN (${capBad("pre", "ev")}) > 0 THEN 'SKIP_DN_CAP'
           |WHEN len(${ndArr("ev")}) = 0 THEN 'SKIP_ALL_DUPLICATE'
           |ELSE 'DISPATCHED' END""".stripMargin
      O.withCtes(
        s"""SELECT CAST(string_split(ev, ';')[1] AS BIGINT) AS txn_id,
           |  CAST(j AS BIGINT) AS walk_pos, $verdict AS verdict,
           |  CAST(CASE WHEN ($verdict) = 'DISPATCHED'
           |    THEN len(${ndArr("ev")}) ELSE 0 END AS BIGINT)
           |    AS dns_sent,
           |  CAST(CASE WHEN ($verdict) = 'DISPATCHED'
           |    THEN len(${ndArr("ev")}) * ${blocksOf("ev")}
           |    ELSE 0 END AS BIGINT) AS blocks_added,
           |  CAST(${glob("pre")} AS BIGINT) AS global_before
           |FROM (
           |  SELECT j, sevs[j] AS ev,
           |    list_reduce(list_prepend('', sevs[1:j-1]),
           |      (s, e) -> ${step("s", "e")}) AS pre
           |  FROM sbd_walk, generate_series(1, 12) g(j))
           |ORDER BY txn_id""".stripMargin,
        O.values("sbd_txns", T.sbdTxnRows),
        O.values("sbd_containers", T.sbdContainerRows),
        O.values("sbd_replicas", T.sbdReplicaRows),
        O.values("sbd_included", T.sbdIncludedRows),
        O.values("sbd_dups", T.sbdDupRows),
        """sbd_evs AS (
          |  SELECT t.txn_id,
          |    CASE WHEN t.txn_id <= 2 THEN 1 ELSE 0 END AS rot,
          |    CAST(t.txn_id AS VARCHAR) || ';' ||
          |    CAST(t.blocks AS VARCHAR) || ';' ||
          |    CASE WHEN c.container_id IS NULL OR c.cstate = 'DELETED'
          |      THEN 'CLEANUP'
          |    WHEN c.cstate = 'OPEN' THEN 'OPEN'
          |    WHEN EXISTS (SELECT 1 FROM sbd_replicas r
          |        WHERE r.container_id = t.container_id
          |          AND r.dn NOT IN (SELECT dn FROM sbd_included))
          |      OR NOT c.health_ok THEN 'INADEQ'
          |    ELSE 'OK' END || ';' ||
          |    coalesce((SELECT string_agg(r.dn, ',' ORDER BY r.dn)
          |      FROM sbd_replicas r
          |      WHERE r.container_id = t.container_id), '') || ';' ||
          |    coalesce((SELECT string_agg(r.dn, ',' ORDER BY r.dn)
          |      FROM sbd_replicas r
          |      WHERE r.container_id = t.container_id
          |        AND NOT EXISTS (SELECT 1 FROM sbd_dups u
          |          WHERE u.dn = r.dn AND u.txn_id = t.txn_id)), '')
          |      AS ev
          |  FROM sbd_txns t LEFT JOIN sbd_containers c
          |    ON c.container_id = t.container_id)""".stripMargin,
        """sbd_walk AS (
          |  SELECT list(ev ORDER BY rot, txn_id) AS sevs
          |  FROM sbd_evs)""".stripMargin)
    },

    // DN block-delete mirror: the same ladder + budgeted TopN window
    "q_dn_block_delete" -> O.withCtes(
      """SELECT c.container_id,
        |  coalesce(e.verdict, c.skip_reason) AS verdict,
        |  CAST(coalesce(e.blocks_to_delete, 0) AS BIGINT)
        |    AS blocks_to_delete,
        |  CAST(CASE WHEN coalesce(e.verdict, '') LIKE 'CHOSEN%'
        |    THEN e.pick_rank ELSE 0 END AS BIGINT) AS pick_rank
        |FROM (SELECT *,
        |  CASE WHEN pending_blocks <= 0 THEN 'SKIP_NO_PENDING'
        |    WHEN ctype <> 'KeyValueContainer' THEN 'SKIP_TYPE'
        |    WHEN cstate NOT IN ('CLOSED', 'QUASI_CLOSED')
        |      THEN 'SKIP_STATE'
        |    WHEN origin_pipeline <> '' AND NOT pipeline_parseable
        |      THEN 'SKIP_BAD_PIPELINE'
        |    WHEN origin_pipeline <> '' AND ratis_group_exists
        |      AND min_replicated_index < bcsid
        |      THEN 'SKIP_LOG_NOT_REPLICATED' END AS skip_reason
        |  FROM dn_del_containers) c
        |LEFT JOIN (
        |  SELECT container_id,
        |    CASE WHEN blocks_to_delete = 0 THEN 'NOT_CHOSEN'
        |      WHEN blocks_to_delete < pending_blocks
        |        THEN 'CHOSEN_PARTIAL'
        |      ELSE 'CHOSEN' END AS verdict,
        |    blocks_to_delete, pick_rank
        |  FROM (
        |    SELECT *,
        |      greatest(least(pending_blocks, 180 -
        |        coalesce(sum(pending_blocks) OVER (
        |          ORDER BY pending_blocks DESC, container_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0)), 0) AS blocks_to_delete,
        |      row_number() OVER (
        |        ORDER BY pending_blocks DESC, container_id)
        |        AS pick_rank
        |    FROM (SELECT * FROM dn_del_containers
        |      WHERE NOT (pending_blocks <= 0
        |        OR ctype <> 'KeyValueContainer'
        |        OR cstate NOT IN ('CLOSED', 'QUASI_CLOSED')
        |        OR (origin_pipeline <> '' AND NOT pipeline_parseable)
        |        OR (origin_pipeline <> '' AND ratis_group_exists
        |          AND min_replicated_index < bcsid))))) e
        |  ON e.container_id = c.container_id
        |ORDER BY c.container_id""".stripMargin,
      O.values("dn_del_containers", T.dnDeleteContainerRows)),

    // round-robin volume-choice mirror: the same packed-state fold
    // replayed with list_reduce
    "q_volume_choose" -> {
      val entPre = "list_filter(string_split(string_split(pre, '#')[2]" +
        ", '|'), x -> x <> '')"
      val nPre = s"len($entPre)"
      val nextPre = "CAST(string_split(pre, '#')[1] AS INT)"
      val startPre =
        s"(CASE WHEN $nextPre < $nPre THEN $nextPre ELSE 0 END)"
      val szPre = "CAST(string_split(ev, ':')[2] AS BIGINT)"
      val minrotPre = O.rrVolMinrot("pre", "ev")
      val istarPre = s"(($minrotPre) + $startPre) % $nPre"
      O.withCtes(
        s"""SELECT CAST(seq AS BIGINT) AS seq, ev, action,
           |  CASE WHEN string_split(ev, ':')[1] IN ('ADD', 'REMOVE')
           |    THEN string_split(ev, ':')[2]
           |  WHEN action = 'CHOSEN'
           |    THEN string_split(($entPre)[($istarPre) + 1], ':')[1]
           |  ELSE '' END AS vol,
           |  CAST(CASE WHEN action = 'CHOSEN'
           |    THEN CAST(string_split(($entPre)[($istarPre) + 1],
           |      ':')[3] AS BIGINT) + $szPre
           |  ELSE 0 END AS BIGINT) AS committed_after,
           |  CAST(string_split(post, '#')[1] AS BIGINT) AS next_after
           |FROM (
           |  SELECT seq, ev, pre, ${O.rrVolStep("pre", "ev")} AS post,
           |    CASE string_split(ev, ':')[1]
           |    WHEN 'ADD' THEN 'ADDED'
           |    WHEN 'REMOVE' THEN 'REMOVED'
           |    ELSE CASE WHEN $nPre = 0 THEN 'NO_VOLUMES'
           |      WHEN $minrotPre IS NULL THEN 'OUT_OF_SPACE'
           |      ELSE 'CHOSEN' END
           |    END AS action
           |  FROM (
           |    SELECT j AS seq, sevs[j] AS ev,
           |      list_reduce(list_prepend('0#', sevs[1:j-1]),
           |        (s, e) -> ${O.rrVolStep("s", "e")}) AS pre
           |    FROM (SELECT list(op ORDER BY seq) AS sevs FROM rr_ops),
           |      generate_series(1, 17) g(j)))
           |ORDER BY seq""".stripMargin,
        O.values("rr_ops", T.dnVolumeOpRows))
    },

    // block-allocation mirror: the same walk over the fixture catalog
    "q_scm_block_allocate" -> O.withCtes(
      """SELECT r.req_id,
        |  CASE WHEN w.picked IS NOT NULL THEN 'ALLOCATED'
        |    ELSE 'CREATE_PIPELINE' END AS verdict,
        |  coalesce(w.pipeline_id, '') AS pipeline_id,
        |  CAST(coalesce(w.picked, 0) AS BIGINT) AS container_id,
        |  coalesce(w.picked = w.mint_id, false) AS minted,
        |  coalesce(w.ignored_exclusions, false) AS ignored_exclusions
        |FROM alloc_req r
        |LEFT JOIN (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY req_id
        |      ORDER BY rnk) AS rn
        |    FROM (
        |      SELECT c.req_id, c.pipeline_id, c.rnk,
        |        c.ignored_exclusions, c.mint_id,
        |        coalesce(
        |          CASE WHEN u.min_el IS NULL THEN NULL
        |            WHEN h.tail_any = 0 THEN h.hit_full
        |            WHEN h.hit_tail IS NOT NULL THEN h.hit_tail
        |            ELSE h.hit_head END,
        |          CASE WHEN c.mint_ok = 1 THEN c.mint_id END) AS picked
        |      FROM alloc_cs c
        |      LEFT JOIN alloc_cur u ON u.req_id = c.req_id
        |        AND u.pipeline_id = c.pipeline_id
        |      LEFT JOIN (
        |        SELECT e.req_id, e.pipeline_id,
        |          max(CASE WHEN e.container_id > u2.cursor
        |            THEN 1 ELSE 0 END) AS tail_any,
        |          min(CASE WHEN e.container_id > u2.cursor
        |            AND e.used + u2.size <= 1000
        |            THEN e.container_id END) AS hit_tail,
        |          min(CASE WHEN e.used + u2.size <= 1000
        |            THEN e.container_id END) AS hit_full,
        |          min(CASE WHEN e.container_id <= u2.cursor
        |            AND e.used + u2.size <= 1000
        |            THEN e.container_id END) AS hit_head
        |        FROM alloc_elig e
        |        JOIN alloc_cur u2 ON u2.req_id = e.req_id
        |          AND u2.pipeline_id = e.pipeline_id
        |        GROUP BY 1, 2) h
        |        ON h.req_id = c.req_id AND h.pipeline_id = c.pipeline_id)
        |    WHERE picked IS NOT NULL)
        |  WHERE rn = 1) w ON w.req_id = r.req_id
        |ORDER BY r.req_id""".stripMargin,
      O.values("alloc_req", T.allocRequestRows),
      O.values("alloc_pipe", T.allocPipelineRows),
      O.values("alloc_mem", T.allocPipelineMemberRows),
      O.values("alloc_dn", T.allocDatanodeRows),
      O.values("alloc_cont", T.allocContainerRows),
      O.values("alloc_lastused", T.allocCursorRows),
      """alloc_cand AS (
        |  SELECT * FROM (
        |    SELECT *,
        |      row_number() OVER (PARTITION BY req_id
        |        ORDER BY healthy DESC, pipeline_id) AS rnk,
        |      (n_kept = 0) AS ignored_exclusions
        |    FROM (
        |      SELECT *, sum(CASE WHEN NOT excluded THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY req_id) AS n_kept
        |      FROM (
        |        SELECT r.req_id, r.size, r.owner, r.excl_container,
        |          p.pipeline_id, p.healthy,
        |          (r.excl_pipeline <> ''
        |            AND p.pipeline_id = r.excl_pipeline)
        |          OR EXISTS (SELECT 1 FROM alloc_mem m
        |            WHERE m.pipeline_id = p.pipeline_id
        |              AND m.dn = r.excl_dn) AS excluded
        |        FROM alloc_req r
        |        JOIN alloc_pipe p ON p.rep_config = r.rep_config
        |          AND p.pstate = 'OPEN'))
        |    WHERE NOT excluded OR n_kept = 0))""".stripMargin,
      """alloc_cs AS (
        |  SELECT c.*,
        |    coalesce(ps.open_limit, 0) AS open_limit,
        |    coalesce(ps.mint_ok, 0) AS mint_ok,
        |    coalesce(oc.owned_count, 0) AS owned_count,
        |    (coalesce(oc.owned_count, 0) < coalesce(ps.open_limit, 0)
        |      AND coalesce(ps.mint_ok, 0) = 1) AS pre_mint,
        |    9000 + c.req_id AS mint_id
        |  FROM alloc_cand c
        |  LEFT JOIN (
        |    SELECT m.pipeline_id,
        |      min(CASE WHEN d.pipeline_limit <= 0 THEN 0
        |        ELSE 1 + (2 * d.healthy_volumes - 1)
        |          // d.pipeline_limit END) AS open_limit,
        |      min(CASE WHEN d.has_space THEN 1 ELSE 0 END) AS mint_ok
        |    FROM alloc_mem m JOIN alloc_dn d ON d.dn = m.dn
        |    GROUP BY 1) ps ON ps.pipeline_id = c.pipeline_id
        |  LEFT JOIN (
        |    SELECT pipeline_id, owner, count(*) AS owned_count
        |    FROM alloc_cont GROUP BY 1, 2) oc
        |    ON oc.pipeline_id = c.pipeline_id AND oc.owner = c.owner)""".stripMargin,
      """alloc_elig AS (
        |  SELECT c.req_id, c.pipeline_id, k.container_id, k.used
        |  FROM alloc_cs c
        |  JOIN alloc_cont k ON k.pipeline_id = c.pipeline_id
        |    AND k.owner = c.owner
        |  WHERE k.container_id <> c.excl_container
        |  UNION ALL
        |  SELECT req_id, pipeline_id, mint_id, 0 FROM alloc_cs
        |  WHERE pre_mint)""".stripMargin,
      """alloc_cur AS (
        |  SELECT c.req_id, c.pipeline_id, c.size, me.min_el,
        |    coalesce(a.last_used, me.min_el) AS cursor
        |  FROM alloc_cs c
        |  LEFT JOIN (
        |    SELECT req_id, pipeline_id, min(container_id) AS min_el
        |    FROM alloc_elig GROUP BY 1, 2) me
        |    ON me.req_id = c.req_id AND me.pipeline_id = c.pipeline_id
        |  LEFT JOIN alloc_lastused a ON a.owner = c.owner
        |    AND a.pipeline_id = c.pipeline_id)""".stripMargin),

    // datanode-remove mirror: the same ladder over the fixture catalog
    "q_datanode_remove" -> O.withCtes(
      """SELECT req_seq, uuid,
        |  CASE WHEN occ > 1 AND base_verdict = 'REMOVED'
        |    THEN 'NOT_FOUND' ELSE base_verdict END AS verdict,
        |  CASE WHEN base_verdict <> 'FAILED' THEN ''
        |    WHEN health <> 'DEAD'
        |      THEN 'DataNode should be in DEAD node status.'
        |    ELSE 'Open Containers/Pipelines' END AS error,
        |  open_containers, open_pipelines
        |FROM (
        |  SELECT r.req_seq, r.uuid, n.health,
        |    coalesce(oc.n, 0) AS open_containers,
        |    coalesce(op.n, 0) AS open_pipelines,
        |    CASE
        |      WHEN n.health IS NULL THEN 'NOT_FOUND'
        |      WHEN n.health <> 'DEAD' THEN 'FAILED'
        |      WHEN coalesce(oc.n, 0) > 0 OR coalesce(op.n, 0) > 0
        |        THEN 'FAILED'
        |      ELSE 'REMOVED' END AS base_verdict,
        |    row_number() OVER (PARTITION BY r.uuid ORDER BY r.req_seq)
        |      AS occ
        |  FROM rdn_requests r
        |  LEFT JOIN rdn_nodes n ON n.uuid = r.uuid
        |  LEFT JOIN (
        |    SELECT cr.uuid, CAST(count(*) AS BIGINT) AS n
        |    FROM rdn_container_refs cr
        |    JOIN rdn_container_states cs
        |      ON cs.container_id = cr.container_id
        |    WHERE cs.cstate = 'OPEN' GROUP BY cr.uuid) oc
        |    ON oc.uuid = r.uuid
        |  LEFT JOIN (
        |    SELECT pr.uuid, CAST(count(*) AS BIGINT) AS n
        |    FROM rdn_pipeline_refs pr
        |    JOIN rdn_pipeline_states ps
        |      ON ps.pipeline_id = pr.pipeline_id
        |    WHERE ps.pstate = 'OPEN' GROUP BY pr.uuid) op
        |    ON op.uuid = r.uuid)
        |ORDER BY req_seq""".stripMargin,
      O.values("rdn_requests", T.removeDnRequestRows),
      O.values("rdn_nodes", T.removeDnNodeRows),
      O.values("rdn_container_refs", T.removeDnContainerRefRows),
      O.values("rdn_container_states", T.removeDnContainerStateRows),
      O.values("rdn_pipeline_refs", T.removeDnPipelineRefRows),
      O.values("rdn_pipeline_states", T.removeDnPipelineStateRows)),

    // container-import mirror: the same classes over the volume dim
    "q_container_import" -> O.withCtes(
      """SELECT container_id,
        |  CASE
        |    WHEN container_id % 10 = 2 THEN 'IMPORT_IN_PROGRESS'
        |    WHEN container_id % 10 = 1 THEN 'CONTAINER_EXISTS'
        |    WHEN container_id % 10 = 3 THEN 'CHECKSUM_MISMATCH'
        |    WHEN 12000000000 < (CASE WHEN container_id % 10 = 4
        |      THEN 20000000000 ELSE 5000000000 END) * 2
        |      THEN 'NO_VOLUME_SPACE'
        |    ELSE 'IMPORTED' END AS verdict,
        |  CASE
        |    WHEN container_id % 10 NOT IN (1, 2, 3)
        |      AND 12000000000 >= (CASE WHEN container_id % 10 = 4
        |        THEN 20000000000 ELSE 5000000000 END) * 2
        |      THEN 'vol-5' ELSE '' END AS target_volume
        |FROM containers_scm
        |WHERE state <> 'DELETED' AND container_id % 59 = 0
        |ORDER BY container_id""".stripMargin,
      O.containersScm),

    // EC health-check mirror: shaped shard families, per-index counts,
    // the rung CASE + placement satisfaction
    "q_ec_health_check" -> O.withCtes(
      """SELECT f.container_id,
        |  CASE
        |    WHEN NOT f.suff THEN 'EC_CHECK'
        |    WHEN f.any_over = 1 THEN 'EC_CHECK'
        |    WHEN f.n_unh_copies > 0 AND f.unh_without_closed = 0
        |      THEN 'CLOSED_UNHEALTHY'
        |    WHEN NOT coalesce(p.satisfied, true) THEN 'EC_MIS_CHECK'
        |    ELSE 'NONE' END AS handled_by,
        |  CASE
        |    WHEN NOT f.suff THEN
        |      CASE WHEN NOT f.unrecoverable THEN 'UNDER_REPLICATED'
        |        WHEN f.has_offline AND f.is_missing
        |          THEN 'MISSING_UNDER_REPLICATED'
        |        WHEN f.has_offline THEN 'UNHEALTHY_UNDER_REPLICATED'
        |        WHEN f.is_missing THEN 'MISSING'
        |        ELSE 'UNHEALTHY' END
        |    WHEN f.any_over = 1 THEN 'OVER_REPLICATED'
        |    WHEN f.n_unh_copies > 0 AND f.unh_without_closed = 0
        |      THEN 'UNHEALTHY_OVER_REPLICATED'
        |    WHEN NOT coalesce(p.satisfied, true) THEN 'MIS_REPLICATED'
        |    ELSE 'HEALTHY' END AS detail,
        |  CAST(CASE WHEN f.suff AND f.any_over = 0
        |      AND f.n_unh_copies > 0 AND f.unh_without_closed = 0
        |    THEN f.n_unh_copies ELSE 0 END AS BIGINT) AS n_delete_cmds
        |FROM ech_fold f
        |LEFT JOIN ech_place p USING (container_id)
        |ORDER BY f.container_id""".stripMargin,
      O.containersScm, O.datanodes, O.ecShards,
      """ech_all AS (
        |  SELECT container_id, replica_index,
        |    CASE WHEN container_id % 43 = 0
        |      THEN 'dn' || ((container_id + replica_index * 5) % 20)
        |      ELSE datanode END AS datanode,
        |    CASE WHEN container_id % 47 = 0 THEN 'UNHEALTHY'
        |      ELSE shard_state END AS shard_state
        |  FROM ec_shards
        |  UNION ALL
        |  SELECT container_id, replica_index,
        |    'dn' || ((container_id + 11) % 20) AS datanode,
        |    'UNHEALTHY' AS shard_state
        |  FROM ec_shards
        |  WHERE container_id % 53 = 0 AND replica_index = 2)""".stripMargin,
      """ech_idx AS (
        |  SELECT container_id, replica_index,
        |    sum(CASE WHEN NOT unh AND op_state = 'IN_SERVICE'
        |      THEN 1 ELSE 0 END) AS hq,
        |    sum(CASE WHEN NOT unh AND op_state IN
        |      ('DECOMMISSIONING', 'DECOMMISSIONED') THEN 1 ELSE 0 END)
        |      AS dq,
        |    sum(CASE WHEN NOT unh AND op_state IN
        |      ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
        |      THEN 1 ELSE 0 END) AS mq,
        |    sum(CASE WHEN unh THEN 1 ELSE 0 END) AS uq,
        |    max(CASE WHEN shard_state = 'CLOSED' THEN 1 ELSE 0 END)
        |      AS has_closed
        |  FROM (
        |    SELECT a.*, d.op_state,
        |      a.shard_state = 'UNHEALTHY' AS unh
        |    FROM ech_all a JOIN datanodes d ON d.uuid = a.datanode)
        |  GROUP BY 1, 2)""".stripMargin,
      """ech_fold AS (
        |  SELECT container_id,
        |    min(CASE WHEN hq >= 1 THEN 1 ELSE 0 END) = 1
        |      OR (min(CASE WHEN hq + mq >= 1 THEN 1 ELSE 0 END) = 1
        |        AND sum(CASE WHEN hq >= 1 THEN 1 ELSE 0 END) >= 4)
        |      AS suff,
        |    sum(CASE WHEN hq + dq + mq >= 1 THEN 1 ELSE 0 END) < 3
        |      AS unrecoverable,
        |    sum(CASE WHEN hq + dq + mq + uq >= 1 THEN 1 ELSE 0 END) < 3
        |      AS is_missing,
        |    max(CASE WHEN hq > 1 THEN 1 ELSE 0 END) AS any_over,
        |    sum(CASE WHEN (dq > 0 OR mq > 0) AND hq = 0
        |      THEN 1 ELSE 0 END) > 0 AS has_offline,
        |    sum(uq) AS n_unh_copies,
        |    max(CASE WHEN uq > 0 AND has_closed = 0 THEN 1 ELSE 0 END)
        |      AS unh_without_closed
        |  FROM (
        |    SELECT sp.container_id, sp.replica_index,
        |      coalesce(i.hq, 0) AS hq, coalesce(i.dq, 0) AS dq,
        |      coalesce(i.mq, 0) AS mq, coalesce(i.uq, 0) AS uq,
        |      coalesce(i.has_closed, 0) AS has_closed
        |    FROM (
        |      SELECT c.container_id, g.idx AS replica_index
        |      FROM containers_scm c CROSS JOIN range(1, 6) g(idx)
        |      WHERE c.state <> 'DELETED'
        |        AND (c.container_id % 12) % 3 = 2) sp
        |    LEFT JOIN ech_idx i USING (container_id, replica_index))
        |  GROUP BY 1)""".stripMargin,
      """ech_place AS (
        |  SELECT container_id,
        |    count(*) >= 5 AND max(cnt)
        |      <= 1 + greatest(sum(cnt) - 5, 0) AS satisfied
        |  FROM (
        |    SELECT container_id,
        |      CAST(substr(datanode, 3, 10) AS INT) % 5 AS rack,
        |      count(*) AS cnt
        |    FROM ech_all GROUP BY 1, 2)
        |  GROUP BY 1)""".stripMargin),

    // volume-check mirror: the same packed-string prefix fold replayed
    // with list_reduce
    "q_volume_check" -> O.withCtes(
      """SELECT volume,
        |  CAST(string_split(ev, '|')[1] AS BIGINT) AS ts,
        |  CASE
        |    WHEN string_split(pre, '|')[2] = '1'
        |      THEN 'NOT_CHECKED_FAILED_VOLUME'
        |    WHEN CAST(string_split(ev, '|')[1] AS BIGINT) -
        |      CAST(string_split(pre, '|')[1] AS BIGINT) < 10000
        |      THEN 'SKIPPED_MIN_GAP'
        |    WHEN CAST(string_split(ev, '|')[2] AS BIGINT) > 20000
        |      THEN 'TIMED_OUT'
        |    WHEN string_split(ev, '|')[3] = 'FAILED' THEN 'FAILED'
        |    ELSE 'HEALTHY' END AS verdict
        |FROM (
        |  SELECT volume, sevs[j] AS ev,
        |    list_reduce(list_prepend('-999999|0', sevs[1:j-1]),
        |      (s, e) -> CASE
        |        WHEN string_split(s, '|')[2] = '1' THEN s
        |        WHEN CAST(string_split(e, '|')[1] AS BIGINT) -
        |          CAST(string_split(s, '|')[1] AS BIGINT) < 10000
        |          THEN s
        |        WHEN CAST(string_split(e, '|')[2] AS BIGINT) > 20000
        |          THEN string_split(s, '|')[1] || '|1'
        |        WHEN string_split(e, '|')[3] = 'FAILED'
        |          THEN string_split(s, '|')[1] || '|1'
        |        ELSE CAST(CAST(string_split(e, '|')[1] AS BIGINT) +
        |          CAST(string_split(e, '|')[2] AS BIGINT) AS VARCHAR)
        |          || '|0' END) AS pre
        |  FROM (
        |    SELECT volume,
        |      list(ts || '|' || dur || '|' || res ORDER BY ts) AS sevs
        |    FROM vc_events GROUP BY 1),
        |    generate_series(1, 6) g(j))
        |ORDER BY volume, ts""".stripMargin,
      """vc_events AS (
        |  SELECT 'vol-' || v AS volume,
        |    k * 9000 + (v * 531) % 3000 AS ts,
        |    ((v * 7 + k * 13) % 9) * 3000 AS dur,
        |    CASE WHEN (v + k) % 11 = 0 THEN 'FAILED' ELSE 'HEALTHY' END
        |      AS res
        |  FROM range(12) t(v) CROSS JOIN range(6) u(k))""".stripMargin),

    // EC placement-validation mirror: rack counts, the 1-per-rack base
    // plus over-replication allowance, deficit-first reason
    "q_ec_placement_validate" -> O.withCtes(
      """SELECT t.container_id,
        |  CAST(t.n_copies AS BIGINT) AS n_copies,
        |  CAST(t.n_racks AS BIGINT) AS n_racks,
        |  CAST(1 + greatest(t.n_copies - 5, 0) AS BIGINT)
        |    AS max_per_rack,
        |  t.n_racks >= 5 AND t.max_rack_cnt
        |    <= 1 + greatest(t.n_copies - 5, 0) AS satisfied,
        |  CAST(CASE WHEN t.n_racks >= 5 AND t.max_rack_cnt
        |      <= 1 + greatest(t.n_copies - 5, 0) THEN 0
        |    ELSE greatest(5 - t.n_racks, e.excess) END AS BIGINT)
        |    AS mis_count,
        |  CASE WHEN t.n_racks >= 5 AND t.max_rack_cnt
        |      <= 1 + greatest(t.n_copies - 5, 0) THEN 'SATISFIED'
        |    WHEN t.n_racks < 5 THEN 'TOO_FEW_RACKS'
        |    ELSE 'RACK_OVERLOADED' END AS reason
        |FROM epv_tot t JOIN epv_ex e USING (container_id)
        |ORDER BY t.container_id""".stripMargin,
      O.containersScm, O.ecShards,
      """epv_rc AS (
        |  SELECT container_id,
        |    CAST(substr(datanode, 3, 10) AS INT) % 5 AS rack,
        |    count(*) AS cnt
        |  FROM ec_shards GROUP BY 1, 2)""".stripMargin,
      """epv_tot AS (
        |  SELECT container_id, sum(cnt) AS n_copies,
        |    count(*) AS n_racks, max(cnt) AS max_rack_cnt
        |  FROM epv_rc GROUP BY 1)""".stripMargin,
      """epv_ex AS (
        |  SELECT r.container_id,
        |    sum(greatest(r.cnt - (1 + greatest(t.n_copies - 5, 0)), 0))
        |      AS excess
        |  FROM epv_rc r JOIN epv_tot t USING (container_id)
        |  GROUP BY 1)""".stripMargin),

    // snapdiff-jobs mirror: the same literal dims + dispatch CASE
    "q_snapdiff_jobs" -> O.withCtes(
      """SELECT CAST(r.req_id AS BIGINT) AS req_id, r.op, r.from_snap,
        |  r.to_snap,
        |  CASE
        |    WHEN f.snap IS NULL OR t.snap IS NULL
        |      THEN 'SNAPSHOT_NOT_FOUND'
        |    WHEN r.op = 'DIFF' THEN
        |      CASE WHEN j.status IS NULL OR j.status = 'QUEUED'
        |        THEN 'NEW_SUBMITTED' ELSE j.status END
        |    WHEN j.status IS NULL THEN 'CANCEL_JOB_NOT_EXIST'
        |    WHEN j.status = 'IN_PROGRESS' THEN 'CANCEL_SUCCEEDED'
        |    WHEN j.status = 'DONE' THEN 'CANCEL_ALREADY_DONE'
        |    WHEN j.status = 'CANCELLED' THEN 'CANCEL_ALREADY_CANCELLED'
        |    WHEN j.status = 'FAILED' THEN 'CANCEL_ALREADY_FAILED'
        |    ELSE 'CANCEL_NON_CANCELLABLE' END AS verdict,
        |  CAST(CASE WHEN r.op = 'DIFF' AND f.snap IS NOT NULL
        |      AND t.snap IS NOT NULL AND j.status = 'IN_PROGRESS'
        |    THEN j.pct ELSE 0 END AS INT) AS pct
        |FROM sdj_reqs r
        |LEFT JOIN sdj_snaps f ON f.snap = r.from_snap
        |LEFT JOIN sdj_snaps t ON t.snap = r.to_snap
        |LEFT JOIN sdj_jobs j
        |  ON j.from_snap = r.from_snap AND j.to_snap = r.to_snap
        |ORDER BY req_id""".stripMargin,
      O.values("sdj_reqs", T.snapshotDiffRequestRows),
      O.values("sdj_snaps", T.snapshotDiffSnapRows),
      O.values("sdj_jobs", T.snapshotDiffJobRows)),

    // replication-supervisor mirror: the same burst, admission window,
    // run rungs
    "q_replication_supervisor" -> O.withCtes(
      """SELECT seq, kind, container_id,
        |  CASE
        |    WHEN cum_uniques - first_occ >= 100 THEN 'QUEUE_FULL'
        |    WHEN first_occ = 0 THEN 'DEDUPED'
        |    WHEN container_id % 11 = 0 THEN 'TIMEOUT'
        |    WHEN container_id % 13 = 0 THEN 'STALE_TERM'
        |    WHEN ascii(substr(md5(CAST(container_id AS VARCHAR)), 1, 1))
        |      % 5 = 0 THEN 'FAILED'
        |    WHEN ascii(substr(md5(CAST(container_id AS VARCHAR)), 1, 1))
        |      % 5 = 1 THEN 'SKIPPED'
        |    ELSE 'DONE' END AS verdict
        |FROM (
        |  SELECT *,
        |    sum(first_occ) OVER (ORDER BY seq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_uniques
        |  FROM (
        |    SELECT *,
        |      CASE WHEN row_number() OVER (
        |        PARTITION BY kind, container_id ORDER BY seq) = 1
        |        THEN 1 ELSE 0 END AS first_occ
        |    FROM rsup_events))
        |ORDER BY seq""".stripMargin,
      O.containersScm,
      """rsup_events AS (
        |  SELECT container_id, kind, seq FROM (
        |    SELECT container_id,
        |      CASE WHEN container_id % 3 = 0 THEN 'REPLICATE'
        |        WHEN container_id % 3 = 1 THEN 'RECONSTRUCT'
        |        ELSE 'DELETE' END AS kind,
        |      container_id * 2 AS seq
        |    FROM containers_scm
        |    WHERE state <> 'DELETED' AND container_id % 7 = 0)
        |  UNION ALL
        |  SELECT container_id, kind, seq + 1 AS seq FROM (
        |    SELECT container_id,
        |      CASE WHEN container_id % 3 = 0 THEN 'REPLICATE'
        |        WHEN container_id % 3 = 1 THEN 'RECONSTRUCT'
        |        ELSE 'DELETE' END AS kind,
        |      container_id * 2 AS seq
        |    FROM containers_scm
        |    WHERE state <> 'DELETED' AND container_id % 7 = 0
        |      AND container_id % 5 = 0))""".stripMargin),

    // training order: seeded epoch shuffle + closed-form interleave
    "q_train_order" ->
      """SELECT CAST(r.epoch AS BIGINT) AS epoch,
        |  CAST((r.rank - 1) * t.n_domains + x.domain_idx AS BIGINT)
        |    AS slot,
        |  r.domain, CAST(r.rank AS BIGINT) AS rank, r.doc_id
        |FROM (
        |  SELECT e.epoch, d.doc_id, d.source AS domain,
        |    row_number() OVER (PARTITION BY e.epoch, d.source
        |      ORDER BY md5(e.epoch || ':' || d.doc_id)) AS rank
        |  FROM documents d CROSS JOIN (VALUES (0), (1)) e(epoch)) r
        |JOIN (
        |  SELECT domain,
        |    row_number() OVER (ORDER BY domain) - 1 AS domain_idx
        |  FROM (SELECT DISTINCT source AS domain FROM documents)) x
        |  USING (domain)
        |CROSS JOIN (SELECT count(DISTINCT source) AS n_domains
        |  FROM documents) t
        |ORDER BY epoch, slot""".stripMargin,

    // packing diagnostics: fold of the seq-pack layout per shard
    "q_pack_stats" -> O.withCtes(
      """SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  (CAST(sum(n_tokens) AS BIGINT) + 2047) // 2048 AS n_blocks,
        |  (CAST(sum(n_tokens) AS BIGINT) + 2047) // 2048 * 2048
        |    - CAST(sum(n_tokens) AS BIGINT) AS tail_pad,
        |  ((CAST(sum(n_tokens) AS BIGINT) + 2047) // 2048 * 2048
        |    - CAST(sum(n_tokens) AS BIGINT)) * 1000
        |    // ((CAST(sum(n_tokens) AS BIGINT) + 2047) // 2048 * 2048)
        |    AS pad_pm,
        |  CAST(sum(CASE WHEN n_blocks > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS split_docs,
        |  CAST(sum(n_blocks - 1) AS BIGINT) AS boundary_cuts
        |FROM (
        |  SELECT doc_id, shard, n_tokens,
        |    (end_off - 1) // 2048 - (end_off - n_tokens) // 2048 + 1
        |      AS n_blocks
        |  FROM (
        |    SELECT doc_id, shard, n_tokens,
        |      CAST(sum(n_tokens) OVER (
        |        PARTITION BY shard ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS end_off
        |    FROM (
        |      SELECT doc_id, len(ws) AS n_tokens,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |          % 8 AS shard
        |      FROM doc_words)))
        |GROUP BY shard ORDER BY shard""".stripMargin, O.docWords),

    "q_dedup_canonical" -> O.withCtesRecursive(
      """SELECT a.doc_id, a.cluster_id, c.cluster_size, q.quality_x1000,
        |  row_number() OVER (PARTITION BY a.cluster_id
        |    ORDER BY q.quality_x1000 DESC, a.doc_id) = 1 AS keep
        |FROM asg a
        |JOIN (SELECT cluster_id, count(*) AS cluster_size
        |      FROM asg GROUP BY 1) c USING (cluster_id)
        |JOIN qual q ON a.doc_id = q.doc_id
        |ORDER BY a.doc_id""".stripMargin,
      (Seq(O.docWords, O.shingle2, O.shingleHash, O.minhashSigs,
        O.minhashBandsCte, candCte, bgCte, szCte, interCte) ++ Seq(
        """jpairs AS (
          |  SELECT doc_a, doc_b FROM inter
          |  JOIN (SELECT doc_id, n AS na FROM sz) sa ON doc_a = sa.doc_id
          |  JOIN (SELECT doc_id, n AS nb FROM sz) sb ON doc_b = sb.doc_id
          |  WHERE inter_count * 1000 // (na + nb - inter_count) >= 100
          |)""".stripMargin,
        """edges AS (
          |  SELECT doc_a AS u, doc_b AS v FROM jpairs
          |  UNION ALL
          |  SELECT doc_b, doc_a FROM jpairs
          |)""".stripMargin,
        """reach(doc_id, lab) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.doc_id
          |)""".stripMargin,
        "asg AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY 1)",
        s"""qual AS (
           |  SELECT doc_id,
           |    least(n_tokens, 100) * 10 + (1000 - n_stop * 1000 // n_tokens) // 2
           |      + (n_uniq * 1000 // n_tokens) // 4 AS quality_x1000
           |  FROM (
           |    SELECT doc_id, len(ws) AS n_tokens,
           |      len(list_filter(ws, x -> x IN (${graft.operators.TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")}))) AS n_stop,
           |      len(list_distinct(ws)) AS n_uniq
           |    FROM doc_words)
           |)""".stripMargin)): _*),

    "q_keyword_search" -> O.withCtes(
      s"""SELECT doc_id,
         |  CAST(sum(tf * (n_docs * 1000 // df)) AS BIGINT) AS score_x1000,
         |  count(*) AS n_terms_hit
         |FROM post
         |JOIN (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY 1)
         |  USING (term)
         |CROSS JOIN (SELECT count(*) AS n_docs FROM documents)
         |GROUP BY 1
         |ORDER BY score_x1000 DESC, doc_id
         |LIMIT 20""".stripMargin,
      O.docWords,
      s"""post AS (
         |  SELECT doc_id, t AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(ws) AS t FROM doc_words)
         |  WHERE t IN (${SearchTerms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2
         |)""".stripMargin),

    "q_ngram_counts" -> O.withCtes(
      """SELECT gram, count(*) AS cnt
        |FROM (
        |  SELECT unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in generate_series(1, len(ws) - 2)]) AS gram
        |  FROM doc_words WHERE len(ws) >= 3)
        |GROUP BY 1 HAVING count(*) >= 3
        |ORDER BY cnt DESC, gram""".stripMargin,
      O.docWords),

    "q_lm_familiarity" -> O.withCtes(
      """SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN lm.gram IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS known_grams,
        |  CAST(sum(CASE WHEN lm.gram IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) * 1000
        |    // count(*) AS familiarity_pm
        |FROM (
        |  SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in generate_series(1, len(ws) - 2)]) AS gram
        |  FROM doc_words WHERE len(ws) >= 3) dg
        |LEFT JOIN (
        |  SELECT gram FROM (
        |    SELECT unnest([array_to_string(ws[i:i+2], ' ')
        |            for i in generate_series(1, len(ws) - 2)]) AS gram
        |    FROM doc_words WHERE len(ws) >= 3)
        |  GROUP BY 1 HAVING count(*) >= 3) lm ON dg.gram = lm.gram
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      O.docWords),

    // Paragraph-dedup mirror: the same fixed-window units, 60-bit md5
    // hash, packed first-occurrence winner, per-doc rollup.
    "q_paragraph_dedup" -> O.withCtes(
      """SELECT doc_id, count(*) AS n_paras,
        |  CAST(sum(CASE WHEN packed = win THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_paras,
        |  CAST(sum(CASE WHEN packed = win THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000 // count(*) AS retained_pm
        |FROM (
        |  SELECT doc_id, packed,
        |    min(packed) OVER (PARTITION BY h) AS win
        |  FROM (
        |    SELECT doc_id,
        |      ('0x' || substr(md5(para), 1, 15))::BIGINT AS h,
        |      doc_id * 1000000000 + p AS packed
        |    FROM (
        |      SELECT doc_id, p,
        |        array_to_string(ws[p * 12 + 1 : p * 12 + 12], ' ')
        |          AS para
        |      FROM (
        |        SELECT doc_id, ws,
        |          unnest(generate_series(0, (len(ws) - 1) // 12)) AS p
        |        FROM doc_words))
        |    WHERE para <> ''))
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      O.docWords),

    // Vocabulary induction: top-1024 word types by (count desc, word),
    // then per-doc OOV share against that vocab.
    "q_vocab_coverage" -> O.withCtes(
      """SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS oov_tokens,
        |  (count(*) - CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT)) * 1000 // count(*) AS coverage_pm
        |FROM (
        |  SELECT doc_id, unnest(ws) AS word
        |  FROM doc_words WHERE len(ws) >= 1) w
        |LEFT JOIN (
        |  SELECT word FROM (
        |    SELECT word, count(*) AS cnt FROM (
        |      SELECT unnest(ws) AS word
        |      FROM doc_words WHERE len(ws) >= 1)
        |    GROUP BY 1 ORDER BY cnt DESC, word LIMIT 1024)) v
        |  USING (word)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      O.docWords),

    // BPE pair scoring: word frequencies (corpus pass), then adjacent
    // symbol pairs over the char+</w> alphabet of each DISTINCT word,
    // weighted by word count; top-50 by (count desc, pair).
    "q_bpe_pairs" -> O.withCtes(
      """SELECT pair, CAST(sum(wcnt) AS BIGINT) AS pair_count
        |FROM (
        |  SELECT wcnt,
        |    unnest([s[i] || ' ' || s[i+1]
        |            for i in generate_series(1, len(s) - 1)]) AS pair
        |  FROM (
        |    SELECT wcnt, list_append(string_split(w, ''), '</w>') AS s
        |    FROM (
        |      SELECT w, count(*) AS wcnt FROM (
        |        SELECT unnest(ws) AS w FROM doc_words)
        |      WHERE len(w) > 0 GROUP BY 1)))
        |GROUP BY 1 ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin,
      O.docWords),

    // BM25: keywordSearch's integer IDF plus tf saturation (k1=1.2 as 12
    // on a x10 scale) and doc-length normalization (b=0.75 as the 250/750
    // split) — arithmetic mirrors TextAnalysis.bm25Rank exactly.
    "q_bm25_rank" -> O.withCtes(
      """SELECT doc_id,
        |  CAST(sum((n_docs * 1000 // df) *
        |    (tf * 22 * 1000 //
        |      (tf * 10 + 12 * (250 + 750 * dl // avgdl) // 1000)) // 1000)
        |    AS BIGINT) AS score_x1000,
        |  count(*) AS n_terms_hit
        |FROM post
        |JOIN (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY 1)
        |  USING (term)
        |CROSS JOIN (SELECT count(*) AS n_docs,
        |            sum(len(ws)) // count(*) AS avgdl FROM doc_words)
        |GROUP BY 1
        |ORDER BY score_x1000 DESC, doc_id
        |LIMIT 20""".stripMargin,
      O.docWords,
      s"""post AS (
         |  SELECT doc_id, dl, t AS term, count(*) AS tf
         |  FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS t FROM doc_words)
         |  WHERE t IN (${SearchTerms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2, 3
         |)""".stripMargin))

  /** Lang-ID oracle generated from the same marker constants as the Spark
    * implementation (TextAnalysis.LangMarkers) so they cannot drift. */
  private def dedupClustersOracle: String = O.withCtesRecursive(
    """SELECT a.doc_id, a.cluster_id, c.cluster_size
      |FROM asg a JOIN (SELECT cluster_id, count(*) AS cluster_size
      |                 FROM asg GROUP BY 1) c USING (cluster_id)
      |ORDER BY a.doc_id""".stripMargin,
    (Seq(O.docWords, O.shingle2, O.shingleHash, O.minhashSigs,
      O.minhashBandsCte, candCte, bgCte, szCte, interCte) ++ Seq(
      """jpairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN (SELECT doc_id, n AS na FROM sz) sa ON doc_a = sa.doc_id
        |  JOIN (SELECT doc_id, n AS nb FROM sz) sb ON doc_b = sb.doc_id
        |  WHERE inter_count * 1000 // (na + nb - inter_count) >= 100
        |)""".stripMargin,
      """edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM jpairs
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM jpairs
        |)""".stripMargin,
      """reach(doc_id, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.doc_id
        |)""".stripMargin,
      "asg AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY 1)")): _*)

  private def qualityScoreOracle: String = O.withCtes(
    s"""SELECT doc_id, n_tokens, n_stop, n_uniq, stop_x1000, uniq_x1000,
       |  least(n_tokens, 100) * 10 + (1000 - stop_x1000) // 2
       |    + uniq_x1000 // 4 AS quality_x1000
       |FROM (
       |  SELECT doc_id, n_tokens, n_stop, n_uniq,
       |    n_stop * 1000 // n_tokens AS stop_x1000,
       |    n_uniq * 1000 // n_tokens AS uniq_x1000
       |  FROM (
       |    SELECT doc_id, len(ws) AS n_tokens,
       |      len(list_filter(ws, x -> x IN (${TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")}))) AS n_stop,
       |      len(list_distinct(ws)) AS n_uniq
       |    FROM doc_words))
       |ORDER BY doc_id""".stripMargin, O.docWords)

  private def piiScrubOracle: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text
       |         ELSE text || ' contact user' || doc_id
       |           || '@example.com or admin.' || doc_id
       |           || '@corp.example.org call 415-555-'
       |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |           || ' ssn 078-05-'
       |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |           || ' from 10.' || (doc_id % 200) || '.'
       |           || ((doc_id * 7) % 250) || '.' || (doc_id % 250)
       |    END AS aug
       |  FROM documents
       |), scr AS (
       |  SELECT doc_id, aug,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(aug,
       |      '${Curation.EmailRe}', '<EMAIL>', 'g'),
       |      '${Curation.SsnRe}', '<SSN>', 'g'),
       |      '${Curation.PhoneRe}', '<PHONE>', 'g'),
       |      '${Curation.IpRe}', '<IP>', 'g') AS scrubbed
       |  FROM aug
       |)
       |SELECT doc_id,
       |  len(regexp_extract_all(aug, '${Curation.EmailRe}')) AS n_email,
       |  len(regexp_extract_all(aug, '${Curation.SsnRe}')) AS n_ssn,
       |  len(regexp_extract_all(aug, '${Curation.PhoneRe}')) AS n_phone,
       |  len(regexp_extract_all(aug, '${Curation.IpRe}')) AS n_ip,
       |  ('0x' || substr(md5(scrubbed), 1, 15))::BIGINT AS scrub_fp60,
       |  length(aug) - length(scrubbed) AS len_delta
       |FROM scr ORDER BY doc_id""".stripMargin

  private def repetitionFilterOracle: String = O.withCtes(
    """SELECT doc_id, max_token_run, n_grams, top_gram_occ, dup_gram_occ,
      |  top_gram_occ * 1000 // n_grams AS top_x1000,
      |  dup_gram_occ * 1000 // n_grams AS dup_x1000,
      |  (max_token_run <= 2 AND top_gram_occ * 1000 // n_grams <= 50
      |   AND dup_gram_occ * 1000 // n_grams <= 100) AS keep
      |FROM (
      |  SELECT doc_id, max(run) AS max_token_run FROM (
      |    SELECT doc_id, w, isl, count(*) AS run FROM (
      |      SELECT doc_id, w,
      |        pos - row_number() OVER (PARTITION BY doc_id, w ORDER BY pos) AS isl
      |      FROM (SELECT doc_id, unnest(ws) AS w,
      |              unnest(generate_series(1, len(ws))) AS pos
      |            FROM doc_words))
      |    GROUP BY 1, 2, 3) GROUP BY 1) runs
      |JOIN (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
      |    max(c) AS top_gram_occ,
      |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_gram_occ
      |  FROM (
      |    SELECT doc_id, g, count(*) AS c FROM (
      |      SELECT doc_id,
      |        unnest([array_to_string(ws[i:i+1], ' ')
      |                for i in generate_series(1, len(ws) - 1)]) AS g
      |      FROM doc_words WHERE len(ws) >= 2)
      |    GROUP BY 1, 2) GROUP BY 1) gs
      |USING (doc_id)
      |ORDER BY doc_id""".stripMargin, O.docWords)

  private def decontaminateOracle: String = O.withCtes(
    """SELECT d.doc_id,
      |  coalesce(h.n_shared_grams, 0) AS n_shared_grams,
      |  coalesce(h.n_bench_docs, 0) AS n_bench_docs,
      |  coalesce(h.n_shared_grams, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN (
      |  SELECT t.doc_id, count(DISTINCT t.gh) AS n_shared_grams,
      |    count(DISTINCT b.bench_doc) AS n_bench_docs
      |  FROM (SELECT doc_id, gh FROM grams4 WHERE doc_id % 50 <> 7) t
      |  JOIN (SELECT doc_id AS bench_doc, gh FROM grams4 WHERE doc_id % 50 = 7) b
      |    USING (gh)
      |  GROUP BY 1) h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 50 <> 7
      |ORDER BY d.doc_id""".stripMargin,
    O.docWords,
    """grams4 AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
      |  FROM (
      |    SELECT doc_id,
      |      unnest([array_to_string(ws[i:i+3], ' ')
      |              for i in generate_series(1, len(ws) - 3)]) AS g
      |    FROM doc_words WHERE len(ws) >= 4)
      |)""".stripMargin)

  /** The funnel composes the five component oracles verbatim as nested
    * CTEs — each stage's SQL stays the single source of truth and the
    * funnel can never drift from the stage queries it reports on. (Plain
    * concatenation: an outer stripMargin would eat the inner SQL's
    * leading `||` concatenation operators.) */
  private def curationFunnelOracle: String =
    "WITH lang_t AS (\n" + langIdOracle +
      "\n), qual_t AS (\n" + qualityScoreOracle +
      "\n), rep_t AS (\n" + repetitionFilterOracle +
      "\n), pii_t AS (\n" + piiScrubOracle +
      "\n), dec_t AS (\n" + decontaminateOracle + "\n)\n" +
      """SELECT d.doc_id, l.predicted_lang, q.quality_x1000,
        |  p.n_email + p.n_ssn + p.n_phone + p.n_ip AS n_pii,
        |  CASE WHEN d.doc_id % 50 = 7 THEN 'benchmark'
        |       WHEN l.predicted_lang <> 'en' THEN 'lang'
        |       WHEN q.quality_x1000 < 900 THEN 'quality'
        |       WHEN NOT r.keep THEN 'repetition'
        |       WHEN c.contaminated THEN 'contaminated'
        |       ELSE 'keep' END AS verdict
        |FROM (SELECT doc_id FROM documents) d
        |JOIN lang_t l USING (doc_id)
        |JOIN qual_t q USING (doc_id)
        |JOIN rep_t r USING (doc_id)
        |JOIN pii_t p USING (doc_id)
        |LEFT JOIN dec_t c USING (doc_id)
        |ORDER BY doc_id""".stripMargin

  private def langIdOracle: String = {
    val scores = TextAnalysis.LangMarkers.map { case (lang, markers) =>
      val occ = markers.map { m =>
        s"(length(padded) - length(replace(padded, '$m', ''))) // ${m.length}"
      }.mkString(" + ")
      s"$occ AS s_$lang"
    }.mkString(",\n    ")
    val langs = TextAnalysis.LangMarkers.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"s_$r")
      val restMax = if (rest.size == 1) rest.head
                    else s"greatest(${rest.mkString(", ")})"
      s"WHEN s_$l >= $restMax THEN '$l'"
    }.mkString("\n      ")
    val sCols = langs.map("s_" + _).mkString(", ")
    O.withCtes(
      s"""SELECT doc_id, $sCols, lang,
         |  CASE $cases
         |      ELSE '${langs.last}' END AS predicted_lang,
         |  (CASE $cases
         |      ELSE '${langs.last}' END) = lang AS is_match
         |FROM (
         |  SELECT doc_id, lang,
         |    $scores
         |  FROM (SELECT doc_id, lang, ' ' || norm || ' ' AS padded FROM doc_words))
         |ORDER BY doc_id""".stripMargin, O.docWords)
  }
}
