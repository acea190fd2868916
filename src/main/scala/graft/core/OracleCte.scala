package graft.core

/**
 * DuckDB SQL mirrors of [[Tables]] — each value is a CTE body computing the
 * same rows as the Spark synthesis, bit-for-bit. Oracle queries compose these
 * via [[OracleCte.withCtes]]. Parity rules shared with Tables.scala:
 *   - `epoch_ms(ts)` == Spark `unix_millis` (UTC session),
 *   - `CAST(floor(x) AS BIGINT)` for all sizes (DuckDB CAST(double AS BIGINT)
 *     ROUNDS, Spark truncates — floor first on both sides),
 *   - `//` (DuckDB) == `DIV` (Spark) integer division,
 *   - string `||` coerces numerics identically in both engines.
 */
object OracleCte {

  val objects: String =
    """objects AS (
      |  SELECT
      |    'vol' || (l_orderkey % 4) AS volume,
      |    'bucket' || (l_suppkey % 10) AS bucket,
      |    'warehouse/' || l_returnflag || '/' || l_orderkey || '/' || l_linenumber || '.dat' AS key,
      |    l_orderkey * 10 + l_linenumber AS object_id,
      |    CAST(floor(l_extendedprice) AS BIGINT) AS data_size,
      |    CASE l_linenumber % 3
      |      WHEN 0 THEN CAST(floor(l_extendedprice) AS BIGINT) * 3
      |      WHEN 1 THEN CAST(floor(l_extendedprice) AS BIGINT) * 5 // 3
      |      ELSE CAST(floor(l_extendedprice) AS BIGINT) END AS replicated_size,
      |    CASE l_linenumber % 3
      |      WHEN 0 THEN 'RATIS/THREE'
      |      WHEN 1 THEN 'EC/rs-3-2-1024k'
      |      ELSE 'RATIS/ONE' END AS replication_type,
      |    epoch_ms(l_shipdate) AS creation_time,
      |    epoch_ms(l_shipdate) + l_linenumber * 86400000 AS modification_time,
      |    'clerk' || (l_orderkey % 7) AS owner,
      |    l_returnflag AS tag_flag,
      |    l_orderkey % 1000 AS container_id,
      |    CAST(l_linenumber AS BIGINT) AS version,
      |    md5('warehouse/' || l_returnflag || '/' || l_orderkey || '/' || l_linenumber || '.dat') AS etag
      |  FROM lineitem
      |)""".stripMargin

  /** Deepened 5-segment namespace (mirror of Tables.objectsDeep). */
  val objectsDeep: String =
    """objects_deep AS (
      |  SELECT volume, bucket,
      |    substring(key, 1, length(key) - 4) || '/p' || (object_id % 3) || '.dat' AS key,
      |    object_id, data_size, modification_time
      |  FROM objects
      |)""".stripMargin

  /** Mixed-depth namespace (mirror of Tables.objectsMixed): every 5th
    * object's key deepens to 6 segments. */
  val objectsMixed: String =
    """objects_mixed AS (
      |  SELECT volume, bucket,
      |    CASE WHEN object_id % 5 = 0
      |      THEN substring(key, 1, length(key) - 4)
      |        || '/d' || (object_id % 2) || '/p' || (object_id % 3) || '.dat'
      |      ELSE key END AS key,
      |    object_id, data_size, replicated_size, replication_type,
      |    creation_time, modification_time, owner, tag_flag, container_id,
      |    version, etag
      |  FROM objects
      |)""".stripMargin

  val buckets: String =
    """buckets AS (
      |  SELECT volume, bucket, used_bytes, used_namespace,
      |    CASE WHEN bucket_idx = 9 THEN 1000000
      |         WHEN bucket_idx = 5 THEN -1
      |         ELSE (bucket_idx + 1) * 100000000 END AS quota_bytes,
      |    CASE WHEN bucket_idx = 9 THEN 100 ELSE 1000000 END AS quota_namespace,
      |    CASE WHEN bucket_idx % 2 = 0 THEN 'OBS' ELSE 'FSO' END AS layout
      |  FROM (
      |    SELECT volume, bucket,
      |      CAST(SUM(data_size) AS BIGINT) AS used_bytes,
      |      CAST(COUNT(*) AS BIGINT) AS used_namespace,
      |      CAST(substr(bucket, 7, 10) AS BIGINT) AS bucket_idx
      |    FROM objects GROUP BY volume, bucket
      |  )
      |)""".stripMargin

  val volumes: String =
    """volumes AS (
      |  SELECT volume, CAST(SUM(used_bytes) AS BIGINT) AS used_bytes,
      |    CAST(SUM(used_namespace) AS BIGINT) AS used_namespace,
      |    CAST(COUNT(*) AS BIGINT) AS bucket_count,
      |    CAST(1000000000000 AS BIGINT) AS quota_bytes,
      |    'admin' || substr(volume, 4, 10) AS owner
      |  FROM buckets GROUP BY volume
      |)""".stripMargin

  /** Mirror of Tables.volumesCatalog: the OM volume TABLE the Recon
    * listings walk — rolled up from buckets_catalog (so vol2's
    * bucket_count includes the planted bucket41) plus the planted
    * zero-object volume vol21. Must be listed AFTER bucketsCatalog. */
  val volumesCatalog: String =
    values("planted_volumes", Tables.plantedVolumeRows) + ",\n" +
    """volumes_catalog AS (
      |  SELECT volume, CAST(SUM(used_bytes) AS BIGINT) AS used_bytes,
      |    CAST(SUM(used_namespace) AS BIGINT) AS used_namespace,
      |    CAST(COUNT(*) AS BIGINT) AS bucket_count,
      |    CAST(1000000000000 AS BIGINT) AS quota_bytes,
      |    'admin' || substr(volume, 4, 10) AS owner
      |  FROM buckets_catalog GROUP BY volume
      |  UNION ALL SELECT * FROM planted_volumes
      |)""".stripMargin

  /** Mirror of Tables.bucketsCatalog: bucket-table dual of
    * [[volumesCatalog]] with the planted zero-object vol2/bucket41. */
  val bucketsCatalog: String =
    values("planted_buckets", Tables.plantedBucketRows) + ",\n" +
    """buckets_catalog AS (
      |  SELECT * FROM buckets
      |  UNION ALL SELECT * FROM planted_buckets
      |)""".stripMargin

  val containersScm: String =
    """containers_scm AS (
      |  SELECT r AS container_id,
      |    CASE WHEN r % 97 = 0 THEN 'DELETED' ELSE 'CLOSED' END AS state,
      |    3 AS replication_factor,
      |    (r + 1) * 1000000 AS used_bytes
      |  FROM range(1000) t(r)
      |)""".stripMargin

  val containersOm: String =
    """containers_om AS (
      |  SELECT container_id, COUNT(*) AS num_keys, SUM(data_size) AS used_bytes
      |  FROM objects WHERE container_id % 89 <> 0
      |  GROUP BY container_id
      |)""".stripMargin

  val replicas: String =
    """replicas AS (
      |  SELECT container_id,
      |    'dn' || dn AS datanode,
      |    'rack' || (dn % 5) AS rack,
      |    CASE WHEN container_id % 29 = 0 AND r = 1 THEN 'UNHEALTHY'
      |         ELSE 'CLOSED' END AS replica_state
      |  FROM (
      |    SELECT c.container_id, r.r,
      |      (c.container_id + CASE WHEN c.container_id % 23 = 0
      |         THEN r.r * 5 ELSE r.r END) % 20 AS dn
      |    FROM containers_scm c CROSS JOIN range(4) r(r)
      |    WHERE (r.r <= 2 AND NOT (c.container_id % 13 = 0 AND r.r = 2))
      |       OR (r.r = 3 AND c.container_id % 17 = 0))
      |)""".stripMargin

  val snapshotV1: String =
    s"""snap_v1 AS (
       |  SELECT * FROM objects
       |  WHERE creation_time <= ${Tables.SnapCut1Ms}
       |  QUALIFY row_number() OVER (
       |    PARTITION BY object_id ORDER BY data_size DESC, key) = 1
       |)""".stripMargin

  val snapshotV2: String =
    s"""snap_v2 AS (
       |  SELECT * FROM (
       |    SELECT volume, bucket,
       |      CASE WHEN version = 2 THEN key || '.renamed' ELSE key END AS key,
       |      object_id,
       |      CASE WHEN version = 3 THEN data_size + 1 ELSE data_size END AS data_size,
       |      replicated_size, replication_type, creation_time, modification_time,
       |      owner, tag_flag, container_id, version, etag
       |    FROM objects
       |    WHERE creation_time > ${Tables.SnapCut0Ms})
       |  QUALIFY row_number() OVER (
       |    PARTITION BY object_id ORDER BY data_size DESC, key) = 1
       |)""".stripMargin

  val auditAccess: String =
    """audit_access AS (
      |  SELECT epoch_ms(o_orderdate) AS ts,
      |    'vol' || (o_orderkey % 4) AS volume,
      |    'bucket' || (o_custkey % 10) AS bucket,
      |    'warehouse/' || o_orderstatus || '/' || o_orderkey AS key,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'WRITE_KEY' ELSE 'READ_KEY' END AS op,
      |    'u' || (o_custkey % 20) AS user
      |  FROM orders
      |)""".stripMargin

  val openKeys: String =
    """open_keys AS (
      |  SELECT *, object_id * 7 % 100000 AS client_id
      |  FROM objects WHERE version % 5 = 0
      |)""".stripMargin

  val multipartParts: String =
    """multipart_parts AS (
      |  SELECT
      |    md5('upload' || l_orderkey) AS upload_id,
      |    l_orderkey AS order_key,
      |    l_linenumber AS part_number,
      |    md5('part' || l_orderkey || '_' || l_linenumber) AS etag,
      |    CAST(floor(l_extendedprice) AS BIGINT) AS size,
      |    epoch_ms(l_shipdate) AS creation_time
      |  FROM lineitem
      |  WHERE l_orderkey % 50 = 0 AND l_linenumber % 6 <> 0
      |)""".stripMargin

  /** replica_history (mirror of Tables.replicaHistory). */
  val replicaHistoryCte: String =
    """replica_history AS (
      |  SELECT container_id,
      |    'dn' || ((container_id + version) % 20) AS datanode,
      |    modification_time AS ts
      |  FROM objects
      |)""".stripMargin

  // ---- LLM-pipeline mirrors (documents / embeddings / events / media) ----

  /** Normalized text + word list (mirror of Dedup.withWords / TextFns). */
  val docWords: String =
    """doc_words AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
      |  FROM documents
      |)""".stripMargin

  /** Word-bigram shingles (mirror of TextFns.shingleExpr(n=2)). */
  val shingle2: String =
    """shingle2 AS (
      |  SELECT doc_id, source, lang,
      |    unnest([array_to_string(ws[i:i+1], ' ')
      |            for i in generate_series(1, len(ws) - 1)]) AS s
      |  FROM doc_words WHERE len(ws) >= 2
      |)""".stripMargin

  /** Shingle hashes reduced mod P — the explode SQL form of the hashing
    * step Dedup.minhashSignatures now runs inside the one-pass native
    * graft_minhash16 expression (functions/MinHash16.scala); the oracle
    * deliberately keeps the portable explode form, FunctionsSpec pins
    * the two bit-identical. */
  val shingleHash: String =
    s"""shingle_hash AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(s), 1, 15))::BIGINT % ${graft.functions.TextFns.P} AS hmod
       |  FROM shingle2
       |)""".stripMargin

  /** MinHash signatures: k=16 permutation minima (mirror of
    * Dedup.minhashSignatures — same (a,b,P) family). */
  val minhashSigs: String = {
    import graft.functions.TextFns.{P, permA, permB}
    val mins = (0 until 16)
      .map(i => s"min((${permA(i)} * hmod + ${permB(i)}) % $P) AS mh$i")
      .mkString(",\n    ")
    s"""minhash_sigs AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM shingle_hash GROUP BY doc_id
       |)""".stripMargin
  }

  /** LSH bands: 4 bands × 4 rows (mirror of Dedup.minhashBands). */
  val minhashBandsCte: String = {
    val selects = (0 until 4).map { j =>
      val cols = (0 until 4).map(r => s"mh${4 * j + r}")
      s"SELECT doc_id, $j AS band, md5(${cols.mkString(" || ',' || ")}) AS sig FROM minhash_sigs"
    }
    s"""minhash_bands AS (
       |  ${selects.mkString("\n  UNION ALL\n  ")}
       |)""".stripMargin
  }

  /** 60-bit SimHash per doc (mirror of Dedup.simhash). */
  val simhashCte: String = {
    val sums = (0 until graft.operators.Dedup.SimhashBits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n      ")
    val simExpr = (0 until graft.operators.Dedup.SimhashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""simhash AS (
       |  SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM (
       |    SELECT doc_id,
       |      $sums
       |    FROM (
       |      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
       |      FROM (SELECT doc_id, unnest(ws) AS t FROM doc_words))
       |    GROUP BY doc_id)
       |)""".stripMargin
  }

  /** Quantized embeddings + integer norms (mirror of Similarity.quantized). */
  val embQuant: String =
    """emb_n AS (
      |  SELECT vec_id, label, qv,
      |    CAST(list_sum([x * x for x in qv]) AS BIGINT) AS nrm
      |  FROM (
      |    SELECT vec_id, label,
      |      [CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) for x in embedding] AS qv
      |    FROM embeddings)
      |)""".stripMargin

  /** Deterministic hyperplanes (mirror of Similarity.hyperplanes(16, 64)). */
  val planes: String =
    s"""planes AS (
       |  SELECT p.p, d.d,
       |    ('0x' || substr(md5(p.p || '_' || d.d), 1, 8))::BIGINT % 2001 - 1000 AS w
       |  FROM range(${graft.operators.Similarity.NumPlanes}) p(p) CROSS JOIN range(64) d(d)
       |)""".stripMargin

  /** Banded sign-LSH signatures (mirror of Similarity.lshBands). */
  val lshBandsCte: String = {
    val bb = graft.operators.Similarity.BandBits
    s"""lsh_bands AS (
       |  SELECT vec_id, CAST(p // $bb AS INT) AS band,
       |    CAST(sum(CASE WHEN sp > 0 THEN (1 << CAST(p % $bb AS INT)) ELSE 0 END) AS BIGINT) AS sig
       |  FROM (
       |    SELECT n.vec_id, pl.p, CAST(sum(pl.w * n.qv[pl.d + 1]) AS BIGINT) AS sp
       |    FROM emb_n n CROSS JOIN planes pl
       |    GROUP BY n.vec_id, pl.p)
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  /** Undirected LSH candidate pairs (mirror of Similarity.lshCandidates). */
  val lshCandCte: String =
    """lsh_cand AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, count(*) AS shared_bands
      |  FROM lsh_bands a JOIN lsh_bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Candidates + exact integer cosine (mirror of Similarity.withCosine). */
  val candCosCte: String =
    s"""cand_cos AS (
       |  SELECT c.vec_a, c.vec_b, c.shared_bands,
       |    ${cosSql("list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, 64)])", "a.nrm", "b.nrm")} AS cos_x1e6
       |  FROM lsh_cand c
       |  JOIN emb_n a ON c.vec_a = a.vec_id
       |  JOIN emb_n b ON c.vec_b = b.vec_id
       |)""".stripMargin

  /** One (vector, centroid) ranking pass (mirror of Similarity.rankCells):
    * integer cosine, cell_id tie-break, keep ranks <= `keep`. */
  private def ivfAsgSql(cents: String, name: String, filter: String,
                        keep: Int): String =
    s"""$name AS (
       |  SELECT vec_id, cell_id, qv, nrm, rn FROM (
       |    SELECT n.vec_id, c.cell_id, n.qv, n.nrm,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        ${cosSql("list_sum([n.qv[j] * c.cv[j] for j in generate_series(1, 64)])", "n.nrm", "c.cnrm")} DESC,
       |        c.cell_id) AS rn
       |    FROM emb_n n CROSS JOIN $cents c$filter)
       |  WHERE rn <= $keep
       |)""".stripMargin

  /** Integer component means of an assignment (Lloyd re-center step). */
  private def ivfMeanSql(i: Int): String =
    s"""ivf_mean${i + 1} AS (
       |  SELECT cell_id, g.i AS pos,
       |    CAST(floor(CAST(sum(qv[g.i]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
       |  FROM ivf_asg$i CROSS JOIN generate_series(1, 64) g(i)
       |  GROUP BY cell_id, g.i
       |)""".stripMargin

  private def ivfCentsSql(i: Int): String =
    s"""cents$i AS (
       |  SELECT cell_id, cv,
       |    CAST(list_sum([x * x for x in cv]) AS BIGINT) AS cnrm
       |  FROM (SELECT cell_id, list(mv ORDER BY pos) AS cv
       |        FROM ivf_mean$i GROUP BY cell_id)
       |)""".stripMargin

  /** Lloyd-refined IVF chain (mirror of Similarity.ivfCentroids(16, 2) +
    * final hard assignment + the nprobe=2 probe list for vec_id < 20). */
  val ivfCtes: Seq[String] = Seq(
    """cents0 AS (
      |  SELECT vec_id AS cell_id, qv AS cv, nrm AS cnrm
      |  FROM emb_n WHERE vec_id < 16
      |)""".stripMargin,
    ivfAsgSql("cents0", "ivf_asg0", "", 1),
    ivfMeanSql(0), ivfCentsSql(1),
    ivfAsgSql("cents1", "ivf_asg1", "", 1),
    ivfMeanSql(1), ivfCentsSql(2),
    ivfAsgSql("cents2", "ivf_cells", "", 1),
    ivfAsgSql("cents2", "ivf_probe", " WHERE n.vec_id < 20", 2))

  /** Engine-identical integer-EXACT cosine — the DuckDB mirror of
    * Similarity.cosIntSql: exact isqrt (double seed, ±1 correction) and
    * sign-split truncating division implementing floor, so no BIGINT
    * output depends on a float rounding chain (only the corrected seed
    * touches FP). `//` is non-negative on both branches, where every
    * engine's integer division agrees. */
  def cosSql(dot: String, na: String, nb: String,
             scale: Long = 1000000L): String = {
    val x = s"(CAST(($na) AS BIGINT) * CAST(($nb) AS BIGINT))"
    val s0 = s"CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT)"
    val s = s"(CASE WHEN $s0 * $s0 > $x THEN $s0 - 1 " +
      s"WHEN ($s0 + 1) * ($s0 + 1) <= $x THEN $s0 + 1 ELSE $s0 END)"
    s"(CASE WHEN ($dot) >= 0 THEN (CAST(($dot) AS BIGINT) * $scale) // $s " +
      s"ELSE -((-CAST(($dot) AS BIGINT) * $scale + $s - 1) // $s) END)"
  }

  /** PQ mirrors (Similarity.pqSubvectors/pqCodebooks/pqCodes with M=4
    * subspaces × 16 dims, K=8 codewords, one Lloyd pass, floor-mean
    * re-centering, squared-L2 everywhere). */
  private def pqAsgSql(cbName: String, outName: String): String =
    s"""$outName AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        list_sum([(s.sv[i] - c.cb[i]) * (s.sv[i] - c.cb[i])
       |                  for i in generate_series(1, 16)]), c.code) AS rn
       |    FROM pq_sub s JOIN $cbName c ON s.m = c.m)
       |  WHERE rn = 1
       |)""".stripMargin

  val pqCtes: Seq[String] = Seq(
    s"""pq_sub AS (
      |  SELECT vec_id, m,
      |    [CASE WHEN nrm = 0 THEN CAST(0 AS BIGINT)
      |          ELSE ${cosSql("qv[m * 16 + i]", "nrm", "1", 1024L)} END
      |     for i in generate_series(1, 16)] AS sv
      |  FROM emb_n CROSS JOIN range(4) t(m)
      |)""".stripMargin,
    """pq_cb0 AS (
      |  SELECT m, CAST(vec_id AS INT) AS code, sv AS cb
      |  FROM pq_sub WHERE vec_id < 8
      |)""".stripMargin,
    pqAsgSql("pq_cb0", "pq_asg0"),
    """pq_cb1 AS (
      |  SELECT m, code, list(mv ORDER BY pos) AS cb FROM (
      |    SELECT a.m, a.code, g.i AS pos,
      |      CAST(floor(CAST(sum(s.sv[g.i]) AS DOUBLE) / count(*)) AS BIGINT) AS mv
      |    FROM pq_asg0 a JOIN pq_sub s ON a.vec_id = s.vec_id AND a.m = s.m
      |    CROSS JOIN generate_series(1, 16) g(i)
      |    GROUP BY 1, 2, 3)
      |  GROUP BY 1, 2
      |)""".stripMargin,
    pqAsgSql("pq_cb1", "pq_codes"),
    """pq_lut AS (
      |  SELECT s.vec_id AS query_id, c.m, c.code,
      |    CAST(list_sum([(s.sv[i] - c.cb[i]) * (s.sv[i] - c.cb[i])
      |                   for i in generate_series(1, 16)]) AS BIGINT) AS d
      |  FROM pq_sub s JOIN pq_cb1 c ON s.m = c.m
      |  WHERE s.vec_id < 20
      |)""".stripMargin)

  /** events with epoch-ms (mirror of Tables.events ts_ms). */
  val eventsNorm: String =
    """events_norm AS (
      |  SELECT event_id, user_id, event_type, value,
      |    epoch_ms(ts) AS ts_ms
      |  FROM events
      |)""".stripMargin

  /** media_assets (mirror of Tables.mediaAssets; payload as hex twin). */
  val mediaAssets: String =
    """media_assets AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS media_type,
      |    md5(text) || md5(text || '#1') || md5(text || '#2') || md5(text || '#3') AS payload_hex,
      |    CAST(16 + doc_id % 64 AS INT) AS width,
      |    CAST(16 + doc_id % 48 AS INT) AS height,
      |    source
      |  FROM documents
      |)""".stripMargin

  // ---- cluster-health mirrors (datanodes / pipelines / deleted dirs) ----

  /** datanodes (mirror of Tables.datanodes). */
  /** QCS stuck-replica rows (mirror of ClusterHealth.qcsBase): %119
    * stuck subset, per-dn BCSIDs, moved-copy origins, node classes. */
  val qcsRows: String =
    """qcs_rows AS (
      |  SELECT r.container_id, r.datanode, r.replica_state,
      |    r.container_id * 100 +
      |      CAST(substr(r.datanode, 3, 10) AS BIGINT) AS seq,
      |    CASE WHEN r.container_id % 3 = 0
      |        THEN min(r.datanode) OVER w
      |      WHEN r.datanode = max(r.datanode) OVER w
      |        THEN min(r.datanode) OVER w
      |      ELSE r.datanode END AS origin,
      |    r.replica_state <> 'UNHEALTHY' AS healthy,
      |    d.op_state = 'IN_SERVICE' AS in_service,
      |    d.op_state IN ('IN_MAINTENANCE', 'ENTERING_MAINTENANCE')
      |      AS maint,
      |    d.state AS node_state
      |  FROM replicas r
      |  JOIN containers_scm c ON c.container_id = r.container_id
      |    AND c.state <> 'DELETED' AND c.container_id % 119 = 0
      |  JOIN datanodes d ON d.uuid = r.datanode
      |  WINDOW w AS (PARTITION BY r.container_id))""".stripMargin

  /** Per-(container, origin) QCS accounting over a rows CTE (mirror of
    * ClusterHealth.qcsPerOrigin with best=2/other=1/minMaint=2). */
  def qcsPerOriginSql(cteName: String, src: String): String =
    s"""$cteName AS (
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
       |      SELECT container_id, origin, count(*) AS n_replicas,
       |        sum(CASE WHEN in_service THEN 1 ELSE 0 END)
       |          AS n_in_service,
       |        sum(CASE WHEN maint THEN 1 ELSE 0 END) AS n_maintenance,
       |        max(CASE WHEN healthy AND seq = max_healthy_seq
       |          THEN 1 ELSE 0 END) = 1 AS is_best,
       |        count(*) OVER (PARTITION BY container_id)
       |          AS n_origins_pre
       |      FROM (
       |        SELECT *, max(CASE WHEN healthy THEN seq END)
       |          OVER (PARTITION BY container_id) AS max_healthy_seq
       |        FROM $src)
       |      GROUP BY container_id, origin)))""".stripMargin

  /** Shared replication-repair container spine (mirror of
    * ClusterHealth.urpContainers). */
  val urpCont: String =
    """urp_cont AS (
      |  SELECT r AS container_id,
      |    CASE WHEN r % 53 = 0 OR r % 58 = 0 OR r % 119 = 0
      |      THEN 'QUASI_CLOSED' ELSE 'CLOSED' END AS container_state,
      |    3 AS replication_factor, r * 100 AS c_seq,
      |    CASE WHEN r % 188 = 0 THEN 'EC' ELSE 'RATIS' END AS repl_type
      |  FROM range(1000) t(r) WHERE r % 97 <> 0)""".stripMargin

  /** Shared replication-repair replica synthesis (mirror of
    * ClusterHealth.urpReplicas), parameterized by the CTE name and the
    * container-spine CTE it draws from. */
  def urpRepsSql(cteName: String, contCte: String): String =
    s"""$cteName AS (
       |  SELECT u.*, 'dn' || u.dn_num AS datanode,
       |    CASE WHEN u.container_id % 59 = 0 THEN 'UNHEALTHY'
       |      WHEN u.container_id % 29 = 0 AND u.r = 1 THEN 'UNHEALTHY'
       |      WHEN u.container_id % 67 = 0 OR u.container_id % 106 = 0
       |        THEN 'CLOSING'
       |      WHEN u.container_state = 'QUASI_CLOSED'
       |        THEN 'QUASI_CLOSED'
       |      ELSE 'CLOSED' END AS replica_state,
       |    u.c_seq - CASE WHEN (u.r = 0 AND u.container_id % 43 = 0)
       |      OR u.container_id % 94 = 0 THEN 1 ELSE 0 END
       |      + CASE WHEN u.r = 1 AND u.container_id % 212 = 0
       |        THEN 2 ELSE 0 END AS seq,
       |    (u.container_id % 53 = 0 OR u.container_id % 47 = 0)
       |      AS is_empty,
       |    'dn' || ((u.container_id + u.r) % 20) AS origin,
       |    d.state AS node_state, d.op_state
       |  FROM (
       |    SELECT c.*, r.r,
       |      (c.container_id + CASE WHEN c.container_id % 23 = 0
       |        THEN r.r * 5 ELSE r.r END) % 20 AS dn_num
       |    FROM $contCte c CROSS JOIN range(4) r(r)
       |    WHERE ((r.r <= 2 AND NOT (c.container_id % 13 = 0
       |        AND r.r = 2))
       |       OR (r.r = 3 AND c.container_id % 17 = 0))
       |      AND c.container_id % 61 <> 0
       |      AND c.container_id % 89 <> 0) u
       |  JOIN datanodes d ON d.uuid = 'dn' || u.dn_num)""".stripMargin

  val urpReps: String = urpRepsSql("urp_rep2", "urp_cont")

  val datanodes: String =
    """datanodes AS (
      |  SELECT uuid, hostname, rack, state, op_state, last_heartbeat_ms,
      |    capacity, used,
      |    capacity - used - capacity // 100 * 5 AS remaining,
      |    used // 10 AS committed
      |  FROM (
      |    SELECT 'dn' || i AS uuid,
      |      'host' || i || '.rack' || (i % 5) AS hostname,
      |      'rack' || (i % 5) AS rack,
      |      CASE WHEN i % 7 = 3 THEN 'STALE'
      |           WHEN i % 7 = 6 THEN 'DEAD' ELSE 'HEALTHY' END AS state,
      |      CASE WHEN i % 6 = 2 THEN 'DECOMMISSIONING'
      |           WHEN i % 6 = 5 THEN 'IN_MAINTENANCE'
      |           ELSE 'IN_SERVICE' END AS op_state,
      |      1700000000000 - i * 45000 AS last_heartbeat_ms,
      |      capacity,
      |      capacity // 100 * ((i * 37) % 80 + 5) AS used
      |    FROM (
      |      SELECT i, (i % 4 + 1) * 1000000000000 AS capacity
      |      FROM range(20) t(i)))
      |)""".stripMargin

  /** pipelines (mirror of Tables.pipelines). */
  val pipelines: String =
    """pipelines AS (
      |  SELECT 'pipeline-' || p AS pipeline_id,
      |    CASE WHEN p % 3 = 0 THEN 'RATIS/THREE'
      |         WHEN p % 3 = 1 THEN 'RATIS/ONE'
      |         ELSE 'EC/rs-3-2-1024k' END AS replication,
      |    CAST(CASE WHEN p % 3 = 0 THEN 3 WHEN p % 3 = 1 THEN 1
      |         ELSE 5 END AS INT) AS num_datanodes,
      |    CASE WHEN p % 5 = 4 THEN 'DORMANT'
      |         WHEN p % 5 = 2 THEN 'CLOSED' ELSE 'OPEN' END AS state,
      |    CASE WHEN p % 3 <> 2 THEN 'dn' || (p % 20) END AS leader_node,
      |    1700000000000 - p * 60000 AS last_leader_election_ms,
      |    p % 4 AS leader_elections,
      |    p AS pipeline_idx
      |  FROM range(12) t(p)
      |)""".stripMargin

  /** pipeline_members (mirror of Tables.pipelineMembers). */
  val pipelineMembers: String =
    """pipeline_members AS (
      |  SELECT pipeline_id, 'dn' || ((pipeline_idx + k * 7) % 20) AS datanode
      |  FROM pipelines CROSS JOIN range(5) r(k)
      |  WHERE k < num_datanodes
      |)""".stripMargin

  /** deleted_dirs (mirror of Tables.deletedDirs). */
  /** Mirror of Tables.sstNamespaceFiles: 500-key chunks of the sorted
    * distinct dbKey space, every 7th file at level 0. */
  val sstNamespaceFiles: String =
    """sst_ns AS (
      |  SELECT printf('ns-%05d', file_id) AS file,
      |    CASE WHEN file_id % 7 = 0 THEN 0 ELSE 3 END AS level,
      |    smallest_key, largest_key, n_keys
      |  FROM (
      |    SELECT file_id, min(db_key) AS smallest_key,
      |      max(db_key) AS largest_key, count(*) AS n_keys
      |    FROM (
      |      SELECT db_key,
      |        (row_number() OVER (ORDER BY db_key) - 1) // 500 AS file_id
      |      FROM (
      |        SELECT DISTINCT '/' || volume || '/' || bucket || '/' || key AS db_key
      |        FROM objects))
      |    GROUP BY file_id)
      |)""".stripMargin

  val deletedDirs: String =
    """deleted_dirs AS (
      |  SELECT volume, bucket, dir,
      |    1700000000000 + (h % 1000) * 1000 AS deleted_ms
      |  FROM (
      |    SELECT volume, bucket, dir,
      |      ('0x' || substr(md5(dir), 1, 15))::BIGINT AS h
      |    FROM (
      |      SELECT DISTINCT volume, bucket,
      |        substr(key, 1, length(key)
      |          - length(string_split(key, '/')[-1]) - 1) AS dir
      |      FROM objects_mixed))
      |  WHERE dir <> '' AND h % 23 = 0
      |)""".stripMargin

  /** Mirror of Tables.copyRequests. */
  val copyRequests: String =
    """copy_requests AS (
      |  SELECT DISTINCT volume, bucket,
      |    CASE WHEN cls = 1 THEN key || '.nope' ELSE key END AS src_key,
      |    CASE cls WHEN 0 THEN key || '.copy'
      |             WHEN 1 THEN key || '.copied'
      |             ELSE key END AS dst_key,
      |    CASE WHEN cls = 3 THEN 'REDUCED_REDUNDANCY' END AS storage_class
      |  FROM (SELECT *, (object_id // 101) % 4 AS cls FROM objects
      |        WHERE version = 1 AND object_id % 101 = 0)
      |)""".stripMargin

  /** Mirror of Tables.deleteRequests. */
  val deleteRequests: String =
    """delete_requests AS (
      |  SELECT DISTINCT volume, bucket,
      |    CASE WHEN cls = 1 THEN key || '.ghost' ELSE key END AS key,
      |    CASE WHEN cls = 2 THEN 'intruder'
      |         ELSE 'admin' || substr(volume, 4, 10) END AS expected_owner
      |  FROM (SELECT *, (object_id // 97) % 3 AS cls FROM objects
      |        WHERE version = 1 AND object_id % 97 = 0)
      |)""".stripMargin

  /** Mirror of Tables.ecShards. */
  val ecShards: String =
    """ec_shards AS (
      |  SELECT container_id, idx AS replica_index,
      |    'dn' || dn AS datanode,
      |    CASE WHEN container_id % 29 = 0 AND idx = 1 THEN 'UNHEALTHY'
      |         ELSE 'CLOSED' END AS shard_state
      |  FROM (
      |    SELECT c.container_id, i.idx,
      |      (c.container_id + i.idx * 7) % 20 AS dn
      |    FROM containers_scm c CROSS JOIN range(1, 6) i(idx)
      |    WHERE c.state <> 'DELETED' AND (c.container_id % 12) % 3 = 2
      |      AND NOT (c.container_id % 31 = 0 AND i.idx = 2)
      |      AND NOT (c.container_id % 37 = 0 AND i.idx IN (2, 4, 5))
      |    UNION ALL
      |    SELECT container_id, 3 AS idx,
      |      (container_id + 3 * 7 + 3) % 20 AS dn
      |    FROM containers_scm
      |    WHERE state <> 'DELETED' AND (container_id % 12) % 3 = 2
      |      AND container_id % 41 = 0)
      |)""".stripMargin

  /** Mirror of Tables.renameRequests. */
  val renameRequests: String =
    """rename_requests AS (
      |  SELECT DISTINCT volume, bucket,
      |    CASE WHEN cls IN (1, 4) THEN key || '.ghost' ELSE key END
      |      AS from_key,
      |    CASE cls WHEN 0 THEN key || '.renamed'
      |             WHEN 1 THEN key || '.r1'
      |             WHEN 3 THEN ''
      |             WHEN 2 THEN key
      |             ELSE regexp_replace(key, '[0-9]+\.dat$', '1.dat') END
      |      AS to_key
      |  FROM (SELECT *, (object_id // 109) % 5 AS cls FROM objects
      |        WHERE object_id % 109 = 0)
      |)""".stripMargin

  /** Mirror of Tables.ofsRequests. */
  val ofsRequests: String =
    values("ofs_root", Tables.ofsRootRows) + ",\n" +
    """ofs_requests AS (
      |  SELECT DISTINCT path, username FROM (
      |    SELECT CASE cls
      |        WHEN 0 THEN '/' || volume
      |        WHEN 1 THEN '/' || volume || '/' || bucket
      |        WHEN 2 THEN '/' || volume || '/' || bucket || '/' || key
      |        WHEN 3 THEN '/' || volume || '//' || bucket || '/' || key
      |        WHEN 4 THEN '/tmp/' || key
      |        ELSE '/' || volume || '/' || bucket || '/' ||
      |          array_to_string(list_slice(string_split(key, '/'), 1, 3),
      |            '/') || '/'
      |      END AS path, owner AS username
      |    FROM (
      |      SELECT volume, bucket, key, owner,
      |        (object_id // 103) % 6 AS cls
      |      FROM objects WHERE object_id % 103 = 0)
      |    UNION ALL SELECT * FROM ofs_root)
      |)""".stripMargin

  /** Mirror of Tables.aclOps — the 13-row op template joined onto the
    * sampled keys. */
  val aclOpsCte: String =
    values("acl_op_template", Tables.aclOpTemplateRows) + ",\n" +
    """acl_ops AS (
      |  SELECT o.volume, o.bucket, o.key, t.seq, t.op, t.ptype, t.pname,
      |    'ACCESS' AS scope, t.bits
      |  FROM (
      |    SELECT DISTINCT volume, bucket, key,
      |      (object_id // 101) % 5 AS variant
      |    FROM objects WHERE object_id % 101 = 0) o
      |  JOIN acl_op_template t ON o.variant = t.variant
      |)""".stripMargin

  /** Mirror of Tables.sstCatalog — the SST universe of the compaction-DAG
    * differ (three-level history + static terminal-branch rows). */
  val sstCatalog: String =
    values("sst_static", Tables.sstStaticRows) + ",\n" +
    """sst_catalog AS (
      |  SELECT 'f' || i AS file, 3*i AS created_gen,
      |    CASE WHEN i < 1000 THEN 2000 + 10*(i // 4) END AS consumed_gen,
      |    lpad(CAST(i AS VARCHAR), 6, '0') AS start_key,
      |    lpad(CAST(i AS VARCHAR), 6, '0') AS end_key
      |  FROM range(1200) t(i)
      |  UNION ALL
      |  SELECT 'l1-' || k, 2000 + 10*k,
      |    CASE WHEN k < 200 THEN 3000 + 40*(k // 4) END,
      |    lpad(CAST(4*k AS VARCHAR), 6, '0'),
      |    lpad(CAST(4*k+3 AS VARCHAR), 6, '0')
      |  FROM range(250) t(k)
      |  UNION ALL
      |  SELECT 'l2-' || j, 3000 + 40*j, NULL,
      |    lpad(CAST(16*j AS VARCHAR), 6, '0'),
      |    lpad(CAST(16*j+15 AS VARCHAR), 6, '0')
      |  FROM range(50) t(j)
      |  UNION ALL SELECT * FROM sst_static
      |)""".stripMargin

  /** Mirror of Tables.sstEdges (compaction log, output → input). */
  val sstEdges: String =
    values("sst_static_edges", Tables.sstStaticEdgeRows) + ",\n" +
    """sst_edges AS (
      |  SELECT 'l1-' || k AS output_file, 'f' || (4*k + m) AS input_file,
      |    2000 + 10*k AS seq
      |  FROM range(250) t(k), range(4) u(m)
      |  UNION ALL
      |  SELECT 'l2-' || j, 'l1-' || (4*j + m), 3000 + 40*j
      |  FROM range(50) t(j), range(4) u(m)
      |  UNION ALL SELECT * FROM sst_static_edges
      |)""".stripMargin

  /** DuckDB twin of ClusterHealth.rrStep (round-robin volume choice):
    * the packed-state step over "nextIdx#vol:av:com|..." states,
    * parametrized over the state/event variable names. DuckDB's
    * lambda index is 1-based (Spark's is 0-based) and
    * array_to_string of an empty list is NULL (coalesced). */
  def rrVolStep(s: String, e: String): String = {
    val ent = s"list_filter(string_split(string_split($s, '#')[2], " +
      s"'|'), x -> x <> '')"
    val n = s"len($ent)"
    val nextIdx = s"CAST(string_split($s, '#')[1] AS INT)"
    val start = s"(CASE WHEN $nextIdx < $n THEN $nextIdx ELSE 0 END)"
    val sz = s"CAST(string_split($e, ':')[2] AS BIGINT)"
    val minrot = rrVolMinrot(s, e)
    val istar = s"(($minrot) + $start) % $n"
    s"""CASE string_split($e, ':')[1]
       |WHEN 'ADD' THEN string_split($s, '#')[1] || '#' ||
       |  coalesce(array_to_string(list_concat($ent,
       |    [string_split($e, ':')[2] || ':' ||
       |     string_split($e, ':')[3] || ':0']), '|'), '')
       |WHEN 'REMOVE' THEN string_split($s, '#')[1] || '#' ||
       |  coalesce(array_to_string(list_filter($ent,
       |    x -> string_split(x, ':')[1] <> string_split($e, ':')[2]),
       |    '|'), '')
       |ELSE CASE
       |  WHEN $n = 0 THEN $s
       |  WHEN $minrot IS NULL THEN $s
       |  ELSE CAST((($istar) + 1) % $n AS VARCHAR) || '#' ||
       |    coalesce(array_to_string(list_transform($ent, (x, i) ->
       |      CASE WHEN i - 1 = $istar
       |      THEN string_split(x, ':')[1] || ':' ||
       |        string_split(x, ':')[2] || ':' ||
       |        CAST(CAST(string_split(x, ':')[3] AS BIGINT) + $sz
       |          AS VARCHAR)
       |      ELSE x END), '|'), '')
       |  END
       |END""".stripMargin
  }

  /** The first-with-space rotation distance for [[rrVolStep]]. */
  def rrVolMinrot(s: String, e: String): String = {
    val ent = s"list_filter(string_split(string_split($s, '#')[2], " +
      s"'|'), x -> x <> '')"
    val n = s"len($ent)"
    val nextIdx = s"CAST(string_split($s, '#')[1] AS INT)"
    val start = s"(CASE WHEN $nextIdx < $n THEN $nextIdx ELSE 0 END)"
    val sz = s"CAST(string_split($e, ':')[2] AS BIGINT)"
    s"""list_min(list_filter(list_transform($ent, (x, i) ->
       |  CASE WHEN CAST(string_split(x, ':')[2] AS BIGINT) -
       |    CAST(string_split(x, ':')[3] AS BIGINT) >= $sz
       |  THEN (i - 1 - $start + $n) % $n END),
       |  y -> y IS NOT NULL))""".stripMargin
  }

  /** Mirror of [[Tables.bucketTagRequests]] as `bt_reqs`: one request
    * per catalog bucket plus the rendered probe rows. */
  val bucketTagRequests: String =
    values("bt_probes", Tables.bucketTagProbeRows) + ",\n" +
    """bt_reqs AS (
      |  SELECT CAST(substr(volume, 4, 10) AS BIGINT) * 100 +
      |      CAST(substr(bucket, 7, 10) AS BIGINT) AS req_id,
      |    (CAST(substr(volume, 4, 10) AS BIGINT) +
      |      CAST(substr(bucket, 7, 10) AS BIGINT)) % 6 AS cls,
      |    volume, bucket
      |  FROM buckets
      |  UNION ALL SELECT * FROM bt_probes)""".stripMargin

  /** Per-(key, version) write groups of the commit-log synthesis: the
    * max size per group plus the churn-scope flag (orderkey band
    * `(object_id // 10) % 10 = 0`) the snapshot plane keys off. */
  val writeGroups: String =
    """wgrp AS (
      |  SELECT volume, bucket, key, object_id, version,
      |    (object_id // 10) % 10 = 0 AS churn, max(data_size) AS mx
      |  FROM objects GROUP BY 1, 2, 3, 4, 5, 6
      |)""".stripMargin

  /** Every directory path the FSO namespace implies: each proper
    * '/'-prefix of every key, per bucket. */
  val fsoDirs: String =
    """fso_dirs AS (
      |  SELECT DISTINCT volume, bucket,
      |    array_to_string(ws[1:d], '/') AS path
      |  FROM (
      |    SELECT volume, bucket, string_split(key, '/') AS ws,
      |      unnest(generate_series(1,
      |        len(string_split(key, '/')) - 1)) AS d
      |    FROM objects))""".stripMargin

  /** Mirror of [[Tables.tenantAccessCatalog]] as `t_access_cat`: one
    * access id per (volume, owner), clerk0 the tenant admin, plus the
    * rendered [[Tables.tenantAccessProbeRows]]. */
  val tenantAccessCat: String =
    values("t_access_probe", Tables.tenantAccessProbeRows) + ",\n" +
    """t_access_cat AS (
      |  SELECT 'tenant' || substr(volume, 4, 10) AS tenant_id,
      |    owner AS user_principal,
      |    'tenant' || substr(volume, 4, 10) || '$' || owner AS access_id,
      |    owner = 'clerk0' AS is_admin
      |  FROM (SELECT DISTINCT volume, owner FROM objects)
      |  UNION ALL SELECT * FROM t_access_probe)""".stripMargin

  /** Link resolution of the static [[Tables.bucketLinks]] catalog,
    * derived by hand from the chase semantics (a constant the oracle
    * defines, not a rendering of engine output): direct and 2-hop links
    * land on vol0/bucket0, the dangling link keeps its missing target, a
    * 2-cycle resolves to itself. */
  val linkres: String =
    """linkres(volume, bucket, rv0, rb0, status) AS (VALUES
      |  ('vol1', 'link-a', 'vol0', 'bucket0', 'OK'),
      |  ('vol2', 'link-b', 'vol0', 'bucket0', 'OK'),
      |  ('vol3', 'link-broken', 'vol0', 'no-such-bucket', 'DANGLING'),
      |  ('vol0', 'link-cycle1', 'vol0', 'link-cycle1', 'CYCLE'),
      |  ('vol0', 'link-cycle2', 'vol0', 'link-cycle2', 'CYCLE'))"""
      .stripMargin

  /** The OM snapshot-name rule as a DuckDB predicate, TRUE when `c` is
    * NOT a valid name: 3-63 chars of [a-z0-9.-], no '..', '-.' or '.-',
    * not digits-and-dots only, no leading or trailing '.' or '-'. */
  def invalidSnapshotName(c: String): String =
    s"""NOT (length($c) BETWEEN 3 AND 63
       |      AND regexp_matches($c, '^[a-z0-9.-]+$$')
       |      AND instr($c, '..') = 0
       |      AND instr($c, '-.') = 0
       |      AND instr($c, '.-') = 0
       |      AND NOT regexp_matches($c, '^[0-9.]+$$')
       |      AND substr($c, 1, 1) NOT IN ('.', '-')
       |      AND substr($c, length($c), 1)
       |        NOT IN ('.', '-'))""".stripMargin

  /** Mirror of [[Tables.snapshotCatalogExt]] (or, with `live`,
    * [[Tables.snapshotCatalogLive]]) as CTE `name`: the chain catalog
    * marked SNAPSHOT_ACTIVE plus the status-carrying extra rows, all
    * rendered from the Tables fixtures. */
  def snapshotCatalog(name: String, live: Boolean): String = {
    val extra = Tables.snapshotGoneRows +:
      (if (live) Seq(Tables.snapshotLiveRows) else Nil)
    val parts = values(s"${name}_chain", Tables.snapshotCatalogRows) +:
      extra.zipWithIndex.map { case (f, i) => values(s"${name}_x$i", f) }
    val union = extra.indices
      .map(i => s"\n  UNION ALL SELECT * FROM ${name}_x$i").mkString
    (parts :+ s"$name AS (\n  SELECT *, 'SNAPSHOT_ACTIVE' AS status " +
      s"FROM ${name}_chain$union)").mkString(",\n")
  }

  /** `name(cols) AS (VALUES …)` over a [[Fixture]]'s rows — the oracle's
    * copy of a literal table, rendered from its one declaration in
    * [[Tables]]. Column names are double-quoted (a fixture may name a
    * column `exists`); Long → `CAST(… AS BIGINT)` (Spark's LongType),
    * Double → `CAST(… AS DOUBLE)`, Int bare, Boolean `true`/`false`,
    * String quoted with `'` doubled, null and None → `NULL`. */
  def values(name: String, f: Fixture[_]): String = {
    def lit(v: Any): String = v match {
      case null | None => "NULL"
      case Some(x) => lit(x)
      case s: String => "'" + s.replace("'", "''") + "'"
      case b: Boolean => b.toString
      case l: Long => s"CAST($l AS BIGINT)"
      case i: Int => i.toString
      case d: Double => s"CAST($d AS DOUBLE)"
      case x => throw new IllegalArgumentException(
        s"$name: no DuckDB literal for ${x.getClass.getName}")
    }
    val rows = f.rows.map {
      case p: Product => p.productIterator.map(lit).mkString("(", ", ", ")")
      case v => s"(${lit(v)})"
    }
    val cols = f.cols.map(c => "\"" + c + "\"").mkString(", ")
    s"$name($cols) AS (VALUES\n  " + rows.mkString(",\n  ") + ")"
  }

  /** Compose a query over a chain of CTEs (dependencies first). */
  def withCtes(sql: String, ctes: String*): String =
    "WITH " + ctes.mkString(",\n") + "\n" + sql

  /** Same, with RECURSIVE — needed when any CTE in the chain references
    * itself (DuckDB allows non-recursive CTEs to coexist in the chain). */
  def withCtesRecursive(sql: String, ctes: String*): String =
    "WITH RECURSIVE " + ctes.mkString(",\n") + "\n" + sql
}
