package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Operators over the nested key shape (apache/ozone OmKeyInfo.java:72-113:
 * MAP tags, ARRAY<STRUCT> acls, ARRAY<STRUCT> block locations) — the type
 * checklist of SURVEY §1.2 exercised for real: map subscript, array-lambda
 * predicates, and a generator explode of the location list
 * (KeyManagerImpl block resolution shape).
 *
 * Scale design: map/array access and `exists()` lambdas are codegen'd
 * per-row expressions (no shuffle); the location explode is a Generator —
 * output rows ∝ blocks, parallel per input partition; the ACL probe is a
 * broadcast LEFT SEMI join (principal sets are tiny).
 */
object Nested {

  /** Lifecycle tag-rule filter via real map access (tags['flag']) — the
    * MapType dual of the flat tag_flag rule in [[Lifecycle]]. */
  def tagRuleExpiry(objectsNested: DataFrame, flagValue: String,
                    beforeMs: Long): DataFrame =
    objectsNested
      .filter(col("tags")("flag") === flagValue &&
        col("modification_time") < beforeMs)
      .select("volume", "bucket", "key", "data_size", "modification_time")
      .orderBy("volume", "bucket", "key", "data_size", "modification_time")

  /**
   * Principal-accurate ACL probe: (key, principal) pairs where the
   * requesting principal holds READ through a USER acl entry matching its
   * OWN name — the checkAccess resolution of the reference
   * (hadoop-ozone/common/.../OzoneAclUtil.java: each entry matched on
   * name + type + rights), not an owner shortcut. The principal set is
   * broadcast; the acl match is an exists() lambda over the nested array
   * evaluated inside the (codegen'd) join condition — the key table never
   * shuffles.
   */
  def aclProbe(objectsNested: DataFrame, principals: DataFrame): DataFrame =
    objectsNested.join(broadcast(principals),
        exists(col("acls"), a =>
          a("type") === "USER" && a("name") === col("principal") &&
            a("rights").contains("r")))
      .select("volume", "bucket", "key", "principal")
      .orderBy("volume", "bucket", "key", "principal")

  /**
   * ACL probe WITH prefix ACLs (ref OMDBDefinition.java:186-191 prefixTable;
   * prefix entries evaluated on path resolve): a principal reads a key when
   * its object ACL grants READ, or — failing that — when the LONGEST
   * matching prefix ACL for that principal grants READ (a shorter matching
   * prefix that denies is overridden by a longer one that grants, and vice
   * versa). Output rows carry `granted_via` ∈ {OBJECT, PREFIX}.
   *
   * Scale design: the principal's prefix rules collapse to ONE array per
   * (volume, bucket) and broadcast; the longest-match pick is a per-row
   * array_sort+filter lambda over that tiny array — the key table never
   * shuffles and no window function is needed (windows can't distinguish
   * the namespace's legitimately duplicate rows).
   */
  def prefixAclProbe(objectsNested: DataFrame, prefixAcls: DataFrame,
                     principal: String): DataFrame = {
    val rules = prefixAcls
      .filter(col("name") === principal && col("type") === "USER")
      .groupBy(col("volume").as("pv"), col("bucket").as("pb"))
      .agg(collect_list(struct(col("prefix"), col("rights"))).as("rules"))
    objectsNested
      .join(broadcast(rules),
        col("volume") === col("pv") && col("bucket") === col("pb"), "left")
      .withColumn("object_grant",
        exists(col("acls"), a =>
          a("type") === "USER" && a("name") === principal &&
            a("rights").contains("r")))
      // longest matching prefix rule, if any (ties impossible: equal-length
      // prefixes for one principal in one bucket are the same string)
      // try_element_at: NULL (not an ANSI error) when no rule matches
      .withColumn("best_rule", expr(
        """try_element_at(
             array_sort(
               filter(rules, r -> startswith(key, r.prefix)),
               (a, b) -> CASE WHEN length(a.prefix) > length(b.prefix) THEN -1
                              WHEN length(a.prefix) < length(b.prefix) THEN 1
                              ELSE 0 END),
             1)"""))
      .withColumn("prefix_grant",
        coalesce(col("best_rule.rights").contains("r"), lit(false)))
      .withColumn("granted_via",
        when(col("object_grant"), lit("OBJECT"))
          .when(col("prefix_grant"), lit("PREFIX")))
      .filter(col("granted_via").isNotNull)
      .select(col("volume"), col("bucket"), col("key"),
        lit(principal).as("principal"), col("granted_via"))
      .orderBy("volume", "bucket", "key", "granted_via")
  }

  /**
   * Fold the ACL write-request log to final per-principal rights — the
   * SetAcl/AddAcl/RemoveAcl apply path (OzoneAclUtil.java:203-258 via the
   * OMKey*AclRequest family): entries are keyed by (name, type, scope);
   * ADD unions the rights set, REMOVE subtracts it (dropping the entry
   * when empty), SET replaces the key's whole list. The fold is bit-level
   * latest-op-wins: ops before the key's last SET are void (the SET's own
   * grants carry its seq), each surviving (principal, right-bit) event
   * stream resolves to whichever grant/revoke came last, and surviving
   * bits sum back into the rights mask — no ordered iteration, just two
   * hash aggregations.
   *
   * Scale shape: the log shuffles once on (key, principal, bit) — the
   * 8-way bit explode only on mask bits actually set; the re-mask agg
   * reuses the same partitioning prefix. last-SET seqs join in as a
   * broadcast (SET requests are rare next to add/remove churn).
   */
  def applyAclOps(aclOps: DataFrame): DataFrame = {
    val keyCols = Seq("volume", "bucket", "key")
    val lastSet = aclOps.filter(col("op") === "SET")
      .groupBy(keyCols.map(col): _*).agg(max("seq").as("set_seq"))
    aclOps
      .join(broadcast(lastSet), keyCols, "left")
      .filter(col("seq") >= coalesce(col("set_seq"), lit(0L)))
      .withColumn("bit", explode(expr(
        "filter(sequence(0, 7), b -> (shiftright(bits, b) % 2) = 1)")))
      .groupBy(col("volume"), col("bucket"), col("key"), col("ptype"),
        col("pname"), col("scope"), col("bit"))
      .agg(max_by(col("op"), col("seq")).as("last_op"))
      .filter(col("last_op") =!= "REMOVE")
      .groupBy("volume", "bucket", "key", "ptype", "pname", "scope")
      .agg(sum(expr("shiftleft(1, bit)")).as("rights_mask"))
      .orderBy("volume", "bucket", "key", "ptype", "pname", "scope")
  }

  /**
   * Prefix-ACL write ladder (OMPrefixAclRequest.validateAndUpdateCache
   * :54-123 + PrefixManagerImpl.validateOzoneObj:207-230): the prefix
   * path must end with '/' → INVALID_PATH_IN_ACL_REQUEST (:227-229,
   * thrown before any table work); AddAcl/SetAcl create the prefixTable
   * entry if absent; RemoveAcl on an ABSENT entry → PREFIX_NOT_FOUND
   * (:110-113) — and "absent" is STATEFUL: a remove that empties the
   * acl list DELETES the entry (:116-121), so a later remove on the same
   * prefix refuses. SetAcl replaces the entry's whole list (the
   * boundary voids every earlier grant on the prefix).
   *
   * Existence before op k is computed exactly: events = stored entries
   * (seq 0) ∪ valid ops, exploded per right-bit; an entry exists iff
   * some (principal, bit) whose latest event in [lastSET, k) is a grant.
   *
   * Scale shape: ops and the prefix table are control-plane-sized; the
   * op×event join is within-prefix over a protocol-sized batch.
   */
  def prefixAclOpsDecisions(ops: DataFrame,
                            storedBits: DataFrame): DataFrame = {
    val pCols = Seq("volume", "bucket", "prefix")
    val valid = ops.filter(col("prefix").endsWith("/"))
    val events = valid
      .select(col("volume"), col("bucket"), col("prefix"), col("seq"),
        col("op"), col("pname"), col("bits"))
      .unionByName(storedBits
        .select(col("volume"), col("bucket"), col("prefix"),
          lit(0L).as("seq"), lit("ADD").as("op"), col("name").as("pname"),
          col("bits")))
      .withColumn("bit", explode(expr(
        "filter(sequence(0, 7), b -> (shiftright(bits, b) % 2) = 1)")))
    val opsK = ops.select(pCols.map(col) :+ col("seq").as("k"): _*)
    val bounds = opsK
      .join(events.filter(col("op") === "SET")
        .select(pCols.map(col) :+ col("seq").as("set_seq"): _*).distinct(),
        pCols, "left")
      .filter(col("set_seq") < col("k"))
      .groupBy(pCols.map(col) :+ col("k"): _*)
      .agg(max("set_seq").as("boundary"))
    val onBits = opsK
      .join(broadcast(bounds), pCols :+ "k", "left")
      .withColumn("boundary", coalesce(col("boundary"), lit(0L)))
      .join(events, pCols)
      .filter(col("seq") < col("k") && col("seq") >= col("boundary"))
      .groupBy(col("volume"), col("bucket"), col("prefix"), col("k"),
        col("pname"), col("bit"))
      .agg(max_by(col("op"), col("seq")).as("last_op"))
      .filter(col("last_op") =!= "REMOVE")
      .groupBy(pCols.map(col) :+ col("k"): _*)
      .agg(count(lit(1)).as("on_bits"))
    ops
      .join(broadcast(onBits.withColumnRenamed("k", "seq")),
        pCols :+ "seq", "left")
      .select(col("seq"), col("volume"), col("bucket"), col("prefix"),
        col("op"), col("pname"),
        when(!col("prefix").endsWith("/"),
          lit("INVALID_PATH_IN_ACL_REQUEST"))
          .when(col("op") === "REMOVE" && col("on_bits").isNull,
            lit("PREFIX_NOT_FOUND"))
          .otherwise(lit("APPLIED")).as("decision"))
      .orderBy("volume", "bucket", "prefix", "seq")
  }

  /** Final prefix-ACL state after the op log: the [[applyAclOps]] bit
    * fold over stored (seq 0) + valid ops; entries whose mask empties
    * disappear (the reference deletes them from prefixTable). */
  def prefixAclFold(ops: DataFrame, storedBits: DataFrame): DataFrame = {
    val events = ops.filter(col("prefix").endsWith("/"))
      .select(col("volume"), col("bucket"), col("prefix").as("key"),
        col("seq"), col("op"), lit("USER").as("ptype"),
        col("pname"), lit("ACCESS").as("scope"), col("bits"))
      .unionByName(storedBits
        .select(col("volume"), col("bucket"), col("prefix").as("key"),
          lit(0L).as("seq"), lit("ADD").as("op"), lit("USER").as("ptype"),
          col("name").as("pname"), lit("ACCESS").as("scope"),
          col("bits")))
    applyAclOps(events)
      .select(col("volume"), col("bucket"), col("key").as("prefix"),
        col("pname"), col("rights_mask"))
      .orderBy("volume", "bucket", "prefix", "pname")
  }

  /** Explode the per-key block location list — one row per block with its
    * byte range (the lookupKey → block-list resolution of the reference). */
  def locationsExplode(objectsNested: DataFrame): DataFrame =
    objectsNested
      .select(col("key"), col("data_size"),
        posexplode(col("locations")).as(Seq("block_idx", "loc")))
      .select(
        col("key"), col("data_size"),
        col("loc.container_id").as("container_id"),
        col("loc.local_id").as("local_id"),
        col("loc.offset").as("offset"),
        col("loc.length").as("length"))
      // per-key block order (the GetKeyInfo contract) is already exact:
      // the explode preserves transform(sequence(...)) offset order and a
      // key's rows never split across partitions. A GLOBAL sort would be a
      // range-shuffle of the exploded (≈7×) frame for presentation only —
      // at 100 TB that shuffle IS the query, so it stays out.
      .sortWithinPartitions("key", "data_size", "offset")

  /**
   * GDPR delete scrub — OmUtils.prepareKeyForDelete (ozone common
   * OmUtils.java:673-694): before a key moves to the deleted table, a key
   * whose metadata carries gdprEnabled parsed TRUE (Boolean.parseBoolean —
   * case-insensitive "true"; anything else, including "yes" or an absent
   * entry, is false) drops the gdprEnabled/secret/algorithm entries AND
   * its file-encryption info, so the delete destroys the only material
   * that can decrypt the data (the GDPR right-to-erasure mechanism);
   * every other metadata entry survives, and the moved record's updateID
   * becomes the delete transaction's index.
   *
   * Scale shape: a codegen'd per-row map_filter projection — no shuffle,
   * no UDF.
   */
  def gdprDeleteScrub(keys: DataFrame, trxnIndex: Long): DataFrame =
    keys
      .withColumn("was_gdpr",
        lower(coalesce(element_at(col("metadata"), "gdprEnabled"),
          lit(""))) === "true")
      .withColumn("scrubbed",
        when(col("was_gdpr"),
          map_filter(col("metadata"), (k, _) =>
            !k.isin("gdprEnabled", "secret", "algorithm")))
          .otherwise(col("metadata")))
      .select(
        col("key_id"),
        col("was_gdpr"),
        concat_ws(",", array_sort(map_keys(col("scrubbed"))))
          .as("kept_meta"),
        (col("has_enc_info") && !col("was_gdpr")).as("enc_kept"),
        lit(trxnIndex).as("new_update_id"))
      .orderBy("key_id")
}
