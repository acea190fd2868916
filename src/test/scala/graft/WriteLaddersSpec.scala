package graft

import graft.core.{Tables => T}
import graft.operators.{Lifecycle, S3Ops, Tenants}
import org.apache.spark.sql.functions._

/**
 * Round-5 write-protocol ladders: PutObjectTagging, lifecycle-config set,
 * MPU commit-part/abort, tenant create/delete/revoke. Each group gets (a)
 * a micro fixture asserting exact branch decisions incl. order probes and
 * (b) where the declared fixture is data-derived, an independent
 * re-derivation of the expected decision for EVERY row at sf0.001.
 */
class WriteLaddersSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("ladder plans are broadcast-shaped: no shuffle joins anywhere") {
    // the scale contract of every write ladder: request batches broadcast
    // into catalog probes — a SortMergeJoin/ShuffledHashJoin would mean a
    // corpus-sized shuffle at 100 TB
    val sf01 = "/root/testdata/sf0.01"
    for (q <- Seq("q_put_object_tagging", "q_fso_rename", "q_fso_mkdir",
      "q_key_commit", "q_bucket_delete", "q_mpu_commit_part",
      "q_create_file")) {
      val df = SparkEntry.queries(q)(spark, sf01)
      df.count() // AQE-final plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), s"$q has a SortMergeJoin")
      assert(!plan.contains("ShuffledHashJoin"),
        s"$q has a ShuffledHashJoin")
    }
  }

  // ---- PutObjectTagging -------------------------------------------------

  test("putObjectTagging: per-tag ladder order on a micro batch") {
    val reqs = Seq(
      (1L, "v", "b", "k1"),  // first failing tag decides: pos2 aws:
      (2L, "v", "b", "k1"),  // within a tag: aws: beats too-long key
      (3L, "v", "b", "k1"),  // error at pos2 beats duplicate at pos3
      (4L, "v", "b", "k1"),  // clean dup → DUPLICATE_KEY
      (5L, "v", "b", "nope"), // valid tags, missing key
      (6L, "v", "nob", "k1")) // valid tags, missing bucket
      .toDF("req_id", "volume", "bucket", "key")
    val entries = Seq(
      (1L, 1, "env", "x"), (1L, 2, "aws:a", "x"), (1L, 3, "", "x"),
      (2L, 1, "aws:" + "k" * 130, "x"),
      (3L, 1, "env", "x"), (3L, 2, "bad#k", "x"), (3L, 3, "env", "x"),
      (4L, 1, "env", "x"), (4L, 2, "ok", "x"), (4L, 3, "env", "y"),
      (5L, 1, "env", "x"),
      (6L, 1, "env", "x"))
      .toDF("req_id", "pos", "tag_key", "tag_value")
    val bkts = Seq(("v", "b")).toDF("volume", "bucket")
    val objs = Seq(("v", "b", "k1")).toDF("volume", "bucket", "key")
    val got = S3Ops.putObjectTagging(reqs, entries, bkts, objs)
      .select("req_id", "decision").as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "AWS_PREFIX",      // pos2 fails before pos3's empty key
      2L -> "AWS_PREFIX",      // prefix check precedes length check
      3L -> "KEY_PATTERN",     // pos2 error beats the pos3 duplicate
      4L -> "DUPLICATE_KEY",
      5L -> "KEY_NOT_FOUND",
      6L -> "BUCKET_NOT_FOUND"))
  }

  test("putObjectTagging: declared fixture re-derived row-by-row") {
    // sf0.01 (not the usual 0.001): the sampled id space must be dense
    // enough for all ten synthesis classes to fire
    val sf = "/root/testdata/sf0.01"
    val got = S3Ops.putObjectTagging(T.tagRequests(spark, sf),
      T.tagEntries(spark, sf), T.buckets(spark, sf), T.objects(spark, sf))
      .as[(Long, String, String, String, Long, String)].collect()
    assert(got.nonEmpty)
    val clsErr = Map(1 -> "EMPTY_KEY", 2 -> "AWS_PREFIX",
      3 -> "KEY_TOO_LONG", 4 -> "VALUE_TOO_LONG", 5 -> "KEY_PATTERN",
      6 -> "VALUE_PATTERN", 7 -> "DUPLICATE_KEY", 8 -> "TOO_MANY_TAGS",
      9 -> "VALUE_MISSING")
    got.foreach { case (reqId, _, bucket, key, n, decision) =>
      val cls = ((reqId / 1010) % 10).toInt
      val expected = clsErr.getOrElse(cls,
        if (bucket == "no-such-bucket") "BUCKET_NOT_FOUND"
        else if (key.endsWith(".nope")) "KEY_NOT_FOUND"
        else "APPLIED")
      assert(decision === expected, s"req $reqId cls $cls n=$n")
    }
    // every ladder class fires somewhere in the fixture
    assert(got.map(_._6).toSet ===
      (clsErr.values.toSet ++ Set("BUCKET_NOT_FOUND", "KEY_NOT_FOUND",
        "APPLIED")))
  }

  test("putBucketTagging: the 50-tag bucket cap, boundary exact") {
    val reqs = Seq((1L, "v", "b"), (2L, "v", "b"))
      .toDF("req_id", "volume", "bucket")
    val entries = ((1 to 50).map(p => (1L, p, s"k$p", "v")) ++
      (1 to 51).map(p => (2L, p, s"k$p", "v")))
      .toDF("req_id", "pos", "tag_key", "tag_value")
    val bkts = Seq(("v", "b")).toDF("volume", "bucket")
    val got = S3Ops.putBucketTagging(reqs, entries, bkts)
      .select("req_id", "decision").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "APPLIED", 2L -> "TOO_MANY_TAGS"))
  }

  test("setTimesDecisions: keep-on-minus-one reports the stored mtime") {
    val objs = Seq(("v", "b", "k", 111L), ("v", "b", "k", 222L))
      .toDF("volume", "bucket", "key", "modification_time")
    val bkts = Seq(("v", "b")).toDF("volume", "bucket")
    val reqs = Seq(
      (1L, "v", "b", "k", 999L), (2L, "v", "b", "k", -1L),
      (3L, "v", "b", "k", -5L), (4L, "v", "b", "ghost", 999L))
      .toDF("req_id", "volume", "bucket", "key", "mtime")
    val got = Lifecycle.setTimesDecisions(reqs, objs, bkts)
      .select("req_id", "decision", "effective_mtime")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> (("SET", 999L)),
      2L -> (("KEPT", 222L)),   // latest stored mtime wins
      3L -> (("INVALID_REQUEST", -1L)),
      4L -> (("KEY_NOT_FOUND", -1L))))
  }

  // ---- Lifecycle-configuration set -------------------------------------

  test("lifecycleSetDecisions: FSO layout gates the slash checks") {
    val reqs = Seq((1L, "vol", "obs"), (2L, "vol", "fso"))
      .toDF("req_id", "volume", "bucket")
    val rule = (pos: Long) => (pos, 1, "r1", Some("warehouse/A"),
      Option.empty[String], Option.empty[String], Option.empty[String],
      false, 1, 1, Some(30L), Option.empty[Long])
    val rules = Seq(rule(1L), rule(2L))
      .toDF("req_id", "rule_pos", "rule_id", "prefix", "filter_prefix",
        "filter_tag_key", "filter_tag_value", "filter_has_and",
        "n_actions", "n_expirations", "exp_days", "exp_date_ms")
    val bkts = Seq(("vol", "obs", "OBS"), ("vol", "fso", "FSO"))
      .toDF("volume", "bucket", "layout")
    val got = Lifecycle.lifecycleSetDecisions(reqs, rules, bkts)
      .select("req_id", "decision").as[(Long, String)].collect().toMap
    // the same un-slashed prefix is legal on OBS, rejected on FSO
    assert(got === Map(1L -> "SET", 2L -> "FSO_PREFIX_NO_SLASH"))
  }

  test("lifecycleSetDecisions: rule cap is parameterized") {
    val reqs = Seq((1L, "vol", "obs")).toDF("req_id", "volume", "bucket")
    val rules = (1 to 3).map(i => (1L, i, s"r$i", Some("p/"),
      Option.empty[String], Option.empty[String], Option.empty[String],
      false, 1, 1, Some(30L), Option.empty[Long]))
      .toDF("req_id", "rule_pos", "rule_id", "prefix", "filter_prefix",
        "filter_tag_key", "filter_tag_value", "filter_has_and",
        "n_actions", "n_expirations", "exp_days", "exp_date_ms")
    val bkts = Seq(("vol", "obs", "OBS")).toDF("volume", "bucket", "layout")
    val capped = Lifecycle.lifecycleSetDecisions(reqs, rules, bkts,
      maxRules = 2L).select("decision").as[String].head()
    assert(capped === "TOO_MANY_RULES")
  }

  // ---- MPU commit-part / abort -----------------------------------------

  test("mpuCommitPart and mpuAbort: micro upload walk") {
    val bkts = Seq(("v", "b")).toDF("volume", "bucket")
    val open = Seq(
      ("v", "b", "k", 1, 101L), ("v", "b", "k", 2, 102L))
      .toDF("volume", "bucket", "key", "part_number", "client_id")
    val info = Seq(("v", "b", "k", "up1"))
      .toDF("volume", "bucket", "key", "upload_id")
    val parts = Seq(("up1", 1, 500L))
      .toDF("upload_id", "part_number", "size")
    val commits = Seq(
      (1L, "v", "b", "k", 1, "up1", 101L, "etag1"),  // re-commit part 1
      (2L, "v", "b", "k", 2, "up1", 102L, "etag2"),  // fresh part 2
      (3L, "v", "b", "k", 1, "up1", 999L, "etag1"),  // client mismatch
      (4L, "v", "b", "k", 1, "nope", 101L, "etag1"), // unknown upload
      (5L, "v", "b", "k", 1, "up1", 101L, " "))      // blank etag
      .toDF("req_id", "volume", "bucket", "key", "part_number",
        "upload_id", "client_id", "etag")
    val gotC = Lifecycle.mpuCommitPart(commits, open, info, parts, bkts)
      .select("req_id", "decision", "replaced_previous")
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    assert(gotC === Map(
      1L -> (("COMMITTED", true)),
      2L -> (("COMMITTED", false)),
      3L -> (("KEY_NOT_FOUND", false)),
      4L -> (("NO_SUCH_MULTIPART_UPLOAD", false)),
      5L -> (("INVALID_REQUEST", false))))

    val aborts = Seq(
      (1L, "v", "b", "k", "up1"),
      (2L, "v", "b", "k", "nope"),
      (3L, "v", "nob", "k", "up1"))
      .toDF("req_id", "volume", "bucket", "key", "upload_id")
    val gotA = Lifecycle.mpuAbort(aborts, info, parts, bkts)
      .select("req_id", "decision", "parts_removed", "bytes_released")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(gotA === Map(
      1L -> (("ABORTED", 1L, 500L)),
      2L -> (("NO_SUCH_MULTIPART_UPLOAD", 0L, 0L)),
      3L -> (("BUCKET_NOT_FOUND", 0L, 0L))))
  }

  // ---- FSO rename ------------------------------------------------------

  test("fsoRenameDecisions: every branch on a micro namespace") {
    import graft.operators.CommitLog
    // namespace: a/b/f1.dat (v=1), a/b/f2.dat (v=3 → hsync), a/c/g.dat
    val objs = Seq(
      ("v", "b", "a/b/f1.dat", 1L), ("v", "b", "a/b/f2.dat", 3L),
      ("v", "b", "a/c/g.dat", 1L))
      .toDF("volume", "bucket", "key", "version")
    val dirs = Seq(("v", "b", "a"), ("v", "b", "a/b"), ("v", "b", "a/c"))
      .toDF("volume", "bucket", "path")
    val bkts = Seq(("v", "b")).toDF("volume", "bucket")
    val reqs = Seq(
      (1L, "v", "b", "a/b/f1.dat", "a/b/f9.dat"),   // plain rename
      (2L, "v", "b", "a/b/f2.dat", "a/b/f9.dat"),   // hsync'ed source
      (3L, "v", "b", "a/b", "a/b/x/y"),             // own subtree
      (4L, "v", "b", "a/b/f1.dat", "a/c/g.dat"),    // case-6 dst file
      (5L, "v", "b", "a/b/f1.dat", "a/c"),          // into dir, fresh
      (6L, "v", "b", "a/b/f1.dat", "a/b"),          // into dir, collides
      (7L, "v", "b", "a/b", "a/c"),                 // dir into dir: a/c/b
      (8L, "v", "b", "a/b/f1.dat", "zz/f1.dat"),    // parent missing
      (9L, "v", "b", "a/b/f1.dat", "a/b/f1.dat"),   // file self-noop
      (10L, "v", "b", "a/b", "a/b"),                // dir self → exists
      (11L, "v", "b", "", "a/b/f9.dat"),            // empty source
      (12L, "v", "nob", "a/b/f1.dat", "a/b/f9.dat"))// missing bucket
      .toDF("req_id", "volume", "bucket", "src_key", "to_key")
    val got = CommitLog.fsoRenameDecisions(reqs, objs, bkts, dirs)
      .select("req_id", "decision").as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "RENAMED",
      2L -> "RENAME_OPEN_FILE",
      3L -> "RENAME_ERROR_SUBDIR",
      4L -> "KEY_ALREADY_EXISTS",
      5L -> "RENAMED_INTO_DIR",     // a/c/f1.dat is fresh
      6L -> "KEY_ALREADY_EXISTS",   // a/b/f1.dat collides with itself
      7L -> "RENAMED_INTO_DIR",     // a/c/b is fresh
      8L -> "RENAME_ERROR_PARENT",
      9L -> "SELF_NOOP",
      10L -> "KEY_ALREADY_EXISTS",  // self-rename is a no-op only for files
      11L -> "INVALID_KEY_NAME",
      12L -> "BUCKET_NOT_FOUND"))
  }

  // ---- mkdir -----------------------------------------------------------

  test("mkdirDecisions: file-in-path beats dir-exists; minted counts") {
    import graft.operators.Hierarchy
    val objs = Seq(("v", "b", "a/b/f.dat", 1L))
      .toDF("volume", "bucket", "key", "version")
    val dirs = Seq(("v", "b", "a"), ("v", "b", "a/b"))
      .toDF("volume", "bucket", "path")
    val bkts = Seq(("v", "b")).toDF("volume", "bucket")
    val reqs = Seq(
      (1L, "v", "b", "a/b/f.dat/under"), // ancestor is a file
      (2L, "v", "b", "a/b/f.dat"),       // path is a file
      (3L, "v", "b", "a/b"),             // idempotent
      (4L, "v", "b", "a/x/y"),           // two minted under a
      (5L, "v", "b", ""))                // root
      .toDF("req_id", "volume", "bucket", "path")
    val got = Hierarchy.mkdirDecisions(reqs, objs, bkts, dirs)
      .select("req_id", "decision", "blocked_by", "dirs_minted")
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      1L -> (("FILE_ALREADY_EXISTS", "ANCESTOR", 0L)),
      2L -> (("FILE_ALREADY_EXISTS", "SELF", 0L)),
      3L -> (("DIR_EXISTS", "", 0L)),
      4L -> (("CREATED", "", 2L)),
      5L -> (("CANNOT_CREATE_DIRECTORY_AT_ROOT", "", 0L))))
  }

  // ---- create file -----------------------------------------------------

  test("createFileDecisions: self, parent and ancestor probes; minted") {
    import graft.operators.Hierarchy
    val objs = Seq(("v", "b", "a/b/f.dat", 1L))
      .toDF("volume", "bucket", "key", "version")
    val dirs = Seq(("v", "b", "a"), ("v", "b", "a/b"))
      .toDF("volume", "bucket", "path")
    val bkts = Seq(("v", "b")).toDF("volume", "bucket")
    val reqs = Seq(
      (1L, "v", "b", "a/b/new.dat", false, false),     // parent exists
      (2L, "v", "b", "a/b/f.dat", false, false),       // file, no overwrite
      (3L, "v", "b", "a/b/f.dat", true, false),        // file, overwrite
      (4L, "v", "b", "a/b", true, true),               // path is a dir
      (5L, "v", "b", "a/b/f.dat/z.dat", false, false), // parent is a file
      (6L, "v", "b", "a/b/f.dat/y/z.dat", true, true), // ancestor is a file
      (7L, "v", "b", "a/x/y/leaf.dat", false, false),  // parent missing
      (8L, "v", "b", "a/x/y/leaf.dat", false, true),   // mints a/x, a/x/y
      (9L, "v", "b", "top.dat", false, false),         // root level
      (10L, "v", "nob", "a/b/new.dat", false, true))   // missing bucket
      .toDF("req_id", "volume", "bucket", "path", "overwrite", "recursive")
    val got = Hierarchy.createFileDecisions(reqs, objs, bkts, dirs)
      .select("req_id", "decision", "dirs_minted")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> (("CREATED", 0L)),
      2L -> (("FILE_ALREADY_EXISTS", 0L)),
      3L -> (("OVERWRITTEN", 0L)),
      4L -> (("NOT_A_FILE", 0L)),
      5L -> (("NOT_A_FILE", 0L)),
      6L -> (("NOT_A_FILE", 0L)),
      7L -> (("DIRECTORY_NOT_FOUND", 0L)),
      8L -> (("CREATED", 2L)),
      9L -> (("CREATED", 0L)),
      10L -> (("BUCKET_NOT_FOUND", 0L))))
  }

  // ---- volume / bucket delete ------------------------------------------

  test("delete ladders: reference-count and occupancy precedence") {
    import graft.operators.BucketOps
    val vols = Seq(("v-busy", 3L, 0L), ("v-ref", 3L, 1L), ("v-bare", 0L, 0L))
      .toDF("volume", "bucket_count", "ref_count")
    val vreqs = Seq((1L, "v-busy"), (2L, "v-ref"), (3L, "v-bare"),
      (4L, "ghost")).toDF("req_id", "volume")
    val gotV = BucketOps.volumeDeleteDecisions(vreqs, vols)
      .select("req_id", "decision").as[(Long, String)].collect().toMap
    // the tenant reference pins the volume even though it is also
    // non-empty — ref-count is checked first
    assert(gotV === Map(1L -> "VOLUME_NOT_EMPTY",
      2L -> "VOLUME_IS_REFERENCED", 3L -> "DELETED",
      4L -> "VOLUME_NOT_FOUND"))

    val cat = Seq(("v", "all"), ("v", "mpu"), ("v", "snap"), ("v", "ok"))
      .toDF("volume", "bucket")
    val objs = Seq(("v", "all", "k")).toDF("volume", "bucket", "key")
    val mpus = Seq(("v", "all"), ("v", "mpu")).toDF("volume", "bucket")
    val snaps = Seq(("v", "all"), ("v", "snap")).toDF("volume", "bucket")
    val breqs = (1L to 4L).zip(Seq("all", "mpu", "snap", "ok"))
      .map { case (i, b) => (i, "v", b) }
      .toDF("req_id", "volume", "bucket")
    val gotB = BucketOps.bucketDeleteDecisions(breqs, cat, objs, mpus, snaps)
      .select("req_id", "decision", "reason")
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // keys shadow MPUs shadow snapshots
    assert(gotB === Map(
      1L -> (("BUCKET_NOT_EMPTY", "KEYS")),
      2L -> (("BUCKET_NOT_EMPTY", "MPUS")),
      3L -> (("CONTAINS_SNAPSHOT", "")),
      4L -> (("DELETED", ""))))
  }

  // ---- key commit ------------------------------------------------------

  test("keyCommitDecisions: fixture re-derived row-by-row at sf0.01") {
    val sf01 = "/root/testdata/sf0.01"
    val got = Lifecycle.keyCommitDecisions(T.keyCommitRequests(spark, sf01),
      T.buckets(spark, sf01))
      .as[(Long, String, String, String, String, String)].collect()
    assert(got.nonEmpty)
    // every ladder class fires
    assert(got.map(_._5).toSet === Set("BUCKET_NOT_FOUND",
      "KEY_ALREADY_CLOSED", "KEY_NOT_FOUND", "KEY_UNDER_LEASE_RECOVERY",
      "QUOTA_EXCEEDED", "RECOVERED", "COMMITTED"))
    // recovery precedence: KEY_ALREADY_CLOSED only on recovery requests
    // (cls 2 ⇔ req_id DIV 890 % 6 == 2) with an hsync-less committed key
    got.filter(_._5 == "KEY_ALREADY_CLOSED").foreach { r =>
      assert((r._1 / 890) % 6 == 2 && r._1 % 2 == 1, r)
    }
  }

  test("allocateBlockDecisions: per-class branches + quota math") {
    val sf01 = "/root/testdata/sf0.01"
    val got = Lifecycle.allocateBlockDecisions(
      T.allocateBlockRequests(spark, sf01), T.buckets(spark, sf01))
      .as[(Long, String, String, String, String, Long)].collect()
    assert(got.nonEmpty)
    assert(got.map(_._5).toSet === Set("BUCKET_NOT_FOUND", "KEY_NOT_FOUND",
      "KEY_UNDER_LEASE_RECOVERY", "QUOTA_EXCEEDED", "ALLOCATED"))
    for (r <- got) {
      val cls = (r._1 / 970) % 6
      val probe = r._1 / 97
      if (probe % 13 == 3) assert(r._5 == "BUCKET_NOT_FOUND", r)
      else if (cls == 2) assert(r._5 == "KEY_NOT_FOUND", r)
      else if (cls == 3) assert(r._5 == "KEY_UNDER_LEASE_RECOVERY", r)
      else if (cls == 4) assert(r._5 == "KEY_NOT_FOUND", r)
      else if (cls == 5)
        // 4000 open blocks replicated overrun every FINITE quota; the
        // unlimited bucket5 (quota -1) still allocates — and reports the
        // grown block count
        if (r._3 == "bucket5") assert(r._5 == "ALLOCATED" && r._6 == 4001L, r)
        else assert(r._5 == "QUOTA_EXCEEDED", r)
      else {
        // plain allocations: ≤ 4 blocks replicated ≤ 12 MiB fits every
        // bucket except the 1 MB-quota bucket9 (already over quota)
        if (r._3 == "bucket9") assert(r._5 == "QUOTA_EXCEEDED", r)
        else assert(r._5 == "ALLOCATED" && r._6 == probe % 4 + 1, r)
      }
    }
  }

  test("assignAdminDecisions: inference, membership, delegation") {
    val got = Tenants.assignAdminDecisions(
      T.assignAdminRequests(spark, sf), T.tenantState(spark, sf),
      T.tenantAccessCatalog(spark, sf))
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    assert(got(1L) === (("tenant1", "ASSIGNED_DELEGATED")))
    // empty tenant_id resolves THROUGH the accessId
    assert(got(2L) === (("tenant2", "ASSIGNED")))
    // inference over an unassigned accessId is a TENANT error, not an
    // accessId error (the reference infers before any accessId probe)
    assert(got(3L)._2 === "TENANT_NOT_FOUND")
    assert(got(4L)._2 === "ACCESS_ID_NOT_FOUND")
    // accessId held by a DIFFERENT tenant than the explicit one
    assert(got(5L)._2 === "INVALID_TENANT_ID")
    assert(got(6L) === (("tenant3", "ASSIGNED")))
  }

  test("setSecretDecisions: accessId probe outranks secret validation") {
    val got = Tenants.setSecretDecisions(
      T.setSecretRequests(spark, sf), T.tenantAccessCatalog(spark, sf))
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(1L) === (("SET", "")))
    assert(got(2L) === (("ACCESS_ID_NOT_FOUND", "")))
    assert(got(3L) === (("INVALID_REQUEST", "EMPTY_SECRET")))
    assert(got(4L) === (("INVALID_REQUEST", "SECRET_TOO_SHORT")))
    // unknown accessId + bad secret: the accessId error wins
    assert(got(5L) === (("ACCESS_ID_NOT_FOUND", "")))
    // exactly the 8-char minimum passes
    assert(got(6L) === (("SET", "")))
  }

  test("bucketSetOwnerDecisions: same-owner is a no-op, not an error") {
    val got = graft.operators.BucketOps.bucketSetOwnerDecisions(
      T.bucketSetOwnerRequests(spark, sf), T.buckets(spark, sf),
      T.volumes(spark, sf))
      .as[(Long, String, String, String, String)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(got(1L) === "SET")
    assert(got(2L) === "UNCHANGED")
    assert(got(3L) === "BUCKET_NOT_FOUND")
    assert(got(4L) === "UNCHANGED")
    assert(got(5L) === "SET")
  }

  test("snapshotSetPropertyDecisions: dup beats missing; deleted accepts") {
    val got = graft.operators.CommitLog.snapshotSetPropertyDecisions(
      T.snapshotSetPropertyRequests(spark, sf),
      T.snapshotCatalogExt(spark, sf))
      .as[(Long, String, String, String, String, String)].collect()
      .map(r => r._1 -> r._6).toMap
    assert(got(1L) === "UPDATED")
    assert(got(2L) === "FILE_NOT_FOUND")
    assert(got(3L) === "UPDATED")
    // in-batch duplicate of req 1's key
    assert(got(4L) === "INVALID_REQUEST")
    assert(got(5L) === "UPDATED")
    // SNAPSHOT_DELETED still accepts property writes (no status check)
    assert(got(6L) === "UPDATED")
    // duplicate of a MISSING key: the dup rung still wins
    assert(got(7L) === "INVALID_REQUEST")
  }

  test("token renew/cancel ladders: precedence probes") {
    import graft.operators.Security
    val renew = Security.renewTokenDecisions(
      T.renewTokenRequests(spark, sf), T.dTokens(spark, sf))
      .as[(Long, String, String, String, Long)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    // renew interval caps the extension below the presented maxDate
    assert(renew(1L) === (("RENEWED",
      Security.TokenNowMs + Security.TokenRenewIntervalMs)))
    assert(renew(2L)._1 === "TOKEN_EXPIRED")
    assert(renew(3L)._1 === "INVALID_TOKEN")
    assert(renew(4L)._1 === "ACCESS_DENIED")
    assert(renew(5L)._1 === "ACCESS_DENIED")
    // an expired UNKNOWN token reports expiry — maxDate precedes the probe
    assert(renew(6L)._1 === "TOKEN_EXPIRED")

    val cancel = Security.cancelTokenDecisions(
      T.cancelTokenRequests(spark, sf), T.dTokens(spark, sf))
      .as[(Long, String, String, String, String)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    assert(cancel(1L) === (("CANCELLED", ""))) // owner cancels
    assert(cancel(2L) === (("CANCELLED", ""))) // renewer cancels
    assert(cancel(3L)._1 === "ACCESS_DENIED")
    // access gate passes (owner), THEN the store probe misses
    assert(cancel(4L) === (("INVALID_TOKEN", "NOT_FOUND")))
    assert(cancel(5L) === (("INVALID_TOKEN", "NO_OWNER")))
  }

  test("getTokenDecisions: auth gate, manager-down success, proxy mint") {
    import graft.operators.Security
    val got = Security.getTokenDecisions(T.getTokenRequests(spark, sf))
      .as[(Long, String, String, String, String, String, Long, Long)]
      .collect()
      .map(r => r._1 -> ((r._4, r._5, r._6, r._7, r._8))).toMap
    assert(got(1L) === (("MINTED", "clerk1", "",
      Security.TokenNowMs + Security.TokenRenewIntervalMs,
      Security.TokenNowMs + Security.TokenMaxLifetimeMs)))
    // a delegation token can't mint another token
    assert(got(2L)._1 === "INVALID_AUTH_METHOD")
    assert(got(3L)._1 === "INVALID_AUTH_METHOD")
    // manager down: the RPC SUCCEEDS with an empty response
    assert(got(4L)._1 === "NO_TOKEN")
    // security off bypasses the auth-method gate entirely
    assert(got(5L)._1 === "MINTED")
    // proxy caller: realUser rides on the identifier
    assert(got(6L)._2 === "svc-hive" && got(6L)._3 === "oozie")
    // an empty renewer is fine at MINT time (only renew refuses it)
    assert(got(7L)._1 === "MINTED")
    // the auth gate precedes the manager probe
    assert(got(8L)._1 === "INVALID_AUTH_METHOD")
  }

  test("rangerSync: OM-source-of-truth diff over policies and roles") {
    import graft.operators.Tenants
    val got = Tenants.rangerSync(T.tenantStateExt(spark, sf),
      T.tenantAccessCatalog(spark, sf), T.rangerPolicies(spark, sf),
      T.rangerRoles(spark, sf))
      .select("kind", "name", "decision")
      .as[(String, String, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // an EMPTY tenant still expects its policies (state-driven)...
    assert(got(("POLICY", "tenant-empty-BucketAccess")) === "CREATE")
    assert(got(("POLICY", "tenant-empty-VolumeAccess")) === "IN_SYNC")
    // ...but gets NO roles (the accessId iteration drives those)
    assert(!got.contains(("ROLE", "tenant-empty-UserRole")))
    assert(got(("POLICY", "tenant-gone-VolumeAccess")) === "DELETE")
    assert(got(("POLICY", "tenant2-BucketAccess")) === "CREATE")
    // drift in EITHER direction pushes OM's member list
    assert(got(("ROLE", "tenant1-UserRole")) === "PUSH")   // missing clerk3
    assert(got(("ROLE", "tenant1-AdminRole")) === "PUSH")  // intruder
    assert(got(("ROLE", "tenant2-UserRole")) === "CREATE_AND_PUSH")
    assert(got(("ROLE", "tenant2-AdminRole")) === "CREATE_AND_PUSH")
    assert(got(("ROLE", "tenant0-UserRole")) === "IN_SYNC")
    assert(got(("ROLE", "tenant-gone-UserRole")) === "DELETE")
  }

  test("finalizeGateFold: feature fencing lifts only on admin finalize") {
    import graft.operators.Security
    val got = Security.finalizeGateFold(T.upgradeOps(spark, sf),
      T.omLayoutFeatures(spark, sf))
      .select("seq", "mlv_before", "decision", "features_run")
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((4L, "ALLOWED", 0L)))  // HSYNC == MLV passes
    assert(got(2L)._2 === "NOT_SUPPORTED_OPERATION_PRIOR_FINALIZATION")
    assert(got(3L)._2 === "NOT_SUPPORTED_OPERATION_PRIOR_FINALIZATION")
    assert(got(4L)._2 === "ACCESS_DENIED")     // non-admin finalize
    // the denied finalize moved nothing
    assert(got(5L)._2 === "NOT_SUPPORTED_OPERATION_PRIOR_FINALIZATION")
    // 7 features run: versions 5..11 over the contiguous catalog
    assert(got(6L) === ((4L, "FINALIZATION_DONE", 7L)))
    assert(got(7L) === ((11L, "ALLOWED", 0L)))
    assert(got(8L) === ((11L, "ALLOWED", 0L)))
    assert(got(9L) === ((11L, "ALREADY_FINALIZED", 0L)))
    assert(got(10L)._2 === "ALLOWED")
  }

  test("prepareGateFold: fence state moves only on admin prepare/cancel") {
    import graft.operators.Security
    val got = Security.prepareGateFold(T.prepareOps(spark, sf))
      .select("seq", "gate_on", "decision")
      .as[(Long, Boolean, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((false, "APPLIED")))
    // non-admin prepare refused AND the gate stays off
    assert(got(2L) === ((false, "ACCESS_DENIED")))
    assert(got(3L) === ((false, "APPLIED")))
    assert(got(4L) === ((false, "PREPARED")))
    assert(got(5L) === ((true, "NOT_SUPPORTED_OPERATION_WHEN_PREPARED")))
    // re-prepare passes the gate (requestAllowed lets Prepare through)
    assert(got(6L) === ((true, "PREPARED")))
    // non-admin cancel refused, gate unmoved
    assert(got(7L) === ((true, "ACCESS_DENIED")))
    // the fence is type-based: admins' writes fence too
    assert(got(8L) === ((true, "NOT_SUPPORTED_OPERATION_WHEN_PREPARED")))
    assert(got(9L) === ((true, "CANCELLED")))
    assert(got(10L) === ((false, "APPLIED")))
    // idempotent cancel with the gate already off
    assert(got(11L) === ((false, "CANCELLED")))
  }

  test("mpuComplete: probe order, part walk precedence, subsets") {
    import graft.operators.Lifecycle
    val got = Lifecycle.mpuComplete(T.mpuCompleteRequestsC(spark, sf),
      T.mpuCompleteReqParts(spark, sf), T.mpuCompleteStore(spark, sf),
      T.mpuCompleteStoreParts(spark, sf), T.mpuCompleteDirs(spark, sf),
      T.buckets(spark, sf))
      .select("req_id", "decision", "data_size", "etag")
      .as[(Long, String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // happy path: part 1 sits EXACTLY on the 5 MiB floor (boundary
    // passes), part 3 is a small LAST part (allowed)
    assert(got(1L)._1 === "COMPLETED")
    assert(got(1L)._2 === 5242880L + 6291456L + 1024L)
    assert(got(1L)._3.endsWith("-3"))
    assert(got(2L)._1 === "NO_SUCH_MULTIPART_UPLOAD_ERROR")
    assert(got(3L)._1 === "INVALID_REQUEST") // empty part list
    assert(got(4L)._1 === "INVALID_PART")    // upload has no parts in OM
    assert(got(5L)._1 === "INVALID_PART_ORDER")
    assert(got(6L)._1 === "INVALID_PART")    // ETag mismatch
    assert(got(7L)._1 === "INVALID_PART")    // absent part number
    assert(got(8L)._1 === "ENTITY_TOO_SMALL")
    // the directory collision refuses BEFORE the store probe misses
    assert(got(9L)._1 === "NOT_A_FILE")
    assert(got(10L)._1 === "BUCKET_NOT_FOUND")
    // the whole-list order scan completes before any per-part check
    assert(got(11L)._1 === "INVALID_PART_ORDER")
    // within the walk, part 1's ETag beats part 1's size floor
    assert(got(12L)._1 === "INVALID_PART")
    // a SUBSET of stored parts completes (AWS parity)
    assert(got(13L) === (("COMPLETED", 6291456L + 1024L,
      got(13L)._3)) && got(13L)._3.endsWith("-2"))
    // single-part complete: the unreferenced undersized part is moot
    assert(got(14L)._1 === "COMPLETED" && got(14L)._2 === 6291456L)
  }

  test("lifecycleDeleteDecisions: derived config state, links, owners") {
    val lcConfigs = Lifecycle.lifecycleSetDecisions(
      T.lcSetRequests(spark, sf), T.lcRuleEntries(spark, sf),
      T.buckets(spark, sf))
      .filter(col("decision") === "SET").select("volume", "bucket")
    val got = Lifecycle.lifecycleDeleteDecisions(
      T.lcDeleteRequests(spark, sf), T.buckets(spark, sf),
      T.bucketLinkRows.rows, T.volumes(spark, sf), lcConfigs)
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L)._3 === "DELETED")
    assert(got(2L)._3 === "LIFECYCLE_CONFIGURATION_NOT_FOUND")
    // the config lives on the SOURCE bucket of the link
    assert(got(3L) === (("vol0", "bucket0", "DELETED")))
    assert(got(4L)._3 === "PERMISSION_DENIED")
    assert(got(5L)._3 === "BUCKET_NOT_FOUND")
    assert(got(6L)._3 === "LINK_LOOP")
    assert(got(7L)._3 === "BUCKET_NOT_FOUND")
    assert(got(8L)._3 === "DELETED") // admin override
  }

  // ---- cluster state ---------------------------------------------------

  test("clusterState: MISSING counts live containers with zero replicas") {
    import graft.operators.ClusterHealth
    val one = Seq(Tuple1(1)).toDF("x")
    val vols = Seq(Tuple1("v")).toDF("volume")
    val bkts = Seq(("v", "b")).toDF("volume", "bucket")
    val objs = Seq(("v", "b", "k")).toDF("volume", "bucket", "key")
    val cont = Seq((1L, "CLOSED"), (2L, "CLOSED"), (3L, "DELETED"))
      .toDF("container_id", "state")
    // container 2 has no replicas (MISSING); deleted 3 doesn't count
    val reps = Seq(Tuple1(1L)).toDF("container_id")
    val dns = Seq(("dn0", "HEALTHY", 100L, 40L))
      .toDF("uuid", "state", "capacity", "used")
    val pips = Seq(("p0", "OPEN")).toDF("pipeline_id", "state")
    val dd = Seq.empty[(String, String, String)]
      .toDF("volume", "bucket", "dir")
    val row = ClusterHealth.clusterState(vols, bkts, objs, cont, reps,
      dns, pips, dd).collect()(0)
    assert(row.getAs[Long]("containers_missing") === 1L)
    assert(row.getAs[Long]("containers_deleted") === 1L)
    assert(row.getAs[Long]("deleted_dirs") === 0L)
  }

  // ---- Tenant admin ladders --------------------------------------------

  test("tenant delete: not-empty is checked before existence") {
    val reqs = Seq((1L, "ghost-with-ids"), (2L, "ghost-empty"))
      .toDF("req_id", "tenant_id")
    val state = Seq(("registered", "v", 0L, 0L))
      .toDF("tenant_id", "volume", "bucket_count", "used_bytes")
    val cat = Seq(("ghost-with-ids", "u", "ghost-with-ids$u", false))
      .toDF("tenant_id", "user_principal", "access_id", "is_admin")
    val got = Tenants.tenantDeleteDecisions(reqs, state, cat)
      .select("req_id", "decision").as[(Long, String)].collect().toMap
    // a tenant missing from the state table but holding access ids is
    // NOT_EMPTY (the reference's preExecute order), not NOT_FOUND
    assert(got === Map(1L -> "TENANT_NOT_EMPTY", 2L -> "TENANT_NOT_FOUND"))
  }

  test("tenant create: force flag skips only the volume-exists check") {
    val reqs = Seq(
      (1L, "t-a", "existing-vol", false),
      (2L, "t-a", "existing-vol", true),
      (3L, "bad$t", "existing-vol", true))
      .toDF("req_id", "tenant_id", "volume", "force_when_volume_exists")
    val state = Seq(("other", "v", 0L, 0L))
      .toDF("tenant_id", "volume", "bucket_count", "used_bytes")
    val vols = Seq(("existing-vol", "a", "o"))
      .toDF("volume", "admin", "owner")
    val got = Tenants.tenantCreateDecisions(reqs, state, vols)
      .select("req_id", "decision").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "VOLUME_ALREADY_EXISTS", 2L -> "CREATED",
      3L -> "INVALID_VOLUME_NAME"))
  }

  test("mpuInitiateDecisions: FSO/OBS path split, replication chain") {
    val reqs = Seq(
      // b-fso (idx 1): ancestor file a/f.dat → NOT_A_FILE
      (1L, "v", "bucket1", "a/f.dat/part.0", ""),
      // same shape on the OBS bucket (idx 2): no path check → INITIATED
      (2L, "v", "bucket2", "a/f.dat/part.0", ""),
      // key itself exists → still INITIATED (AWS parity)
      (3L, "v", "bucket1", "a/f.dat", ""),
      // request replication beats the bucket default
      (4L, "v", "bucket1", "a/new.bin", "EC/rs-6-3-1024k"),
      // bucket default (idx 1 % 3 = 1 → EC) beats the server default
      (5L, "v", "bucket1", "a/new2.bin", ""),
      // idx 2 % 3 = 2 → unset bucket default → server default
      (6L, "v", "bucket2", "a/new3.bin", ""),
      (7L, "v", "no-such", "a/x.bin", ""))
      .toDF("req_id", "volume", "bucket", "key", "requested_repl")
    val bkts = Seq(("v", "bucket1", "FSO"), ("v", "bucket2", "OBS"))
      .toDF("volume", "bucket", "layout")
    val objs = Seq(("v", "bucket1", "a/f.dat"), ("v", "bucket2", "a/f.dat"))
      .toDF("volume", "bucket", "key")
    val got = Lifecycle.mpuInitiateDecisions(reqs, bkts, Seq.empty, objs)
      .select("req_id", "decision", "effective_replication")
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === (("NOT_A_FILE", "")))
    assert(got(2L)._1 === "INITIATED")
    assert(got(3L)._1 === "INITIATED")
    assert(got(4L) === (("INITIATED", "EC/rs-6-3-1024k")))
    assert(got(5L) === (("INITIATED", "EC/rs-3-2-1024k")))
    assert(got(6L) === (("INITIATED", "RATIS/THREE")))
    assert(got(7L) === (("BUCKET_NOT_FOUND", "")))
  }

  test("keysDeleteBatchDecisions: batch gates, per-key rungs, rollup") {
    val reqs = Seq(
      // batch 1: all pass → OK
      (1L, "vol0", "b", "k1", -1L, "admin0", false),
      (1L, "vol0", "b", "k2", 5L, "admin0", false),
      // batch 2: one missing key → PARTIAL_DELETE
      (2L, "vol0", "b", "k1", -1L, "admin0", false),
      (2L, "vol0", "b", "nope", -1L, "admin0", false),
      // batch 3: updateID mismatch + ACL denial
      (3L, "vol1", "b", "k3", 9L, "clerk1", false),
      (3L, "vol1", "b", "k4", -1L, "clerk1", false),
      (3L, "vol1", "b", "k5", -1L, "clerk1", false),
      // batch 4: ids-count mismatch fails the WHOLE batch, even keys
      // that would have deleted cleanly
      (4L, "vol0", "b", "k1", -1L, "admin0", true),
      // batch 5: missing bucket → INTERNAL_ERROR keys, BUCKET_NOT_FOUND
      (5L, "vol0", "nob", "k1", -1L, "admin0", false))
      .toDF("req_id", "volume", "bucket", "key", "presented_update_id",
        "caller", "ids_mismatch")
    val objs = Seq(
      ("vol0", "b", "k1", 3L, "clerk2"), ("vol0", "b", "k2", 5L, "clerk2"),
      ("vol1", "b", "k3", 7L, "clerk1"), ("vol1", "b", "k4", 2L, "clerk9"),
      ("vol1", "b", "k5", 1L, "clerk1"))
      .toDF("volume", "bucket", "key", "version", "owner")
    val bkts = Seq(("vol0", "b"), ("vol1", "b")).toDF("volume", "bucket")
    val got = graft.operators.CommitLog.keysDeleteBatchDecisions(
      reqs, objs, bkts)
      .as[(Long, String, String, String, String, String)].collect()
      .map(r => (r._1, r._4) -> ((r._5, r._6))).toMap
    assert(got((1L, "k1")) === (("DELETED", "OK")))
    assert(got((1L, "k2")) === (("DELETED", "OK"))) // matching updateID
    assert(got((2L, "nope")) === (("KEY_NOT_FOUND", "PARTIAL_DELETE")))
    assert(got((2L, "k1")) === (("DELETED", "PARTIAL_DELETE")))
    // updateID precedes the ACL check (owner clerk1 still refused)
    assert(got((3L, "k3")) === (("UPDATE_ID_NOT_MATCH", "PARTIAL_DELETE")))
    assert(got((3L, "k4")) === (("ACCESS_DENIED", "PARTIAL_DELETE")))
    assert(got((3L, "k5")) === (("DELETED", "PARTIAL_DELETE")))
    assert(got((4L, "k1")) === (("INTERNAL_ERROR", "INVALID_REQUEST")))
    assert(got((5L, "k1")) === (("INTERNAL_ERROR", "BUCKET_NOT_FOUND")))
  }

  test("delete-tagging twins: probes only; had_tags from put outcomes") {
    val dot = SparkEntry.queries("q_delete_object_tagging")(spark, sf)
      .select("decision", "had_tags").as[(String, Boolean)].collect()
    // every decision class present, and had_tags only rides DELETED
    val classes = dot.map(_._1).toSet
    assert(classes === Set("DELETED", "NO_SUCH_KEY", "NO_SUCH_BUCKET"))
    assert(dot.forall { case (d, t) => !t || d == "DELETED" })
    assert(dot.exists { case (d, t) => d == "DELETED" && t })
    assert(dot.exists { case (d, t) => d == "DELETED" && !t })
    val dbt = SparkEntry.queries("q_delete_bucket_tagging")(spark, sf)
      .select("decision", "had_tags").as[(String, Boolean)].collect()
    assert(dbt.count(_._1 == "NO_SUCH_BUCKET") === 2) // 9001 + vol9
    assert(dbt.exists { case (d, t) => d == "DELETED" && t })
    assert(dbt.exists { case (d, t) => d == "DELETED" && !t })
  }

  test("prefixAclOps: stateful PREFIX_NOT_FOUND + empty-entry deletion") {
    val got = graft.operators.Nested.prefixAclOpsDecisions(
      T.prefixAclWriteOps(spark, sf), T.prefixAclBits(spark, sf))
      .select("seq", "decision").as[(Long, String)].collect().toMap
    assert(got(1L) === "APPLIED")          // stored entry exists
    // op 1 emptied warehouse/ — the entry was DELETED, so the next
    // remove refuses (the reference's prefixInfo == null branch)
    assert(got(2L) === "PREFIX_NOT_FOUND")
    assert(got(3L) === "APPLIED")          // ADD recreates the entry
    assert(got(4L) === "APPLIED")
    assert(got(5L) === "PREFIX_NOT_FOUND") // never-created prefix
    assert(got(6L) === "APPLIED")
    assert(got(7L) === "APPLIED")          // SET boundary
    // bob was voided by the SET, but the entry LIVES through carol —
    // remove of an absent principal on a live entry is not an error
    assert(got(8L) === "APPLIED")
    assert(got(9L) === "INVALID_PATH_IN_ACL_REQUEST")
    assert(got(10L) === "APPLIED")
    // final state: alice keeps w on warehouse/, carol's SET owns
    // staging/, bucket1's warehouse/A/ emptied away
    val fold = graft.operators.Nested.prefixAclFold(
      T.prefixAclWriteOps(spark, sf), T.prefixAclBits(spark, sf))
      .filter(col("volume") === "vol0" &&
        col("bucket").isin("bucket0", "bucket1"))
      .select("bucket", "prefix", "pname", "rights_mask")
      .as[(String, String, String, Long)].collect().toSet
    assert(fold === Set(
      ("bucket0", "warehouse/", "alice", 2L),
      ("bucket0", "staging/", "carol", 1L),
      ("bucket0", "warehouse/A/", "auditor2", 1L),
      ("bucket1", "warehouse/", "auditor2", 2L)))
  }

  test("revokeAdminDecisions: assign's rungs; idempotent on non-admins") {
    val got = Tenants.revokeAdminDecisions(
      T.revokeAdminRequests(spark, sf), T.tenantState(spark, sf),
      T.tenantAccessCatalog(spark, sf))
      .as[(Long, String, String, String, Boolean)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    // a real admin (clerk0) loses the grant — was_admin records it
    assert(got(1L) === (("REVOKED", true)))
    // revoking a NON-admin still succeeds (the reference clears both
    // flags unconditionally) — was_admin false
    assert(got(2L) === (("REVOKED", false)))
    assert(got(3L) === (("REVOKED", false))) // tenant inferred
    assert(got(4L) === (("TENANT_NOT_FOUND", false))) // inference miss
    assert(got(5L) === (("ACCESS_ID_NOT_FOUND", false)))
    assert(got(6L) === (("INVALID_TENANT_ID", false)))
    assert(got(7L) === (("TENANT_NOT_FOUND", false))) // explicit miss
  }

  test("revokeSecretDecisions: permission gate precedes the store probe") {
    val got = graft.operators.Security.revokeSecretDecisions(
      T.revokeSecretRequests(spark, sf), T.s3Secrets(spark, sf),
      T.tenantAccessCatalog(spark, sf))
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got(1L) === "REVOKED")              // owner revokes own secret
    assert(got(2L) === "ACCESS_DENIED")        // non-owner refused
    assert(got(3L) === "REVOKED")              // S3 admin override
    assert(got(4L) === "S3_SECRET_NOT_FOUND")  // no stored secret
    // the preExecute permission check fires BEFORE the store probe: an
    // unauthorized revoke of a MISSING secret reports ACCESS_DENIED
    assert(got(5L) === "ACCESS_DENIED")
    assert(got(6L) === "S3_SECRET_NOT_FOUND")  // admin, unknown tenant id
  }

  test("snapshotDeleteDecisions: name gate, links, non-active refusals") {
    val got = graft.operators.CommitLog.snapshotDeleteDecisions(
      T.snapshotDeleteRequests(spark, sf), T.buckets(spark, sf),
      T.bucketLinkRows.rows, T.volumes(spark, sf),
      T.snapshotCatalogLive(spark, sf))
      .as[(Long, String, String, String, String, String)].collect()
      .map(r => r._1 -> ((r._5, r._6))).toMap
    assert(got(1L) === (("DELETED", "")))
    // preExecute re-validates the name: the legacy chain name s1 cannot
    // be deleted by name (truthful artifact shared with create/rename)
    assert(got(2L) === (("INVALID_SNAPSHOT_NAME", "")))
    assert(got(3L) === (("FILE_NOT_FOUND", "ALREADY_DELETED")))
    assert(got(4L) === (("FILE_NOT_FOUND", "NOT_FOUND")))
    assert(got(5L) === (("DELETED", "")))      // through the link
    assert(got(6L) === (("BUCKET_NOT_FOUND", "")))
    assert(got(7L) === (("LINK_LOOP", "")))
    assert(got(8L) === (("PERMISSION_DENIED", "")))
    assert(got(9L) === (("BUCKET_NOT_FOUND", "")))
    assert(got(10L) === (("INVALID_SNAPSHOT_NAME", "")))
    assert(got(11L) === (("DELETED", "")))     // om-admin override
  }

  test("lifecycleServiceFold: gate order, toggle fold, cursor replace") {
    val got = graft.operators.Lifecycle.lifecycleServiceFold(
      T.lifecycleServiceOps(spark, sf), finalizedSeq = 5L)
      .as[(Long, String, String, String, String, Boolean, Boolean)]
      .collect().map(r => r._1 -> ((r._5, r._6, r._7))).toMap
    // finalization validator fires before the admin check — admin AND
    // non-admin pre-finalization suspends refuse identically
    assert(got(1L)._1 === "NOT_SUPPORTED_OPERATION_PRIOR_FINALIZATION")
    assert(got(4L)._1 === "NOT_SUPPORTED_OPERATION_PRIOR_FINALIZATION")
    assert(got(2L)._1 === "ACCESS_DENIED")     // non-admin save
    assert(got(6L)._1 === "ACCESS_DENIED")     // post-finalization toggle
    assert(got(3L) === (("SAVED", false, false)))
    assert(got(7L) === (("SUSPENDED", true, false)))
    // suspension stops the scanner, not the RPC plane: the save lands,
    // and it REPLACES the bucket's earlier cursor
    assert(got(8L) === (("SAVED", true, true)))
    assert(got(9L) === (("SAVED", true, false)))
    assert(got(10L) === (("RESUMED", false, false)))
    // idempotent resume: stays resumed
    assert(got(11L) === (("RESUMED", false, false)))
  }

  test("rangerSyncVersionFold: bounded version chase") {
    val got = graft.operators.Tenants.rangerSyncVersionFold(
      T.rangerSyncRuns(spark, sf))
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got(1L) === ((0L, 5L, "IN_SYNC")))
    // the recheck sees the version the run just wrote → one attempt
    assert(got(2L) === ((1L, 5L, "SYNCED")))
    // a mid-sync bump absorbed by the second attempt
    assert(got(3L) === ((2L, 6L, "SYNCED")))
    // a hot Ranger outruns MAX_ATTEMPT: db left at the LAST OBSERVED
    // version, not the latest one
    assert(got(4L) === ((2L, 6L, "ABORTED_MAX_ATTEMPT")))
  }

  test("s3VolumeContext: default fallbacks, tenant routing, removed tenant") {
    val got = graft.operators.Tenants.s3VolumeContext(
      T.s3ContextRequests(spark, sf), T.tenantAccessCatalog(spark, sf),
      T.tenantStateExt(spark, sf))
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // no auth → default volume, remote short name
    assert(got(1L) === (("OK", "s3v", "alice")))
    // unassigned plain accessId → default volume, id as principal
    assert(got(2L) === (("OK", "s3v", "hdfs")))
    // tenant-assigned ids route to the tenant volume, principal after '$'
    assert(got(3L) === (("OK", "vol1", "clerk1")))
    assert(got(5L) === (("OK", "vol0", "clerk3")))
    // assigned to a REMOVED tenant → refused, never falls back
    assert(got(4L) === (("TENANT_NOT_FOUND", "", "")))
    // a null-tenant orphan catalog row behaves as unassigned
    assert(got(6L) === (("OK", "s3v", "orphan$ghost2")))
  }
}
