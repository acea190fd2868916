package graft

import graft.core.Tables
import graft.operators.CommitLog
import org.apache.spark.sql.functions.{col, expr}

/** Write-path invariants: the log-slice delta diff must equal the
  * full-state fold diff, and the snapshot catalog folds its op stream. */
class CommitLogSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  test("snapshot chain folds CREATE + DELETE ops (temp snapshot dropped)") {
    assert(CommitLog.snapshotChain === Seq("s1" -> 1L, "s2" -> 4L))
  }

  test("delta-slice snapshot diff equals the full-state fold diff") {
    val o = Tables.objects(spark, sf)
    val full = rows(CommitLog.snapshotDiffFromLog(o))
    val delta = rows(CommitLog.snapshotDiffFromCatalog(spark, o, sf))
    assert(full.nonEmpty)
    assert(delta === full)
  }

  test("delta diff prunes the log scan to the seq slice (pushed filters)") {
    val o = Tables.objects(spark, sf)
    val plan = CommitLog.snapshotDiffFromCatalog(spark, o, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(seq,1)") &&
      plan.contains("LessThanOrEqual(seq,4)"),
      s"expected the seq slice pushed into the log scan in:\n$plan")
  }

  test("snapshot_info stats agree with the folded states") {
    val o = Tables.objects(spark, sf)
    val log = CommitLog.synthesizeLog(o)
    val info = rows(CommitLog.snapshotInfo(o))
    assert(info.map(r => (r(0), r(1))) === Seq(("s1", 1L), ("s2", 4L)))
    val s2 = CommitLog.applyAt(log, 4L)
    assert(info(1)(2) === s2.count())
  }

  test("appliedState window plan equals the max_by aggregate dual") {
    val o = Tables.objects(spark, sf)
    val win = rows(CommitLog.appliedState(o))
    val agg = rows(CommitLog.appliedStateAggDual(o))
    assert(win.nonEmpty)
    assert(agg === win)
  }

  test("snapshotDiff full-outer plan equals the anti/inner-join dual") {
    val (v1, v2) = (Tables.snapshotV1(spark, sf), Tables.snapshotV2(spark, sf))
    val full = rows(graft.operators.Joins.snapshotDiff(v1, v2))
    val dual = rows(graft.operators.Joins.snapshotDiffDual(v1, v2))
    assert(full.nonEmpty)
    assert(dual === full) // object_id is unique per diff row → total order
  }

  test("snapshotDiff dual agrees on null-bearing matched rows (ADVICE r13)") {
    import spark.implicits._
    // matched ids carrying NULL key / NULL size: the full-outer plan's
    // when-chain classifies a null old_key CREATE (it cannot tell a
    // null-valued column from an unmatched side) and null-skips =!= to
    // UNCHANGED — the dual's matched-row chain must mirror both rungs
    val v1 = Seq(
      (1L, Some("k1"), Some(10L)),  // matched, unchanged → filtered
      (2L, None: Option[String], Some(10L)),  // matched, null old key
      (3L, Some("k3"), None: Option[Long]),   // null size → =!= null-skips
                                              // → UNCHANGED → filtered
      (4L, Some("k4"), Some(4L)),             // v1-only → DELETE
      (6L, None: Option[String], Some(6L)))   // v1-only, NULL key: the
                                              // full-outer's old_key.isNull
                                              // rung fires on the DATA null
                                              // → CREATE, so the dual's
                                              // anti-join branch must too
                                              // (ADVICE r14)
      .toDF("object_id", "key", "data_size")
    val v2 = Seq(
      (1L, Some("k1"), Some(10L)),
      (2L, Some("k2"), Some(10L)),
      (3L, Some("k3"), Some(30L)),
      (5L, Some("k5"), Some(5L)),             // v2-only → CREATE
      (7L, None: Option[String], Some(7L)))   // v2-only, NULL key → CREATE
                                              // on both plans by the same
                                              // rung
      .toDF("object_id", "key", "data_size")
    val full = rows(graft.operators.Joins.snapshotDiff(v1, v2))
    val dual = rows(graft.operators.Joins.snapshotDiffDual(v1, v2))
    assert(full.map(_(0)).toSet === Set(2L, 4L, 5L, 6L, 7L))
    // the v1-only null-key row is CREATE on BOTH plans (the residual
    // divergence ADVICE r14 flagged — now aligned)
    val byId = full.map(r => r(0) -> r.last).toMap
    assert(byId(6L) === "CREATE" && byId(7L) === "CREATE")
    assert(dual === full)
  }

  test("snapshot-diff report pages chain by token to the full report") {
    val (v1, v2) = (Tables.snapshotV1(spark, sf), Tables.snapshotV2(spark, sf))
    val full = rows(graft.operators.Joins.snapshotDiff(v1, v2))
    var token = 0L
    var walked = Seq.empty[Seq[Any]]
    var done = false
    while (!done) {
      val page = rows(graft.operators.Joins.snapshotDiffPage(
        v1, v2, token, 500))
      assert(page.size <= 500)
      // (idx, object_id, old_key, new_key, old_size, new_size, type, tok)
      walked ++= page.map(r => Seq(r(1), r(2), r(3), r(6)))
      val next = page.last.last.asInstanceOf[Long]
      if (next == -1L) done = true else token = next
    }
    // the chained pages ARE the report: same ids, keys, classes, order
    assert(walked === full.map(r => Seq(r(0), r(1), r(3), r(5))))
  }

  test("rename batch: the dest-exists quirk applies despite failing") {
    import spark.implicits._
    val ns = Seq(("v", "b", "a"), ("v", "b", "c"), ("v", "clean", "x"))
      .toDF("volume", "bucket", "key")
    val reqs = Seq(
      ("v", "b", "a", "c"),    // dest exists: marked failed, APPLIED anyway
      ("v", "b", "ghost", "c"), // dest exists + src missing
      ("v", "b", "ghost", "d"), // src missing
      ("v", "b", "a", ""),     // empty target
      ("v", "clean", "x", "y")) // the only clean batch
      .toDF("volume", "bucket", "from_key", "to_key")
    val got = CommitLog.renameKeysDecisions(reqs, ns).collect()
      .map(r => (r.getString(2), r.getString(3)) ->
        (r.getAs[String]("decision"), r.getAs[Boolean]("applied"),
          r.getAs[String]("batch_status"))).toMap
    assert(got(("a", "c")) === (("DEST_EXISTS", true, "PARTIAL_RENAME")))
    assert(got(("ghost", "c")) ===
      (("DEST_EXISTS_AND_SRC_MISSING", false, "PARTIAL_RENAME")))
    assert(got(("ghost", "d")) === (("SRC_MISSING", false, "PARTIAL_RENAME")))
    assert(got(("a", "")) === (("EMPTY_NAME", false, "PARTIAL_RENAME")))
    assert(got(("x", "y")) === (("RENAMED", true, "OK")))
  }

  test("snapshotCreateDecisions: link resolution, ownership, collisions") {
    import spark.implicits._
    val sfd = "/root/testdata/sf0.001"
    import graft.core.{Tables => T}
    val got = graft.operators.CommitLog.snapshotCreateDecisions(
      T.snapshotCreateRequests(spark, sfd), T.buckets(spark, sfd),
      T.bucketLinkRows.rows, T.volumes(spark, sfd),
      T.snapshotCatalog(spark, sfd))
      .as[(Long, String, String, String, String)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got(1L)._3 === "CREATED")
    // the legacy chain names (s1/s2) predate strict validation: a
    // re-create request fails the NAME rung before the collision check
    assert(got(2L)._3 === "INVALID_SNAPSHOT_NAME")
    // the link request lands on the SOURCE bucket
    assert(got(3L) === (("vol0", "bucket0", "CREATED")))
    assert(got(4L)._3 === "INVALID_SNAPSHOT_NAME")
    assert(got(5L)._3 === "BUCKET_NOT_FOUND")
    assert(got(6L) === (("vol0", "link-cycle1", "LINK_LOOP")))
    assert(got(7L)._3 === "INVALID_SNAPSHOT_NAME")
    assert(got(8L)._3 === "PERMISSION_DENIED")
    assert(got(9L)._3 === "CREATED")
    assert(got(10L)._3 === "BUCKET_NOT_FOUND")
    assert(got(11L)._3 === "CREATED") // admin override
    assert(got(12L)._3 === "FILE_ALREADY_EXISTS")
  }

  test("snapshotRenameDecisions: collision-before-old-lookup, statuses") {
    import spark.implicits._
    val sfd = "/root/testdata/sf0.001"
    import graft.core.{Tables => T}
    val got = graft.operators.CommitLog.snapshotRenameDecisions(
      T.snapshotRenameRequests(spark, sfd), T.buckets(spark, sfd),
      T.bucketLinkRows.rows, T.volumes(spark, sfd),
      T.snapshotCatalogExt(spark, sfd))
      .as[(Long, String, String, String, String, String)].collect()
      .map(r => r._1 -> ((r._4, r._5, r._6))).toMap
    assert(got(1L)._3 === "RENAMED")
    // only the NEW name goes through preExecute validation
    assert(got(2L)._3 === "INVALID_SNAPSHOT_NAME")
    // the link request resolves and renames on the SOURCE bucket
    assert(got(3L) === (("vol0", "bucket0", "RENAMED")))
    // new-name collision outranks everything after permission — and a
    // SNAPSHOT_DELETED entry still occupies its name
    assert(got(4L)._3 === "FILE_ALREADY_EXISTS")
    assert(got(5L)._3 === "FILE_NOT_FOUND")
    // deleted old snapshot reads as absent (pending reclamation)
    assert(got(6L)._3 === "FILE_NOT_FOUND")
    assert(got(7L)._3 === "PERMISSION_DENIED")
    assert(got(8L)._3 === "RENAMED") // admin override
    assert(got(9L)._3 === "BUCKET_NOT_FOUND")
    assert(got(10L)._3 === "LINK_LOOP")
    assert(got(11L)._3 === "BUCKET_NOT_FOUND")
    // self-rename collides with itself (new checked first)
    assert(got(12L)._3 === "FILE_ALREADY_EXISTS")
    // old-missing + new-exists: the new-name probe wins
    assert(got(13L)._3 === "FILE_ALREADY_EXISTS")
  }

  test("keyDeleteDecisions: every ladder branch incl. the empty dir") {
    import spark.implicits._
    val objects = Seq(("v1", "b1", "a/f1.dat", 1L, 1L),
      ("v1", "b1", "a/sub/f2.dat", 2L, 1L))
      .toDF("volume", "bucket", "key", "data_size", "version")
    // a real directory table can hold an EMPTY dir (mkdir with no files
    // yet) — the derived-catalog queries never see one, the ladder must
    val dirs = Seq(("v1", "b1", "a"), ("v1", "b1", "a/sub"),
      ("v1", "b1", "empty"))
      .toDF("volume", "bucket", "path")
    val buckets = Seq(("v1", "b1")).toDF("volume", "bucket")
    val reqs = Seq(("v1", "b1", "a"), ("v1", "b1", "empty"),
      ("v1", "b1", "a/f1.dat"), ("v1", "b1", "ghost"),
      ("v1", "nob", "a/f1.dat"))
      .toDF("volume", "bucket", "key")
    val got = graft.operators.CommitLog
      .keyDeleteDecisions(reqs, objects, buckets, dirs)
      .as[(String, String, String, String)].collect()
      .map(r => (r._2, r._3) -> r._4).toMap
    assert(got(("b1", "a")) === "DIRECTORY_NOT_EMPTY")
    assert(got(("b1", "empty")) === "DELETED_DIR")
    assert(got(("b1", "a/f1.dat")) === "DELETED_FILE")
    assert(got(("b1", "ghost")) === "KEY_NOT_FOUND")
    assert(got(("nob", "a/f1.dat")) === "BUCKET_NOT_FOUND")
  }

  test("snapshotPurgeRelink: transitive splice, both chains, no-op ghost") {
    import spark.implicits._
    val chain = graft.core.Tables.snapshotChainGlobal(
      spark, "/root/testdata/sf0.001")
    val got = graft.operators.CommitLog
      .snapshotPurgeRelink(chain, Seq("s2", "snap-gone", "ghost"))
      .select("name", "status", "new_global_prev", "new_path_prev")
      .as[(String, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // purging the ADJACENT s2 + snap-gone relinks snap-live all the way
    // back to s1 in the path chain (transitive splice)
    assert(got("snap-live") === (("RETAINED", "snap-golden", "s1")))
    // the global chain skips the purged pair too: snap-golden's global
    // prev falls back to s1
    assert(got("snap-golden") === (("RETAINED", "s1", "")))
    assert(got("s1") === (("RETAINED", "", "")))
    assert(got("s2")._1 === "PURGED")
    assert(got("snap-gone")._1 === "PURGED")
    // 'ghost' names nothing — a WARN no-op, absent from the output
    assert(!got.contains("ghost") && got.size === 5)
  }

  test("snapshotMoveTableKeys: probe order, list filtering, chain gate") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val got = graft.operators.CommitLog
      .snapshotMoveTableKeys(T.moveTableKeysRequests(spark, d),
        T.moveTableKeysEntries(spark, d), T.snapshotChainGlobal(spark, d),
        T.snapshotCatalogLive(spark, d), T.fsoBucketIds(spark, d))
      .select("req_id", "decision", "destination", "moved_deleted",
        "moved_renamed", "moved_dirs")
      .as[(Long, String, String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, (r._4, r._5, r._6)))).toMap
    assert(got(1L) === (("MOVED", "s2", (2L, 1L, 1L))))
    // next in chain (snap-gone) is SNAPSHOT_DELETED → refuse the move
    assert(got(2L) === (("INVALID_SNAPSHOT_ERROR", "", (0L, 0L, 0L))))
    // the real GC case: FROM a deleted snapshot, into the next ACTIVE;
    // the no-keyInfo / value-less / two-info rows were filtered out
    // BEFORE validation so their bad shapes never error
    assert(got(3L) === (("MOVED", "snap-live", (1L, 1L, 1L))))
    assert(got(4L) === (("MOVED", "AOS", (1L, 0L, 0L))))
    assert(got(5L) === (("MOVED", "AOS", (0L, 0L, 0L))))
    // the from-snapshot store probe runs FIRST, even over a bad entry
    assert(got(6L)._1 === "FILE_NOT_FOUND")
    assert(got(7L)._1 === "INVALID_KEY_NAME")
    assert(got(8L)._1 === "INVALID_REQUEST")
    // the renamed-table prefix violation is reached before the dir dup
    assert(got(9L)._1 === "INVALID_KEY_NAME")
    // filtered dir rows don't shield the real dup behind them
    assert(got(10L)._1 === "INVALID_REQUEST")
    // a no-keyInfo duplicate is dropped, not a dup — the move proceeds
    assert(got(11L) === (("MOVED", "s2", (2L, 0L, 0L))))
    // preExecute entry validation beats the apply-stage chain gate
    assert(got(12L)._1 === "INVALID_KEY_NAME")
    assert(got(13L)._1 === "INVALID_REQUEST")
  }

  test("keyPurgeDecisions: chain validation, probe order, refund gating") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val got = graft.operators.CommitLog
      .keyPurgeDecisions(T.keyPurgeRequests(spark, d),
        T.keyPurgeBucketSizes(spark, d), T.snapshotChainGlobal(spark, d),
        T.buckets(spark, d))
      .as[(Long, String, String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    // AOS purge validated against the LATEST GLOBAL snapshot; refunds:
    // live-id entry applies, deleted bucket and stale-id entry skip
    assert(got(1L) === (("PURGED", 3L, 1L, 1L, 1000L)))
    assert(got(2L) === (("INVALID_REQUEST", 0L, 0L, 0L, 0L)))
    // snapshot purge validated against the PATH-chain predecessor
    assert(got(3L) === (("PURGED", 1L, 0L, 1L, 400L)))
    assert(got(4L) === (("INVALID_REQUEST", 0L, 0L, 0L, 0L)))
    // the catalog probe precedes chain validation
    assert(got(5L) === (("FILE_NOT_FOUND", 0L, 0L, 0L, 0L)))
    assert(got(6L) === (("KEY_DELETION_ERROR", 0L, 0L, 0L, 0L)))
    // first-in-chain: the null predecessor matches the null expected;
    // two refunds on ONE bucket = one bucket updated, bytes summed
    assert(got(7L) === (("PURGED", 2L, 1L, 1L, 550L)))
    assert(got(8L) === (("INVALID_REQUEST", 0L, 0L, 0L, 0L)))
    // old-format request: the stale expected value is IGNORED...
    assert(got(9L) === (("PURGED", 2L, 0L, 1L, 700L)))
    // ...but the snapshot probe still runs
    assert(got(10L) === (("FILE_NOT_FOUND", 0L, 0L, 0L, 0L)))
  }

  test("dirPurgeDecisions: FSO dual — per-row refunds, hsync tag, no " +
    "empty-list rung") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val got = graft.operators.CommitLog
      .dirPurgeDecisions(T.dirPurgeRequests(spark, d),
        T.dirPurgeEntries(spark, d), T.snapshotChainGlobal(spark, d),
        T.buckets(spark, d))
      .as[(Long, String, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect()
      .map(r => r._1 -> ((r._3, (r._4, r._5, r._6), (r._7, r._8), (r._9,
        r._10)))).toMap
    // the zoo request: dirs_deleted counts DELETED_DIR rows (2);
    // subdirs_moved dedups and removes the also-deleted dir (501 only);
    // subfiles_moved counts ROWS including the duplicate (5); ns_refunded
    // per gated row (2 subdirs + 3 subfiles); bytes refund the dup twice
    // (2000); snap-ns purge skips the mismatched bucket (1); the dup'd
    // hsync file tags its open key ONCE
    assert(got(1L) === (("PURGED", (2L, 1L, 5L), (5L, 2000L), (1L, 1L))))
    assert(got(2L) === (("INVALID_REQUEST", (0L, 0L, 0L), (0L, 0L),
      (0L, 0L))))
    // path-chain predecessor match; refunds across two live buckets
    assert(got(3L) === (("PURGED", (0L, 1L, 1L), (2L, 400L), (0L, 0L))))
    assert(got(4L) === (("INVALID_REQUEST", (0L, 0L, 0L), (0L, 0L),
      (0L, 0L))))
    assert(got(5L) === (("FILE_NOT_FOUND", (0L, 0L, 0L), (0L, 0L),
      (0L, 0L))))
    // old-format: stale expected ignored; hsync tag fires on a DEAD
    // bucket (gate-independent), refunds don't; snapshot-ns purge on the
    // matching vol2 bucket applies
    assert(got(6L) === (("PURGED", (1L, 0L, 1L), (0L, 0L), (1L, 1L))))
    // ...but the snapshot probe still runs for old-format requests
    assert(got(7L) === (("FILE_NOT_FOUND", (0L, 0L, 0L), (0L, 0L),
      (0L, 0L))))
    // EMPTY purge list still applies — no KEY_DELETION_ERROR rung in the
    // directory ladder (divergence from q_key_purge's rung 3)
    assert(got(8L) === (("PURGED", (0L, 0L, 0L), (0L, 0L), (0L, 0L))))
  }

  test("snapshotMoveDeletedKeys: legacy dual — verbatim lists, no" +
    " ACTIVE fence") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val got = graft.operators.CommitLog
      .snapshotMoveDeletedKeys(T.moveDeletedKeysRequests(spark, d),
        T.moveDeletedKeysEntries(spark, d),
        T.snapshotChainGlobal(spark, d), T.snapshotCatalogLive(spark, d))
      .collect()
      .map(r => r.getAs[Long]("req_id") ->
        ((r.getAs[String]("decision"), r.getAs[String]("destination"),
          (r.getAs[Long]("moved_next_db"), r.getAs[Long]("moved_reclaim"),
            r.getAs[Long]("moved_renamed"), r.getAs[Long]("moved_dirs")),
          r.getAs[Long]("bucket_id")))).toMap
    // duplicate + bad-prefix rows move VERBATIM (3 nextDB rows — the
    // modern ladder would grade them INVALID_REQUEST/INVALID_KEY_NAME)
    assert(got(1L) === (("MOVED", "s2", (3L, 1L, 1L, 1L), 10L)))
    // the successor is SNAPSHOT_DELETED — legacy moves anyway (the
    // modern ladder's INVALID_SNAPSHOT_ERROR divergence)
    assert(got(2L) === (("MOVED", "snap-gone", (1L, 0L, 0L, 0L), 10L)))
    // chain end → Active Object Store
    assert(got(3L) === (("MOVED", "AOS", (0L, 1L, 0L, 1L), 10L)))
    // missing from-snapshot masks its entries
    assert(got(4L) === (("FILE_NOT_FOUND", "", (0L, 0L, 0L, 0L), 0L)))
    // empty lists still move (counts 0); vol2/bucket5 oid mint = 215
    assert(got(5L) === (("MOVED", "AOS", (0L, 0L, 0L, 0L), 215L)))
    // a DELETED from-snapshot proceeds: the probe is existence-only
    assert(got(6L) === (("MOVED", "snap-live", (0L, 0L, 1L, 0L), 10L)))
  }

  test("snapshotPathListStatus: snapshot children differ from live") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val obj = Tables.objects(spark, d)
    val snap = CommitLog.snapshotPathListStatus(spark, obj, d,
      "vol2", "bucket5", ".snapshot/s1/warehouse/N")
      .as[(String, Boolean, Long, Long)].collect()
    assert(snap.nonEmpty && snap.forall(_._2))  // orderkey children: dirs
    // s1 is PRE-CHURN: the snapshot view must carry creation-time sizes,
    // so it differs from the APPLIED (post-churn) filesystem view on
    // churned children (vol2 is inside the churn scope: overwrites
    // doubled sizes, deletes dropped keys, renames minted .mv files)
    val live = CommitLog.appliedState(obj)
      .filter(col("volume") === "vol2" && col("bucket") === "bucket5" &&
        col("key").startsWith("warehouse/N/"))
      .withColumn("child", expr(
        "substring(key, length('warehouse/N/') + 1, " +
          "instr(substring(key, length('warehouse/N/') + 1), '/') - 1)"))
      .groupBy("child")
      .agg(org.apache.spark.sql.functions.sum("data_size")
        .as("total_size"))
      .as[(String, Long)].collect().toMap
    val snapMap = snap.map(r => r._1 -> r._4).toMap
    val common = snapMap.keySet intersect live.keySet
    assert(common.nonEmpty &&
      common.exists(c => snapMap(c) != live(c)))
    // unknown snapshot fails loudly
    intercept[IllegalArgumentException] {
      CommitLog.snapshotPathListStatus(spark, obj, d, "vol2", "bucket5",
        ".snapshot/ghost/warehouse/N")
    }
  }

  test("q_snapshot_diff conserves cardinality: CREATE - DELETE == " +
    "|v2| - |v1|") {
    val byType = SparkEntry.queries("q_snapshot_diff")(spark, sf)
      .groupBy("diff_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val Seq(creates, deletes) = Seq("CREATE", "DELETE").map(byType.getOrElse(_, 0L))
    assert(creates > 0 && deletes > 0)
    assert(creates - deletes ===
      Tables.snapshotV2(spark, sf).count() - Tables.snapshotV1(spark, sf).count())
  }
}
