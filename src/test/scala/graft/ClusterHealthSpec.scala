package graft

import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.operators.ClusterHealth

/** Cluster-health plane: balancer classification invariants, datanode
  * usage wiring, pipeline health verdicts, deleted-dir purge backlog. */
class ClusterHealthSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  test("balancer plan: limits bracket the average and every class is present") {
    val plan = ClusterHealth.balancerPlan(T.datanodes(spark, sf)).collect()
    val avg = plan.head.getAs[Long]("avg_utilization_bp")
    assert(plan.forall(_.getAs[Long]("avg_utilization_bp") == avg),
      "cluster average is a single value")
    // the fixture plants all three classes (spread (i*37)%80+5 vs ±10%)
    val byAction = plan.groupBy(_.getAs[String]("action")).view.mapValues(_.toSeq)
    assert(byAction.keySet == Set("OVER_UTILIZED", "UNDER_UTILIZED",
      "WITHIN_THRESHOLD"))
    byAction("OVER_UTILIZED").foreach { r =>
      assert(r.getAs[Long]("utilization_bp") > avg + 1000)
      assert(r.getAs[Long]("move_bytes") > 0)
    }
    byAction("UNDER_UTILIZED").foreach { r =>
      assert(r.getAs[Long]("utilization_bp") < avg - 1000)
      assert(r.getAs[Long]("move_bytes") > 0)
    }
    byAction("WITHIN_THRESHOLD").foreach { r =>
      assert(r.getAs[Long]("move_bytes") == 0)
    }
  }

  test("balancer plan excludes stale/dead/decommissioning/maintenance nodes") {
    val plan = ClusterHealth.balancerPlan(T.datanodes(spark, sf))
    val participating = plan.select("uuid").collect().map(_.getString(0)).toSet
    val ineligible = T.datanodes(spark, sf)
      .filter(col("state") =!= "HEALTHY" || col("op_state") =!= "IN_SERVICE")
      .select("uuid").collect().map(_.getString(0)).toSet
    assert(ineligible.nonEmpty)
    assert(participating.intersect(ineligible).isEmpty)
    assert(participating.size + ineligible.size == 20)
  }

  test("datanode usage: container totals cover the replica map exactly") {
    val usage = ClusterHealth.datanodeUsage(T.datanodes(spark, sf),
      T.replicas(spark, sf), T.pipelineMembers(spark, sf))
    assert(usage.count() == 20) // every node listed, with or without load
    val totalContainers = usage.agg(sum("containers")).head.getLong(0)
    val expected = T.replicas(spark, sf)
      .select("datanode", "container_id").distinct().count()
    assert(totalContainers == expected)
    // utilization is the storage-report identity, per node
    usage.collect().foreach { r =>
      val expectBp = (r.getAs[Long]("capacity") - r.getAs[Long]("remaining")) *
        10000 / r.getAs[Long]("capacity")
      assert(r.getAs[Long]("utilization_bp") == expectBp, r.getAs[String]("uuid"))
    }
  }

  test("pipeline health: EC pipelines are leaderless yet healthy when open") {
    val ph = ClusterHealth.pipelineHealth(T.pipelines(spark, sf),
      T.containersScm(spark, sf)).collect()
    assert(ph.length == 12)
    val ec = ph.filter(_.getAs[String]("replication").startsWith("EC/"))
    assert(ec.nonEmpty)
    ec.foreach { r =>
      assert(r.getAs[String]("leader_node") == null)
      assert(r.getAs[Boolean]("healthy") ==
        (r.getAs[String]("state") == "OPEN"))
    }
    // non-deleted containers all land on some pipeline
    val live = T.containersScm(spark, sf)
      .filter(col("state") =!= "DELETED").count()
    assert(ph.map(_.getAs[Long]("container_count")).sum == live)
  }

  test("safemode: all default rules pass; a raised datanode floor flips the exit") {
    def status(requiredDns: Long) = ClusterHealth.safemodeStatus(
      T.datanodes(spark, sf), T.pipelines(spark, sf),
      T.pipelineMembers(spark, sf), T.containersScm(spark, sf),
      T.replicas(spark, sf), requiredDns = requiredDns)
    val ok = status(1L).collect().map(r =>
      r.getAs[String]("rule") -> r.getAs[Boolean]("satisfied")).toMap
    assert(ok.size == 5 && ok.values.forall(identity))
    // the fixture registers 18 non-dead nodes; demanding 19 must fail the
    // DATANODE rule and hold the cluster in safemode
    val held = status(19L).collect().map(r =>
      r.getAs[String]("rule") -> r.getAs[Boolean]("satisfied")).toMap
    assert(!held("DATANODE") && !held("EXIT_SAFEMODE"))
    assert(held("CONTAINER") && held("HEALTHY_PIPELINE"))
  }

  test("block-deletion backlog covers every DELETE commit exactly once") {
    import graft.operators.CommitLog
    val objects = T.objects(spark, sf)
    val backlog = ClusterHealth.blockDeletionBacklog(objects)
    val deletes = CommitLog.synthesizeLog(objects)
      .filter(col("op") === "DELETE")
    assert(backlog.agg(sum("pending_txns")).head.getLong(0) == deletes.count())
    assert(backlog.agg(sum("pending_bytes")).head.getLong(0) ==
      deletes.agg(sum("data_size")).head.getLong(0))
    // a txn past the retry budget is expired, never more txns than exist
    backlog.collect().foreach { r =>
      assert(r.getAs[Long]("expired_txns") <= r.getAs[Long]("pending_txns"))
      assert(r.getAs[Long]("pending_blocks") >= r.getAs[Long]("pending_txns"))
    }
  }

  test("snapshot-path read serves pre-churn state and rejects unknown names") {
    import graft.operators.CommitLog
    val objects = T.objects(spark, sf)
    val snap = CommitLog.snapshotPathList(spark, objects, sf,
      "vol2", "bucket5", ".snapshot/s1/warehouse/N/", maxKeys = 1000000)
    // s1 precedes all churn: no doubled sizes, no .mv keys, deletes visible
    val live = CommitLog.appliedState(objects)
      .filter(col("volume") === "vol2" && col("bucket") === "bucket5" &&
        col("key").startsWith("warehouse/N/"))
    assert(snap.filter(col("key").endsWith(".mv")).count() == 0)
    val snapKeys = snap.select("key").collect().map(_.getString(0)).toSet
    val liveKeys = live.select("key").collect().map(_.getString(0)).toSet
    // churn deleted some keys from live that the snapshot still holds
    assert((snapKeys -- liveKeys).nonEmpty)
    intercept[IllegalArgumentException] {
      CommitLog.snapshotPathList(spark, objects, sf, "vol2", "bucket5",
        ".snapshot/nope/warehouse/", 10)
    }
    intercept[IllegalArgumentException] {
      CommitLog.snapshotPathList(spark, objects, sf, "vol2", "bucket5",
        "warehouse/N/", 10) // not a snapshot path
    }
  }

  test("decommission readiness classifies every monitor branch") {
    import spark.implicits._
    // micro-cluster: dnA decommissioning, dnB in maintenance, dnC/dnD/dnE
    // in service
    val dns = Seq(
      ("dnA", "DECOMMISSIONING"), ("dnB", "IN_MAINTENANCE"),
      ("dnC", "IN_SERVICE"), ("dnD", "IN_SERVICE"), ("dnE", "IN_SERVICE"))
      .toDF("uuid", "op_state")
    // container → (state, replicas): each picks one branch
    //  1 deleting; 2 sufficient via maintenance discount (2 healthy + 1
    //  maint ≥ minHealthy 2); 3 under-replicated on a decommissioning
    //  node (2 healthy < rf 3, no maintenance discount); 4 unclosed: the
    //  in-service replica disagrees with the CLOSED container; 5 unclosed:
    //  no in-service replica at all; 6 under-replicated: UNHEALTHY replica
    //  doesn't count as available
    val containers = Seq(
      (1L, "DELETED", 3), (2L, "CLOSED", 3), (3L, "CLOSED", 3),
      (4L, "CLOSED", 3), (5L, "CLOSED", 3), (6L, "CLOSED", 3))
      .toDF("container_id", "state", "replication_factor")
    val reps = Seq(
      (1L, "dnA", "CLOSED"), (1L, "dnC", "CLOSED"), (1L, "dnD", "CLOSED"),
      (2L, "dnB", "CLOSED"), (2L, "dnC", "CLOSED"), (2L, "dnD", "CLOSED"),
      (3L, "dnA", "CLOSED"), (3L, "dnC", "CLOSED"), (3L, "dnD", "CLOSED"),
      (4L, "dnA", "CLOSED"), (4L, "dnC", "QUASI_CLOSED"),
      (4L, "dnD", "CLOSED"), (4L, "dnE", "CLOSED"),
      (5L, "dnA", "CLOSED"), (5L, "dnB", "CLOSED"),
      (6L, "dnA", "CLOSED"), (6L, "dnC", "UNHEALTHY"), (6L, "dnD", "CLOSED"),
      (6L, "dnE", "CLOSED"))
      .toDF("container_id", "datanode", "replica_state")
    val out = ClusterHealth.decommissionReadiness(reps, dns, containers)
      .collect().map(r => r.getAs[String]("uuid") -> r).toMap
    val a = out("dnA")
    assert(a.getAs[Long]("total") == 5)
    assert(a.getAs[Long]("deleting") == 1)            // container 1
    assert(a.getAs[Long]("under_replicated") == 2)    // containers 3, 6
    assert(a.getAs[Long]("unclosed") == 2)            // containers 4, 5
    assert(a.getAs[Long]("sufficiently_replicated") == 0)
    assert(!a.getAs[Boolean]("can_proceed"))
    val b = out("dnB")
    // dnB tracks containers 2 (sufficient: its own maintenance copy
    // discounts the deficit, 2 healthy ≥ minHealthy) and 5 (unclosed)
    assert(b.getAs[Long]("total") == 2)
    assert(b.getAs[Long]("sufficiently_replicated") == 1)
    assert(b.getAs[Long]("unclosed") == 1)
    assert(!b.getAs[Boolean]("can_proceed"))
  }

  test("decommission readiness on the fixture agrees with first principles") {
    val sfd = sf
    val out = ClusterHealth.decommissionReadiness(T.replicas(spark, sfd),
      T.datanodes(spark, sfd), T.containersScm(spark, sfd)).collect()
    // exactly the 6 leaving nodes, every one blocked by the static fixture
    // (no re-replication ever happens in it)
    assert(out.map(_.getAs[String]("uuid")).sorted.toSeq ==
      Seq("dn11", "dn14", "dn17", "dn2", "dn5", "dn8"))
    assert(out.forall(!_.getAs[Boolean]("can_proceed")))
    // maintenance nodes keep most containers sufficient (minHealthy 2);
    // decommissioning nodes need the full factor back, so most block
    val byState = out.groupBy(_.getAs[String]("op_state"))
    assert(byState("IN_MAINTENANCE").forall(r =>
      r.getAs[Long]("sufficiently_replicated") >
        r.getAs[Long]("under_replicated")))
    assert(byState("DECOMMISSIONING").forall(r =>
      r.getAs[Long]("under_replicated") >
        r.getAs[Long]("sufficiently_replicated")))
  }

  test("EC recovery plan: availability, offline discounts, precedence") {
    import spark.implicits._
    val dns = Seq(("dnS", "IN_SERVICE"), ("dnS2", "IN_SERVICE"),
      ("dnD", "DECOMMISSIONING"), ("dnM", "IN_MAINTENANCE"))
      .toDF("uuid", "op_state")
    def s(c: Long, i: Long, dn: String, st: String = "CLOSED") =
      (c, i, dn, st)
    val shards = Seq(
      // c1: all 5 online → HEALTHY
      s(1, 1, "dnS"), s(1, 2, "dnS"), s(1, 3, "dnS"), s(1, 4, "dnS"),
      s(1, 5, "dnS"),
      // c2: index 5 lost → UNDER_REPLICATED, reconstruct 1
      s(2, 1, "dnS"), s(2, 2, "dnS"), s(2, 3, "dnS"), s(2, 4, "dnS"),
      // c3: only 2 distinct indexes left → UNRECOVERABLE
      s(3, 1, "dnS"), s(3, 2, "dnS"),
      // c4: index 4 only on a decommissioning node, index 5 only on
      // maintenance: still AVAILABLE (no reconstruction), OFFLINE_COPIES
      s(4, 1, "dnS"), s(4, 2, "dnS"), s(4, 3, "dnS"), s(4, 4, "dnD"),
      s(4, 5, "dnM"),
      // c5: index 1's only copy UNHEALTHY → missing; 4 online → UNDER
      s(5, 1, "dnS", "UNHEALTHY"), s(5, 2, "dnS"), s(5, 3, "dnS"),
      s(5, 4, "dnS"), s(5, 5, "dnS"),
      // c6: index 3 twice on in-service nodes → OVER_REPLICATED
      s(6, 1, "dnS"), s(6, 2, "dnS"), s(6, 3, "dnS"), s(6, 3, "dnS2"),
      s(6, 4, "dnS"), s(6, 5, "dnS"))
      .toDF("container_id", "replica_index", "datanode", "shard_state")
    val got = ClusterHealth.ecRecoveryPlan(shards, dns).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[String]("decision") === "HEALTHY")
    assert(got(2L).getAs[String]("decision") === "UNDER_REPLICATED")
    assert(got(2L).getAs[Long]("reconstruct_shards") === 1L)
    assert(got(3L).getAs[String]("decision") === "UNRECOVERABLE")
    assert(got(3L).getAs[Long]("reconstruct_shards") === 0L)
    assert(got(4L).getAs[String]("decision") === "OFFLINE_COPIES")
    assert(got(4L).getAs[Long]("missing_indexes") === 0L)
    assert(got(5L).getAs[String]("decision") === "UNDER_REPLICATED")
    assert(got(6L).getAs[String]("decision") === "OVER_REPLICATED")
    assert(got(6L).getAs[Long]("max_copies") === 2L)
  }

  test("new cluster queries keep catalog joins broadcast (plan quality)") {
    val sfd = sf
    val dec = ClusterHealth.decommissionReadiness(T.replicas(spark, sfd),
      T.datanodes(spark, sfd), T.containersScm(spark, sfd))
    dec.collect()
    assert(dec.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"), "decommission catalogs broadcast")
    val mr = ClusterHealth.merkleReconcile(
      T.objectsNested(spark, sfd), T.replicas(spark, sfd))
    mr.collect()
    // AQE prints Final + Initial sections; count only the final plan
    val mrPlan = mr.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the variant-tree rewrite: exactly ONE generator pass over the chunk
    // layout — a per-replica fan-out would explode once per replica join
    assert(mrPlan.split("Generate explode").length - 1 == 1,
      s"one layout explode expected in:\n$mrPlan")
    // round-5 decision queries: every catalog/request probe must stay a
    // broadcast join — a sort-merge exchange here means a control-plane
    // frame shuffled the data-plane side
    val placement = ClusterHealth.replicaPlacement(T.replicas(spark, sfd),
      T.datanodes(spark, sfd), T.containersScm(spark, sfd))
    placement.collect()
    assert(placement.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"), "placement node catalog broadcast")
    val delKey = graft.operators.CommitLog.keyDeleteDecisions(
      T.deleteKeyRequests(spark, sfd), T.objects(spark, sfd),
      T.buckets(spark, sfd),
      T.objects(spark, sfd)
        .withColumn("pdir",
          graft.operators.Aggregates.parentDirOf("key"))
        .filter(col("pdir") =!= "")
        .select(col("volume"), col("bucket"),
          explode(graft.operators.Aggregates.dirAndAncestors("pdir"))
            .as("path")).distinct())
    delKey.collect()
    val dkPlan = delKey.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(dkPlan.contains("BroadcastExchange") &&
      !dkPlan.contains("SortMergeJoin"),
      s"delete-key probes must all broadcast:\n$dkPlan")
  }

  test("round-7 additions keep data-plane joins broadcast (plan quality)") {
    val d = sf
    // iceberg: the corpus-sized data-file inventory must be touched by a
    // broadcast semi-probe, never a shuffle join
    val ib = graft.operators.IcebergOps.rewritePathCopyPlan(
      T.icebergVersions(spark, d), T.icebergSnapshots(spark, d),
      T.icebergManifests(spark, d), T.icebergDataFiles(spark, d),
      T.icebergStats(spark, d), 2L, 4L, T.IcebergSrc,
      "o3://vol9/backup/wh/", "o3://vol0/bucket0/staging/")
    ib.collect()
    val ibPlan = ib.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(ibPlan.contains("BroadcastExchange") &&
      !ibPlan.contains("SortMergeJoin"),
      s"iceberg data-file probe must broadcast:\n$ibPlan")
    // storage distribution: six 1-row aggregates composed — no
    // cartesian product over anything data-sized, no shuffle join
    val sd = ClusterHealth.storageDistribution(
      T.datanodes(spark, d), T.objects(spark, d),
      T.nsSummaryMixed(spark, d), T.openKeys(spark, d),
      T.multipartParts(spark, d), T.deletedDirs(spark, d))
    sd.collect()
    val sdPlan = sd.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!sdPlan.contains("SortMergeJoin") &&
      !sdPlan.contains("CartesianProduct"),
      s"storage distribution must stay broadcast-composed:\n$sdPlan")
    // container keys page: the page must be a TOP-K over one
    // container's slice (TakeOrderedAndProject), never a global sort,
    // and the total-count side must not shuffle-join the page side
    val ck = graft.operators.Joins.containerKeysPage(
      T.objects(spark, d), 42L, 25)
    ck.collect()
    val ckPlan = ck.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(ckPlan.contains("TakeOrderedAndProject") &&
      !ckPlan.contains("SortMergeJoin"),
      s"container page must be top-k + broadcast:\n$ckPlan")
  }

  test("merkle reconciliation flags exactly the diverging replicas") {
    val sfd = sf
    val out = ClusterHealth.merkleReconcile(
      T.objectsNested(spark, sfd), T.replicas(spark, sfd)).collect()
    val byContainer = out.groupBy(_.getAs[Long]("container_id"))
    byContainer.foreach { case (cid, reps) =>
      val flagged = reps.filter(_.getAs[Boolean]("needs_reconcile"))
      if (cid % 29 == 0) {
        // the UNHEALTHY replica's tree diverges; with >= 3 replicas the
        // healthy majority wins and exactly one replica repairs. A 2-way
        // 1:1 split (also %13: one replica lost) resolves by the
        // smallest-checksum tiebreak — exactly one side still repairs.
        assert(flagged.length == 1, s"container $cid")
        assert(reps.map(_.getAs[Long]("agree_count")).max ==
          reps.length - 1 || reps.length == 2, s"container $cid")
      } else {
        // all replicas hold identical trees — nobody repairs
        assert(flagged.isEmpty, s"container $cid")
        assert(reps.forall(_.getAs[Long]("agree_count") == reps.length),
          s"container $cid")
      }
    }
    // the checksum itself is order-dependent through both rollup levels:
    // permuting the input rows must not change any tree root
    val shuffled = ClusterHealth.merkleReconcile(
      T.objectsNested(spark, sfd).repartition(7), T.replicas(spark, sfd))
      .collect()
    assert(shuffled.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet === out.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet)
  }

  test("balancer moves: budget respected, no target collision, over→under") {
    val moves = ClusterHealth.balancerMoves(T.datanodes(spark, sf),
      T.replicas(spark, sf), T.containersScm(spark, sf)).cache()
    assert(moves.count() > 0)
    val plan = ClusterHealth.balancerPlan(T.datanodes(spark, sf))
    val classes = plan.collect()
      .map(r => r.getString(0) -> r.getString(5)).toMap
    val reps = T.replicas(spark, sf)
      .select("container_id", "datanode").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    moves.collect().foreach { m =>
      val (src, tgt, cid) = (m.getString(0), m.getString(1), m.getLong(2))
      assert(classes(src) === "OVER_UTILIZED", src)
      assert(classes(tgt) === "UNDER_UTILIZED", tgt)
      assert(reps.contains((cid, src)), s"$cid must sit on source $src")
      assert(!reps.contains((cid, tgt)), s"$cid already on target $tgt")
    }
    // largest-first fill: within a source, sizes never increase
    moves.collect().groupBy(_.getString(0)).values.foreach { ms =>
      val sizes = ms.sortBy(_.getLong(4)).map(_.getLong(3))
      assert(sizes.sameElements(sizes.sortBy(-(_: Long))), "size order")
    }
    moves.unpersist()
  }

  test("replica placement honors exclusion, rack spread, space, fallback") {
    import spark.implicits._
    // 4 nodes, 2 racks; c1 under by 1 (copies on dnA1/dnA2 = rack A) →
    // must pick a rack-B node, the freer one; c2's only copy is UNHEALTHY
    // on dnA1 (rack A NOT counted as covered) and needs 2: first pick is
    // the freest non-holder (dnB1), second must avoid rack B → dnA2;
    // c3 under by 1 but every candidate is space-short except dnA2 → c3
    // falls back to the only node with room even though it shares rack A
    val nodes = Seq(
      ("dnA1", "rackA", "HEALTHY", "IN_SERVICE", 9000000000000L),
      ("dnA2", "rackA", "HEALTHY", "IN_SERVICE", 8000000000000L),
      ("dnB1", "rackB", "HEALTHY", "IN_SERVICE", 9500000000000L),
      ("dnB2", "rackB", "HEALTHY", "IN_SERVICE", 6L * 1024 * 1024 * 1024))
      .toDF("uuid", "rack", "state", "op_state", "remaining")
    val reps = Seq(
      (1L, "dnA1", "rackA", "CLOSED"), (1L, "dnA2", "rackA", "CLOSED"),
      (2L, "dnA1", "rackA", "UNHEALTHY"),
      (3L, "dnB1", "rackB", "CLOSED"), (3L, "dnA1", "rackA", "CLOSED"))
      .toDF("container_id", "datanode", "rack", "replica_state")
    val conts = Seq(
      (1L, "CLOSED", 3, 1000000L), (2L, "CLOSED", 3, 1000000L),
      (3L, "CLOSED", 3, 7L * 1024 * 1024 * 1024))
      .toDF("container_id", "state", "replication_factor", "used_bytes")
    val got = ClusterHealth.replicaPlacement(reps, nodes, conts)
      .as[(Long, Long, String, String, Boolean)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, "dnB1", "rackB", true),
      (2L, 1L, "dnB1", "rackB", true),
      (2L, 2L, "dnA2", "rackA", true),
      (3L, 1L, "dnA2", "rackA", false)))
  }

  test("deleted-dir backlog equals a direct subtree scan per deleted dir") {
    val objects = T.objectsMixed(spark, sf)
    val insight = SparkEntry.queries("q_deleted_dirs")(spark, sf)
    val got = insight.select("volume", "bucket", "dir", "pending_files",
      "pending_bytes").collect()
    assert(got.nonEmpty)
    // spot-check 3 dirs against a per-dir prefix scan (the naive oracle)
    got.take(3).foreach { r =>
      val naive = objects
        .filter(col("volume") === r.getString(0) &&
          col("bucket") === r.getString(1) &&
          (col("key").startsWith(r.getString(2) + "/")))
        .agg(count(lit(1)), coalesce(sum("data_size"), lit(0L)))
        .head
      assert(r.getAs[Long]("pending_files") == naive.getLong(0), r.getString(2))
      assert(r.getAs[Long]("pending_bytes") == naive.getLong(1), r.getString(2))
    }
  }

  test("replicationQueue: dead gone, OOS weight 5, priority order") {
    import spark.implicits._
    val dns = Seq(
      ("dn0", "HEALTHY", "IN_SERVICE"),
      ("dn1", "HEALTHY", "IN_SERVICE"),
      ("dn2", "HEALTHY", "DECOMMISSIONING"),
      ("dn3", "DEAD", "IN_SERVICE"),
      ("dn4", "STALE", "IN_SERVICE"))
      .toDF("uuid", "state", "op_state")
    val reps = Seq(
      // c1: one live copy (one DEAD) → remaining 0, worst priority
      (1L, "dn0", "CLOSED"), (1L, "dn3", "CLOSED"),
      // c2: two live in-service → remaining 1
      (2L, "dn0", "CLOSED"), (2L, "dn1", "CLOSED"),
      // c3: 2 in-service + 1 decommissioning = whole → OOS, weight 5
      (3L, "dn0", "CLOSED"), (3L, "dn1", "CLOSED"), (3L, "dn2", "CLOSED"),
      // c4: STALE still counts as available → NOT queued (3 available)
      (4L, "dn0", "CLOSED"), (4L, "dn1", "CLOSED"), (4L, "dn4", "CLOSED"),
      // c5: all copies dead → nothing left, a MISSING case, not queued
      (5L, "dn3", "CLOSED"))
      .toDF("container_id", "datanode", "replica_state")
    val ctrs = Seq((1L, 3L, "CLOSED"), (2L, 3L, "CLOSED"),
      (3L, 3L, "CLOSED"), (4L, 3L, "CLOSED"), (5L, 3L, "CLOSED"))
      .toDF("container_id", "replication_factor", "state")
    val got = graft.operators.ClusterHealth
      .replicationQueue(reps, dns, ctrs)
      .select("queue_pos", "container_id", "weighted_redundancy",
        "due_to_out_of_service")
      .as[(Int, Long, Long, Boolean)].collect().toList
    // order: c1 (weight 0) < c2 (weight 1) < c3 (OOS weight 5)
    assert(got === List((1, 1L, 0L, false), (2, 2L, 1L, false),
      (3, 3L, 5L, true)))
  }

  test("containerReportFold: FCR boundary replaces, ICR upserts/removes") {
    import spark.implicits._
    val ev = Seq(
      (1L, "dnA", "FCR", 1L, "CLOSED"),
      (1L, "dnA", "FCR", 2L, "CLOSED"),
      (2L, "dnA", "ICR", 3L, "CLOSED"),    // voided by the later FCR
      (3L, "dnA", "ICR", 1L, "DELETED"),   // voided by the later FCR
      (4L, "dnA", "FCR", 1L, "QUASI_CLOSED"), // FULL report: only c1 now
      (5L, "dnA", "ICR", 4L, "CLOSED"),    // post-boundary add survives
      (1L, "dnB", "FCR", 9L, "CLOSED"),
      (2L, "dnB", "ICR", 9L, "DELETED"))   // post-boundary remove
      .toDF("seq", "datanode", "kind", "container_id", "replica_state")
    val got = graft.operators.ClusterHealth.containerReportFold(ev)
      .as[(String, Long, String)].collect().toSet
    // dnA: c2 and c3 vanished with the second FCR (not in the report);
    // the pre-boundary DELETE of c1 is void — c1 lives as QUASI_CLOSED
    assert(got === Set(
      ("dnA", 1L, "QUASI_CLOSED"), ("dnA", 4L, "CLOSED")))
  }

  test("storageDistribution: one-row composite, identities hold") {
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val row = graft.operators.ClusterHealth.storageDistribution(
      T.datanodes(spark, d), T.objects(spark, d),
      T.nsSummaryMixed(spark, d), T.openKeys(spark, d),
      T.multipartParts(spark, d), T.deletedDirs(spark, d)).collect().head
    def g(c: String): Long = row.getAs[Long](c)
    // the namespace identity the endpoint publishes
    assert(g("total_used_namespace") ===
      g("pending_dir_bytes") + g("pending_key_bytes") +
        g("open_key_bytes") + g("finalized_key_bytes"))
    // the fixture's storage identity: remaining = capacity - used - 5%
    assert(g("total_remaining") ===
      g("total_capacity") - g("total_used") - g("total_reserved"))
    // pending+finalized partition the objects table's replicated bytes
    val allRepl = T.objects(spark, d)
      .agg(org.apache.spark.sql.functions.sum("replicated_size"))
      .collect().head.getLong(0)
    assert(g("pending_key_bytes") + g("finalized_key_bytes") === allRepl)
    assert(g("total_keys") > 0 && g("open_key_bytes") > 0 &&
      g("open_mpu_bytes") > 0 && g("pending_dir_bytes") > 0)
  }

  test("blocksPendingDeletionPage: stitched pages cover the full walk") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    def page(prev: Long, limit: Int) =
      graft.operators.ClusterHealth.blocksPendingDeletionPage(
        T.objects(spark, d), T.containersScm(spark, d), prev, limit)
        .as[(String, Long, Long, Long)].collect()
    val all = page(0L, Int.MaxValue)
    assert(all.nonEmpty && all.map(_._1).distinct.sorted ===
      Array("CLOSED", "DELETED"))
    // txIDs are unique after KV canonicalization (resume token is sound)
    assert(all.map(_._2).distinct.length === all.length)
    // walk limit=7 pages to exhaustion; every page obeys the per-state
    // cap and the watermark cut, and the stitched walk equals the full
    var prev = 0L
    var seen = Vector.empty[(String, Long, Long, Long)]
    var done = false
    while (!done) {
      val p = page(prev, 7)
      if (p.isEmpty) done = true
      else {
        assert(p.groupBy(_._1).values.forall(_.length <= 7))
        // the page ends exactly where one state filled its cap (or the
        // table ended): nothing beyond the max txn was emitted
        prev = p.map(_._2).max
        seen ++= p
      }
    }
    assert(seen.sortBy(_._2) === all.sortBy(_._2).toVector)
  }

  test("blockAckFold: superset purge rule, under-replication pins txns") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val rows = graft.operators.ClusterHealth.blockAckFold(
      T.objects(spark, d), T.replicas(spark, d))
      .as[(Long, Long, Long, Long, Long, String)].collect()
    assert(rows.map(_._6).toSet ===
      Set("PURGED", "WAITING_ALL_REPLICAS", "PENDING"))
    rows.foreach { case (txn, cid, nRep, nComm, nMiss, status) =>
      // purge REQUIRES the full current replica set acked
      if (status == "PURGED") assert(nMiss === 0L && nComm >= 3L)
      // an under-replicated container can never purge its txns
      if (nRep < 3) assert(status === "PENDING")
      // fully-acked txns on healthy containers always purge
      if (nMiss == 0 && nRep >= 3) assert(status === "PURGED")
      // a quorum reached only through the stale/foreign ack waits
      if (nComm >= 3 && nMiss > 0 && nRep >= 3)
        assert(status === "WAITING_ALL_REPLICAS")
    }
  }

  test("overReplicationPlan: handler rungs re-derived on fixture math") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val rows = graft.operators.ClusterHealth.overReplicationPlan(
      T.replicas(spark, d), T.datanodes(spark, d),
      T.containersScm(spark, d))
      .as[(Long, String, String, String, String)].collect()
    val v = rows.map(r => (r._1, r._2) -> r._5).toMap
    // cid 238 is QUASI_CLOSED with a duplicate origin (dn19 re-registered
    // from dn0): one replica per unique origin is SAVED, the non-unique
    // dn19 is state-mismatched and deletes first
    assert(v((238L, "dn0")) === "SAVED_UNIQUE_ORIGIN")
    assert(v((238L, "dn1")) === "SAVED_UNIQUE_ORIGIN")
    assert(v((238L, "dn18")) === "SAVED_UNIQUE_ORIGIN")
    assert(v((238L, "dn19")) === "DELETE_MISMATCH")
    // cid 578/918: four matched replicas on four racks — removing one
    // keeps placement satisfied; the first in sort order deletes
    assert(v((578L, "dn0")) === "DELETE_EXCESS")
    assert(v((918L, "dn0")) === "DELETE_EXCESS")
    assert(v((578L, "dn18")) === "KEEP" && v((578L, "dn19")) === "KEEP")
    // cid 459: dn2 is DECOMMISSIONING → not eligible; the 3 surviving
    // candidates sit on 3 distinct racks, so ANY removal would break
    // placement — everything keeps, the excess requeues
    assert(v((459L, "dn2")) === "NOT_ELIGIBLE_OP_STATE")
    assert(v((459L, "dn0")) === "KEEP" && v((459L, "dn1")) === "KEEP" &&
      v((459L, "dn19")) === "KEEP")
    // a container that loses a replica to a stale/dead node is NOT
    // over-replicated after the health filter
    assert(rows.exists(r => r._5 == "FILTERED_NODE") &&
      rows.exists(r => r._5 == "NOT_OVER"))
    // never delete more than one replica per container (excess ≤ 1)
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.count(_._5.startsWith("DELETE")) <= 1)
    }
  }

  test("pipelineCreatePlan: viable filter, anchor/rack walk, fallbacks") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val v = graft.operators.ClusterHealth.pipelineCreatePlan(
      T.datanodes(spark, d), T.pipelines(spark, d),
      T.pipelineMembers(spark, d))
      .as[(String, String, Long, Long, String)].collect()
      .map(r => r._1 -> r._5).toMap
    // dn0 carries two live Ratis/THREE pipelines — at the limit
    assert(v("dn0") === "EXCLUDED_PIPELINE_LIMIT")
    assert(v("dn3") === "EXCLUDED_HEALTH")     // stale beats its limit
    assert(v("dn2") === "EXCLUDED_OP_STATE")   // decommissioning
    assert(v("dn15") === "EXCLUDED_SPACE")     // 600G < 701G required
    // least-engaged viable node anchors; ties break by name
    assert(v("dn1") === "ANCHOR")
    assert(v("dn18") === "SECOND_DIFF_RACK")
    // no viable node shares the anchor's or second's rack → fallback
    assert(v("dn19") === "THIRD_FALLBACK")
    assert(v("dn7") === "VIABLE_UNUSED" && v("dn9") === "VIABLE_UNUSED")

    // micro-fixture: a spare node on the ANCHOR's rack is preferred for
    // the third slot (the reference's bCheckNodeInAnchorRack branch)
    val dns = Seq(
      ("dnA", "rack0", "HEALTHY", "IN_SERVICE", 900000000000L),
      ("dnB", "rack1", "HEALTHY", "IN_SERVICE", 900000000000L),
      ("dnC", "rack0", "HEALTHY", "IN_SERVICE", 900000000000L),
      ("dnD", "rack2", "HEALTHY", "IN_SERVICE", 900000000000L))
      .toDF("uuid", "rack", "state", "op_state", "remaining")
    val noPipes = Seq.empty[(String, String, String)]
      .toDF("pipeline_id", "replication", "state")
    val noMembers = Seq.empty[(String, String)]
      .toDF("pipeline_id", "datanode")
    val micro = graft.operators.ClusterHealth.pipelineCreatePlan(
      dns, noPipes, noMembers)
      .select("uuid", "verdict").as[(String, String)].collect().toMap
    assert(micro("dnA") === "ANCHOR")
    assert(micro("dnB") === "SECOND_DIFF_RACK")
    assert(micro("dnC") === "THIRD_ANCHOR_RACK")
    assert(micro("dnD") === "VIABLE_UNUSED")

    // single-rack cluster: no SECOND pick exists, but the walk still
    // mints a third from the anchor's rack (the reference's fallback
    // path keeps picking; only rack-awareness is off)
    val oneRack = Seq(
      ("dnA", "rack0", "HEALTHY", "IN_SERVICE", 900000000000L),
      ("dnB", "rack0", "HEALTHY", "IN_SERVICE", 900000000000L),
      ("dnC", "rack0", "HEALTHY", "IN_SERVICE", 900000000000L))
      .toDF("uuid", "rack", "state", "op_state", "remaining")
    val got1 = graft.operators.ClusterHealth.pipelineCreatePlan(
      oneRack, noPipes, noMembers)
      .select("uuid", "verdict").as[(String, String)].collect().toMap
    assert(got1("dnA") === "ANCHOR")
    assert(got1("dnB") === "THIRD_ANCHOR_RACK")
    assert(got1("dnC") === "VIABLE_UNUSED")
  }

  test("quasiClosedStuckCount: per-origin targets, maintenance floors") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val rows = graft.operators.ClusterHealth.quasiClosedStuckCount(
      T.replicas(spark, d), T.datanodes(spark, d),
      T.containersScm(spark, d))
      .select("container_id", "origin", "is_best", "target", "status",
        "under_delta")
      .as[(Long, String, Boolean, Int, String, Long)].collect()
    val v = rows.map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // cid 119: dn19 holds the max BCSID → best origin, target 2, but it
    // has a single in-service copy → UNDER by 1; other origins target 1
    assert(v((119L, "dn19")) === ((true, 2, "UNDER_REPLICATED", 1L)))
    assert(v((119L, "dn1")) === ((false, 1, "OK", 0L)))
    // cid 476: origin dn17's only copy is on a maintenance node → the
    // one-online floor trips
    assert(v((476L, "dn17")) === ((false, 1, "UNDER_REPLICATED", 1L)))
    // cid 357: single-origin (%3==0) with a maintenance copy — the
    // minHealthyForMaintenance floor (2) is met by 3 in-service copies
    val c357 = rows.filter(_._1 == 357L)
    assert(c357.length === 1 && c357.head._4 === 3 &&
      c357.head._5 === "OK")
    // cid 952: origin dn14 sits on a DECOMMISSIONING node (not
    // maintenance) → plain under-replication against target 1
    assert(v((952L, "dn14")) === ((false, 1, "UNDER_REPLICATED", 1L)))

    // micro-fixture: UNHEALTHY replicas never define the best origin
    val reps = Seq(
      (119L, "dn1", "rackA", "CLOSED"),
      (119L, "dn2", "rackB", "CLOSED"),
      (119L, "dn3", "rackC", "UNHEALTHY"),
      (119L, "dn4", "rackD", "CLOSED"))
      .toDF("container_id", "datanode", "rack", "replica_state")
    val dns = Seq(("dn1", "IN_SERVICE"), ("dn2", "IN_SERVICE"),
      ("dn3", "IN_SERVICE"), ("dn4", "IN_SERVICE"))
      .toDF("uuid", "op_state")
      .withColumn("state", lit("HEALTHY"))
    val conts = Seq((119L, "QUASI_CLOSED", 3))
      .toDF("container_id", "state", "replication_factor")
    val micro = graft.operators.ClusterHealth.quasiClosedStuckCount(
      reps, dns, conts)
      .select("origin", "is_best", "status")
      .as[(String, Boolean, String)].collect().map(r => r._1 -> r).toMap
    // dn4 re-registered from origin dn1 (max name → min origin): its
    // BCSID is the healthy max, so origin dn1 is best with 2 in-service
    // copies; dn3's UNHEALTHY copy outranks dn2's BCSID but can't be best
    assert(micro("dn1")._2 === true)
    assert(micro("dn3")._2 === false)
    assert(micro("dn1")._3 === "OK")
  }

  test("misReplicationPlan: stability gates, rack walk, shortfalls") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val rows = graft.operators.ClusterHealth.misReplicationPlan(
      T.replicas(spark, d), T.datanodes(spark, d),
      T.containersScm(spark, d))
      .as[(Long, String, String, String, Long)].collect()
    val v = rows.map(r => (r._1, r._2) -> ((r._4, r._5))).toMap
    // cid 23: all three replicas on one rack (the %23 skew), but dn3 is
    // STALE, dn8 DECOMMISSIONING, dn13 DEAD — zero copyable sources, the
    // violation is unfixable this pass (shortfall 2)
    assert(v((23L, "dn3")) === (("STAY", 2L)))
    assert(v((23L, "dn8")) === (("STAY", 2L)))
    assert(v((23L, "dn13")) === (("STAY", 2L)))
    // cid 69: dns 9/14/19 share rack4; dn14 is DECOMMISSIONING so the
    // name-ordered sources dn19, dn9 → first two copy... sources are
    // dn19 and dn9: ranks by name dn19 < dn9 — both copy, dn14 stays
    assert(v((69L, "dn19")) === (("COPY", 0L)))
    assert(v((69L, "dn9")) === (("COPY", 0L)))
    assert(v((69L, "dn14")) === (("STAY", 0L)))
    // pending ops skip the whole container; unstable counts skip too
    assert(rows.filter(_._1 == 46L).forall(_._4 == "SKIP_PENDING"))
    assert(rows.filter(_._1 == 299L).forall(_._4 == "SKIP_NOT_STABLE"))
    // a well-spread container is not touched
    assert(rows.filter(_._1 == 1L).forall(_._4 == "NOT_MISREPLICATED"))
  }

  test("dnDispatchLadder: state gate, running BCSID fence, read probes") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val got = graft.operators.ClusterHealth.dnDispatchLadder(
      T.dnOps(spark, d), T.dnContainers(spark, d))
      .as[(Long, Long, String, String, Long)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    // put advances the container BCSID; its Ratis replay is fenced
    assert(got(1L) === (("APPLIED", 11L)))
    assert(got(2L) === (("REPLAY_IGNORED", 11L)))
    assert(got(3L) === (("REPLAY_IGNORED", 11L)))
    // reads: at the BCSID ok, above it unknown, missing block, stale
    // stored block
    assert(got(4L) === (("OK", 11L)))
    assert(got(5L) === (("UNKNOWN_BCSID", 11L)))
    assert(got(6L) === (("NO_SUCH_BLOCK", 11L)))
    assert(got(7L) === (("BCSID_MISMATCH", 11L)))
    // write gate by container state; reads stay legal on CLOSED
    assert(got(8L)._1 === "CLOSED_CONTAINER_IO")
    assert(got(9L) === (("OK", 50L)))
    assert(got(10L)._1 === "CONTAINER_UNHEALTHY")
    assert(got(11L)._1 === "INVALID_CONTAINER_STATE")
    assert(got(12L)._1 === "APPLIED")  // CLOSING followers still apply
    assert(got(13L) === (("APPLIED", 1L)))
    assert(got(14L)._1 === "CLOSED_CONTAINER_IO")
    assert(got(15L)._1 === "UNSUPPORTED_OP")
    // a bcsId-0 put (non-Ratis) skips the replay fence
    assert(got(16L) === (("APPLIED", 0L)))
    assert(got(17L)._1 === "UNKNOWN_BCSID")
  }

  test("containerLifecycleFold: DAG walk, idempotent replays, invalids") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.ClusterHealth.containerLifecycleFold(
      graft.core.Tables.containerLifecycleEvents(spark, d))
      .as[(Long, Long, String, String, String, String)].collect()
      .map(r => (r._1, r._2) -> ((r._4, r._5, r._6))).toMap
    // happy path; a replayed CLEANUP is idempotent
    assert(got((1L, 4L)) === (("DELETING", "DELETED", "TRANSITIONED")))
    assert(got((1L, 5L)) === (("DELETED", "DELETED", "IDEMPOTENT_NOOP")))
    // CLOSE at QUASI_CLOSED is INVALID — only FORCE_CLOSE closes it
    assert(got((2L, 3L)) ===
      (("QUASI_CLOSED", "QUASI_CLOSED", "INVALID_IGNORED")))
    assert(got((2L, 4L)) === (("QUASI_CLOSED", "CLOSED", "TRANSITIONED")))
    // invalid events don't derail the stream; replays are no-ops
    assert(got((3L, 1L)) === (("OPEN", "OPEN", "INVALID_IGNORED")))
    assert(got((3L, 3L)) === (("CLOSING", "CLOSING", "IDEMPOTENT_NOOP")))
    assert(got((3L, 6L)) === (("DELETING", "DELETED", "TRANSITIONED")))
    // DELETE/CLEANUP can't jump the DAG from OPEN
    assert(got((4L, 1L))._3 === "INVALID_IGNORED")
    assert(got((4L, 2L))._3 === "INVALID_IGNORED")
    assert(got((4L, 3L)) === (("OPEN", "CLOSING", "TRANSITIONED")))
    // QUASI_CLOSE and FORCE_CLOSE are no-ops once CLOSED
    assert(got((5L, 3L)) === (("CLOSED", "CLOSED", "IDEMPOTENT_NOOP")))
    assert(got((5L, 4L)) === (("CLOSED", "CLOSED", "IDEMPOTENT_NOOP")))
  }

  test("pipelineScrub: allocated/closed timeouts, unregistered closes") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val v = graft.operators.ClusterHealth.pipelineScrub(
      T.pipelines(spark, d), T.pipelineMembers(spark, d),
      T.datanodes(spark, d))
      .as[(String, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    // young ALLOCATED retained, stale ALLOCATED scrubbed
    assert(v("pipeline-3") === (("ALLOCATED", "RETAIN")))
    assert(v("pipeline-8") === (("ALLOCATED", "CLOSE_AND_DELETE")))
    // young CLOSED retained, expired CLOSED deleted
    assert(v("pipeline-2") === (("CLOSED", "RETAIN")))
    assert(v("pipeline-7") === (("CLOSED", "DELETE")))
    // OPEN Ratis ring with dead (unregistered) members closes — and so
    // does the EC ring the datanodes would never self-close
    assert(v("pipeline-6") === (("OPEN", "CLOSE")))
    assert(v("pipeline-5") === (("OPEN", "CLOSE")))
    assert(v("pipeline-0") === (("OPEN", "RETAIN")))
    assert(v("pipeline-11") === (("OPEN", "RETAIN")))
  }

  test("node health fold == a literal NodeStateManager walk (captured-" +
    "status double updates, skip guard, hysteresis)") {
    // Imperative re-derivation of NodeStateManager.checkNodesHealth:
    // the two updates run SEQUENTIALLY against the status captured at
    // tick start, each consulting the state machine from that captured
    // state — exactly the Java shape, not the fold's netted CASE. If
    // the netting in nodeHealthFold is wrong anywhere, this diverges.
    val staleMs = 300000L; val deadMs = 600000L; val scmMlv = 3L
    val sm = Map[(String, String), String](
      ("HEALTHY", "TIMEOUT") -> "STALE",
      ("HEALTHY", "LAYOUT_MISMATCH") -> "HEALTHY_READONLY",
      ("HEALTHY_READONLY", "LAYOUT_MATCH") -> "HEALTHY",
      ("HEALTHY_READONLY", "TIMEOUT") -> "STALE",
      ("STALE", "TIMEOUT") -> "DEAD",
      ("STALE", "RESTORE") -> "HEALTHY_READONLY",
      ("DEAD", "RESURRECT") -> "HEALTHY_READONLY")
    val ev2state = Map("STALE" -> "STALE_NODE", "DEAD" -> "DEAD_NODE",
      "HEALTHY" -> "HEALTHY_READONLY_TO_HEALTHY_NODE",
      "HEALTHY_READONLY" -> "HEALTHY_READONLY_NODE")
    val nodeEvs = T.nodeHealthEvents(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2), r.getLong(3)))
    val checks = T.nodeHealthChecks(spark, sf)
      .collect().map(_.getLong(0)).sorted
    val expected = nodeEvs.map(_._1).distinct.sorted.flatMap { u =>
      val evs = (nodeEvs.filter(_._1 == u)
        .map(e => (e._2, e._3, e._4)) ++
        checks.map(t => (t, "CHECK", -1L))).sortBy(_._1)
      var state = ""; var lastHb = -1L; var lastChk = 0L; var mlv = -1L
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Int, String, String, Long, String)]
      for ((ts, kind, m) <- evs) kind match {
        case "REGISTER" =>
          state = if (m != scmMlv) "HEALTHY_READONLY" else "HEALTHY"
          lastHb = ts; mlv = m
        case "HB" => lastHb = ts; mlv = m
        case "CHECK" =>
          val skipped = ts - lastChk >= math.min(staleMs, deadMs)
          lastChk = ts
          if (state.nonEmpty) {
            val before = state
            val fired = scala.collection.mutable.ArrayBuffer.empty[String]
            if (!skipped) {
              // captured status: every updateNodeState in one tick keys
              // the SM on `before`, while writes land on `state`
              def update(cond: Boolean, event: String): Unit =
                if (cond) sm.get((before, event)).foreach { next =>
                  state = next; ev2state.get(next).foreach(fired += _)
                }
              val staleC = lastHb < ts - staleMs
              val deadC = lastHb < ts - deadMs
              val healthyC = lastHb >= ts - staleMs
              before match {
                case "HEALTHY" =>
                  update(mlv != scmMlv, "LAYOUT_MISMATCH")
                  update(staleC, "TIMEOUT")
                case "HEALTHY_READONLY" =>
                  update(mlv == scmMlv, "LAYOUT_MATCH")
                  update(staleC, "TIMEOUT")
                case "STALE" =>
                  update(deadC, "TIMEOUT")
                  update(healthyC, "RESTORE")
                case "DEAD" =>
                  update(healthyC, "RESURRECT")
              }
            }
            rows += ((u, ts, if (skipped) 1 else 0, before, state,
              lastHb, fired.mkString(",")))
          }
      }
      rows
    }
    val got = ClusterHealth.nodeHealthFold(
      T.nodeHealthEvents(spark, sf), T.nodeHealthChecks(spark, sf))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getString(3), r.getString(4), r.getLong(5), r.getString(6)))
    assert(got.toSeq === expected.toSeq)
    // the fixture actually exercises the interesting bands
    val allFired = got.flatMap(_._7.split(",")).filter(_.nonEmpty)
    assert(allFired.toSet === Set("STALE_NODE", "DEAD_NODE",
      "HEALTHY_READONLY_NODE", "HEALTHY_READONLY_TO_HEALTHY_NODE"))
    assert(got.exists(r => r._7.contains(",")), "a double-fire tick")
    assert(got.exists(_._3 == 1), "a skipped tick")
    assert(got.count(_._1 == "dn9") == 7, "dn9 joins mid-stream")
  }

  test("underReplicationPlan: handler rungs hand-derived on fixture math") {
    val plan = ClusterHealth.underReplicationPlan(
      T.datanodes(spark, sf), T.containersScm(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") -> r).toMap
    def v(c: Long) = plan(c).getAs[String]("verdict")
    // 290 = 58*5: QUASI_CLOSED, its UNHEALTHY copy sits on dn11
    // (IN_MAINTENANCE, healthy) with a unique origin → vulnerable rescue
    assert(v(290) === "REPLICATE_VULNERABLE")
    assert(plan(290).getAs[Long]("n_commands") === 1L)
    // 464 = 58*8 ∩ 116*4: same shape but a pending add covers it
    assert(v(464) === "SKIP_VULNERABLE_PENDING")
    // 58 itself: the UNHEALTHY copy is on an IN_SERVICE healthy node →
    // its own origin is safe → plain under-replication of the QC pair
    assert(v(58) === "REPLICATE")
    assert(plan(58).getAs[Long]("needed") === 1L)
    // 106 = 2*53: QUASI_CLOSED with every replica empty → the
    // EmptyContainerHandler owns it
    assert(v(106) === "SKIP_EMPTY_QC")
    // 403 = 13*31: one copy short but a pending add lands
    assert(v(403) === "PENDING_FIX")
    // 122 = 2*61: zero replicas
    assert(v(122) === "UNRECOVERABLE")
    // 59: all three copies UNHEALTHY — already "sufficient" counting them
    assert(v(59) === "PENDING_UNHEALTHY_FIX")
    // 767 = 13*59: two UNHEALTHY copies only → UNHEALTHY sources allowed
    assert(v(767) === "REPLICATE")
    assert(plan(767).getAs[Long]("n_sources") === 2L)
    // 871 = 13*67: two CLOSING copies — healthy but never sources
    assert(v(871) === "NO_SOURCES")
    // 559 = 13*43: the first copy is a stale BCSID → only dn0 sources
    assert(v(559) === "REPLICATE")
    assert(plan(559).getAs[String]("src_dns") === "dn0")
    // 481 = 13*37: pending delete of dn1 excludes it from sources AND
    // raises the needed count (delete assumed to complete)
    assert(v(481) === "REPLICATE")
    assert(plan(481).getAs[String]("src_dns") === "dn2")
    assert(plan(481).getAs[Long]("needed") === 3L)
    // fully replicated containers fall through to NOT_UNDER; copies on
    // DECOMMISSIONING nodes get NO availability discount (maintenance
    // does, missingReplicas :360-368), so the decom nodes' containers
    // legitimately re-replicate — both classes are populous
    assert(plan.values.count(
      _.getAs[String]("verdict") == "NOT_UNDER") > 400)
    assert(plan.values.count(
      _.getAs[String]("verdict") == "REPLICATE") > 300)
  }

  test("emptyContainerCheck: fences, bumps and stable-state targeting") {
    val got = ClusterHealth.emptyContainerCheck(T.datanodes(spark, sf),
      T.containersScm(spark, sf), T.containersOm(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") -> r).toMap
    def v(c: Long) = got(c).getAs[String]("verdict")
    // 47: CLOSED, all copies CLOSED+empty, BCSIDs match → full delete
    assert(v(47) === "EMPTY_CLOSED")
    assert(got(47).getAs[String]("transition") === "DELETE")
    assert(got(47).getAs[Long]("n_delete_cmds") === 3L)
    // 94 = 2*47: every BCSID is stale → RATIS resurrection fence holds:
    // replicas deleted, container state kept
    assert(v(94) === "EMPTY_CLOSED")
    assert(got(94).getAs[String]("transition") === "NONE")
    assert(got(94).getAs[Long]("n_delete_cmds") === 3L)
    // 188 = 4*47 ⊂ 94: same stale BCSIDs but EC skips the fence
    assert(v(188) === "EMPTY_CLOSED")
    assert(got(188).getAs[String]("transition") === "DELETE")
    // 53: QUASI_CLOSED all-empty → delete with stable-state targets
    assert(v(53) === "EMPTY_QUASI_CLOSED")
    assert(got(53).getAs[Long]("n_delete_cmds") === 3L)
    assert(got(53).getAs[Long]("new_bcs") === 5300L)
    // 106 = 2*53: copies still CLOSING → deletes deferred, DELETE fires
    assert(v(106) === "EMPTY_QUASI_CLOSED")
    assert(got(106).getAs[Long]("n_delete_cmds") === 0L)
    assert(got(106).getAs[String]("transition") === "DELETE")
    // 212 = 4*53: one replica BCSID is AHEAD → container BCSID bumped
    assert(v(212) === "EMPTY_QUASI_CLOSED")
    assert(got(212).getAs[Long]("new_bcs") === 21202L)
    // 89: zero replicas and zero OM keys — closing-stuck EMPTY, kept
    assert(v(89) === "EMPTY_NO_REPLICAS")
    assert(got(89).getAs[String]("transition") === "NONE")
    assert(got(89).getAs[Long]("n_delete_cmds") === 0L)
    // the bulk is NOT_EMPTY
    assert(got.values.count(
      _.getAs[String]("verdict") == "NOT_EMPTY") > 800)
  }

  test("QCS under/over handlers: parks, origin deltas, dn-ordered picks") {
    val under = ClusterHealth.qcsUnderReplicationPlan(
      T.replicas(spark, sf), T.datanodes(spark, sf),
      T.containersScm(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") ->
        (r.getAs[String]("verdict"), r.getAs[Long]("n_required"))).toMap
    // even stuck ids are all-empty; %357 parks on the pending add;
    // 119's best origin (dn19, max BCSID) holds 1 of its 2 target copies
    assert(under(238L) === (("SKIP_EMPTY", 0L)))
    assert(under(357L) === (("SKIP_PENDING_ADD", 0L)))
    assert(under(119L) === (("REPLICATE", 1L)))
    assert(under.size === 8)
    val over = ClusterHealth.qcsOverReplicationPlan(
      T.replicas(spark, sf), T.datanodes(spark, sf),
      T.containersScm(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") ->
        (r.getAs[String]("verdict"), r.getAs[String]("del_dns"))).toMap
    // 238's injected moved copy duplicates non-best origin dn1 → the
    // dn-name-first copy of that origin is deleted
    assert(over(238L) === (("DELETE", "dn1")))
    assert(over(357L) === (("SKIP_PENDING_DELETE", "")))
    // 476's duplicate lands on an IN_MAINTENANCE node and 952's source
    // replica sits on a DEAD node — neither creates in-service excess
    assert(over(476L) === (("NOT_OVER", "")))
    assert(over(952L) === (("NOT_OVER", "")))
  }

  test("ecOverReplicationPlan: good-node filter, pending fix, rack shed") {
    val got = ClusterHealth.ecOverReplicationPlan(T.ecShards(spark, sf),
      T.datanodes(spark, sf), T.containersScm(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") ->
        (r.getAs[String]("verdict"), r.getAs[Long]("n_commands"),
          r.getAs[String]("del_dns"))).toMap
    // 902: index-1 copies on dn9/dn18 both survive the good-node filter
    // → over by one; rack3{dn18} vs rack4{dn9} tie breaks on rack name
    assert(got(902L) === (("DELETE", 1L, "dn18")))
    // 533: same shape but its duplicate is pending delete → corrected
    assert(got(533L) === (("PENDING_FIX", 0L, "")))
    // 41: the original index-1 copy is on a DECOMMISSIONING node — the
    // pre-count filter drops it, one surviving copy is not excess
    assert(got(41L) === (("NOT_OVER", 0L, "")))
    assert(got.size === 330)
  }

  test("ecUnderReplicationPlan: probes, reconstruction, decom/maint copies") {
    val got = ClusterHealth.ecUnderReplicationPlan(T.ecShards(spark, sf),
      T.datanodes(spark, sf), T.containersScm(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") -> r).toMap
    def v(c: Long) = got(c).getAs[String]("verdict")
    // 62 = 2*31: misses index 2 but its pending add covers the set
    assert(v(62) === "PENDING_FIX")
    // 86: pending delete of index 1 empties that index → reconstruction
    // (4 source indexes ≥ data 3); its decom-only index adds a 1:1 copy
    assert(v(86) === "REPAIR")
    assert(got(86).getAs[String]("reconstruct") === "RECONSTRUCT")
    assert(got(86).getAs[Long]("n_commands") === 2L)
    // 407 = 11*37: three indexes gone — only 2 remain < data → the
    // reconstruction is refused for lack of sources (unrecoverable log)
    assert(v(407) === "REPAIR")
    assert(got(407).getAs[String]("reconstruct") === "NO_SOURCES")
    assert(got(407).getAs[Long]("n_missing") === 3L)
    // maintenance-only indexes above the redundancy floor get top-ups
    assert(got.values.count(_.getAs[Long]("n_maint_cmds") > 0) > 50)
    // decommission-only indexes get 1:1 copies
    assert(got.values.count(_.getAs[Long]("n_decom_cmds") > 0) > 100)
    assert(got.values.count(
      _.getAs[String]("verdict") == "NOT_UNDER") > 80)
  }

  test("containerHealthChain: first-true rung per container, all rungs") {
    val got = T.containerHealthChain(spark, sf)
      .collect().map(r => r.getAs[Long]("container_id") -> r).toMap
    def hd(c: Long) = (got(c).getAs[String]("handled_by"),
      got(c).getAs[String]("detail"))
    assert(hd(151) === (("OPEN", "OPEN_UNHEALTHY")))
    assert(hd(157) === (("CLOSING", "CLOSING_CLOSE")))
    assert(hd(163) === (("DELETING", "DELETING")))
    assert(hd(97) === (("DELETING", "DELETED")))
    assert(hd(47) === (("EMPTY", "EMPTY_CLOSED")))
    assert(hd(53) === (("EMPTY", "EMPTY_QUASI_CLOSED")))
    assert(hd(89) === (("EMPTY", "EMPTY_NO_REPLICAS")))
    // 173: UNHEALTHY copy's BCSID is AHEAD of every QC copy → stuck,
    // single-copy best origins are short of their 2-copy target
    assert(hd(173) === (("QCS_CHECK", "QCS_UNDER")))
    assert(got(173).getAs[Int]("qc_force_close") === 0)
    // 346: the non-best origin holds two moved copies → per-origin excess
    assert(hd(346) === (("QCS_CHECK", "QCS_OVER")))
    // 58: force-closeable (max QC BCSID >= max UNHEALTHY, full origins) —
    // the side rung closes it and the chain continues to under-replication
    assert(got(58).getAs[Int]("qc_force_close") === 1)
    assert(hd(58) === (("RATIS_CHECK", "UNDER_REPLICATED")))
    assert(hd(13) === (("RATIS_CHECK", "UNDER_REPLICATED")))
    assert(hd(61) === (("RATIS_CHECK", "MISSING")))
    // 23 itself has a copy on a DECOMMISSIONING node → re-replication
    // wins before placement is even consulted; 230's single-rack copies
    // are all in-service → MIS_REPLICATED
    assert(hd(23) === (("RATIS_CHECK", "UNDER_REPLICATED")))
    assert(hd(230) === (("RATIS_CHECK", "MIS_REPLICATED")))
    // 59: all-UNHEALTHY but sufficiently replicated counting them —
    // reported UNHEALTHY, never handled
    assert(hd(59) === (("NONE", "UNHEALTHY")))
    // 767 = 13*59: all-UNHEALTHY and short a copy
    assert(hd(767) === (("UNHEALTHY_CHECK", "UNHEALTHY_UNDER")))
    // 187: sufficient QC set whose UNHEALTHY copy sits on a leaving node
    assert(hd(187) === (("VULNERABLE", "UNHEALTHY_VULNERABLE")))
    // mismatch side rung: CLOSING-state replicas on a CLOSED container
    assert(got(67L).getAs[Long]("n_mismatch_close") === 3L)
    assert(got.size === 1000)
    assert(got.values.count(
      _.getAs[String]("handled_by") == "NONE") > 350)
  }

  test("replicationReport: pre-populated stats, capped visit-order samples") {
    // over the stored chain: planning the report over the inline chain
    // repeats a deep CASE tree three times and runs out of heap
    val rep = ClusterHealth.replicationReportFromChain(
        T.containerHealthChain(spark, sf))
      .collect().map(r => r.getAs[String]("stat") ->
        (r.getAs[Long]("cnt"), r.getAs[String]("sample_ids"))).toMap
    assert(rep.size === 22, "every enum stat pre-populated")
    // zero stats still present
    assert(rep("MISSING_UNDER_REPLICATED") === ((0L, "")))
    // lifecycle counts cover all containers, no samples
    assert(rep("CLOSED")._1 + rep("QUASI_CLOSED")._1 + rep("OPEN")._1 +
      rep("CLOSING")._1 + rep("DELETING")._1 + rep("DELETED")._1
      === 1000L)
    assert(rep("CLOSED")._2 === "")
    // the sample cap: UNDER_REPLICATED exceeds 100 — sample holds 100
    assert(rep("UNDER_REPLICATED")._1 > 100L)
    assert(rep("UNDER_REPLICATED")._2.split(",").length === 100)
    // the vulnerable handler reports into UNHEALTHY_UNDER_REPLICATED
    // alongside the only-UNHEALTHY recheck
    assert(rep("UNHEALTHY_UNDER_REPLICATED")._2.split(",")
      .contains("187"))
    assert(rep("UNHEALTHY_UNDER_REPLICATED")._2.split(",")
      .contains("767"))
    // side-rung stuck reports include containers later handled EMPTY
    assert(rep("QUASI_CLOSED_STUCK")._2.split(",").contains("106"))
  }

  test("ecHealthCheck + volumeCheckFold + supervisor: EC chain legs and" +
    " DN folds") {
    val ec = ClusterHealth.ecHealthCheck(T.ecShards(spark, sf),
      T.datanodes(spark, sf), T.containersScm(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") ->
        (r.getAs[String]("handled_by"), r.getAs[String]("detail"),
          r.getAs[Long]("n_delete_cmds"))).toMap
    // 212: extra UNHEALTHY copy of index 2, which also has a CLOSED
    // copy on a good node → the closed-with-unhealthy rung deletes it
    // (53 itself parks on a DECOM node first and defers to under-rep)
    assert(ec(212L) === (("CLOSED_UNHEALTHY",
      "UNHEALTHY_OVER_REPLICATED", 1L)))
    assert(ec(53L)._1 === "EC_CHECK")
    // 215 = 5*43: full index set collapsed onto one rack
    assert(ec(215L) === (("EC_MIS_CHECK", "MIS_REPLICATED", 0L)))
    // 47: every copy UNHEALTHY — unrecoverable but NOT missing (five
    // unhealthy indexes remain readable for forensics)
    assert(ec(47L)._2 === "UNHEALTHY")
    val vols = ClusterHealth.volumeCheckFold(spark).collect()
      .map(r => (r.getAs[String]("volume"), r.getAs[Long]("ts")) ->
        r.getAs[String]("verdict")).toMap
    // vol-0 fails its very first check and leaves the volume set
    assert(vols(("vol-0", 0L)) === "FAILED")
    assert(vols(("vol-0", 9000L)) === "NOT_CHECKED_FAILED_VOLUME")
    // the gap throttle keys on COMPLETION: a long check pushes the
    // next tick inside the min gap
    assert(vols.values.toSet.contains("SKIPPED_MIN_GAP"))
    assert(vols.values.toSet.contains("TIMED_OUT"))
    val sup = ClusterHealth.replicationSupervisorFold(
      T.containersScm(spark, sf)).collect()
      .map(r => r.getAs[String]("verdict"))
    assert(sup.toSet === Set("DEDUPED", "QUEUE_FULL", "TIMEOUT",
      "STALE_TERM", "DONE", "FAILED", "SKIPPED"))
  }

  test("decommissionAdmin: host resolution, batch pre-checks, rungs") {
    val got = ClusterHealth.decommissionAdmin(T.datanodes(spark, sf),
      T.containersScm(spark, sf), T.replicas(spark, sf),
      T.ecShards(spark, sf))
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("host")) -> r.getAs[String]("verdict")).toMap
    assert(got((1L, "ghost.example")) === "HOST_NOT_FOUND")
    assert(got((1L, "host1.rack1")) === "DECOMMISSIONING_STARTED")
    assert(got((1L, "host2.rack2")) === "NOOP_ALREADY")
    assert(got((1L, "host5.rack0")) === "INVALID_STATE")
    // 7-node batch leaves 3 in-service < the EC requirement of 5 —
    // the WHOLE batch refuses before any state change
    assert(got((2L, "host0.rack0")) === "BATCH_INSUFFICIENT_NODES")
    // maintenance floor is 4 for EC — the same 7-node batch refuses
    assert(got((4L, "host4.rack4")) === "BATCH_INSUFFICIENT_NODES")
    // --force skips the capacity walk but not the per-node state rung
    assert(got((5L, "host16.rack1")) === "ENTERING_MAINTENANCE")
    assert(got((5L, "host2.rack2")) === "INVALID_STATE")
    assert(got((6L, "host2.rack2")) === "QUEUED_RECOMMISSION")
    assert(got.size === 28)
  }

  test("containerMetaScan: every gate, rung, and outcome fires") {
    val got = graft.operators.ClusterHealth.containerMetaScan(
      graft.core.Tables.metaScanContainers(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") ->
        ((r.getAs[String]("action"), r.getAs[String]("first_error"),
          r.getAs[Long]("n_errors"), r.getAs[Boolean]("mark_attempted"),
          r.getAs[Boolean]("unhealthy_inc"),
          r.getAs[Boolean]("scanned_inc")))).toMap
    assert(got(1L) === (("SCANNED", "", 0L, false, false, true)))
    assert(got(2L) === (("SKIP_VOLUME_FAILED", "", 0L, false, false, false)))
    assert(got(3L) ===
      (("SKIP_RECENTLY_SCANNED", "", 0L, false, false, false)))
    // 1 h since last scan clears the 15 min gap
    assert(got(4L) === (("SCANNED", "", 0L, false, false, true)))
    assert(got(5L) ===
      (("SCANNED", "MISSING_CONTAINER_DIR", 1L, true, true, true)))
    assert(got(6L)._2 === "MISSING_METADATA_DIR")
    assert(got(7L)._2 === "MISSING_CONTAINER_FILE")
    assert(got(8L)._2 === "CORRUPT_CONTAINER_FILE")
    // content-check errors keep their count; chunks-dir is non-fatal
    assert(got(9L) ===
      (("SCANNED", "CORRUPT_CONTAINER_FILE", 2L, true, true, true)))
    assert(got(10L) ===
      (("SCANNED", "MISSING_CHUNKS_DIR", 1L, true, true, true)))
    // deleted during scan: quiet return, no metrics, no marking
    assert(got(11L) === (("DELETED", "", 0L, false, false, false)))
    // transient FD exhaustion: incomplete, no marking, not counted
    assert(got(12L)._1 === "INCOMPLETE")
    assert(got(12L)._4 === false && got(12L)._6 === false)
    // already-unhealthy containers re-mark without incrementing
    assert(got(13L)._4 === true && got(13L)._5 === false)
    assert(got.size === 13)
  }

  test("disk balancer: volume plan thresholds + move rung walk") {
    val vols = graft.core.Tables.dnVolumes(spark, sf)
    val plan = graft.operators.ClusterHealth.diskBalancerVolumePlan(vols)
      .collect().map(r => r.getAs[String]("volume_id") ->
        ((r.getAs[String]("role"), r.getAs[Long]("utilization_bp"),
          r.getAs[Long]("bytes_to_move"), r.getAs[Long]("density_bp"),
          r.getAs[Boolean]("move_needed")))).toMap
    // ideal = 1720000*10000/3000000 = 5733 bp; upper 6733, lower 4733
    assert(plan("v1") === (("ABOVE_THRESHOLD", 9000L, 226700L, 6533L, true)))
    assert(plan("v2")._1 === "BELOW_THRESHOLD")
    assert(plan("v3")._1 === "WITHIN")
    assert(plan("v9")._1 === "SKIPPED_NO_CAPACITY")
    val move = graft.operators.ClusterHealth.diskBalancerMove(vols,
        graft.core.Tables.dnBalancerContainers(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") ->
        ((r.getAs[String]("verdict"), r.getAs[String]("src_volume"),
          r.getAs[String]("dst_volume")))).toMap
    assert(move(1L)._1 === "SKIP_NOT_IN_SET")
    assert(move(2L)._1 === "SKIP_IN_PROGRESS")
    assert(move(3L)._1 === "SKIP_EMPTY")
    assert(move(4L)._1 === "SKIP_STATE")
    assert(move(5L)._1 === "SKIP_TOO_BIG")
    // (300000 + 400000) / 100 = 7000 bp >= 6733 upper
    assert(move(6L)._1 === "SKIP_WOULD_EXCEED")
    assert(move(7L) === (("CHOSEN", "v1", "v2")))
    assert(move(8L)._1 === "NOT_SCANNED")
    // the v2-resident container is not part of the source scan
    assert(!move.contains(9L) && move.size === 8)
  }

  test("dnBlockDeleteChoose: eligibility rungs + TopN budgeted fill") {
    val got = graft.operators.ClusterHealth.dnBlockDeleteChoose(
      graft.core.Tables.dnDeleteContainers(spark, sf))
      .collect().map(r => r.getAs[Long]("container_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("blocks_to_delete"),
          r.getAs[Long]("pick_rank")))).toMap
    assert(got(2L) === (("SKIP_LOG_NOT_REPLICATED", 0L, 0L)))
    assert(got(3L) === (("SKIP_STATE", 0L, 0L)))
    assert(got(5L) === (("SKIP_NO_PENDING", 0L, 0L)))
    assert(got(6L) === (("SKIP_TYPE", 0L, 0L)))
    assert(got(7L) === (("SKIP_BAD_PIPELINE", 0L, 0L)))
    // fill order 4(60) 11(60) 8(50) → 9 takes the boundary partial
    assert(got(4L) === (("CHOSEN", 60L, 1L)))
    assert(got(11L) === (("CHOSEN", 60L, 2L)))
    assert(got(8L) === (("CHOSEN", 50L, 3L)))
    assert(got(9L) === (("CHOSEN_PARTIAL", 10L, 4L)))
    // budget spent: later eligibles wait for the next interval
    assert(got(1L) === (("NOT_CHOSEN", 0L, 0L)))
    assert(got(10L) === (("NOT_CHOSEN", 0L, 0L)))
    assert(got(12L) === (("NOT_CHOSEN", 0L, 0L)))
  }

  test("scmBlockAllocate: cursor walk, mints, exclusion fallback, dry") {
    val T = graft.core.Tables
    val got = graft.operators.ClusterHealth.scmBlockAllocate(
      T.allocRequests(spark, sf), T.allocPipelines(spark, sf),
      T.allocPipelineMembers(spark, sf), T.allocDatanodes(spark, sf),
      T.allocContainers(spark, sf), T.allocCursors(spark, sf))
      .collect().map(r => r.getAs[Long]("req_id") ->
        ((r.getAs[String]("verdict"), r.getAs[String]("pipeline_id"),
          r.getAs[Long]("container_id"), r.getAs[Boolean]("minted"),
          r.getAs[Boolean]("ignored_exclusions")))).toMap
    // cursor 102 → tail set {103} has space
    assert(got(1L) === (("ALLOCATED", "pl-a", 103L, false, false)))
    // 103 excluded → empty tail falls back to the whole set → 101
    assert(got(2L) === (("ALLOCATED", "pl-a", 101L, false, false)))
    // pl-a excluded → healthy pl-c first → below-limit pre-mint
    assert(got(3L) === (("ALLOCATED", "pl-c", 9003L, true, false)))
    // dnX exclusion wipes every candidate → retried without exclusions
    assert(got(4L) === (("ALLOCATED", "pl-a", 103L, false, true)))
    // empty RATIS/ONE pipeline mints
    assert(got(5L) === (("ALLOCATED", "pl-d", 9005L, true, false)))
    // pl-e full + at limit + dnE blocks the miss-path mint → dry
    assert(got(6L) === (("CREATE_PIPELINE", "", 0L, false, false)))
    // o4's containers full at limit, members have space → miss-path mint
    assert(got(7L) === (("ALLOCATED", "pl-a", 9007L, true, false)))
    // pl-e misses → removed → pl-h pre-mints (the selectContainer loop)
    assert(got(8L) === (("ALLOCATED", "pl-h", 9008L, true, false)))
    // limit-0 pipeline still mints on a miss (space-gated only)
    assert(got(9L) === (("ALLOCATED", "pl-i", 9009L, true, false)))
    assert(got.size === 9)
  }

  test("datanodeRemove: not-found, non-DEAD, open pins, mid-walk removal") {
    val T = graft.core.Tables
    val got = graft.operators.ClusterHealth.datanodeRemove(
      T.removeDnRequests(spark, sf), T.removeDnNodes(spark, sf),
      T.removeDnContainerRefs(spark, sf),
      T.removeDnContainerStates(spark, sf),
      T.removeDnPipelineRefs(spark, sf),
      T.removeDnPipelineStates(spark, sf))
      .collect().map(r => r.getAs[Long]("req_seq") ->
        ((r.getAs[String]("verdict"), r.getAs[String]("error"),
          r.getAs[Long]("open_containers"),
          r.getAs[Long]("open_pipelines")))).toMap
    assert(got(1L) === (("NOT_FOUND", "", 0L, 0L)))
    assert(got(2L) ===
      (("FAILED", "DataNode should be in DEAD node status.", 0L, 0L)))
    assert(got(3L)._1 === "FAILED") // STALE is not DEAD
    // DEAD but pinned: container 102 OPEN (103 unmanaged is skipped)
    assert(got(4L) === (("FAILED", "Open Containers/Pipelines", 1L, 1L)))
    // containers fine, pipeline pr-open pins
    assert(got(5L) === (("FAILED", "Open Containers/Pipelines", 0L, 1L)))
    // CLOSED containers + unmanaged refs → removed; no refs → removed
    assert(got(6L) === (("REMOVED", "", 0L, 0L)))
    assert(got(7L) === (("REMOVED", "", 0L, 0L)))
    // re-request of a removed node: the walk already removed it
    assert(got(8L) === (("NOT_FOUND", "", 0L, 0L)))
    // re-request of a failed node: fails again
    assert(got(9L)._1 === "FAILED")
    assert(got.size === 9)
  }

  test("safemodeEcRules: tracking exclusions, per-type thresholds, EC floor") {
    import spark.implicits._
    // containers: (id, type, ec_data, state, num_keys)
    val conts = Seq(
      (1L, "RATIS", 0, "CLOSED", 5L),        // tracked, reported → counts
      (2L, "RATIS", 0, "CLOSED", 5L),        // tracked, unreported
      (3L, "RATIS", 0, "OPEN", 5L),          // OPEN → never tracked
      (4L, "RATIS", 0, "QUASI_CLOSED", 5L),  // tracked, reported
      (5L, "RATIS", 0, "CLOSED", 0L),        // empty → never tracked
      (6L, "RATIS", 0, "DELETED", 5L),       // refresh drops it
      (7L, "EC", 3, "CLOSED", 5L),           // 3 reporters → counts
      (8L, "EC", 3, "CLOSED", 5L),           // 2 reporters → short
      (9L, "EC", 6, "CLOSED", 5L))           // 3 reporters < 6 → short
      .toDF("container_id", "rep_type", "ec_data", "state", "num_keys")
    val reports = Seq(
      (1L, "dnA"), (4L, "dnA"), (4L, "dnB"),
      (7L, "dnA"), (7L, "dnB"), (7L, "dnC"),
      (8L, "dnA"), (8L, "dnB"), (8L, "dnA"), // dup reporter counts once
      (9L, "dnA"), (9L, "dnB"), (9L, "dnC"),
      (3L, "dnA"), (6L, "dnA"))              // reports on untracked ids
      .toDF("container_id", "datanode")
    val dns = Seq(
      ("dnA", "HEALTHY", "IN_SERVICE"), ("dnB", "HEALTHY", "IN_SERVICE"),
      ("dnC", "HEALTHY", "DECOMMISSIONING"), ("dnD", "STALE", "IN_SERVICE"))
      .toDF("uuid", "state", "op_state")
    val got = graft.operators.ClusterHealth
      .safemodeEcRules(conts, reports, dns, cutoffBp = 9900L,
        defaultEc = Some((2, 1)))
      .collect().map(r => r.getAs[String]("rule") ->
        ((r.getAs[Long]("required"), r.getAs[Long]("actual"),
          r.getAs[Boolean]("satisfied")))).toMap
    // RATIS tracked = {1,2,4}: ceil(3·0.99)=3 required, 2 reported
    assert(got("RATIS_CONTAINER") === ((3L, 2L, false)))
    // EC tracked = {7,8,9}: only 7 reaches its data count
    assert(got("EC_CONTAINER") === ((3L, 1L, false)))
    // rs-2-1 floor = 3; healthy in-service = dnA,dnB
    assert(got("EC_MIN_DATANODE") === ((3L, 2L, false)))
    assert(got("EXIT_SAFEMODE") === ((3L, 0L, false)))
    // non-EC default: the floor rule reads not-applicable (required 0)
    val off = graft.operators.ClusterHealth
      .safemodeEcRules(conts, reports, dns, defaultEc = None)
      .collect().map(r => r.getAs[String]("rule") ->
        r.getAs[Boolean]("satisfied")).toMap
    assert(off("EC_MIN_DATANODE"))
  }

  test("capacity policies: space-filter ladder, ratio ties, stack walk") {
    val vols = graft.core.Tables.capacityVolumes(spark, "")
    val filt = graft.operators.ClusterHealth
      .volumeSpaceFilter(vols, 100000L)
      .collect().map(r => r.getAs[Long]("vol_id") ->
        r.getAs[String]("verdict")).toMap
    assert(filt === Map(1L -> "OK", 2L -> "OK", 3L -> "SOFT_BAND",
      4L -> "REJECTED_HARD", 5L -> "OK", 6L -> "REJECTED_HARD",
      7L -> "OK"))
    val pairs = graft.operators.ClusterHealth
      .capacityVolumePairs(vols, 100000L)
      .collect().map(r => (r.getAs[Long]("first_id"),
        r.getAs[Long]("second_id")) -> r.getAs[Long]("winner_id")).toMap
    // higher free ratio wins; exact tie (vol2 vs vol7) keeps the first
    assert(pairs((2L, 1L)) === 1L && pairs((1L, 2L)) === 1L)
    assert(pairs((2L, 7L)) === 2L && pairs((7L, 2L)) === 7L)
    // zero-capacity volume reads ratio 0: loses both orders to vol2
    assert(pairs((5L, 2L)) === 2L && pairs((2L, 5L)) === 2L)
    val cmp = graft.operators.ClusterHealth
      .pipelineCapacityCompare(graft.core.Tables.capacityPipeNodes(spark, ""))
      .collect().map(r => (r.getAs[String]("first_id"),
        r.getAs[String]("second_id")) ->
        ((r.getAs[String]("winner_id"), r.getAs[Long]("decided_round"),
          r.getAs[String]("mode")))).toMap
    assert(cmp(("p1", "p2")) === (("p1", 3L, "WEIGHT")))
    assert(cmp(("p1", "p4")) === (("p4", 1L, "RAW_USED")))
    assert(cmp(("p3", "p1")) === (("p3", 0L, "EXHAUSTED")))
    assert(cmp(("p1", "p3")) === (("p1", 0L, "EXHAUSTED")))
    assert(cmp(("p2", "p2")) === (("p2", 0L, "SAME_ID")))
  }
}
