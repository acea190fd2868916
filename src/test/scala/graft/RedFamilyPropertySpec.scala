package graft

import scala.util.Random

/**
 * Literal-walk property tests for the replication/purge decision cores
 * whose declared queries have shown environment-dependent gate behavior:
 * each Spark plan is checked against an independent imperative walk of
 * the reference algorithm over randomized cluster states (fixed seeds —
 * deterministic). Complements PropertySpec (Ratis/EC/QCS-per-origin and
 * lifecycle cores).
 */
class RedFamilyPropertySpec extends SparkSpecBase {
  import spark.implicits._

  test("replicationQueue == a literal ReplicationQueue weighted-" +
    "redundancy walk over random cluster states") {
    // ReplicationManager under-replicated queue: dead replicas gone,
    // CLOSED replicas only, out-of-service copies weigh a fixed 5 so
    // real redundancy loss drains first; order (weighted, container).
    val rnd = new Random(9001)
    val nodeStates = Seq("HEALTHY", "HEALTHY", "STALE", "DEAD")
    val opStates = Seq("IN_SERVICE", "IN_SERVICE", "IN_SERVICE",
      "DECOMMISSIONING", "IN_MAINTENANCE")
    val dns = (0 until 12).map(i => (s"dn$i",
      nodeStates(rnd.nextInt(nodeStates.length)),
      opStates(rnd.nextInt(opStates.length))))
    val contStates = Seq("OPEN", "CLOSED", "QUASI_CLOSED", "DELETED")
    val conts = (1L to 300L).map(id => (id,
      contStates(rnd.nextInt(contStates.length)),
      1 + rnd.nextInt(3)))
    val repStates = Seq("CLOSED", "CLOSED", "OPEN", "UNHEALTHY")
    val reps = conts.flatMap { case (id, _, _) =>
      rnd.shuffle(dns.map(_._1)).take(rnd.nextInt(5)).map(dn =>
        (id, dn, repStates(rnd.nextInt(repStates.length))))
    }
    // ---- literal walk ----
    val dnMap = dns.map(d => d._1 -> d).toMap
    val expected = conts.filter(_._2 != "DELETED").flatMap {
      case (id, _, rf) =>
        val live = reps.filter(r => r._1 == id && r._3 == "CLOSED" &&
          dnMap(r._2)._2 != "DEAD")
        val av = live.count(r => dnMap(r._2)._3 == "IN_SERVICE").toLong
        val oos = live.size - av
        if (av < rf && av + oos > 0) {
          val remaining = math.max(av + oos - 1, 0L)
          val due = av + oos >= rf
          val weighted = if (due) 5L else remaining
          Some((id, rf.toLong, av, oos, remaining, due, weighted))
        } else None
    }.sortBy(e => (e._7, e._1)).zipWithIndex.map { case (e, i) =>
      e._1 -> ((i + 1L, e._2, e._3, e._4, e._5, e._6, e._7))
    }.toMap
    // ---- engine ----
    val got = graft.operators.ClusterHealth.replicationQueue(
        reps.toDF("container_id", "datanode", "replica_state"),
        dns.toDF("uuid", "state", "op_state"),
        conts.toDF("container_id", "state", "replication_factor"))
      .collect().map(r => r.getAs[Long]("container_id") ->
        ((r.getAs[Long]("queue_pos"),
          r.getAs[Int]("replication_factor").toLong,
          r.getAs[Long]("available"), r.getAs[Long]("out_of_service"),
          r.getAs[Long]("remaining_redundancy"),
          r.getAs[Boolean]("due_to_out_of_service"),
          r.getAs[Long]("weighted_redundancy")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, want) =>
      assert(got(id) === want, s"container $id")
    }
    // random space reaches both weight classes
    assert(expected.values.exists(_._6), "due_to_out_of_service reached")
    assert(expected.values.exists(!_._6), "redundancy-loss class reached")
  }

  test("misReplicationPlan == a literal rack-scatter walk over random" +
    " cluster states") {
    // MisReplicationHandler:106-160 + replicasToCopyToFixMisreplication:
    // pending skip, stability gate, rack-count satisfaction, per-rack
    // shed of (size-1) copies from source-eligible replicas in name
    // order, shortfall surfaced when a rack lacks copyable replicas.
    val rnd = new Random(4601)
    val nodeStates = Seq("HEALTHY", "HEALTHY", "HEALTHY", "STALE")
    val opStates = Seq("IN_SERVICE", "IN_SERVICE", "IN_SERVICE",
      "DECOMMISSIONING")
    val dns = (0 until 9).map(i => (s"dn$i",
      nodeStates(rnd.nextInt(nodeStates.length)),
      opStates(rnd.nextInt(opStates.length))))
    val dnMap = dns.map(d => d._1 -> d).toMap
    val repStates = Seq("CLOSED", "QUASI_CLOSED", "OPEN", "UNHEALTHY")
    // ids stride 23 so %46 pending ids occur; a few DELETED containers
    val conts = (1L to 250L).map(i => (i * 23,
      if (rnd.nextInt(20) == 0) "DELETED" else "CLOSED",
      3))
    val reps = conts.flatMap { case (id, _, _) =>
      rnd.shuffle(dns.map(_._1)).take(rnd.nextInt(5)).map(dn =>
        (id, dn, "r" + rnd.nextInt(3),
          repStates(rnd.nextInt(repStates.length))))
    }
    // ---- literal walk ----
    val expected = conts.filter(_._2 != "DELETED").flatMap {
      case (id, _, rf) =>
        val rs = reps.filter(_._1 == id)
        if (rs.isEmpty) Seq.empty
        else {
          val byRack = rs.groupBy(_._3)
          val nRacks = byRack.size
          val nTotal = rs.size
          val required = math.min(5, nTotal)
          def srcOk(r: (Long, String, String, String)) =
            (r._4 == "CLOSED" || r._4 == "QUASI_CLOSED") &&
              dnMap(r._2)._2 == "HEALTHY" && dnMap(r._2)._3 == "IN_SERVICE"
          val shortfall = byRack.values.map { g =>
            val shed = math.max(g.size - 1, 0)
            shed - math.min(shed, g.count(srcOk))
          }.sum.toLong
          rs.map { r =>
            val verdict =
              if (id % 46 == 0) "SKIP_PENDING"
              else if (nTotal != rf) "SKIP_NOT_STABLE"
              else if (nRacks >= required) "NOT_MISREPLICATED"
              else {
                val rack = byRack(r._3).sortBy(_._2)
                val srcRank = rack.filter(_._2 <= r._2).count(srcOk)
                if (srcOk(r) && srcRank <= rack.size - 1) "COPY"
                else "STAY"
              }
            val sf = if (verdict == "COPY" || verdict == "STAY")
              shortfall else 0L
            (id, r._2) -> ((r._3, verdict, sf))
          }
        }
    }.toMap
    // ---- engine ----
    val got = graft.operators.ClusterHealth.misReplicationPlan(
        reps.toDF("container_id", "datanode", "rack", "replica_state"),
        dns.toDF("uuid", "state", "op_state"),
        conts.toDF("container_id", "state", "replication_factor"))
      .collect().map(r => (r.getAs[Long]("container_id"),
        r.getAs[String]("datanode")) ->
        ((r.getAs[String]("rack"), r.getAs[String]("verdict"),
          r.getAs[Long]("shortfall")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, want) =>
      assert(got(k) === want, s"replica $k")
    }
    val verdicts = expected.values.map(_._2).toSet
    assert(verdicts ===
      Set("SKIP_PENDING", "SKIP_NOT_STABLE", "NOT_MISREPLICATED",
        "COPY", "STAY"))
  }

  test("keyPurgeDecisions == a literal OMKeyPurgeRequest walk over" +
    " random chains and request batches") {
    // OMKeyPurgeRequest.validateAndUpdateCache:79-166 + updateBucketSize
    // :186-213: snapshot probe, expected-previous chain fence (path
    // predecessor, or latest GLOBAL for AOS purges), empty-list error,
    // refunds gated on live-bucket id match.
    val rnd = new Random(7777)
    val vols = Seq("vol0", "vol1", "vol2")
    val bcks = Seq("bucket0", "bucket3", "bucket5")
    // globally-unique snapshot names scattered over (volume, bucket)
    val chain = (1L to 12L).map(i =>
      (i, s"s$i", vols(rnd.nextInt(3)), bcks(rnd.nextInt(3))))
    val names = chain.map(_._2)
    val liveBuckets = for (v <- vols; b <- bcks
                           if rnd.nextInt(4) != 0) yield (v, b)
    def mint(v: String, b: String): Long =
      v.substring(3).toLong * 100 + b.substring(6).toLong + 10
    val reqs = (1L to 200L).map { id =>
      val from = rnd.nextInt(4) match {
        case 0 => ""
        case 1 => "ghost" + rnd.nextInt(3)
        case _ => names(rnd.nextInt(names.length))
      }
      val hasExp = rnd.nextBoolean()
      val exp = if (rnd.nextBoolean()) ""
        else names(rnd.nextInt(names.length))
      (id, from, hasExp, exp, rnd.nextInt(3).toLong, rnd.nextInt(2).toLong)
    }
    val sizes = reqs.flatMap { case (id, _, _, _, _, _) =>
      (0 until rnd.nextInt(3)).map { _ =>
        val v = vols(rnd.nextInt(3)); val b = bcks(rnd.nextInt(3))
        val bid = if (rnd.nextBoolean()) mint(v, b) else 999L
        (id, v, b, bid, rnd.nextInt(1000).toLong + 1L,
          rnd.nextInt(3).toLong)
      }
    }
    // ---- literal walk ----
    val prevOf = chain.groupBy(c => (c._3, c._4)).flatMap { case (_, cs) =>
      val sorted = cs.sortBy(_._1)
      sorted.zipWithIndex.map { case (c, i) =>
        c._2 -> (if (i == 0) "" else sorted(i - 1)._2)
      }
    }
    val latestGlobal = chain.maxBy(_._1)._2
    val live = liveBuckets.toSet
    val expected = reqs.map { case (id, from, hasExp, exp, nd, nr) =>
      val decision =
        if (from.nonEmpty && !prevOf.contains(from)) "FILE_NOT_FOUND"
        else {
          val actualPrev = if (from == "") latestGlobal else prevOf(from)
          if (hasExp && exp != actualPrev) "INVALID_REQUEST"
          else if (nd + nr == 0) "KEY_DELETION_ERROR"
          else "PURGED"
        }
      val applied = sizes.filter(s => s._1 == id &&
        live((s._2, s._3)) && s._4 == mint(s._2, s._3))
      val (bu, by) =
        if (decision == "PURGED")
          (applied.map(s => (s._2, s._3)).distinct.size.toLong,
            applied.map(_._5).sum)
        else (0L, 0L)
      id -> ((from, decision,
        if (decision == "PURGED") nd else 0L,
        if (decision == "PURGED") nr else 0L, bu, by))
    }.toMap
    // ---- engine ----
    val got = graft.operators.CommitLog.keyPurgeDecisions(
        reqs.toDF("req_id", "from_snapshot", "has_expected",
          "expected_prev", "n_deleted", "n_renamed"),
        sizes.toDF("req_id", "volume", "bucket", "bucket_id",
          "purged_bytes", "purged_namespace"),
        chain.toDF("global_idx", "name", "volume", "bucket"),
        liveBuckets.toDF("volume", "bucket"))
      .collect().map(r => r.getAs[Long]("req_id") ->
        ((r.getAs[String]("from_snapshot"), r.getAs[String]("decision"),
          r.getAs[Long]("purged_keys"), r.getAs[Long]("purged_renames"),
          r.getAs[Long]("buckets_updated"),
          r.getAs[Long]("bytes_refunded")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, want) =>
      assert(got(id) === want, s"req $id")
    }
    val ds = expected.values.map(_._2).toSet
    assert(ds === Set("FILE_NOT_FOUND", "INVALID_REQUEST",
      "KEY_DELETION_ERROR", "PURGED"))
  }

  test("quasiClosedStuckCount == a literal per-origin walk over random" +
    " stuck-cluster states") {
    // End-to-end dual of the q_qcs_replicas query: the %119 stuck-set
    // filter, the synthetic seq/origin minting of qcsBase, and the
    // QuasiClosedStuckReplicaCount:142-220 per-origin targets/deltas.
    val rnd = new Random(11911)
    val opStates = Seq("IN_SERVICE", "IN_SERVICE", "IN_MAINTENANCE",
      "ENTERING_MAINTENANCE", "DECOMMISSIONING")
    val dns = (0 until 8).map(i => (s"dn$i", "HEALTHY",
      opStates(rnd.nextInt(opStates.length))))
    val dnOp = dns.map(d => d._1 -> d._3).toMap
    // mix of stuck (%119) and non-stuck ids; one stuck DELETED
    val conts = ((1L to 220L).map(_ * 119) ++ Seq(7L, 500L, 1001L))
      .map(id => (id,
        if (id == 119L * 3) "DELETED" else "QUASI_CLOSED", 3))
    val reps = conts.flatMap { case (id, _, _) =>
      rnd.shuffle(dns.map(_._1)).take(rnd.nextInt(4) + 1).map(dn =>
        (id, dn,
          if (rnd.nextInt(4) == 0) "UNHEALTHY" else "QUASI_CLOSED"))
    }
    // ---- literal walk (stuck, non-deleted ids only) ----
    case class Row(dn: String, healthy: Boolean, inSvc: Boolean,
                   maint: Boolean, seq: Long, origin: String)
    val expected = conts
      .filter(c => c._1 % 119 == 0 && c._2 != "DELETED")
      .flatMap { case (id, _, _) =>
        val rs0 = reps.filter(_._1 == id)
        if (rs0.isEmpty) Seq.empty
        else {
          val minDn = rs0.map(_._2).min
          val maxDn = rs0.map(_._2).max
          val rows = rs0.map { case (_, dn, st) =>
            val origin =
              if (id % 3 == 0) minDn
              else if (dn == maxDn) minDn
              else dn
            Row(dn, st != "UNHEALTHY", dnOp(dn) == "IN_SERVICE",
              dnOp(dn) == "IN_MAINTENANCE" ||
                dnOp(dn) == "ENTERING_MAINTENANCE",
              id * 100 + dn.substring(2).toLong, origin)
          }
          val maxHealthy = rows.filter(_.healthy).map(_.seq)
            .reduceOption(_ max _)
          val byOrigin = rows.groupBy(_.origin)
          byOrigin.toSeq.map { case (o, g) =>
            val isBest = maxHealthy.exists(mx =>
              g.exists(r => r.healthy && r.seq == mx))
            val target = if (byOrigin.size == 1) 3
              else if (isBest) 2 else 1
            val inSvc = g.count(_.inSvc).toLong
            val nMaint = g.count(_.maint).toLong
            val under =
              if (byOrigin.size == 1) {
                if (nMaint > 0) math.max(2 - inSvc, 0L)
                else math.max(3 - inSvc, 0L)
              } else if (inSvc < target) {
                if (nMaint > 0) { if (inSvc == 0) 1L else 0L }
                else target - inSvc
              } else 0L
            val over = math.max(inSvc - target, 0L)
            val status = if (under > 0) "UNDER_REPLICATED"
              else if (over > 0) "OVER_REPLICATED" else "OK"
            (id, o) -> ((g.size.toLong, inSvc, nMaint, isBest,
              target, status, under, over))
          }
        }
      }.toMap
    // ---- engine ----
    val got = graft.operators.ClusterHealth.quasiClosedStuckCount(
        reps.toDF("container_id", "datanode", "replica_state"),
        dns.toDF("uuid", "state", "op_state"),
        conts.toDF("container_id", "state", "replication_factor"))
      .collect().map(r => (r.getAs[Long]("container_id"),
        r.getAs[String]("origin")) ->
        ((r.getAs[Long]("n_replicas"), r.getAs[Long]("n_in_service"),
          r.getAs[Long]("n_maintenance"), r.getAs[Boolean]("is_best"),
          r.getAs[Int]("target"), r.getAs[String]("status"),
          r.getAs[Long]("under_delta"), r.getAs[Long]("over_delta"))))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, want) =>
      assert(got(k) === want, s"(container, origin) $k")
    }
    val statuses = expected.values.map(_._6).toSet
    assert(statuses === Set("UNDER_REPLICATED", "OVER_REPLICATED", "OK"))
  }

  test("blockAckDecide == a literal ACK-quorum walk over random" +
    " txn/replica states") {
    // DeletedBlockLog ACK fold: per (txn, container) the replica set's
    // ack/success classes (the %3 ack fixture rules), the %7 stale-dn
    // commit top-up, then the quorum ladder: enough commits and no
    // missing ⇒ PURGED; enough commits but missing replicas ⇒
    // WAITING_ALL_REPLICAS; else PENDING.
    val rnd = new Random(31337)
    val conts = (1L to 40L).map(id =>
      id -> rnd.shuffle((0 until 8).map(i => s"dn$i"))
        .take(rnd.nextInt(5) + 1).sorted)
    val txns = (1L to 300L).map(t =>
      (t, conts(rnd.nextInt(conts.size).toInt.max(0))._1))
      .map { case (t, c) => (t, conts((t % conts.size).toInt)._1) }
      .distinct
    val expected = txns.map { case (t, c) =>
      val dns = conts.find(_._1 == c).get._2
      val maxDn = dns.max; val minDn = dns.min
      val classes = dns.map { dn =>
        val acked = !(t % 3 == 1 && dn == maxDn)
        val success = acked && !(t % 3 == 2 && dn == minDn)
        success
      }
      val nAcks = classes.count(identity).toLong
      val nMissing = classes.size - nAcks
      val nCommitted = nAcks + (if (t % 7 == 0) 1L else 0L)
      val status =
        if (math.min(dns.size.toLong, nCommitted) >= 3L) {
          if (nMissing == 0) "PURGED" else "WAITING_ALL_REPLICAS"
        } else "PENDING"
      (t, c) -> ((dns.size.toLong, nCommitted, nMissing.toLong, status))
    }.toMap
    val got = graft.operators.ClusterHealth.blockAckDecide(
        txns.toDF("txn_id", "container_id"),
        conts.flatMap { case (c, dns) => dns.map(dn => (c, dn)) }
          .toDF("container_id", "datanode"),
        requiredNodes = 3)
      .collect().map(r => (r.getAs[Long]("txn_id"),
        r.getAs[Long]("container_id")) ->
        ((r.getAs[Long]("n_replicas"), r.getAs[Long]("n_committed"),
          r.getAs[Long]("n_missing"), r.getAs[String]("status")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, want) =>
      assert(got(k) === want, s"txn $k")
    }
    val statuses = expected.values.map(_._4).toSet
    assert(statuses === Set("PURGED", "WAITING_ALL_REPLICAS", "PENDING"))
  }

  test("hardNegatives == an exact brute-force walk over the real" +
    " embedding corpus") {
    // Independent of the DuckDB oracle: integer-exact cosines recomputed
    // in plain Scala (BigInt isqrt, floor division), top-3 different-
    // label neighbors per query with the (cos desc, id) tie-break and
    // the best-positive margin.
    val sf = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv")
      .collect()
      .map(r => (r.getLong(0), String.valueOf(r.get(1)),
        r.getSeq[Long](2).toArray))
    def isqrt(x: BigInt): BigInt = {
      if (x == 0) return BigInt(0)
      var s = BigInt(math.sqrt(x.toDouble).toLong)
      while (s * s > x) s -= 1
      while ((s + 1) * (s + 1) <= x) s += 1
      s
    }
    def cos(a: Array[Long], b: Array[Long]): Long = {
      val dot = BigInt(a.zip(b).map { case (x, y) => x * y }.sum)
      val na = a.map(v => v * v).sum; val nb = b.map(v => v * v).sum
      val s = isqrt(BigInt(na) * BigInt(nb))
      val num = dot * 1000000
      // floor division (BigInt / truncates toward zero)
      val q = num / s
      (if (num.sign < 0 && q * s != num) q - 1 else q).toLong
    }
    val expected = emb.filter(_._1 < 20).flatMap { case (qid, qlab, qv) =>
      val scored = emb.filter(_._1 != qid)
        .map { case (nid, nlab, nv) => (nid, nlab, cos(nv, qv)) }
      val bestPos = scored.filter(_._2 == qlab).map(_._3)
        .reduceOption(_ max _).getOrElse(0L)
      scored.filter(_._2 != qlab)
        .sortBy { case (nid, _, c) => (-c, nid) }.take(3).zipWithIndex
        .map { case ((nid, _, c), i) =>
          (qid, nid) -> ((i + 1L, c, bestPos - c))
        }
    }.toMap
    val got = graft.operators.Similarity.hardNegatives(
        graft.core.Tables.embeddings(spark, sf))
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id")) ->
        ((r.getAs[Long]("rank"), r.getAs[Long]("cos_x1e6"),
          r.getAs[Long]("margin_x1e6")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, want) =>
      assert(got(k) === want, s"pair $k")
    }
  }

  test("dirPurgeDecisions == a literal OMDirectoriesPurgeRequestWithFSO" +
    " walk over random entry lists") {
    // OMDirectoriesPurgeRequestWithFSO.validateAndUpdateCache:84-270:
    // snapshot probe + chain fence shared with key purge; then the
    // FSO divergences — NO empty-list error, per-OCCURRENCE bucket
    // refunds gated on the live-bucket oid, gate-independent hsync
    // tagging deduped by open key, and the removeAll quirk (a sub-dir
    // that is also this request's deleted dir counts deleted, not
    // moved).
    val rnd = new Random(4242)
    val vols = Seq("vol0", "vol1", "vol2")
    val bcks = Seq("bucket0", "bucket3", "bucket5")
    val chain = (1L to 12L).map(i =>
      (i, s"s$i", vols(rnd.nextInt(3)), bcks(rnd.nextInt(3))))
    val names = chain.map(_._2)
    val liveBuckets = for (v <- vols; b <- bcks
                           if rnd.nextInt(4) != 0) yield (v, b)
    def mint(v: String, b: String): Long =
      v.substring(3).toLong * 100 + b.substring(6).toLong + 10
    val kinds = Seq("SUB_DIR", "SUB_FILE", "DELETED_DIR")
    val reqs = (1L to 150L).map { id =>
      val from = rnd.nextInt(4) match {
        case 0 => ""
        case 1 => "ghost" + rnd.nextInt(3)
        case _ => names(rnd.nextInt(names.length))
      }
      val hasExp = rnd.nextBoolean()
      val exp = if (rnd.nextBoolean()) ""
        else names(rnd.nextInt(names.length))
      (id, from, hasExp, exp)
    }
    // entry lists: 0..6 rows per request (zero probes the no-error
    // rung); object_id drawn from a SMALL range so duplicate rows and
    // removeAll sub-dir/deleted-dir collisions actually occur
    val entries = reqs.flatMap { case (id, _, _, _) =>
      (0 until rnd.nextInt(7)).map { j =>
        val v = vols(rnd.nextInt(3)); val b = bcks(rnd.nextInt(3))
        val bid = if (rnd.nextBoolean()) mint(v, b) else 999L
        (id, (j % 3).toLong + 1L, kinds(rnd.nextInt(3)), v, b, bid,
          500L + rnd.nextInt(8), rnd.nextInt(1000).toLong + 1L,
          rnd.nextBoolean(), rnd.nextBoolean())
      }
    }
    // ---- literal walk ----
    val prevOf = chain.groupBy(c => (c._3, c._4)).flatMap { case (_, cs) =>
      val sorted = cs.sortBy(_._1)
      sorted.zipWithIndex.map { case (c, i) =>
        c._2 -> (if (i == 0) "" else sorted(i - 1)._2)
      }
    }
    val latestGlobal = chain.maxBy(_._1)._2
    val live = liveBuckets.toSet
    val expected = reqs.map { case (id, from, hasExp, exp) =>
      val decision =
        if (from.nonEmpty && !prevOf.contains(from)) "FILE_NOT_FOUND"
        else {
          val actualPrev = if (from == "") latestGlobal else prevOf(from)
          if (hasExp && exp != actualPrev) "INVALID_REQUEST"
          else "PURGED"
        }
      if (decision != "PURGED")
        id -> ((from, decision, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
      else {
        var dirsDeleted = 0L; var subfilesMoved = 0L
        var nsRefunded = 0L; var bytesRefunded = 0L; var snapNs = 0L
        val subDirIds = scala.collection.mutable.Set.empty[Long]
        val deletedDirIds = scala.collection.mutable.Set.empty[Long]
        val opensTagged = scala.collection.mutable.Set.empty[Long]
        entries.filter(_._1 == id).foreach {
          case (_, _, kind, v, b, bid, oid, sz, hsync, openEx) =>
            val gate = live((v, b)) && bid == mint(v, b)
            kind match {
              case "SUB_FILE" =>
                subfilesMoved += 1
                if (hsync && openEx) opensTagged += oid // gate-INDEPENDENT
                if (gate) { nsRefunded += 1; bytesRefunded += sz }
              case "SUB_DIR" =>
                subDirIds += oid
                if (gate) nsRefunded += 1
              case "DELETED_DIR" =>
                dirsDeleted += 1
                deletedDirIds += oid
                if (gate) snapNs += 1
            }
        }
        subDirIds --= deletedDirIds // removeAll(deletedDirNames)
        id -> ((from, decision, dirsDeleted, subDirIds.size.toLong,
          subfilesMoved, nsRefunded, bytesRefunded, snapNs,
          opensTagged.size.toLong))
      }
    }.toMap
    // ---- engine ----
    val got = graft.operators.CommitLog.dirPurgeDecisions(
        reqs.toDF("req_id", "from_snapshot", "has_expected",
          "expected_prev"),
        entries.toDF("req_id", "path_id", "kind", "volume", "bucket",
          "bucket_id", "object_id", "size_bytes", "hsync", "open_exists"),
        chain.toDF("global_idx", "name", "volume", "bucket"),
        liveBuckets.toDF("volume", "bucket"))
      .collect().map(r => r.getAs[Long]("req_id") ->
        ((r.getAs[String]("from_snapshot"), r.getAs[String]("decision"),
          r.getAs[Long]("dirs_deleted"), r.getAs[Long]("subdirs_moved"),
          r.getAs[Long]("subfiles_moved"), r.getAs[Long]("ns_refunded"),
          r.getAs[Long]("bytes_refunded"), r.getAs[Long]("snap_ns_purged"),
          r.getAs[Long]("opens_tagged")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, want) =>
      assert(got(id) === want, s"req $id")
    }
    val ds = expected.values.map(_._2).toSet
    assert(ds === Set("FILE_NOT_FOUND", "INVALID_REQUEST", "PURGED"))
  }

  test("paragraphDedup == a sequential first-occurrence walk over a" +
    " planted near-dup corpus") {
    // CCNet §3.2: paragraphs are consecutive 12-token windows; corpus-
    // wide, the FIRST occurrence in (doc_id, window idx) order keeps
    // and every later occurrence drops. The walk dedups by paragraph
    // STRING; the engine dedups by its 60-bit hash + packed-min winner
    // — agreement is independent evidence the hash/window path changes
    // nothing. Corpus is lowercase single-spaced so normText is
    // identity.
    val rnd = new Random(31337)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    def words(n: Int): String =
      Vector.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    // a shared 12-token block planted at window-0 of every even doc —
    // exactly one keeper corpus-wide; odd docs are random lengths
    // 0..49 tokens (0 probes the empty-text absence rung)
    val shared = words(12)
    val docs = (1L to 80L).map { i =>
      val own = words(rnd.nextInt(50))
      val text = if (i % 2 == 0) s"$shared $own".trim else own
      (i, text)
    }
    // ---- literal walk ----
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = docs.sortBy(_._1).flatMap { case (id, text) =>
      val ws = text.trim.replaceAll("\\s+", " ").split(" ", -1)
      val paras = (0 to (ws.length - 1) / 12).map(p =>
        ws.slice(p * 12, p * 12 + 12).mkString(" ")).filter(_ != "")
      if (paras.isEmpty) None
      else {
        var kept = 0L
        paras.foreach { p => if (!seen(p)) { seen += p; kept += 1 } }
        Some(id -> ((paras.length.toLong, kept,
          kept * 1000L / paras.length)))
      }
    }.toMap
    // ---- engine ----
    val got = graft.operators.Dedup.paragraphDedup(
        docs.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_paras"), r.getAs[Long]("kept_paras"),
          r.getAs[Long]("retained_pm")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, want) =>
      assert(got(id) === want, s"doc $id")
    }
    // the planted block kept exactly once corpus-wide: doc 2 keeps it,
    // docs 4,6,... do not
    assert(expected(2L)._2 >= 1L)
    val evens = (4L to 80L by 2).map(expected)
    assert(evens.map(_._1).sum > evens.map(_._2).sum,
      "later shared-block copies must drop")
  }

  test("pendingDeletionRollups == a literal endpoint fold over the sf" +
    " fixtures") {
    // The store behind /pendingDeletion, walked with plain loops:
    // deleted-block txns are the log's DELETE branch (version 4/5 in
    // the churn scope, one txn per object_id, max size), DELETED
    // containers excluded, blocks = ceil-div by the chunk size, dn
    // pending multiplies per replica, om sizes are REPLICATED bytes of
    // deleted keys / of files under deleted dirs (every ancestor
    // prefix probed).
    val T = graft.core.Tables
    val d = "/root/testdata/sf0.001"
    val chunk = T.LocChunkBytes
    def churn(oid: Long) = (oid / 10) % 10 == 0
    def contOf(oid: Long) = (oid / 10) % 1000
    val obj = T.objects(spark, d)
      .select("object_id", "data_size", "replicated_size", "version")
      .collect()
    val delRows = obj.filter { r =>
      val v = r.getAs[Long]("version")
      (v == 4 || v == 5) && churn(r.getAs[Long]("object_id"))
    }
    val txns = delRows.groupBy(_.getAs[Long]("object_id"))
      .map { case (oid, rs) =>
        oid -> rs.map(_.getAs[Long]("data_size")).max
      }
    val liveTxns = txns.filter { case (oid, _) => contOf(oid) % 97 != 0 }
    val reps = T.replicas(spark, d).select("container_id", "datanode")
      .collect()
      .map(r => (r.getAs[Long]("container_id"), r.getAs[String]("datanode")))
    val repsByCont = reps.groupBy(_._1).view.mapValues(_.map(_._2).toSeq)
      .toMap
    def blocks(ds: Long) = (ds - 1) / chunk + 1
    val scmExp = Map(
      "total_block_size" -> liveTxns.values.sum,
      "total_replicated_size" -> liveTxns.map { case (oid, ds) =>
        ds * repsByCont.getOrElse(contOf(oid), Seq()).size
      }.sum,
      "total_count" -> liveTxns.values.map(blocks).sum)
    val dnExp = liveTxns.toSeq.flatMap { case (oid, ds) =>
      repsByCont.getOrElse(contOf(oid), Seq()).map(_ -> blocks(ds))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val keyExp = delRows.map(_.getAs[Long]("replicated_size")).sum
    val mixed = T.objectsMixed(spark, d)
      .select("volume", "bucket", "key", "replicated_size").collect()
    val deld = T.deletedDirs(spark, d).select("volume", "bucket", "dir")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    def parent(k: String) = {
      val i = k.lastIndexOf('/'); if (i < 0) "" else k.substring(0, i)
    }
    val leaves = mixed.map(r => ((r.getString(0), r.getString(1),
        parent(r.getAs[String]("key"))), r.getAs[Long]("replicated_size")))
      .filter(_._1._3 != "")
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
    val dirExp = leaves.toSeq.map { case ((v, b, leaf), rsz) =>
      val segs = leaf.split("/")
      (1 to segs.length)
        .count(dep => deld((v, b, segs.take(dep).mkString("/")))) * rsz
    }.sum
    // ---- engine ----
    val got = graft.operators.ReconJobs.pendingDeletionRollups(
        T.objects(spark, d), T.nsSummaryMixed(spark, d),
        T.deletedDirs(spark, d), T.replicas(spark, d),
        T.containersScm(spark, d))
      .collect().map(r => (r.getAs[String]("kind"),
        r.getAs[String]("entity"), r.getAs[String]("metric")) ->
        r.getAs[Long]("value")).toMap
    scmExp.foreach { case (m, v) =>
      assert(got(("scm", "scm", m)) === v, s"scm $m")
    }
    dnExp.foreach { case (dn, v) =>
      assert(got(("dn", dn, "pending_blocks")) === v, dn)
    }
    assert(got.keys.count(_._3 == "pending_blocks") === dnExp.size)
    assert(got(("om", "om", "pendingKeySize")) === keyExp)
    assert(got(("om", "om", "pendingDirectorySize")) === dirExp)
    assert(dnExp.nonEmpty && dirExp > 0L, "fixture must exercise both planes")
  }

  test("pendingDeletionDispatch == a literal PendingDeletionEndpoint" +
    " walk over a random rollup store") {
    // PendingDeletionEndpoint.java:57-121: required-param check on the
    // RAW component, trim+lowercase normalize, dn limit ≥ 1 with
    // truncation to `limit` (absent → whole list) + the summary pair,
    // scm triple, om pair + additive totalSize.
    val rnd = new Random(777)
    val dnRows = (0 until 8).map { i =>
      // two planted ties probe the dn-name tiebreak of the desc order
      val pending = if (i == 3 || i == 5) 250L
        else rnd.nextInt(500).toLong + 1L
      ("dn", s"dn$i", "pending_blocks", pending)
    }
    val scm = Seq(
      ("scm", "scm", "total_block_size", rnd.nextInt(100000).toLong),
      ("scm", "scm", "total_replicated_size", rnd.nextInt(300000).toLong),
      ("scm", "scm", "total_count", rnd.nextInt(5000).toLong))
    val om = Seq(
      ("om", "om", "pendingKeySize", rnd.nextInt(100000).toLong),
      ("om", "om", "pendingDirectorySize", rnd.nextInt(100000).toLong))
    // ---- literal walk over the dispatch's fixed probe ladder ----
    val reqs = Seq((1L, "", -1L), (2L, "xyz", -1L), (3L, " DN ", 2L),
      (4L, "dn", 0L), (5L, "dn", -1L), (6L, "scm", -1L), (7L, "om", -1L),
      (8L, "OM ", 5L), (9L, " ", -1L))
    val expected = scala.collection.mutable
      .Set.empty[(Long, String, String, String, Long)]
    for ((id, comp0, lim) <- reqs) {
      val comp = comp0.trim.toLowerCase
      if (comp0 == "") expected += ((id, "MISSING_COMPONENT", "", "", 0L))
      else if (!Set("dn", "scm", "om")(comp))
        expected += ((id, "INVALID_COMPONENT", "", "", 0L))
      else if (comp == "dn" && lim == 0L)
        expected += ((id, "LIMIT_TOO_SMALL", "", "", 0L))
      else comp match {
        case "dn" =>
          val ordered = dnRows.sortBy(r => (-r._4, r._2))
          val listed = if (lim < 0) ordered else ordered.take(lim.toInt)
          listed.foreach(r =>
            expected += ((id, "DN_OK", r._2, "pending_blocks", r._4)))
          expected += ((id, "DN_OK", "_summary", "total_pending_deletion",
            dnRows.map(_._4).sum))
          expected += ((id, "DN_OK", "_summary", "nodes_queried",
            dnRows.size.toLong))
        case "scm" =>
          scm.foreach(r => expected += ((id, "SCM_OK", "scm", r._3, r._4)))
        case "om" =>
          om.foreach(r => expected += ((id, "OM_OK", "om", r._3, r._4)))
          expected += ((id, "OM_OK", "om", "totalSize", om.map(_._4).sum))
      }
    }
    // ---- engine ----
    val got = graft.operators.ReconJobs.pendingDeletionDispatch(
        graft.operators.ReconJobs.pendingDeletionStore(
          (dnRows ++ scm ++ om).toDF("kind", "entity", "metric", "value")))
      .collect().map(r => (r.getAs[Long]("req_id"),
        r.getAs[String]("verdict"), r.getAs[String]("entity"),
        r.getAs[String]("metric"), r.getAs[Long]("value"))).toSet
    assert(got === expected.toSet)
  }

  test("snapshotMoveDeletedKeys == a literal OMSnapshotMoveDeleted" +
    "KeysRequest walk over random request/entry lists") {
    // OMSnapshotMoveDeletedKeysRequest.java:48-105 — the LEGACY move:
    // getSnapshotInfo is an EXISTENCE probe on the snapshot info table
    // (FILE_NOT_FOUND only; status is NEVER read — a SNAPSHOT_DELETED
    // from proceeds, and chain membership alone does not save a row the
    // info table lacks), getNextSnapshot walks the path chain (no
    // successor, or not in the chain at all → Active Object Store), the
    // four protobuf lists (nextDBKeys/reclaimKeys/renamedKeys/
    // deletedDirsToMove) hand through VERBATIM — duplicates and junk
    // prefixes the modern ladder filters all count — and the live
    // bucket objectID is captured into the response (:85-97).
    val rnd = new Random(777)
    val vols = Seq("vol0", "vol1", "vol2")
    val bcks = Seq("bucket0", "bucket3", "bucket5")
    val statuses = Seq("SNAPSHOT_ACTIVE", "SNAPSHOT_DELETED")
    val chain = (1L to 15L).map(i =>
      (i, s"s$i", vols(rnd.nextInt(3)), bcks(rnd.nextInt(3))))
    // info-table catalog: the chain rows MINUS a few (chain-only rows
    // must still FILE_NOT_FOUND), random statuses (never consulted),
    // PLUS catalog-only orphans (in the info table, not in the chain →
    // destination falls back to AOS)
    val chainOnly = chain.filter(_._1 % 7 == 0).map(_._2).toSet
    val catalog = chain.filterNot(c => chainOnly(c._2))
      .map(c => (c._3, c._4, c._2, statuses(rnd.nextInt(2)))) ++
      (for (v <- vols; b <- bcks)
        yield (v, b, s"orphan-$v-$b", statuses(rnd.nextInt(2))))
    val tbls = Seq("NEXT_DB", "RECLAIM", "RENAMED", "MOVED_DIR")
    val reqs = (1L to 150L).map { id =>
      val v = vols(rnd.nextInt(3)); val b = bcks(rnd.nextInt(3))
      val from = rnd.nextInt(5) match {
        case 0 => "ghost" + rnd.nextInt(4)
        case 1 => s"orphan-$v-$b"
        case _ => chain(rnd.nextInt(chain.length))._2
      }
      (id, v, b, from)
    }
    // entry lists: 0..7 rows per request; duplicate keys and junk
    // prefixes planted — the legacy ladder counts them all, untouched
    val entries = reqs.flatMap { case (id, v, b, _) =>
      (0 until rnd.nextInt(8)).map { j =>
        val key = rnd.nextInt(4) match {
          case 0 => s"/$v/$b/k${rnd.nextInt(3)}" // dup-prone
          case 1 => "/wrong/prefix/z" + rnd.nextInt(9) // junk: moves
          case _ => s"/$v/$b/u$id-$j"
        }
        (id, tbls(rnd.nextInt(4)), (j + 1).toLong, key)
      }
    }
    // ---- literal walk ----
    val catKeys = catalog.map(c => (c._1, c._2, c._3)).toSet
    val nextOf = chain.groupBy(c => (c._3, c._4)).flatMap { case (_, cs) =>
      val sorted = cs.sortBy(_._1)
      sorted.zipWithIndex.map { case (c, i) =>
        (c._3, c._4, c._2) ->
          (if (i == sorted.length - 1) "AOS" else sorted(i + 1)._2)
      }
    }
    def mint(v: String, b: String): Long =
      v.substring(3).toLong * 100 + b.substring(6).toLong + 10
    val expected = reqs.map { case (id, v, b, from) =>
      if (!catKeys((v, b, from)))
        id -> ((from, "FILE_NOT_FOUND", "", 0L, 0L, 0L, 0L, 0L))
      else {
        val dest = nextOf.getOrElse((v, b, from), "AOS")
        val es = entries.filter(_._1 == id)
        def n(t: String) = es.count(_._2 == t).toLong
        id -> ((from, "MOVED", dest, mint(v, b), n("NEXT_DB"),
          n("RECLAIM"), n("RENAMED"), n("MOVED_DIR")))
      }
    }.toMap
    // ---- engine ----
    val got = graft.operators.CommitLog.snapshotMoveDeletedKeys(
        reqs.toDF("req_id", "volume", "bucket", "from_name"),
        entries.toDF("req_id", "tbl", "pos", "db_key"),
        chain.toDF("global_idx", "name", "volume", "bucket"),
        catalog.toDF("volume", "bucket", "name", "status"))
      .collect().map(r => r.getAs[Long]("req_id") ->
        ((r.getAs[String]("from_name"), r.getAs[String]("decision"),
          r.getAs[String]("destination"), r.getAs[Long]("bucket_id"),
          r.getAs[Long]("moved_next_db"), r.getAs[Long]("moved_reclaim"),
          r.getAs[Long]("moved_renamed"), r.getAs[Long]("moved_dirs"))))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, want) =>
      assert(got(id) === want, s"req $id")
    }
    // the census must actually exercise the legacy divergences: both
    // decisions occur; at least one MOVED lands in (or departs from) a
    // SNAPSHOT_DELETED row the modern ladder would refuse; at least one
    // chain-only from FILE_NOT_FOUNDs despite having a chain successor
    val ds = expected.values.map(_._2).toSet
    assert(ds === Set("FILE_NOT_FOUND", "MOVED"))
    val deletedNames = catalog.collect {
      case (v, b, n, "SNAPSHOT_DELETED") => (v, b, n)
    }.toSet
    assert(reqs.exists { case (id, v, b, from) =>
      expected(id)._2 == "MOVED" &&
        (deletedNames((v, b, from)) ||
          deletedNames((v, b, expected(id)._3)))
    })
    assert(reqs.exists { case (_, v, b, from) =>
      chainOnly(from) &&
        nextOf.get((v, b, from)).exists(_ != "AOS") // real successor
    })
  }

  test("ngramJaccardPairs == a literal bigram-set walk over random " +
    "corpora (dict-encoding exactness, hash-path independent)") {
    // The verification stage dictionary-encodes shingle strings to
    // term-ids and merges sorted id arrays; this census recomputes every
    // pair with PLAIN JVM string sets — no hashes, no dictionary, no
    // Spark — so an id-collision or a divergent dict instantiation
    // between the two join sides would surface as a count mismatch.
    // Candidates are ALL ordered pairs (the census gates the count math,
    // not LSH recall, which DedupSimilaritySpec covers separately).
    val rnd = new Random(31337)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "mu", "nu")
    for (trial <- 1 to 5) {
      val docs = (1L to 24L).map { id =>
        // heavy vocab reuse → dense overlaps; a few near-clones
        val base = (1 to (2 + rnd.nextInt(20)))
          .map(_ => vocab(rnd.nextInt(vocab.size)))
        val words =
          if (id % 5 == 0) base ++ base.take(3) // planted near-dup tail
          else base
        (id, words.mkString(" "))
      }
      val allPairs = for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      } yield (a, b)
      // ---- literal walk: lowercase/ws-normalize, bigram SETS ----
      val sets: Map[Long, Set[String]] = docs.map { case (id, text) =>
        val ws = text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
        id -> (if (ws.length >= 2)
          ws.sliding(2).map(_.mkString(" ")).toSet
        else Set.empty[String])
      }.toMap
      val expected = allPairs.flatMap { case (a, b) =>
        if (sets(a).isEmpty || sets(b).isEmpty) None
        else {
          val inter = (sets(a) & sets(b)).size.toLong
          val union = sets(a).size + sets(b).size - inter
          val jx = if (union == 0) 0L else inter * 1000L / union
          if (inter > 0 && jx >= 100L)
            Some(Seq(a, b, inter, union, jx))
          else None
        }
      }.sortBy(r => (r(0), r(1)))
      // ---- engine ----
      val got = graft.operators.Dedup.ngramJaccardPairs(
        docs.toDF("doc_id", "text"),
        candidates = Some(allPairs.toDF("doc_a", "doc_b")))
        .collect().map(_.toSeq.map(_.asInstanceOf[Long]).toSeq).toSeq
      assert(got === expected, s"trial $trial")
    }
  }
}
