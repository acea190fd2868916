package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.PeriodicScan

/** Cursor-driven periodic scans + the read-RPC facade. */
class PeriodicScanApiSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val objs = Seq(
    ("v", "b", "k1", 10L, 100L), ("v", "b", "k2", 20L, 200L),
    ("v", "b", "k3", 30L, 300L), ("v", "b", "k4", 40L, 400L))
    .toDF("volume", "bucket", "key", "data_size", "modification_time")

  test("periodic scan ticks advance the cursor and never rescan old rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scan_").toString
    val rule = col("data_size") > 0L
    val t1 = PeriodicScan.tick(objs, dir, nowMs = 250L, rule)(rows)
    assert(t1.map(_(2)) === Seq("k1", "k2"))
    assert(PeriodicScan.readCursor(dir) === 250L)
    val t2 = PeriodicScan.tick(objs, dir, nowMs = 400L, rule)(rows)
    assert(t2.map(_(2)) === Seq("k3", "k4")) // only rows newer than the cursor
    val t3 = PeriodicScan.tick(objs, dir, nowMs = 500L, rule)(rows)
    assert(t3.isEmpty)
  }

  test("periodic scan is at-least-once: a failed consumer leaves the cursor put") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scan_alo_").toString
    val rule = col("data_size") > 0L
    intercept[RuntimeException] {
      PeriodicScan.tick(objs, dir, nowMs = 250L, rule) { _ =>
        throw new RuntimeException("downstream failed")
      }
    }
    assert(PeriodicScan.readCursor(dir) === Long.MinValue) // not advanced
    // retry re-delivers the same rows
    val t = PeriodicScan.tick(objs, dir, nowMs = 250L, rule)(rows)
    assert(t.map(_(2)) === Seq("k1", "k2"))
  }

  private val sf = "/root/testdata/sf0.001"

  test("API facade: point lookups and listings delegate to the operators") {
    val vol = Api.infoVolume(spark, sf, "vol1")
    assert(vol.count() === 1)
    val bkt = Api.infoBucket(spark, sf, "vol1", "bucket3")
    assert(bkt.count() === 1)
    val page = Api.listKeys(spark, sf, "vol1", "bucket3", "warehouse/", "", 5)
    assert(page.count() === 6) // maxKeys+1 truncation row
    val k = page.select("key").as[String].head()
    assert(Api.lookupKey(spark, sf, "vol1", "bucket3", k).count() >= 1)
    assert(Api.getKeyInfo(spark, sf, "vol1", "bucket3", k)
      .select("tags", "acls", "locations").columns.length === 3)
    assert(Api.getAcl(spark, sf, "vol1", "bucket3", k).count() >= 2)
    assert(Api.listSnapshots(spark, sf).count() === 2)
    assert(Api.dbUpdates(spark, sf, Long.MaxValue).count() === 0)
  }

  test("API facade: every key RPC resolves bucket links consistently") {
    // the same logical namespace must be visible through a link no matter
    // which read RPC is used (lookup, key info, acl, listings)
    val direct = Api.listKeys(spark, sf, "vol0", "bucket0", "warehouse/", "", 5)
    val viaLink = Api.listKeys(spark, sf, "vol1", "link-a", "warehouse/", "", 5)
    assert(rows(viaLink) === rows(direct) && viaLink.count() > 0)
    val k = direct.select("key").as[String].head()
    assert(rows(Api.lookupKey(spark, sf, "vol1", "link-a", k)) ===
      rows(Api.lookupKey(spark, sf, "vol0", "bucket0", k)))
    assert(rows(Api.getKeyInfo(spark, sf, "vol1", "link-a", k)) ===
      rows(Api.getKeyInfo(spark, sf, "vol0", "bucket0", k)))
    assert(rows(Api.getAcl(spark, sf, "vol1", "link-a", k)) ===
      rows(Api.getAcl(spark, sf, "vol0", "bucket0", k)))
    assert(rows(Api.listStatus(spark, sf, "vol2", "link-b", "warehouse")) ===
      rows(Api.listStatus(spark, sf, "vol0", "bucket0", "warehouse")))
    assert(rows(Api.listObjectsV2(spark, sf, "vol2", "link-b", "warehouse/", "", 10)) ===
      rows(Api.listObjectsV2(spark, sf, "vol0", "bucket0", "warehouse/", "", 10)))
    // broken links: empty through EVERY RPC, flagged in the catalog
    assert(Api.lookupKey(spark, sf, "vol3", "link-broken", k).count() === 0)
    assert(Api.getKeyInfo(spark, sf, "vol3", "link-broken", k).count() === 0)
    assert(Api.listStatus(spark, sf, "vol3", "link-broken", "warehouse").count() === 0)
    assert(Api.resolveBucketLinks(spark, sf)
      .filter(col("status") =!= "OK").count() === 3)
  }

  test("API facade: after one warm call, key RPCs on a plain or link " +
    "bucket start no Spark job while constructing") {
    val k = Api.listKeys(spark, sf, "vol0", "bucket0", "warehouse/", "", 5)
      .select("key").as[String].head()
    val rpcs = Seq[(String, (String, String) => DataFrame)](
      "lookupKey" -> (Api.lookupKey(spark, sf, _, _, k)),
      "getKeyInfo" -> (Api.getKeyInfo(spark, sf, _, _, k)),
      "getAcl" -> (Api.getAcl(spark, sf, _, _, k)),
      "listKeys" -> (Api.listKeys(spark, sf, _, _, "warehouse/", "", 5)),
      "listObjectsV2" -> (Api.listObjectsV2(spark, sf, _, _, "warehouse/", "", 10)),
      "listStatus" -> (Api.listStatus(spark, sf, _, _, "warehouse")),
      "listStatusFso" -> (Api.listStatusFso(spark, sf, _, _, "warehouse")))
    // the plain bucket, a direct link and a 2-hop chain to it, then a
    // dangling and a cyclic link, which list nothing
    val buckets = Seq("vol0" -> "bucket0", "vol1" -> "link-a",
      "vol2" -> "link-b", "vol3" -> "link-broken", "vol0" -> "link-cycle1")
    val broken = Set("link-broken", "link-cycle1")
    for ((kind, rpc) <- rpcs) {
      val direct = rows(rpc("vol0", "bucket0"))
      assert(direct.nonEmpty, kind)
      for ((vol, bkt) <- buckets) {
        val warm = rows(rpc(vol, bkt))
        val pins = cachedEntries(spark)
        val (df, jobs) = jobsStarted(spark)(_ => rpc(vol, bkt))
        assert(jobs === 0, s"$kind $vol/$bkt")
        assert(rows(df) === warm, s"$kind $vol/$bkt")
        assert(warm === (if (broken(bkt)) Seq.empty else direct),
          s"$kind $vol/$bkt")
        if (kind == "listStatusFso") assert(cachedEntries(spark) === pins)
      }
    }
  }

  test("API facade: the stored FSO child summary equals the FSO tables' " +
    "rollup, and its path index the resolve ladder's paths") {
    import graft.core.{Tables => T}
    val ladder = graft.operators.Hierarchy.resolveDirs(T.directoriesFso(spark, sf))
    val stored = T.fsoChildren(spark, sf)
    val rollup = graft.operators.Hierarchy.childSummary(ladder, T.filesFso(spark, sf))
    assert(stored.count() > 0)
    assert(stored.exceptAll(rollup).isEmpty && rollup.exceptAll(stored).isEmpty)
    val index = T.directoryPathsFso(spark, sf)
    assert(index.count() > 0)
    assert(index.exceptAll(ladder).isEmpty && ladder.exceptAll(index).isEmpty)
  }

  test("API facade: a warm FSO listStatus, leaf or two-level dir, plain or " +
    "link bucket, runs one Spark job") {
    val leaf = Api.listStatusFso(spark, sf, "vol0", "bucket0", "warehouse/R")
      .filter(col("is_dir")).select("child").as[String].head()
    for (dir <- Seq(s"warehouse/R/$leaf", "warehouse");
         (vol, bkt) <- Seq("vol0" -> "bucket0", "vol1" -> "link-a")) {
      val warm = rows(Api.listStatusFso(spark, sf, vol, bkt, dir))
      val (out, jobs) = jobsStarted(spark)(_ =>
        Api.listStatusFso(spark, sf, vol, bkt, dir).collect().toSeq.map(_.toSeq))
      assert(warm.nonEmpty && out === warm, s"$vol/$bkt $dir")
      assert(jobs === 1, s"$vol/$bkt $dir")
    }
  }

  test("API facade: FSO listStatus through a broken link lists nothing " +
    "and starts no job of its own") {
    val links = graft.core.Tables.bucketLinkRows.rows
    val keys = graft.core.Tables.bucketKeys(spark, sf)
    for (link <- Seq("link-broken", "link-cycle1")) {
      val vol = if (link == "link-broken") "vol3" else "vol0"
      val (status, resolveJobs) = jobsStarted(spark)(_ =>
        graft.operators.Links.resolveOne(links, keys, vol, link))
      assert(status.isLeft, link)
      assert(resolveJobs === 0, link)
      val (out, jobs) = jobsStarted(spark)(_ =>
        rows(Api.listStatusFso(spark, sf, vol, link, "warehouse")))
      assert(out.isEmpty, link)
      assert(jobs === 0, link)
    }
  }

  test("API facade: the per-request driver link chase agrees with the " +
    "catalog query, up to the hop bound") {
    import graft.operators.Links
    // a straight chain of n links ending at a real bucket
    def chain(name: String, n: Int) = (1 to n).map { i =>
      val (sv, sb) = if (i < n) ("deep", s"$name${i + 1}") else ("vol0", "bucket0")
      ("deep", s"$name$i", sv, sb)
    }
    val links = graft.core.Tables.bucketLinkRows.rows ++
      chain("max", Links.MaxHops) ++ chain("over", Links.MaxHops + 1)
    val buckets = graft.core.Tables.buckets(spark, sf)
    val catalog = Links.resolveBucketLinks(links, buckets)
      .select("volume", "bucket", "resolved_volume", "resolved_bucket", "status")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getString(3), r.getString(4))).toMap
    assert(catalog(("deep", "max1"))._3 === "OK")
    assert(catalog(("deep", "over1"))._3 === "CYCLE")
    // a ladder lands on the terminal of a chain within the bound, and on
    // the requested pair of one past it (CYCLE)
    val staged = Links.stageLinkTargets(
        Seq(("deep", "max1"), ("deep", "over1")).toDF("volume", "bucket"),
        links, buckets)
      .select("bucket", "rv", "rb", "link_status")
      .as[(String, String, String, String)].collect().toSet
    assert(staged === Set(("max1", "vol0", "bucket0", "OK"),
      ("over1", "deep", "over1", "CYCLE")))
    val keys = graft.core.Tables.bucketKeys(spark, sf)
    val plain = ("vol0", "bucket3")
    val missing = ("vol9", "no-such-bucket")
    assert(keys.contains(plain) && !keys.contains(missing))
    for ((v, b) <- links.map(l => (l._1, l._2)) :+ plain :+ missing) {
      val expected = catalog.get((v, b)) match {
        case Some((rv, rb, "OK")) => Right((rv, rb))
        case Some((_, _, status)) => Left(status)
        case None if keys.contains((v, b)) => Right((v, b)) // a bucket: itself
        case None => Left("BUCKET_NOT_FOUND") // neither link nor bucket
      }
      assert(Links.resolveOne(links, keys, v, b) === expected, s"$v/$b")
    }
  }

  test("API facade: auth catalog lookups") {
    assert(Api.getS3Secret(spark, sf, "tenant0$clerk1").count() === 1)
    assert(Api.getUserInfo(spark, sf, "admin0").count() === 1)
    assert(Api.listDelegationTokens(spark, sf).count() === 7)
    assert(Api.checkAccess(spark, sf, "auditor2").count() > 0)
    assert(Api.listMultipartUploads(spark, sf, "vol2", "bucket0",
      "warehouse/mpu/").count() > 0)
  }

  test("API facade: light listings, snapshot catalog, diff jobs, tenants") {
    assert(Api.listKeysLight(spark, sf, "vol1", "bucket3", "warehouse/", "", 5)
      .columns.toSeq === Seq("key", "data_size", "creation_time"))
    assert(Api.getSnapshotInfo(spark, sf, "s2").count() === 1)
    val jobs = Api.listSnapshotDiffJobs(spark, sf).collect()
    assert(jobs.map(_.getString(0)).toSeq === Seq("s1->s2"))
    assert(jobs.head.getAs[Long]("diff_rows") > 0)
    assert(Api.listTenants(spark, sf).count() === 4)
    assert(Api.tenantGetUserInfo(spark, sf, "clerk1").count() >= 1)
  }

  test("tenant assign: the validation ladder fires in reference order") {
    val got = graft.operators.Tenants.assignAccessIdDecisions(
      graft.core.Tables.assignRequests(spark, sf),
      graft.core.Tables.tenantState(spark, sf),
      graft.core.Tables.tenantAccessIds(spark, sf))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(3)).toMap
    assert(got(("tenant1", "newuser")) === "INVALID_ACCESS_ID")
    assert(got(("tenant1", "bad$user")) === "INVALID_TENANT_USERNAME")
    assert(got(("ten$ant1", "user1")) === "INVALID_TENANT_ID")
    assert(got(("tenant9", "user2")) === "TENANT_NOT_FOUND")
    // delimiter check precedes tenant existence
    assert(got(("tenant9", "bad$u")) === "INVALID_TENANT_USERNAME")
    // tenant existence precedes the duplicate-accessId check
    assert(got(("tenant9", "clerk1")) === "TENANT_NOT_FOUND")
    assert(got(("tenant1", "freshuser"))
      === "TENANT_USER_ACCESS_ID_ALREADY_EXISTS")
    assert(got(("tenant2", "clerk3"))
      === "TENANT_USER_ACCESS_ID_ALREADY_EXISTS")
    assert(got(("tenant3", "alice")) === "ASSIGNED")
  }

  test("API facade: reclaim candidates and exclusive sizes") {
    val rec = Api.listReclaimableKeys(spark, sf)
    assert(rec.count() > 0)
    assert(rec.filter(!rec("reclaimable")).isEmpty)
    val excl = Api.snapshotExclusiveSizes(spark, sf).collect()
    assert(excl.map(_.getString(0)).toSeq === Seq("s1", "s2"))
    assert(excl.forall(_.getAs[Long]("exclusive_bytes") > 0))
  }
}
