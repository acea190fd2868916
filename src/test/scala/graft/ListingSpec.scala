package graft

import org.apache.spark.sql.functions._
import graft.operators.Listing

/**
 * Listing semantics on a hand-built namespace — mirrors the case matrix of
 * the reference's TestListKeys.java:155-265 (prefix × startKey) and
 * TestOmMetadataManager.java:405-533 (pagination, truncation).
 */
class ListingSpec extends SparkSpecBase {
  import spark.implicits._

  // (volume, bucket, key, data_size) — two buckets, nested dirs.
  private lazy val objects = Seq(
    ("v1", "b1", "a/key1", 10L), ("v1", "b1", "a/key2", 20L),
    ("v1", "b1", "a/b/key3", 30L), ("v1", "b1", "a/b/key4", 40L),
    ("v1", "b1", "a/b/c/key5", 50L), ("v1", "b1", "z1", 60L),
    ("v1", "b2", "a/key1", 70L), ("v2", "b1", "a/key1", 80L))
    .toDF("volume", "bucket", "key", "data_size")
    .withColumn("replicated_size", col("data_size") * 3)
    .withColumn("replication_type", lit("RATIS/THREE"))
    .withColumn("creation_time", col("data_size") * 1000)
    .withColumn("modification_time", col("data_size") * 1000)
    .withColumn("owner", lit("o"))
    .withColumn("etag", md5(col("key")))

  private def keysOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("key").as[String].collect().toSeq

  // Case 1 (TestListKeys): empty prefix, empty startKey → everything in bucket.
  test("listKeys: empty prefix and startKey returns the whole bucket in key order") {
    assert(keysOf(Listing.listKeys(objects, "v1", "b1", "", "", 100)) ===
      Seq("a/b/c/key5", "a/b/key3", "a/b/key4", "a/key1", "a/key2", "z1"))
  }

  // Case 2: prefix only → only keys under the prefix.
  test("listKeys: prefix scopes to matching keys only") {
    assert(keysOf(Listing.listKeys(objects, "v1", "b1", "a/b/", "", 100)) ===
      Seq("a/b/c/key5", "a/b/key3", "a/b/key4"))
  }

  // Case 3: startKey is exclusive (skipStartKey semantics).
  test("listKeys: startKey is exclusive") {
    assert(keysOf(Listing.listKeys(objects, "v1", "b1", "a/", "a/b/key3", 100)) ===
      Seq("a/b/key4", "a/key1", "a/key2"))
  }

  // Case 4: startKey before the prefix range → full prefix range.
  test("listKeys: startKey below the prefix range is a no-op") {
    assert(keysOf(Listing.listKeys(objects, "v1", "b1", "a/b/", "a/a", 100)) ===
      Seq("a/b/c/key5", "a/b/key3", "a/b/key4"))
  }

  test("listKeys: emits maxKeys+1 rows so the caller derives isTruncated") {
    assert(keysOf(Listing.listKeys(objects, "v1", "b1", "", "", 2)) ===
      Seq("a/b/c/key5", "a/b/key3", "a/b/key4"))
  }

  test("listKeys: scopes to the exact (volume, bucket)") {
    assert(keysOf(Listing.listKeys(objects, "v1", "b2", "", "", 100)) === Seq("a/key1"))
    assert(keysOf(Listing.listKeys(objects, "v2", "b1", "", "", 100)) === Seq("a/key1"))
  }

  test("keyset pagination walks the bucket without overlap or gaps") {
    val page1 = keysOf(Listing.pageAfter(objects, "v1", "b1", "", 3))
    val page2 = keysOf(Listing.pageAfter(objects, "v1", "b1", page1.last, 3))
    assert(page1 === Seq("a/b/c/key5", "a/b/key3", "a/b/key4"))
    assert(page2 === Seq("a/key1", "a/key2", "z1"))
  }

  test("prefixPred matches startsWith exactly (incl. boundary neighbours)") {
    val keys = Seq("a", "a/", "a/x", "a0", "a/" + "￿" + "x", "b", "")
    val df = keys.toDF("k")
    val viaPred = df.filter(Listing.prefixPred(col("k"), "a/")).as[String].collect().toSet
    val viaStarts = keys.filter(_.startsWith("a/")).toSet
    assert(viaPred === viaStarts)
  }

  test("listObjectsV2 groups at the delimiter into common prefixes") {
    val r = rows(Listing.listObjectsV2(objects, "v1", "b1", "a/", "", 100)
      .select("entry", "is_common_prefix", "num_keys"))
    assert(r === Seq(
      Seq("a/b/", true, 3L), Seq("a/key1", false, 1L), Seq("a/key2", false, 1L)))
  }

  test("listStatus synthesizes fake directory children with rollups") {
    val r = rows(Listing.listStatus(objects, "v1", "b1", "a")
      .select("child", "is_dir", "num_files", "total_size"))
    assert(r === Seq(
      Seq("b", true, 3L, 120L), Seq("key1", false, 1L, 10L),
      Seq("key2", false, 1L, 20L)))
  }

  test("persisted namespace: listing plan partition-prunes to one bucket and pushes the key range") {
    val sorted = graft.core.Tables.objectsSorted(spark, "/root/testdata/sf0.001")
    val q = Listing.listKeys(sorted, "vol1", "bucket3", "warehouse/N/", "", 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
      plan.contains("volume#") && plan.contains("bucket#"),
      s"expected volume/bucket partition filters in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(key,warehouse/N/") &&
      plan.contains("LessThan(key,warehouse/N0"),
      s"expected pushed key range in:\n$plan")
    // and the result is still correct (maxKeys+1 rows ⇒ truncation signal)
    assert(q.count() === 11)
  }

  test("listObjectsV2: startAfter inside a common prefix resumes mid-group (prevDir carry-over)") {
    // token points INTO the a/b/ group: the remaining a/b/ key (only
    // a/b/key4 — a/b/c/key5 sorts BEFORE the token) regroups under the
    // same common prefix (the reference's prevDir dedup semantics)
    val r = rows(Listing.listObjectsV2(objects, "v1", "b1", "a/", "a/b/key3", 100)
      .select("entry", "is_common_prefix", "num_keys"))
    assert(r === Seq(
      Seq("a/b/", true, 1L), Seq("a/key1", false, 1L), Seq("a/key2", false, 1L)))
  }

  test("listObjectsV2: empty continuation token behaves as from-the-start") {
    val all = rows(Listing.listObjectsV2(objects, "v1", "b1", "a/", "", 100))
    val viaEmpty = rows(Listing.listObjectsV2(objects, "v1", "b1", "a/", "", 100))
    assert(all === viaEmpty && all.nonEmpty)
  }

  test("S3 continue token round-trips and rejects tampering") {
    val plain = Listing.S3Token("a/b/key3", None)
    val withDir = Listing.S3Token("a/b/", Some("a/b/"))
    val uni = Listing.S3Token("a/ü/ключ", Some("a/ü/"))
    Seq(plain, withDir, uni).foreach { t =>
      assert(Listing.decodeToken(Listing.encodeToken(t)) === t)
    }
    val wire = Listing.encodeToken(withDir)
    val tampered = wire.updated(0, if (wire(0) == '0') '1' else '0')
    assertThrows[IllegalArgumentException](Listing.decodeToken(tampered))
  }

  test("tokenized walk: page ending ON a common prefix carries lastDir and skips it") {
    // entries in order: a/b/ (CP), a/key1, a/key2 — maxKeys=1 makes page 1
    // end exactly on the a/b/ group boundary
    val p1 = Listing.listObjectsV2Page(objects, "v1", "b1", "a/", None, 1)
      .collect().toSeq
    val t1 = Listing.nextTokenOf(p1, 1)
    assert(p1.head.getString(0) === "a/b/" && p1.head.getBoolean(1))
    assert(t1 === Some(Listing.S3Token("a/b/", Some("a/b/"))))
    // next page resumes past the WHOLE a/b/ subtree
    val p2 = Listing.listObjectsV2Page(objects, "v1", "b1", "a/", t1, 1)
      .collect().toSeq
    assert(p2.map(_.getString(0)) === Seq("a/key1", "a/key2"))
    val t2 = Listing.nextTokenOf(p2, 1)
    assert(t2 === Some(Listing.S3Token("a/key1", None)))
  }

  test("tokenized walk concatenation equals the untokenized listing (no gap, no overlap)") {
    for (mk <- Seq(1, 2, 3, 100)) {
      val walked = rows(Listing.listObjectsV2Walk(objects, "v1", "b1", "a/", mk))
      val full = rows(Listing.listObjectsV2(objects, "v1", "b1", "a/", "", 1000))
      assert(walked === full, s"maxKeys=$mk")
    }
  }

  test("link buckets: chain resolves to its source, broken links flag and list empty") {
    val sf = "/root/testdata/sf0.001"
    val links = graft.core.Tables.bucketLinkRows.rows
    val keys = graft.core.Tables.bucketKeys(spark, sf)
    val sorted = graft.core.Tables.objectsSorted(spark, sf)
    // listing THROUGH the 2-hop chain == listing the terminal source bucket
    val viaLink = rows(graft.operators.Links.listKeysVia(
      sorted, links, keys, "vol2", "link-b", "warehouse/N/", "", 50))
    val direct = rows(Listing.listKeys(
      sorted, "vol0", "bucket0", "warehouse/N/", "", 50))
    assert(viaLink === direct && viaLink.nonEmpty)
    // dangling + cyclic links list EMPTY (and carry a status in the catalog)
    assert(rows(graft.operators.Links.listKeysVia(
      sorted, links, keys, "vol3", "link-broken", "", "", 50)).isEmpty)
    assert(rows(graft.operators.Links.listKeysVia(
      sorted, links, keys, "vol0", "link-cycle1", "", "", 50)).isEmpty)
    val status = graft.operators.Links.resolveBucketLinks(links,
      graft.core.Tables.buckets(spark, sf))
      .select("bucket", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(status("link-a") === "OK" && status("link-b") === "OK")
    assert(status("link-broken") === "DANGLING")
    assert(status("link-cycle1") === "CYCLE" && status("link-cycle2") === "CYCLE")
  }

  test("ListMultipartUploads pages by (key, upload_id) and concatenates to the full listing") {
    val sf = "/root/testdata/sf0.001"
    def walk(mpus: org.apache.spark.sql.DataFrame, volume: String,
             bucket: String, prefix: String, pageSize: Int): Seq[Seq[Any]] = {
      var (startKey, startUp) = ("", "")
      var walked = Seq.empty[Seq[Any]]
      var done = false
      while (!done) {
        val page = rows(graft.operators.Lifecycle.listMultipartUploads(
          mpus, volume, bucket, prefix, startKey, startUp, pageSize))
        val kept = page.take(pageSize)
        walked ++= kept
        done = page.size <= pageSize
        if (!done) {
          startKey = kept.last.head.asInstanceOf[String]
          startUp = kept.last(1).asInstanceOf[String]
        }
      }
      walked
    }
    val mpus = graft.core.Tables.multipartInfo(spark, sf)
    val full = rows(graft.operators.Lifecycle.listMultipartUploads(
      mpus, "vol2", "bucket0", "warehouse/mpu/"))
    assert(full.nonEmpty)
    assert(walk(mpus, "vol2", "bucket0", "warehouse/mpu/",
      math.max(1, full.size / 3)) === full)
    // prefix narrows the listing
    val narrowed = rows(graft.operators.Lifecycle.listMultipartUploads(
      mpus, "vol2", "bucket0", "warehouse/mpu/1"))
    assert(narrowed.size < full.size || full.forall(
      _.head.asInstanceOf[String].startsWith("warehouse/mpu/1")))
    // SAME-KEY siblings straddling a page boundary: the reference allows
    // several in-flight uploads of one key, so the token must be the full
    // (key, upload_id) pair — a key-only token skips up2/up3 here
    val multi = Seq(
      ("v", "b", "k1", "up1", 1L, 1L), ("v", "b", "k1", "up2", 2L, 1L),
      ("v", "b", "k1", "up3", 3L, 1L), ("v", "b", "k2", "up4", 4L, 1L))
      .toDF("volume", "bucket", "key", "upload_id", "initiated_ms", "num_parts")
    val fullMulti = rows(graft.operators.Lifecycle.listMultipartUploads(
      multi, "v", "b", ""))
    assert(fullMulti.map(_(1)) === Seq("up1", "up2", "up3", "up4"))
    assert(walk(multi, "v", "b", "", 1) === fullMulti)
  }

  test("ListParts pages chain by next-part-number-marker to the full part list") {
    val sf = "/root/testdata/sf0.001"
    val parts = graft.core.Tables.multipartParts(spark, sf)
    // unpaged = one huge page from marker 0
    val full = rows(graft.operators.Lifecycle.listParts(parts, 0, 10000))
      .map(_.take(6))
    assert(full.nonEmpty)
    // per-upload chained walk: every page's kept rows concatenate to the
    // unpaged listing, next marker = last part number of a truncated page
    val perUpload = full.groupBy(_.head.asInstanceOf[String])
    val pageSize = 2
    perUpload.toSeq.sortBy(_._1).take(3).foreach { case (up, expect) =>
      var marker = 0
      var walked = Seq.empty[Seq[Any]]
      var done = false
      while (!done) {
        val page = rows(graft.operators.Lifecycle.listParts(
          parts, marker, pageSize)).filter(_.head == up)
        walked ++= page.map(_.take(6))
        done = page.isEmpty || !page.last(6).asInstanceOf[Boolean]
        if (!done) {
          val next = page.last(7).asInstanceOf[Int]
          assert(next == page.last(2).asInstanceOf[Int],
            s"next marker is the last returned part number ($up)")
          marker = next
        }
      }
      assert(walked === expect, up)
    }
    // duplicate parts collapse to ONE stored row per part number
    assert(full.map(r => (r.head, r(2))).distinct.size === full.size)
  }

  test("container-key join broadcasts the small container dim (plan quality)") {
    val q = graft.operators.Joins.containerKeyJoin(
      graft.core.Tables.objects(spark, "/root/testdata/sf0.001"),
      graft.core.Tables.containersScm(spark, "/root/testdata/sf0.001"))
    q.collect() // let AQE finalize the plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast join in:\n$plan")
  }

  test("prefix ACL probe broadcasts the rule catalog (plan quality)") {
    val sf = "/root/testdata/sf0.001"
    val q = graft.operators.Nested.prefixAclProbe(
      graft.core.Tables.objectsNested(spark, sf),
      graft.core.Tables.prefixAcls(spark, sf), "auditor2")
    q.collect() // let AQE finalize the plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected the per-bucket rule arrays to broadcast in:\n$plan")
    // longest-prefix-wins is observable: warehouse/A keys grant via PREFIX
    // even at odd versions, everything else only via OBJECT
    val byVia = q.groupBy("granted_via").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byVia.getOrElse("PREFIX", 0L) > 0 && byVia.getOrElse("OBJECT", 0L) > 0)
  }

  test("OFS path resolution matches the reference parse table") {
    import spark.implicits._
    val md5u = java.security.MessageDigest.getInstance("MD5")
      .digest("alice".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val reqs = Seq(
      "/vol1/buc2/dir3/key4", "/vol1/buc2", "/vol1", "/tmp/dir3/key4",
      "/", "//vol1///buc2//k", "/vol1/buc2/dir3/", "/tmp")
      .map(p => (p, "alice")).toDF("path", "username")
    val got = graft.operators.OfsPath.resolve(reqs).collect()
      .map(r => r.getString(0) -> (r.getAs[String]("level"),
        r.getAs[String]("volume"), r.getAs[String]("bucket"),
        r.getAs[String]("key_name"))).toMap
    assert(got("/vol1/buc2/dir3/key4") === (("KEY", "vol1", "buc2", "dir3/key4")))
    assert(got("/vol1/buc2") === (("BUCKET", "vol1", "buc2", "")))
    assert(got("/vol1") === (("VOLUME", "vol1", "", "")))
    assert(got("/tmp/dir3/key4") === (("KEY", "tmp", md5u, "dir3/key4")))
    assert(got("/") === (("ROOT", "", "", "")))
    // StringTokenizer semantics: consecutive delimiters collapse
    assert(got("//vol1///buc2//k") === (("KEY", "vol1", "buc2", "k")))
    // a trailing '/' survives on the key (fs.Path drops it; OFSPath restores)
    assert(got("/vol1/buc2/dir3/") === (("KEY", "vol1", "buc2", "dir3/")))
    // the bare mount resolves to the user's md5 bucket
    assert(got("/tmp") === (("BUCKET", "tmp", md5u, "")))
  }

  test("ACL op fold: add unions, remove subtracts, set voids earlier ops") {
    import spark.implicits._
    def op(key: String, seq: Long, op: String, ptype: String, pname: String,
           bits: Long) = ("v", "b", key, seq, op, ptype, pname, "ACCESS", bits)
    val log = Seq(
      // add 3 then remove bit 1 → 1
      op("k1", 1, "ADD", "USER", "alice", 3),
      op("k1", 2, "REMOVE", "USER", "alice", 2),
      // set AFTER an add voids it entirely
      op("k2", 1, "ADD", "USER", "alice", 3),
      op("k2", 2, "SET", "USER", "bob", 1),
      // union of adds minus a partial remove
      op("k3", 1, "ADD", "USER", "alice", 1),
      op("k3", 2, "ADD", "USER", "alice", 6),
      op("k3", 3, "REMOVE", "USER", "alice", 4),
      // remove on an absent principal is a no-op; the entry never appears
      op("k4", 1, "REMOVE", "USER", "ghost", 7),
      // multi-entry SET then churn: alice 7 → +8 → -1 = 14; ops keeps 3;
      // a FULL remove (all bits) drops carol's entry entirely
      op("k5", 1, "SET", "USER", "alice", 7),
      op("k5", 1, "SET", "GROUP", "ops", 3),
      op("k5", 1, "SET", "USER", "carol", 5),
      op("k5", 2, "ADD", "USER", "alice", 8),
      op("k5", 3, "REMOVE", "USER", "alice", 1),
      op("k5", 4, "REMOVE", "USER", "carol", 5))
      .toDF("volume", "bucket", "key", "seq", "op", "ptype", "pname",
        "scope", "bits")
    val got = graft.operators.Nested.applyAclOps(log).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("pname")) ->
        r.getAs[Long]("rights_mask")).toMap
    assert(got === Map(
      ("k1", "alice") -> 1L, ("k2", "bob") -> 1L, ("k3", "alice") -> 3L,
      ("k5", "alice") -> 14L, ("k5", "ops") -> 3L))
  }

  test("PrefixRangeRule makes a PLAIN startsWith filter sargable (optimizer extension)") {
    val sorted = graft.core.Tables.objectsSorted(spark, "/root/testdata/sf0.001")
    // no prefixPred here — just the naive user-written predicate
    val q = sorted.filter(col("key").startsWith("warehouse/N/"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(key,warehouse/N/") &&
      plan.contains("LessThan(key,warehouse/N0"),
      s"expected rule-injected pushed range in:\n$plan")
    val expected = sorted.collect().count(_.getAs[String]("key").startsWith("warehouse/N/"))
    assert(q.count() === expected)
  }

  test("listOpenFiles: token walk concatenates to the unpaged listing") {
    val T = graft.core.Tables
    val sf = "/root/testdata/sf0.001"
    val ok = T.openKeys(spark, sf)
    val all = graft.operators.Lifecycle
      .listOpenFiles(ok, "vol1/", 1000000)
      .select("db_key").as[String].collect().toSeq
    assert(all.nonEmpty && all === all.sorted)
    // walk in pages of 7: token = last db key of the previous page, the
    // resume is STRICTLY greater (the reference seeks + skips the exact
    // match), so pages concatenate with no dup and no gap
    var token = ""
    var walked = Seq.empty[String]
    var done = false
    while (!done) {
      val page = graft.operators.Lifecycle
        .listOpenFiles(ok, "vol1/", 7, token)
        .select("db_key").as[String].collect().toSeq
      val kept = page.take(7)
      walked ++= kept
      if (page.size <= 7) done = true else token = kept.last
    }
    assert(walked === all)
  }

  test("containerKeysPage: paged walk == unpaged, versions deduped") {
    val T = graft.core.Tables
    val sf = "/root/testdata/sf0.001"
    val objs = T.objects(spark, sf)
    val all = graft.operators.Joins
      .containerKeysPage(objs, 42L, 1000000)
      .select("db_key", "versions_csv", "total_count")
      .as[(String, String, Long)].collect().toSeq
    assert(all.nonEmpty && all.map(_._1) === all.map(_._1).sorted)
    // the total index-entry count ≥ distinct keys (multi-version keys)
    assert(all.head._3 >= all.size)
    // strictly-greater token walk in pages of 3 concatenates exactly
    var token = ""
    var walked = Seq.empty[String]
    var done = false
    while (!done) {
      val page = graft.operators.Joins
        .containerKeysPage(objs, 42L, 3, token)
        .select("db_key").as[String].collect().toSeq
      walked ++= page
      if (page.size < 3) done = true else token = page.last
    }
    assert(walked === all.map(_._1))
  }

  test("listDirectoryBuckets: FSO-only pages stitch to the full FSO set") {
    import spark.implicits._
    val buckets = graft.core.Tables.buckets(spark,
      "/root/testdata/sf0.001")
    val allFso = buckets.filter(col("layout") === "FSO")
      .select(concat_ws("/", col("volume"), col("bucket")).as("n"))
      .orderBy("n").as[String].collect().toSeq
    var token = ""
    var walked = Vector.empty[String]
    var done = false
    while (!done) {
      val page = Listing.listDirectoryBuckets(buckets, token, 5)
        .select(concat_ws("/", col("volume"), col("bucket")),
          col("is_truncated"), col("next_token"))
        .as[(String, Boolean, String)].collect()
      if (page.isEmpty) done = true
      else {
        walked ++= page.map(_._1)
        // the token is the last EMITTED bucket, only when truncated
        if (page.head._2) {
          assert(page.head._3 === page.last._1)
          token = page.head._3
        } else done = true
      }
    }
    assert(walked === allFso)
    // OBS buckets never surface
    assert(walked.forall(n => allFso.contains(n)))
  }

  test("omListMetrics: pagination keyCounts against direct counts") {
    val sf = "/root/testdata/sf0.001"
    val sorted = graft.core.Tables.objectsSorted(spark, sf)
    def direct(v: String, b: String, p: String): Long =
      sorted.filter(col("volume") === v && col("bucket") === b &&
        col("key").startsWith(p)).count()
    val got = graft.operators.Listing.omListMetrics(sorted)
      .collect().map(r => r.getAs[Long]("req_id") ->
        ((r.getAs[Long]("matching"), r.getAs[Long]("key_count"),
          r.getAs[Boolean]("truncated"),
          r.getAs[Long]("total_key_count"), r.getAs[Long]("n_calls"))))
      .toMap
    val m1 = direct("vol0", "bucket0", "warehouse/A/")
    assert(got(1L)._1 === m1)
    assert(got(1L)._2 === math.min(m1, 5L))
    assert(got(1L)._3 === (m1 > 5L))
    // an un-truncated call records its full result size
    val m2 = direct("vol0", "bucket0", "warehouse/")
    assert(got(2L) ===
      ((m2, m2, false, got(2L)._4, 5L)))
    // a prefix with no matches still counts as a call of keyCount 0
    assert(got(5L)._1 === 0L && got(5L)._2 === 0L && !got(5L)._3)
    // the gauge numerator is the sum of per-call keyCounts
    assert(got(1L)._4 === got.values.map(_._2).sum)
    assert(got.size === 5)
  }
}
