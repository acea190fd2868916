package graft

import org.apache.spark.sql.functions._
import graft.operators.{Listing, ReconJobs}

/**
 * Export-job-manager ladder (ExportJobManager.java:131-241 +
 * ContainerEndpoint.java:522-661) and the Recon /volumes & /buckets
 * composite listings (VolumeEndpoint.java:56, BucketEndpoint.java:57,
 * ReconOmMetadataManagerImpl.java:196-311).
 */
class ReconJobsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val ladder = ReconJobs.exportJobLadder(spark)
    .select("req_id", "verdict", "queue_position", "downloads_left")
    .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap

  test("submit: new states accepted in order until the queue fills") {
    // snapshot queue holds 1 job; capacity 3 → two accepts then full
    assert(ladder(1L) === ((1L, "ACCEPTED", 2L, 0L)))
    assert(ladder(4L) === ((4L, "ACCEPTED", 3L, 0L))) // FAILED job4 does not block
    assert(ladder(5L) === ((5L, "QUEUE_FULL", 0L, 0L)))
    assert(ladder(9L) === ((9L, "QUEUE_FULL", 0L, 0L)))
  }

  test("submit: tracked QUEUED/RUNNING/COMPLETED states are duplicates") {
    assert(ladder(2L)._2 === "DUPLICATE_STATE") // COMPLETED job1
    assert(ladder(3L)._2 === "DUPLICATE_STATE") // RUNNING job2
  }

  test("submit: in-batch duplicate inherits its first occurrence's fate") {
    assert(ladder(6L)._2 === "DUPLICATE_STATE") // req1 was accepted
    assert(ladder(7L)._2 === "QUEUE_FULL")      // req5 was refused full
  }

  test("submit: unknown state is rejected before any queue check") {
    assert(ladder(8L)._2 === "INVALID_STATE")
  }

  test("status: live queue position only for QUEUED; unknown id 404s") {
    assert(ladder(10L) === ((10L, "QUEUED", 1L, 0L)))
    assert(ladder(11L) === ((11L, "RUNNING", 0L, 0L)))
    assert(ladder(12L) === ((12L, "FAILED", 0L, 0L)))
    assert(ladder(13L)._2 === "NOT_FOUND")
  }

  test("download: budget reservation, completion gate, 404") {
    assert(ladder(14L) === ((14L, "DOWNLOAD_OK", 0L, 0L))) // 1 of 2 used → 0 left after this one
    assert(ladder(15L)._2 === "LIMIT_REACHED")             // 2 of 2 used
    assert(ladder(16L)._2 === "NOT_COMPLETED")             // RUNNING
    assert(ladder(17L)._2 === "NOT_FOUND")
  }

  test("cancel: QUEUED/RUNNING cancelled, terminal jobs deleted, 404") {
    assert(ladder(18L)._2 === "CANCELLED")
    assert(ladder(19L)._2 === "CANCELLED")
    assert(ladder(20L)._2 === "DELETED")
    assert(ladder(21L)._2 === "DELETED")
    assert(ladder(22L)._2 === "NOT_FOUND")
  }

  // ---- /volumes & /buckets composite listings over a tiny catalog ----

  private lazy val objects = Seq(
    ("vol0", "bucket0", "k1", 10L, 100L, 200L),
    ("vol0", "bucket1", "k2", 20L, 110L, 210L),
    ("vol1", "bucket0", "k3", 30L, 120L, 220L),
    ("vol2", "bucket3", "k4", 40L, 130L, 230L),
    ("vol2", "bucket4", "k5", 50L, 140L, 240L),
    ("vol2", "bucket5", "k6", 60L, 150L, 250L),
    ("vol3", "bucket0", "k7", 70L, 160L, 260L))
    .toDF("volume", "bucket", "key", "data_size", "creation_time",
      "modification_time")

  private lazy val buckets = objects.groupBy("volume", "bucket")
    .agg(sum("data_size").as("used_bytes"),
      count(lit(1)).as("used_namespace"))
    .withColumn("quota_bytes", lit(100L))
    .withColumn("quota_namespace", lit(10L))
    .withColumn("layout", lit("OBS"))

  private lazy val volumes = buckets.groupBy("volume")
    .agg(sum("used_bytes").as("used_bytes"),
      sum("used_namespace").as("used_namespace"),
      count(lit(1)).as("bucket_count"))
    .withColumn("quota_bytes", lit(1000L))
    .withColumn("owner", concat(lit("admin"), substring(col("volume"), 4, 10)))

  test("reconVolumes: exclusive prevKey page with composite row") {
    val got = Listing.reconVolumes(volumes, objects, 2, "vol0")
      .select("total_count", "volume", "used_bytes", "creation_time",
        "modification_time")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(got === Array((2L, "vol1", 30L, 120L, 220L),
      (2L, "vol2", 150L, 130L, 250L)))
  }

  test("reconVolumes: a prevKey that does not exist yields an empty page") {
    // ReconOmMetadataManagerImpl.listVolumes:219-224 — the skip flag
    // never flips, the iterator drains, nothing is collected
    assert(Listing.reconVolumes(volumes, objects, 10, "ghost").count() === 0)
  }

  test("reconVolumes: a zero-object volume still flips the skip flag") {
    // the iterator walks the VOLUME TABLE — an empty volume is a real
    // row there even though the times join drops it from the page
    val withEmpty = volumes.unionByName(
      Seq(("vol1a", 0L, 0L, 0L, 1000L, "adminx"))
        .toDF("volume", "used_bytes", "used_namespace", "bucket_count",
          "quota_bytes", "owner"))
    val got = Listing.reconVolumes(withEmpty, objects, 10, "vol1a")
      .select("volume").as[String].collect().toSeq
    assert(got === Seq("vol2", "vol3"))
  }

  test("reconBuckets: volume-scoped exclusive startBucket page") {
    val got = Listing.reconBuckets(buckets, objects, "vol2", "bucket3", 5)
      .select("total_count", "bucket", "used_bytes")
      .as[(Long, String, Long)].collect()
    assert(got === Array((2L, "bucket4", 50L), (2L, "bucket5", 60L)))
  }

  test("reconBuckets: unknown volume yields an empty page; empty volume lists all") {
    assert(Listing.reconBuckets(buckets, objects, "nope", "", 10).count() === 0)
    assert(Listing.reconBuckets(buckets, objects, "", "", 10).count() === 7)
  }

  test("recon listings: zero-object catalog rows occupy page slots with" +
    " catalog-derived times") {
    // ReconOmMetadataManagerImpl.java:196-311 walks volumeTable /
    // bucketTable — a freshly-created (key-less) volume or bucket is a
    // real page row whose times come from OmVolumeArgs/OmBucketInfo,
    // not from keys. vol21 must fill a slot; bucket41 must DISPLACE a
    // later bucket from a full page.
    val T = graft.core.Tables
    val d = "/root/testdata/sf0.001"
    val vols = Listing.reconVolumes(T.volumesCatalog(spark, d),
        T.objects(spark, d), 3, "vol1")
      .select("volume", "used_namespace", "bucket_count",
        "creation_time", "modification_time")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(vols.map(_._1).toSeq === Seq("vol2", "vol21", "vol3"))
    // vol2's bucket_count counts CATALOG rows — the planted zero-object
    // bucket41 makes it 11, not the usage dim's 10
    assert(vols.find(_._1 == "vol2").get._3 === 11L)
    val v21 = vols.find(_._1 == "vol21").get
    assert(v21._2 === 0L && v21._3 === 0L)
    assert(v21._4 === 1400000000000L + 21L * 86400000L)
    assert(v21._5 === v21._4 + 3600000L)
    val bks = Listing.reconBuckets(T.bucketsCatalog(spark, d),
        T.objects(spark, d), "vol2", "bucket3", 4)
      .select("bucket", "used_namespace", "creation_time")
      .as[(String, Long, Long)].collect()
    // bucket41 sits between bucket4 and bucket5 and evicts bucket7
    assert(bks.map(_._1).toSeq ===
      Seq("bucket4", "bucket41", "bucket5", "bucket6"))
    val b41 = bks.find(_._1 == "bucket41").get
    assert(b41._2 === 0L)
    assert(b41._3 === 1400000000000L + 41L * 86400000L)
  }

  // ---- /pendingDeletion dispatch over the shared synth fixtures ----

  private val pdSf = "/root/testdata/sf0.001"
  private lazy val pdStore = {
    val T = graft.core.Tables
    ReconJobs.pendingDeletionRollups(T.objects(spark, pdSf),
      T.nsSummaryMixed(spark, pdSf), T.deletedDirs(spark, pdSf),
      T.replicas(spark, pdSf), T.containersScm(spark, pdSf))
  }
  // (kind, entity, metric, value, rk), rk 0 where the store holds null
  private lazy val pdStoreRows = pdStore
    .select(col("kind"), col("entity"), col("metric"), col("value"),
      coalesce(col("rk"), lit(0)).as("rk"))
    .as[(String, String, String, Long, Int)].collect().toSeq

  test("pendingDeletion: validation rungs, dn limit, om size additivity") {
    val rows = ReconJobs.pendingDeletionDispatch(pdStore).collect()
    def of(rid: Long) = rows.filter(_.getAs[Long]("req_id") == rid)
    assert(of(1).map(_.getAs[String]("verdict")).toSeq ===
      Seq("MISSING_COMPONENT"))
    assert(of(2).map(_.getAs[String]("verdict")).toSeq ===
      Seq("INVALID_COMPONENT"))
    assert(of(4).map(_.getAs[String]("verdict")).toSeq ===
      Seq("LIMIT_TOO_SMALL"))
    // req3 (limit 2) lists exactly 2 datanodes + the 2 summary rows;
    // req5 (no limit) lists every datanode with pending blocks
    val r3 = of(3)
    assert(r3.count(_.getAs[String]("metric") == "pending_blocks") === 2)
    val r5list = of(5).filter(_.getAs[String]("metric") == "pending_blocks")
    val r5total = of(5)
      .find(_.getAs[String]("metric") == "total_pending_deletion").get
      .getAs[Long]("value")
    assert(r5list.map(_.getAs[Long]("value")).sum === r5total)
    assert(r5list.length === pdStoreRows.count(_._3 == "pending_blocks"))
    // the ' DN ' route normalizes and its page is the store's top 2 ranks
    val r3names = r3.filter(_.getAs[String]("metric") == "pending_blocks")
      .map(_.getAs[String]("entity")).toSet
    assert(r3names ===
      pdStoreRows.filter(r => r._5 >= 1 && r._5 <= 2).map(_._2).toSet)
    // om: totalSize = pendingDirectorySize + pendingKeySize, both routes
    // (req7 plain, req8 'OM ' with the limit ignored) identical
    def om(rid: Long) = of(rid)
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    assert(om(7)("totalSize") ===
      om(7)("pendingDirectorySize") + om(7)("pendingKeySize"))
    assert(om(7) === om(8))
  }

  test("pendingDeletion store: dn ranks run 1..n in (pending_blocks desc," +
    " dn) order; _summary and totalSize are the sums of their parts") {
    val dn = pdStoreRows.filter(_._3 == "pending_blocks")
    assert(dn.nonEmpty && dn.forall(_._1 == "dn"))
    assert(dn.sortBy(_._5).map(r => (r._2, r._4)) ===
      dn.sortBy(r => (-r._4, r._2)).map(r => (r._2, r._4)))
    assert(dn.map(_._5).sorted === (1 to dn.length))
    assert(pdStoreRows.filterNot(_._3 == "pending_blocks").forall(_._5 == 0))
    def v(kind: String, entity: String, metric: String) =
      pdStoreRows.filter(r => (r._1, r._2, r._3) == (kind, entity, metric))
        .map(_._4) match { case Seq(x) => x }
    assert(v("dn", "_summary", "total_pending_deletion") === dn.map(_._4).sum)
    assert(v("dn", "_summary", "nodes_queried") === dn.length.toLong)
    assert(v("om", "om", "totalSize") ===
      v("om", "om", "pendingKeySize") + v("om", "om", "pendingDirectorySize"))
    assert(pdStoreRows.map(_._1).toSet === Set("dn", "scm", "om"))
    assert(pdStoreRows.length === dn.length + 8)
  }

  test("a warm q_pending_deletion starts at most 4 Spark jobs") {
    val q = SparkEntry.queries("q_pending_deletion")
    val warm = rows(q(spark, pdSf))
    val (out, jobs) = jobsStarted(spark)(_ => rows(q(spark, pdSf)))
    assert(warm.nonEmpty && out === warm)
    assert(jobs <= 4, s"$jobs jobs")
  }

  test("q_storage_distribution and q_pending_deletion's om route agree on" +
    " the pending key and dir sizes") {
    // the reference reads both from one calculatePendingSizes
    val dist = SparkEntry.queries("q_storage_distribution")(spark, pdSf)
      .select("pending_key_bytes", "pending_dir_bytes").as[(Long, Long)]
      .collect().toSeq
    val om = SparkEntry.queries("q_pending_deletion")(spark, pdSf)
      .filter(col("verdict") === "OM_OK")
      .select("req_id", "metric", "value").as[(Long, String, Long)]
      .collect().groupBy(_._1).values
      .map(_.map(r => r._2 -> r._3).toMap).toSeq
    assert(om.nonEmpty)
    om.foreach { m =>
      assert(dist === Seq((m("pendingKeySize"), m("pendingDirectorySize"))))
    }
    assert(dist.head._1 > 0L && dist.head._2 > 0L)
  }

  test("reconVolumes/reconBuckets paging == the sequential iterator walks" +
    " over random catalogs") {
    // listVolumes:196-231 skip-until-match (absent prevKey drains the
    // iterator → empty page); listBucketsUnderVolume:253-311 volumeExists
    // gate + exact-startKey continue. 15 random catalogs × 3 random
    // paging params each.
    val rnd = new scala.util.Random(50411)
    for (trial <- 0 until 15) {
      val vols = rnd.shuffle((0 until 8).toList)
        .take(2 + rnd.nextInt(5)).map(i => s"vol$i").sorted
      val cat = vols.flatMap { v =>
        rnd.shuffle((0 until 6).toList).take(1 + rnd.nextInt(4))
          .map(b => (v, s"bucket$b"))
      }
      val objs = cat.zipWithIndex.map { case ((v, b), i) =>
        (v, b, s"k$i", 10L + i, 100L + i, 200L + i)
      }.toDF("volume", "bucket", "key", "data_size", "creation_time",
        "modification_time")
      val bks = objs.groupBy("volume", "bucket")
        .agg(sum("data_size").as("used_bytes"),
          count(lit(1)).as("used_namespace"))
        .withColumn("quota_bytes", lit(9L))
        .withColumn("quota_namespace", lit(9L))
        .withColumn("layout", lit("OBS"))
      val vls = bks.groupBy("volume")
        .agg(sum("used_bytes").as("used_bytes"),
          sum("used_namespace").as("used_namespace"),
          count(lit(1)).as("bucket_count"))
        .withColumn("quota_bytes", lit(9L))
        .withColumn("owner", lit("o"))
      for (_ <- 0 until 3) {
        val prevKey = rnd.nextInt(4) match {
          case 0 => ""
          case 1 => "ghost"
          case _ => vols(rnd.nextInt(vols.size))
        }
        val limit = 1 + rnd.nextInt(4)
        val expVols =
          if (prevKey.isEmpty) vols.take(limit)
          else if (!vols.contains(prevKey)) Nil
          else vols.dropWhile(_ != prevKey).drop(1).take(limit)
        val gotVols = Listing.reconVolumes(vls, objs, limit, prevKey)
          .select("volume").as[String].collect().toList
        assert(gotVols === expVols, s"trial $trial prev $prevKey")
        val vol = if (rnd.nextInt(5) == 0) "nope"
          else vols(rnd.nextInt(vols.size))
        val inVol = cat.filter(_._1 == vol).map(_._2).sorted
        val startB = rnd.nextInt(3) match {
          case 0 => ""
          case 1 if inVol.nonEmpty => inVol(rnd.nextInt(inVol.size))
          case _ => "bucket3"
        }
        val expBks =
          if (!vols.contains(vol)) Nil
          else inVol.filter(b => startB.isEmpty || b > startB).take(limit)
        val gotBks = Listing.reconBuckets(bks, objs, vol, startB, limit)
          .select("bucket").as[String].collect().toList
        assert(gotBks === expBks, s"trial $trial vol $vol start $startB")
      }
    }
  }
}
