package graft

import org.apache.spark.sql.functions._

/** The shuffle-free sorted latest-version-wins fold must agree EXACTLY
  * with the min_by dual — including when the scan slices sorted files
  * into many partitions (straddling runs re-combine from partials) and
  * on adversarially unsorted input (loud refusal, not wrong winners). */
class LifecycleFoldSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  import graft.operators.Lifecycle

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy("volume", "bucket", "lv_key"))

  test("sorted fold == min_by dual on the warehouse namespace") {
    val expected = canon(Lifecycle.latestVersionWins(
      graft.core.Tables.objects(spark, sf)))
    val got = canon(Lifecycle.latestVersionWinsSorted(
      graft.core.Tables.objectsSorted(spark, sf)))
    assert(got === expected)
  }

  test("fold survives file slicing into many scan partitions") {
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val sliced = graft.core.Tables.objectsSorted(spark, sf)
      assert(sliced.rdd.getNumPartitions > 8)
      val got = canon(Lifecycle.latestVersionWinsSorted(sliced))
      val expected = canon(Lifecycle.latestVersionWins(
        graft.core.Tables.objects(spark, sf)))
      assert(got === expected)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("fold REFUSES unsorted input instead of emitting split-run winners") {
    // descending in-run sort: since `objects` became warehouse-backed a
    // plain hash scramble arrives run-sorted per map block and never
    // trips the check — force a guaranteed same-(volume,bucket) key
    // regression instead
    val messy = graft.core.Tables.objects(spark, sf)
      .repartition(7, col("object_id"))
      .sortWithinPartitions(col("volume"), col("bucket"), col("key").desc)
    val e = intercept[org.apache.spark.SparkException] {
      Lifecycle.latestVersionWinsSorted(messy).count()
    }
    assert(e.getMessage.contains("key-sorted") ||
      Option(e.getCause).exists(_.getMessage.contains("key-sorted")))
  }

  test("fold's parquet scan reads ONLY the five fold columns (plan-asserted)") {
    val plan = Lifecycle.latestVersionWinsSorted(
        graft.core.Tables.objectsSorted(spark, sf))
      .queryExecution.executedPlan.toString
    val read = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail("no parquet ReadSchema in plan"))
    // pruning through mapPartitions: at 100 TB reading etag/owner/... for
    // a 5-column fold would double the scan bytes
    assert(read.contains("key") && read.contains("version") &&
      read.contains("data_size"))
    for (c <- Seq("etag", "owner", "creation_time", "replicated_size"))
      assert(!read.contains(c), s"scan reads pruned column $c: $read")
  }

  test("winner ordering: version desc, then key asc, then size desc") {
    import spark.implicits._
    val df = Seq(
      // same lv_key a/b/1: v3 beats v2; among v3s, key asc wins; among
      // equal (v, key), size desc wins
      ("v", "b", "a/b/1/x.dat", 3L, 10L),
      ("v", "b", "a/b/1/x.dat", 3L, 90L),
      ("v", "b", "a/b/1/y.dat", 3L, 99L),
      ("v", "b", "a/b/1/z.dat", 2L, 50L),
      ("v", "b", "a/b/2/x.dat", 1L, 7L))
      .toDF("volume", "bucket", "key", "version", "data_size")
      .coalesce(1)
      .sortWithinPartitions("volume", "bucket", "key")
    val got = canon(Lifecycle.latestVersionWinsSorted(df))
    assert(got === Seq(
      Seq("v", "b", "a/b/1", "a/b/1/x.dat", 3L, 90L),
      Seq("v", "b", "a/b/2", "a/b/2/x.dat", 1L, 7L)))
  }

  test("openKeyCleanup: every reference rung populated, fences re-derived") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val rows = Lifecycle.openKeyCleanup(
      graft.core.Tables.openKeys(spark, d), 833587200000L, 883612800000L)
      .select("client_id", "hsynced", "selection", "outcome")
      .as[(Long, Boolean, String, String)].collect()
    val bySel = rows.groupBy(_._3).view.mapValues(_.length).toMap
    // all five selection classes exist in the corpus split
    assert(Set("SKIP_MPU", "RETAIN", "DELETE", "COMMIT")
      .subsetOf(bySel.keySet))
    // DELETE rows fan into the three apply outcomes
    val delOut = rows.filter(_._3 == "DELETE").map(_._4).toSet
    assert(delOut === Set("SKIP_COMMITTED", "SKIP_NEWER_UPDATE", "DELETED"))
    // non-DELETE selections pass through unchanged
    assert(rows.filter(_._3 != "DELETE").forall(r => r._4 == r._3))
    // COMMIT only ever fires for hsync'd entries
    assert(rows.filter(_._3 == "COMMIT").forall(_._2))
    // the subtle rung: lease-expired NON-hsync keys with fresh creation
    // are RETAINED, so retained rows include non-hsync entries
    assert(rows.exists(r => r._3 == "RETAIN" && !r._2))
  }

  test("q_latest_version: one winner per distinct (volume, bucket, " +
    "3-segment key)") {
    val winners = SparkEntry.queries("q_latest_version")(spark, sf).count()
    val logicalKeys = graft.core.Tables.objectsSorted(spark, sf)
      .select(col("volume"), col("bucket"),
        expr("concat_ws('/', slice(split(key, '/'), 1, 3))"))
      .distinct().count()
    assert(logicalKeys > 0)
    assert(winners === logicalKeys)
  }
}
