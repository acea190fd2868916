package graft

import org.apache.spark.sql.functions._

/** The shuffle-free sorted NSSummary fold must agree EXACTLY with the
  * declarative rollup — including when the scan slices sorted files into
  * many partitions (boundary dirs re-combine from partials) and when input
  * is adversarially unsorted (run-regression detection degrades every dir
  * to a partial instead of miscounting). */
class AggregatesFoldSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  import graft.operators.Aggregates

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy("volume", "bucket", "dir"))

  test("sorted fold == declarative rollup on the mixed-depth namespace") {
    val expected = canon(Aggregates.nsSummary(
      graft.core.Tables.objectsMixed(spark, sf)))
    val got = canon(Aggregates.nsSummarySorted(
      graft.core.Tables.objectsMixedSorted(spark, sf)))
    assert(got === expected)
  }

  test("fold survives file slicing: tiny maxPartitionBytes forces boundary partials") {
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val sliced = graft.core.Tables.objectsMixedSorted(spark, sf)
      // prove the config really sliced the scan into many partitions
      assert(sliced.rdd.getNumPartitions > 8)
      val got = canon(Aggregates.nsSummarySorted(sliced))
      val expected = canon(Aggregates.nsSummary(
        graft.core.Tables.objectsMixed(spark, sf)))
      assert(got === expected)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("fold REFUSES unsorted input (duplicate-final risk) instead of miscounting") {
    // descending in-run sort: since `objects` became warehouse-backed a
    // plain hash scramble arrives run-sorted per map block and never
    // trips the check — force a guaranteed same-(volume,bucket) key
    // regression instead
    val messy = graft.core.Tables.objectsMixed(spark, sf)
      .repartition(7, col("object_id"))
      .sortWithinPartitions(col("volume"), col("bucket"), col("key").desc)
    val e = intercept[org.apache.spark.SparkException] {
      Aggregates.nsSummarySorted(messy).count()
    }
    assert(e.getMessage.contains("key-sorted") ||
      Option(e.getCause).exists(_.getMessage.contains("key-sorted")))
  }

  test("fold's parquet scan reads ONLY the five fold columns (plan-asserted)") {
    val plan = Aggregates.nsSummarySorted(
        graft.core.Tables.objectsMixedSorted(spark, sf))
      .queryExecution.executedPlan.toString
    val read = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail("no parquet ReadSchema in plan"))
    assert(read.contains("key") && read.contains("data_size") &&
      read.contains("replicated_size"))
    for (c <- Seq("etag", "owner", "creation_time", "version"))
      assert(!read.contains(c), s"scan reads pruned column $c: $read")
  }

  test("single-segment keys contribute to no directory") {
    import spark.implicits._
    val df = Seq(
      ("v", "b", "a/x.txt", 1L, 3L),
      ("v", "b", "a/y.txt", 2L, 6L),
      ("v", "b", "solo.txt", 10L, 30L))
      .toDF("volume", "bucket", "key", "data_size", "replicated_size")
    val got = canon(Aggregates.nsSummarySorted(df))
    assert(got === Seq(Seq("v", "b", "a", 2L, 3L, 9L)))
  }

  test("q_ns_summary conserves keys: top-level num_files == keys with " +
    "at least 2 segments") {
    val topLevelFiles = SparkEntry.queries("q_ns_summary")(spark, sf)
      .filter(!col("dir").contains("/"))
      .agg(coalesce(sum("num_files"), lit(0L))).head().getLong(0)
    val multiSegmentKeys = graft.core.Tables.objectsMixedSorted(spark, sf)
      .filter(size(split(col("key"), "/")) >= 2).count()
    assert(multiSegmentKeys > 0)
    assert(topLevelFiles === multiSegmentKeys)
  }
}
