package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** The NSSummary rollup: its directory semantics, its key conservation, and
  * that the queries over it read the stored rollup instead of re-deriving
  * it from the keys. */
class AggregatesFoldSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  import graft.operators.Aggregates

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy("volume", "bucket", "dir"))

  test("single-segment keys contribute to no directory") {
    import spark.implicits._
    val df = Seq(
      ("v", "b", "a/x.txt", 1L, 3L),
      ("v", "b", "a/y.txt", 2L, 6L),
      ("v", "b", "solo.txt", 10L, 30L))
      .toDF("volume", "bucket", "key", "data_size", "replicated_size")
    val got = canon(Aggregates.nsSummary(df))
    assert(got === Seq(Seq("v", "b", "a", 2L, 3L, 9L)))
  }

  test("q_ns_summary conserves keys: top-level num_files == keys with " +
    "at least 2 segments") {
    val topLevelFiles = SparkEntry.queries("q_ns_summary")(spark, sf)
      .filter(!col("dir").contains("/"))
      .agg(coalesce(sum("num_files"), lit(0L))).head().getLong(0)
    val multiSegmentKeys = graft.core.Tables.objectsMixed(spark, sf)
      .filter(size(split(col("key"), "/")) >= 2).count()
    assert(multiSegmentKeys > 0)
    assert(topLevelFiles === multiSegmentKeys)
  }

  test("q_ns_summary and q_deleted_dirs scan the stored rollup once and " +
    "read no key column") {
    for (q <- Seq("q_ns_summary", "q_deleted_dirs")) {
      val scans = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
        .collect { case s: FileSourceScanExec => s }
      val rollupScans = scans.filter(_.relation.location.rootPaths
        .exists(_.getName.startsWith("graft_nsmx_")))
      assert(rollupScans.size === 1, s"$q scans of the stored rollup: $scans")
      for (s <- scans)
        assert(!s.requiredSchema.fieldNames.contains("key"),
          s"$q reads keys: ${s.requiredSchema.simpleString}")
    }
  }
}
