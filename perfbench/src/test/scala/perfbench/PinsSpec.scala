package perfbench

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession
import graft.operators.Hierarchy

class PinsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  private def inMemoryScans(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    QueryStats.of(df.queryExecution).inMemoryScans
  }

  test("release leaves no in-memory scan for the next pass to read") {
    val base = spark.range(0, 1000).withColumn("v", col("id") % 7)
    val pinned = base.filter(col("v") === 3).persist()
    pinned.count()
    assert(inMemoryScans(pinned.groupBy("v").count()) == 1)
    assert(Pins.cachedMb(spark) > 0)

    Pins.release(spark)

    assert(Pins.cachedMb(spark) == 0.0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // the same query, built again as the next pass would build it
    assert(inMemoryScans(base.filter(col("v") === 3).groupBy("v").count()) == 0)
  }

  test("release frees the pins the FSO resolve ladder leaves behind") {
    import spark.implicits._
    val dirs = Seq(("v", "b", 1L, 0L, "a"), ("v", "b", 2L, 1L, "c"),
      ("v", "b", 3L, 2L, "d"))
      .toDF("volume", "bucket", "dir_id", "parent_id", "name")
    val resolved = Hierarchy.resolveDirs(dirs).collect()
    assert(resolved.map(_.getAs[String]("path")).toSet == Set("a", "a/c", "a/c/d"))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the resolve ladder is expected to pin its result")

    assert(Pins.release(spark) > 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(Pins.cachedMb(spark) == 0.0)
  }
}
