package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The timing harness: time SparkEntry queries to their full output.
  * Usage: runMain graft.tools.TimeQueries <sfDir> (all | <query>[,<query>...])
  * [reps]. `all` sweeps every declared query in `SparkEntry.queries` order
  * (the fixed order Verify writes HASHES.json in). An unknown name fails
  * the run before any timing, and a query that throws fails it at once:
  * a broken query is never reported as a fast one.
  * Prints per-rep seconds so warm-vs-cold costs are visible, each
  * followed by the part of them spent building the DataFrame (`(cS)`:
  * construct, including any job an operator runs eagerly), by the rep's
  * Janino compile count (`/Nc`): a warm rep that still compiles has
  * generated code that misses Spark's codegen cache, and by the Spark
  * jobs the rep started (`/Nj`). Example: `0.41s(c0.02)/0c/3j`.
  * Each rep produces every output column (a `noop` write), not a
  * `count()` that lets Catalyst prune the columns and what feeds them.
  * `SPARK_GRAFT_CPUS` sets the local thread count (default: every
  * processor of the machine). */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val declared = graft.SparkEntry.queries
    val names =
      if (args(1) == "all") declared.keys.toSeq else args(1).split(",").toSeq
    val unknown = names.filterNot(declared.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.core.GraftSession.local(cpus)
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(
        String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    })
    // jobs a rep's group started (a query's own threads inherit the group),
    // counted once a later fence job's start is seen: events arrive in order
    def jobs(group: String): Int = {
      sc.setJobGroup(s"$group-fence", "")
      sc.parallelize(Seq(1), 1).count()
      while (!started.contains(s"$group-fence")) Thread.sleep(1)
      started.toArray.count(_ == group)
    }
    try {
      graft.SparkEntry.entry(spark).count() // session/codegen warmup
      names.foreach { n =>
        val fn = declared(n)
        val runs = (1 to reps).map { rep =>
          val group = s"time-$n-$rep"
          sc.setJobGroup(group, group)
          val c0 = compiles
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val built = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          ((System.nanoTime() - t0) / 1e9, (built - t0) / 1e9, compiles - c0,
            jobs(group))
        }
        println(f"[time] $n%-28s " + runs.map { case (t, construct, c, j) =>
          f"$t%.2fs(c$construct%.2f)/${c}c/${j}j" }.mkString(" "))
      }
    } finally spark.stop()
  }

  /** Janino compiles so far in this JVM (whole-stage and expression code). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
