package graft.tools

/** Dev harness: time a subset of SparkEntry queries without a full bench
  * run. Usage: runMain graft.tools.TimeQueries <sfDir> <query>[,<query>...]
  * [reps]. Prints per-rep seconds so warm-vs-cold costs are visible.
  * Each rep produces every output column (a `noop` write), not a
  * `count()` that lets Catalyst prune the columns and what feeds them. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.local(cpus)
    graft.SparkEntry.entry(spark).count() // session/codegen warmup
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $n%-28s ${times.map(t => f"$t%.2f").mkString(" ")}s")
    }
    spark.stop()
  }
}
