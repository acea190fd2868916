package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

/** Dev harness: time a subset of SparkEntry queries without a full bench
  * run. Usage: runMain graft.tools.TimeQueries <sfDir> <query>[,<query>...]
  * [reps]. Prints per-rep seconds so warm-vs-cold costs are visible, each
  * followed by the part of them spent building the DataFrame (`(cS)`:
  * construct, including any job an operator runs eagerly) and by the
  * rep's Janino compile count (`/Nc`): a warm rep that still compiles has
  * generated code that misses Spark's codegen cache. Example:
  * `0.41s(c0.02)/0c`.
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
      val runs = (1 to reps).map { _ =>
        val c0 = compiles
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val built = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, (built - t0) / 1e9, compiles - c0)
      }
      println(f"[time] $n%-28s " + runs.map { case (t, construct, c) =>
        f"$t%.2fs(c$construct%.2f)/${c}c" }.mkString(" "))
    }
    spark.stop()
  }

  /** Janino compiles so far in this JVM (whole-stage and expression code). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
