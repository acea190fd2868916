package graft.tools

/** Dev-only: write `.explain("formatted")` output for named declared
  * queries to files — the committed plan evidence for optimization
  * rounds (plans/rNN/<query>_{before,after}.txt). Two sections per file:
  * the pre-execution formatted plan (shows PushedFilters/ReadSchema and
  * the initial join strategies) and, after one materializing run, the
  * AQE-final executed plan (shows the runtime join rewrites and
  * coalesced exchanges). Usage:
  * runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> q1[,q2...]
  * `SPARK_GRAFT_CPUS` sets the local thread count (default: every
  * processor of the machine). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2) // "before" | "after"
    val names = args(3).split(",").toSeq
    // fail loudly on a typo (ADVICE r15): a silently-skipped unknown
    // name produces no evidence file — easy to miss when these files
    // are the committed plan proof of an optimization round
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = graft.core.GraftSession.local(
      sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors))
    for (name <- names; fn <- graft.SparkEntry.queries.get(name)) {
      val df = fn(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // execute THIS QueryExecution's physical plan (df.count() would spawn
      // a separate QueryExecution and leave this one isFinalPlan=false)
      df.queryExecution.executedPlan.execute().count()
      val finalPlan = df.queryExecution.executedPlan.toString
      val txt =
        s"== $name @ $sfDir — explain(\"formatted\"), pre-execution ==\n" +
          formatted +
          s"\n== $name — AQE-final executed plan (after one run) ==\n" +
          finalPlan
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
