package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import graft.core.GraftSession

/**
 * Benchmark entry point: one workload, one `GraftSession.local` session,
 * a seeded request stream. After set-up and an untimed warm-up pass, it
 * runs timed passes for `--seconds`, releasing every pin between passes,
 * and prints one JSON line of metrics last. With `--trace 1` the timed
 * passes alternate untraced and traced, and the line carries the
 * per-layer metrics of the traced passes plus the tracing overhead.
 */
object Main {

  /** Client threads and Spark task slots: at most the machine's cores. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** A run must exit well inside 180 s: no pass starts past this point. */
  val LastPassStartS = 120.0

  /** Untraced passes a run makes at least, so `pass_s` is a median of
    * several. A traced run adds at least `MinTracedPasses` traced ones. */
  val MinPasses = 3
  val MinTracedPasses = 2

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "query_p50_s" -> "s", "query_p90_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "api.construct_ms" -> "ms", "api.eager_jobs" -> "count",
    "construct_s" -> "s", "construct_jobs" -> "count",
    "plan.optimize_s" -> "s", "plan.physical_s" -> "s", "plan.nodes" -> "count",
    "plan.exchanges" -> "count",
    "scan.files" -> "count", "scan.files_available" -> "count",
    "scan.bytes" -> "bytes", "scan.bytes_available" -> "bytes",
    "scan.partitions" -> "count", "scan.partitions_available" -> "count",
    "scan.rows" -> "count",
    "exec.busy_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.tasks" -> "count", "exec.idle_share" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.records" -> "count",
    "mem.spill_bytes" -> "bytes", "mem.peak_exec_mb" -> "MB",
    "stream.state_files_written" -> "count",
    "stream.state_bytes_written" -> "bytes",
    "cache.pins_created" -> "count", "cache.inmemory_scans" -> "count",
    "cache.cached_mb" -> "MB",
    "setup.session_s" -> "s", "setup.warehouse_s" -> "s", "setup.fso_s" -> "s",
    "setup.artifacts_s" -> "s", "setup.cdc_s" -> "s", "setup.warmup_s" -> "s",
    "self.construct_s" -> "s", "self.plan_s" -> "s", "self.execute_s" -> "s",
    "self.eager_job_s" -> "s", "self.job_s" -> "s",
    "self.catalyst.analysis_s" -> "s", "self.catalyst.optimization_s" -> "s",
    "self.catalyst.planning_s" -> "s", "self.stream.delta_s" -> "s",
    "self.stream.apply_s" -> "s",
    "trace.overhead_share" -> "ratio")

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, data: String, work: String,
                        results: String, expected: String, mint: Boolean)

  /** One finished pass. `layers` is filled for traced passes only. */
  final case class PassRec(index: Int, traced: Boolean, wallS: Double,
                           result: PassResult, cachedMb: Double,
                           layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val t0 = Clock.nowNs()
    exitWhenParentGoes()
    val o = parse(args)
    val w = Workloads.all.getOrElse(o.workload, sys.error(
      s"unknown workload ${o.workload}; one of ${Workloads.all.keys.mkString(", ")}"))
    val setup = new Setup
    val spark = setup.time("session")(GraftSession.local(Cores))
    val code = try { run(o, w, spark, setup, t0); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    finally spark.stop()
    sys.exit(code)
  }

  /** The launcher holds our stdin open; end-of-file means it is gone. */
  private def exitWhenParentGoes(): Unit = {
    val t = new Thread(() => {
      while (System.in.read() != -1) ()
      Runtime.getRuntime.halt(3)
    }, "perfbench-parent-watch")
    t.setDaemon(true)
    t.start()
  }

  private def sinceS(t0: Long): Double = (Clock.nowNs() - t0) / 1e9

  private def run(o: Opts, w: Workload, spark: SparkSession, setup: Setup,
                  t0: Long): Unit = {
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val client = new Client(spark, tracer)
    val ctx = new Ctx(spark, o.data, o.work, o.seed, client, o.expected, o.mint)
    w.setup(ctx, setup)
    val warm = setup.time("warmup")(w.pass(ctx, 0))
    Pins.release(spark)
    val setupS = sinceS(t0)
    progress(w.name, "warm-up", setup.steps("warmup"), warm, 0.0)
    val resultFile = s"${o.results}/${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"
    val passes = Vector.newBuilder[PassRec]
    var timedS = 0.0
    var lastWall = 0.0
    var i = 1
    def done(ps: Seq[PassRec]) = timedS >= o.seconds &&
      ps.count(!_.traced) >= MinPasses && (!o.trace || ps.count(_.traced) >= MinTracedPasses)
    while (!done(passes.result()) && sinceS(t0) + lastWall < LastPassStartS) {
      val traced = o.trace && i % 2 == 0
      tracer.foreach(_.enabled = traced)
      val gc0 = gcSeconds()
      val start = Clock.nowNs()
      val r = w.pass(ctx, i)
      val end = Clock.nowNs()
      val gcS = gcSeconds() - gc0
      val wall = (end - start) / 1e9
      val cached = Pins.cachedMb(spark)
      val layers = tracer.filter(_ => traced)
        .map(t => layerMetrics(w, t.takePass(start, end), r, wall, gcS, cached, setup))
        .getOrElse(Map.empty)
      tracer.foreach(_.enabled = false)
      Pins.release(spark)
      passes += PassRec(i, traced, wall, r, cached, layers)
      timedS += wall
      lastWall = wall
      progress(w.name, s"pass $i${if (traced) " (traced)" else ""}", wall, r, cached)
      writeJson(resultFile, report(o, w, setup, setupS, warm, passes.result(), complete = false))
      i += 1
    }
    tracer.foreach(_.close())
    val ps = passes.result()
    val rep = report(o, w, setup, setupS, warm, ps, complete = true)
    writeJson(resultFile, rep)
    val (attempted, failed) = counts(warm +: ps.map(_.result))
    summary(w.name, rep)
    val metrics = if (o.trace) rep("per_layer").asInstanceOf[Map[String, Double]]
      else rep("end_to_end").asInstanceOf[Map[String, Double]]
    val units = (if (o.trace) PerLayer else EndToEnd).toMap
    metrics.foreach { case (k, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v") }
    println(Serialization.write(Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> units(k)) })))
  }

  private implicit val formats: Formats = DefaultFormats

  /** Write atomically: a reader never sees a half-written file. */
  private def writeJson(path: String, v: Map[String, Any]): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.writeString(tmp, Serialization.write(v) + "\n")
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def counts(rs: Seq[PassResult]): (Int, Int) =
    (rs.map(_.replies.size).sum, rs.map(_.replies.count(_._2.nonEmpty)).sum)

  private def progress(workload: String, what: String, wallS: Double,
                       r: PassResult, cachedMb: Double): Unit = {
    val failed = r.replies.filter(_._2.nonEmpty)
    failed.take(5).foreach { case (rep, err) =>
      System.err.println(s"[perfbench] $workload ${rep.label}: ${err.get}") }
    println(f"[perfbench] $workload $what: $wallS%.3f s, ${r.replies.size} requests, " +
      f"${failed.size} failed, cached $cachedMb%.3f MB")
  }

  /** Every end-to-end measurement by name and unit, the ungated ones too. */
  private def summary(workload: String, rep: Map[String, Any]): Unit = {
    val units = EndToEnd.toMap ++ Map("rpc_per_s" -> "1/s",
      "cached_mb" -> "MB", "rpc_p50_ms" -> "ms", "rpc_p95_ms" -> "ms",
      "delta_apply_s" -> "s")
    val all = rep("end_to_end").asInstanceOf[Map[String, Double]] ++
      rep("workload_metrics").asInstanceOf[Map[String, Double]]
    val shown = all.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.4f ${units(k)}" }
    println(s"[perfbench] $workload ${shown.mkString(", ")}, " +
      s"error_rate=${rep("error_rate")} (${rep("failed")}/${rep("attempted")}), " +
      s"latency samples=${rep("samples")}")
  }

  /** Everything the run measured, as written to the results file. */
  private def report(o: Opts, w: Workload, setup: Setup, setupS: Double,
                     warm: PassResult, ps: Seq[PassRec],
                     complete: Boolean): Map[String, Any] = {
    val timed = ps.filter(!_.traced)
    val traced = ps.filter(_.traced)
    val (attempted, failed) = counts(warm +: ps.map(_.result))
    val lat = timed.flatMap(_.result.replies.collect {
      case (r, None) if r.label != "delta" => r.latencyS })
    val timedWall = timed.map(_.wallS).sum
    val e2e: Map[String, Double] =
      if (timed.isEmpty) Map.empty
      else Map("setup_s" -> setupS,
        "pass_s" -> Stats.median(timed.map(_.wallS)),
        "query_p50_s" -> Stats.quantile(lat, 0.5),
        "query_p90_s" -> Stats.quantile(lat, 0.9))
    // reported here and not gated: cached_mb can read 0 (no pin survives
    // a recon pass), and the rest belong to one workload each
    val workloadSpecific: Map[String, Double] =
      if (timed.isEmpty) Map.empty
      else Map("cached_mb" -> Stats.median(timed.map(_.cachedMb))) ++ (
      if (w.api) Map(
        "rpc_per_s" -> lat.size / timedWall,
        "rpc_p50_ms" -> Stats.quantile(lat, 0.5) * 1e3,
        "rpc_p95_ms" -> Stats.quantile(lat, 0.95) * 1e3)
      else Map.empty) ++ (
      if (timed.exists(_.result.extra.contains("delta_apply_s"))) Map("delta_apply_s" ->
        Stats.median(timed.map(_.result.extra("delta_apply_s"))))
      else Map.empty)
    val perLayer: Map[String, Double] =
      if (traced.isEmpty || timed.isEmpty) Map.empty
      else {
        val med = PerLayer.map(_._1).filter(_ != "trace.overhead_share")
          .map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap
        med + ("trace.overhead_share" ->
          (Stats.median(traced.map(_.wallS)) / Stats.median(timed.map(_.wallS)) - 1))
      }
    Map("workload" -> w.name, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "complete" -> complete, "cores" -> Cores,
      "attempted" -> attempted, "failed" -> failed,
      "error_rate" -> failed.toDouble / attempted,
      "samples" -> lat.size,
      "setup_steps_s" -> setup.steps.toSeq.toMap,
      "warmup_latencies_s" -> warm.replies.map { case (r, _) => Seq(r.label, r.latencyS) },
      "end_to_end" -> e2e,
      "workload_metrics" -> workloadSpecific,
      "per_layer" -> perLayer,
      "self_time_s" -> (if (traced.isEmpty) Map.empty else
        traced.flatMap(_.layers.keys).filter(_.startsWith("self.")).distinct
          .map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap),
      "passes" -> ps.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cached_mb" -> p.cachedMb,
        "latencies_s" -> p.result.replies.map { case (r, _) =>
          Seq(r.label, r.latencyS) },
        "requests" -> p.result.replies.size,
        "failed" -> p.result.replies.count(_._2.nonEmpty)) ++ p.result.extra))
  }

  /** Collection time of the JVM so far. In local mode the executors run in
    * this JVM, so this covers task and planning work alike. */
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Per-layer metrics of one traced pass. */
  private def layerMetrics(w: Workload, t: PassTrace, r: PassResult, wallS: Double,
                           gcS: Double, cachedMb: Double,
                           setup: Setup): Map[String, Double] = {
    val q = t.queries
    val ts = t.tasks
    val replies = r.replies.map(_._1)
    val busy = ts.map(_.runS).sum
    val selfT = Spans.selfTimes(t.spans).map { case (k, v) => s"self.${k}_s" -> v }
    val step = (n: String) => setup.steps.getOrElse(n, 0.0)
    val eagerJobs = t.spans.count(_.layer == "eager_job").toDouble
    // construct time and eager jobs: `api.*` for graft.Api calls, the
    // `construct_*` pair for SparkEntry queries and the CDC delta
    val (api, batch) = if (w.api) (1.0, 0.0) else (0.0, 1.0)
    Map(
      "api.construct_ms" -> api * Stats.median(replies.map(_.constructS)) * 1e3,
      "api.eager_jobs" -> api * eagerJobs,
      "construct_s" -> batch * replies.map(_.constructS).sum,
      "construct_jobs" -> batch * eagerJobs,
      "plan.optimize_s" -> q.map(_.optimizeS).sum,
      "plan.physical_s" -> q.map(_.physicalS).sum,
      "plan.nodes" -> q.map(_.nodes).sum.toDouble,
      "plan.exchanges" -> q.map(_.exchanges).sum.toDouble,
      "scan.files" -> q.map(_.scanFiles).sum.toDouble,
      "scan.files_available" -> q.map(_.scanFilesAvailable).sum.toDouble,
      "scan.bytes" -> q.map(_.scanBytes).sum.toDouble,
      "scan.bytes_available" -> q.map(_.scanBytesAvailable).sum.toDouble,
      "scan.partitions" -> q.map(_.scanPartitions).sum.toDouble,
      "scan.partitions_available" -> q.map(_.scanPartitionsAvailable).sum.toDouble,
      "scan.rows" -> q.map(_.scanRows).sum.toDouble,
      "exec.busy_s" -> busy,
      "exec.cpu_s" -> ts.map(_.cpuS).sum,
      "exec.gc_s" -> gcS,
      "exec.tasks" -> ts.size.toDouble,
      "exec.idle_share" -> (1 - busy / (Cores * wallS)),
      "shuffle.write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleReadBytes).sum.toDouble,
      "shuffle.records" -> ts.map(_.shuffleRecords).sum.toDouble,
      "mem.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "mem.peak_exec_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakExecBytes).max / 1e6),
      "stream.state_files_written" -> r.extra.getOrElse("stream.state_files_written", 0.0),
      "stream.state_bytes_written" -> r.extra.getOrElse("stream.state_bytes_written", 0.0),
      "cache.pins_created" -> t.pinsCreated.toDouble,
      "cache.inmemory_scans" -> q.map(_.inMemoryScans).sum.toDouble,
      "cache.cached_mb" -> cachedMb,
      "setup.session_s" -> step("session"),
      "setup.warehouse_s" -> step("warehouse"),
      "setup.fso_s" -> step("fso"),
      "setup.artifacts_s" -> step("artifacts"),
      "setup.cdc_s" -> step("cdc"),
      "setup.warmup_s" -> step("warmup")) ++ selfT
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("results"),
      need("expected"), m.get("mint").contains("1"))
  }
}
