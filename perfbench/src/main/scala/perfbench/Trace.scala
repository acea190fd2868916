package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Tracing for the traced run. The benchmark records spans around its own
 * calls into the engine; a [[SparkListener]] supplies job spans and task
 * metrics, and a [[QueryExecutionListener]] supplies each executed query's
 * planning phases, final (post-AQE) plan and SQL metrics. Everything is
 * kept in memory and summarised per pass.
 */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QueryExecution]()
  // (rdd id, stage submission) of every persisted RDD a stage computed or read
  private val pinned = new ConcurrentLinkedQueue[(Int, Long)]()
  // spans that run alone (the CDC delta): jobs inside their window belong
  // to them even when engine-owned threads carry stale job properties
  private val exclusive = new ConcurrentLinkedQueue[Span]()
  // request id -> (construct span, execute span), for parenting job spans
  private val phaseSpans =
    new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
  @volatile private var on = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.add(JobRec(e.jobId, Clock.fromEpochMs(e.time), -1L,
        prop(ReqProp).map(_.toLong).getOrElse(-1L),
        prop(PhaseProp).getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on)
      jobEnds.put(e.jobId, Clock.fromEpochMs(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskRec(Clock.fromEpochMs(e.taskInfo.launchTime),
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
      val at = e.stageInfo.submissionTime.map(Clock.fromEpochMs)
        .getOrElse(Clock.nowNs())
      e.stageInfo.rddInfos.filter(_.storageLevel.isValid)
        .foreach(i => pinned.add((i.id, at)))
    }
  }
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = if (on) queries.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  /** Switch recording on or off (the traced run alternates passes). */
  def enabled_=(v: Boolean): Unit = { drain(); on = v }
  def enabled: Boolean = on

  def newId(): Long = ids.incrementAndGet()

  def record(sp: Span): Unit = if (on) spans.add(sp)

  def recordExclusive(sp: Span): Unit = if (on) { spans.add(sp); exclusive.add(sp) }

  def registerPhases(request: Long, constructSpan: Long, executeSpan: Long): Unit =
    if (on) phaseSpans.put(request, (constructSpan, executeSpan))

  def drain(): Unit = org.apache.spark.ListenerBusAccess.drain(sc)

  def close(): Unit = {
    on = false
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(sparkListener)
  }

  /** Summarise and forget everything recorded since recording was
    * switched on; events outside [startNs, endNs] are dropped. Recording is
    * only on during a pass, and switching it drains the listener bus, so
    * every executed query delivered by now belongs to this pass. */
  def takePass(startNs: Long, endNs: Long): PassTrace = {
    drain()
    def inWindow(t: Long) = t >= startNs && t <= endNs
    val js = poll(jobs).filter(j => inWindow(j.startNs))
      .map(j => j.copy(endNs = Option(jobEnds.remove(j.jobId)).getOrElse(j.startNs)))
    val ts = poll(tasks).filter(t => inWindow(t.launchNs))
    val qs = poll(queries)
    val pins = poll(pinned).filter(p => inWindow(p._2)).map(_._1).distinct.size
    val ex = poll(exclusive)
    val sp = poll(spans).toSeq
    val jobSpans = js.map { j =>
      // innermost exclusive span holding the job's start, if any
      val owner = ex.filter(x => j.startNs >= x.startNs && j.startNs <= x.endNs)
        .sortBy(_.durationNs).headOption
      val (parent, request, eager) = owner match {
        case Some(o) => (o.id, o.request, o.layer == "construct")
        case None =>
          val ph = Option(phaseSpans.get(j.request))
          (ph.map { case (c, e) => if (j.phase == "construct") c else e }
            .getOrElse(0L), j.request, j.phase == "construct")
      }
      Span(newId(), parent, request, if (eager) "eager_job" else "job",
        j.startNs, math.max(j.endNs, j.startNs))
    }
    phaseSpans.clear()
    jobEnds.clear()
    PassTrace(sp ++ jobSpans, ts.toSeq, qs.toSeq.map(QueryStats.of), pins)
  }

  private def poll[A](q: ConcurrentLinkedQueue[A]): Vector[A] = {
    val out = Vector.newBuilder[A]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.result()
  }
}

object Tracer {
  val ReqProp = "perfbench.request"
  val PhaseProp = "perfbench.phase"

  final case class JobRec(jobId: Int, startNs: Long, endNs: Long,
                          request: Long, phase: String)
  final case class TaskRec(launchNs: Long, runS: Double, cpuS: Double,
                           shuffleWriteBytes: Long,
                           shuffleRecords: Long, shuffleReadBytes: Long,
                           spillBytes: Long, peakExecBytes: Long)
}

/** What one executed query contributed, read from its QueryExecution. */
final case class QueryStats(optimizeS: Double, physicalS: Double, nodes: Int,
                            exchanges: Int, inMemoryScans: Int,
                            scanFiles: Long, scanFilesAvailable: Long,
                            scanBytes: Long, scanBytesAvailable: Long,
                            scanPartitions: Long, scanPartitionsAvailable: Long,
                            scanRows: Long)

object QueryStats {
  def of(qe: QueryExecution): QueryStats = {
    val phases = qe.tracker.phases
    def phaseS(n: String) = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val nodes = walk(qe.executedPlan).toVector
    val scans = nodes.collect { case s: FileSourceScanLike => s }
    def metric(p: SparkPlan, n: String) = p.metrics.get(n).map(_.value).getOrElse(0L)
    def avail(s: FileSourceScanLike) = s.relation.location match {
      case i: PartitioningAwareFileIndex =>
        (i.allFiles().size.toLong, i.sizeInBytes,
          i.partitionSpec().partitions.size.toLong)
      case i => (i.inputFiles.length.toLong, i.sizeInBytes, 0L)
    }
    val av = scans.map(avail)
    QueryStats(phaseS("optimization"), phaseS("planning"), nodes.size,
      nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[InMemoryTableScanExec]),
      scans.map(metric(_, "numFiles")).sum, av.map(_._1).sum,
      scans.map(metric(_, "filesSize")).sum, av.map(_._2).sum,
      scans.map(metric(_, "numPartitions")).sum, av.map(_._3).sum,
      scans.map(metric(_, "numOutputRows")).sum)
  }

  /** Every node of the final physical plan: through AQE stages and into
    * subqueries; a reused exchange is counted once, where it was built. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => Iterator.empty
      case _ => p.children.iterator.flatMap(walk)
    }
    val self = p match {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec => Iterator.empty
      case _ => Iterator(p)
    }
    self ++ below ++ p.subqueries.iterator.flatMap(walk)
  }
}

/** One traced pass: spans (benchmark + job spans), tasks, the executed
  * queries and the persisted RDDs used, all restricted to the pass window. */
final case class PassTrace(spans: Seq[Span], tasks: Seq[Tracer.TaskRec],
                           queries: Seq[QueryStats], pinsCreated: Int)
