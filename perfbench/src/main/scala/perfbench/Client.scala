package perfbench

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One request's reply: every output row, and where its time went. */
final case class Reply(label: String, rows: Array[Row], constructS: Double,
                       planS: Double, executeS: Double, error: Option[String]) {
  def latencyS: Double = constructS + planS + executeS
}

/**
 * Issues requests against the engine's public entry points. A request is
 * timed from the call that builds its DataFrame (construct, including any
 * jobs the engine runs eagerly) through planning to the last row
 * collected. Planning is forced on the query's own QueryExecution, which
 * `collect` then executes, so a plan is never paid twice and every output
 * column is produced.
 */
final class Client(val spark: SparkSession, val tracer: Option[Tracer]) {
  import Tracer.{PhaseProp, ReqProp}
  private val sc = spark.sparkContext

  def run(label: String)(construct: => DataFrame): Reply = {
    val tr = tracer.filter(_.enabled)
    val req = tr.map(_.newId()).getOrElse(0L)
    sc.setLocalProperty(ReqProp, req.toString)
    sc.setLocalProperty(PhaseProp, "construct")
    val t0 = Clock.nowNs()
    var t1 = t0
    var t2 = t0
    try {
      val df = construct
      t1 = Clock.nowNs()
      sc.setLocalProperty(PhaseProp, "execute")
      val qe = df.queryExecution
      qe.executedPlan
      t2 = Clock.nowNs()
      val rows = df.collect()
      val t3 = Clock.nowNs()
      tr.foreach(recordSpans(_, req, qe, t0, t1, t2, t3))
      Reply(label, rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, None)
    } catch {
      case e: Exception =>
        val t3 = Clock.nowNs()
        Reply(label, Array.empty, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          (t3 - t2) / 1e9, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally {
      sc.setLocalProperty(ReqProp, null)
      sc.setLocalProperty(PhaseProp, null)
    }
  }

  private def recordSpans(t: Tracer, req: Long,
                          qe: org.apache.spark.sql.execution.QueryExecution,
                          t0: Long, t1: Long, t2: Long, t3: Long): Unit = {
    val root = t.newId()
    val (c, p, e) = (t.newId(), t.newId(), t.newId())
    t.record(Span(root, 0, req, "request", t0, t3))
    t.record(Span(c, root, req, "construct", t0, t1))
    t.record(Span(p, root, req, "plan", t1, t2))
    t.record(Span(e, root, req, "execute", t2, t3))
    t.registerPhases(req, c, e)
    // Catalyst phases of the request's own query: analysis runs when the
    // DataFrame is built, optimization and physical planning when the plan
    // is forced.
    qe.tracker.phases.foreach { case (phase, s) =>
      val parent = if (phase == "analysis") c else p
      t.record(Span(t.newId(), parent, req, s"catalyst.$phase",
        Clock.fromEpochMs(s.startTimeMs), Clock.fromEpochMs(s.endTimeMs)))
    }
  }

  /** Closed loop: each of `clients` threads sends its next request only
    * after the previous reply has been collected. Replies come back in
    * request order. */
  def closedLoop(requests: IndexedSeq[() => Reply], clients: Int): IndexedSeq[Reply] = {
    val out = new Array[Reply](requests.size)
    val next = new AtomicInteger(0)
    val workers = (0 until math.min(clients, requests.size)).map { i =>
      val th = new Thread(() => {
        var j = next.getAndIncrement()
        while (j < requests.size) {
          out(j) = requests(j)()
          j = next.getAndIncrement()
        }
      }, s"perfbench-client-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    workers.foreach(_.join())
    out.toIndexedSeq
  }
}

/** Order-insensitive digest of a result: row count and the sum of 64-bit
  * hashes of each row's canonical rendering (map entries sorted). */
object Digest {
  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(canon(r)))
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }
}

/** Pins: Spark's block manager contents left behind by the engine. */
object Pins {

  /** MB of blocks the cached RDDs hold (memory and disk). */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  /** Drop every cached Dataset and persisted RDD, waiting until the blocks
    * are gone, so the next pass cannot read a pin an earlier one left.
    * Returns how many RDDs were pinned. */
  def release(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val pinned = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    pinned
  }
}
