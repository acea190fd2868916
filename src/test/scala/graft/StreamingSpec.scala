package graft

import org.apache.spark.sql.functions._
import graft.streaming.{ChangeLog, ChangeStream}
import graft.core.Tables

/** Incremental-view invariants: streamed state == batch reprocess of the
  * net snapshot, and the replay is restart-idempotent. */
class StreamingSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  test("CDC log replays to exactly the batch-reprocessed net state " +
    "(mixed 4/6-segment namespace — data-driven ancestor depth)") {
    val objects = Tables.objectsMixed(spark, sf)
    val work = java.nio.file.Files.createTempDirectory("graft_test_stream_").toString
    ChangeLog.write(objects, s"$work/log", numFiles = 6)
    ChangeStream.replay(spark, s"$work/log", work, filesPerBatch = 2)

    val streamed = rows(ChangeStream.fileSizeView(spark, work))
    val net = objects.filter(col("version") % 7 =!= 0)
    val batch = rows(ChangeStream.reprocessFileSize(net))
    assert(streamed === batch)
    assert(streamed.nonEmpty)

    val counts = rows(ChangeStream.countsView(spark, work))
    val Seq(Seq(entity, cnt, bytes)) = counts
    assert(entity === "keys")
    assert(cnt === net.count())
    assert(bytes === net.agg(sum("data_size")).head.getLong(0))

    val nsStreamed = rows(ChangeStream.nsSummaryView(spark, work))
    val nsBatch = rows(graft.operators.Aggregates.nsSummary(net)
      .select("volume", "bucket", "dir", "num_files", "size_of_files"))
    assert(nsStreamed === nsBatch)
    // the deepened keys MUST surface depth-4/5 ancestors — a hardcoded
    // depth-3 explode would make this assertion (and the parity above) fail
    val deep = ChangeStream.nsSummaryView(spark, work)
      .filter(size(split(col("dir"), "/")) > 3).count()
    assert(deep > 0, "mixed namespace must roll up ancestors deeper than 3")
  }

  test("replay is idempotent across a restart (checkpoint + batchId guard)") {
    val objects = Tables.objects(spark, sf)
    val work = java.nio.file.Files.createTempDirectory("graft_test_stream2_").toString
    ChangeLog.write(objects, s"$work/log", numFiles = 4)
    ChangeStream.replay(spark, s"$work/log", work, filesPerBatch = 2)
    val first = rows(ChangeStream.fileSizeView(spark, work))
    // a second drain over the same checkpoint finds no new files and must
    // leave the state untouched
    ChangeStream.replay(spark, s"$work/log", work, filesPerBatch = 2)
    assert(rows(ChangeStream.fileSizeView(spark, work)) === first)
  }

  /** Every parquet file under a state dir's `rel` dir, with its bytes. */
  private def dirFiles(stateDir: String, rel: String): Seq[(String, Seq[Byte])] = {
    import java.nio.file.{Files, Paths}
    val s = Files.list(Paths.get(stateDir, rel))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.toString)
        .map(p => p.toString -> Files.readAllBytes(p).toSeq)
    } finally s.close()
  }

  private val stateDirs = Seq("state_filesize", "state_counts", "state_nssummary")

  test("a micro-batch appends one run per view and rewrites no listed file") {
    val objects = Tables.objects(spark, sf)
    val work = java.nio.file.Files.createTempDirectory("graft_test_stream3_").toString
    ChangeLog.write(objects, s"$work/log", numFiles = 4)
    ChangeStream.replay(spark, s"$work/log", work, filesPerBatch = 4)

    val before = stateDirs.map(d => d -> ChangeStream.readManifest(s"$work/$d")).toMap
    val beforeBytes = before.map { case (d, m) =>
      d -> m.paths.map(p => p -> dirFiles(s"$work/$d", p)) }
    assert(before.values.forall(m => m.base.nonEmpty && m.runs.isEmpty))

    // a second delta: a new log file after the checkpointed ones, which
    // the resumed stream drains as one fresh micro-batch
    val extra = objects.orderBy("key", "version", "data_size").limit(10)
    graft.streaming.ChangeLog.events(extra)
      .withColumn("seq", col("seq") + 1000000L)
      .coalesce(1).write.mode("append").parquet(s"$work/log")
    ChangeStream.replay(spark, s"$work/log", work, filesPerBatch = 4)

    stateDirs.foreach { d =>
      val after = ChangeStream.readManifest(s"$work/$d")
      assert(after.base === before(d).base, s"$d keeps its base")
      assert(after.runs.size === before(d).runs.size + 1,
        s"$d gains exactly one run")
      beforeBytes(d).foreach { case (p, files) =>
        assert(dirFiles(s"$work/$d", p) === files,
          s"$d/$p files must be byte-identical")
      }
    }
    // and the folded view is still exactly the batch recompute of net + extra
    val net = objects.filter(col("version") % 7 =!= 0)
      .unionByName(extra.filter(col("version") % 7 =!= 0))
    assert(rows(ChangeStream.fileSizeView(spark, work)) ===
      rows(ChangeStream.reprocessFileSize(net)))
  }

  test("MaxRuns+1 deltas compact each view into one base; superseded runs go one publish later") {
    import java.nio.file.{Files, Paths}
    val objects = Tables.objects(spark, sf)
    val work = Files.createTempDirectory("graft_test_compact_").toString
    ChangeLog.write(objects, s"$work/log", numFiles = 2)
    ChangeStream.bootstrapViews(spark, s"$work/log", work)
    val base = objects.orderBy("volume", "bucket", "key", "version", "data_size")
      .limit(30)
    // delta i: copies of `base` under new key names, so every delta adds
    // keys the state has not seen
    def delta(i: Int) = base.withColumn("key", concat(col("key"), lit(s".d$i")))
    def applyDelta(i: Int): Unit = ChangeStream.applyDeltaBatch(spark, work,
      ChangeLog.events(delta(i)).withColumn("seq", col("seq") + 1000000L * i))
    val K = ChangeStream.MaxRuns
    (1 to K).foreach(applyDelta)
    val full = stateDirs.map(d => d -> ChangeStream.readManifest(s"$work/$d")).toMap
    assert(full.values.forall(_.runs.size === K))

    applyDelta(K + 1)
    stateDirs.foreach { d =>
      val m = ChangeStream.readManifest(s"$work/$d")
      assert(m.base === Some(s"v${K + 1}") && m.runs.isEmpty,
        s"$d: the (K+1)-th delta folds base and runs into a new base")
      // the previous manifest's dirs survive this publish …
      full(d).paths.foreach(p => assert(Files.exists(Paths.get(work, d, p))))
    }
    applyDelta(K + 2)
    stateDirs.foreach { d =>
      // … and are gone after the next one
      full(d).paths.foreach(p => assert(!Files.exists(Paths.get(work, d, p)),
        s"$d/$p must be deleted one publish after it was superseded"))
      assert(ChangeStream.readManifest(s"$work/$d") ===
        ChangeStream.Manifest(Some(s"v${K + 1}"), Seq(s"v${K + 2}")))
    }

    val net = (1 to K + 2).map(delta).foldLeft(objects)(_.unionByName(_))
      .filter(col("version") % 7 =!= 0)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      rows(df).map(_.map(String.valueOf)).sortBy(_.mkString("\u0001"))
    assert(rows(ChangeStream.fileSizeView(spark, work)) ===
      rows(ChangeStream.reprocessFileSize(net)))
    val Seq(Seq(_, cnt, bytes)) = rows(ChangeStream.countsView(spark, work))
    assert(cnt === net.count())
    assert(bytes === net.agg(sum("data_size")).head.getLong(0))
    assert(sortedRows(ChangeStream.nsSummaryView(spark, work)) ===
      sortedRows(graft.operators.Aggregates.nsSummary(net)
        .select("volume", "bucket", "dir", "num_files", "size_of_files")))

    // a re-bootstrap over this used dir replaces its state with the log's
    ChangeStream.bootstrapViews(spark, s"$work/log", work)
    stateDirs.foreach(d => assert(ChangeStream.readManifest(s"$work/$d") ===
      ChangeStream.Manifest(Some("v0"), Nil)))
    assert(rows(ChangeStream.fileSizeView(spark, work)) === rows(
      ChangeStream.reprocessFileSize(objects.filter(col("version") % 7 =!= 0))))
  }

  test("a copied state dir reads the same (manifests name dirs relative to it)") {
    val objects = Tables.objects(spark, sf)
    val work = java.nio.file.Files.createTempDirectory("graft_test_copy_").toString
    ChangeLog.write(objects, s"$work/log", numFiles = 2)
    ChangeStream.bootstrapViews(spark, s"$work/log", work)
    ChangeStream.applyDeltaBatch(spark, work, ChangeLog.events(
      objects.orderBy("key", "version", "data_size").limit(20))
      .withColumn("seq", col("seq") + 1000000L))
    val views = Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      ChangeStream.fileSizeView, ChangeStream.countsView,
      ChangeStream.nsSummaryView)
    val expect = views.map(v => rows(v(spark, work)))
    val copy = Bench.cloneDir(work)
    ChangeStream.deleteRecursively(java.nio.file.Paths.get(work))
    assert(views.map(v => rows(v(spark, copy))) === expect)
  }

  test("applyDeltaBatch merges exactly like a streamed micro-batch") {
    val objects = Tables.objects(spark, sf)
    val work = java.nio.file.Files.createTempDirectory("graft_test_stream4_").toString
    ChangeLog.write(objects, s"$work/log", numFiles = 2)
    ChangeStream.replay(spark, s"$work/log", work, filesPerBatch = 2)
    val extra = objects.orderBy("key", "version", "data_size").limit(20)
    val batch = ChangeLog.events(extra).withColumn("seq", col("seq") + 999999L)
    // a stream-managed dir is refused (watermark collision on resume) …
    val ex = intercept[IllegalArgumentException] {
      ChangeStream.applyDeltaBatch(spark, work, batch)
    }
    assert(ex.getMessage.contains("stream-managed"))
    // … deleting the checkpoint hands it over to batch-driven maintenance
    ChangeStream.deleteRecursively(java.nio.file.Paths.get(work, "ckpt"))
    ChangeStream.applyDeltaBatch(spark, work, batch)
    val net = objects.filter(col("version") % 7 =!= 0)
      .unionByName(extra.filter(col("version") % 7 =!= 0))
    assert(rows(ChangeStream.fileSizeView(spark, work)) ===
      rows(ChangeStream.reprocessFileSize(net)))
  }

  test("a batch of 1-segment keys merges cleanly (NSSummary hint over-approximation)") {
    import org.apache.spark.sql.functions.lit
    val spark0 = spark
    import spark0.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_test_flat_").toString
    // keys with NO parent dir: the nssummary delta folds to zero rows while
    // the batch-level touched hint still names their (volume, bucket) —
    // publish must not leave a manifest entry pointing at a missing leaf
    // sizes in DIFFERENT log2 bins (1024 vs 2048) so the view keeps 2 rows
    val flat = Seq(("v", "b", "flat1.dat", 1L, 10L), ("v", "b", "flat2.dat", 2L, 2000L))
      .toDF("volume", "bucket", "key", "object_id", "data_size")
      .withColumn("version", lit(1L))
      .withColumn("creation_time", col("object_id") * 1000L)
      .withColumn("modification_time", col("object_id") * 2000L)
    val batch = ChangeLog.events(flat)
    ChangeStream.applyDeltaBatch(spark, work, batch)
    // filesize/counts views carry the rows; the nssummary view is empty
    // and — crucially — READABLE (no dangling manifest path)
    assert(ChangeStream.fileSizeView(spark, work).count() === 2)
    assert(ChangeStream.countsView(spark, work).count() === 1)
    assert(ChangeStream.nsSummaryView(spark, work).count() === 0)
    // and a second batch still merges (state dir not corrupted)
    ChangeStream.applyDeltaBatch(spark, work,
      ChangeLog.events(flat).withColumn("seq", col("seq") + 100L))
    assert(ChangeStream.fileSizeView(spark, work).count() === 2)
  }

  test("a legacy single-dir state is migrated losslessly on first merge") {
    import java.nio.file.{Files, Paths}
    val objects = Tables.objects(spark, sf)
    val net = objects.filter(col("version") % 7 =!= 0)
    val work = Files.createTempDirectory("graft_test_legacy_").toString
    val stateDir = s"$work/state_filesize"
    // hand-build the pre-manifest layout: whole state in ONE version dir,
    // `current` pointing at the dir itself
    ChangeStream.reprocessFileSize(net).write.parquet(s"$stateDir/v0")
    Files.writeString(Paths.get(stateDir, "current"), s"$stateDir/v0")
    assert(ChangeStream.readManifest(stateDir) ===
      ChangeStream.Manifest(Some("v0"), Nil))

    val extra = objects.orderBy("key", "version", "data_size").limit(20)
    val batch = ChangeLog.events(extra).withColumn("seq", col("seq") + 999999L)
    ChangeStream.applyDeltaBatch(spark, work, batch)

    // every legacy row (touched-partition or not) must survive the merge
    val expect = rows(ChangeStream.reprocessFileSize(
      net.unionByName(extra.filter(col("version") % 7 =!= 0))))
    assert(rows(ChangeStream.fileSizeView(spark, work)) === expect)
    // the legacy dir is the new manifest's base, and it survives this
    // publish
    val mf = ChangeStream.readManifest(stateDir)
    assert(mf.base === Some("v0") && mf.runs.size === 1)
    assert(Files.exists(Paths.get(stateDir, "v0")))
  }

  test("watermarked streaming hourly counts match the batch dual (closed windows)") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_hourly_").toString
    val ev = Tables.events(spark, sf).select("event_id", "user_id",
      "event_type", "value", "ts_ms")
    ev.repartitionByRange(4, col("ts_ms")).write.parquet(s"$work/src")
    ChangeStream.hourlyCountsStream(spark, s"$work/src", s"$work/out", work)
    val streamed = spark.read.parquet(s"$work/out")
    val batch = graft.operators.Events.hourlyCounts(ev)
    // append mode emits only windows the watermark has CLOSED — every
    // emitted window must match its batch dual exactly, and most windows
    // (all but the stream-tail hour) must have been emitted
    val joined = streamed.join(batch,
      Seq("hour_start_ms", "event_type", "event_count", "value_cents"))
    assert(joined.count() === streamed.count())
    assert(streamed.count() >= batch.count() / 2)
  }

  test("streaming flatMapGroupsWithState sessionizer: every emitted session is a true batch session") {
    val work = java.nio.file.Files.createTempDirectory("graft_sess_stream_").toString
    val ev = Tables.events(spark, sf).select("event_id", "user_id",
      "event_type", "value", "ts_ms")
    // time-sliced files written SEQUENTIALLY (distinct mtimes): the file
    // source orders by timestamp, so micro-batches arrive in event-time
    // order, the watermark never drops data, and cross-batch open sessions
    // exercise the carried state (one bulk write leaves file order — and
    // thus late-data drops — to mtime ties)
    val Seq(mn, mx) = ev.agg(min("ts_ms"), max("ts_ms")).head.toSeq
      .map(_.asInstanceOf[Long])
    val step = (mx - mn) / 6 + 1
    (0 until 6).foreach { i =>
      ev.filter(col("ts_ms") >= mn + i * step && col("ts_ms") < mn + (i + 1) * step)
        .coalesce(1).write.mode("append").parquet(s"$work/src")
      Thread.sleep(50)
    }
    graft.operators.Events.sessionizeStream(spark, s"$work/src", s"$work/out", work)
    val streamed = spark.read.parquet(s"$work/out")
    val batch = graft.operators.Events.sessionize(ev)
      .select(col("user_id").cast("string").as("user_id"), col("n_events"),
        col("start_ms"), col("end_ms"), col("value_cents"))
    val joined = streamed.join(batch,
      Seq("user_id", "n_events", "start_ms", "end_ms", "value_cents"))
    assert(joined.count() === streamed.count(),
      "every emitted session must match a batch session exactly")
    // most sessions close mid-stream (gap or watermark timeout); only the
    // per-user tail can stay open past the drain
    assert(streamed.count() >= batch.count() / 2)
  }

  test("streamed node-health ticks == batch nodeHealthFold rows") {
    val work = java.nio.file.Files.createTempDirectory("graft_hb_")
      .toString
    val nodeEvs = Tables.nodeHealthEvents(spark, sf)
    val checks = Tables.nodeHealthChecks(spark, sf)
    // the stream consumes the SAME per-node interleaved event rows the
    // batch fold builds internally (CHECK ticks crossed onto the roster)
    val all = nodeEvs.unionByName(
      nodeEvs.filter(col("kind") === "REGISTER").select("uuid").distinct()
        .crossJoin(checks.select(col("check_ms").as("ts_ms")))
        .withColumn("kind", lit("CHECK")).withColumn("mlv", lit(-1L))
        .select("uuid", "ts_ms", "kind", "mlv"))
    // time-sliced files written sequentially (distinct mtimes): the file
    // source drains micro-batches in event-time order — the heartbeat
    // plane is a seq-ordered WAL, this is the §2.9 ordered-replay contract
    val Seq(mn, mx) = all.agg(min("ts_ms"), max("ts_ms")).head.toSeq
      .map(_.asInstanceOf[Long])
    val step = (mx - mn) / 4 + 1
    (0 until 4).foreach { i =>
      all.filter(col("ts_ms") >= mn + i * step &&
        col("ts_ms") < mn + (i + 1) * step)
        .coalesce(1).write.mode("append").parquet(s"$work/src")
      Thread.sleep(50)
    }
    graft.streaming.HeartbeatStream.nodeHealthStream(spark,
      s"$work/src", s"$work/out", s"$work/ckpt")
    val got = spark.read.parquet(s"$work/out")
      .select("uuid", "check_ms", "skipped", "state_before",
        "state_after", "last_hb_ms", "fired")
    val want = graft.operators.ClusterHealth.nodeHealthFold(
      nodeEvs, checks)
      .select("uuid", "check_ms", "skipped", "state_before",
        "state_after", "last_hb_ms", "fired")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the carried state actually crossed micro-batch boundaries: dn2's
    // death and dn4's resurrection happen in different time slices
    assert(got.filter(col("uuid") === "dn2" &&
      col("state_after") === "DEAD").count() > 0)
    assert(got.filter(col("uuid") === "dn4" &&
      col("fired") === "HEALTHY_READONLY_NODE").count() > 0)
    graft.streaming.ChangeStream.deleteRecursively(
      java.nio.file.Paths.get(work))
  }

  test("streamed supervisor admission == batch replicationSupervisorFold") {
    val work = java.nio.file.Files.createTempDirectory("graft_sup_")
      .toString
    // the same command burst the batch fold synthesizes
    val c = col("container_id")
    val base = Tables.containersScm(spark, sf)
      .filter(col("state") =!= "DELETED" && c % 7 === 0)
      .withColumn("kind",
        when(c % 3 === 0, lit("REPLICATE"))
          .when(c % 3 === 1, lit("RECONSTRUCT"))
          .otherwise(lit("DELETE")))
      .withColumn("seq", c * 2)
    val events = base.unionByName(
      base.filter(c % 5 === 0).withColumn("seq", c * 2 + 1))
      .withColumn("deadline_passed", c % 11 === 0)
      .withColumn("task_term", when(c % 13 === 0, lit(4L))
        .otherwise(lit(5L)))
      .withColumn("outcome",
        when(ascii(substring(md5(c.cast("string")), 1, 1)) % 5 === 0,
          lit("FAILED"))
          .when(ascii(substring(md5(c.cast("string")), 1, 1)) % 5 === 1,
            lit("SKIPPED"))
          .otherwise(lit("DONE")))
      .select("seq", "kind", "container_id", "deadline_passed",
        "task_term", "outcome")
    // three seq-sliced files so the admission state (the in-flight set
    // filling to the cap) must cross micro-batch boundaries
    val Seq(mn, mx) = events.agg(min("seq"), max("seq")).head.toSeq
      .map(_.asInstanceOf[Long])
    val step = (mx - mn) / 3 + 1
    (0 until 3).foreach { i =>
      events.filter(col("seq") >= mn + i * step &&
        col("seq") < mn + (i + 1) * step)
        .coalesce(1).write.mode("append").parquet(s"$work/src")
      Thread.sleep(50)
    }
    graft.streaming.SupervisorStream.supervisorStream(spark,
      s"$work/src", s"$work/out", s"$work/ckpt")
    val got = spark.read.parquet(s"$work/out")
      .select("seq", "kind", "container_id", "verdict")
    val want = graft.operators.ClusterHealth.replicationSupervisorFold(
      Tables.containersScm(spark, sf))
      .select("seq", "kind", "container_id", "verdict")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the queue actually filled across batch boundaries
    assert(got.filter(col("verdict") === "QUEUE_FULL").count() > 0)
    graft.streaming.ChangeStream.deleteRecursively(
      java.nio.file.Paths.get(work))
  }

  test("event log is seq-dense and typed") {
    val ev = ChangeLog.events(Tables.objects(spark, sf))
    val n = ev.count()
    assert(ev.agg(min("seq"), max("seq")).head.toSeq === Seq(1L, n))
    assert(ev.select("op").distinct().orderBy("op")
      .collect().map(_.getString(0)).toSeq === Seq("DELETE", "PUT"))
  }

  test("streamed replica-seen stats == batch replicaHistoryStats") {
    val work = java.nio.file.Files.createTempDirectory("graft_reports_")
      .toString
    val hist = Tables.replicaHistory(spark, sf)
    // ts-ranged part files: the file source drains them in range order,
    // so per-group arrival respects event order across micro-batches
    hist.repartitionByRange(4, col("ts"))
      .sortWithinPartitions("ts")
      .write.parquet(s"$work/src")
    graft.streaming.ReportStream.replicaSeenStream(spark,
      s"$work/src", s"$work/out", s"$work/ckpt")
    val got = graft.streaming.ReportStream
      .replicaSeenView(spark, s"$work/out")
      .select("container_id", "datanode", "n_reports", "first_seen",
        "last_seen")
    val want = graft.operators.Lifecycle.replicaHistoryStats(hist)
      .select("container_id", "datanode", "n_reports", "first_seen",
        "last_seen")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    graft.streaming.ChangeStream.deleteRecursively(
      java.nio.file.Paths.get(work))
  }

  test("ack stream: incremental txn status equals the batch ACK fold") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_acks_")
      .toString
    val d = "/root/testdata/sf0.001"
    val T = Tables
    // the batch fold's truth
    val want = graft.operators.ClusterHealth.blockAckFold(
      T.objects(spark, d), T.replicas(spark, d))
      .select("txn_id", "status")
    // re-derive the SAME ack events the fold synthesizes, as a stream:
    // per (txn, replica dn) an ack unless txn%3==1 drops the max-name
    // dn; it fails when txn%3==2 hits the min-name dn; txn%7==0 adds a
    // foreign dn99 ack
    val reps = T.replicas(spark, d).select("container_id", "datanode")
    val bounds = reps.groupBy("container_id")
      .agg(org.apache.spark.sql.functions.max("datanode").as("max_dn"),
        org.apache.spark.sql.functions.min("datanode").as("min_dn"))
    val txns = graft.operators.CommitLog.synthesizeLog(T.objects(spark, d))
      .filter(col("op") === "DELETE")
      .select(col("object_id").as("txn_id")).distinct()
      .withColumn("container_id", expr("(txn_id DIV 10) % 1000"))
    val replicaAcks = txns.join(reps, Seq("container_id"))
      .join(bounds, Seq("container_id"))
      .filter(!(col("txn_id") % 3 === 1 && col("datanode") === col("max_dn")))
      .withColumn("success",
        !(col("txn_id") % 3 === 2 && col("datanode") === col("min_dn")))
      .select("txn_id", "datanode", "success")
    val foreignAcks = txns.filter(col("txn_id") % 7 === 0)
      .select(col("txn_id"), lit("dn99").as("datanode"),
        lit(true).as("success"))
    replicaAcks.unionByName(foreignAcks)
      .repartitionByRange(4, col("txn_id"))
      .write.parquet(s"$work/src")
    val replicaMap = reps.as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    graft.streaming.AckStream.ackStatusStream(spark, s"$work/src",
      s"$work/out", s"$work/ckpt", replicaMap)
    val got = graft.streaming.AckStream.ackStatusView(spark, s"$work/out")
      .select("txn_id", "status")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    graft.streaming.ChangeStream.deleteRecursively(
      java.nio.file.Paths.get(work))
  }

  test("bootstrapViews state == a full replay() drain of the same log") {
    val objects = Tables.objects(spark, sf)
    val logSrc = java.nio.file.Files
      .createTempDirectory("graft_test_boot_").toString
    ChangeLog.write(objects, s"$logSrc/log", numFiles = 4)
    val viaReplay = java.nio.file.Files
      .createTempDirectory("graft_test_boot_r_").toString
    ChangeStream.replay(spark, s"$logSrc/log", viaReplay, filesPerBatch = 2)
    val viaBatch = java.nio.file.Files
      .createTempDirectory("graft_test_boot_b_").toString
    ChangeStream.bootstrapViews(spark, s"$logSrc/log", viaBatch)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      rows(df).map(_.map(String.valueOf)).sortBy(_.mkString("\u0001"))
    assert(sortedRows(ChangeStream.fileSizeView(spark, viaBatch)) ===
      sortedRows(ChangeStream.fileSizeView(spark, viaReplay)))
    assert(sortedRows(ChangeStream.countsView(spark, viaBatch)) ===
      sortedRows(ChangeStream.countsView(spark, viaReplay)))
    assert(sortedRows(ChangeStream.nsSummaryView(spark, viaBatch)) ===
      sortedRows(ChangeStream.nsSummaryView(spark, viaReplay)))
    // and steady-state maintenance continues identically on both
    val delta = ChangeLog.events(objects
      .orderBy("volume", "bucket", "key", "version", "data_size").limit(50))
      .withColumn("seq", col("seq") + 1000000L)
    ChangeStream.deleteRecursively(
      java.nio.file.Paths.get(viaReplay, "ckpt"))
    ChangeStream.applyDeltaBatch(spark, viaReplay, delta)
    ChangeStream.applyDeltaBatch(spark, viaBatch, delta)
    assert(sortedRows(ChangeStream.fileSizeView(spark, viaBatch)) ===
      sortedRows(ChangeStream.fileSizeView(spark, viaReplay)))
    assert(sortedRows(ChangeStream.nsSummaryView(spark, viaBatch)) ===
      sortedRows(ChangeStream.nsSummaryView(spark, viaReplay)))
  }

  test("bootstrapViews state == a replay() drain that compacts mid-way") {
    val objects = Tables.objects(spark, sf)
    val logSrc = java.nio.file.Files
      .createTempDirectory("graft_test_boot_c_").toString
    // one file per micro-batch: batch 0 is the base, batches 1..MaxRuns
    // append runs, batch MaxRuns+1 compacts, the rest append again
    ChangeLog.write(objects, s"$logSrc/log", numFiles = ChangeStream.MaxRuns + 3)
    val viaReplay = s"$logSrc/replay"
    ChangeStream.replay(spark, s"$logSrc/log", viaReplay, filesPerBatch = 1)
    stateDirs.foreach { d =>
      val m = ChangeStream.readManifest(s"$viaReplay/$d")
      assert(m.base.exists(_ != "v0"), s"$d must have compacted during the drain")
    }
    val viaBatch = s"$logSrc/batch"
    ChangeStream.bootstrapViews(spark, s"$logSrc/log", viaBatch)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      rows(df).map(_.map(String.valueOf)).sortBy(_.mkString("\u0001"))
    assert(sortedRows(ChangeStream.fileSizeView(spark, viaBatch)) ===
      sortedRows(ChangeStream.fileSizeView(spark, viaReplay)))
    assert(sortedRows(ChangeStream.countsView(spark, viaBatch)) ===
      sortedRows(ChangeStream.countsView(spark, viaReplay)))
    assert(sortedRows(ChangeStream.nsSummaryView(spark, viaBatch)) ===
      sortedRows(ChangeStream.nsSummaryView(spark, viaReplay)))
  }

  test("a second Recon cycle compiles no generated code (the codegen cache " +
    "holds the view reads' and rollups' classes)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val work = java.nio.file.Files.createTempDirectory("graft_test_codegen_").toString
    ChangeStream.bootstrapViews(spark,
      ChangeStream.cdcLogDir(spark, Tables.objectsMixed(spark, sf), sf), work)
    val views = Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      ChangeStream.fileSizeView, ChangeStream.countsView,
      ChangeStream.nsSummaryView)
    val rollups = Seq("q_ns_summary", "q_filesize_histogram",
      "q_global_counts", "q_du_topn", "q_quota_usage", "q_pending_deletion")
    def cycle(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      views.foreach(v => v(spark, work).collect())
      rollups.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val cold = cycle()
    assert(cycle() === 0L, s"warm cycle recompiled (the cold one compiled $cold)")
  }
}
