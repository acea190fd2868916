package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.Api
import graft.SparkEntry
import graft.core.{Tables => T}
import graft.streaming.{ChangeLog, ChangeStream}

/** What a workload needs from the run: the session, the input tables, a
  * private directory for its own state, the seed and the client. */
final class Ctx(val spark: SparkSession, val dataDir: String,
                val workDir: String, val seed: Long, val client: Client,
                val expectedFile: String, val mint: Boolean) {
  /** Client threads of a pass. The warm-up uses every core to finish its
    * builds sooner; timed passes run one closed-loop client, so a request's
    * latency is its own and not an accident of which requests overlap. */
  def clients(pass: Int): Int = if (pass == 0) Main.Cores else 1
}

/** Outcome of one pass: every request's reply and the error found in it,
  * plus workload-specific measurements. */
final case class PassResult(replies: Seq[(Reply, Option[String])],
                            extra: Map[String, Double])

trait Workload {
  def name: String
  /** True when every request is a `graft.Api` call: its construct time
    * then counts under the `api.*` metrics, else under `construct_*`. */
  def api: Boolean = false
  /** Build what the requests read; record each build under `setup`. */
  def setup(ctx: Ctx, setup: Setup): Unit
  /** Run one pass. Pass 0 is the untimed warm-up, which also records the
    * reference answers later passes are checked against. */
  def pass(ctx: Ctx, index: Int): PassResult
}

/** Named, timed set-up steps. */
final class Setup {
  val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def time[A](step: String)(body: => A): A = {
    val t0 = Clock.nowNs()
    try body
    finally steps(step) = steps.getOrElse(step, 0.0) + (Clock.nowNs() - t0) / 1e9
  }
}

object Workloads {
  val all: Map[String, Workload] =
    Seq(new OmRpc, new ReconRefresh, new CorpusPipeline).map(w => w.name -> w).toMap
}

/** Expected answers of batch queries: row count and order-insensitive
  * digest per query, read from a JSON file, or minted into it. */
final class Expected(file: String, mint: Boolean) {
  import org.json4s._
  import org.json4s.jackson.{JsonMethods, Serialization}
  private implicit val formats: Formats = DefaultFormats

  private var answers: Map[String, String] =
    if (mint) Map.empty
    else JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(file))).extract[Map[String, String]]

  /** Check one reply; pass 0 of a minting run records it instead. */
  def check(name: String, rows: Array[Row], pass: Int): Option[String] = {
    val got = Digest.of(rows)
    if (mint) { if (pass == 0) answers += name -> got; None }
    else if (!answers.get(name).contains(got))
      Some(s"$name returned $got, expected ${answers.getOrElse(name, "none")}")
    else None
  }

  def save(): Unit = if (mint) java.nio.file.Files.writeString(
    java.nio.file.Paths.get(file),
    Serialization.writePretty(scala.collection.immutable.ListMap(
      answers.toSeq.sortBy(_._1): _*)) + "\n")
}

/** Serve batch queries from `SparkEntry.queries` (and other named
  * requests) in seeded order, checking each answer against `expected`. */
object Batch {
  def serve(ctx: Ctx, index: Int, names: Seq[String], expected: Expected)
           (request: String => DataFrame,
            check: (String, Array[Row]) => Option[String] =
              (_, _) => None): Seq[(Reply, Option[String])] = {
    val client = ctx.client
    val order = Requests.order(ctx.seed, index, names)
    val replies = client.closedLoop(order.map { n =>
      () => client.run(n)(request(n)) }, ctx.clients(index))
    val out = order.indices.map { i =>
      val (n, rep) = (order(i), replies(i))
      rep -> rep.error.orElse(check(n, rep.rows))
        .orElse(if (n.startsWith("q_")) expected.check(n, rep.rows, index) else None)
    }
    if (index == 0) expected.save()
    out
  }
}

/**
 * OM/S3 metadata RPCs through `graft.Api`. Each pass sends the same seeded
 * mix: `PerKind` requests of each RPC kind, over Zipf-skewed buckets that
 * include link buckets. The equal share per kind and the Zipf exponent are
 * assumptions, not taken from a measured OM workload.
 */
final class OmRpc extends Workload {
  import Requests.MaxKeys
  val name = "om_rpc"
  override val api = true
  val PerKind = 2

  private var requests: IndexedSeq[Rpc] = IndexedSeq.empty
  private var linkChecks: IndexedSeq[Rpc] = IndexedSeq.empty
  private var links: Map[Requests.Bucket, Requests.Bucket] = Map.empty
  private var reference: IndexedSeq[String] = IndexedSeq.empty

  def setup(ctx: Ctx, setup: Setup): Unit = {
    val (s, d) = (ctx.spark, ctx.dataDir)
    setup.time("warehouse")(T.objectsSorted(s, d).count())
    setup.time("fso") {
      T.buckets(s, d).count()
      T.objectsNested(s, d).count()
      T.directoriesFso(s, d).count()
      T.filesFso(s, d).count()
    }
    // the link buckets whose chain ends at a real bucket
    links = Api.resolveBucketLinks(s, d).filter("status = 'OK'")
      .select("volume", "bucket", "resolved_volume", "resolved_bucket")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getString(3))).toMap
    val keys = T.objectsSorted(s, d).select("volume", "bucket", "key")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    requests = Requests.rpcPass(ctx.seed, keys.toSeq, links, PerKind)
    linkChecks = Requests.linkChecks(ctx.seed, keys.toSeq, links)
  }

  private def call(ctx: Ctx, r: Rpc, volume: String, bucket: String): DataFrame = {
    val (s, d) = (ctx.spark, ctx.dataDir)
    r.kind match {
      case "lookupKey" => Api.lookupKey(s, d, volume, bucket, r.key)
      case "getKeyInfo" => Api.getKeyInfo(s, d, volume, bucket, r.key)
      case "getAcl" => Api.getAcl(s, d, volume, bucket, r.key)
      case "listKeys" => Api.listKeys(s, d, volume, bucket, "", r.key, MaxKeys)
      case "listObjectsV2" =>
        val prefix = r.key.split('/').take(2).mkString("", "/", "/")
        Api.listObjectsV2(s, d, volume, bucket, prefix, r.key, MaxKeys)
      case "listStatus" => Api.listStatus(s, d, volume, bucket, r.dir)
      case "listStatusFso" =>
        Api.listStatusFso(s, d, volume, bucket, r.dir.stripSuffix("/"))
    }
  }

  /** The reply invariants every RPC must hold. Listing pages carry one
    * look-ahead row past `maxKeys`, which tells the caller a next page
    * exists. */
  private def check(r: Rpc, rows: Array[Row]): Option[String] = {
    def keys(i: Int) = rows.map(_.getString(i)).toSeq
    def ascending(ks: Seq[String]) = ks.zip(ks.drop(1)).forall(p => p._1 <= p._2)
    r.kind match {
      case "lookupKey" | "getKeyInfo" | "getAcl" =>
        val ks = keys(rows.headOption.map(_.fieldIndex("key")).getOrElse(0))
        if (ks.isEmpty) Some(s"no row for ${r.key}")
        else if (ks.exists(_ != r.key)) Some(s"wrong key for ${r.key}")
        else None
      case "listKeys" | "listObjectsV2" =>
        val ks = keys(0)
        if (ks.size > MaxKeys + 1) Some(s"page of ${ks.size} > $MaxKeys + 1")
        else if (!ascending(ks)) Some("page not in ascending key order")
        else if (r.kind == "listKeys" && ks.exists(_ <= r.key))
          Some("page starts at or before startKey")
        else None
      case _ => if (rows.isEmpty) Some(s"empty listing of ${r.dir}") else None
    }
  }

  def pass(ctx: Ctx, index: Int): PassResult = {
    val client = ctx.client
    val sent = if (index == 0) requests ++ linkChecks else requests
    // the warm-up also sends every RPC on a link bucket to the bucket the
    // link resolves to: both must answer with the same rows
    val twins = if (index != 0) IndexedSeq.empty else
      sent.indices.flatMap(i => links.get((sent(i).volume, sent(i).bucket)).map(i -> _))
    val calls = sent.map(r => (r, r.volume, r.bucket)) ++
      twins.map { case (i, (v, b)) => (sent(i), v, b) }
    val replies = client.closedLoop(calls.map { case (r, v, b) =>
      () => client.run(r.kind)(call(ctx, r, v, b)) }, ctx.clients(index))
    val digests = replies.map(x => Digest.of(x.rows))
    val twinOf = twins.indices.map(k => twins(k)._1 -> (sent.size + k)).toMap
    val errors = sent.indices.map { i =>
      val (r, rep) = (sent(i), replies(i))
      rep.error.orElse(check(r, rep.rows)).orElse {
        if (index == 0) twinOf.get(i).filter(replies(_).error.isEmpty)
          .filter(digests(_) != digests(i))
          .map(_ => s"${r.kind} on link ${r.volume}/${r.bucket} differs from " +
            links((r.volume, r.bucket)).productIterator.mkString("/"))
        else if (digests(i) != reference(i)) Some(s"${r.kind} reply changed since warm-up")
        else None
      }
    }
    if (index == 0) reference = digests.take(requests.size)
    PassResult(replies.zip(errors ++ replies.drop(sent.size).map(_.error)), Map.empty)
  }
}

/**
 * One Recon refresh cycle per pass: apply a seeded 1000-key CDC delta to
 * the benchmark's own view state, read the three maintained views, then
 * serve the Recon endpoint set.
 */
final class ReconRefresh extends Workload {
  val name = "recon_refresh"
  val DeltaKeys = 1000
  // The namespace rollups that each scan and aggregate the whole key table
  // on their own: the set a shared-scan rollup (ROADMAP direction 5) would
  // serve from one pass. The other Recon endpoints are left out to keep a
  // run inside the benchmark's time budget.
  val Endpoints: Seq[String] = Seq("q_ns_summary", "q_filesize_histogram",
    "q_global_counts", "q_du_topn", "q_quota_usage", "q_pending_deletion")
  val Views: Seq[String] = Seq("view_filesize", "view_counts", "view_nssummary")

  private var stateDir = ""
  private var objects: Array[Row] = Array.empty
  // (files, bytes) the views hold: after bootstrap, then after every delta
  private var viewFiles = 0L
  private var viewBytes = 0L
  private var expected: Expected = _

  def setup(ctx: Ctx, setup: Setup): Unit = {
    val (s, d) = (ctx.spark, ctx.dataDir)
    stateDir = s"${ctx.workDir}/recon_state"
    setup.time("warehouse")(T.objectsSorted(s, d).count())
    setup.time("cdc") {
      val log = ChangeStream.cdcLogDir(s, T.objectsMixed(s, d), d)
      ChangeStream.bootstrapViews(s, log, stateDir)
    }
    // building the query materialises the rollup store it reads
    setup.time("artifacts")(SparkEntry.queries("q_pending_deletion")(s, d))
    objects = T.objectsMixed(s, d).select("volume", "bucket", "key",
        "data_size", "creation_time", "modification_time", "version")
      .orderBy("volume", "bucket", "key", "data_size", "creation_time",
        "modification_time", "version")
      .collect()
    val counts = ChangeStream.countsView(s, stateDir).collect()
    viewFiles = counts.map(_.getAs[Long]("cnt")).sum
    viewBytes = counts.map(_.getAs[Long]("total_bytes")).sum
    expected = new Expected(ctx.expectedFile, ctx.mint)
  }

  private def view(ctx: Ctx, v: String): DataFrame = v match {
    case "view_filesize" => ChangeStream.fileSizeView(ctx.spark, stateDir)
    case "view_counts" => ChangeStream.countsView(ctx.spark, stateDir)
    case "view_nssummary" => ChangeStream.nsSummaryView(ctx.spark, stateDir)
  }

  /** Each view's file total must equal the keys the log and deltas put. */
  private def checkView(v: String, rows: Array[Row]): Option[String] = {
    val (files, bytes) = v match {
      case "view_filesize" =>
        (rows.map(_.getAs[Long]("file_count")).sum,
          rows.map(_.getAs[Long]("total_size")).sum)
      case "view_counts" =>
        (rows.map(_.getAs[Long]("cnt")).sum,
          rows.map(_.getAs[Long]("total_bytes")).sum)
      case "view_nssummary" =>
        val top = rows.filter(!_.getAs[String]("dir").contains('/'))
        (top.map(_.getAs[Long]("num_files")).sum,
          top.map(_.getAs[Long]("size_of_files")).sum)
    }
    if (files != viewFiles || bytes != viewBytes)
      Some(s"$v holds ($files files, $bytes B), expected ($viewFiles, $viewBytes)")
    else None
  }

  /** Apply this pass's delta: `DeltaKeys` new keys, each a seeded copy of
    * an existing object under a new name. `ChangeLog.events` turns them
    * into PUTs, plus a DELETE for every seventh version. */
  private def applyDelta(ctx: Ctx, index: Int): (Reply, Map[String, Double]) = {
    val s = ctx.spark
    val picked = Requests.deltaRows(ctx.seed, index, objects.length, DeltaKeys)
      .map(objects(_))
    val rows = picked.map(r => Row(r.getString(0), r.getString(1),
      s"${r.getString(2)}.d$index", r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6)))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "volume STRING, bucket STRING, key STRING, data_size BIGINT, " +
        "creation_time BIGINT, modification_time BIGINT, version BIGINT")
    val kept = rows.filter(_.getLong(6) % 7 != 0)
    val before = Files.list(stateDir)
    val tr = ctx.client.tracer.filter(_.enabled)
    val t0 = Clock.nowNs()
    var t1 = t0
    val err = try {
      val events = ChangeLog.events(s.createDataFrame(
        s.sparkContext.parallelize(rows), schema))
      t1 = Clock.nowNs()
      ChangeStream.applyDeltaBatch(s, stateDir, events)
      viewFiles += kept.size
      viewBytes += kept.map(_.getLong(3)).sum
      None
    } catch { case e: Exception => Some(s"delta: ${e.getMessage}") }
    val t2 = Clock.nowNs()
    tr.foreach { t =>
      val root = t.newId()
      t.recordExclusive(Span(root, 0, root, "stream.delta", t0, t2))
      t.recordExclusive(Span(t.newId(), root, root, "construct", t0, t1))
      t.recordExclusive(Span(t.newId(), root, root, "stream.apply", t1, t2))
    }
    val written = Files.list(stateDir) -- before.keySet
    (Reply("delta", Array.empty, (t1 - t0) / 1e9, 0.0, (t2 - t1) / 1e9, err),
      Map("delta_apply_s" -> (t2 - t1) / 1e9,
        "stream.state_files_written" -> written.size.toDouble,
        "stream.state_bytes_written" -> written.values.sum.toDouble))
  }

  def pass(ctx: Ctx, index: Int): PassResult = {
    val (delta, extra) = applyDelta(ctx, index)
    val replies = Batch.serve(ctx, index, Views ++ Endpoints, expected)(
      n => if (n.startsWith("view_")) view(ctx, n)
           else SparkEntry.queries(n)(ctx.spark, ctx.dataDir),
      (n, rows) => if (n.startsWith("view_")) checkView(n, rows) else None)
    PassResult((delta, delta.error) +: replies, extra)
  }
}

/**
 * The byte-level data plane and LLM-corpus kernels: one query per
 * `graft.functions` kernel family, each served from `SparkEntry.queries`
 * and fully collected.
 */
final class CorpusPipeline extends Workload {
  val name = "corpus_pipeline"
  val Queries: Seq[String] = Seq(
    "q_dedup_minhash_lsh", // LSH pairs over the MinHash16 band index
    "q_dedup_simhash",     // SimHash60 signatures + banded pair search
    "q_pii_scrub",         // TextFns scrubbing + Hash60 fingerprints
    "q_file_checksum",     // Crc32Combine composite file checksums
    "q_ec_reconstruct",    // ErasureCoding RS(3,2) erase and rebuild
    "q_sigv4_verify")      // HmacSha256 SigV4 signing-key chains

  private var expected: Expected = _

  def setup(ctx: Ctx, setup: Setup): Unit = {
    val (s, d) = (ctx.spark, ctx.dataDir)
    setup.time("warehouse")(T.objectsSorted(s, d).count())
    // building the query materialises the MinHash16 band index it reads
    setup.time("artifacts")(SparkEntry.queries("q_dedup_minhash_lsh")(s, d))
    expected = new Expected(ctx.expectedFile, ctx.mint)
  }

  def pass(ctx: Ctx, index: Int): PassResult =
    PassResult(Batch.serve(ctx, index, Queries, expected)(
      n => SparkEntry.queries(n)(ctx.spark, ctx.dataDir)), Map.empty)
}

/** File listing of a directory tree: path -> size. */
object Files {
  def list(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally st.close()
    }
  }
}
