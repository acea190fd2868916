package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Persistent, code-keyed cache for the bench's 10×/100× scale-probe
 * ingest artifacts (VERDICT r13 next-round #1b). Every artifact here is a
 * deterministic pure function of (sfDir, engine code): the scaled
 * warehouses, snapshot checkpoint pairs, nested attribute stores, document
 * corpora, band/signature indexes, dedup verification index, embedding
 * corpora + IVF centroids, and CDC logs. Rebuilding them cost ~13 min of
 * every bench run while contributing no new information — with the cache,
 * a bench run pays the build only when the code (or the cache format)
 * actually changed.
 *
 * Keying: SHA-256 over the ARTIFACT-RELEVANT .class files on the engine's
 * code-source location (name + bytes, sorted; packages graft.core /
 * operators / functions / streaming / plans — the code every artifact
 * here is a function of) PLUS a content fingerprint of the source data
 * (relative path, size, first+last 4 KiB of each file — parquet footers
 * live in the tail, so any regeneration rotates it even if sizes and
 * mtimes are restored). A bench- or harness-only edit (graft.Bench*,
 * SparkEntry, Verify, tools) deliberately does NOT rotate the key
 * (VERDICT r14 #4: with a 60-min driver budget, a tools edit silently
 * converting a ~34-min hit run into a ~51-min rebuild is an operational
 * risk); any false hit the scoping could ever cause is policed by the
 * bench's row-count and canon-signature invariants (sealed expectations,
 * see [[seal]]). `SPARK_GRAFT_CACHE_KEY` pins the key for dev iteration;
 * `SPARK_GRAFT_CACHE_DIR` moves the root (default `target/bench_cache`).
 *
 * Two-stage completion protocol (kill-safe):
 *   - artifacts build into `<key>.build/`, `MANIFEST` (build timings) is
 *     written last, then the dir atomically renames to `<key>/` — a dir
 *     without MANIFEST is a miss and is deleted;
 *   - `SEAL` (expected probe row counts + canon signatures + degeneracy
 *     verdict) is appended by the bench after a fully-verified probe pass
 *     over freshly-built artifacts; a hit without SEAL re-runs the full
 *     verification (duals + conservation identities) and then seals.
 * Stale same-sf sibling generations are pruned AFTER a successful open
 * (hit) or build+rename (miss) — never before the replacement exists, so
 * a kill mid-rebuild leaves the previous generation on disk as a fallback
 * (ADVICE r14); disk steady-state holds one generation per scale factor.
 */
object BenchCache {

  /** An opened cache: `rebuilt` means artifacts were built THIS run (the
    * caller must run full answer verification and then [[seal]]);
    * `seal` carries the stored expectations when present. */
  final case class Cache(dir: String, key: String, rebuilt: Boolean,
                         buildSecs: Map[String, Double],
                         sealKv: Option[Map[String, String]]) {
    def path(name: String): String = s"$dir/$name"
    /** Full verification needed: artifacts fresh, or never sealed. */
    def needFullVerify: Boolean = rebuilt || sealKv.isEmpty
  }

  private val FormatVersion = "v2" // v2: scoped code hash + content-sampled data fingerprint

  /** (cache root, generation key, sf name) for `sfDir`, honouring the
    * SPARK_GRAFT_CACHE_DIR / SPARK_GRAFT_CACHE_KEY overrides. The key
    * carries BOTH halves of "pure function of (sfDir, code)": the
    * artifact-relevant engine class hash AND a content fingerprint of the
    * source data — regenerated testdata (same path, new content) rotates
    * the key instead of serving stale artifacts whose seal would
    * vacuously agree with itself (review r14 finding). */
  private def location(sfDir: String): (String, String, String) = {
    val root = sys.env.getOrElse("SPARK_GRAFT_CACHE_DIR",
      sys.props("user.dir") + "/target/bench_cache")
    val sfName = new java.io.File(sfDir).getName
    val key = sys.env.getOrElse("SPARK_GRAFT_CACHE_KEY",
      s"$FormatVersion-${codeHash()}-${dataFingerprint(sfDir)}-$sfName")
    (root, key, sfName)
  }

  def openOrBuild(spark: SparkSession, sfDir: String): Cache = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val (root, key, sfName) = location(sfDir)
    Files.createDirectories(Paths.get(root))
    val dir = Paths.get(root, key)
    val opened = if (Files.exists(dir.resolve("MANIFEST"))) {
      Cache(dir.toString, key, rebuilt = false,
        readKv(dir.resolve("MANIFEST")).map { case (k, v) =>
          k -> v.toDouble },
        if (Files.exists(dir.resolve("SEAL")))
          Some(readKv(dir.resolve("SEAL"))) else None)
    } else {
      // a dir without MANIFEST is a half-built casualty — rebuild clean
      if (Files.exists(dir))
        graft.streaming.ChangeStream.deleteRecursively(dir)
      val tmp = Paths.get(root, key + ".build")
      if (Files.exists(tmp))
        graft.streaming.ChangeStream.deleteRecursively(tmp)
      Files.createDirectories(tmp)
      val secs = build(spark, sfDir, tmp.toString)
      writeKv(tmp.resolve("MANIFEST"),
        secs.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      Cache(dir.toString, key, rebuilt = true, secs, None)
    }
    // prune stale same-sf generations only now that THIS generation is
    // complete on disk — pruning before the replacement build (the r14
    // shape) left no cache at all if the ~13-min rebuild was killed,
    // exactly the rc-124 budget scenario the cache exists for (ADVICE r14)
    prune(root, key, sfName)
    opened
  }

  /** True when the on-disk cache generation keyed to the CURRENT
    * artifact-relevant code + data fingerprint exists, completed
    * (MANIFEST) and carries a SEAL (VERDICT r15 #8: the "re-seal at the
    * final operator-code commit" discipline, made checkable by the
    * bench instead of manual). Respects the same env overrides as
    * [[openOrBuild]] so a pinned dev key reads its own state. */
  def sealedAtCurrentKey(sfDir: String): Boolean = {
    import java.nio.file.{Files, Paths}
    val (root, key, _) = location(sfDir)
    val dir = Paths.get(root, key)
    Files.exists(dir.resolve("MANIFEST")) && Files.exists(dir.resolve("SEAL"))
  }

  /** Store the verified expectations (probe rows, canon signatures,
    * degeneracy verdict) next to the artifacts they describe.
    * Written via temp-file + atomic rename (review r14): a kill
    * mid-write must leave NO SEAL (→ next run re-verifies and
    * re-seals), never a truncated one (→ every later run would die on
    * a spurious sealed-expectation mismatch with no self-heal). */
  def seal(dir: String, entries: Seq[(String, String)]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Paths.get(dir, "SEAL.tmp")
    writeKv(tmp, entries)
    Files.move(tmp, Paths.get(dir, "SEAL"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- internals ----

  /** The classes the cached artifacts are a pure function of: the data
    * model + table synthesis (core), every operator/function kernel the
    * builds call (operators, functions), the CDC log + stream folds
    * (streaming), the Catalyst rules a GraftSession installs (plans) —
    * and BenchCache ITSELF, whose build() defines every artifact recipe
    * (review r15: excluding it would let a recipe edit — a changed
    * corpus split, a different write partitioning — serve stale
    * artifacts under an unchanged key, with the seal vacuously agreeing
    * because it was minted from the same stale artifacts). Deliberately
    * NOT graft.Bench* / SparkEntry / Verify / tools — those consume
    * artifacts, they don't define them (VERDICT r14 #4). */
  private val ArtifactPackages = Seq("graft/core/", "graft/operators/",
    "graft/functions/", "graft/streaming/", "graft/plans/",
    "graft/BenchCache")

  private def artifactRelevant(relPath: String): Boolean =
    ArtifactPackages.exists(relPath.startsWith)

  /** Hash of the artifact-relevant engine classes on this JVM's code
    * source — rotates on any recompile whose output bytes differ in a
    * class the artifact builds (transitively) depend on. */
  private def codeHash(): String = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val loc = getClass.getProtectionDomain.getCodeSource.getLocation.toURI
    val p = java.nio.file.Paths.get(loc)
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.walk(p)
      val files =
        try s.iterator().asScala.filter(_.toString.endsWith(".class"))
          .filter(f => artifactRelevant(
            p.relativize(f).toString.replace('\\', '/')))
          .toVector
        finally s.close()
      files.sortBy(f => p.relativize(f).toString).foreach { f =>
        md.update(p.relativize(f).toString.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f))
      }
    } else {
      val zf = new java.util.zip.ZipFile(p.toFile)
      try zf.entries().asScala.toSeq
        .filter(e => e.getName.endsWith(".class") &&
          artifactRelevant(e.getName))
        .sortBy(_.getName)
        .foreach { e =>
          md.update(e.getName.getBytes("UTF-8"))
          val in = zf.getInputStream(e)
          try md.update(in.readAllBytes()) finally in.close()
        }
      finally zf.close()
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Delete stale generations of THIS scale factor only (the key embeds
    * the sfDir name as its suffix) — caches for other scale factors
    * survive, so alternating sf runs don't rebuild every time
    * (review r14: the draft pruned every sibling). */
  private def prune(root: String, keep: String, sfName: String): Unit = {
    val r = new java.io.File(root)
    Option(r.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      val sameSf = f.getName.endsWith(s"-$sfName") ||
        f.getName.endsWith(s"-$sfName.build")
      if (f.isDirectory && sameSf &&
          f.getName != keep && f.getName != keep + ".build")
        try graft.streaming.ChangeStream.deleteRecursively(f.toPath)
        catch { case _: Throwable => () } // best-effort
    }
  }

  /** CONTENT fingerprint of the source data: relative path, size, and the
    * first + last 4 KiB of each file (~8 KiB read per file — parquet
    * footers live in the tail, so a regeneration that preserves sizes
    * and restores mtimes still rotates it; ADVICE r14 closed the
    * mtime-restoration hole). Deliberately mtime-FREE: a pure touch must
    * not rotate the key and convert the driver's next run into a ~17-min
    * rebuild. Public — the bench's cross-round canon pins key on it
    * (canon signatures are a function of data + answer semantics, not of
    * code shape, so pins stay comparable across perf-only code edits). */
  def dataFingerprint(sfDir: String): String = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val p = java.nio.file.Paths.get(sfDir)
    val s = java.nio.file.Files.walk(p)
    val files =
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .toVector
      finally s.close()
    val buf = new Array[Byte](4096)
    files.sortBy(f => p.relativize(f).toString).foreach { f =>
      val size = java.nio.file.Files.size(f)
      md.update(s"${p.relativize(f)}:$size:".getBytes("UTF-8"))
      val ch = java.nio.file.Files.newByteChannel(f)
      try {
        def readAt(pos: Long): Unit = {
          ch.position(pos)
          val bb = java.nio.ByteBuffer.wrap(buf)
          var n = 0
          while (n >= 0 && bb.hasRemaining) n = ch.read(bb)
          md.update(buf, 0, bb.position())
        }
        readAt(0L)
        if (size > 4096) readAt(math.max(4096L, size - 4096))
      } finally ch.close()
    }
    md.digest().take(4).map(b => f"$b%02x").mkString
  }

  private def readKv(p: java.nio.file.Path): Map[String, String] =
    java.nio.file.Files.readAllLines(p).toArray(Array.empty[String])
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap

  private def writeKv(p: java.nio.file.Path,
                      kv: Seq[(String, String)]): Unit =
    java.nio.file.Files.writeString(p,
      kv.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))

  /** Build every scale artifact into `dir`, returning the build-phase
    * timings the bench publishes (key names unchanged from the r11-r13
    * in-run builds so cross-round readers keep their meaning; values on
    * a cache-hit run are the stored rebuild-time readings). */
  private def build(spark: SparkSession, sfDir: String,
                    dir: String): Map[String, Double] = {
    import org.apache.spark.sql.{functions => F}
    val T = graft.core.Tables
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    def scale10(df: DataFrame) = T.namespaceScaled10(df)
    // ONE file per (volume,bucket) dir — guarantees the read-back
    // partitions hold sorted runs (see the r13 scaleProbe note: a
    // shuffle-free variant produced overlapping key ranges per dir and
    // tripped the folds' sorted-input check)
    def whWrite(df: DataFrame, out: String): Unit =
      df.repartition(F.col("volume"), F.col("bucket"))
        .sortWithinPartitions(F.col("volume"), F.col("bucket"), F.col("key"))
        .write.partitionBy("volume", "bucket").mode("overwrite").parquet(out)

    val b = scala.collection.mutable.Map.empty[String, Double]
    // ---- 10×: namespace + snapshot checkpoint pair (the ingest shape
    // the TIMED sf1_ingest metric re-runs into scratch every bench run)
    val t10 = System.nanoTime()
    whWrite(scale10(T.objectsView(spark, sfDir)), s"$dir/objects10")
    scale10(T.snapshotV1(spark, sfDir))
      .write.mode("overwrite").parquet(s"$dir/snap1_10")
    scale10(T.snapshotV2(spark, sfDir))
      .write.mode("overwrite").parquet(s"$dir/snap2_10")
    b("sf1_warehouse_build_sec") = secs(t10)
    val sorted10 = spark.read.parquet(s"$dir/objects10")
    // nested key-table attributes are STORED value fields (OmKeyInfo) —
    // the synthesis is ingest, the fold is the query (VERDICT r11 #2)
    val tN = System.nanoTime()
    T.nestedFrom(sorted10).write.mode("overwrite").parquet(s"$dir/nested10")
    b("sf1_nested_build_sec") = secs(tN)
    // embedding corpus + IVF centroids (index artifacts, like the bands)
    T.embScaled(T.embeddings(spark, sfDir), 10)
      .write.mode("overwrite").parquet(s"$dir/emb10")
    graft.operators.Similarity.ivfCentroids(
        graft.operators.Similarity.quantized(
          spark.read.parquet(s"$dir/emb10")))
      .write.mode("overwrite").parquet(s"$dir/cents10")
    // near-dup document corpus + band index + simhash signature table
    T.docsScaled(T.documents(spark, sfDir), 10)
      .write.mode("overwrite").parquet(s"$dir/docs10")
    graft.operators.Dedup.minhashBands(spark.read.parquet(s"$dir/docs10"))
      .write.mode("overwrite").parquet(s"$dir/bands10")
    graft.operators.Dedup.simhash(spark.read.parquet(s"$dir/docs10"))
      .write.mode("overwrite").parquet(s"$dir/sigs10")
    // the CDC log is the streaming plane's durable INPUT (fixture rule)
    graft.streaming.ChangeLog.events(sorted10)
      .write.mode("overwrite").parquet(s"$dir/cdclog10")

    // ---- 100×: derived from the STORED 10× artifacts (cheaper input
    // than re-running the synthesis; object_id algebra stays injective
    // and the churn digit survives — Tables.namespaceScaled10 scaladoc)
    val tB = System.nanoTime()
    whWrite(scale10(sorted10), s"$dir/objects100")
    T.docsScaled(T.documents(spark, sfDir), 100)
      .write.mode("overwrite").parquet(s"$dir/docs100")
    graft.operators.Dedup.minhashBands(spark.read.parquet(s"$dir/docs100"))
      .write.mode("overwrite").parquet(s"$dir/bands100")
    b("sf10_build_sec") = secs(tB)
    val sorted100 = spark.read.parquet(s"$dir/objects100")
    val docs100 = spark.read.parquet(s"$dir/docs100")
    val tAux1 = System.nanoTime()
    scale10(spark.read.parquet(s"$dir/snap1_10"))
      .write.mode("overwrite").parquet(s"$dir/snap1_100")
    scale10(spark.read.parquet(s"$dir/snap2_10"))
      .write.mode("overwrite").parquet(s"$dir/snap2_100")
    var aux = secs(tAux1)
    val tN100 = System.nanoTime()
    T.nestedFrom(sorted100)
      .write.mode("overwrite").parquet(s"$dir/nested100")
    b("sf10_nested_build_sec") = secs(tN100)
    // dedup verification index: LSH candidates → exact jaccard verify →
    // cluster assignment — the ingest artifacts the 1× pipeline memoizes
    val tD = System.nanoTime()
    graft.operators.Dedup.ngramJaccardPairs(docs100,
        candidates = Some(graft.operators.Dedup.lshPairsFromBands(
          spark.read.parquet(s"$dir/bands100"))))
      .write.mode("overwrite").parquet(s"$dir/pairs100")
    graft.operators.Dedup.dupClusters(docs100.select("doc_id"),
        spark.read.parquet(s"$dir/pairs100"))
      .write.mode("overwrite").parquet(s"$dir/clusters100")
    b("sf10_dedup_build_sec") = secs(tD)
    // incremental-verify corpus state (VERDICT r14 #3): the term-id
    // dictionary + per-doc encoded sets for the 100× CORPUS slice
    // (doc_id % 7 != 0 — the same steady-state split q_dedup_incremental
    // probes), persisted so the bench can measure the verified ingest
    // path against STORED 100× state. One parquet write per frame = one
    // evaluation, so monotonically_increasing_id's recompute
    // nondeterminism cannot split the dictionary (the sets read the
    // STORED dict back).
    val tInc = System.nanoTime()
    val corpus100 = docs100.filter(F.col("doc_id") % 7 =!= 0)
    graft.operators.Dedup.ngramDictionary(corpus100)
      .write.mode("overwrite").parquet(s"$dir/dict100")
    graft.operators.Dedup.ngramSets(corpus100,
        spark.read.parquet(s"$dir/dict100"))
      .write.mode("overwrite").parquet(s"$dir/sets100")
    b("sf10_incdict_build_sec") = secs(tInc)
    val tSh = System.nanoTime()
    graft.operators.Dedup.simhash(docs100)
      .write.mode("overwrite").parquet(s"$dir/sigs100")
    b("sf10_simhash_build_sec") = secs(tSh)
    val tAux2 = System.nanoTime()
    T.embScaled(T.embeddings(spark, sfDir), 100)
      .write.mode("overwrite").parquet(s"$dir/emb100")
    graft.operators.Similarity.ivfCentroids(
        graft.operators.Similarity.quantized(
          spark.read.parquet(s"$dir/emb100")))
      .write.mode("overwrite").parquet(s"$dir/cents100")
    graft.streaming.ChangeLog.events(sorted100)
      .write.mode("overwrite").parquet(s"$dir/cdclog100")
    aux += secs(tAux2)
    b("sf10_aux_build_sec") = aux
    b.toMap
  }
}
