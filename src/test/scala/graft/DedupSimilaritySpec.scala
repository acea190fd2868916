package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Dedup + similarity invariants on tiny hand-built corpora. */
class DedupSimilaritySpec extends SparkSpecBase {
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.toDF("doc_id", "text")
      .withColumn("source", lit("s"))
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))

  test("exact dedup clusters identical normalized text") {
    val d = docs(
      1L -> "Hello   World", 2L -> "hello world", 3L -> "different text")
    val r = rows(Dedup.exactDedup(d).select("doc_id", "cluster_size", "is_dup"))
    assert(r === Seq(Seq(1L, 2L, true), Seq(2L, 2L, true), Seq(3L, 1L, false)))
  }

  test("identical docs share all MinHash-LSH bands; disjoint docs share none") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "completely unrelated words appear here now then")
    val pairs = rows(Dedup.minhashLshPairs(d))
    assert(pairs === Seq(Seq(1L, 2L, Dedup.NumBands.toLong)))
  }

  test("SQ8 quantize stats: one-step error bound, constant-vector edge") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val st = graft.operators.Similarity.quantizeStats(emb).collect()
    assert(st.nonEmpty)
    st.foreach { r =>
      val (mn, mx, err) = (r.getLong(1), r.getLong(2), r.getLong(4))
      val span = math.max(mx - mn, 1L)
      // floor quantization drops at most one 255th-step per component
      assert(err <= span / 255 + 1, s"vec ${r.get(0)}: err $err span $span")
    }
    // constant vector: span clamps to 1, codes 0, exact reconstruction
    import spark.implicits._
    val const = Seq((1L, "x", Array.fill(8)(0.5f)))
      .toDF("vec_id", "label", "embedding")
    val c = graft.operators.Similarity.quantizeStats(const).head
    assert(c.getLong(1) === c.getLong(2))
    assert(c.getLong(3) === 0L && c.getLong(4) === 0L)
  }

  test("incremental dedup: corpus hit beats in-batch hit beats NEW") {
    val corpus = docs(
      10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "totally distinct corpus content sits right here")
    val batch = docs(
      1L -> "the quick brown fox jumps over the lazy dog", // = corpus 10
      2L -> "twin pair inside the arriving batch only now",
      3L -> "twin pair inside the arriving batch only now",
      4L -> "nothing like anything else anywhere at all ok")
    val got = Dedup.incrementalDedup(Dedup.minhashBands(batch),
      Dedup.minhashBands(corpus))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((1L, 0L, "DUP_CORPUS")))
    assert(got(2L) === ((0L, 1L, "DUP_IN_BATCH")))
    assert(got(3L) === ((0L, 1L, "DUP_IN_BATCH")))
    assert(got(4L) === ((0L, 0L, "NEW")))
  }

  test("simhash of identical docs is identical; hamming-0 pairs survive the pigeonhole join") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "one two three four five six seven eight")
    val sh = Dedup.simhash(d).as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
    val pairs = rows(Dedup.simhashPairs(d))
    assert(pairs === Seq(Seq(1L, 2L, 0)))
  }

  test("simhash drops NULL-text docs (explode-form row semantics)") {
    val d = docs(1L -> "alpha beta gamma", 3L -> "one two three")
      .unionByName(Seq(Tuple1(2L)).toDF("doc_id")
        .withColumn("text", lit(null).cast("string"))
        .withColumn("source", lit("s")).withColumn("lang", lit("en"))
        .withColumn("n_chars", lit(0)))
    // the oracle's explode CTE emits no row for a NULL word array; the
    // native one-pass form must match row-for-row, not keep a NULL sig
    val sh = Dedup.simhash(d).as[(Long, Long)].collect().toMap
    assert(sh.keySet === Set(1L, 3L))
  }

  test("simhashChunkStats bucket sizes predict the raw pigeonhole join count") {
    // clustered signatures: clones + perturbations force shared chunks
    val d = docs((1L to 12L).map { i =>
      i -> (if (i % 3 == 0) "aa bb cc dd ee ff gg hh"
            else if (i % 3 == 1) "aa bb cc dd ee ff gg zz"
            else s"unrelated words $i appear here now then")
    }: _*)
    val sh = Dedup.simhash(d).persist()
    val stats = Dedup.simhashChunkStats(sh)
      .as[(Int, Long, Long)].collect()
    // Σ_buckets C(n,2) is EXACTLY the raw signature-pair count the
    // pigeonhole join generates before the hamming filter — the fallback
    // trigger arithmetic the scaladoc documents
    val predicted = stats.map { case (_, _, n) => n * (n - 1) / 2 }.sum
    val ch = sh.select("simhash").distinct()
      .withColumn("idx", explode(array((0 until 4).map(lit): _*)))
      .withColumn("chunk_val", expr(
        s"shiftright(simhash, ${Dedup.ChunkBits} * idx) & ${(1 << Dedup.ChunkBits) - 1}"))
    val raw = ch.as("a").join(ch.as("b"),
        col("a.idx") === col("b.idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.simhash") < col("b.simhash")).count()
    sh.unpersist()
    assert(predicted > 0 && predicted === raw)
  }

  test("simhashDegeneracy folds the trigger arithmetic to one gated row") {
    val d = docs((1L to 12L).map { i =>
      i -> (if (i % 3 == 0) "aa bb cc dd ee ff gg hh"
            else if (i % 3 == 1) "aa bb cc dd ee ff gg zz"
            else s"unrelated words $i appear here now then")
    }: _*)
    val sh = Dedup.simhash(d).persist()
    val deg = Dedup.simhashDegeneracy(sh).head()
    val (raw, sigYld, docYld, ratio) =
      (deg.getLong(0), deg.getLong(1), deg.getLong(2), deg.getLong(3))
    // raw_pairs == Σ_buckets C(n_sigs, 2) from the published chunk stats
    val predicted = Dedup.simhashChunkStats(sh)
      .as[(Int, Long, Long)].collect()
      .map { case (_, _, n) => n * (n - 1) / 2 }.sum
    assert(raw === predicted && raw > 0)
    // yields independently walked from the collected signature table
    val docSigs = sh.as[(Long, Long)].collect().map(_._2)
    val groupSizes = docSigs.groupBy(identity).map { case (s, a) =>
      s -> a.length.toLong }
    val sigs = docSigs.distinct
    val survPairs = (for {
      a <- sigs; b <- sigs
      if a < b
      if java.lang.Long.bitCount(a ^ b) <= 3
      if (0 until 4).exists(c =>
        ((a >> (Dedup.ChunkBits * c)) & ((1 << Dedup.ChunkBits) - 1)) ==
          ((b >> (Dedup.ChunkBits * c)) & ((1 << Dedup.ChunkBits) - 1)))
    } yield (a, b)).distinct
    sh.unpersist()
    assert(sigYld === survPairs.size.toLong)
    // doc yield = intra C(g,2) + cross Σ |g(sa)|·|g(sb)| — exactly the
    // pair join's output row count
    val wantDoc = groupSizes.values.map(g => g * (g - 1) / 2).sum +
      survPairs.map { case (a, b) => groupSizes(a) * groupSizes(b) }.sum
    assert(docYld === wantDoc)
    assert(docYld === Dedup.simhashPairsFromSigs(Dedup.simhash(d)).count())
    assert(ratio === raw * 1000 / math.max(docYld, 1L))
  }

  test("chunk-pair pigeonhole recall equals single-chunk and brute force") {
    // random 60-bit signatures + planted near-dups (1-3 bit flips):
    // the fallback key shape must find EXACTLY the same pair set as the
    // single-chunk plan and a driver-side all-pairs walk
    val rnd = new scala.util.Random(42)
    val mask60 = (1L << 60) - 1
    val base = (1L to 300L).map(i => i -> (rnd.nextLong() & mask60))
    val planted = base.take(30).map { case (id, s) =>
      val flips = (1 to (id % 3 + 1).toInt)
        .map(_ => 1L << rnd.nextInt(60)).reduce(_ | _)
      (id + 1000L) -> (s ^ flips)
    }
    val all = base ++ planted
    val sh = all.toDF("doc_id", "simhash").localCheckpoint()
    val single = rows(Dedup.simhashPairsFromSigs(sh))
    val paired = rows(Dedup.simhashPairsFromSigsPaired(sh))
    assert(single === paired)
    val brute = (for {
      (a, sa) <- all; (b, sb) <- all
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).sorted
    assert(brute.nonEmpty, "fixture must plant at least one near pair")
    assert(single.map(r => (r(0), r(1), r(2))) === brute)
    // 6 chunks pigeonhole hamming ≤ 4 only (2 chunks must survive)
    intercept[IllegalArgumentException](
      Dedup.simhashPairsFromSigsPaired(sh, maxHamming = 5))
  }

  test("templated chunk trips the trigger; auto-switch takes the paired plan") {
    // the degeneracy failure mode as a fixture: every signature shares
    // one boilerplate-forced low 15-bit chunk (corpus-correlated bits),
    // high 45 bits spread — the single-chunk plan's chunk-0 bucket
    // collapses to the whole corpus while yield stays tiny
    val rnd = new scala.util.Random(7)
    val template = 0x1ACEL // 15 boilerplate bits
    val tsigs = (1L to 400L).map { i =>
      i -> (((rnd.nextLong() & ((1L << 45) - 1)) << 15) | template)
    }
    val clones = tsigs.take(8).map { case (id, s) =>
      (id + 10000L) -> (s ^ (1L << 37)) // hamming 1, high region
    }
    val allT = tsigs ++ clones
    val sh = allT.toDF("doc_id", "simhash").localCheckpoint()
    val deg = Dedup.simhashDegeneracy(sh).head()
    assert(deg.getLong(3) >= 10000L,
      s"templated fixture must trip the ~10x trigger, got ratio_x1000=" +
        deg.getLong(3))
    // the paired keys split the degenerate bucket by co-chunk entropy:
    // raw candidate work drops decisively (Σ C(n,2) over buckets)
    val rawSingle = deg.getLong(0)
    val rawPaired = Dedup.simhashPairedChunkStats(sh)
      .as[(Int, Long, Long)].collect()
      .map { case (_, _, n) => n * (n - 1) / 2 }.sum
    assert(rawPaired * 5 < rawSingle,
      s"paired raw $rawPaired not decisively under single raw $rawSingle")
    // the switch fires on the measured ratio and the answer is intact
    val auto = rows(Dedup.simhashPairsAuto(sh))
    val brute = (for {
      (a, sa) <- allT; (b, sb) <- allT
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).sorted
    assert(auto.map(r => (r(0), r(1), r(2))) === brute)
    // recall parity holds even in the degenerate regime (the single
    // plan is SLOW there, never wrong)
    assert(auto === rows(Dedup.simhashPairsFromSigs(sh)))
    // …and on a real corpus the switch's answer is plan-independent
    // whichever branch the measured ratio picks. (The ratio is SCALE-
    // dependent: the sf0.001 fixture reads ~110x — tiny corpora have a
    // raw-pair floor over near-zero yield, where either plan is cheap
    // in absolute terms — while the shipped 100× corpus reads 6.66x,
    // under trigger, sealed per-run as sf10_simhash_degeneracy_*; the
    // bench key, not this fixture, is the authoritative per-corpus
    // verdict.)
    val corpus = Dedup.simhash(
      graft.core.Tables.documents(spark, "/root/testdata/sf0.001"))
      .localCheckpoint()
    assert(rows(Dedup.simhashPairsAuto(corpus)) ===
      rows(Dedup.simhashPairsFromSigs(corpus)))
  }

  test("stored-dict append: old ids preserved, new ids strictly above, injective") {
    val corpus = docs(10L -> "a b c d", 11L -> "x y z w")
    val batch = docs(1L -> "a b c d", 2L -> "a b q r",
      3L -> "new terms only here")
    val dict = Dedup.ngramDictionary(corpus).localCheckpoint()
    val ext = Dedup.ngramDictExtended(dict, batch)
    val old = dict.as[(String, Long)].collect().toMap
    val all = ext.as[(String, Long)].collect()
    val allMap = all.toMap
    assert(all.length === allMap.size, "duplicate term in extended dict")
    assert(all.map(_._2).distinct.length === all.length,
      "extended dict ids not injective")
    old.foreach { case (s, sid) =>
      assert(allMap(s) === sid, s"stored id for '$s' rewritten")
    }
    val maxOld = old.values.max
    (allMap -- old.keys).foreach { case (s, sid) =>
      assert(sid > maxOld, s"appended id for '$s' not above stored max")
    }
    // batch-only terms are covered: doc 3's bigrams ("new terms",
    // "terms only", "only here") all encode → n = 3
    val n3 = Dedup.ngramSets(batch, ext)
      .filter(col("doc_id") === 3L).head().getLong(2)
    assert(n3 === 3L)
  }

  test("incremental verified jaccard equals full rebuild on the same candidates") {
    val corpus = docs(
      10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "totally distinct corpus content sits right here")
    val batch = docs(
      1L -> "the quick brown fox jumps over the lazy dog", // = corpus 10
      2L -> "the quick brown fox naps under the lazy dog", // near corpus 10
      3L -> "brand new vocabulary nothing shared anywhere at all")
    val dict = Dedup.ngramDictionary(corpus).localCheckpoint()
    val corpusSets = Dedup.ngramSets(corpus, dict)
    val corpusBands = Dedup.minhashBands(corpus).localCheckpoint()
    val inc = rows(Dedup.incrementalJaccardVerify(batch, corpusBands,
      corpusSets, dict))
    // full rebuild: one dictionary over corpus+batch, the SAME oriented
    // (batch, corpus) banded candidates — counts must match exactly
    // (injective encodings measure the same string sets)
    val cands = Dedup.minhashBands(batch).as("n")
      .join(corpusBands.as("c"),
        col("n.band") === col("c.band") && col("n.sig") === col("c.sig"))
      .select(col("n.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()
    val full = rows(Dedup.ngramJaccardPairs(
      batch.unionByName(corpus), candidates = Some(cands)))
    assert(inc.nonEmpty, "expected at least the exact-dup pair to verify")
    assert(inc.exists(r => r.head == 1L && r(1) == 10L && r(4) == 1000L),
      s"exact-dup pair (1,10) missing or not jacc 1000 in $inc")
    assert(inc === full)
  }

  test("ngram Jaccard verifies MinHash candidates with exact x1000 ratios") {
    val d = docs(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g h",
      3L -> "z y x w v u t s")
    val r = rows(Dedup.ngramJaccardPairs(d, minJaccardX1000 = 500))
    assert(r === Seq(Seq(1L, 2L, 7L, 7L, 1000L)))
  }

  private def embs(rows: (Long, Seq[Float])*): org.apache.spark.sql.DataFrame =
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0L))

  // 64-dim unit-ish vectors: v(i) has 1.0 at position i, small noise elsewhere.
  private def basisVec(hot: Int, noise: Float = 0.01f): Seq[Float] =
    (0 until 64).map(i => if (i == hot) 1.0f else noise)

  test("dupClusters labels every component with its min doc id (multi-hop chain)") {
    val ids = (1L to 8L).map(Tuple1(_)).toDF("doc_id")
    // chain 2-3-4-5 needs THREE propagation hops to pull 5 down to 2;
    // 7-8 is a simple pair; 1 and 6 stay singletons
    val pairs = Seq((2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val r = rows(Dedup.dupClusters(ids, pairs))
    assert(r === Seq(
      Seq(1L, 1L, 1L), Seq(2L, 2L, 4L), Seq(3L, 2L, 4L), Seq(4L, 2L, 4L),
      Seq(5L, 2L, 4L), Seq(6L, 6L, 1L), Seq(7L, 7L, 2L), Seq(8L, 7L, 2L)))
    // fixpoint guard: an iteration budget too small must fail loudly,
    // never return a partially-propagated labeling
    assertThrows[IllegalArgumentException](
      Dedup.dupClusters(ids, pairs, maxIter = 1))
  }

  test("LSH near-dup finds identical vectors (cos = 1e6) and skips orthogonal ones") {
    val e = embs(
      1L -> basisVec(0), 2L -> basisVec(0), // identical → all bands agree
      3L -> basisVec(40, 0.0f))             // near-orthogonal to 1,2
    val r = rows(Similarity.nearDupPairs(spark, e, minCosX1e6 = 900000))
    // identical quantized vectors: dot = nrm exactly, all doubles < 2^53 ⇒
    // cos computes to exactly 1.0 and floors to 1000000
    assert(r === Seq(Seq(1L, 2L, 1000000L)))
  }

  test("LSH near-dup pairs are a subset of the exact all-pairs result") {
    val e = embs((1L to 12L).map(i => i -> basisVec((i % 4).toInt, 0.02f)): _*)
    val lsh = rows(Similarity.nearDupPairs(spark, e, 500000)).map(_.take(2)).toSet
    val exact = rows(Similarity.nearDupPairsExact(e, 500000)).map(_.take(2)).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty) // identical-basis groups must collide in every band
  }

  test("fingerprint guards short documents (no shingles → -1 extrema, no crash)") {
    val d = docs(1L -> "", 2L -> "single", 3L -> "two words")
    val r = rows(graft.operators.TextAnalysis.fingerprint(d)
      .select("doc_id", "min_shingle_h", "max_shingle_h"))
    assert(r(0)(1) === -1L && r(0)(2) === -1L) // empty doc
    assert(r(1)(1) === -1L && r(1)(2) === -1L) // one word
    assert(r(2)(1) != -1L && r(2)(1) === r(2)(2)) // exactly one shingle
  }

  test("multimodal feature extraction is deterministic and matches the byte sums") {
    val media = graft.core.Tables.mediaAssets(spark, "/root/testdata/sf0.001")
    val feats = graft.operators.Multimodal.extractFeatures(spark, media)
      .select("media_id", "byte_len", "byte_sum")
    val meta = graft.operators.Multimodal.mediaMeta(media)
      .select("media_id", "byte_len", "byte_sum")
    assert(feats.count() === meta.count())
    assert(feats.exceptAll(meta).count() === 0)
  }

  test("multimodal resize downsamples deterministically to the target dims") {
    val media = graft.core.Tables.mediaAssets(spark, "/root/testdata/sf0.001")
    val r = graft.operators.Multimodal.resizeStub(spark, media, 4, 4)
    val first = r.orderBy("media_id").head()
    assert(first.out_w === 4 && first.out_h === 4 && first.pixels.length === 16)
    // deterministic: same input → same bytes on a second run
    val again = graft.operators.Multimodal.resizeStub(spark, media, 4, 4)
      .orderBy("media_id").head()
    assert(first.pixels.toSeq === again.pixels.toSeq)
    assert(r.count() === media.count())
  }

  test("IVF cells partition the corpus and self-probe ranks twins first") {
    val e = embs((0L to 11L).map(i => i -> basisVec((i % 4).toInt, 0.02f)): _*)
    val cells = Similarity.ivfCells(e, numCells = 4)
    assert(cells.count() === 12) // every vector assigned exactly once
    val top = rows(Similarity.annIvf(e, numCells = 4, numQueries = 1, k = 1))
    // query 0's cell contains its identical twins (4, 8) → top hit cos 1e6
    assert(top.head(0) === 0L && top.head(4) === 1000000L)
  }

  test("IVF recall@3 vs the brute-force oracle is bounded below (real corpus)") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.annTopK(emb, numQueries = 20, k = 3))
    val ivf = hits(Similarity.annIvf(emb))
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@3 = $recall (${ivf.size} ivf, ${exact.size} exact)")
  }

  test("PQ shortlist+rerank recall@5 vs the brute-force oracle is bounded below") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.annTopK(emb, numQueries = 20, k = 5))
    val pq = hits(Similarity.annPq(emb, numQueries = 20, k = 5))
    val recall = pq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@5 = $recall")
    // the reranked output is ranked by EXACT cosine: any neighbor shared
    // with the brute force carries the identical cosine value
    val exactCos = Similarity.annTopK(emb, numQueries = 20, k = 5)
      .select("query_id", "neighbor_id", "cos_x1e6").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    Similarity.annPq(emb, numQueries = 20, k = 5)
      .select("query_id", "neighbor_id", "cos_x1e6").collect()
      .foreach { r =>
        exactCos.get((r.getLong(0), r.getLong(1)))
          .foreach(c => assert(c == r.getLong(2)))
      }
  }

  test("semantic decon flags near-benchmark vectors with their best match") {
    // vec 0 and 50 are the benchmark split (ids % 50 == 0); corpus vec 7
    // is a twin of benchmark 0, corpus vec 8 is near benchmark 50, vec 9
    // is orthogonal to both
    val e = embs(
      0L -> basisVec(1), 50L -> basisVec(2),
      7L -> basisVec(1), 8L -> basisVec(2, noise = 0.05f),
      9L -> basisVec(40, noise = 0.0f))
    val got = Similarity.semanticDecon(e, benchMod = 50,
      minCosX1e6 = 350000).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Long]("n_bench_hits"))).toMap
    assert(got(7L)._1 === 0L) // twin matches ITS benchmark, not the other
    assert(got(8L)._1 === 50L)
    assert(!got.contains(9L)) // orthogonal vector stays clean
  }

  test("duplicate spans: planted substrings merge to exact maximal spans") {
    import spark.implicits._
    def words(n: Int, tag: String) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val shared12 = words(12, "dup") // 12-token run duplicated across docs
    val docs = Seq(
      // doc 1: unique prefix of 5, the shared run, unique suffix of 4
      (1L, s"${words(5, "a")} $shared12 ${words(4, "b")}"),
      // doc 2: the shared run at position 0, then unique tail
      (2L, s"$shared12 ${words(9, "c")}"),
      // doc 3: all-unique text — must emit nothing
      (3L, words(30, "u")),
      // doc 4: WITHIN-doc repetition: the same 8-token run twice with a
      // unique separator token between the copies
      (4L, s"${words(8, "r")} sep ${words(8, "r")}"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, k = 8).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSeq).toMap
    // the 12-token duplicated run = 5 overlapping 8-grams merged into ONE
    // span of exactly 12 tokens at the right offsets
    assert(spans(1L) === Seq((5L, 16L)))
    assert(spans(2L) === Seq((0L, 11L)))
    assert(!spans.contains(3L))
    // within-doc copies are 8 tokens at offsets 0 and 9; the separator
    // keeps them apart, so two distinct spans survive the merge
    assert(spans(4L) === Seq((0L, 7L), (9L, 16L)))
  }

  test("duplicateSpansOnePass == the two-pass count+semi-join dual" +
    " (incl. a hot boilerplate gram)") {
    import spark.implicits._
    // planted shapes plus a hot gram shared by MANY docs — the skew
    // case the one-pass collect_list form trades flat rows for; the
    // declared q_substr_spans runs the one-pass plan (r16), this pin
    // keeps it output-identical to the original two-pass form
    def words(n: Int, tag: String) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val boiler = words(9, "hot")
    val docs = ((1L to 12L).map(i =>
      (i, s"$boiler ${words(10, s"u$i-")}")) ++ Seq(
      (20L, words(30, "z")),
      (21L, s"${words(8, "r")} sep ${words(8, "r")}")))
      .toDF("doc_id", "text")
    val a = Dedup.duplicateSpans(docs, k = 8).collect().toSeq
    val b = Dedup.duplicateSpansOnePass(docs, k = 8).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty) // the boiler span must actually appear
  }

  test("brute-force top-k ranks the matching basis vector first") {
    val e = embs(
      0L -> basisVec(1), 5L -> basisVec(1), 6L -> basisVec(2), 7L -> basisVec(3))
    val top = rows(Similarity.annTopK(e, numQueries = 1, k = 1))
    assert(top.head(0) === 0L && top.head(1) === 5L) // query 0's best = its twin
  }

  test("keepOneSelection: quality winner, min-id tie-break, provenance") {
    val clusters = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), // cluster of 3
      (4L, 4L, 2L), (5L, 4L, 2L),               // quality tie → min id
      (9L, 9L, 1L))                             // singleton keeps itself
      .toDF("doc_id", "cluster_id", "cluster_size")
    val quality = Seq(
      (1L, 100L), (2L, 900L), (3L, 500L),
      (4L, 700L), (5L, 700L), (9L, 1L))
      .toDF("doc_id", "quality_x1000")
    val got = graft.operators.Dedup.keepOneSelection(clusters, quality)
      .select("doc_id", "kept_doc_id", "decision")
      .as[(Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 2L, "DROP"), (2L, 2L, "KEEP"), (3L, 2L, "DROP"),
      (4L, 4L, "KEEP"), (5L, 4L, "DROP"),
      (9L, 9L, "KEEP")))
  }

  test("annMatryoshka: exact on MRL-structured vectors, honest gap else") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    // structural invariants on the corpus run: dense ranks, both scores
    val rows = graft.operators.Similarity.annMatryoshka(
      graft.core.Tables.embeddings(spark, d))
      .as[(Long, Long, Int, Long, Long)].collect()
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq === Seq(1, 2, 3, 4, 5))
    }
    assert(rows.forall(r => math.abs(r._4) <= 1000000L &&
      math.abs(r._5) <= 1000000L))
    // the approximation never beats exact retrieval on the full metric:
    // the best full-dim cosine among matryoshka finalists is ≤ the true
    // rank-1 cosine, per query
    val trueTop = graft.operators.Similarity.annTopK(
      graft.core.Tables.embeddings(spark, d))
      .as[(Long, Long, Int, Long)].collect()
      .filter(_._3 == 1).map(r => r._1 -> r._4).toMap
    rows.groupBy(_._1).foreach { case (q, g) =>
      assert(g.map(_._5).max <= trueTop(q))
    }
    // micro MRL fixture: all signal in the first 16 dims, zero tail —
    // the truncated ranking must equal the full ranking exactly
    val vecs = (0L until 6L).map { i =>
      val head = Array.tabulate(16)(j =>
        math.sin(i * 17 + j * 3).toFloat)
      (i, (head ++ Array.fill(48)(0.0f)).toSeq, 0)
    }.toDF("vec_id", "embedding", "label")
    val mrl = graft.operators.Similarity.annMatryoshka(
      vecs, numQueries = 6, k = 3)
      .as[(Long, Long, Int, Long, Long)].collect()
    val fullMicro = graft.operators.Similarity.annTopK(
      vecs, numQueries = 6, k = 3)
      .as[(Long, Long, Int, Long)].collect()
    assert(mrl.map(r => (r._1, r._2, r._3)).toSet ===
      fullMicro.map(r => (r._1, r._2, r._3)).toSet)
    // and the two scores agree when the tail carries nothing
    assert(mrl.forall(r => r._4 == r._5))

    // degenerate prefix: a vector whose first 16 dims quantize to zero
    // must not crash the truncated cosine — it scores 0 there while the
    // full-dim cosine still ranks it
    val tailOnly = ((0L, Seq.fill(64)(0.5f), 0) +:
      (1L until 4L).map(i => (i,
        (Array.fill(16)(0.0f) ++ Array.fill(48)(i * 0.1f)).toSeq, 0)))
      .toDF("vec_id", "embedding", "label")
    val deg = graft.operators.Similarity.annMatryoshka(
      tailOnly, numQueries = 4, k = 2)
      .as[(Long, Long, Int, Long, Long)].collect()
    assert(deg.nonEmpty)
    // every pair involving a zero-prefix vector scores cos_trunc == 0
    deg.filter(r => r._1 >= 1 || r._2 >= 1).foreach { r =>
      assert(r._4 === 0L)
    }
  }

  test("hardNegatives: different-label only, margin vs best positive") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val T = graft.core.Tables
    val labels = T.embeddings(spark, d).select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    val rows = graft.operators.Similarity.hardNegatives(
      T.embeddings(spark, d))
      .as[(Long, Long, Long, Long, Long)].collect()
    // every mined negative carries a label different from its query's
    rows.foreach { case (q, n, _, _, _) =>
      assert(labels(n) != labels(q))
    }
    // dense ranks 1..3 per query
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq === Seq(1L, 2L, 3L))
    }
    // the rank-1 negative is the HARDEST: margins grow with rank
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._3).map(_._5)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
  }

  test("IVF hard negatives: probed-cell subset of the exact miner's " +
    "candidate scores, contiguous monotone ranks") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.embeddings(spark, sf)
    val labels = emb.selectExpr("vec_id", "label").collect()
      .map(r => r.getLong(0) -> String.valueOf(r.get(1))).toMap
    val rows = graft.operators.Similarity.hardNegativesIvf(emb)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("cos_x1e6")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, g) =>
      val sorted = g.sortBy(_._3)
      // ranks contiguous from 1, cosine non-increasing along them
      assert(sorted.map(_._3) === (1L to sorted.length).toSeq, s"q=$q")
      assert(sorted.map(_._4).sliding(2).forall(p =>
        p.length < 2 || p(0) >= p(1)), s"q=$q")
      // every mined neighbor really is a different-label vector
      g.foreach { case (_, n, _, _) =>
        assert(labels(n) != labels(q), s"q=$q n=$n") }
    }
    // cosine values agree with the exact miner wherever both mined the
    // same pair (same integer kernel, different candidate routing)
    val brute = graft.operators.Similarity.hardNegatives(emb)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id")) -> r.getAs[Long]("cos_x1e6")).toMap
    val overlap = rows.filter(r => brute.contains((r._1, r._2)))
    assert(overlap.nonEmpty, "routing overlap expected on a small corpus")
    overlap.foreach { r =>
      assert(brute((r._1, r._2)) === r._4, s"pair ${(r._1, r._2)}") }
  }

  test("paragraphDedup: global first occurrence keeps, per-doc rollup") {
    // 4-token "paragraphs"; doc 1 repeats its own first window, doc 2
    // copies doc 1's window, doc 3 is unique
    val docs = Seq(
      (1L, "a b c d a b c d"),
      (2L, "a b c d x y z w"),
      (3L, "p q r s"))
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, paraTokens = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_paras"), r.getAs[Long]("kept_paras"),
          r.getAs[Long]("retained_pm")))).toMap
    // doc 1: windows [abcd, abcd] — first keeps, second drops (500pm)
    assert(got(1L) === ((2L, 1L, 500L)))
    // doc 2: abcd lost to doc 1, xyzw kept
    assert(got(2L) === ((2L, 1L, 500L)))
    assert(got(3L) === ((1L, 1L, 1000L)))
  }

  test("ccnetBuckets: per-source terciles ranked by familiarity") {
    // one source, 6 docs; familiarity is driven by how many of the doc's
    // trigrams repeat corpus-wide >= 3 times
    val docs = (1L to 6L).map { i =>
      val common = "k v k v k v" // shared trigrams across all docs
      val rare = s"u$i w$i x$i y$i z$i"
      (i, s"$common ${rare.take((6 - i).toInt * 2)}", "srcA")
    }.toDF("doc_id", "text", "source")
    val lm = graft.operators.TextAnalysis.ngramCounts(docs, n = 3,
      minCount = 3)
    val rows = graft.operators.TextAnalysis.ccnetBuckets(docs, lm)
      .collect()
    val byBucket = rows.groupBy(_.getAs[String]("bucket"))
      .view.mapValues(_.length).toMap
    assert(byBucket === Map("head" -> 2, "middle" -> 2, "tail" -> 2))
    // ranks are a permutation of 1..6 and head ranks are 1..2
    val headRanks = rows.filter(_.getAs[String]("bucket") == "head")
      .map(_.getAs[Long]("rank_in_source")).sorted.toSeq
    assert(headRanks === Seq(1L, 2L))
  }

  test("ccnetBuckets: rank idiom scales partitions with the cluster," +
    " never a per-source window") {
    // the family's scale pin (VERDICT r10 #4): the rank must come from
    // the two-pass range-partition idiom — partition count tracks
    // defaultParallelism (no hardcoded literal), and the physical plan
    // contains NO Window/Sort-on-one-reducer (a per-source window is a
    // per-source global sort through one task — the r9 scale defect)
    // 2000 rows so the range sampler sees enough distinct keys to mint
    // every requested partition boundary
    val docs = (1L to 2000L).map(i =>
      (i, s"a b c d e f g$i", s"src${i % 3}")).toDF("doc_id", "text", "source")
    val lm = graft.operators.TextAnalysis.ngramCounts(docs, n = 3,
      minCount = 3)
    val fam = graft.operators.TextAnalysis.lmFamiliarity(docs, lm)
      .select("doc_id", "familiarity_pm")
    val joined = docs.select("doc_id", "source").join(fam, Seq("doc_id"))
    val out = graft.operators.TextAnalysis.rankWithinSource(joined)
    val expected =
      math.max(spark.sparkContext.defaultParallelism, 8)
    assert(out.rdd.getNumPartitions === expected)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    // ranks are still exact per source despite the multi-partition split
    val ranks = out.collect()
      .groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("rank_in_source")).sorted.toSeq)
    ranks.foreach { case (_, rs) => assert(rs === (1L to rs.length)) }
  }

  test("q_dedup_keep conserves the corpus: one decision per document, " +
    "exactly one KEEP per cluster") {
    val docIds = graft.core.Tables.documents(spark, sf).select("doc_id")
    val keep = SparkEntry.queries("q_dedup_keep")(spark, sf)
    assert(keep.select("doc_id").exceptAll(docIds).isEmpty &&
      docIds.exceptAll(keep.select("doc_id")).isEmpty)
    val keepsPerCluster = keep.groupBy("cluster_id")
      .agg(sum(when(col("decision") === "KEEP", 1L).otherwise(0L)).as("k"))
    assert(keepsPerCluster.count() > 0)
    assert(keepsPerCluster.filter(col("k") =!= 1L).isEmpty)
  }

  test("q_dedup_funnel conserves the corpus: one verdict per document") {
    val docIds = graft.core.Tables.documents(spark, sf).select("doc_id")
    val funnel = SparkEntry.queries("q_dedup_funnel")(spark, sf)
      .select("doc_id")
    assert(funnel.exceptAll(docIds).isEmpty && docIds.exceptAll(funnel).isEmpty)
  }
}
