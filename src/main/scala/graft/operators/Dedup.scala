package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns._

/**
 * Document deduplication family for large-scale training-data pipelines:
 * exact (hash groupBy), MinHash+LSH (shingle → k-perm signature → banded
 * bucket join), SimHash (bit-vote fingerprint + pigeonhole chunk join), and
 * exact n-gram Jaccard within candidate buckets.
 *
 * Scale design (the whole point of these shapes):
 *   - Exact dedup: one shuffle on a 16-byte fingerprint, never on the text.
 *   - MinHash+LSH: candidate generation is a self-join on (band, signature)
 *     — cost ∝ Σ bucket², never n². Signature build is a single groupBy with
 *     k min-aggregates (map-side partial min), no per-row state.
 *   - SimHash: hamming-≤h pairs found by pigeonhole over bit chunks — at
 *     most `chunks` shuffles of (chunk_val) keys; never all-pairs.
 *   - n-gram Jaccard: exact verification restricted to (source, lang)
 *     candidate buckets (in production: to LSH candidates) — the classic
 *     candidate-then-verify topology.
 * All arithmetic is integer (mod-prime perms, bit ops, x1000 ratios) so the
 * DuckDB oracle matches bit-for-bit.
 */
object Dedup {

  val NumPerms = 16
  val NumBands = 4 // 4 rows per band

  /** doc_id + normalized text + word array. */
  private def withWords(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", normText(col("text")))
      .withColumn("ws", split(col("norm"), " "))

  /** Exact dedup: md5 fingerprint of normalized text; cluster size via a
    * window over the fingerprint (one shuffle on the 16-byte hash). */
  def exactDedup(docs: DataFrame): DataFrame =
    withWords(docs)
      .withColumn("fingerprint", md5(col("norm")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("fingerprint")))
      .withColumn("is_dup", col("cluster_size") > 1)
      .select("doc_id", "fingerprint", "cluster_size", "is_dup")
      .orderBy("doc_id")

  /** MinHash signatures: k=16 permutation minima per doc, computed in
    * ONE pass over the word array by the native graft_minhash16
    * expression — no shingle explode, no aggregate (the previous
    * explode + 16 min() form materialized a row PER SHINGLE, 75M+ at
    * the 100× band-index ingest; the arithmetic is bit-identical and
    * the DuckDB oracles keep the explode SQL — MinHash16's spec pins
    * the two equal). */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sigCols = (0 until NumPerms).map(i =>
      element_at(col("mh"), i + 1).as(s"mh$i"))
    withWords(docs)
      .filter(size(col("ws")) >= 2)
      .withColumn("mh", call_function("graft_minhash16", col("ws")))
      .select(col("doc_id") +: sigCols: _*)
  }

  /** Long-format LSH bands: (doc_id, band, sig=md5 of 4 signature minima). */
  def minhashBands(docs: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { j =>
      struct(
        lit(j).as("band"),
        md5(concat_ws(",",
          (0 until 4).map(r => col(s"mh${4 * j + r}")): _*)).as("sig"))
    }
    minhashSignatures(docs)
      .withColumn("bs", explode(array(bandStructs: _*)))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** LSH candidate pairs from a (possibly persisted) bands table: docs
    * sharing ≥1 band bucket, with the number of shared bands (the LSH
    * score). Self-join on (band, sig) — never n². */
  def lshPairsFromBands(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_bands"))
      .orderBy("doc_a", "doc_b")

  def minhashLshPairs(docs: DataFrame): DataFrame =
    lshPairsFromBands(minhashBands(docs))

  /**
   * Cross-source near-dup overlap matrix — the dataset-audit rollup over
   * the banded LSH candidates: which sources duplicate INTO which
   * (mirror-site detection, the same dump ingested twice, benchmark text
   * leaking across providers). Diagonal cells are intra-source
   * redundancy; off-diagonal cells are the cross-source leakage a mix
   * designer needs before weighting sources independently.
   *
   * Scale shape: candidates come from the banded index (never O(n²));
   * the source join is two broadcast-sized probes against the doc dim
   * (doc→source is corpus-sized but column-pruned to two columns);
   * output is |sources|² — control-plane sized.
   */
  def sourceOverlap(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select("doc_id", "source")
    pairs
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "src_a"), Seq("doc_a"))
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "src_b"), Seq("doc_b"))
      .withColumn("source_a", least(col("src_a"), col("src_b")))
      .withColumn("source_b", greatest(col("src_a"), col("src_b")))
      .select(col("source_a"), col("source_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("source_a", "source_b")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct("doc").as("n_docs"))
      .orderBy("source_a", "source_b")
  }

  /**
   * Incremental dedup: screen an INCOMING batch against the corpus's
   * persisted LSH index without re-hashing the corpus — the steady-state
   * ingest path at 100 TB (the index is an artifact like the key-sorted
   * warehouse; an arriving batch costs hash(batch) + index probe, never
   * O(corpus)). Per new document: candidate counts against the corpus
   * index and within the batch itself, and a verdict — DUP_CORPUS wins
   * over DUP_IN_BATCH (a corpus collision already decides the doc's fate;
   * in-batch collisions only matter among genuinely new docs).
   *
   * Scale shape: both joins are banded (band, sig) equi-joins — cost
   * Σ bucket-overlap, never batch × corpus; the per-doc rollups are
   * batch-sized.
   */
  def incrementalDedup(newBands: DataFrame,
                       corpusBands: DataFrame): DataFrame = {
    val corpusHits = newBands.as("n").join(corpusBands.as("c"),
        col("n.band") === col("c.band") && col("n.sig") === col("c.sig"))
      .groupBy(col("n.doc_id").as("doc_id"))
      .agg(countDistinct(col("c.doc_id")).as("corpus_candidates"))
    val batchPairs = lshPairsFromBands(newBands)
    val batchCounts = batchPairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("other"))
      .unionByName(batchPairs
        .select(col("doc_b").as("doc_id"), col("doc_a").as("other")))
      .groupBy("doc_id")
      .agg(countDistinct("other").as("batch_candidates"))
    newBands.select("doc_id").distinct()
      .join(corpusHits, Seq("doc_id"), "left")
      .join(batchCounts, Seq("doc_id"), "left")
      .withColumn("corpus_candidates",
        coalesce(col("corpus_candidates"), lit(0L)))
      .withColumn("batch_candidates",
        coalesce(col("batch_candidates"), lit(0L)))
      .withColumn("verdict",
        when(col("corpus_candidates") > 0, lit("DUP_CORPUS"))
          .when(col("batch_candidates") > 0, lit("DUP_IN_BATCH"))
          .otherwise(lit("NEW")))
      .orderBy("doc_id")
  }

  val SimhashBits = 60  // full width of the md5-derived token hash
  val ChunkBits = 15    // 4 chunks × 15 bits; 2^15 bucket values per chunk

  /** 60-bit SimHash: per-bit vote over (repeated) unigram token hashes,
    * computed in ONE pass per doc by the native graft_simhash expression
    * (60 counters in registers over the words array — no per-token row
    * explode). The bit rule matches the explode + 60 signed-sum SQL form
    * the DuckDB oracle keeps: a strictly-positive count sets the bit,
    * ties clear it; FunctionsSpec pins the two forms bit-identical.
    * NULL-text docs emit NO row (the explode form's semantics — an
    * exploded NULL word array drops the doc), so the signature table
    * compares row-for-row against the oracle CTE. */
  def simhash(docs: DataFrame): DataFrame =
    withWords(docs)
      .withColumn("simhash", call_function("graft_simhash", col("ws")))
      .filter(col("simhash").isNotNull)
      .select("doc_id", "simhash")

  /** SimHash near-dup pairs with hamming ≤ maxHamming, found via pigeonhole:
    * split 60 bits into 4 chunks of 15 — any pair within hamming 3 agrees on
    * a full chunk; join per chunk (2^15 bucket values ⇒ bucket sizes ~n/32k,
    * never the n²/16 of narrow chunks), dedup pairs with a groupBy, verify
    * with bit_count(xor). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    // the pair join references the signature frame ~5 times (intra
    // self-join, distinct chunk frame, two expansion joins); an eager
    // localCheckpoint materializes the signatures ONCE instead of
    // re-running the doc scan + native signature pass per reference —
    // scale callers with a PERSISTED signature table (ingest artifact)
    // call simhashPairsFromSigs/-Paired directly. The PRODUCTION
    // docs-in/pairs-out operator routes through the auto switch
    // (review r15: the switch must live on a real path, not only in
    // its spec) — the degeneracy verdict is the build-time toll that
    // buys the quadratic-blowup guard; both branches share one output
    // contract
    simhashPairsAuto(simhash(docs).localCheckpoint(), maxHamming)

  /** The pair join over a (possibly persisted) signature table — split
    * out like [[lshPairsFromBands]]: signatures are an ingest-time
    * index at scale, the join is the query.
    *
    * The pigeonhole join runs in DISTINCT-SIGNATURE space, not doc
    * space: exact and near-clone corpora collapse whole duplicate
    * groups onto one signature, and simhash bits are corpus-correlated
    * (common tokens dominate the majority vote), so doc-space chunk
    * buckets degenerate — at the 100× clique corpus one 15-bit chunk
    * value held most of 500k docs and Σ bucket² in doc space was
    * ~10¹¹ join rows (observed: a single straggler task owning the
    * probe). In sig space the same bucket holds one row per DISTINCT
    * signature; intra-signature pairs (hamming 0 by definition) and
    * the cross-signature expansion are both linear in the OUTPUT pair
    * count, which is the inherent floor. */
  def simhashPairsFromSigs(sh: DataFrame, maxHamming: Int = 3): DataFrame =
    pigeonholePairs(sh, sigChunks(sh), maxHamming)

  /** Degeneracy FALLBACK pair join (VERDICT r14 #2) — same output
    * contract as [[simhashPairsFromSigs]], but the pigeonhole runs on
    * chunk-PAIR keys: 60 bits split into 6 chunks of 10, each of the
    * C(6,2) = 15 unordered chunk pairs contributing one composite
    * 20-bit key. Exactness: hamming ≤ h touches at most h of the 6
    * chunks, so 6−h survive untouched; for h ≤ 4 at least TWO untouched
    * chunks remain and their composite key agrees (the require below).
    *
    * Why it breaks degeneracy: a corpus-correlated ("templated") chunk
    * — boilerplate tokens voting the same bits across the whole corpus
    * — collapses a single-chunk bucket toward n_corpus, and Σ C(n,2)
    * explodes quadratically. Every composite key pairs the templated
    * chunk with a second, independently-varying chunk, so the bucket
    * splits by the co-chunk's entropy (~2^10 ways); the price is 15 key
    * rows per distinct signature instead of 4 — linear, and only paid
    * when the measured trigger says the quadratic term is the bigger
    * enemy ([[simhashPairsAuto]]). The shipped corpora sit UNDER the
    * trigger (ratio 6.66× at the 100× clique corpus), so they keep the
    * single-chunk plan; DedupSimilaritySpec's templated fixture trips
    * the trigger and pins this path's recall == single-chunk == brute
    * force. */
  def simhashPairsFromSigsPaired(sh: DataFrame,
                                 maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 4,
      s"chunk-pair pigeonhole is exact only for hamming <= 4 (6 chunks," +
        s" two must survive untouched); got $maxHamming")
    pigeonholePairs(sh, sigChunkPairs(sh), maxHamming)
  }

  /** Plan selection at band-index build time (VERDICT r14 #5): run the
    * degeneracy verdict over the stored signature table and pick the
    * pigeonhole key shape from the measured ratio — single-chunk (4×15)
    * under the trigger, chunk-pair (6×10, 15 composite keys) at or
    * above it. The one-row head() is a scalar ingest-time decision (the
    * same shape as ngramDictExtended's max-id read), logged to stderr
    * so the chosen plan is attributable in ingest logs; both branches
    * share one output contract, so consumers cannot tell which ran.
    * PRECONDITION: `sh` must be pinned (a stored signature table, or
    * localCheckpoint'd) — the verdict and the chosen join each evaluate
    * it several times. The paired keys pigeonhole only up to hamming 4
    * (two of six chunks must survive), so a wider-radius caller keeps
    * the single-chunk plan whatever the ratio says. */
  def simhashPairsAuto(sh: DataFrame, maxHamming: Int = 3,
                       triggerRatioX1000: Long = 10000L): DataFrame = {
    val ratio = simhashDegeneracy(sh, maxHamming).head().getLong(3)
    val paired = ratio >= triggerRatioX1000 && maxHamming <= 4
    System.err.println("[dedup] simhash pigeonhole plan: " +
      (if (paired) "chunk-pair 6x10 (degenerate single-chunk buckets)"
       else "single-chunk 4x15") +
      s" — degeneracy ratio_x1000=$ratio, trigger=$triggerRatioX1000")
    if (paired) simhashPairsFromSigsPaired(sh, maxHamming)
    else simhashPairsFromSigs(sh, maxHamming)
  }

  /** The shared pair-join body: intra-signature pairs + distinct-
    * signature pigeonhole over the GIVEN chunk-key frame + the doc
    * expansion. Both key shapes ride the same three-stage plan. */
  private def pigeonholePairs(sh: DataFrame, ch: DataFrame,
                              maxHamming: Int): DataFrame = {
    // identical signatures: every intra-group pair, hamming 0 — a plain
    // narrow equi-join on the signature (per-group cost C(g,2) IS the
    // output; no arrays, stays in whole-stage codegen)
    val intra = sh.as("a").join(sh.as("b"),
        col("a.simhash") === col("b.simhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    // distinct-signature pigeonhole: any sig pair within hamming H
    // agrees on at least one chunk key
    val sigPairs = ch.as("a").join(ch.as("b"),
        col("a.idx") === col("b.idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sa"), col("b.simhash").as("sb"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a sig pair may agree on several chunks
    // expand sig pairs to doc pairs through two narrow joins — rows
    // generated = output pairs, never more
    val cross = sigPairs
      .join(sh.select(col("simhash").as("sa"), col("doc_id").as("da")),
        "sa")
      .join(sh.select(col("simhash").as("sb"), col("doc_id").as("db")),
        "sb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    intra.unionByName(cross)
      .filter(col("hamming") <= maxHamming) // maxHamming < 0 drops intra
      .orderBy("doc_a", "doc_b")
  }

  /** One row per (DISTINCT signature, chunk idx): the 4 pigeonhole chunk
    * values of each distinct 60-bit signature. */
  private def sigChunks(sh: DataFrame): DataFrame = {
    val chunkStructs = (0 until 4).map { c =>
      struct(lit(c).as("idx"),
        expr(s"shiftright(simhash, ${ChunkBits * c}) & ${(1 << ChunkBits) - 1}")
          .as("chunk_val"))
    }
    sh.select("simhash").distinct()
      .withColumn("cs", explode(array(chunkStructs: _*)))
      .select(col("simhash"),
        col("cs.idx").as("idx"), col("cs.chunk_val").as("chunk_val"))
  }

  val PairChunkBits = 10 // 6 chunks of 10 bits; C(6,2) = 15 composite keys

  /** One row per (DISTINCT signature, chunk-pair idx): the 15 composite
    * 20-bit keys of each distinct signature — chunk i's 10 bits shifted
    * over chunk j's (i < j), idx enumerating the unordered pairs. */
  private def sigChunkPairs(sh: DataFrame): DataFrame = {
    val mask = (1 << PairChunkBits) - 1
    val combos = for { i <- 0 until 6; j <- (i + 1) until 6 } yield (i, j)
    val pairStructs = combos.zipWithIndex.map { case ((i, j), k) =>
      struct(lit(k).as("idx"),
        expr(s"(shiftright(simhash, ${PairChunkBits * i}) & $mask) * " +
          s"${1 << PairChunkBits} + " +
          s"(shiftright(simhash, ${PairChunkBits * j}) & $mask)")
          .as("chunk_val"))
    }
    sh.select("simhash").distinct()
      .withColumn("cs", explode(array(pairStructs: _*)))
      .select(col("simhash"),
        col("cs.idx").as("idx"), col("cs.chunk_val").as("chunk_val"))
  }

  /** [[simhashChunkStats]] for the chunk-pair key shape: distinct-sig
    * bucket sizes per composite (pair idx, 20-bit value) — Σ C(n_sigs,2)
    * bounds the PAIRED join's raw candidate pairs, the A/B number
    * against the single-chunk bound when the trigger fires. */
  def simhashPairedChunkStats(sh: DataFrame): DataFrame =
    sigChunkPairs(sh)
      .groupBy("idx", "chunk_val")
      .agg(count(lit(1)).as("n_sigs"))
      .orderBy("idx", "chunk_val")

  /** One-row degeneracy VERDICT over a stored signature table — the
    * [[simhashChunkStats]] trigger arithmetic folded to the number an
    * ingest gates on: `raw_pairs` = Σ_buckets C(n_sigs, 2) (exactly the
    * pigeonhole join's pre-hamming-filter row count, spec-pinned),
    * `yield_sig_pairs` = distinct signature pairs surviving hamming ≤
    * `maxHamming`, `yield_doc_pairs` = the DOC pairs those expand to
    * (intra-signature C(g,2) + Σ |docs(sa)|·|docs(sb)| — exactly
    * [[simhashPairsFromSigs]]' output row count, the join's inherent
    * output floor), and `ratio_x1000` = raw·1000 DIV max(doc yield, 1)
    * — wasted candidate work per emitted pair. A ratio ≳ 10 000
    * (raw ≳ 10× the output) is the documented fallback trigger: switch
    * to narrower chunk-PAIR keys (6×10 bits, C(6,2)=15 keys — hamming
    * ≤ 3 still pigeonholes) before running the pair join. The ratio is
    * deliberately NOT sig-space (raw/yield_sig reads 79× on the 100×
    * clique corpus because whole perturbed-clone families collapse to
    * single signatures — yet each surviving sig pair carries ~12 doc
    * pairs, so candidate work per OUTPUT pair is 6.7×, under trigger);
    * both yields publish so either view is checkable. */
  def simhashDegeneracy(sh: DataFrame, maxHamming: Int = 3): DataFrame = {
    val raw = simhashChunkStats(sh)
      .agg(coalesce(sum(expr("n_sigs * (n_sigs - 1) DIV 2")), lit(0L))
        .cast("long").as("raw_pairs"))
    val counts = sh.groupBy("simhash").agg(count(lit(1)).as("g"))
    val intra = counts
      .agg(coalesce(sum(expr("g * (g - 1) DIV 2")), lit(0L))
        .cast("long").as("intra_doc_pairs"))
    val ch = sigChunks(sh)
    // ONE evaluation of the pigeonhole join yields both the surviving
    // sig-pair count and the cross-signature doc-pair expansion size
    val pairStats = ch.as("a").join(ch.as("b"),
        col("a.idx") === col("b.idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .filter(expr("bit_count(sa ^ sb)") <= maxHamming)
      .distinct()
      .join(counts.select(col("simhash").as("sa"), col("g").as("ga")), "sa")
      .join(counts.select(col("simhash").as("sb"), col("g").as("gb")), "sb")
      .agg(count(lit(1)).as("yield_sig_pairs"),
        coalesce(sum(expr("ga * gb")), lit(0L))
          .cast("long").as("cross_doc_pairs"))
    raw.crossJoin(pairStats).crossJoin(intra)
      .withColumn("yield_doc_pairs",
        expr("intra_doc_pairs + cross_doc_pairs"))
      .withColumn("ratio_x1000",
        expr("raw_pairs * 1000 DIV greatest(yield_doc_pairs, 1)"))
      .select("raw_pairs", "yield_sig_pairs", "yield_doc_pairs",
        "ratio_x1000")
  }

  /** Pre-flight degeneracy probe for [[simhashPairsFromSigs]]: the
    * DISTINCT-signature bucket size per (chunk idx, chunk value). The
    * pigeonhole join generates exactly Σ_buckets C(n,2) raw signature
    * pairs BEFORE the hamming filter (DedupSimilaritySpec pins the
    * arithmetic), so this frame bounds the join's cost from the stored
    * signature table alone — run it at ingest, before the pair join.
    * Distinct-sig space collapses exact-duplicate cliques, but a corpus
    * whose distinct signatures are themselves clustered (e.g. 174k
    * PERTURBED clones of one doc at the 100× probe corpus share
    * degenerate chunk values — simhash bits are corpus-correlated) can
    * re-degenerate a bucket at another decade: when Σ C(n,2) grossly
    * exceeds the expected OUTPUT pair count (say >10×), fall back to
    * narrower chunks (more bands ⇒ smaller n per bucket; hamming ≤ H
    * needs only H+1 chunks to pigeonhole, extra chunks only add recall
    * passes) or a bit-sampled secondary bucket key on the high-entropy
    * bit positions. */
  def simhashChunkStats(sh: DataFrame): DataFrame =
    sigChunks(sh)
      .groupBy("idx", "chunk_val")
      .agg(count(lit(1)).as("n_sigs"))
      .orderBy("idx", "chunk_val")

  /** Exact n-gram (word-bigram) Jaccard verification over MinHash-LSH
    * candidate pairs — the candidates-then-verify topology: per-doc
    * DISTINCT shingle sets, dictionary-encoded to sorted term-id arrays,
    * attached per side; |A∩B| counted per pair in place by the native
    * sorted-merge kernel, |A∪B| = |A|+|B|-|∩|, emitted as an integer
    * x1000 ratio. Cost is linear in corpus (dict + sets) + Σ
    * candidate-pair set bytes — never quadratic within a partition-key
    * bucket.
    *
    * PRECONDITIONS: `candidates` rows must be DISTINCT (doc_a, doc_b)
    * pairs ([[lshPairsFromBands]] groups, so its output qualifies) — a
    * duplicated candidate row emits a duplicated output row; `docs`
    * must be DETERMINISTIC across re-evaluation (a stored table or
    * fixture, not a sample()) — the term-id dictionary derives from one
    * evaluation of the shingle frame and the set build inner-joins a
    * second, so a shingle minted only by the second would be dropped.
    * NOTE: construction is EAGER (the dictionary checkpoint runs
    * corpus-scale jobs before this returns), unlike the other builders
    * here. */
  def ngramJaccardPairs(docs: DataFrame, minJaccardX1000: Long = 100,
                        candidates: Option[DataFrame] = None): DataFrame = {
    val cands = candidates.getOrElse(minhashLshPairs(docs))
      .select("doc_a", "doc_b")
    // Per-doc DISTINCT shingle set attached as ONE SORTED ARRAY<BIGINT>
    // row of DICTIONARY term-ids: each candidate pair then rides through
    // two narrow doc_id joins and the native graft_isect_sorted kernel
    // counts |A∩B| in place with a single O(|A|+|B|) primitive-long
    // merge — no per-pair hash set, no materialized intersection array.
    //
    // The dictionary (distinct shingle string → unique BIGINT) is what a
    // term-id encoding buys at scale: the pair joins are the stage's
    // dominant shuffle (|pairs| rows × two set payloads — ~27M pairs at
    // the 100× clique-heavy probe), and an ~120-bigram STRING set is
    // ~1.8 KB where the id set is ~1 KB less; the merge compares longs
    // instead of byte strings. The encoding is INJECTIVE (ids minted per
    // distinct string), so counts are EXACTLY the string-set counts —
    // unlike a hash compaction, which would open a (tiny but real)
    // collision divergence class against the oracle's un-hashed bigram
    // intersects. The dict build is corpus-linear (one distinct over
    // exploded shingles) and the id assignment is pinned by an eager
    // localCheckpoint: monotonically_increasing_id is nondeterministic
    // across RECOMPUTES, and the sets frame feeds both join sides — two
    // divergent dict instantiations would silently zero the counts.
    //
    // Two earlier formulations and why they lost: exploding candidates ×
    // shingles into a shingle equi-join + hash aggregate made a ~3.7B-row
    // intermediate at the 100× probe (525 s); a string-array plan with
    // size(array_intersect(...)) moved |pairs| rows but paid a hash-set
    // build + result-array copy per pair on top of the string payload.
    //
    // The shingle explode is evaluated TWICE (dict derivation + set
    // build) — deliberate: it is shuffle-free scan-bound work, and
    // checkpointing the ~75M-row exploded string frame at 100× would pin
    // comparable IO + executor storage to what the re-scan costs. The
    // eager checkpoint makes CONSTRUCTING this frame run corpus-scale
    // jobs (distinct + id mint) — the only Dedup builder besides the
    // inherently iterative dupClusters with that side effect; its blocks
    // are freed by the ContextCleaner once the returned frame is
    // unreachable (Dataset.unpersist cannot free checkpoint blocks), so
    // repeated calls hold at most the not-yet-GC'd tail of small
    // per-corpus dictionaries — same lifecycle as dupClusters' iteration
    // checkpoints.
    val dict = ngramDictionary(docs).localCheckpoint()
    val sets = ngramSets(docs, dict)
    verifiedFromSets(cands, sets, sets, minJaccardX1000)
  }

  /** The per-doc distinct word-bigram frame — the shared scan under the
    * dictionary build and the set encode. Evaluated per consumer only on
    * the corpus-scale REBUILD path (see [[ngramJaccardPairs]] — the
    * re-scan is cheaper than pinning the exploded string frame at corpus
    * scale); the batch ingest path pins ONE evaluation and feeds both
    * consumers from it (see [[incrementalJaccardVerify]], ADVICE r15). */
  private def shingleFrame(docs: DataFrame): DataFrame =
    withWords(docs)
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(shingleExpr("ws", 2)).as("s"))

  /** The term-id dictionary (distinct shingle string → unique BIGINT) as
    * a frame — at steady state this is CORPUS STATE exactly like the band
    * index: persist it at ingest and extend it monotonically per batch
    * ([[ngramDictExtended]]) instead of re-deriving it per invocation.
    * Ids are minted with monotonically_increasing_id, which is
    * NONDETERMINISTIC across recomputes — a caller that consumes the
    * frame more than once must pin it (localCheckpoint) or persist it;
    * [[ngramJaccardPairs]] checkpoints, the stored-artifact path writes
    * parquet. */
  def ngramDictionary(docs: DataFrame): DataFrame =
    shingleFrame(docs).select("s").distinct()
      .withColumn("sid", monotonically_increasing_id())

  /** Per-doc sorted term-id set (doc_id, ss ARRAY<BIGINT>, n) encoded
    * against a GIVEN dictionary — the persisted verification-index row
    * format. PRECONDITION: `dict` covers every shingle of `docs` (it
    * derives from these docs, or from [[ngramDictExtended]] over them) —
    * the encode is an inner join, so an uncovered shingle would silently
    * shrink the set and undercount the union. */
  def ngramSets(docs: DataFrame, dict: DataFrame): DataFrame =
    ngramSetsFromShingles(shingleFrame(docs), dict)

  /** [[ngramSets]] over an already-exploded shingle frame (same sharing
    * rationale as [[ngramDictExtendedFromShingles]]). */
  private def ngramSetsFromShingles(shingles: DataFrame,
                                    dict: DataFrame): DataFrame =
    shingles.join(dict, "s")
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("sid"))).as("ss"))
      .select(col("doc_id"), col("ss"), size(col("ss")).cast("long").as("n"))

  /** Monotone dictionary append: terms of `newDocs` absent from the
    * stored `dict` get fresh ids strictly ABOVE the stored maximum
    * (stored rows pass through untouched, so corpus sets encoded against
    * the old dictionary stay valid — the append-only contract a
    * persisted index needs). The new-term frame is batch-sized (distinct
    * unseen shingles), pinned with a localCheckpoint because
    * monotonically_increasing_id is nondeterministic across recomputes.
    * Offset arithmetic: new id = maxSid + 1 + m_i_id, where m_i_id <
    * (numPartitions << 33) + rowsPerPartition — both operands are far
    * below 2^62 at any real partition count, so the sum cannot
    * overflow; injectivity follows from m_i_id's own injectivity. */
  def ngramDictExtended(dict: DataFrame, newDocs: DataFrame): DataFrame =
    ngramDictExtendedFromShingles(dict, shingleFrame(newDocs))

  /** [[ngramDictExtended]] over an already-exploded (and, when shared
    * with other consumers, pinned) shingle frame — the batch ingest path
    * normalizes+shingles the batch text ONCE and feeds both the
    * dictionary probe and the set encode from the same frame. */
  private def ngramDictExtendedFromShingles(dict: DataFrame,
                                            shingles: DataFrame): DataFrame = {
    val maxSid = dict.agg(coalesce(max("sid"), lit(-1L)))
      .head().getLong(0)
    val newTerms = shingles.select("s").distinct()
      .join(dict.select("s"), Seq("s"), "left_anti")
      .withColumn("sid", monotonically_increasing_id() + lit(maxSid + 1L))
      .localCheckpoint()
    dict.unionByName(newTerms)
  }

  /**
   * Incremental VERIFIED jaccard — the stage [[incrementalDedup]] stops
   * short of: an incoming batch's LSH candidates against the corpus are
   * verified with exact n-gram jaccard WITHOUT re-encoding the corpus.
   * Corpus state consumed as stored artifacts: the band index
   * (`corpusBands`), the per-doc term-id sets (`corpusSets`,
   * [[ngramSets]] rows) and the term dictionary (`dict`); the batch pays
   * hash(batch) + a dictionary probe (anti-join on the term STRINGS,
   * corpus-term-count-sized, never a corpus doc scan) + the banded
   * candidate join. Output rows are (batch doc_a, corpus doc_b)
   * oriented — id order between the sides is not imposed.
   *
   * Counts are EXACTLY the string-set counts (both encodings are
   * injective on shingle strings; new batch-only terms get fresh ids
   * above the stored max and can never collide with a corpus id), so
   * the result equals a full-rebuild [[ngramJaccardPairs]] restricted
   * to the same candidate pairs — DedupSimilaritySpec pins that parity.
   */
  def incrementalJaccardVerify(newDocs: DataFrame, corpusBands: DataFrame,
                               corpusSets: DataFrame, dict: DataFrame,
                               minJaccardX1000: Long = 100): DataFrame = {
    val newBands = minhashBands(newDocs)
    val cands = newBands.as("n").join(corpusBands.as("c"),
        col("n.band") === col("c.band") && col("n.sig") === col("c.sig"))
      .select(col("n.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()
    // ONE normalize+shingle pass over the batch text: the dictionary
    // probe and the set encode both consume the pinned frame (each ran
    // its own explode before — r15 measured the two passes as a
    // material share of the 100× probe); blocks are batch-shingle-sized.
    // The pin is NOT freed by the ContextCleaner: CacheManager holds a
    // persisted Dataset strongly until someone unpersists it, and nothing
    // does, so each call keeps its batch shingles for the session's life
    val batchShingles = shingleFrame(newDocs).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchSets = ngramSetsFromShingles(batchShingles,
      ngramDictExtendedFromShingles(dict, batchShingles))
    verifiedFromSets(cands, batchSets, corpusSets, minJaccardX1000)
  }

  /** Shared verify tail: candidate pairs × (side-a sets, side-b sets) →
    * native sorted-merge intersect → integer jaccard. */
  private def verifiedFromSets(cands: DataFrame, setsA: DataFrame,
                               setsB: DataFrame,
                               minJaccardX1000: Long): DataFrame =
    cands
      .join(setsA.select(col("doc_id").as("doc_a"), col("ss").as("sa"),
        col("n").as("na")), "doc_a")
      .join(setsB.select(col("doc_id").as("doc_b"), col("ss").as("sb"),
        col("n").as("nb")), "doc_b")
      .withColumn("inter_count",
        call_function("graft_isect_sorted", col("sa"), col("sb")))
      // the explode-join emitted NO row for a zero-overlap pair (inner
      // join on matching shingles) — preserved so a minJaccardX1000 = 0
      // caller sees identical output
      .filter(col("inter_count") > 0)
      .withColumn("union_count", col("na") + col("nb") - col("inter_count"))
      .withColumn("jacc_x1000", expr("inter_count * 1000 DIV union_count"))
      .filter(col("jacc_x1000") >= minJaccardX1000)
      .select("doc_a", "doc_b", "inter_count", "union_count", "jacc_x1000")
      .orderBy("doc_a", "doc_b")

  /**
   * Duplicate-CLUSTER assignment: connected components over verified
   * near-dup pairs, each doc labeled with the MIN doc_id of its component
   * — the step a dedup pipeline runs after candidate verification to pick
   * one canonical doc per cluster (doc_id == cluster_id) and drop the
   * rest.
   *
   * Min-label propagation: each iteration is one join + min-agg on the
   * SPARSE edge list (|edges| ≈ verified pairs ≪ n²), labels only ever
   * decrease, and near-dup components have tiny diameter, so a handful of
   * iterations reach the fixpoint (detected by the monotone label-sum —
   * one cheap agg per iteration, no row-level diff join). The loop runs
   * ONLY over docs that appear in some edge (everything else is a
   * singleton by construction and unioned back at the end) — near-dup
   * edge sets are sparse, so the iterated frame is ~2·|pairs| rows, not
   * the corpus. Driver loop bounded by `maxIter`; lineage cut per
   * iteration via localCheckpoint so the plan never grows — no
   * driver-side graph, no n² anything, scales to billions of docs with
   * million-row edge lists.
   */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
                  maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    // materialize once; every iteration re-reads it
    val edges = fwd.unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    // size the iteration state to the edge volume: near-dup edge lists are
    // far smaller than the corpus, and a handful of partitions per round
    // beats a full shuffle-width of empty tasks — but a million-edge list
    // still fans out (500k rows/partition target, capped at 200)
    val stateParts = math.max(4,
      math.min(200, (edges.count() / 500000L).toInt + 1))
    var labels = edges.select(col("u").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .coalesce(stateParts).localCheckpoint()
    var prevSum = labels.agg(sum("label")).head.getLong(0)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("v"), col("label").as("nl")), "v")
        .groupBy(col("u").as("doc_id"))
        .agg(min("nl").as("nbr_label"))
      labels = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
        .coalesce(stateParts).localCheckpoint()
      val s = labels.agg(sum("label")).head.getLong(0)
      converged = s == prevSum // labels are monotone non-increasing
      prevSum = s
      iter += 1
    }
    require(converged, s"dupClusters did not converge within $maxIter iterations")
    val asg = labels.withColumnRenamed("label", "cluster_id")
    val sized = asg
      .join(asg.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
        "cluster_id")
    val singletons = docs
      .join(asg.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("cluster_size"))
    sized.select("doc_id", "cluster_id", "cluster_size")
      .unionByName(singletons)
      .orderBy("doc_id")
  }

  /**
   * Canonical-document selection per duplicate cluster — the keep/drop
   * decision a dedup pipeline feeds the training mix: each cluster KEEPs
   * its highest-quality member (quality_x1000, ties → smallest doc_id,
   * so the choice is deterministic under any execution order); every
   * other member DROPs, carrying kept_doc_id for provenance.
   *
   * Scale shape: one equi-join on doc_id + a map-side-combinable winner
   * aggregate on cluster_id (max_by over a (quality, -doc_id) struct) —
   * no window over the corpus, singleton clusters keep themselves for
   * free.
   */
  def keepOneSelection(clusters: DataFrame,
                       quality: DataFrame): DataFrame = {
    val scored = clusters
      .join(quality.select("doc_id", "quality_x1000"), "doc_id")
    val winners = scored.groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col("quality_x1000"), -col("doc_id"))).as("kept_doc_id"))
    scored
      .join(winners, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("kept_doc_id"),
        when(col("doc_id") === col("kept_doc_id"), lit("KEEP"))
          .otherwise(lit("DROP")).as("decision"))
      .orderBy("doc_id")
  }

  /**
   * End-to-end dedup funnel: URL-level exact dedup first (the cheap
   * zero-shuffle pre-pass), then banded-LSH near-dup keep-one — each doc
   * attributed to the FIRST stage that drops it (the dedup dual of the
   * curation funnel).
   */
  def dedupFunnel(docUrls: DataFrame, clusters: DataFrame,
                  quality: DataFrame): DataFrame = {
    val url = Curation.urlDedup(docUrls)
      .select(col("doc_id"), col("keep").as("__url_keep"),
        col("cluster_size").as("url_cluster_size"))
    val keep = keepOneSelection(clusters, quality)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("kept_doc_id"), col("decision").as("__nd_decision"))
    url.join(keep, Seq("doc_id"))
      .withColumn("verdict",
        when(!col("__url_keep"), lit("url"))
          .when(col("__nd_decision") === "DROP", lit("near_dup"))
          .otherwise(lit("keep")))
      .select("doc_id", "url_cluster_size", "cluster_id",
        "cluster_size", "kept_doc_id", "verdict")
      .orderBy("doc_id")
  }

  /** Canonical-document selection — the dedup pipeline's final decision:
    * within each duplicate cluster keep exactly the highest-quality member
    * (doc_id tiebreak), drop the rest. One window partitioned by
    * cluster_id; clusters are tiny (near-dup groups), so no skew — the
    * shuffle is one pass over (doc_id, cluster_id, quality) narrow rows. */
  def canonicalDocs(clusters: DataFrame, quality: DataFrame): DataFrame =
    clusters
      .join(quality.select("doc_id", "quality_x1000"), "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(col("quality_x1000").desc, col("doc_id"))))
      .withColumn("keep", col("rk") === 1)
      .select("doc_id", "cluster_id", "cluster_size", "quality_x1000", "keep")
      .orderBy("doc_id")

  /**
   * Exact duplicate SPANS — substring-level dedup (the "dedup the
   * training data at the substring level" pass of Lee et al. 2021,
   * arXiv:2107.06499): every k-token window whose exact text occurs more
   * than once in the corpus marks its token range; per doc, overlapping or
   * adjacent ranges merge to maximal spans. The hash-gram formulation is
   * the distributed stand-in for the paper's suffix array: for a fixed
   * minimum match length k it finds exactly the same duplicated-substring
   * mass (a duplicated substring of length L ≥ k is covered by its L-k+1
   * duplicated k-grams, which merge back into one span).
   *
   * Scale shape: posexplode to (doc, pos, gram) — the corpus token count —
   * then ONE shuffle grouping by the gram text (exact matches, no
   * collision risk); duplicated grams (a small fraction) flow into a
   * per-doc sort-window for the island merge. The group-by-gram is the
   * same textbook shuffle as ngramCounts; AQE handles the few hot grams.
   *
   * Output: one row per maximal duplicated span.
   */
  def duplicateSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val occ = wordGramOccurrences(docs, k)
    // count per gram as a map-side-combined AGGREGATE, then semi-join the
    // duplicated grams back — a count window over (gram) would pile every
    // occurrence of a hot boilerplate gram onto one task with no
    // pre-combine and no AQE skew splitting (which covers joins only)
    val dupGrams = occ
      .groupBy("gram").agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > 1)
      .select("gram")
    val dupOcc = occ
      .join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + k - 1).cast("long").as("e"))
    mergeSpans(dupOcc)
  }

  /** [[duplicateSpans]] in ONE pass over the token stream: the per-gram
    * count and the occurrence carry ride the same aggregation
    * (collect_list per gram, groups of size 1 — the vast majority —
    * dropped before the explode back to flat rows). Same output, one
    * corpus normalize+posexplode scan and one shuffle where the shipped
    * form pays two of each; the trade is that a hot boilerplate gram's
    * occurrences materialize as ONE in-memory array on a single task
    * (the shipped form keeps them as flat skew-splittable rows) — see
    * OPTIMIZATION_r16.md §3 for the measured comparison and the plans. */
  def duplicateSpansOnePass(docs: DataFrame, k: Int = 8): DataFrame = {
    val dupOcc = wordGramOccurrences(docs, k)
      .groupBy("gram")
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("os"))
      .filter(size(col("os")) > 1)
      .select(explode(col("os")).as("o"))
      .select(col("o.doc_id").as("doc_id"),
        col("o.pos").cast("long").as("s"),
        (col("o.pos") + k - 1).cast("long").as("e"))
    mergeSpans(dupOcc)
  }

  /** The posexplode'd (doc_id, pos, gram) occurrence frame both span
    * forms read — the corpus-token-count-sized scan. */
  private[graft] def wordGramOccurrences(docs: DataFrame,
                                         k: Int): DataFrame =
    withWords(docs)
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        posexplode(shingleExpr("ws", k)).as(Seq("pos", "gram")))

  /** Shared island-merge tail: duplicated k-token ranges → maximal
    * per-doc spans (gaps-and-islands: a new island starts where this
    * span begins past every previous end + 1 — adjacent spans merge,
    * contiguous tokens). */
  private def mergeSpans(dupOcc: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    val prevMax = max("e").over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dupOcc
      .withColumn("new_island",
        when(col("s") <= coalesce(prevMax, lit(-2)) + 1, 0L).otherwise(1L))
      .withColumn("island",
        sum("new_island").over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /**
   * Paragraph-level exact dedup — the CCNet pre-pass (Wenzek et al.
   * 2019, arXiv:1911.00359 §3.2: "remove duplicated paragraphs" by
   * hashing each paragraph and keeping the FIRST occurrence corpus-wide).
   * The synthetic corpus has no paragraph breaks, so the unit is a fixed
   * non-overlapping `paraTokens`-token window (last window partial) —
   * the structural analog; the dedup rule is CCNet's: per paragraph
   * hash, the globally smallest (doc_id, window index) keeps, every
   * other occurrence drops. Per-doc rollup reports the unit counts and
   * the retained per-mille a curation funnel would gate on.
   *
   * Scale shape: the winner is min(packed doc_id·10⁹ + idx) per 60-bit
   * paragraph hash — ONE hash-partitioned shuffle carrying (doc_id, idx,
   * h) rows, never the text; the per-doc rollup re-shuffles only
   * (doc_id, kept) pairs. Integer packing (not a struct min) keeps the
   * winner rule bit-identical across engines; bounds: < 10⁹ windows per
   * doc (12 B tokens) and doc_id < 9.2·10⁹ before the packed key
   * overflows — both asserted impossible-by-construction here, and any
   * larger deployment packs into two sort keys instead.
   */
  def paragraphDedup(docs: DataFrame, paraTokens: Int = 12): DataFrame = {
    val units = docs
      .withColumn("ws", split(normText(col("text")), " "))
      .withColumn("p",
        explode(expr(s"sequence(0, (size(ws) - 1) DIV $paraTokens)")))
      .withColumn("para",
        expr(s"array_join(slice(ws, p * $paraTokens + 1, $paraTokens), ' ')"))
      .filter(col("para") =!= "")
      .withColumn("h", tokenHash60("para"))
      .withColumn("packed", col("doc_id") * 1000000000L + col("p"))
    units
      .withColumn("win", min("packed").over(Window.partitionBy("h")))
      .withColumn("kept", col("packed") === col("win"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_paras"))
      .withColumn("retained_pm", expr("kept_paras * 1000 DIV n_paras"))
      .orderBy("doc_id")
  }
}
