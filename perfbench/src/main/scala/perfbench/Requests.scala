package perfbench

/** One OM/S3 metadata RPC. `key` is a key of the target bucket (for a link
  * bucket, a key of the bucket it resolves to). */
final case class Rpc(kind: String, volume: String, bucket: String, key: String) {
  /** The key's parent directory, with a trailing '/'. */
  def dir: String = key.substring(0, key.lastIndexOf('/') + 1)
}

/** Seeded request streams. Everything here is a pure function of the seed
  * and the namespace listing, so one seed always yields the same requests. */
object Requests {

  type Bucket = (String, String)

  val RpcKinds: IndexedSeq[String] = IndexedSeq("lookupKey", "getKeyInfo",
    "getAcl", "listKeys", "listObjectsV2", "listStatus", "listStatusFso")

  /** Page size of the listing RPCs. */
  val MaxKeys = 1000

  /** Exponent of the Zipf law bucket popularity follows. */
  val ZipfS = 1.0

  /** One pass of RPCs: `perKind` requests of every kind, in seeded order.
    * Target buckets are Zipf-skewed over a seeded ranking of every bucket
    * that holds keys and every link bucket (`links`: link -> the bucket it
    * resolves to), so a link bucket is as popular as the rank the seed
    * gives it. The key is drawn uniformly from the target's (resolved)
    * bucket. */
  def rpcPass(seed: Long, keys: Seq[(String, String, String)],
              links: Map[Bucket, Bucket], perKind: Int): IndexedSeq[Rpc] = {
    val rnd = new scala.util.Random(seed)
    val byBucket = keyIndex(keys)
    val targets = byBucket.keys.toIndexedSeq ++
      links.keys.filter(l => byBucket.contains(links(l)))
    val ranked = rnd.shuffle(targets.sorted)
    val cdf = zipfCdf(ranked.size)
    val reqs = for (kind <- RpcKinds; _ <- 0 until perKind) yield {
      val target = ranked(pick(cdf, rnd.nextDouble()))
      val ks = byBucket(links.getOrElse(target, target))
      Rpc(kind, target._1, target._2, ks(rnd.nextInt(ks.size)))
    }
    rnd.shuffle(reqs)
  }

  /** One RPC of every kind on every link bucket whose source holds keys,
    * with a seeded key of the source: the warm-up sends each to the link
    * and to the source and compares the answers. */
  def linkChecks(seed: Long, keys: Seq[(String, String, String)],
                 links: Map[Bucket, Bucket]): IndexedSeq[Rpc] = {
    val rnd = new scala.util.Random(seed * 31L + 17L)
    val byBucket = keyIndex(keys)
    for {
      link <- links.keys.toIndexedSeq.sorted
      ks <- byBucket.get(links(link)).toSeq
      kind <- RpcKinds
    } yield Rpc(kind, link._1, link._2, ks(rnd.nextInt(ks.size)))
  }

  private def keyIndex(keys: Seq[(String, String, String)]): Map[Bucket, IndexedSeq[String]] =
    keys.groupMap(k => (k._1, k._2))(_._3)
      .map { case (b, ks) => b -> ks.sorted.toIndexedSeq }

  /** Cumulative Zipf(s = [[ZipfS]]) weights over `n` ranks. */
  private def zipfCdf(n: Int): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** `k` distinct row indices out of `n` for the CDC delta of `pass`. */
  def deltaRows(seed: Long, pass: Int, n: Int, k: Int): IndexedSeq[Int] = {
    require(k <= n, s"delta of $k rows from $n")
    val rnd = new scala.util.Random(seed * 1000003L + pass)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < k) picked += rnd.nextInt(n)
    picked.toIndexedSeq
  }

  /** Seeded order of a pass's batch requests. */
  def order[A](seed: Long, pass: Int, xs: Seq[A]): IndexedSeq[A] =
    new scala.util.Random(seed * 7919L + pass).shuffle(xs.toIndexedSeq)
}
