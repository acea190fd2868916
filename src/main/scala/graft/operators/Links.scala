package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Link-bucket resolution — the reference's symlink buckets, whose every key
 * operation chases `sourceVolume/sourceBucket` to a real bucket before
 * touching the namespace (apache/ozone
 * hadoop-ozone/common/src/main/java/org/apache/hadoop/ozone/om/helpers/OmBucketInfo.java:89-91,305-307
 * isLink(); chase at OmMetadataManagerImpl.java:1089-1093 ResolvedBucket).
 *
 * Scale design: the link catalog is control-plane-sized (a sliver of the
 * bucket table, never key-scale), and each hop is one catalog get in the
 * reference. So there is one chase, [[chase]], a walk on the driver over
 * the link rows (volume, bucket, source_volume, source_bucket). One
 * request's resolution ([[resolveOne]]) runs it and starts no Spark job;
 * the catalog resolution ([[resolveBucketLinks]]) runs it once per link
 * and ships the results as a small local frame, checked against the
 * bucket catalog in one broadcast join. The request-batch ladders stage
 * their link targets through [[stageLinkTargets]]. A cycle or
 * deeper-than-MaxHops chain resolves to CYCLE rather than looping.
 */
object Links {

  /** Link hops a chain may take before it resolves to CYCLE. */
  val MaxHops = 8

  /** One link catalog row: (volume, bucket, source_volume, source_bucket). */
  type LinkRow = (String, String, String, String)

  /** The walk from `from` along `chain` ((volume, bucket) → its source):
    * the pair reached, the link hops taken, and whether the walk left the
    * links within [[MaxHops]] hops. A chain still on a link after MaxHops
    * hops takes one more and stops, so a loop or hostile chain reports
    * MaxHops + 1 hops and the pair that hop reached. */
  private def chase(chain: Map[(String, String), (String, String)],
                    from: (String, String))
      : ((String, String), Long, Boolean) = {
    var cur = from
    var hops = 0L
    while (chain.contains(cur) && hops <= MaxHops) { cur = chain(cur); hops += 1 }
    (cur, hops, hops <= MaxHops)
  }

  private def chainOf(links: Seq[LinkRow]) =
    links.map { case (v, b, sv, sb) => (v, b) -> (sv, sb) }.toMap

  /**
   * Resolve every link to its terminal bucket: OK (terminal is a real
   * bucket), DANGLING (terminal doesn't exist), or CYCLE (still a link
   * after [[MaxHops]] hops — a loop or hostile chain). `hops` counts link
   * hops traversed (1 = direct link).
   */
  def resolveBucketLinks(links: Seq[LinkRow],
                         buckets: DataFrame): DataFrame = {
    val chain = chainOf(links)
    val chased = buckets.sparkSession.createDataFrame(
        links.map { case (v, b, _, _) =>
          val ((cv, cb), hops, terminated) = chase(chain, (v, b))
          (v, b, cv, cb, hops, terminated)
        })
      .toDF("volume", "bucket", "cv", "cb", "hops", "terminated")
    chased.join(broadcast(buckets.select(col("volume").as("bv"),
        col("bucket").as("bb"))),
        col("cv") === col("bv") && col("cb") === col("bb"), "left")
      .select(col("volume"), col("bucket"),
        col("cv").as("resolved_volume"), col("cb").as("resolved_bucket"),
        col("hops"),
        when(!col("terminated"), lit("CYCLE"))
          .when(col("bv").isNull, lit("DANGLING"))
          .otherwise(lit("OK")).as("status"))
      .orderBy("volume", "bucket")
  }

  /** A request batch's link targets: `requests` plus `link_status` (the
    * [[resolveBucketLinks]] status; null for a name that is not a link)
    * and (`rv`, `rb`), the bucket the request lands on — a link's
    * terminal, or the requested pair for a non-link or a CYCLE (a loop
    * never resolves: report the REQUESTED pair, not whichever cycle member
    * the bounded chase happened to stop on). */
  def stageLinkTargets(requests: DataFrame, links: Seq[LinkRow],
                       buckets: DataFrame): DataFrame = {
    val resolved = resolveBucketLinks(links, buckets)
      .select(col("volume"), col("bucket"),
        col("resolved_volume").as("rv0"),
        col("resolved_bucket").as("rb0"),
        col("status").as("link_status"))
    val cycle = col("link_status") === "CYCLE"
    requests
      .join(broadcast(resolved), Seq("volume", "bucket"), "left")
      .withColumn("rv", when(cycle, col("volume"))
        .otherwise(coalesce(col("rv0"), col("volume"))))
      .withColumn("rb", when(cycle, col("bucket"))
        .otherwise(coalesce(col("rb0"), col("bucket"))))
      .drop("rv0", "rb0")
  }

  /** One bucket's terminal resolution: Right((volume, bucket)) — identity
    * for an existing bucket that is not a link — or Left(status):
    * BUCKET_NOT_FOUND for a name that is neither a link nor a bucket (the
    * reference fails it in resolveBucketLink), DANGLING/CYCLE for a broken
    * chain. This is the PER-REQUEST path: it starts no Spark plan or job
    * — the chase follows `links` and a name is checked against `buckets`,
    * the (volume, bucket) set of the bucket catalog. Same statuses as
    * [[resolveBucketLinks]]. */
  def resolveOne(links: Seq[LinkRow], buckets: Set[(String, String)],
                 volume: String,
                 bucket: String): Either[String, (String, String)] = {
    val chain = chainOf(links)
    if (chain.contains((volume, bucket))) {
      val (cur, _, terminated) = chase(chain, (volume, bucket))
      if (!terminated) Left("CYCLE")
      else if (!buckets.contains(cur)) Left("DANGLING")
      else Right(cur)
    }
    else if (buckets.contains((volume, bucket))) Right((volume, bucket))
    else Left("BUCKET_NOT_FOUND")
  }

  /** listKeys THROUGH a (possibly linked) bucket: resolve first, then list
    * the terminal bucket — reference semantics where a link listing equals
    * its source's listing and a broken link yields no entries
    * (OmMetadataManagerImpl.java:1089-1093). */
  def listKeysVia(objects: DataFrame, links: Seq[LinkRow],
                  buckets: Set[(String, String)], volume: String,
                  bucket: String, prefix: String, startKey: String,
                  maxKeys: Int): DataFrame =
    resolveOne(links, buckets, volume, bucket) match {
      case Right((v, b)) =>
        Listing.listKeys(objects, v, b, prefix, startKey, maxKeys)
      case Left(_) => // missing bucket or broken link: empty page
        Listing.listKeys(objects, volume, bucket, prefix, startKey, maxKeys)
          .limit(0)
    }
}
