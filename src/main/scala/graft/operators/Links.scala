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
 * bucket table, never key-scale). The catalog-scale chase is a bounded
 * loop of BROADCAST self-joins — each hop advances every unresolved link
 * at once, cost O(|links| · hops), no driver recursion, and the key table
 * is never involved until the terminal bucket is known. One request's
 * chase runs on the driver ([[resolveOne]]). A cycle or
 * deeper-than-MaxHops chain resolves to CYCLE rather than looping.
 */
object Links {

  /** Link hops a chain may take before it resolves to CYCLE. */
  val MaxHops = 8

  /**
   * Resolve every link to its terminal bucket: OK (terminal is a real
   * bucket), DANGLING (terminal doesn't exist), or CYCLE (still a link
   * after [[MaxHops]] hops — a loop or hostile chain). `hops` counts link
   * hops traversed (1 = direct link).
   */
  def resolveBucketLinks(links: DataFrame, buckets: DataFrame): DataFrame = {
    val l = links.select(col("volume").as("lv"), col("bucket").as("lb"),
      col("source_volume").as("sv"), col("source_bucket").as("sb"))
    var cur = links.select(col("volume"), col("bucket"),
      col("source_volume").as("cv"), col("source_bucket").as("cb"),
      lit(1L).as("hops"), lit(false).as("terminal"))
    for (_ <- 1 to MaxHops) {
      val stay = col("terminal") || col("lv").isNull
      cur = cur.join(broadcast(l),
          cur("cv") === col("lv") && cur("cb") === col("lb"), "left")
        .select(cur("volume"), cur("bucket"),
          when(stay, col("cv")).otherwise(col("sv")).as("cv"),
          when(stay, col("cb")).otherwise(col("sb")).as("cb"),
          when(stay, col("hops")).otherwise(col("hops") + 1L).as("hops"),
          stay.as("terminal"))
    }
    cur.join(broadcast(buckets.select(col("volume").as("bv"),
        col("bucket").as("bb"))),
        cur("cv") === col("bv") && cur("cb") === col("bb"), "left")
      .select(cur("volume"), cur("bucket"),
        col("cv").as("resolved_volume"), col("cb").as("resolved_bucket"),
        col("hops"),
        when(!col("terminal"), lit("CYCLE"))
          .when(col("bv").isNull, lit("DANGLING"))
          .otherwise(lit("OK")).as("status"))
      .orderBy("volume", "bucket")
  }

  /** One bucket's terminal resolution: Right((volume, bucket)) — identity
    * for an existing bucket that is not a link — or Left(status):
    * BUCKET_NOT_FOUND for a name that is neither a link nor a bucket (the
    * reference fails it in resolveBucketLink), DANGLING/CYCLE for a broken
    * chain. This is the PER-REQUEST path, so it runs on the driver and
    * starts no Spark plan or job: the chase follows `links` (volume,
    * bucket, source_volume, source_bucket) rows — each hop is a catalog
    * get in the reference, and the link catalog is control-plane-sized —
    * and a name is checked against `buckets`, the (volume, bucket) set of
    * the bucket catalog. Same DANGLING/CYCLE statuses and hop bound as
    * [[resolveBucketLinks]], the catalog-scale query. */
  def resolveOne(links: Seq[(String, String, String, String)],
                 buckets: Set[(String, String)], volume: String,
                 bucket: String): Either[String, (String, String)] = {
    val chain = links.map { case (v, b, sv, sb) => (v, b) -> (sv, sb) }.toMap
    if (chain.contains((volume, bucket))) {
      var cur = (volume, bucket)
      var hops = 0
      while (chain.contains(cur) && hops < MaxHops) { cur = chain(cur); hops += 1 }
      if (chain.contains(cur)) Left("CYCLE")
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
  def listKeysVia(objects: DataFrame,
                  links: Seq[(String, String, String, String)],
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
