package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Link-bucket resolution — the reference's symlink buckets, whose every key
 * operation chases `sourceVolume/sourceBucket` to a real bucket before
 * touching the namespace (apache/ozone
 * hadoop-ozone/common/src/main/java/org/apache/hadoop/ozone/om/helpers/OmBucketInfo.java:89-91,305-307
 * isLink(); chase at OmMetadataManagerImpl.java:1089-1093 ResolvedBucket).
 *
 * Scale design: the link catalog is control-plane-sized (a sliver of the
 * bucket table, never key-scale), so the chase is a bounded loop of
 * BROADCAST self-joins — each hop advances every unresolved link at once,
 * cost O(|links| · hops), no driver recursion, and the key table is never
 * involved until the terminal bucket is known. A cycle or
 * deeper-than-maxHops chain resolves to CYCLE rather than looping.
 */
object Links {

  /**
   * Resolve every link to its terminal bucket: OK (terminal is a real
   * bucket), DANGLING (terminal doesn't exist), or CYCLE (still a link
   * after `maxHops` hops — a loop or hostile chain). `hops` counts link
   * hops traversed (1 = direct link).
   */
  def resolveBucketLinks(links: DataFrame, buckets: DataFrame,
                         maxHops: Int = 8): DataFrame = {
    val l = links.select(col("volume").as("lv"), col("bucket").as("lb"),
      col("source_volume").as("sv"), col("source_bucket").as("sb"))
    var cur = links.select(col("volume"), col("bucket"),
      col("source_volume").as("cv"), col("source_bucket").as("cb"),
      lit(1L).as("hops"), lit(false).as("terminal"))
    for (_ <- 1 to maxHops) {
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
    * for a non-link bucket — or Left(status) for a broken chain. This is
    * the PER-REQUEST path, so the chase runs driver-side over the
    * collected link catalog (each hop is a catalog get in the reference;
    * the catalog is a sliver of the bucket table, control-plane-sized —
    * for catalog-scale resolution use [[resolveBucketLinks]]), plus ONE
    * point existence probe on the terminal bucket. `buckets` is taken by
    * name: only a link chain that terminates builds the probe, so a
    * non-link request touches only the link catalog. */
  def resolveOne(links: DataFrame, buckets: => DataFrame, volume: String,
                 bucket: String,
                 maxHops: Int = 8): Either[String, (String, String)] = {
    val chain = links
      .select("volume", "bucket", "source_volume", "source_bucket")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getString(3))).toMap
    if (!chain.contains((volume, bucket))) Right((volume, bucket))
    else {
      var cur = (volume, bucket)
      var hops = 0
      while (chain.contains(cur) && hops < maxHops) { cur = chain(cur); hops += 1 }
      if (chain.contains(cur)) Left("CYCLE")
      else if (buckets.filter(col("volume") === cur._1 &&
        col("bucket") === cur._2).isEmpty) Left("DANGLING")
      else Right(cur)
    }
  }

  /** listKeys THROUGH a (possibly linked) bucket: resolve first, then list
    * the terminal bucket — reference semantics where a link listing equals
    * its source's listing and a broken link yields no entries
    * (OmMetadataManagerImpl.java:1089-1093). */
  def listKeysVia(objects: DataFrame, links: DataFrame, buckets: => DataFrame,
                  volume: String, bucket: String, prefix: String,
                  startKey: String, maxKeys: Int): DataFrame =
    resolveOne(links, buckets, volume, bucket) match {
      case Right((v, b)) =>
        Listing.listKeys(objects, v, b, prefix, startKey, maxKeys)
      case Left(_) => // DANGLING/CYCLE: empty page, flagged in the catalog
        Listing.listKeys(objects, volume, bucket, prefix, startKey, maxKeys)
          .limit(0)
    }
}
