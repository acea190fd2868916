package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * Typed row model — the engine's Codec catalog (apache/ozone
 * OMDBDefinition.java:151-155 registers a Codec<T> per column family; here
 * each table row is a case class whose implicit product Encoder plays the
 * codec role: schema-checked, Tungsten-serialized).
 */
final case class KeyRow(
  volume: String, bucket: String, key: String, object_id: Long,
  data_size: Long, replicated_size: Long, replication_type: String,
  creation_time: Long, modification_time: Long, owner: String,
  tag_flag: String, container_id: Long, version: Long, etag: String)

object Model {

  /** objects as a typed Dataset (codec-checked against the synthesis). */
  def objectsDS(spark: SparkSession, dir: String): Dataset[KeyRow] = {
    import spark.implicits._
    Tables.objects(spark, dir).as[KeyRow]
  }
}
