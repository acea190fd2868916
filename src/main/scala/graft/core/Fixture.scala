package graft.core

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType
import scala.reflect.runtime.universe.TypeTag

/**
 * A literal table, declared once in [[Tables]]: `cols` names the columns
 * of `rows` (tuples, or bare values for a one-column table). The Spark
 * side builds it with [[df]] — the schema and rows `rows.toDF(cols)` would
 * give — and the DuckDB oracle renders the same rows with
 * [[OracleCte.values]], so no row is ever typed twice.
 */
final class Fixture[A] private (val cols: Seq[String], val rows: Seq[A])
                               (implicit private[graft] val tag: TypeTag[A]) {
  // Deriving the encoder reflects over `A` (tens of ms); rows once
  // serialized are immutable, so both are derived once per fixture.
  private lazy val (schema, encoded) = {
    val enc = ExpressionEncoder(ScalaReflection.encoderFor[A])
    val toRow = enc.createSerializer()
    require(enc.schema.size == cols.size,
      s"${cols.size} column names for ${enc.schema.size} columns")
    (StructType(enc.schema.fields.zip(cols).map { case (f, c) =>
      f.copy(name = c) }), rows.map(toRow(_).copy()))
  }

  /** `rows.toDF(cols)`: the encoder `spark.implicits._` would pick. Each
    * call is a fresh `LocalRelation` with fresh exprIds over the rows
    * serialized once, so two calls self-join like two `toDF`s. */
  def df(spark: SparkSession): DataFrame =
    new org.apache.spark.sql.classic.Dataset(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), encoded),
      Encoders.row(schema))
}

object Fixture {
  def apply[A: TypeTag](cols: String*)(rows: A*): Fixture[A] =
    new Fixture(cols, rows)
}
