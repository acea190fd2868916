package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.ScalaReflection
import scala.reflect.runtime.universe.TypeTag

/**
 * A literal table, declared once in [[Tables]]: `cols` names the columns
 * of `rows` (tuples, or bare values for a one-column table). The Spark
 * side builds it with [[df]] — the same `rows.toDF(cols)` LocalRelation as
 * a hand-built `Seq(...).toDF(...)` — and the DuckDB oracle renders the
 * same rows with [[OracleCte.values]], so no row is ever typed twice.
 */
final class Fixture[A: TypeTag] private (val cols: Seq[String],
                                         val rows: Seq[A]) {
  /** `rows.toDF(cols)`: the encoder `spark.implicits._` would pick. */
  def df(spark: SparkSession): DataFrame =
    spark.createDataset(rows)(ScalaReflection.encoderFor[A]).toDF(cols: _*)
}

object Fixture {
  def apply[A: TypeTag](cols: String*)(rows: A*): Fixture[A] =
    new Fixture(cols, rows)
}
