package graft

import graft.core.{Fixture, OracleCte, Tables}
import org.apache.spark.sql.catalyst.ScalaReflection

/** Literal fixtures are declared once in Tables: Spark builds them with
  * `Fixture.df`, the DuckDB oracle renders the same rows with
  * `OracleCte.values`. */
class FixtureOracleSpec extends SparkSpecBase {

  /** Every Fixture val of Tables, by name. */
  private lazy val fixtures: Seq[(String, Fixture[_])] =
    Tables.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 &&
        classOf[Fixture[_]].isAssignableFrom(m.getReturnType))
      .map(m => m.getName -> m.invoke(Tables).asInstanceOf[Fixture[_]])
      .sortBy(_._1)

  test("the renderer quotes, escapes and types every literal kind") {
    val f = Fixture("s", "ns", "t", "f", "l", "i")(
      ("it's", null: String, true, false, -42L, 7))
    assert(OracleCte.values("t", f) ===
      "t(\"s\", \"ns\", \"t\", \"f\", \"l\", \"i\") AS (VALUES\n" +
        "  ('it''s', NULL, true, false, CAST(-42 AS BIGINT), 7))")
  }

  test("the renderer writes one row per line, options and bare values " +
    "included") {
    val opt = Fixture("o", "d")((Some(5L), 1.5), (None, -0.1))
    assert(OracleCte.values("o", opt) ===
      "o(\"o\", \"d\") AS (VALUES\n" +
        "  (CAST(5 AS BIGINT), CAST(1.5 AS DOUBLE)),\n" +
        "  (NULL, CAST(-0.1 AS DOUBLE)))")
    assert(OracleCte.values("v", Fixture("x")("a", "b")) ===
      "v(\"x\") AS (VALUES\n  ('a'),\n  ('b'))")
  }

  test("every declared query has an oracle and every oracle builds") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet === SparkEntry.queries.keySet)
    oracles.foreach { case (name, sql) =>
      assert(sql.nonEmpty, name)
    }
  }

  test("each fixture's DataFrame matches its rendered CTE: columns and " +
    "row count") {
    assert(fixtures.size > 100)
    val header = """(?s)t\(([^)]*)\) AS \(VALUES\n(.*)\)""".r
    fixtures.foreach { case (name, f) =>
      val header(cols, body) = OracleCte.values("t", f)
      val declared = cols.split(", ").map(_.stripPrefix("\"")
        .stripSuffix("\"")).toSeq
      val df = f.df(spark)
      assert(df.columns.toSeq === declared, name)
      val n = df.count()
      assert(n === body.split(",\n  ").length.toLong, name)
      assert(n === f.rows.size.toLong, name)
    }
  }

  test("each fixture's DataFrame equals the encoder-built toDF: schema " +
    "(types, nullability) and rows") {
    fixtures.foreach { case (name, f) =>
      val (df, viaEncoder) = (f.df(spark), toDF(f))
      assert(df.schema === viaEncoder.schema, name)
      assert(rows(df) === rows(viaEncoder), name)
    }
  }

  test("two DataFrames of one fixture self-join: each has fresh exprIds") {
    val f = Tables.bucketLinkRows
    val a = f.df(spark)
    val b = f.df(spark).filter(org.apache.spark.sql.functions.col("bucket")
      .startsWith("link-cycle"))
    val joined = a.join(b, a("volume") === b("source_volume") &&
      a("bucket") === b("source_bucket")).select(a("bucket"), b("bucket"))
    assert(rows(joined.orderBy(a("bucket"))) ===
      Seq(Seq("link-cycle1", "link-cycle2"), Seq("link-cycle2", "link-cycle1")))
  }

  /** `rows.toDF(cols)` the way `spark.implicits._` builds it. */
  private def toDF[A](f: Fixture[A]): org.apache.spark.sql.DataFrame =
    spark.createDataset(f.rows)(ScalaReflection.encoderFor(f.tag))
      .toDF(f.cols: _*)
}
