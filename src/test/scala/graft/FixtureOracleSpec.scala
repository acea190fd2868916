package graft

import graft.core.{Fixture, OracleCte, Tables}

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
}
