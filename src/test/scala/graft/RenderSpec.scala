package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.server.QueryServer

/** `QueryServer.render` writes each reply with `to_json` over the row's
  * struct, where the server used to collect `Dataset.toJSON`; a client
  * (and the serving benchmark's reference check) compares the two, so the
  * text must be the same byte for byte on every column type a reply can
  * carry. */
class RenderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def toJson(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  test("render writes what toJSON writes, on every column type") {
    val df = spark.range(3).coalesce(1).selectExpr(
      "id AS l",
      "CAST(id AS INT) AS i",
      "CASE id WHEN 0 THEN double('NaN') WHEN 1 THEN double('-Infinity') " +
        "ELSE id / 3.0D END AS d",
      "CAST(id / 7 AS DECIMAL(20, 6)) AS dec",
      """concat('say "hi" \\ ', id) AS s""",
      "id * 10 AS `a.b`",
      "id % 2 = 0 AS flag",
      "date_add(DATE'2024-02-28', CAST(id AS INT)) AS day",
      "TIMESTAMP'2024-03-01 12:34:56.789012' + make_dt_interval(0, CAST(id AS INT)) AS ts",
      "TIMESTAMP_NTZ'2024-03-01 12:34:56.5' AS ts_ntz",
      "CAST(concat('b', id) AS BINARY) AS bin",
      "array(id, NULL, id + 1) AS arr",
      "map('k', id, 'n', CAST(NULL AS BIGINT)) AS m",
      "named_struct('x', id, 'y', CAST(NULL AS STRING)) AS st",
      "CAST(NULL AS STRING) AS none",
      "make_ym_interval(1, CAST(id AS INT)) AS ym",
      "make_dt_interval(CAST(id AS INT), 2, 3, 4.5) AS dt",
      """parse_json(concat('{"a":', id, ',"b":[1,"x",null]}')) AS v""")
    val want = toJson(df)
    assert(QueryServer.render(df, 10) === want)
    // every row came through: NaN, the escaped quote and the variant
    assert(want.contains("\"NaN\"") && want.contains("say \\\"hi\\\"") &&
      want.contains("\"v\":{\"a\":2"), want)
    // the cap keeps the first rows
    assert(QueryServer.render(df, 2) === toJson(df.limit(2)))
    assert(QueryServer.render(df, 0) === "[]")
  }

  test("render keeps duplicate column names and zero-column rows") {
    // a join that keeps both sides' names, as some registered queries do
    val a = spark.range(2).coalesce(1).selectExpr("id AS a", "id + 1 AS b")
    val dup = a.as("x").join(a.as("y"), "a")
    assert(QueryServer.render(dup, 10) === toJson(dup))
    assert(QueryServer.render(a.select(), 10) === "[{},{}]")
  }

  test("a sorted frame renders in its order") {
    val df = spark.range(0, 50, 1, 4).selectExpr("id % 7 AS k", "id AS v")
      .orderBy(org.apache.spark.sql.functions.col("v").desc)
    assert(QueryServer.render(df, 5) === toJson(df.limit(5)))
    assert(QueryServer.render(df, 100) === toJson(df))
  }

  test("known difference: a map keyed by structs") {
    // each writes a struct key as the text of Spark's internal row: toJSON
    // an UnsafeRow's words (null bits first), to_json the field values.
    // No registered query returns such a map (SmokeAllQueriesSpec walks
    // each query's schema for one)
    val df = spark.range(2).coalesce(1).selectExpr(
      "map(named_struct('a', id, 'b', id + 1), 2) AS m")
    assert(toJson(df) === """[{"m":{"[0,0,1]":2}},{"m":{"[0,1,2]":2}}]""")
    assert(QueryServer.render(df, 10) ===
      """[{"m":{"[0,1]":2}},{"m":{"[1,2]":2}}]""")
    assert(RenderSpec.structKeyedMap(df.schema))
    assert(!RenderSpec.structKeyedMap(spark.range(1)
      .selectExpr("map(1, array(named_struct('a', 0))) AS m").schema))
    assert(RenderSpec.structKeyedMap(spark.range(1)
      .selectExpr("array(map(named_struct('a', 0), 1)) AS m").schema))
  }
}

object RenderSpec {
  /** Whether `dt` holds, at any depth, a map whose key type is a struct:
    * the one type `QueryServer.render` writes differently from `toJSON`. */
  def structKeyedMap(dt: DataType): Boolean = dt match {
    case MapType(_: StructType, _, _) => true
    case MapType(k, v, _) => structKeyedMap(k) || structKeyedMap(v)
    case ArrayType(e, _) => structKeyedMap(e)
    case s: StructType => s.fields.exists(f => structKeyedMap(f.dataType))
    case _ => false
  }
}
