package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.hb.Graft
import graft.sources.Ingest
import graft.sinks.Sinks
import graft.cache.LineageCache

/** Merge/join dataset combinators (reference semantics pinned by
  * workers/calculator.worker/tests/Processer.fs:63-74) + sinks + cache. */
class CombinatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  private def f1 = Ingest.localData(spark,
    Seq("integer", "string"), Seq(Seq(0L, "Magrethe II"), Seq(1L, "x"),
      Seq(2L, "y")))
  private def f2 = Ingest.localData(spark,
    Seq("integer", "bool"), Seq(Seq(3L, true), Seq(4L, false),
      Seq(5L, true)))
  private def empty = Ingest.localData(spark, Seq("integer"),
    Seq()).limit(0)

  test("merge row count is the sum of operands, including an empty one") {
    assert(Graft.merge(Seq(f1, f2)).count() == 6)
    assert(Graft.merge(Seq(f1, f1)).count() == 6)
    assert(Graft.merge(Seq(f1,
      spark.emptyDataFrame.withColumn("integer",
        org.apache.spark.sql.functions.lit(0L)).limit(0))).count() == 3)
  }

  test("merge aligns by column name with null fill") {
    val m = Graft.merge(Seq(f1, f2))
    assert(m.columns.toSet == Set("integer", "string", "bool"))
    assert(m.filter(m("string").isNull).count() == 3)
  }

  test("join is an outer index join on the field; left wins collisions") {
    val l = Ingest.localData(spark, Seq("k", "v", "shared"),
      Seq(Seq(1L, 10.0, "L1"), Seq(2L, 20.0, "L2")))
    val r = Ingest.localData(spark, Seq("k", "w", "shared"),
      Seq(Seq(2L, 200.0, "R2"), Seq(3L, 300.0, "R3")))
    val j = Graft.join(l, r, "k").orderBy("k")
    assert(j.columns.toSet == Set("k", "v", "shared", "w"))
    val rows = j.collect()
    assert(rows.length == 3) // outer: keys 1, 2, 3
    val k2 = rows(1)
    assert(k2.getAs[Double]("v") == 20.0 && k2.getAs[Double]("w") == 200.0)
    assert(k2.getAs[String]("shared") == "L2")
    assert(rows(0).isNullAt(rows(0).fieldIndex("w")))
    assert(rows(2).isNullAt(rows(2).fieldIndex("v")))
  }

  test("matrix JSON sink shape (Program.fs:41-42 invariants)") {
    val json = Sinks.matrixJson(f1)
    assert(json.startsWith("{\"columnNames\":[\"integer\",\"string\"]"))
    assert(json.contains("\"rowCount\":3"))
    assert(json.contains("[0,\"Magrethe II\"]"))
  }

  test("matrix JSON renders non-finite doubles as null and stays parseable") {
    val nan = Ingest.localData(spark, Seq("x"), Seq(Seq(1.0)))
      .selectExpr("x", "x / 0.0 AS inf", "sqrt(-1.0) AS nan")
    val json = Sinks.matrixJson(nan)
    // a bare NaN/Infinity token is not JSON — a strict parser must accept
    // the whole document
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val row = node.get("values").get(0)
    assert(row.get(0).asDouble() == 1.0)
    assert(row.get(1).isNull && row.get(2).isNull)
  }

  test("row-objects JSON sink") {
    val rows = Sinks.rowObjectsJson(f1).collect()
    assert(rows.length == 3)
    assert(rows.exists(_.contains("\"string\":\"Magrethe II\"")))
  }

  test("lineage cache keys cannot be forged across element boundaries") {
    val cache = new LineageCache(spark,
      java.nio.file.Files.createTempDirectory("graftkeys").toString)
    // the classic separator attack: one statement containing the separator
    // vs two statements — byte-identical under any plain mkString scheme
    assert(cache.key("s", Seq("a b")) != cache.key("s", Seq("a", "b")))
    assert(cache.key("s", Seq("a\u0000b")) != cache.key("s", Seq("a", "b")))
    // length-prefix forgery: an element that embeds the prefix syntax
    assert(cache.key("s", Seq("2:ab")) != cache.key("s", Seq("ab")))
    // boundary shift between sourceId and first statement
    assert(cache.key("sa", Seq("b")) != cache.key("s", Seq("ab")))
    // and determinism: same chain, same key
    assert(cache.key("s", Seq("a", "b")) == cache.key("s", Seq("a", "b")))
  }
}
