package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.hb.Graft
import graft.sources.Ingest

/** The reference's end-to-end golden test, replayed: its 42-row
  * tests/testdata.json ingested through the uniforming pass, asserting
  * the same goldens as tests/build.fsx:309-328, then a transformation
  * chain over it. */
class GoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  private lazy val golden = {
    val path = java.nio.file.Paths.get("/root/reference/tests/testdata.json")
    assume(java.nio.file.Files.isRegularFile(path),
      s"the reference golden table $path is absent")
    val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    Ingest.fromJson(spark, Seq(text))
  }

  test("42 rows with the reference's inferred types") {
    assert(golden.count() == 42)
    val types = golden.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("WorkItemId") == LongType) // numeric string → integral
    assert(types("LeadTimeDays") == DoubleType) // incl. "3.47E-05"
    assert(types("ChangedDate") == TimestampType) // US-format datetime
    assert(types("RevisedDate") == TimestampType) // incl. 01/01/9999
    assert(types("State") == StringType)
    assert(types("Title") == StringType)
  }

  test("golden row assertions (build.fsx:318-324)") {
    val r = golden.filter(col("WorkItemId") === 442401L).head()
    assert(r.getAs[String]("WorkItemType") == "User Story")
    assert(r.getAs[String]("State") == "Done")
    val iter3 = golden.filter(col("Sprint Name") === "Iteration 3")
    assert(iter3.count() > 0)
    assert(iter3.head().getAs[Long]("Sprint Number") == 3L)
  }

  test("a flowerpot-shaped chain runs over the golden table") {
    val out = Graft.runHb(
      """only !(State = missing)
        |create column tick 1
        |slice columns State tick
        |group by State -> sum
        |create column State keys
        |sort by column State""".stripMargin, golden)
    val byState = out.collect()
      .map(r => r.getAs[String]("State") -> r.getAs[Long]("tick")).toMap
    assert(byState.values.sum == 42)
    assert(byState.keySet == Set("Done", "Doing", "Todo"))
  }
}
