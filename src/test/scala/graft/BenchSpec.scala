package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bench's timed passes keep their output — the per-gate line and
  * the short total line on stdout, in that order, and in `bench.json`
  * and `bench_total.json` — and add one `bench_layers.json` row per
  * gate × rep. */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  test("two gates at sf0.001: JSON lines, files and one layer row per " +
      "gate × rep") {
    val sf = "/root/testdata/sf0.001"
    val gates = Seq("a1_group_sum", "st_stream_tumbling")
    val out = java.nio.file.Files.createTempDirectory("bench_spec")
    val stdout = new java.io.ByteArrayOutputStream
    val short = Console.withOut(stdout) {
      Bench.run(spark, gates, Seq(sf), reps = 2, "bench.json", out.toString)
    }
    def read(f: String) = java.nio.file.Files.readString(out.resolve(f))
    val printed = stdout.toString("UTF-8").linesIterator.toSeq
    assert(printed == Seq(read("bench.json").trim, short))
    assert(read("bench_total.json").trim == short)
    val json = new ObjectMapper
    val line = json.readTree(printed.head)
    assert(line.get("metric").asText == "total")
    assert(line.get("unit").asText == "sec" && line.get("sf").asText == sf)
    val queries = line.get("queries")
    assert(queries.fieldNames.asScala.toSeq == gates)
    assert(gates.forall(g => queries.get(g).asDouble > 0))
    assert(math.abs(line.get("value").asDouble -
      gates.map(queries.get(_).asDouble).sum) < 0.01)
    val total = json.readTree(short)
    assert(total.get("value").asDouble == line.get("value").asDouble)
    assert(total.get("gates").asInt == 2 && total.get("failed").asInt == 0)
    assert(total.get("sf").asText == sf)
    assert(total.get("detail").asText == "bench.json")
    val rows = read("bench_layers.json").linesIterator.map(json.readTree)
      .toSeq
    assert(rows.map(r => (r.get("gate").asText, r.get("rep").asInt)) ==
      Seq(1, 2).flatMap(rep => gates.map(_ -> rep)))
    for (r <- rows) {
      assert(r.get("sf").asText == sf && r.get("ok").asBoolean)
      val span = r.get("span")
      assert(span.get("wallMs").asDouble > 0 && span.get("jobs").size > 0)
      assert(span.get("totals").get("task_ms").asLong > 0)
      assert(span.has("jobMs") && span.has("driverGapMs"))
      assert(span.get("complete").asBoolean)
    }
    assert(rows.filter(_.get("gate").asText == "st_stream_tumbling")
      .forall(_.get("span").get("batches").size > 0))
  }
}
