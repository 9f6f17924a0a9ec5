package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.hb.{Graft, HbParser, Render}
import graft.sources.Ingest

/** Literate rendering: `!#…!#` blocks become prose, statement runs become
  * `.hb` code blocks (via Printer, so they re-parse), results render as a
  * bounded HTML table — the visualizer's Comment-branch behavior. */
class RenderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  test("prose, code, and result table interleave; HTML is escaped") {
    val prog = HbParser.parse(
      """!#Counts by <kind> & friends.
        |
        |Second paragraph.!#
        |create column b (a * 2)
        |only (b > 2)
        |!#Tail note!#
        |""".stripMargin)
    val df = Ingest.localData(spark, Seq("a"), Seq(Seq(1.0), Seq(2.0)))
    val out = Render.html(prog, Some(Graft.run(prog, df)))
    assert(out.contains("<p>Counts by &lt;kind&gt; &amp; friends.</p>"))
    assert(out.contains("<p>Second paragraph.</p>"))
    assert(out.contains("<pre><code>create column b ((a * 2))"))
    assert(out.contains("<p>Tail note</p>"))
    assert(out.contains("<th>a</th>") && out.contains("<th>b</th>"))
    assert(out.contains("<td>4.0</td>")) // only the b>2 row survives
    assert(!out.contains("<td>1.0</td>"))
    // prose stays out of code blocks and code stays valid .hb
    val code = out.split("<pre><code>")(1).split("</code></pre>")(0)
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&amp;", "&")
    HbParser.parse(code)
  }

  test("maxRows bounds the table") {
    val df = Ingest.localData(spark, Seq("a"),
      (1 to 50).map(i => Seq[Any](i.toDouble)))
    val out = Render.table(df, maxRows = 7)
    assert(out.split("<tr>").length - 2 == 7) // header row + 7 data rows
  }

  /** 3-state work-item fixture (the EngineSpec Velocity shape). */
  private def workitems = Ingest.localData(spark,
    Seq("Sprint", "Item", "State", "Points", "Changed"),
    Seq(
      Seq("S1", 1L, "Done", 3.0, "2020-01-05"),
      Seq("S1", 1L, "Doing", 3.0, "2020-01-02"),
      Seq("S1", 2L, "Done", 5.0, "2020-01-03"),
      Seq("S2", 3L, "Doing", 2.0, "2020-02-01"),
      Seq("S2", 4L, "Todo", 8.0, "2020-02-02"),
      Seq("S3", 5L, "Done", 1.0, "2020-03-01")))

  test("series: pivoted Velocity output as AsTable — per column, the " +
      "frame's ordered (key, value) pairs, numeric keys typed") {
    val prog = HbParser.parse(
      """only !(State = 'Todo')
        |group by Sprint Item -> maxby Changed
        |create column SprintNumber (int (regex [Sprint] /S([0-9]+)/ [$1]))
        |pivot [SprintNumber] [State] -> count [Item]
        |sort by column SprintNumber
        |create column m (moving mean 2 [Done])
        |slice columns Done m
        |""".stripMargin)
    val keyed = graft.hb.Engine.runKeyed(prog, workitems)
    val ss = Render.series(keyed)
    assert(ss.map(_._1) == Seq("Done", "m"))
    val done = ss.head._2
    assert(done.map(_._1.toString) == Seq("1", "2", "3")) // sorted keys
    assert(done.map(p => Option(p._2)) ==
      Seq(Some(2L), None, Some(1L)))
    val m = ss(1)._2
    assert(m.map(p => Option(p._2)) == Seq(None, Some(2.0), Some(1.0)))
    // the web reader's JSON: names dropped, numbers bare, nulls null,
    // integral floats without the decimal point (Reader.fs:221-231)
    assert(Render.seriesJson(keyed) ==
      """[[{"x":1,"y":2},{"x":2,"y":null},{"x":3,"y":1}],""" +
      """[{"x":1,"y":null},{"x":2,"y":2},{"x":3,"y":1}]]""")
  }

  test("series: composite (multi-column group) keys join with '.' (CLI " +
      "Chart.fs) and '-' in the web JSON (Reader.fs KeyType.List)") {
    val df = Ingest.localData(spark, Seq("g", "h", "v"),
      Seq(Seq("a", "x", 1.0), Seq("a", "x", 2.0), Seq("b", "y", 10.0)))
    val keyed = graft.hb.Engine.runKeyed(
      HbParser.parse("group by g h -> sum\nslice columns v"), df)
    val ss = Render.series(keyed)
    assert(ss.map(_._1) == Seq("v"))
    assert(ss.head._2.map(_._1) == Seq("a.x", "b.y"))
    assert(ss.head._2.map(_._2) == Seq(3.0, 10.0))
    assert(Render.seriesJson(keyed) ==
      """[[{"x":"a-x","y":3},{"x":"b-y","y":10}]]""")
  }

  test("series: a missing key raises (Reader.fs: a key can't be " +
      "missing); text values render as escaped JSON text") {
    val df = Ingest.localData(spark, Seq("k", "t"),
      Seq(Seq(1L, "say \"hi\"\n"), Seq(2L, "plain")))
    val keyed = graft.hb.Engine.runKeyed(
      HbParser.parse("index rows by k\nslice columns t"), df)
    assert(Render.seriesJson(keyed) ==
      """[[{"x":1,"y":"say \"hi\"\n"},{"x":2,"y":"plain"}]]""")
    val nullKey = graft.hb.Engine.runKeyed(HbParser.parse(
      "create column nk (if [k = 1] {2} else {missing})\n" +
        "index rows by nk\nslice columns t"), df)
    intercept[IllegalArgumentException](Render.series(nullKey))
  }

  // ------------------------------------------- seriesJson properties

  /** The chart JSON's correctness contract, stated against a real JSON
    * parser (Jackson, from Spark's classpath) instead of golden
    * strings: whatever keys/values a frame carries, the emitted text
    * PARSES, and parsing recovers the original values — numbers
    * numerically exact (with the F# `string 5.0 = "5"` integral
    * convention), NaN/Infinity as quoted text, arbitrary strings
    * (quotes, backslashes, control chars) byte-identical. Mirrors the
    * Printer/Parser round-trip discipline. */
  test("property: seriesJson round-trips through a JSON parser — " +
      "numeric conventions, NaN/Inf quoting, control-char escapes") {
    import org.scalacheck.Gen
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val genStr: Gen[String] = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      3 -> Gen.oneOf('"', '\\', '\n', '\r', '\t', '\u0001', '\u001f',
        '\u00e9', '\u20ac', ' '))).map(_.mkString)
    val genDouble: Gen[Double] = Gen.frequency(
      4 -> Gen.chooseNum(-1e6, 1e6),
      3 -> Gen.chooseNum(-1000000L, 1000000L).map(_.toDouble),
      2 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 0.0, -0.0, 1e16, 9007199254740993.0,
        1.0e-300, 123.456))
    def checkNode(node: com.fasterxml.jackson.databind.JsonNode,
        v: Any): Unit = v match {
      case null => assert(node.isNull, s"$v -> $node")
      case s: String =>
        assert(node.isTextual && node.textValue == s, s"$v -> $node")
      case l: Long =>
        assert(node.isIntegralNumber && node.longValue == l,
          s"$v -> $node")
      case d: Double if d.isNaN =>
        assert(node.isTextual && node.textValue == "NaN", s"$v -> $node")
      case d: Double if d.isInfinite =>
        assert(node.isTextual && node.textValue == d.toString,
          s"$v -> $node")
      case d: Double if d == math.floor(d) && math.abs(d) < 1e15 =>
        // the F# integral convention: no decimal point in the token
        assert(node.isIntegralNumber && node.longValue == d.toLong,
          s"$v -> $node")
      case d: Double =>
        assert(node.isNumber && node.doubleValue == d, s"$v -> $node")
    }
    val params = Gen.Parameters.default
    for (i <- 1 to 120) {
      val seed = org.scalacheck.rng.Seed(i.toLong)
      val keyIsText = i % 3 == 0
      val gen = for {
        n <- Gen.choose(1, 12)
        keys <-
          if (keyIsText) Gen.listOfN(n, genStr)
          else Gen.listOfN(n, Gen.chooseNum(-100000L, 100000L))
        vals <- Gen.listOfN(n, Gen.frequency(
          5 -> genDouble.map(x => x: Any),
          3 -> genStr.map(x => x: Any),
          1 -> Gen.const(null: Any)))
      } yield (keys, vals)
      gen(params, seed).foreach { case (keys, vals) =>
        val schema = StructType(Seq(
          StructField(graft.hb.Engine.KEY,
            if (keyIsText) StringType else LongType, nullable = false),
          StructField("v", if (vals.forall(v =>
            v == null || v.isInstanceOf[Double])) DoubleType
          else StringType)))
        val rows = keys.zip(vals).map { case (k, v) =>
          val vv =
            if (schema("v").dataType == StringType && v != null)
              v.toString
            else v
          Row(k, vv)
        }
        val df = spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          schema)
        val (json, truncated) = Render.seriesJsonTruncating(df)
        assert(!truncated)
        val root = mapper.readTree(json) // MUST parse
        assert(root.isArray && root.size == 1)
        val pts = root.get(0)
        assert(pts.size == rows.length)
        rows.zipWithIndex.foreach { case (r, j) =>
          checkNode(pts.get(j).get("x"), r.get(0))
          checkNode(pts.get(j).get("y"), r.get(1))
        }
      }
    }
  }

  test("seriesJsonTruncating flags a clipped frame and emits exactly " +
      "maxRows points") {
    val df = Ingest.localData(spark, Seq("k", "v"),
      (1 to 40).map(i => Seq[Any](i.toLong, i.toDouble)))
    val keyed = graft.hb.Engine.runKeyed(
      HbParser.parse("index rows by k\nslice columns v"), df)
    val (json, truncated) = Render.seriesJsonTruncating(keyed, maxRows = 7)
    assert(truncated)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    assert(mapper.readTree(json).get(0).size == 7)
    val (_, notTrunc) = Render.seriesJsonTruncating(keyed, maxRows = 40)
    assert(!notTrunc)
  }

  test("the 7-program corpus renders: prose + code blocks that " +
      "re-parse (no sources needed — presentation only)") {
    val corpusDir = "/root/reference/tests/transformations"
    assume(new java.io.File(corpusDir).isDirectory,
      s"the reference corpus $corpusDir is absent")
    val names = new java.io.File(corpusDir).listFiles()
      .map(_.getName).filter(_.endsWith(".hb")).sorted
    assert(names.length == 7)
    names.foreach { n =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$corpusDir/$n")), "UTF-8")
      val prog = HbParser.parse(text)
      val html = Render.html(prog)
      assert(html.contains("<pre><code>"), s"$n rendered no code")
      val code = html.split("<pre><code>")(1).split("</code></pre>")(0)
        .replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&amp;", "&")
      HbParser.parse(code) // printed statements stay valid .hb
    }
  }
}
