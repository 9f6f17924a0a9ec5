package graft

import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.util.Base64
import graft.server.Gateway

/** The reconstructed gateway surface end-to-end over loopback: basic
  * auth, both configuration upload shapes, named transformation chains,
  * merge/join source recursion, and the `/data/json` row-objects
  * contract (tests/build.fsx:232-263,309-315;
  * tools/workbench/src/Program.fs:68-128). */
class GatewaySpec extends AnyFunSuite {

  lazy val spark = Sessions.local()
  private val client = HttpClient.newHttpClient()
  private val Key = "master-key-1"

  private def withGateway[T](f: (String) => T): T = {
    val gw = new Gateway(spark, Key, dataDir = "/root/testdata/sf0.001")
    val port = gw.start(0)
    try f(s"http://127.0.0.1:$port") finally gw.stop()
  }

  private def auth(user: String): String =
    "Basic " + Base64.getEncoder.encodeToString(s"$user:".getBytes("UTF-8"))

  private def put(base: String, path: String, body: String,
      user: String = Key): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Authorization", auth(user))
      .PUT(BodyPublishers.ofString(body)).build(), BodyHandlers.ofString())

  private def get(base: String, path: String,
      user: String = Key): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Authorization", auth(user))
      .GET().build(), BodyHandlers.ofString())

  private def getNoAuth(base: String, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .GET().build(), BodyHandlers.ofString())

  private def rows(json: String): Seq[Map[String, Any]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.readTree(json)
    assert(arr.isArray, json.take(200))
    (0 until arr.size()).map { i =>
      val o = arr.get(i)
      import scala.jdk.CollectionConverters._
      o.properties().asScala.map { e =>
        e.getKey -> (e.getValue match {
          case v if v.isIntegralNumber => v.asLong(): Any
          case v if v.isFloatingPointNumber => v.asDouble(): Any
          case v => v.asText(): Any
        })
      }.toMap
    }
  }

  test("every route requires the master key (BasicAuth user, any pwd)") {
    withGateway { base =>
      assert(getNoAuth(base, "/data/json/x").statusCode() == 401)
      assert(get(base, "/data/json/x", user = "wrong").statusCode() == 401)
      assert(put(base, "/admin/configuration", "{}", user = "wrong")
        .statusCode() == 401)
    }
  }

  test("{name, hb} upload + GET /data/json runs the program " +
    "against its header provider") {
    withGateway { base =>
      val hb = """provider: parquet
        |table: documents
        |
        |only (lang = 'de')
        |index rows by doc_id
        |slice columns doc_id lang
        |""".stripMargin
      val up = put(base, "/admin/configuration",
        s"""{"name": "germans", "hb": ${quote(hb)}}""")
      assert(up.statusCode() == 200, up.body())
      val res = get(base, "/data/json/germans")
      assert(res.statusCode() == 200, res.body())
      val rs = rows(res.body())
      val expected = queries.Gate
        .t(spark, "/root/testdata/sf0.001", "documents")
        .filter(org.apache.spark.sql.functions.col("lang") === "de").count()
      assert(rs.size == expected)
      assert(rs.forall(_("lang") == "de"))
    }
  }

  test("GET /html renders a program's literate blocks + result table; " +
      "workbench configurations 404 by constraint") {
    withGateway { base =>
      val hb = """provider: parquet
        |table: documents
        |
        |!# German documents only. !#
        |only (lang = 'de')
        |index rows by doc_id
        |slice columns doc_id lang
        |""".stripMargin
      assert(put(base, "/admin/configuration",
        s"""{"name": "litde", "hb": ${quote(hb)}}""").statusCode() == 200)
      val res = get(base, "/html/litde")
      assert(res.statusCode() == 200, res.body())
      assert(res.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/html"))
      assert(res.body().contains("German documents only."))
      assert(res.body().contains("only ((lang = 'de'))"))
      assert(res.body().contains("<table"))
      // a workbench-shape configuration has no program text to render
      assert(put(base, "/admin/configuration",
        """{"_id": "wb1", "source": {"provider": "localdata",
          |"columns": ["id"], "rows": [[1]]}}""".stripMargin)
        .statusCode() == 200)
      val wb = get(base, "/html/wb1")
      assert(wb.statusCode() == 404 && wb.body().contains("hb program"))
      assert(get(base, "/html/nope").statusCode() == 404)
    }
  }

  test("GET /chart emits the web reader's series JSON — per-column " +
      "{x,y} point arrays off the KEYED frame (Reader.fs:189-231)") {
    withGateway { base =>
      val hb = """provider: parquet
        |table: documents
        |
        |group by lang -> count
        |create column lang keys
        |sort by column lang
        |slice columns n_chars
        |""".stripMargin
      assert(put(base, "/admin/configuration",
        s"""{"name": "bylang", "hb": ${quote(hb)}}""").statusCode() == 200)
      val res = get(base, "/chart/bylang")
      assert(res.statusCode() == 200, res.body())
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = m.readTree(res.body())
      assert(arr.isArray && arr.size() == 1, res.body()) // one series
      val pts = arr.get(0)
      val expect = queries.Gate
        .t(spark, "/root/testdata/sf0.001", "documents")
        .groupBy("lang").count()
        .orderBy("lang").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(pts.size() == expect.size)
      expect.zipWithIndex.foreach { case ((lang, n), i) =>
        assert(pts.get(i).get("x").asText() == lang)
        assert(pts.get(i).get("y").asLong() == n)
      }
      // repeat GET serves the LRU'd response; unknown names 404
      assert(get(base, "/chart/bylang").statusCode() == 200)
      assert(get(base, "/chart/nope").statusCode() == 404)
      assert(getNoAuth(base, "/chart/bylang").statusCode() == 401)
      // the workbench-shape branch charts too (resolveKeyed's second
      // arm): localdata source + named transformation chain
      assert(put(base, "/admin/transformation",
        """{"name": "ch1", "statements":
          |["index rows by k", "slice columns v"]}""".stripMargin)
        .statusCode() == 200)
      assert(put(base, "/admin/configuration",
        """{"_id": "wbchart", "source": {"provider": "localdata",
          |"columns": ["k", "v"], "rows": [[2, 20.5], [1, 10.0]]},
          |"transformations": ["ch1"]}""".stripMargin)
        .statusCode() == 200)
      val wb = get(base, "/chart/wbchart")
      assert(wb.statusCode() == 200, wb.body())
      assert(wb.body() ==
        """[[{"x":1,"y":10},{"x":2,"y":20.5}]]""", wb.body())
    }
  }

  test("workbench shape: localdata source + named transformation chain") {
    withGateway { base =>
      assert(put(base, "/admin/transformation",
        """{"Name": "onlyBig", "Statements":
          |["only (value > 10)", "index rows by id"]}""".stripMargin)
        .statusCode() == 200)
      val conf = """{
        |  "_id": "local1",
        |  "transformations": ["onlyBig"],
        |  "source": {
        |    "provider": "localdata", "id": "l1",
        |    "columns": ["id", "value"],
        |    "rows": [[1, 5], [2, 15], [3, 25]]
        |  }
        |}""".stripMargin
      assert(put(base, "/admin/configuration", conf).statusCode() == 200)
      val rs = rows(get(base, "/data/json/local1").body())
      assert(rs.map(_("id")).toSet == Set(2L, 3L))
    }
  }

  test("merge and join sources recurse through other configurations") {
    withGateway { base =>
      def local(name: String, rows: String) = put(base,
        "/admin/configuration",
        s"""{"_id": "$name", "transformations": [],
           |"source": {"provider": "localdata", "id": "$name",
           |"columns": ["k", "v"], "rows": $rows}}""".stripMargin)
      assert(local("a", "[[1, 10], [2, 20]]").statusCode() == 200)
      assert(local("b", "[[2, 200], [3, 300]]").statusCode() == 200)
      assert(put(base, "/admin/configuration",
        """{"_id": "m", "transformations": [],
          |"source": {"provider": "merge", "datasets": ["a", "b"]}}"""
          .stripMargin).statusCode() == 200)
      assert(rows(get(base, "/data/json/m").body()).size == 4)
      assert(put(base, "/admin/configuration",
        """{"_id": "j", "transformations": [],
          |"source": {"provider": "join", "left": "a", "right": "b",
          |"field": "k"}}""".stripMargin).statusCode() == 200)
      val joined = rows(get(base, "/data/json/j").body())
      assert(joined.map(_("k")).toSet == Set(1L, 2L, 3L))
    }
  }

  test("unknown names are 404, bad statements are 400, cycles are 500") {
    withGateway { base =>
      assert(get(base, "/data/json/nope").statusCode() == 404)
      assert(put(base, "/admin/transformation",
        """{"Name": "bad", "Statements": ["only (((("]}""")
        .statusCode() == 400)
      assert(put(base, "/admin/configuration",
        """{"name": "badhb", "hb": "only (((("}""").statusCode() == 400)
      // a configuration whose merge references itself must fail loudly
      assert(put(base, "/admin/configuration",
        """{"_id": "c1", "transformations": [],
          |"source": {"provider": "merge", "datasets": ["c1"]}}"""
          .stripMargin).statusCode() == 200)
      val res = get(base, "/data/json/c1")
      assert(res.statusCode() == 500)
      assert(res.body().contains("cycle"))
    }
  }

  test("a LineageCache-backed gateway rejects cycles too (500, cycle)") {
    val lc = new graft.cache.LineageCache(spark,
      java.nio.file.Files.createTempDirectory("gwcycle").toString)
    val gw = new Gateway(spark, Key, dataDir = "/root/testdata/sf0.001",
      cache = Some(lc))
    val base = s"http://127.0.0.1:${gw.start(0)}"
    try {
      assert(put(base, "/admin/configuration",
        """{"_id": "c2", "transformations": [],
          |"source": {"provider": "merge", "datasets": ["c3"]}}"""
          .stripMargin).statusCode() == 200)
      assert(put(base, "/admin/configuration",
        """{"_id": "c3", "transformations": [],
          |"source": {"provider": "join", "left": "c2", "right": "c2",
          |"field": "k"}}""".stripMargin).statusCode() == 200)
      Seq("/data/json/c2", "/chart/c3").foreach { path =>
        val res = get(base, path)
        assert(res.statusCode() == 500, res.body())
        assert(res.body().contains("cycle"), res.body())
      }
    } finally gw.stop()
  }

  test("every job of a first GET carries the route and configuration " +
      "name") {
    withGateway { base =>
      val hb = """provider: parquet
        |table: documents
        |
        |only (lang = 'de')
        |slice columns doc_id lang
        |""".stripMargin
      assert(put(base, "/admin/configuration",
        s"""{"name": "labelled", "hb": ${quote(hb)}}""").statusCode() == 200)
      val instrument = new Instrument(spark)
      val (res, span) =
        try instrument.span("get")(get(base, "/data/json/labelled"))
        finally instrument.close()
      assert(res.statusCode() == 200, res.body())
      assert(span.jobs.nonEmpty)
      assert(span.jobs.forall(_.label.contains("gateway GET /data/json " +
        "labelled")), span.jobs.map(_.label).mkString("\n"))
    }
  }

  test("configuration names with spaces resolve (URL-encoded like the " +
    "corpus program 'Logic Commit Frequency')") {
    withGateway { base =>
      assert(put(base, "/admin/configuration",
        """{"_id": "two words", "transformations": [],
          |"source": {"provider": "localdata", "id": "tw",
          |"columns": ["x"], "rows": [[1]]}}""".stripMargin)
        .statusCode() == 200)
      assert(rows(get(base, "/data/json/two%20words").body()).size == 1)
    }
  }

  test("LineageCache-backed gateway: second GET of unchanged content " +
      "runs ZERO Spark jobs; a changed upload recomputes; a fresh " +
      "gateway serves from the parquet cache without recomputing") {
    val tmp = java.nio.file.Files.createTempDirectory("gwcache").toString
    val lc = new graft.cache.LineageCache(spark, tmp)
    val gw = new Gateway(spark, Key, dataDir = "/root/testdata/sf0.001",
      cache = Some(lc))
    val port = gw.start(0)
    val base = s"http://127.0.0.1:$port"
    try {
      val hb = """provider: parquet
        |table: documents
        |
        |only (lang = 'de')
        |slice columns doc_id lang
        |""".stripMargin
      assert(put(base, "/admin/configuration",
        s"""{"name": "cached1", "hb": ${quote(hb)}}""").statusCode() == 200)
      val r1 = get(base, "/data/json/cached1")
      assert(r1.statusCode() == 200, r1.body())
      // the job-count proof: against the jobs an empty body counts
      val baseline = JobCounter.count(spark) {}
      val n2 = JobCounter.count(spark) {
        val r2 = get(base, "/data/json/cached1")
        assert(r2.statusCode() == 200 && r2.body() == r1.body())
      }
      assert(n2 == baseline,
        s"repeat GET launched ${n2 - baseline} Spark jobs, expected 0")
      // uploading a CHANGED program under the same name derives a new
      // lineage key — the next GET recomputes (different result proves
      // it was not served from the stale entry)
      val hb2 = hb.replace("'de'", "'en'")
      assert(put(base, "/admin/configuration",
        s"""{"name": "cached1", "hb": ${quote(hb2)}}""").statusCode() == 200)
      val n3 = JobCounter.count(spark) {
        val r3 = get(base, "/data/json/cached1")
        assert(r3.statusCode() == 200 && r3.body() != r1.body())
      }
      assert(n3 > baseline, "changed upload must recompute")
      // cross-instance reuse: a FRESH gateway on the same cache root
      // with a BROKEN dataDir can only answer from the parquet cache —
      // success proves no recompute happened
      val gw2 = new Gateway(spark, Key, dataDir = s"$tmp/nonexistent",
        cache = Some(lc))
      val port2 = gw2.start(0)
      try {
        val base2 = s"http://127.0.0.1:$port2"
        assert(put(base2, "/admin/configuration",
          s"""{"name": "cached1", "hb": ${quote(hb)}}""").statusCode() == 200)
        val r4 = get(base2, "/data/json/cached1")
        assert(r4.statusCode() == 200, r4.body())
        assert(r4.body() == r1.body())
      } finally gw2.stop()
    } finally gw.stop()
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""
}
