package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.hb.HbParser
import graft.hb.Ast.{Header, Program, Statement}
import graft.hb.Configurations.{Conf, JoinOf, MergeOf, Runner, TableSource}
import graft.sources.{Ingest, Providers}

/** The reference's HTTP gateway surface, reconstructed from its
  * consuming sites (the gateway service itself ships binary-only, like
  * hobbes.core — `services/gateway/` is empty in the checkout):
  *
  *   - `PUT /admin/configuration` with `{"name": …, "hb": …}` — a full
  *     `.hb` program whose header names the provider
  *     (tests/build.fsx:232-263, uploading tests/transformations/<n>.hb)
  *     — or the workbench document shape `{"_id": …,
  *     "transformations": [names…], "source": {"provider": …}}`
  *     (tools/workbench/src/Program.fs:114-128, Types.fs:66-140).
  *   - `PUT /admin/transformation` with `{"Name": …, "Statements":
  *     [stmt…]}` — a named, reusable statement chain; statements are
  *     validated at upload like the workbench does at construction
  *     (Program.fs:99-110; Types.fs:147-157).
  *   - `GET /data/json/<name>` — the configuration's result as a JSON
  *     array of row objects (tests/build.fsx:309-315 asserts
  *     `res.Length` and per-field values on it).
  *
  * Auth is HTTP Basic with the master key as USER and any password
  * (`HttpRequestHeaders.BasicAuth masterkey ""`, build.fsx:72-74,238)
  * on every route; wrong or missing key → 401.
  *
  * Spark-first shape: uploads only PARSE (cheap, validated); each GET
  * translates the uploads it reaches into
  * [[graft.hb.Configurations.Conf]]s and resolves them with one
  * [[graft.hb.Configurations.Runner]] per request — provider scan
  * through the fused statement chain, in the shared session, so
  * Catalyst fuses the chain exactly as in library use. Workbench-shape
  * configurations resolve recursively (merge/join of other
  * configurations; the Runner rejects cycles); results are bounded by
  * `maxRows` like [[graft.sinks.Sinks.matrixJson]] — the reference's
  * gateway serves whole CouchDB documents, so gateway responses are BY
  * CONTRACT document-sized (use the parquet/shard sinks for bulk
  * output). Uploaded headers resolve with `resolveEnv = false` (see
  * [[table]]).
  *
  * With a [[graft.cache.LineageCache]] configured, every resolved
  * configuration — merge/join operands included — is stored under its
  * Runner lineage key (`Runner.lineageKey`): the reference's per-stage
  * CouchDB cache (workers/calculator.worker/src/Program.fs:86-88;
  * tools/workbench/src/Types.fs:182-190), re-expressed as
  * content-keyed parquet. Shared operands across configurations
  * compute once; a changed upload derives a new key, so invalidation
  * is structural, not TTL-based. Caveat (by design, like the
  * reference): the gateway caches LINEAGE, not upstream freshness — a
  * cached frame is served until its configuration TEXT changes. That
  * covers REST/OData providers AND file-backed ones (parquet/localdata
  * paths under `dataDir`): rewriting the file behind an unchanged path
  * does NOT invalidate the cached frame. Operators running with a cache
  * who re-ingest in place should either version the path in the
  * configuration (the structural way) or run without `--cache-dir` for
  * mutable inputs.
  *
  * The server binds the LOOPBACK interface only — the deployment
  * surface of this library is the cluster driver, and the zero-egress
  * build environment is respected by construction.
  */
final class Gateway(
    spark: SparkSession,
    masterKey: String,
    dataDir: String = ".",
    fetch: Providers.Fetcher = Providers.Fetcher.http,
    maxRows: Int = 100000,
    cache: Option[graft.cache.LineageCache] = None) {

  /** Writes object properties sorted: a table's content id is canonical
    * JSON ([[tableId]]). */
  private val mapper = new ObjectMapper()
    .configure(JsonNodeFeature.WRITE_PROPERTIES_SORTED, true)
  /** `{name, hb}` uploads: full programs, header = provider. */
  private val programs = TrieMap[String, Program]()
  /** Workbench-shape uploads: source doc + transformation names. */
  private val configurations = TrieMap[String, (JsonNode, Seq[String])]()
  /** Named statement chains from `PUT /admin/transformation`. */
  private val transformations = TrieMap[String, Seq[Statement]]()
  /** Rendered `/data/json` responses by LINEAGE key (body, truncated) —
    * the zero-job fast path for repeated dashboard polls. Content-keyed,
    * so uploading a changed program or transformation simply computes a
    * new key; stale entries are never consulted. LRU-BOUNDED at 256
    * entries (each ≤ maxRows rendered rows, the gateway's
    * document-sized response contract): a master-key holder uploading
    * unbounded distinct content must not grow driver memory unboundedly
    * — evicted entries just recompute through the LineageCache parquet
    * tier, which is disk-bounded by the same content keys. Active only
    * when a [[graft.cache.LineageCache]] is configured. */
  private val responses = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, Boolean)](
      16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, Boolean)]): Boolean =
        size() > 256
    })

  private var server: Option[HttpServer] = None

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = synchronized {
    require(server.isEmpty, "gateway already started")
    val s = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, port), 0)
    s.createContext("/", handler _)
    // single-threaded by choice: one request at a time until requests
    // get their own job groups, pools and cancellation
    s.setExecutor(null)
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
  }

  // ---- routing ----

  private def handler(ex: HttpExchange): Unit =
    try {
      if (!authorized(ex)) {
        ex.getResponseHeaders.set("WWW-Authenticate", "Basic realm=\"graft\"")
        respond(ex, 401, "unauthorized")
      } else {
        val method = ex.getRequestMethod
        val path = ex.getRequestURI.getPath
        val route = Seq("/data/json/", "/html/", "/chart/")
          .find(path.startsWith)
        val name = route.fold("")(r =>
          java.net.URLDecoder.decode(path.stripPrefix(r), "UTF-8"))
        val label = route.fold(s"gateway $method $path")(r =>
          s"gateway $method ${r.init} $name")
        // one scope per request: frames cached while resolving (fit
        // inputs, emit layouts) live until the response rows are taken
        // or the lineage parquet is written, then are released; every
        // job the request launches carries its route and configuration
        graft.Scope.open { _ => graft.Scope.labeled(label) {
          (method, route) match {
            case ("PUT", None) if path == "/admin/configuration" =>
              putConfiguration(ex)
            case ("PUT", None) if path == "/admin/transformation" =>
              putTransformation(ex)
            case ("GET", Some("/data/json/")) => getData(ex, name)
            case ("GET", Some("/html/")) => getHtml(ex, name)
            case ("GET", Some("/chart/")) => getChart(ex, name)
            case _ => respond(ex, 404, s"no route $method $path")
          }
        } }
      }
    } catch {
      case e: Throwable =>
        respond(ex, 500, Option(e.getMessage).getOrElse(e.toString))
    } finally ex.close()

  private def authorized(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Authorization")).exists { h =>
      h.startsWith("Basic ") && {
        val dec = new String(
          Base64.getDecoder.decode(h.stripPrefix("Basic ")), UTF_8)
        // BasicAuth <masterkey> "": user is the key, password ignored.
        // Constant-time compare — == short-circuits at the first
        // differing byte and leaks key-prefix length through timing;
        // this equality is the admin surface's only auth gate.
        java.security.MessageDigest.isEqual(
          dec.takeWhile(_ != ':').getBytes(UTF_8), masterKey.getBytes(UTF_8))
      }
    }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def respond(ex: HttpExchange, code: Int, text: String): Unit = {
    val bytes = text.getBytes(UTF_8)
    val ct = if (code == 200) "application/json" else "text/plain"
    ex.getResponseHeaders.set("Content-Type", ct)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  // ---- admin uploads (parse + validate only; execution is per-GET) ----

  private def putConfiguration(ex: HttpExchange): Unit = {
    val doc = mapper.readTree(body(ex))
    val name = text(doc, "name").orElse(text(doc, "_id")).getOrElse(
      return respond(ex, 400, "configuration needs a name or _id"))
    text(doc, "hb") match {
      case Some(hb) =>
        try {
          programs.put(name, HbParser.parse(hb))
          configurations.remove(name)
          respond(ex, 200, s"""{"ok":true,"id":"${escape(name)}"}""")
        } catch {
          case e: HbParser.ParseError => respond(ex, 400, e.getMessage)
        }
      case None =>
        val src = doc.get("source")
        if (src == null || !src.isObject)
          return respond(ex, 400, "configuration needs hb or source")
        val ts = Option(doc.get("transformations")).map(_.asScala.toSeq)
          .getOrElse(Nil).map(_.asText())
        configurations.put(name, (src, ts))
        programs.remove(name)
        respond(ex, 200, s"""{"ok":true,"id":"${escape(name)}"}""")
    }
  }

  private def putTransformation(ex: HttpExchange): Unit = {
    val doc = mapper.readTree(body(ex))
    val name = text(doc, "Name").orElse(text(doc, "name"))
      .orElse(text(doc, "_id")).getOrElse(
        return respond(ex, 400, "transformation needs a Name"))
    val stmts = Option(doc.get("Statements"))
      .orElse(Option(doc.get("statements")))
      .orElse(Option(doc.get("lines")))
      .filter(_.isArray).map(_.asScala.toSeq.map(_.asText())).getOrElse(
        return respond(ex, 400, "transformation needs Statements"))
    try {
      transformations.put(name,
        stmts.zipWithIndex.map { case (l, i) =>
          HbParser.parseStatement(l, i + 1)
        })
      respond(ex, 200, s"""{"ok":true,"id":"${escape(name)}"}""")
    } catch {
      case e: HbParser.ParseError => respond(ex, 400, e.getMessage)
    }
  }

  // ---- data: every GET resolves through one Configurations.Runner ----

  private def getData(ex: HttpExchange, name: String): Unit =
    serve(ex, name, "") { (runner, confs) =>
      // take one past the bound: a client must be able to tell a
      // complete result from a clipped one, so when the plan yields
      // more than maxRows the response carries X-Truncated and the
      // extra row is dropped
      val rows = runner.run(confs, name).toJSON.take(maxRows + 1)
      (rows.take(maxRows).mkString("[", ",", "]"), rows.length > maxRows)
    }

  /** The visualizer surface over HTTP: a `{name, hb}` program's
    * literate `!#…!#` blocks as prose around the re-printed statements
    * plus the bounded result table (hb.Render — the same row-bounded
    * contract as the JSON route). The table is the Runner's frame, so
    * the html view shares the LineageCache frame with /data/json.
    * Workbench-shape configurations have no program text to render →
    * 404 names the constraint. */
  private def getHtml(ex: HttpExchange, name: String): Unit =
    programs.get(name) match {
      case Some(p) =>
        val df = new Runner(spark, table, cache).run(confsFrom(name), name)
        val html = graft.hb.Render.html(p, Some(df),
          maxRows = math.min(maxRows, 1000))
        val bytes = html.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      case None =>
        if (configurations.contains(name))
          respond(ex, 404,
            s"'$name' is a workbench-shape configuration — html render " +
              "needs an hb program upload")
        else respond(ex, 404, s"no configuration '$name'")
    }

  /** Chart-series JSON — the reference visualizer's end product
    * (tools/visualizer/web/src/Server/Reader.fs:189-231): the named
    * configuration re-run KEEPING the engine key and row order
    * (`Runner.runKeyed`), then emitted as an array of per-column series
    * of `{"x","y"}` points (list keys joined "-", numbers bare, text
    * quoted — see [[graft.hb.Render.seriesJson]]). */
  private def getChart(ex: HttpExchange, name: String): Unit =
    serve(ex, name, "chart:") { (runner, confs) =>
      graft.hb.Render.seriesJsonTruncating(runner.runKeyed(confs, name),
        maxRows)
    }

  /** Respond with `name`'s rendered body: from the response LRU under
    * `tag` + its lineage key when a LineageCache is configured (a repeat
    * GET of unchanged content runs zero Spark jobs), else rendered by
    * one request-scoped Runner. The LRU is gated on the cache like the
    * frames are: a cache-less gateway is the documented mode for
    * mutable inputs, and a response LRU there would keep serving a
    * stale body after the underlying parquet changes. */
  private def serve(ex: HttpExchange, name: String, tag: String)(
      render: (Runner, Map[String, Conf]) => (String, Boolean)): Unit = {
    val confs = confsFrom(name)
    if (!confs.contains(name))
      return respond(ex, 404, s"no configuration '$name'")
    val runner = new Runner(spark, table, cache)
    val key = cache.map(_ => tag + runner.lineageKey(confs, name))
    val (body, truncated) = key.flatMap(k => Option(responses.get(k)))
      .getOrElse {
        val out = render(runner, confs)
        key.foreach(responses.put(_, out))
        out
      }
    if (truncated) ex.getResponseHeaders.set("X-Truncated", "true")
    respond(ex, 200, body)
  }

  /** The uploads `name` reaches, translated into Runner configurations
    * when the GET arrives: a program becomes its header's table plus
    * its statements (the header also carries `series:`), a workbench
    * document its merge/join of other configurations or its source
    * document's table, plus the named transformation chains in listed
    * order. Operands that name no upload are left out, so the Runner
    * raises `no configuration '<n>'` for them. */
  private def confsFrom(name: String): Map[String, Conf] = {
    def translate(n: String): Option[Conf] = programs.get(n) match {
      case Some(p) =>
        val h = mapper.createObjectNode()
        p.header.props.foreach { case (k, v) => h.put(k, v) }
        p.header.lists.foreach { case (k, vs) =>
          vs.foldLeft(h.putArray(k))(_.add(_))
        }
        Some(Conf(TableSource(tableId("hb", h)), p.transformations, p.header))
      case None => configurations.get(n).map { case (src, ts) =>
        def field(k: String) = text(src, k).getOrElse(
          throw new IllegalArgumentException(s"join needs '$k'"))
        val source = text(src, "provider") match {
          case Some("merge") =>
            MergeOf(src.get("datasets").asScala.toSeq.map(_.asText()))
          case Some("join") =>
            JoinOf(field("left"), field("right"), field("field"))
          case _ => TableSource(tableId("source", src))
        }
        Conf(source, ts.flatMap(t => transformations.getOrElse(t,
          throw new NoSuchElementException(s"no transformation '$t'"))))
      }
    }
    def reach(acc: Map[String, Conf], n: String): Map[String, Conf] =
      if (acc.contains(n)) acc
      else translate(n).fold(acc) { c =>
        val operands = c.source match {
          case MergeOf(cs) => cs
          case JoinOf(l, r, _) => Seq(l, r)
          case _ => Nil
        }
        operands.foldLeft(acc + (n -> c))(reach)
      }
    reach(Map.empty, name)
  }

  /** A table's content id: the uploaded program header (`hb`) or
    * workbench source document (`source`) as canonical JSON. The
    * document IS the content — inline rows, urls and paths included —
    * so the id keys the lineage. */
  private def tableId(kind: String, doc: JsonNode): String =
    mapper.writeValueAsString(mapper.createObjectNode().set(kind, doc))

  /** The Runner's table resolver, the inverse of [[tableId]]: workbench
    * `localdata` documents carry inline columns and rows
    * (Types.fs:74-129); every other document is a provider header
    * (rest/odata/parquet/git) dispatched like an `.hb` upload's. */
  private def table(id: String): DataFrame = {
    val doc = mapper.readTree(id).properties().iterator().next()
    val (kind, src) = (doc.getKey, doc.getValue)
    if (kind == "source" && text(src, "provider").contains("localdata")) {
      val cols = src.get("columns").asScala.toSeq.map(_.asText())
      val rows = src.get("rows").asScala.toSeq.map(_.asScala.toSeq.map {
        case n if n.isIntegralNumber => n.asLong(): Any
        case n if n.isFloatingPointNumber => n.asDouble(): Any
        case n if n.isBoolean => n.asBoolean(): Any
        case n if n.isNull => null: Any
        case n => n.asText(): Any
      })
      Ingest.localData(spark, cols, rows)
    } else {
      val props = src.properties().asScala
        .filter(e => e.getValue.isValueNode)
        .map(e => e.getKey -> e.getValue.asText()).toMap
      val lists = src.properties().asScala
        .filter(e => e.getValue.isArray)
        .map(e => e.getKey ->
          e.getValue.asScala.toSeq.map(_.asText())).toMap
      // resolveEnv OFF for every uploaded header: a client-chosen
      // `user: $GRAFT_MASTER_KEY` + client-chosen url would exfiltrate
      // arbitrary server environment variables as basic auth
      Providers.fromHeader(spark, Header(props, lists, Map()), dataDir,
        fetch, resolveEnv = false)
    }
  }

  private def text(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filter(v => !v.isNull).map(_.asText())

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
