package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.hb.{Ast, Engine, Graft, HbParser}
import graft.hb.Ast.{Header, Program, Statement}
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
  * declares the whole plan — provider scan through the fused statement
  * chain — and runs it in the shared session, so Catalyst fuses the
  * chain exactly as in library use. Workbench-shape configurations
  * resolve recursively (merge/join of other configurations, with cycle
  * detection); results are bounded by `maxRows` like
  * [[graft.sinks.Sinks.matrixJson]] — the reference's gateway serves
  * whole CouchDB documents, so gateway responses are BY CONTRACT
  * document-sized (use the parquet/shard sinks for bulk output).
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

  private val mapper = new ObjectMapper()
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
        val path = ex.getRequestURI.getPath
        // one scope per request: frames cached while resolving (fit
        // inputs, emit layouts) live until the response rows are taken
        // or the lineage parquet is written, then are released
        graft.Scope.open { _ => (ex.getRequestMethod, path) match {
          case ("PUT", "/admin/configuration") => putConfiguration(ex)
          case ("PUT", "/admin/transformation") => putTransformation(ex)
          case ("GET", p) if p.startsWith("/data/json/") =>
            getData(ex, java.net.URLDecoder.decode(
              p.stripPrefix("/data/json/"), "UTF-8"))
          case ("GET", p) if p.startsWith("/html/") =>
            getHtml(ex, java.net.URLDecoder.decode(
              p.stripPrefix("/html/"), "UTF-8"))
          case ("GET", p) if p.startsWith("/chart/") =>
            getChart(ex, java.net.URLDecoder.decode(
              p.stripPrefix("/chart/"), "UTF-8"))
          case _ => respond(ex, 404, s"no route ${ex.getRequestMethod} $path")
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

  // ---- data ----

  private def getData(ex: HttpExchange, name: String): Unit = {
    val lk = if (cache.isDefined) lineageKeyOf(name, Set.empty) else None
    lk.flatMap(k => Option(responses.get(k))) match {
      case Some((body, truncated)) =>
        // repeat GET of unchanged content: zero Spark jobs
        if (truncated) ex.getResponseHeaders.set("X-Truncated", "true")
        respond(ex, 200, body)
      case None => resolve(name, Set.empty) match {
        case None => respond(ex, 404, s"no configuration '$name'")
        case Some(df) =>
          // take one past the bound: a client must be able to tell a
          // complete result from a clipped one, so when the plan yields
          // more than maxRows the response carries X-Truncated and the
          // extra row is dropped
          val rows = df.toJSON.take(maxRows + 1)
          val truncated = rows.length > maxRows
          val body = rows.take(maxRows).mkString("[", ",", "]")
          lk.foreach(k => responses.put(k, (body, truncated)): Unit)
          if (truncated) ex.getResponseHeaders.set("X-Truncated", "true")
          respond(ex, 200, body)
      }
    }
  }

  /** The visualizer surface over HTTP: a `{name, hb}` program's
    * literate `!#…!#` blocks as prose around the re-printed statements
    * plus the bounded result table (hb.Render — the same row-bounded
    * contract as the JSON route). Workbench-shape configurations have
    * no program text to render → 404 names the constraint. */
  private def getHtml(ex: HttpExchange, name: String): Unit =
    programs.get(name) match {
      case Some(p) =>
        // through resolve(): the html view shares the LineageCache
        // frame with /data/json instead of re-running the plan
        val df = resolve(name, Set.empty).get
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
    * configuration re-run KEEPING the engine key and row order, then
    * emitted as an array of per-column series of `{"x","y"}` points
    * (list keys joined "-", numbers bare, text quoted — see
    * [[graft.hb.Render.seriesJson]]). Cached in the response LRU under
    * the lineage key like the JSON route: a repeat GET of unchanged
    * content runs zero Spark jobs. */
  private def getChart(ex: HttpExchange, name: String): Unit = {
    // gate on cache.isDefined like the JSON route: a cache-less gateway
    // is the documented mode for mutable inputs, and an unconditional
    // response LRU there would keep serving a stale chart after the
    // underlying parquet changes while /data/json recomputes
    val lk =
      if (cache.isDefined) lineageKeyOf(name, Set.empty).map("chart:" + _)
      else None
    lk.flatMap(k => Option(responses.get(k))) match {
      case Some((body, truncated)) =>
        if (truncated) ex.getResponseHeaders.set("X-Truncated", "true")
        respond(ex, 200, body)
      case None => resolveKeyed(name) match {
        case None => respond(ex, 404, s"no configuration '$name'")
        case Some(df) =>
          val (body, truncated) =
            graft.hb.Render.seriesJsonTruncating(df, maxRows)
          lk.foreach(k => responses.put(k, (body, truncated)): Unit)
          if (truncated) ex.getResponseHeaders.set("X-Truncated", "true")
          respond(ex, 200, body)
      }
    }
  }

  /** [[resolve]]'s keyed twin for the chart route: the key column and
    * the frame order are the series payload, so no `.result` strip and
    * no frame-level lineage cache (the cached parquet holds RESULT
    * frames; charts cache at the response layer instead). */
  private def resolveKeyed(name: String): Option[DataFrame] =
    programs.get(name) match {
      case Some(p) =>
        Some(Engine.runKeyed(p, Providers.fromHeader(spark, p.header,
          dataDir, fetch, resolveEnv = false)))
      case None => configurations.get(name).map { case (src, ts) =>
        val source = resolveSource(src, Set(name))
        val stmts = ts.flatMap(t => transformations.getOrElse(t,
          throw new NoSuchElementException(s"no transformation '$t'")))
        Engine.runKeyed(Program(Header(Map(), Map(), Map()), stmts), source)
      }
    }

  /** Run a configuration by name: `{name, hb}` programs resolve their
    * provider from the header; workbench documents resolve their
    * source (recursively for merge/join) and fold the named
    * transformation chains in listed order.
    *
    * With a [[graft.cache.LineageCache]] configured, every resolved
    * configuration — nested merge/join operands included — goes through
    * `getOrCompute` under its recursive lineage key: the reference's
    * per-stage CouchDB cache (workers/calculator.worker/src/
    * Program.fs:86-88; tools/workbench/src/Types.fs:182-190),
    * re-expressed as content-keyed parquet. Shared operands across
    * configurations compute once; a changed upload derives a new key,
    * so invalidation is structural, not TTL-based. Caveat (by design,
    * like the reference): the gateway caches LINEAGE, not upstream
    * freshness — a cached frame is served until its configuration TEXT
    * changes. That covers REST/OData providers AND file-backed ones
    * (parquet/localdata paths under `dataDir`): rewriting the file
    * behind an unchanged path does NOT invalidate the cached frame.
    * Operators running with a cache who re-ingest in place should
    * either version the path in the configuration (the structural way)
    * or run without `--cache-dir` for mutable inputs. */
  private def resolve(name: String, visiting: Set[String]): Option[DataFrame] = {
    if (visiting.contains(name))
      throw new IllegalArgumentException(
        s"configuration cycle through '$name'")
    def compute: Option[DataFrame] = programs.get(name) match {
      case Some(p) =>
        Some(Graft.run(p, Providers.fromHeader(spark, p.header, dataDir,
          fetch, resolveEnv = false)))
      case None => configurations.get(name).map { case (src, ts) =>
        val source = resolveSource(src, visiting + name)
        val stmts = ts.flatMap(t => transformations.getOrElse(t,
          throw new NoSuchElementException(s"no transformation '$t'")))
        Engine.run(Program(Header(Map(), Map(), Map()), stmts), source)
      }
    }
    (cache, lineageKeyOf(name, visiting)) match {
      case (Some(lc), Some(lk)) =>
        Some(lc.getOrCompute(lc.key("gateway", Seq(lk)))(compute.get))
      case _ => compute
    }
  }

  /** Recursive content key of a configuration: provider header (or
    * source document) plus the printed statement chain, with merge/join
    * operands replaced by THEIR lineage keys — the
    * [[graft.hb.Configurations.Runner.lineageKey]] scheme applied to
    * the gateway's upload store. None for unknown names (the 404
    * path). Pure — computes no Spark plan. */
  private def lineageKeyOf(name: String, visiting: Set[String]): Option[String] = {
    if (visiting.contains(name))
      throw new IllegalArgumentException(
        s"configuration cycle through '$name'")
    programs.get(name) match {
      case Some(p) =>
        val h = p.header
        val hdr = (h.props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" } ++
          h.lists.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=[${v.mkString("\u0000")}]" } ++
          h.meta.toSeq.sortBy(_._1).map { case (k, v) => s"meta.$k=$v" })
          .mkString(";")
        Some((s"hb{$hdr}" +: p.transformations.map(graft.hb.Printer.print))
          .mkString(":"))
      case None => configurations.get(name).map { case (src, ts) =>
        def subKey(n: String): String =
          lineageKeyOf(n, visiting + name).getOrElse(
            throw new NoSuchElementException(s"no configuration '$n'"))
        val srcKey = text(src, "provider").getOrElse("parquet") match {
          case "merge" =>
            src.get("datasets").asScala.toSeq.map(_.asText())
              .map(subKey).mkString("merge(", ",", ")")
          case "join" =>
            val l = text(src, "left").getOrElse("")
            val r = text(src, "right").getOrElse("")
            s"join(${subKey(l)},${subKey(r)}," +
              s"${text(src, "field").getOrElse("")})"
          // localdata/provider documents are self-contained: the JSON
          // text IS the content (inline rows, urls, paths included)
          case _ => s"src:${src.toString}"
        }
        val stmts = ts.flatMap(t => transformations.getOrElse(t,
          throw new NoSuchElementException(s"no transformation '$t'"))
          .map(graft.hb.Printer.print))
        (srcKey +: stmts).mkString(":")
      }
    }
  }

  /** Workbench `Source.ToString()` document shapes (Types.fs:74-129):
    * localdata carries inline columns+rows; merge/join reference OTHER
    * configurations by name; anything else is a provider header
    * (rest/odata/parquet/git) dispatched like an `.hb` upload. */
  private def resolveSource(src: JsonNode, visiting: Set[String]): DataFrame =
    text(src, "provider").getOrElse("parquet") match {
      case "localdata" =>
        val cols = src.get("columns").asScala.toSeq.map(_.asText())
        val rows = src.get("rows").asScala.toSeq.map(_.asScala.toSeq.map {
          case n if n.isIntegralNumber => n.asLong(): Any
          case n if n.isFloatingPointNumber => n.asDouble(): Any
          case n if n.isBoolean => n.asBoolean(): Any
          case n if n.isNull => null: Any
          case n => n.asText(): Any
        })
        Ingest.localData(spark, cols, rows)
      case "merge" =>
        val names = src.get("datasets").asScala.toSeq.map(_.asText())
        Graft.merge(names.map(n => resolve(n, visiting).getOrElse(
          throw new NoSuchElementException(s"no configuration '$n'"))))
      case "join" =>
        def side(k: String) = {
          val n = text(src, k).getOrElse(
            throw new IllegalArgumentException(s"join needs '$k'"))
          resolve(n, visiting).getOrElse(
            throw new NoSuchElementException(s"no configuration '$n'"))
        }
        Graft.join(side("left"), side("right"),
          text(src, "field").getOrElse(
            throw new IllegalArgumentException("join needs 'field'")))
      case _ =>
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
