package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.cache.LineageCache
import graft.server.Gateway

/** dashboard_gateway: an in-process [[Gateway]] with a [[LineageCache]]
  * on a per-run directory, driven over loopback HTTP by `clients`
  * closed-loop clients. Each client runs whole rounds of a fixed bag of
  * ops in a seeded order:
  *   - `hit` (16 per round): GET of a configuration already served,
  *   - `miss` (3 per round): PUT of a new variant of a hobbes analytics
  *     program over `events`, then its first GET,
  *   - `fit` (1 per round): PUT and first GET of an exact dedup followed
  *     by a `unigram` tokenizer fit over `documents`.
  * Every repeat GET must return the bytes of the configuration's first
  * response; first responses go to disk for the DuckDB check. */
final class DashboardGateway(spark: SparkSession, o: Opts) extends Workload {
  import DashboardGateway._

  private val mapper = new ObjectMapper()
  private val params = mapper.readTree(new java.io.File(s"${o.data}/params.json"))
  private val variants = params.get("variants").asScala.toIndexedSeq
  private val fits = params.get("fits").asScala.toIndexedSeq
  private val scheduleSeed = params.get("schedule_seed").asLong
  private val nextVariant = new AtomicInteger(0)
  private val nextFit = new AtomicInteger(0)

  private val respDir = s"${o.work}/responses"
  private val lineageDir = s"${o.work}/lineage"
  private val cache = new LineageCache(spark, lineageDir)
  private val gw = new Gateway(spark, MasterKey, dataDir = o.data,
    cache = Some(cache))
  private var base = ""

  /** Configurations served so far: name -> first response body. */
  private val served = mutable.LinkedHashMap[String, String]()
  /** Check manifest: one line per first response. */
  private val manifest = mutable.ArrayBuffer[String]()
  /** Span times by request kind (ms), for the traced run. */
  private val spans = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private var misses, hits = 0

  private def span(kind: String, ms: Double): Unit = synchronized {
    spans.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
  }

  private val auth = "Basic " + java.util.Base64.getEncoder
    .encodeToString(s"$MasterKey:".getBytes(UTF_8))

  private def newClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def send(c: HttpClient, req: HttpRequest.Builder)
      : HttpResponse[String] =
    c.send(req.header("Authorization", auth).build(), BodyHandlers.ofString())

  private def put(c: HttpClient, name: String, hb: String): Unit = {
    val t0 = System.nanoTime()
    val body = mapper.writeValueAsString(Map("name" -> name, "hb" -> hb).asJava)
    val r = send(c, HttpRequest.newBuilder(URI.create(s"$base/admin/configuration"))
      .PUT(BodyPublishers.ofString(body)))
    span("upload", (System.nanoTime() - t0) / 1e6)
    if (r.statusCode != 200)
      throw new IllegalStateException(s"PUT $name: ${r.statusCode} ${r.body.take(300)}")
  }

  private def get(c: HttpClient, name: String): String = {
    val r = send(c, HttpRequest.newBuilder(URI.create(
      s"$base/data/json/${java.net.URLEncoder.encode(name, "UTF-8")}")).GET())
    if (r.statusCode != 200)
      throw new IllegalStateException(s"GET $name: ${r.statusCode} ${r.body.take(300)}")
    r.body
  }

  /** Upload `cfg` under a fresh name and GET it once; the first body is
    * kept for repeat comparison and written out for the DuckDB check. */
  private def firstServe(c: HttpClient, cfg: Config, kind: String): Unit = {
    put(c, cfg.name, cfg.hb)
    val t0 = System.nanoTime()
    val body = get(c, cfg.name)
    span(kind, (System.nanoTime() - t0) / 1e6)
    Files.writeString(Paths.get(s"$respDir/${cfg.name}.json"), body)
    synchronized {
      misses += 1
      served.put(cfg.name, body)
      manifest += mapper.writeValueAsString(Map[String, Any](
        "name" -> cfg.name, "shape" -> cfg.shape, "m" -> cfg.m,
        "r" -> cfg.r, "file" -> s"${cfg.name}.json").asJava)
    }
  }

  /** GET of an already-served configuration; true iff byte-identical. */
  private def repeat(c: HttpClient, pick: Int): Boolean = {
    val (name, first) = synchronized {
      // the most recent configurations: the response LRU holds 256
      val names = served.keys.toIndexedSeq.takeRight(200)
      val n = names(pick % names.size)
      (n, served(n))
    }
    val t0 = System.nanoTime()
    val body = get(c, name)
    span("hit", (System.nanoTime() - t0) / 1e6)
    synchronized { hits += 1 }
    body == first
  }

  /** The `i`-th seeded configuration of `list` (params.json). */
  private def config(list: IndexedSeq[JsonNode], i: Int): Config = {
    val v = list(i % list.size)
    Config(v.get("shape").asText, v.get("m").asInt, v.get("r").asInt)
  }

  def setup(): Unit = {
    Files.createDirectories(Paths.get(respDir))
    base = s"http://127.0.0.1:${gw.start(0)}"
    Files.writeString(Paths.get(s"${o.work}/oracles.json"),
      mapper.writeValueAsString(OracleGates.map { case (shape, gates) =>
        shape -> gates.map(graft.SparkEntry.oracleSql).asJava }.asJava))
    // the unfiltered dashboards and one fit: the first GET of each
    // shape pays class loading, codegen and JIT
    val c = newClient()
    (BaseShapes :+ "dedup_unigram").foreach(s =>
      firstServe(c, Config(s, 0, 0), "warm"))
  }

  /** One round: the fixed bag of ops in a seeded order. */
  private def round(c: HttpClient, rnd: java.util.Random,
      rec: Recorder): Unit = {
    val bag = (Seq.fill(HitsPerRound)("hit") ++ Seq.fill(MissesPerRound)("miss") ++
      Seq.fill(FitsPerRound)("fit")).toBuffer
    java.util.Collections.shuffle(bag.asJava, rnd)
    bag.foreach { kind =>
      val pick = rnd.nextInt(1 << 20)
      val t0 = System.nanoTime()
      val ok =
        try kind match {
          case "hit" => repeat(c, pick)
          case "miss" =>
            firstServe(c, config(variants, nextVariant.getAndIncrement()),
              "miss")
            true
          case "fit" =>
            firstServe(c, config(fits, nextFit.getAndIncrement()), "fit")
            true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $kind failed: $e"); false
        }
      rec.add(Op(kind, t0, System.nanoTime(), ok))
    }
  }

  private var lineageBytes0 = 0L
  private var hits0, misses0 = 0

  def run(rec: Recorder): Unit = {
    lineageBytes0 = dirBytes(lineageDir)
    synchronized { hits0 = hits; misses0 = misses; spans.clear() }
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    // whole rounds; every client runs at least its share of MinOps, so
    // a run's op count does not depend on how the clients interleave
    val minRounds = math.ceil(MinOps.toDouble /
      (o.clients * (HitsPerRound + MissesPerRound + FitsPerRound))).toInt
    val threads = (0 until o.clients).map { i =>
      val t = new Thread(() => {
        val c = newClient()
        val rnd = new java.util.Random(scheduleSeed + 7919L * i)
        var rounds = 0
        while (rounds < minRounds || System.nanoTime() < deadline) {
          round(c, rnd, rec)
          rounds += 1
        }
      }, s"client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  def finish(trace: Option[Trace]): Map[String, Double] = {
    Files.write(Paths.get(s"${o.work}/manifest.jsonl"), manifest.asJava)
    def p50(k: String) = synchronized {
      val xs = spans.getOrElse(k, mutable.ArrayBuffer()).sorted
      if (xs.isEmpty) 0.0 else xs(xs.size / 2)
    }
    val nMiss = (misses - misses0).max(1)
    val jobs = trace.map(_.jobCount.toDouble).getOrElse(0.0)
    Map(
      "server.hit_p50_ms" -> p50("hit"),
      "server.miss_p50_ms" -> p50("miss"),
      "server.fit_p50_ms" -> p50("fit"),
      "server.upload_p50_ms" -> p50("upload"),
      "server.hits" -> (hits - hits0).toDouble,
      "server.misses" -> (misses - misses0).toDouble,
      "server.jobs_per_miss" -> jobs / nMiss,
      "cache.lineage_mb_written" ->
        (dirBytes(lineageDir) - lineageBytes0) / 1024.0 / 1024.0)
  }

  def close(): Unit = gw.stop()
}

object DashboardGateway {
  val MasterKey = "perfbench"
  val HitsPerRound = 16
  val MissesPerRound = 3
  val FitsPerRound = 1
  /** At least this many timed ops, so p90 has ten samples beyond it. */
  val MinOps = 120

  /** Dashboard shapes of the HbGates catalogue and the gates whose
    * DuckDB oracles, chained over a filtered table view, are each
    * shape's twin: every stage but the last narrows the table to the
    * doc_ids it returns (check.py). */
  val OracleGates: Map[String, Seq[String]] = Map(
    "velocity" -> Seq("hb_velocity"),
    "group_mean" -> Seq("hb_group_mean"),
    "pivot" -> Seq("hb_pivot_values"),
    "mttr" -> Seq("hb_mttr"),
    "dedup_unigram" -> Seq("hb_dedup_exact", "hb_unigram"))
  /** The dashboards uploaded at set-up: the first hit targets. */
  val BaseShapes: Seq[String] = Seq("velocity", "group_mean", "pivot", "mttr")

  private val bodies: Map[String, (String, String, String)] = Map(
    // (table, key column of the variant filter, statements)
    "velocity" -> ("events", "user_id",
      """create column day (format date "ts" date)
        |pivot [day] [event_type] -> count [event_id]
        |sort by column day
        |create column click3 (moving mean 3 [click])
        |create column view7 (moving mean 7 [view])
        |slice columns day click view purchase click3 view7
        |""".stripMargin),
    "group_mean" -> ("events", "user_id",
      """create column day (format date "ts" date)
        |slice columns day value
        |group by day -> mean
        |create column day keys
        |sort by column day
        |""".stripMargin),
    "pivot" -> ("events", "user_id",
      """create column day (format date "ts" date)
        |pivot [day] [event_type] -> count [event_id] ['click'; 'view'; 'purchase']
        |sort by column day
        |slice columns day click view purchase
        |""".stripMargin),
    "mttr" -> ("events", "user_id",
      """create column tick 1
        |slice columns user_id tick
        |group by user_id -> sum
        |create column user_id keys
        |sort by column user_id
        |create column running (expanding sum [tick])
        |create column m5 (moving mean 5 [tick])
        |only !(m5 = missing)
        |""".stripMargin),
    "dedup_unigram" -> ("documents", "doc_id",
      """index rows by doc_id
        |dedup exact text
        |unigram text 16
        |slice columns doc_id ug n_pieces
        |""".stripMargin))

  /** A dashboard configuration: `m == 0` is the unfiltered program;
    * otherwise rows with `key % m = r` are dropped first. */
  final case class Config(shape: String, m: Int, r: Int) {
    def name: String = s"$shape-$m-$r"
    def hb: String = {
      val (table, key, stmts) = bodies(shape)
      val filter = if (m == 0) "" else s"only !($key % $m = $r)\n"
      s"provider: parquet\ntable: $table\n\n$filter$stmts"
    }
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }
  }
}
