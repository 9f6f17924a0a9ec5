package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamHb
import graft.hb.{Graft, HbParser}

/** `.hb` programs over Structured Streaming: batch/stream agreement for
  * the admissible subset, loud rejection for the rest. */
class StreamHbSpec extends AnyFunSuite {

  lazy val spark = Sessions.local()
  private val dir = "/root/testdata/sf0.001"

  private def docsStream = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
  }

  test("narrow program: streamed result equals the batch run") {
    val program =
      """create column v2 (value * 2)
        |only (event_type = 'purchase')
        |slice columns event_id user_id v2
        |""".stripMargin
    val streamed = StreamHb.runEvents(spark, dir, program,
      "streamhb_narrow").orderBy("event_id").collect()
    val batch = Graft.runHb(program, queries.Gate.t(spark, dir, "events"))
      .orderBy("event_id").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("group by -> sum: complete-mode aggregate equals the batch run") {
    val program =
      """create column day (format date "ts" date)
        |slice columns day value
        |group by day -> sum
        |create column day keys
        |""".stripMargin
    val streamed = StreamHb.runEvents(spark, dir, program,
      "streamhb_agg").orderBy("day").collect()
    val batch = Graft.runHb(program, queries.Gate.t(spark, dir, "events"))
      .orderBy("day").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("dedup exact on a stream keeps one row per fingerprint") {
    val out = StreamHb.runToMemory(
      "dedup exact text\nslice columns doc_id text\n",
      docsStream, "streamhb_dedup")
    val batchDistinct = spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.operators.Dedup.fingerprint(col("text")))
      .distinct().count()
    assert(out.count() == batchDistinct)
  }

  test("whole-frame statements are rejected up front, by name") {
    val cases = Seq(
      "sort by column value\n" -> "sort by column",
      "dedup minhash text 0.8\n" -> "dedup minhash",
      "buckets (4) -> (sum)\n" -> "buckets",
      "pivot [user_id] [event_type] -> sum [value]\n" -> "pivot",
      "group by user_id -> maxby value\n" -> "maxby",
      "top 5 by value per user_id\n" -> "top 5 by",
      "top 25 pct by value per user_id\n" -> "top 25 pct",
      "bpe text 8\n" -> "bpe text",
      "shuffle 'e1'\n" -> "shuffle",
      "shards 8\n" -> "shards",
      "curriculum by score 3\n" -> "curriculum",
      // the PLANNED upsample form aggregates whole-frame masses; the
      // factor form stays streamable (its own keyed-stream test below)
      "upsample by lang weight w [en 100] budget 1000\n" -> "upsample",
      "diverse 4 [vec]\n" -> "diverse")
    cases.foreach { case (program, what) =>
      val e = intercept[IllegalArgumentException] {
        StreamHb.validate(HbParser.parse(program))
      }
      assert(e.getMessage.contains("not streamable"), program)
      assert(e.getMessage.contains(what), program)
    }
  }

  test("window expressions inside create column are rejected") {
    val e = intercept[IllegalArgumentException] {
      StreamHb.validate(HbParser.parse(
        "create column m (moving mean 5 [value])\n"))
    }
    assert(e.getMessage.contains("not streamable"))
  }

  test("`keys` before any index rows by / group by is rejected") {
    val e = intercept[IllegalArgumentException] {
      StreamHb.validate(HbParser.parse("create column k keys\n"))
    }
    assert(e.getMessage.contains("ingest ordinal"))
    // …and admissible once the frame is keyed
    StreamHb.validate(HbParser.parse(
      "index rows by event_id\ncreate column k keys\n"))
  }

  test("`mix` before any index rows by / group by is rejected by name") {
    // mix salts the frame KEY — on an un-keyed stream it must fail in
    // validate() with the statement named, not later inside the
    // running query (ADVICE r8)
    val e = intercept[IllegalArgumentException] {
      StreamHb.validate(HbParser.parse(
        "mix by event_type [purchase 50] 10\n"))
    }
    assert(e.getMessage.contains("mix by"))
    assert(e.getMessage.contains("ingest ordinal"))
    StreamHb.validate(HbParser.parse(
      "index rows by event_id\nmix by event_type [purchase 50] 10\n"))
  }

  test("`upsample`: streamable once keyed, rejected by name un-keyed") {
    // same contract as mix — the replica draw salts the frame KEY
    val e = intercept[IllegalArgumentException] {
      StreamHb.validate(HbParser.parse("upsample by lang [en 2.5]\n"))
    }
    assert(e.getMessage.contains("upsample by"))
    assert(e.getMessage.contains("ingest ordinal"))
    StreamHb.validate(HbParser.parse(
      "index rows by doc_id\nupsample by lang [en 2.5] 'u1'\n"))
  }

  test("`… using` statements: admissible on streams, named error " +
      "without a resolver, named rejection in a batch Engine run") {
    // all four offline-fit/online-score statements validate as
    // streamable (stateless narrow maps after the batch-side fit)
    StreamHb.validate(HbParser.parse(
      """score text using ref
        |classify text using pos neg
        |encode text using corpus 64
        |decode token_ids using corpus 64
        |bpe text using corpus 8
        |""".stripMargin))
    // running without a resolver names the missing configuration
    val docs = queries.Gate.t(spark, dir, "documents")
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      StreamHb(HbParser.parse("score text using ref\n"), stream)
    }
    assert(e.getMessage.contains("'ref'") &&
      e.getMessage.contains("resolver"), e.getMessage)
    // a batch Engine run rejects by name (models live in the runner's
    // configuration namespace, which a bare batch run does not have)
    val e2 = intercept[IllegalArgumentException] {
      Graft.runHb("score text using ref\n", docs)
    }
    assert(e2.getMessage.contains("score text using ref"), e2.getMessage)
    // the resolved run scores the stream identically to the batch
    // narrow scorer over the same model
    val ref = docs.filter(col("source").isin("src0", "src1"))
    val got = StreamHb.runTable(spark, dir, "documents",
      """score text using ref
        |slice columns doc_id avg1000
        |""".stripMargin, "streamhb_score_using",
      resolve = { case "ref" => ref })
      .orderBy("doc_id").collect().toSeq
    val (mp, mc) = operators.Surprisal.modelMaps(
      operators.Surprisal.fit(ref, "text", 4096, "lm"))
    val want = operators.Surprisal
      .withScoresNarrow(docs, mp, mc, "text", 4096, "lm")
      .select(col("doc_id"), col("avg1000"))
      .orderBy("doc_id").collect().toSeq
    assert(got == want)
  }

  test("window group by: append-mode event-time agg cut at the watermark") {
    val program =
      """slice columns ts event_type value
        |window ts 60 group by event_type -> sum
        |""".stripMargin
    assert(StreamHb.outputMode(HbParser.parse(program)) == "append")
    val streamed = StreamHb.runEvents(spark, dir, program,
      "streamhb_window").orderBy("window_start", "event_type").collect()
    // the batch twin of the append contract: the same tumbling agg cut
    // at the final watermark (max event time, delay 0) — buckets still
    // open when the finite replay ends are withheld in both engines
    val events = queries.Gate.t(spark, dir, "events")
    val wm = events.agg(max(col("ts"))).head().getTimestamp(0)
    val batch = Graft.runHb(program, events)
      .filter(col("window_end") <= lit(wm))
      .orderBy("window_start", "event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("a table bound twice in one scope is fitted once, with or " +
      "without a store") {
    // a fresh read per binding, like the gates' resolvers
    val resolve: String => org.apache.spark.sql.DataFrame = {
      case "corpus" => spark.read.parquet(s"$dir/documents.parquet")
      case other => throw new NoSuchElementException(other)
    }
    val base = JobCounter.count(spark)(())
    val read = JobCounter.count(spark)(resolve("corpus")) - base
    def jobs(text: String, store: Boolean): Int = {
      val st = Option.when(store)(new cache.LineageCache(spark,
        java.nio.file.Files.createTempDirectory("fit_once").toString))
      JobCounter.count(spark) {
        Scope.open(_ => StreamHb(HbParser.parse(text), docsStream, resolve,
          st))
      }
    }
    for {
      (once, second) <- Seq(
        "bpe ids text using corpus 6\n" ->
          "decode ids token_ids using corpus 6\n",
        "encode text using corpus 64\n" ->
          "decode token_ids using corpus 64\n",
        "unigram text using corpus 16\n" ->
          "unigram ids text using corpus 16\n")
      store <- Seq(false, true)
    } {
      val one = jobs(once, store)
      val two = jobs(once + second, store)
      assert(one - base > read, s"store=$store: the fit launched no jobs")
      // the second binding pays at most its own read, never a refit
      assert(two - one <= read,
        s"store=$store, $once: $one job(s) for one binding, $two for two")
    }
  }

  test("batch and `… using` give the same rows for the six tokenizer " +
      "families that share an encode body") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Seq("bpe text" -> 8, "bpe bytes text" -> 6, "wordpiece text" -> 6,
      "wordpiece ids text" -> 6, "unigram text" -> 16,
      "unigram ids text" -> 16).zipWithIndex.foreach { case ((st, n), i) =>
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = rows(Graft.runHb(s"$st $n\n", docs))
      val streamed = rows(StreamHb.runToMemory(
        s"$st using corpus $n\n", docsStream, s"streamhb_paths_$i",
        resolve = { case "corpus" => docs }))
      assert(batch.nonEmpty)
      assert(streamed == batch, st)
    }
  }
}
