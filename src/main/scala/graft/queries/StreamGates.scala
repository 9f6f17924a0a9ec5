package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{StreamHb, StreamOps}
import Gate.t

/** Streaming + event-time windowing gates. */
object StreamGates {

  // ----- offline-fit / online-score pairings, written in the closed
  // DSL: a `score/classify/encode/bpe … using <config>` statement fits
  // its model on a batch MODEL configuration (resolver-bound, the
  // Configurations discipline) and compiles the stream side to the
  // zero-shuffle narrow scorer. Each pairing is ONE gate function, run
  // under two names (st_surprisal_score and st_hb_surprisal, …) with
  // one oracle: the translation, not just the operator, is what they pin.

  private type GateFn = (SparkSession, String) => DataFrame

  private def documents(s: SparkSession, d: String,
      sources: String*): DataFrame =
    Gate.t(s, d, "documents").filter(col("source").isin(sources: _*))

  private val surprisalUsing: GateFn = (s, d) =>
    StreamHb.runTable(s, d, "documents",
      """score text using ref
        |slice columns doc_id n_pairs surprisal_sum avg1000
        |""".stripMargin, "st_hb_surprisal_out",
      resolve = {
        case "ref" => documents(s, d, "src0", "src1")
        case other => throw new NoSuchElementException(other)
      })
      .orderBy(col("doc_id"))

  private val surprisalOracle = "WITH " + TextGates.surprisalCtes("") +
    "\n" + """SELECT d.doc_id, a.n_pairs, a.surprisal_sum, a.avg1000
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin

  private val classifyUsing: GateFn = (s, d) =>
    StreamHb.runTable(s, d, "documents",
      """classify text using pos neg
        |slice columns doc_id n_tokens margin_sum margin1000
        |""".stripMargin, "st_hb_classify_out",
      resolve = {
        case "pos" => documents(s, d, "src0", "src1")
        case "neg" => documents(s, d, "src2", "src3")
        case other => throw new NoSuchElementException(other)
      })
      .orderBy(col("doc_id"))

  private val classifyOracle = "WITH " + TextGates.classifierCtes("") +
    "\n" + """SELECT d.doc_id, f.n_tokens, f.margin_sum, f.margin1000
      |FROM documents d LEFT JOIN fin f ON d.doc_id = f.doc_id
      |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin

  private val encodeUsing: GateFn = (s, d) =>
    StreamHb.runTable(s, d, "documents",
      """encode text using corpus 64
        |""".stripMargin, "st_hb_encode_out",
      resolve = {
        case "corpus" => Gate.t(s, d, "documents")
        case other => throw new NoSuchElementException(other)
      })
      .select(col("doc_id"),
        when(col("token_ids").isNotNull,
          concat_ws(" ", col("token_ids"))).as("token_ids_str"))
      .orderBy(col("doc_id"))

  private val bpeUsing: GateFn = (s, d) =>
    StreamHb.runTable(s, d, "documents",
      """bpe text using corpus 8
        |slice columns doc_id bpe
        |""".stripMargin, "st_hb_bpe_out",
      resolve = {
        case "corpus" => Gate.t(s, d, "documents")
        case other => throw new NoSuchElementException(other)
      })
      .orderBy(col("doc_id"))

  val gates: Seq[Gate] = Seq(

    // Real Structured Streaming run (readStream → watermark → tumbling
    // window → memory sink), oracle-checked: counts and a decimal-exact
    // sum are deterministic, and Spark's epoch-aligned window start equals
    // DuckDB's time_bucket.
    Gate("st_stream_tumbling",
      (s, d) => StreamOps.tumblingAgg(s, d, "st_stream_tumbling_out")
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             |  event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY window_start ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin)),

    // Gap-based session windows (batch form of the same operator the
    // streaming path uses); oracle = classic islands-and-gaps SQL.
    Gate("st_session_window",
      (s, d) => StreamOps.sessionAgg(t(s, d, "events"), "30 minutes")
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH marked AS (
             |  SELECT user_id, ts,
             |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |      <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_session
             |  FROM events),
             |sessions AS (
             |  SELECT user_id, ts,
             |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM marked)
             |SELECT user_id, MIN(ts) AS session_start,
             |  COUNT(*) AS n_events
             |FROM sessions GROUP BY user_id, sid
             |ORDER BY user_id ASC NULLS FIRST, session_start ASC NULLS FIRST""".stripMargin)),

    // Custom-state sessionization: a REAL flatMapGroupsWithState
    // streaming query (closed sessions only — the open tail session per
    // user stays in state). Oracle = gaps-and-islands over FLOORED epoch
    // seconds (the state fn compares cast-to-long seconds, so the oracle
    // must truncate before the gap test), minus each user's last island.
    Gate("st_stateful_sessions",
      (s, d) => StreamOps.sessionizeStateful(s, d,
        "st_stateful_sessions_out", gapMinutes = 30,
        maxEvents = Int.MaxValue)
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH e AS (
             |  SELECT user_id,
             |    CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) AS ep
             |  FROM events),
             |m AS (
             |  SELECT user_id, ep,
             |    CASE WHEN ep - LAG(ep) OVER (PARTITION BY user_id ORDER BY ep)
             |      <= 1800 THEN 0 ELSE 1 END AS brk
             |  FROM e),
             |s AS (
             |  SELECT user_id, ep,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ep
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM m),
             |g AS (
             |  SELECT user_id, sid, MIN(ep) AS session_start,
             |    MAX(ep) AS session_last, COUNT(*) AS n_events
             |  FROM s GROUP BY user_id, sid)
             |SELECT user_id, CAST(session_start AS BIGINT) AS session_start,
             |  CAST(session_last AS BIGINT) AS session_last,
             |  CAST(n_events AS INTEGER) AS n_events
             |FROM g
             |WHERE sid < (SELECT MAX(sid) FROM g x WHERE x.user_id = g.user_id)
             |ORDER BY user_id ASC NULLS FIRST, session_start ASC NULLS FIRST""".stripMargin)),

    // Sliding windows: 2-hour window advancing hourly; count-only so the
    // overlap duplication stays exactly comparable.
    Gate("st_sliding_window",
      (s, d) => StreamOps.slidingAgg(t(s, d, "events"), "2 hours", "1 hour")
        .orderBy(col("window_start"), col("event_type")),
      Some("""WITH buckets AS (
             |  SELECT time_bucket(INTERVAL '1 hour', ts) AS b, event_type
             |  FROM events),
             |offsets AS (SELECT 0 AS o UNION ALL SELECT 1)
             |SELECT b - o * INTERVAL '1 hour' AS window_start, event_type,
             |  COUNT(*) AS n
             |FROM buckets CROSS JOIN offsets
             |GROUP BY 1, 2
             |ORDER BY window_start ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin)),

    // Streaming exact dedup with watermark-bounded state: emits the key
    // set only (which row wins a key is arrival-order-dependent; the key
    // SET is exact), so the real streaming query hash-matches batch
    // SELECT DISTINCT.
    Gate("st_stream_dedup",
      (s, d) => StreamOps.streamingDedup(s, d, "st_stream_dedup_out",
        Seq("user_id", "event_type"))
        .orderBy(col("user_id"), col("event_type")),
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin)),

    // Stream-stream interval join (conversion attribution): click →
    // same-user purchase within the hour. Watermarks + the time-bound
    // condition bound the join state; inner join ⇒ the match set equals
    // the batch join, so the oracle is the plain SQL interval join.
    Gate("st_stream_join",
      (s, d) => StreamOps.intervalJoin(s, d, "st_stream_join_out",
        maxDelayMinutes = 60)
        .orderBy(col("click_id"), col("purchase_id")),
      Some("""SELECT c.user_id, c.event_id AS click_id,
             |  p.event_id AS purchase_id
             |FROM events c JOIN events p
             |  ON c.user_id = p.user_id
             |  AND c.event_type = 'click' AND p.event_type = 'purchase'
             |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE
             |ORDER BY click_id ASC NULLS FIRST,
             |  purchase_id ASC NULLS FIRST""".stripMargin)),

    // Stream-static broadcast enrichment: events joined to the customer
    // dimension (static side broadcast per micro-batch), aggregated per
    // market segment with deterministic decimal sums.
    Gate("st_stream_static",
      (s, d) => StreamOps.staticEnrich(s, d, "st_stream_static_out",
        dim = t(s, d, "customer"), dimKey = "c_custkey",
        dimAttr = "c_mktsegment")
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // `.hb` authoring over a STREAM (StreamHb): the same program text a
    // batch author writes, run as a real streaming query (append mode —
    // all statements compile to stateless narrow ops). Oracle = plain
    // SQL over the same events table.
    Gate("st_hb_narrow",
      (s, d) => graft.streaming.StreamHb.runEvents(s, d,
        """create column v2 (value * 2)
          |only (event_type = 'purchase')
          |slice columns event_id user_id v2
          |""".stripMargin, "st_hb_narrow_out")
        .orderBy(col("event_id")),
      Some("""SELECT event_id, user_id, value * 2 AS v2
             |FROM events WHERE event_type = 'purchase'
             |ORDER BY event_id ASC NULLS FIRST""".stripMargin)),

    // `.hb` aggregation over a stream: `group by -> sum` runs as a
    // complete-mode streaming aggregation with the Engine's decimal-
    // exact sums, so even the streamed double aggregate hash-matches
    // the DuckDB oracle; `keys` re-materializes the group key exactly
    // as in the batch twin hb_group_mean.
    // Streaming text curation: the EXACT program (and oracle) of the
    // batch gate hb_langid_signal, run as an incremental streaming
    // query over the documents stream — langid prediction and the
    // quality filter are narrow signal expressions, so curation runs
    // on live ingest unchanged.
    Gate("st_hb_quality",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        HbGates.langidSignalHb, "st_hb_quality_out")
        .orderBy(col("doc_id")),
      Some(HbGates.langidSignalOracleSql)),

    // `.hb` watermarked event-time aggregation — the APPEND-mode
    // production sink shape: `window ts 60 group by event_type -> sum`
    // compiles to a tumbling watermarked window agg (delay 0), so a
    // bucket emits exactly once, when the watermark (max event time
    // seen) passes its end. The oracle replays that contract in batch
    // SQL: the tumbling agg CUT AT THE WATERMARK — buckets still open
    // when the finite replay ends are withheld in both engines.
    Gate("st_hb_window",
      (s, d) => graft.streaming.StreamHb.runEvents(s, d,
        """slice columns ts event_type value
          |window ts 60 group by event_type -> sum
          |""".stripMargin, "st_hb_window_out")
        .orderBy(col("window_start"), col("event_type")),
      Some("""WITH agg AS (
             |  SELECT time_bucket(INTERVAL '60 minutes', ts) AS window_start,
             |    time_bucket(INTERVAL '60 minutes', ts)
             |      + INTERVAL '60 minutes' AS window_end,
             |    event_type,
             |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value
             |  FROM events GROUP BY 1, 2, 3),
             |wm AS (SELECT max(ts) AS w FROM events)
             |SELECT window_start, window_end, event_type, value
             |FROM agg, wm WHERE window_end <= wm.w
             |ORDER BY window_start ASC NULLS FIRST,
             |  event_type ASC NULLS FIRST""".stripMargin)),

    Gate("st_hb_agg",
      (s, d) => graft.streaming.StreamHb.runEvents(s, d,
        """create column day (format date "ts" date)
          |slice columns day value
          |group by day -> sum
          |create column day keys
          |""".stripMargin, "st_hb_agg_out")
        .orderBy(col("day")),
      Some("""SELECT CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
             |    AS value,
             |  CAST(ts AS DATE) AS day
             |FROM events GROUP BY CAST(ts AS DATE)
             |ORDER BY day ASC NULLS FIRST""".stripMargin)),

    // Offline-fit / online-score: the LM-surprisal model fits in batch
    // on the reference slice, then the LIVE documents stream is scored
    // by the zero-shuffle narrow path (literal-map model, stateless,
    // append mode). Every document flows through — no-evidence docs
    // keep NULL stats (a stream cannot drop rows by aggregation) —
    // and the oracle replays the whole thing with a LEFT JOIN.
    Gate("st_surprisal_score", surprisalUsing, Some(surprisalOracle)),

    // Offline-fit / online-encode: the vocabulary fits in batch, the
    // live stream tokenizes through the narrow literal-map path —
    // same ids as t_vocab_encode, same oracle.
    Gate("st_vocab_encode", encodeUsing, Some(TextGates.vocabOracleSql)),

    // Offline-train / online-tokenize for BPE: the merge table trains
    // in batch, the stream encodes through the pure column expression
    // — same subword streams as t_bpe_encode, same oracle.
    Gate("st_bpe_encode", bpeUsing, Some(TextGates.bpeEncodeOracleSql)),

    // The hashed-NB twin: seed classifier fit in batch, margins scored
    // on the live stream through the same stateless narrow-map shape.
    Gate("st_nb_score", classifyUsing, Some(classifyOracle)),

    Gate("st_hb_surprisal", surprisalUsing, Some(surprisalOracle)),

    Gate("st_hb_classify", classifyUsing, Some(classifyOracle)),

    Gate("st_hb_encode", encodeUsing, Some(TextGates.vocabOracleSql)),

    // Streaming ingestion writes the training store: each arriving doc
    // appends under its deterministic hash shard — the continuous
    // counterpart of writeShards (epoch placement runs batch-side over
    // the accumulated store at training time). The gate round-trips
    // the REAL parquet store and checks membership against the hash
    // oracle.
    Gate("st_shard_append", (s, d) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graftshardappend").toString
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val q = graft.streaming.StreamOps.shardAppendStream(
        stream, "doc_id", "sa10", 4, s"$tmp/store", s"$tmp/ck")
      q.processAllAvailable(); q.stop()
      // r11: the gate reads THROUGH the compactor — one file per shard,
      // and the oracle's membership law must survive the rewrite
      // unchanged (the compaction-preserves-membership proof, hash-green)
      graft.streaming.StreamOps.compactShardStore(s, s"$tmp/store",
        s"$tmp/compact", sortCols = Seq("doc_id"))
      s.read.parquet(s"$tmp/compact")
        .select(col("doc_id"), col("shard").cast("long"))
        .orderBy(col("doc_id"))
    },
      Some("""SELECT doc_id,
        |  CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':sa10'),
        |    1, 8) AS BIGINT) % 4 AS shard
        |FROM documents
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Upsampling over the live stream: the statement is a stateless
    // narrow map (driver-literal factors, replica explode — no state,
    // no aggregate), so it runs append-mode at ingest; same salt and
    // factors as t_upsample, so the batch oracle replays verbatim.
    Gate("st_hb_upsample",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """index rows by doc_id
          |upsample by lang [en 2.5; de 0.5; zh 0] 'up10'
          |slice columns doc_id rep lang n_chars
          |""".stripMargin, "st_hb_upsample_out")
        .orderBy(col("doc_id"), col("rep")),
      Some(TextGates.upsampleOracleSql)),

    // encode→decode chained OVER THE LIVE STREAM through the closed
    // DSL: the stream tokenizes under the batch-fitted vocabulary and
    // immediately inverts — both stateless narrow maps, and the round
    // trip shares the batch decode oracle.
    Gate("st_hb_decode",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """encode text using corpus 64
          |decode token_ids using corpus 64
          |slice columns doc_id text_decoded
          |""".stripMargin, "st_hb_decode_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some(TextGates.vocabDecodeOracleSql)),

    Gate("st_hb_bpe", bpeUsing, Some(TextGates.bpeEncodeOracleSql)),

    // WordPiece offline-fit/online-encode (r11): vocabulary fits on
    // the batch configuration at translation time, the live stream
    // greedy-encodes as a stateless narrow map (no distinct-word memo
    // — a shuffle would break append mode). Shares the batch chain's
    // round-unrolled oracle.
    Gate("st_hb_wordpiece",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """wordpiece text using corpus 6
          |slice columns doc_id wp
          |""".stripMargin, "st_hb_wordpiece_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some(TextGates.wordPieceStreamOracleSql)),

    // Decontamination AT INGEST (r11): the eval configuration's
    // distinct 4-grams become a broadcast literal set at translation
    // time; the live stream flags each doc via a stateless
    // arrays_overlap narrow map — no aggregation, no state. Shares
    // hb_decontaminate_cfg's oracle (same 25-doc eval slice).
    Gate("st_hb_decon",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """only (doc_id >= 25)
          |decon text using eval 4
          |slice columns doc_id contaminated
          |""".stripMargin, "st_hb_decon_out",
        resolve = {
          case "eval" => Gate.t(s, d, "documents")
            .filter(col("doc_id") < 25)
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some(HbGates.deconCfgOracleSql)),

    // LOSSLESS round trip AT INGEST (r12 — `bpe ids … using` +
    // `decode ids … using`): encode to GPT-2-layout ids and decode
    // back inside ONE streaming program, both sides under the SAME
    // offline table (store-shared, nothing refits twice). The oracle
    // is the losslessness contract itself: text_decoded ≡ text,
    // hash-compared byte for byte.
    Gate("st_hb_ids_roundtrip",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """bpe ids text using corpus 6
          |decode ids token_ids using corpus 6
          |slice columns doc_id text_decoded
          |""".stripMargin, "st_hb_ids_roundtrip_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, text AS text_decoded FROM documents
             |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Unigram trainer-input ids AT INGEST (r12 — `unigram ids …
    // using`): refined model offline, compiled Viterbi + constant-
    // folded id map on the stream. Shares hb_unigram_ids' oracle.
    Gate("st_hb_unigram_ids",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """unigram ids text using corpus 16
          |slice columns doc_id ids_str n_ids
          |""".stripMargin, "st_hb_unigram_ids_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some(TextGates.unigramIdsOracleSql)),

    // BERT input_ids AT INGEST (r12 — `wordpiece ids … using`): the
    // vocabulary fits offline on the batch configuration; the stream
    // emits vocabFrame-layout id arrays via the stateless greedy
    // encode. Shares t_wordpiece_ids' full oracle.
    Gate("st_hb_wordpiece_ids",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """wordpiece ids text using corpus 6
          |slice columns doc_id ids_str n_ids
          |""".stripMargin, "st_hb_wordpiece_ids_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some(TextGates.wordPieceIdsOracleSql)),

    // WordPiece reserved tags AT INGEST (r14 — `wordpiece ids … using
    // … tags`): the vocabulary fits offline on the configuration with
    // the tag text EXCLUDED (and the tags in the stored-model key);
    // the live stream segments each document around the tags and
    // encodes them as dedicated ids N+1+k. The tagged fit corpus's
    // whitespace tokens equal the raw text's, so the gate shares
    // t_wordpiece_specials' full oracle.
    Gate("st_hb_wordpiece_tags", (s, d) => {
      val tagged = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("doc_id"),
          concat(lit("<|DOC|> "), col("text"), lit(" <|END|>"))
            .as("tagged"))
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      graft.streaming.StreamHb.runToMemory(
        """wordpiece ids tagged using corpus 6 tags '<|DOC|>' '<|END|>'
          |slice columns doc_id ids_str n_ids
          |""".stripMargin, tagged(stream), "st_hb_wordpiece_tags_out",
        resolve = {
          case "corpus" => tagged(Gate.t(s, d, "documents"))
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id"))
    },
      Some(TextGates.wordPieceSpecialsOracleSql)),

    // TRAINABLE language ID AT INGEST (r14 — `langid … using`): the
    // multiclass char-trigram NB fits offline on the labeled batch
    // configuration; the live stream adds lang_pred via the
    // zero-shuffle literal-map argmax (LangId.withLangNarrow —
    // bit-identical to the aggregate path, LangIdSpec). LEFT-shaped
    // oracle: no-evidence rows keep NULL lang_pred (a stream cannot
    // drop rows by aggregation).
    Gate("st_hb_langid",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """langid text using corpus
          |slice columns doc_id lang lang_pred
          |""".stripMargin, "st_hb_langid_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some("WITH " + TextGates.langIdCtesSql + "\n" +
        """SELECT d.doc_id, d.lang, p.lang_pred
          |FROM documents d LEFT JOIN pred p
          |  ON p.doc_id = d.doc_id AND p.rn = 1
          |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin)),

    // Unigram reserved tags AT INGEST (r14 — `unigram ids … using …
    // tags`): same discipline for the third family; shares
    // t_unigram_specials' full oracle.
    Gate("st_hb_unigram_tags", (s, d) => {
      val tagged = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("doc_id"),
          concat(lit("<|DOC|> "), col("text"), lit(" <|END|>"))
            .as("tagged"))
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      graft.streaming.StreamHb.runToMemory(
        """unigram ids tagged using corpus 16 tags '<|DOC|>' '<|END|>'
          |slice columns doc_id ids_str n_ids
          |""".stripMargin, tagged(stream), "st_hb_unigram_tags_out",
        resolve = {
          case "corpus" => tagged(Gate.t(s, d, "documents"))
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id"))
    },
      Some(TextGates.unigramSpecialsOracleSql)),

    // Trainer-input ids AT INGEST (r12 — `bpe ids … using`): the byte
    // table fits offline on the batch configuration; the live stream
    // emits GPT-2-layout id arrays (plus the row-printable space-joined
    // form) as a stateless codegen'd narrow map. Shares hb_bpe_ids'
    // full oracle.
    // Tokenizer OBSERVABILITY at ingest (r13 — `fertility … using`):
    // per-document words/chars/n_ids plus fertility and compression
    // permilles under the offline-fit byte table — the report that
    // tells an ingest operator the live stream's tokenization quality
    // without waiting for the batch roll-up. Stateless codegen'd
    // narrow map, micro-batch floor-bound like the other scorers; ONE
    // oracle replays the six rounds and the per-doc arithmetic.
    // SFT trainer inputs AT INGEST (r13 — `sft … using`): the
    // specials-aware byte table fits offline on the configuration's
    // rendered pairs; the live stream renders each (prompt, response)
    // pair with the RESERVED chat tags, encodes, and reports the exact
    // token-level loss boundary — all stateless narrow maps. The gate
    // derives the pair stream from the documents stream (the
    // t_bpe_specials halving) and shares that fixture's full oracle
    // minus the packing stage.
    Gate("st_hb_sft", (s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      def toPairs(df: org.apache.spark.sql.DataFrame) = {
        val tk = filter(
          graft.operators.Decontaminate.tokens(col("text")),
          w => length(w) > 0)
        val n = size(tk)
        val half = floor((n + lit(1)) / lit(2)).cast("int")
        df.select(col("doc_id"),
            array_join(slice(tk, lit(1), half), " ").as("prompt"),
            array_join(slice(tk, half + 1, n - half), " ")
              .as("response"))
          .filter(length(col("response")) > 0)
      }
      graft.streaming.StreamHb.runToMemory(
        """sft prompt response using corpus 6
          |slice columns doc_id ids_str n_ids loss_start
          |""".stripMargin, toPairs(stream), "st_hb_sft_out",
        resolve = {
          case "corpus" => toPairs(Gate.t(s, d, "documents"))
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id"))
    },
      Some(TextGates.sftStreamOracleSql)),

    Gate("st_hb_fertility",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """fertility text using corpus 6
          |slice columns doc_id words chars n_ids fertility_permille compression_permille
          |""".stripMargin, "st_hb_fertility_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some(TextGates.fertilityStreamOracleSql)),

    Gate("st_hb_bpe_ids",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """bpe ids text using corpus 6
          |slice columns doc_id ids_str n_ids
          |""".stripMargin, "st_hb_bpe_ids_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some(TextGates.hbBpeIdsOracleSql)),

    // INGEST-side composition (r12): decontaminate → drop flagged →
    // fill-in-middle, ONE streaming program — the n-gram eval set
    // broadcasts at translation time, both transforms are stateless
    // narrow maps, and the whole chain is append-safe. One oracle
    // replays the gram flags, the filter and every FIM token boundary
    // over the surviving docs.
    Gate("st_hb_ingest_e2e",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """only (doc_id >= 25)
          |decon text using eval 4
          |only (! contaminated)
          |index rows by doc_id
          |fim text
          |create column doc_id keys
          |slice columns doc_id fim fim_applied n_tokens
          |""".stripMargin, "st_hb_ingest_e2e_out",
        resolve = {
          case "eval" => Gate.t(s, d, "documents")
            .filter(col("doc_id") < 25)
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some("""WITH dtk AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |dgr AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(tk) - 3, 0) + 1),
        |      i -> array_to_string(tk[i:i+3], ' '))) AS gram
        |  FROM dtk),
        |egr AS (SELECT DISTINCT gram FROM dgr WHERE doc_id < 25),
        |nghit AS (
        |  SELECT DISTINCT g.doc_id
        |  FROM dgr g JOIN egr USING (gram) WHERE g.doc_id >= 25),
        |surv AS (
        |  SELECT d.doc_id, d.tk FROM dtk d LEFT JOIN nghit h USING (doc_id)
        |  WHERE d.doc_id >= 25 AND h.doc_id IS NULL),
        |cut AS (
        |  SELECT doc_id, tk, CAST(len(tk) AS INTEGER) AS n,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim'), 1, 8)
        |      AS BIGINT) % 10000 AS bk,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim:a'), 1, 8)
        |      AS BIGINT) % (len(tk) + 1) AS ca,
        |    CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':fim:b'), 1, 8)
        |      AS BIGINT) % (len(tk) + 1) AS cb
        |  FROM surv),
        |pc AS (
        |  SELECT doc_id, tk, n, bk,
        |    CAST(least(ca, cb) AS INTEGER) AS lo,
        |    CAST(greatest(ca, cb) AS INTEGER) AS hi
        |  FROM cut)
        |SELECT doc_id,
        |  CASE WHEN bk < 9000 THEN array_to_string(
        |      ['<PRE>'] || tk[1:lo] ||
        |      ['<SUF>'] || tk[hi+1:n] ||
        |      ['<MID>'] || tk[lo+1:hi], ' ')
        |    ELSE array_to_string(tk, ' ') END AS fim,
        |  (bk < 9000) AS fim_applied,
        |  CAST(n AS BIGINT) AS n_tokens
        |FROM pc
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Fill-in-the-middle AT INGEST (r12 — `fim`): the PSM reorder is a
    // salted narrow map on the frame key, so the SAME program text runs
    // batch and streaming; shares t_fim's oracle.
    Gate("st_hb_fim",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """index rows by doc_id
          |fim text
          |create column doc_id keys
          |slice columns doc_id fim fim_applied n_tokens
          |""".stripMargin, "st_hb_fim_out")
        .orderBy(col("doc_id")),
      Some(TextGates.fimOracleSql)),

    // SEMANTIC decontamination AT INGEST (r12 — `decon semantic …
    // using`): the eval configuration's quantized vectors + norms
    // become ONE typed-literal pair at translation time; the live
    // stream scores each vector via the native codegen'd MaxCosQ
    // narrow map — no join, no state, append-safe. Same
    // scale-proportional eval slice (vec_id % 100 = 7) and 0.25
    // threshold as s_mined_pairs' decon stage; full fixed-point oracle.
    Gate("st_hb_semdecon",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "embeddings",
        """only ((vec_id % 100) != 7)
          |decon semantic embedding using evalemb
          |slice columns vec_id max_cos_fp contaminated
          |""".stripMargin, "st_hb_semdecon_out",
        resolve = {
          case "evalemb" => Gate.t(s, d, "embeddings")
            .filter(col("vec_id") % 100 === 7)
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("vec_id")),
      Some(SimilarityGates.semDeconMod100OracleSql)),

    // Unigram-LM offline-fit/online-encode (r11): the model (candidate
    // fit + Viterbi-EM) fits on the batch configuration at translation
    // time, the stream runs the compiled Viterbi DP as a stateless
    // narrow map. Shares the batch chain's unrolled oracle.
    Gate("st_hb_unigram",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """unigram text using corpus 16
          |slice columns doc_id ug
          |""".stripMargin, "st_hb_unigram_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some(TextGates.unigramStreamOracleSql)),

    // Byte-level offline-fit/online-encode (r11): the LOSSLESS
    // tokenizer's streaming pairing — merge table fits on the batch
    // configuration at translation time, the live stream encodes
    // through the codegen'd byte expression, stateless append.
    Gate("st_hb_bpe_bytes",
      (s, d) => graft.streaming.StreamHb.runTable(s, d, "documents",
        """bpe bytes text using corpus 6
          |slice columns doc_id bpe
          |""".stripMargin, "st_hb_bpe_bytes_out",
        resolve = {
          case "corpus" => Gate.t(s, d, "documents")
          case other => throw new NoSuchElementException(other)
        })
        .orderBy(col("doc_id")),
      Some(TextGates.bpeBytesStreamOracleSql))
  )
}
