package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hb.{Engine, HbParser, Printer}
import graft.hb.Ast._

/** `.hb` authoring surface for Structured Streaming.
  *
  * The reference is batch-only (SURVEY §2.8 — one-shot sync jobs,
  * kubernetes/sync-job.yaml:1-16), so this is beyond-parity polish: the
  * SAME program text an author runs in batch drives an incremental
  * streaming query, for the statement subset whose Engine translation is
  * incremental-safe. Everything else — whole-frame sorts and windows,
  * corpus-wide dedup/cluster/scrub, pivot/buckets/k-means,
  * extrapolation, two-pass dense-columns — is rejected UP FRONT with the
  * offending statement named (via [[Printer]]), instead of surfacing as
  * Spark's UnsupportedOperationChecker error at `start()`.
  *
  * Admissible statements and their streaming semantics:
  *  - narrow row ops (`create column` / `rename` / `slice` / `only` /
  *    `dense rows` / `numeric columns` / `each` / `chunk` / `sample` /
  *    `mix` / `split` / `index rows by`): identical to batch, append
  *    mode — all compile to stateless projections/filters.
  *  - `group by <cols> -> <reduction>`: the Engine's decimal-exact
  *    aggregation in COMPLETE output mode (the memory/console sink
  *    shape).
  *  - `window <ts> <minutes> [<delay>] group by <cols> -> <reduction>`:
  *    watermarked tumbling event-time aggregation in APPEND mode — the
  *    production sink shape. A bucket emits once the watermark (max
  *    event time − delay) passes its end; buckets still open when a
  *    finite replay ends stay in state (exactly the streaming
  *    semantics), so a replayed batch oracle must cut at the watermark.
  *  - `… using <config>` statements: the offline-fit/online-score
  *    pairing, translated by [[Engine.applyStatement]] like every other
  *    statement — the model fits at translation time on the batch
  *    configuration the runner's `resolve` binds, and the stream side
  *    is a stateless zero-shuffle narrow map (append-safe).
  *  - `dedup exact <col>`: streaming-native arrival-order survivor via
  *    `dropDuplicates` on the SAME normalized-text fingerprint as the
  *    batch operator (Dedup.fingerprint). Documented deviation: batch
  *    keeps the minimum frame key, a stream keeps the first arrival —
  *    on an ordered replay they agree; state is bounded by the
  *    watermark if the caller sets one upstream.
  *
  * Key discipline: a streaming source has no ingest ordinal
  * (monotonically_increasing_id is not allowed on streaming frames), so
  * the frame key starts null and `keys` is only meaningful after an
  * `index rows by` or `group by` has set it — validated here, loudly.
  */
object StreamHb {

  /** Expressions whose compilation needs frame order or a whole-frame
    * window — inadmissible anywhere in a streaming program. */
  private def badExpr(e: Expr): Option[String] = e match {
    case _: Moving | _: Expanding | _: LinReg => Some(Printer.print(e))
    case OrdinalsExpr => Some("ordinals")
    case Bin(_, l, r) => badExpr(l).orElse(badExpr(r))
    case Not(x) => badExpr(x)
    case IfElse(c, t, f) =>
      badExpr(c).orElse(badExpr(t)).orElse(badExpr(f))
    case IntCast(x) => badExpr(x)
    case Contains(x, vs) =>
      (x +: vs).flatMap(badExpr).headOption
    case TextSig(_, x) => badExpr(x)
    case RegexExtract(x, _, _) => badExpr(x)
    case FormatDate(x, _) => badExpr(x)
    case _ => None
  }

  private def usesKeys(e: Expr): Boolean = e match {
    case KeysExpr => true
    case Bin(_, l, r) => usesKeys(l) || usesKeys(r)
    case Not(x) => usesKeys(x)
    case IfElse(c, t, f) => usesKeys(c) || usesKeys(t) || usesKeys(f)
    case IntCast(x) => usesKeys(x)
    case Contains(x, vs) => (x +: vs).exists(usesKeys)
    case TextSig(_, x) => usesKeys(x)
    case RegexExtract(x, _, _) => usesKeys(x)
    case FormatDate(x, _) => usesKeys(x)
    case _ => false
  }

  private def exprsOf(st: Statement): Seq[Expr] = st match {
    case CreateColumn(_, e) => Seq(e)
    case Only(e) => Seq(e)
    case IndexBy(e) => Seq(e)
    case GroupBy(_, MaxBy(e)) => Seq(e)
    case GroupBy(_, MinBy(e)) => Seq(e)
    case _ => Nil
  }

  /** Reject a statement whose plan cannot run incrementally; returns the
    * human-readable reason, None if admissible. */
  private def inadmissible(st: Statement): Option[String] = st match {
    case _: Comment | _: CreateColumn | _: RenameColumn |
        _: SliceColumns | _: Only | DenseRows | NumericColumns |
        _: IndexBy | _: Each | _: Chunk | _: SampleBy | _: MixBy |
        _: SplitBy | _: DedupExact => None
    case _: WindowAgg => None // watermarked event-time agg — append-safe
    // the planned (budget) form derives factors from whole-frame
    // masses — not incremental; the factor form is a stateless narrow
    // map (replica explode, no aggregate, no state) — upsample at
    // ingest; its frame-key requirement is checked in validate like
    // `mix`
    case u: Upsample if u.plan.isDefined =>
      Some("budget planning aggregates whole-frame masses")
    case _: Upsample => None
    // offline-fit / online-score: the model fits on a BATCH
    // configuration at translation time; the stream side is a
    // stateless narrow map — append-safe by construction
    case _: ScoreUsing | _: ClassifyUsing | _: EncodeUsing |
        _: DecodeUsing | _: BpeUsing | _: BpeBytesUsing |
        _: WordPieceUsing | _: UnigramUsing | _: DeconUsing |
        _: SemDeconUsing | _: BpeIdsUsing |
        _: WordPieceIdsUsing | _: UnigramIdsUsing |
        _: BpeIdsDecodeUsing | _: FertilityUsing |
        _: SftUsing | _: LangIdUsing => None
    case GroupBy(_, RowsBy(_)) => None
    case GroupBy(_, _) =>
      Some("maxby/minby needs a whole-group ordering window")
    case _: SortByColumn => Some("global sort is not incremental")
    case DenseColumns => Some("dense columns needs a full-frame pass")
    case _: Pivot => Some("pivot aggregates the whole frame")
    case _: Buckets => Some("buckets rank the whole frame")
    case _: KMeansCluster => Some("k-means fits on the whole frame")
    case _: LinearExtrapolation =>
      Some("extrapolation fits on the whole frame")
    case _: DedupMinhash | _: DedupSimhash | _: ClusterMinhash |
        _: Scrub | _: DedupSubstrings =>
      Some("near-dup/scrub evidence spans the whole corpus")
    case _: Pack => Some("packing scans the whole frame in key order")
    case _: PackBins => Some("bin packing scans the whole frame in size order")
    case _: EmitPacked | _: EmitAligned =>
      Some("sequence emit aggregates whole-frame placements")
    case _: Pairs =>
      Some("preference pairing aggregates whole prompt groups")
    case _: WordPieceEnc =>
      Some("wordpiece merges fit on the whole frame")
    case _: UnigramEnc =>
      Some("unigram candidates fit on the whole frame")
    case _: Neighbors => Some("neighbors scans the whole frame")
    case _: Encode => Some("vocabulary fit scans the whole frame")
    case _: RebalanceBy =>
      Some("rebalancing rates derive from whole-frame counts")
    case _: TopBy => Some("top-per-stratum ranks the whole frame")
    case _: TopFracBy =>
      Some("fractional selection ranks the whole stratum")
    case _: BpeEnc => Some("BPE merges fit on the whole frame")
    case _: BpeBytesEnc => Some("BPE merges fit on the whole frame")
    case _: BpeIdsEnc => Some("BPE merges fit on the whole frame")
    case _: WordPieceIdsEnc =>
      Some("wordpiece merges fit on the whole frame")
    case _: UnigramIdsEnc =>
      Some("unigram candidates fit on the whole frame")
    case _: TemperatureMixBy =>
      Some("temperature mix rates derive from whole-frame counts")
    case _: BpeBytesDecode => None // stateless narrow map
    case _: SftChat => Some("sft's BPE merges fit on the whole frame " +
      "(use `sft … using <conf>` at ingest)")
    // stateless narrow map — the merge table rides on the ids column's
    // METADATA from an earlier `… using` encode statement (the encode
    // cases attach it); a metadata-less column raises in translation
    case _: BpeIdsDecode => None
    case _: FimTransform => None // salted narrow map on the frame key
    case _: Shuffle => Some("epoch order numbers the whole frame")
    case _: Curriculum => Some("curriculum bands rank the whole frame")
    case _: Shards => Some("shard placement needs the whole-frame count")
    case _: Diverse => Some("k-center selection scans the whole frame")
  }

  /** Loudly validate a program for streaming execution. */
  def validate(program: Program): Unit = {
    var keyed = false
    program.transformations.foreach { st =>
      inadmissible(st).foreach { why =>
        throw new IllegalArgumentException(
          s"not streamable: `${Printer.print(st).trim}` — $why")
      }
      exprsOf(st).flatMap(badExpr).headOption.foreach { bad =>
        throw new IllegalArgumentException(
          s"not streamable: `${Printer.print(st).trim}` — " +
            s"`$bad` needs frame order / a whole-frame window")
      }
      if (!keyed && exprsOf(st).exists(usesKeys))
        throw new IllegalArgumentException(
          s"`keys` before any `index rows by`/`group by` in " +
            s"`${Printer.print(st).trim}`: a stream has no ingest ordinal")
      // `mix` consumes the frame KEY (stratified sampling salts the row
      // id), which is null on an un-keyed stream — reject it up front
      // with the statement named instead of failing later inside the
      // running query (the same contract the `keys` expression gets)
      if (!keyed &&
        (st.isInstanceOf[MixBy] || st.isInstanceOf[Upsample] ||
          st.isInstanceOf[FimTransform]))
        throw new IllegalArgumentException(
          s"`${Printer.print(st).trim}` before any `index rows by`/" +
            s"`group by`: mix/upsample/fim salt the frame key and a " +
            s"stream has no ingest ordinal")
      if (st.isInstanceOf[IndexBy] || st.isInstanceOf[GroupBy] ||
        st.isInstanceOf[WindowAgg])
        keyed = true
    }
  }

  /** Complete mode iff the program aggregates without an event-time
    * window; a watermarked `window … group by` runs in append. */
  def outputMode(program: Program): String =
    if (program.transformations.exists(_.isInstanceOf[GroupBy]))
      "complete"
    else "append"

  /** True iff the program compiles to a STATEFUL streaming plan (state
    * stores: aggregations, event-time windows, streaming dedup) — the
    * queries whose state partition count should follow data volume
    * (StreamOps.stateParallelism), not the session's shuffle constant. */
  def stateful(program: Program): Boolean =
    program.transformations.exists {
      case _: GroupBy | _: WindowAgg | _: DedupExact => true
      case _ => false
    }

  /** Apply a validated program to a streaming frame (no sink — the
    * caller picks sink/trigger). The returned frame is streaming.
    * Every statement is translated by [[Engine.applyStatement]], with
    * `resolve` and `store` as its model context (the `… using <conf>`
    * statements fit there, at translation time, on the resolved BATCH
    * frames); this adds only what is streaming-specific: the null key
    * start, one round-robin spread for compute-heavy programs, and the
    * arrival-order `dedup exact`. */
  def apply(program: Program, stream: DataFrame,
      resolve: String => DataFrame = Engine.noResolver,
      store: Option[graft.cache.LineageCache] = None): DataFrame = {
    validate(program)
    // layout-decouple compute-heavy programs up front: the file source
    // hands each micro-batch ONE task per file, which serializes every
    // narrow encode/score/decon fold (st_hb_ingest_e2e measured its
    // whole decon+fim chain in one 2.06 s task, r16). One round-robin
    // exchange of the raw rows per micro-batch spreads the chain across
    // cores; cheap programs skip it. Replaces the per-statement
    // repartitions the tokenizer translations used to carry.
    val heavy = program.transformations.exists {
      case _: ScoreUsing | _: ClassifyUsing | _: LangIdUsing |
          _: EncodeUsing | _: DecodeUsing | _: BpeUsing |
          _: BpeBytesUsing | _: WordPieceUsing | _: UnigramUsing |
          _: DeconUsing | _: SemDeconUsing | _: BpeIdsUsing |
          _: WordPieceIdsUsing | _: UnigramIdsUsing |
          _: BpeIdsDecodeUsing | _: FertilityUsing | _: SftUsing |
          _: FimTransform | _: BpeBytesDecode | _: BpeIdsDecode |
          _: DedupExact => true
      case _ => false
    }
    val spreadStream =
      if (heavy)
        stream.repartition(
          stream.sparkSession.sparkContext.defaultParallelism)
      else stream
    val start = Engine.HbFrame(
      spreadStream.withColumn(Engine.KEY, lit(null).cast("long")),
      Seq(col(Engine.KEY).asc))
    program.transformations.foldLeft(start) {
      // streaming-native exact dedup: first arrival survives, state on
      // the 16-byte fingerprint only (documents never enter state)
      case (f, DedupExact(c)) =>
        f.copy(df = f.df
          .withColumn("__fp", graft.operators.Dedup.fingerprint(col(c)))
          .dropDuplicates("__fp")
          .drop("__fp"))
      case (f, st) => Engine.applyStatement(f, st, resolve, store)
    }.result
  }

  /** Parse + validate + run to a memory sink synchronously (the gate /
    * test shape — AvailableNow over the batch fixtures); returns the
    * completed result table. Models fit in [[apply]], at translation
    * time, in the caller's session; a stateful program with a known
    * `inputBytes` runs with [[StreamOps.stateParallelism]] state
    * partitions ([[StreamOps.runToMemory]]). */
  def runToMemory(text: String, stream: DataFrame, queryName: String,
      resolve: String => DataFrame = Engine.noResolver,
      store: Option[graft.cache.LineageCache] = None,
      inputBytes: Long = -1L): DataFrame = {
    val program = HbParser.parse(text)
    StreamOps.runToMemory(apply(program, stream, resolve, store),
      outputMode(program), queryName,
      if (stateful(program)) inputBytes else -1L)
  }

  /** Convenience: run a program over the streamed events table. */
  def runEvents(spark: SparkSession, dir: String, text: String,
      queryName: String): DataFrame =
    runToMemory(text,
      StreamOps.readEventsStream(spark, dir), queryName,
      inputBytes = StreamOps.tableBytes(dir, "events"))

  /** Convenience: run a program over any streamed test table (schema
    * from the batch file, glob-filtered file source — the same shape
    * readEventsStream uses, minus the events-only ts normalization).
    * `resolve` binds model configurations for the `… using` statements
    * (batch frames — the offline-fit half). */
  def runTable(spark: SparkSession, dir: String, table: String,
      text: String, queryName: String,
      resolve: String => DataFrame = Engine.noResolver,
      store: Option[graft.cache.LineageCache] = None): DataFrame = {
    val schema = spark.read.parquet(s"$dir/$table.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
    runToMemory(text, stream, queryName, resolve, store,
      inputBytes = StreamOps.tableBytes(dir, table))
  }
}
