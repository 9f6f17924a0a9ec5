package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
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
  *  - `score/classify/encode/bpe <col> using <config> …`: the
  *    offline-fit/online-score pairing — the model fits at translation
  *    time on the batch configuration the runner's `resolve` binds, and
  *    the stream side is the corresponding zero-shuffle narrow scorer
  *    (stateless, append-safe). Without a resolver the statement raises
  *    with the configuration named.
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

  /** The no-model resolver: any `… using <conf>` statement raises with
    * the configuration named. */
  private def noResolver(name: String): DataFrame =
    throw new IllegalArgumentException(
      s"statement binds model configuration '$name' but no resolver " +
        "was provided — use StreamHb.apply(program, stream, resolve)")

  /** Apply a validated program to a streaming frame (no sink — the
    * caller picks sink/trigger). The returned frame is streaming.
    *
    * `resolve` binds the MODEL configurations the `score/classify/
    * encode/bpe … using <name>` statements reference: each model fits
    * EAGERLY at translation time on the resolved BATCH frame (the
    * offline-fit half — bounded driver state by each operator's fit
    * contract), and the stream side compiles to the corresponding
    * zero-shuffle narrow scorer (Surprisal.withScoresNarrow /
    * Classifier.withMarginsNarrow / Vocab.encodeNarrow /
    * Bpe.encodeColFast) — the CCNet-online pairing, authorable from
    * the closed DSL.
    *
    * `store` (optional) is the PERSISTED-model tier: with a
    * [[graft.cache.LineageCache]] bound, every `… using <conf>` model
    * resolves through its family's `fitStored` path keyed by the
    * configuration NAME + fit parameters — a later session (new JVM,
    * same store root) translates the same program with ZERO refit jobs
    * (StoredModelSpec pins it with a job counter), so the stream keeps
    * encoding under YESTERDAY's vocabulary across restarts — the
    * subword-id stability incremental ingest needs. Key hygiene is the
    * caller's (the Bpe.fitStored contract): rename the configuration
    * when the fit corpus is supposed to change. With or without a
    * store, the BPE and WordPiece tables come from their family's one
    * trainer and are memoised in the open [[graft.Scope]], so two
    * statements binding one table (`bpe ids … using c` + `decode ids
    * … using c`) fit it once. */
  def apply(program: Program, stream: DataFrame,
      resolve: String => DataFrame = noResolver,
      store: Option[graft.cache.LineageCache] = None): DataFrame = {
    validate(program)
    // the generic persisted-model hook for the families whose fit
    // RETURNS a bounded model DataFrame (surprisal/classifier): store
    // the table under (kind, conf, params), recompute only on miss
    def storedFrame(kind: String, parts: Seq[String])(
        compute: => DataFrame): DataFrame = store match {
      case Some(lc) => lc.getOrCompute(lc.key(kind, parts))(compute)
      case None => compute
    }
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
      case (f, ScoreUsing(c, conf, b, salt)) =>
        val (mp, mc) = graft.operators.Surprisal.modelMaps(
          storedFrame("surprisal", Seq(conf, c, b.toString, salt))(
            graft.operators.Surprisal.fit(resolve(conf), c, b, salt)))
        f.copy(df = graft.operators.Surprisal
          .withScoresNarrow(f.df, mp, mc, c, b, salt))
      case (f, LangIdUsing(c, conf)) =>
        // trainable language ID at ingest: the multiclass trigram NB
        // fits offline on the labeled configuration (its `lang`
        // column); the stream side is the zero-shuffle literal-map
        // argmax — no-evidence rows keep NULLs
        // key carries the EFFECTIVE buckets/salt (the fit defaults)
        // like the classifier/surprisal keys: if those defaults are
        // ever surfaced or changed, a persisted store must not serve a
        // model fit under different hashing parameters
        val maps = graft.operators.LangId.modelMaps(
          storedFrame("langid", Seq(conf, c, "4096", "lid"))(
            graft.operators.LangId.fit(resolve(conf), "lang", c)))
        f.copy(df = graft.operators.LangId
          .withLangNarrow(f.df, maps, c))
      case (f, ClassifyUsing(c, pos, neg, b, salt)) =>
        val (mp, mn, np, nn) = graft.operators.Classifier.modelMaps(
          storedFrame("classifier", Seq(pos, neg, c, b.toString, salt))(
            graft.operators.Classifier.fit(resolve(pos), resolve(neg),
              c, b, salt)))
        f.copy(df = graft.operators.Classifier
          .withMarginsNarrow(f.df, mp, mn, np, nn, c, b, salt))
      case (f, EncodeUsing(c, conf, size)) =>
        val vm = graft.operators.Vocab.vocabMap(store match {
          case Some(lc) => graft.operators.Vocab.fitStored(
            resolve(conf), c, size, conf, lc)
          case None => graft.operators.Vocab.fit(resolve(conf), c, size)
        })
        f.copy(df = graft.operators.Vocab.encodeNarrow(f.df, c, vm))
      case (f, DecodeUsing(c, conf, size)) =>
        // the model fits on the configuration's TEXT column ("text" by
        // the corpus contract); the stream side inverts the id arrays
        val vm = graft.operators.Vocab.vocabMap(store match {
          case Some(lc) => graft.operators.Vocab.fitStored(
            resolve(conf), "text", size, conf, lc)
          case None => graft.operators.Vocab.fit(resolve(conf), "text", size)
        })
        f.copy(df = graft.operators.Vocab.decodeNarrow(f.df, c, vm))
      case (f, BpeUsing(c, conf, n)) =>
        val merges = graft.operators.Bpe.fitStored(resolve(conf), c, n,
          1L, conf, store)
        f.copy(df = f.df.withColumn("bpe",
          graft.operators.Bpe.encodeColFast(col(c), merges)))
      case (f, UnigramIdsUsing(c, conf, n, tags)) =>
        // unigram trainer-input ids at ingest: refined model fits
        // offline (stored tier when bound; reserved tags excluded from
        // the fit and part of the store key); the stream runs the
        // compiled Viterbi + the constant-folded id map, tags as
        // dedicated ids above the piece layout
        val ugDf = resolve(conf)
        val model = store match {
          case Some(lc) => graft.operators.Unigram.fitStored(
            ugDf, c, n, conf, lc, specials = tags)
          case None => graft.operators.Unigram.fitEm(
            graft.functions.SpecialTokens.segmentedCorpus(ugDf, c, tags),
            c, n)
        }
        val ugIds =
          if (tags.isEmpty)
            graft.operators.Unigram.encodeIdsCol(col(c), model)
          else graft.operators.Unigram.encodeIdsCol(col(c), model, tags, 6)
        f.copy(df = f.df
          .withColumn("token_ids", ugIds)
          .withColumn("ids_str",
            concat_ws(" ", col("token_ids").cast("array<string>")))
          .withColumn("n_ids",
            when(col("token_ids").isNotNull,
              size(col("token_ids")).cast("long"))))
      case (f, WordPieceIdsUsing(c, conf, n, tags)) =>
        // BERT input_ids at ingest: vocabulary fits offline (persisted
        // under a bound store; reserved tags excluded from the fit and
        // part of the store key); the stream side is the stateless
        // greedy id encode, repartitioned off the one-task-per-file
        // source, tags as dedicated ids N+1+k
        val vocab = graft.operators.WordPiece.vocabularyStored(
          resolve(conf), c, n, 1L, conf, store, specials = tags)
        val wpIds =
          if (tags.isEmpty)
            graft.operators.WordPiece.encodeIdsCol(col(c), vocab)
          else
            graft.operators.WordPiece.encodeIdsCol(col(c), vocab, tags, 16)
        f.copy(df = f.df
          .withColumn("token_ids", wpIds)
          .withColumn("ids_str",
            concat_ws(" ", col("token_ids").cast("array<string>")))
          .withColumn("n_ids",
            when(col("token_ids").isNotNull,
              size(col("token_ids")).cast("long"))))
      case (f, BpeIdsUsing(c, conf, n, tags)) =>
        // trainer-input ids at ingest: same offline byte fit as
        // `bpe bytes ... using` (reserved tags excluded from it and
        // part of the store key), stream side emits the id ARRAYS plus
        // the row-printable space-joined form
        val merges = graft.operators.Bpe.fitStored(resolve(conf), c, n,
          1L, conf, store, byteLevel = true, specials = tags)
        f.copy(df = f.df
          .withColumn("token_ids",
            graft.operators.Bpe.encodeIdsCol(col(c), merges, tags))
          .withMetadata("token_ids",
            graft.operators.Bpe.mergesMetadata(merges, tags))
          .withColumn("ids_str",
            concat_ws(" ", col("token_ids").cast("array<string>")))
          .withColumn("n_ids",
            when(col("token_ids").isNotNull,
              size(col("token_ids")).cast("long"))))
      case (f, SftUsing(pc, rc, conf, n)) =>
        // SFT trainer inputs at ingest: the specials-aware byte table
        // fits offline on the configuration's RENDERED pairs (reserved
        // chat tags, tag text excluded from the fit; the specials list
        // is part of the store key), the stream renders + encodes +
        // reports the exact boundary as a stateless narrow map
        // same collision discipline as the batch `sft` statement:
        // never silently overwrite a pre-existing output column
        Seq("rendered", "token_ids", "ids_str", "loss_start", "n_ids")
          .foreach(c => require(!f.df.columns.contains(c),
            s"sft: frame already has a '$c' column — rename it first"))
        val sftSp = graft.operators.Sft.Specials
        val fitDf = resolve(conf).withColumn("rendered",
          graft.operators.Sft.render(col(pc), col(rc)))
        val merges = graft.operators.Bpe.fitStored(fitDf, "rendered", n,
          1L, conf, store, byteLevel = true, specials = sftSp)
        f.copy(df = f.df
          .withColumn("rendered",
            graft.operators.Sft.render(col(pc), col(rc)))
          .withColumn("token_ids", graft.operators.Bpe.encodeIdsCol(
            col("rendered"), merges, sftSp))
          .withMetadata("token_ids",
            graft.operators.Bpe.mergesMetadata(merges, sftSp))
          .withColumn("ids_str",
            concat_ws(" ", col("token_ids").cast("array<string>")))
          .withColumn("n_ids",
            when(col("token_ids").isNotNull,
              size(col("token_ids")).cast("long")))
          .withColumn("loss_start",
            graft.operators.Sft.lossStart(col(pc), merges, sftSp)))

      case (f, FertilityUsing(c, conf, n)) =>
        // tokenizer observability at ingest: the byte table fits
        // offline on the configuration (store-shared with any encode
        // statement on the same column), the stream reports per-doc
        // fertility/compression as a stateless codegen'd narrow map
        val merges = graft.operators.Bpe.fitStored(resolve(conf), c, n,
          1L, conf, store, byteLevel = true)
        val nIds = size(graft.operators.Bpe.encodeIdsCol(col(c), merges))
          .cast("long")
        f.copy(df = f.df
          .withColumn("words",
            graft.functions.TextSignals.tokens(col(c)).cast("long"))
          .withColumn("chars", length(col(c)).cast("long"))
          .withColumn("n_ids", nIds)
          .withColumn("fertility_permille",
            when(col("words") > 0,
              expr("n_ids * 1000L div words")))
          .withColumn("compression_permille",
            when(col("n_ids") > 0,
              expr("chars * 1000L div n_ids"))))

      case (f, BpeIdsDecodeUsing(c, conf, n, tc)) =>
        // lossless inverse under the SAME offline table: the fit column
        // is the `of` clause (default "text"), which must name the
        // column the ENCODE statement fit on — the store key includes
        // it, so matching columns share ONE fit and mismatched columns
        // would silently bind a different table
        val merges = graft.operators.Bpe.fitStored(resolve(conf), tc, n,
          1L, conf, store, byteLevel = true)
        f.copy(df = f.df.withColumn("text_decoded",
          graft.operators.Bpe.decodeIdsCol(col(c), merges)))
      case (f, BpeBytesUsing(c, conf, n)) =>
        // lossless byte-level twin: table fits offline on the
        // configuration, the stream encodes as a stateless narrow map
        val merges = graft.operators.Bpe.fitStored(resolve(conf), c, n,
          1L, conf, store, byteLevel = true)
        f.copy(df = f.df.withColumn("bpe",
          graft.operators.Bpe.encodeBytesCol(col(c), merges)))
      case (f, WordPieceUsing(c, conf, n)) =>
        // WordPiece twin: merges + vocabulary fit offline on the batch
        // configuration; the stream side is the stateless greedy
        // longest-match narrow map (one fold per word occurrence —
        // streams see each doc once, so the batch path's distinct-word
        // memo buys nothing here)
        val vocab = graft.operators.WordPiece.vocabularyStored(
          resolve(conf), c, n, 1L, conf, store)
        // the file source hands a micro-batch ONE task per file — one
        // narrow round-robin exchange spreads the compiled encode
        // across cores (the bpeEncodeStream precedent, StreamOps.scala)
        f.copy(df = f.df
          .withColumn("__wps",
            graft.operators.WordPiece.encodeCol(col(c), vocab))
          .withColumn("wp", array_join(col("__wps"), " "))
          .withColumn("n_pieces",
            when(col("__wps").isNotNull, size(col("__wps")).cast("long")))
          .drop("__wps"))
      case (f, DeconUsing(c, conf, n)) =>
        // decontamination at ingest: the eval configuration's distinct
        // n-grams collect into ONE literal array (require-bounded, the
        // narrow-scorer contract) and the stream side is a stateless
        // arrays_overlap — no aggregation, no state, append-safe
        val evalGrams = graft.operators.Decontaminate.ngramRows(
          resolve(conf).select(lit(0L).as("__eid"), col(c)),
          "__eid", graft.operators.Decontaminate.tokens(col(c)), n)
          .select("gram").distinct().collect().map(_.getString(0))
        require(evalGrams.length <= 65536,
          s"decon using: ${evalGrams.length} distinct eval grams exceed " +
            "the 65536 literal bound — decontaminate in batch (DeconOf)")
        val toks = graft.operators.Decontaminate.tokens(col(c))
        val slices = (0 until n).map { i =>
          val sl = if (i == 0) toks
            else slice(toks, lit(i + 1), greatest(size(toks) - i, lit(0)))
          sl.as(s"g$i")
        }
        val grams = filter(
          transform(arrays_zip(slices: _*), z =>
            when(z.getField(s"g${n - 1}").isNotNull,
              concat_ws(" ", (0 until n).map(i => z.getField(s"g$i")): _*))),
          g => g.isNotNull)
        f.copy(df = f.df.withColumn("contaminated",
          coalesce(arrays_overlap(grams,
            array(evalGrams.map(lit).toSeq: _*)), lit(false))))
      case (f, SemDeconUsing(c, conf, thr)) =>
        // SEMANTIC decon at ingest: the eval configuration's quantized
        // vectors + norms collect into ONE typed literal pair
        // (require-bounded, the DeconUsing discipline) and the stream
        // side is the native codegen'd MaxCosQ narrow map — no join, no
        // state, append-safe
        val qc = graft.operators.Similarity.quantize(col(c))
        val ev = resolve(conf)
          .select(graft.operators.Similarity.quantize(col(c)).as("__ev"))
          .select(col("__ev"),
            graft.operators.Similarity.normQ(col("__ev")).as("__en"))
          .collect()
        require(ev.length <= 4096,
          s"decon semantic using: ${ev.length} eval vectors exceed the " +
            "4096 literal bound — decontaminate in batch (SemDeconOf)")
        val evals = ev.map(_.getSeq[Long](0)).toSeq
        val norms = ev.map(_.getDouble(1)).toSeq
        f.copy(df = f.df
          .withColumn("max_cos_fp", graft.functions.MaxCosQ.max_cos_q(
            qc, typedlit(evals), typedlit(norms)))
          .withColumn("contaminated", col("max_cos_fp") >= thr))
      case (f, UnigramUsing(c, conf, n)) =>
        // unigram twin: model fits offline, the stream side is the
        // compiled Viterbi narrow map (repartitioned off the one-task-
        // per-file source like the other tokenizer streams)
        val ugDf = resolve(conf)
        val model = store match {
          case Some(lc) => graft.operators.Unigram.fitStored(
            ugDf, c, n, conf, lc)
          case None => graft.operators.Unigram.fitEm(ugDf, c, n)
        }
        f.copy(df = f.df
          .withColumn("__ups",
            graft.operators.Unigram.encodeCol(col(c), model))
          .withColumn("ug", array_join(col("__ups"), " "))
          .withColumn("n_pieces",
            when(col("__ups").isNotNull, size(col("__ups")).cast("long")))
          .drop("__ups"))
      case (f, st) => Engine.applyStatement(f, st)
    }.result
  }

  /** Parse + validate + run to a memory sink synchronously (the gate /
    * test shape — AvailableNow over the batch fixtures); returns the
    * completed result table. */
  def runToMemory(spark: SparkSession, text: String, stream: DataFrame,
      queryName: String,
      resolve: String => DataFrame = noResolver,
      store: Option[graft.cache.LineageCache] = None,
      inputBytes: Long = -1L): DataFrame = {
    val program = HbParser.parse(text)
    // models fit HERE (translation time), outside the state-partition
    // override, so batch fits keep the session's parallelism
    val out = apply(program, stream, resolve, store)
    def drain(): Unit =
      StreamOps.runDrained(spark, out.writeStream
        .outputMode(outputMode(program))
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow()))
    if (stateful(program) && inputBytes >= 0)
      StreamOps.withStatePartitions(spark,
        StreamOps.stateParallelism(spark, inputBytes))(drain())
    else drain()
    spark.table(queryName)
  }

  /** Convenience: run a program over the streamed events table. */
  def runEvents(spark: SparkSession, dir: String, text: String,
      queryName: String): DataFrame =
    runToMemory(spark, text,
      StreamOps.readEventsStream(spark, dir), queryName,
      inputBytes = StreamOps.tableBytes(dir, "events"))

  /** Convenience: run a program over any streamed test table (schema
    * from the batch file, glob-filtered file source — the same shape
    * readEventsStream uses, minus the events-only ts normalization).
    * `resolve` binds model configurations for the `… using` statements
    * (batch frames — the offline-fit half). */
  def runTable(spark: SparkSession, dir: String, table: String,
      text: String, queryName: String,
      resolve: String => DataFrame = noResolver,
      store: Option[graft.cache.LineageCache] = None): DataFrame = {
    val schema = spark.read.parquet(s"$dir/$table.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
    runToMemory(spark, text, stream, queryName, resolve, store,
      inputBytes = StreamOps.tableBytes(dir, table))
  }
}
