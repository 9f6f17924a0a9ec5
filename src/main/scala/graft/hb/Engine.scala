package graft.hb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Ast._

/** The hobbes → Spark compiler.
  *
  * Every statement becomes a lazy `HbFrame => HbFrame`; a program is their
  * fold-composition, exactly the closure-composition shape of the
  * reference's interpreter (tools/visualizer/web/src/Server/Reader.fs:89-95)
  * — but declared against Catalyst, so filter pushdown, column pruning and
  * plan fusion happen for free where the reference re-materializes every
  * stage through CouchDB (workers/calculator.worker/src/Program.fs:25-54).
  *
  * Index discipline (SURVEY §7.4.2): the hobbes row key
  * (Parsing.AST.KeyType) is an engine-managed hidden column `__key`:
  * ordinal at ingest, group value after `group by`/`pivot`, arbitrary
  * expression after `index rows by`. "Joins are always done on the index"
  * (hobbes-autocomplete.code-snippets:60-67) → Graft.join joins on it.
  *
  * Row-order discipline: `moving`/`expanding`/`ordinals` follow the
  * *current row order* (Deedle semantics — programs `sort by` first,
  * production transformations/Metrics.fs:56-61). Order is carried as a
  * lazy sort specification, not a materialized column: stable sorts stack
  * (`sort by` prepends itself to the previous spec) and windows order by
  * the spec directly, so nothing forces an early global sort.
  *
  * Scale note: hobbes whole-frame ordered windows are inherently global —
  * on a cluster they land in one partition. That is faithful to the
  * reference (single-process Deedle) and correct at any size Spark can
  * sort. The keyed opt-in is the 100 TB path: a `series:` header key (or
  * the `series` argument of `run`) names the per-entity column(s), and
  * every ordered window — `moving`, `expanding`, `ordinals` — partitions
  * by it, exactly how the reference's own programs use per-entity series
  * (production transformations/Metrics.fs:56-61: sort, then window within
  * one work-item series). While the series columns exist in the frame the
  * windows are keyed (no single-partition WindowExec anywhere); once an
  * aggregation consumes them (post-`group by` frames are small) windows
  * fall back to the faithful whole-frame form.
  *
  * Materialisation lifetime ([[graft.Scope]]): `run` returns a lazy
  * frame, but fit-bearing statements fire their fits while it builds,
  * and the output action belongs to the caller. So `run` joins the
  * scope that encloses it. Fit inputs and emit layouts are cached in
  * that scope and released when the caller closes it after its action
  * (Verify and Bench open one per gate, the Gateway one per request).
  * With no scope open they are not cached at all and recompute per
  * consumer. Operator intermediates live in the operator's own nested
  * scope and are released before the statement returns.
  */
object Engine {

  val KEY = "__key"

  /** User-column reference. `col(n)` parses dots as struct-path
    * separators, so the flattened provider columns the reference corpus
    * renames (`Iteration.IterationName`, `committer.date` —
    * Ingest.flatten's literal dotted names) were unreachable from `.hb`
    * programs (found by the r16 golden witness). Backtick-quote names
    * that need it; plain names go through untouched. */
  private def ucol(n: String): Column =
    if (n.contains(".") || n.contains("`"))
      col("`" + n.replace("`", "``") + "`")
    else col(n)

  /** `keyNames`: the source column name(s) the engine key was built from
    * by the LAST group by / index rows by — consumed by `sort by column`
    * only. The reference corpus sorts by the group key's NAME after the
    * key column itself is gone (Logic Commit Frequency.hb:38 `sort by
    * column date` right after `group by date -> sum`, where Deedle made
    * `date` the row index); without provenance that reference program is
    * unrunnable (found by the r16 golden witness). */
  case class HbFrame(df: DataFrame, order: Seq[Column],
      series: Seq[String] = Nil, keyNames: Seq[String] = Nil) {
    def userCols: Seq[String] = df.columns.toSeq.filterNot(_ == KEY)
    def numericCols: Seq[String] = df.schema.fields
      .filter(f => f.name != KEY && f.dataType.isInstanceOf[NumericType])
      .map(_.name).toSeq
    /** Series columns currently usable as a window partition. */
    def seriesCols: Seq[Column] =
      if (series.nonEmpty && series.forall(df.columns.contains))
        series.map(ucol)
      else Nil
    /** Strip engine-internal columns for the outside world. */
    def result: DataFrame = df.drop(KEY)
  }

  /** Ingest: ordinal row key, source order (SURVEY §1.1 — `KeyType.Create i`,
    * tools/visualizer/cli/src/ODataProvider.fs:128-133).
    * monotonically_increasing_id preserves (partition, offset) order without
    * a global sort — the scale-safe ordinal. */
  def fromSource(df: DataFrame, series: Seq[String] = Nil): HbFrame = {
    val keyed = df.withColumn(KEY, monotonically_increasing_id())
    HbFrame(keyed, Seq(col(KEY).asc), series)
  }

  def run(program: Program, source: DataFrame): DataFrame =
    run(program, source, seriesOf(program.header))

  /** `series` — keyed execution opt-in: ordered windows partition by
    * these columns wherever they exist in the frame (see the scale note
    * above). Programs opt in declaratively via a `series:` header key. */
  def run(program: Program, source: DataFrame,
      series: Seq[String]): DataFrame =
    program.transformations.foldLeft(fromSource(source, series)) {
      (f, st) => applyStatement(f, st)
    }.result

  def runHb(text: String, source: DataFrame): DataFrame =
    run(HbParser.parse(text), source)

  /** Run KEEPING the engine key and applying the frame's row order —
    * the chart/series view: the reference renders chart series from
    * the keyed DataMatrix (`AsTable()` = column → ordered (key, value)
    * pairs, tools/visualizer/cli/src/Chart.fs:181-199), so the key
    * column and the row order are the payload here, not internals.
    * See [[Render.series]] / [[Render.seriesJson]]. */
  def runKeyed(program: Program, source: DataFrame): DataFrame = {
    val f = program.transformations.foldLeft(
      fromSource(source, seriesOf(program.header))) {
      (fr, st) => applyStatement(fr, st)
    }
    f.df.orderBy(f.order: _*)
  }

  private def seriesOf(h: Header): Seq[String] =
    h.props.get("series").toSeq
      .flatMap(_.split("[,\\s]+")).filter(_.nonEmpty)

  // ------------------------------------------------------------ statements


  /** Layout-decouple a compute-heavy NARROW statement from the input's
    * file layout (guide §2.5/§6): a single-row-group table hands the
    * whole per-row encode/fim/render fold to ONE task however many
    * cores the session has (r16 profile: hb_fim_ids ran its 7 s of
    * encode CPU in a 1-task stage). PlanAudit.repartitionIfLayoutBound
    * is a no-op when the frame already offers >= cores splits or has a
    * shuffle below it. Values are per-row functions of existing
    * columns (the frame KEY is evaluated below the added exchange), so
    * results are partitioning-independent. */
  private def spread(df: DataFrame): DataFrame =
    graft.PlanAudit.repartitionIfLayoutBound(df)

  /** The input of an EAGER statement fit, cached in the enclosing
    * [[graft.Scope]] when its chain shuffles: the fit and the
    * statement's own output both consume it, and each eager consumer
    * otherwise re-executes the whole upstream chain (guide §6 scan reuse
    * — r16 profiled hb_pretrain_e2e's curation chain executing 3×). A
    * scan-narrow chain recomputes for one cheap scan, so it is left
    * alone. "Shuffles" is read off the OPTIMIZED LOGICAL plan — an
    * aggregate, join, window, repartition or global sort — because the
    * physical exchanges of aggregates and joins only appear after
    * EnsureRequirements, and planning that far per statement would cost
    * a second physical planning. With no scope open the frame is not
    * cached: its consumers outlive this call, and only the caller that
    * runs the output action can say when they are done. */
  private def fitInput(df: DataFrame, kind: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
      RepartitionOperation, Sort, Window => WindowNode}
    val shuffles = df.queryExecution.optimizedPlan.exists {
      case _: Aggregate | _: Join | _: WindowNode | _: RepartitionOperation =>
        true
      case s: Sort => s.global
      case _ => false
    }
    if (shuffles) graft.Scope.cache(df, s"hb $kind: fit input") else df
  }

  /** The resolver of a run with no configuration namespace (a bare
    * batch [[run]], or StreamHb.apply without one): a `… using <conf>`
    * statement is rejected with itself and the configuration named. */
  val noResolver: String => DataFrame =
    conf => throw new NoSuchElementException(conf)

  /** The batch frame `conf` names, for the `… using` statement `st`. */
  private def bind(st: Statement, resolve: String => DataFrame,
      conf: String): DataFrame =
    if (resolve eq noResolver)
      throw new IllegalArgumentException(
        s"`${Printer.print(st).trim}` binds model configuration " +
          s"'$conf' but no resolver was provided — run it through " +
          "StreamHb.apply(program, stream, resolve)")
    else resolve(conf)

  // ---- one encode body per tokenizer family: the batch statement fits
  // on its own input (fitInput), its `… using` twin on the resolved
  // configuration, and both encode through the same helper, so the two
  // forms emit the same columns. `spread` is a no-op on a stream.

  private def bpeEncode(df: DataFrame, c: String,
      merges: Seq[graft.operators.Bpe.Merge]): DataFrame =
    spread(df).withColumn("bpe",
      graft.operators.Bpe.encodeColFast(col(c), merges))

  private def bpeBytesEncode(df: DataFrame, c: String,
      merges: Seq[graft.operators.Bpe.Merge]): DataFrame =
    spread(df).withColumn("bpe",
      graft.operators.Bpe.encodeBytesCol(col(c), merges))

  private def wordPieceEncode(df: DataFrame, c: String,
      vocab: Seq[String]): DataFrame =
    withPieces(spread(df),
      graft.operators.WordPiece.encodeCol(col(c), vocab), "wp")

  private def wordPieceIdsEncode(df: DataFrame, c: String,
      vocab: Seq[String], tags: Seq[String]): DataFrame =
    withIds(spread(df),
      if (tags.isEmpty) graft.operators.WordPiece.encodeIdsCol(col(c), vocab)
      else graft.operators.WordPiece.encodeIdsCol(col(c), vocab, tags, 16))

  private def unigramEncode(df: DataFrame, c: String,
      model: Seq[graft.operators.Unigram.Piece]): DataFrame =
    withPieces(spread(df),
      graft.operators.Unigram.encodeCol(col(c), model), "ug")

  private def unigramIdsEncode(df: DataFrame, c: String,
      model: Seq[graft.operators.Unigram.Piece],
      tags: Seq[String]): DataFrame =
    withIds(spread(df),
      if (tags.isEmpty) graft.operators.Unigram.encodeIdsCol(col(c), model)
      else graft.operators.Unigram.encodeIdsCol(col(c), model, tags, 6))

  /** A piece array as its space-joined `out` column plus `n_pieces`. */
  private def withPieces(df: DataFrame, pieces: Column,
      out: String): DataFrame =
    df.withColumn("__ps", pieces)
      .withColumn(out, array_join(col("__ps"), " "))
      .withColumn("n_pieces",
        when(col("__ps").isNotNull, size(col("__ps")).cast("long")))
      .drop("__ps")

  /** `token_ids` plus its row-printable `ids_str` and `n_ids`. */
  private def withIds(df: DataFrame, ids: Column): DataFrame =
    df.withColumn("token_ids", ids)
      .withColumn("ids_str",
        concat_ws(" ", col("token_ids").cast("array<string>")))
      .withColumn("n_ids",
        when(col("token_ids").isNotNull,
          size(col("token_ids")).cast("long")))

  /** Translate one statement. `resolve` binds the MODEL configurations
    * the `… using <conf>` statements name: each model fits EAGERLY here,
    * on the resolved batch frame (bounded driver state by each
    * operator's fit contract), and the statement compiles to the
    * family's zero-shuffle narrow encoder or scorer — the offline-fit /
    * online-score pairing StreamHb runs over a stream. Every such model
    * goes through [[graft.cache.LineageCache.model]]: memoised in the
    * open [[graft.Scope]] (two statements binding one model fit it
    * once) and, with a `store` bound, persisted under the configuration
    * NAME + fit parameters, so a later session translates the same
    * program with zero refit jobs. Key hygiene is the caller's: rename
    * the configuration when its data is supposed to change. */
  def applyStatement(f: HbFrame, st: Statement,
      resolve: String => DataFrame = noResolver,
      store: Option[graft.cache.LineageCache] = None): HbFrame = st match {
    case Comment(_) => f

    case CreateColumn(name, e) =>
      val (f2, e2) = materializeLinRegs(f, e)
      f.copy(df = dropLrTemps(f2.df.withColumn(name, compileExpr(e2, f2))))

    case RenameColumn(from, to) =>
      f.copy(df = f.df.withColumnRenamed(from, to))

    case SliceColumns(names) =>
      // tolerant of unknown names (snippets:27-34)
      val keep = names.filter(f.df.columns.contains) :+ KEY
      f.copy(df = f.df.select(keep.distinct.map(ucol): _*))

    case Only(e) =>
      val (f2, e2) = materializeLinRegs(f, e)
      f.copy(df = dropLrTemps(f2.df.filter(compileExpr(e2, f2))))

    case DenseRows =>
      // "rows where most columns have a value" (snippets:44-51) — ≥50%
      val cols = f.userCols
      val nonNull = cols.map(c => when(ucol(c).isNotNull, 1).otherwise(0))
        .reduce(_ + _)
      f.copy(df = f.df.filter(nonNull * 2 >= cols.length))

    case DenseColumns =>
      // two-pass: one tiny aggregate row to the driver decides the schema
      val cols = f.userCols
      val counts = f.df.select(
        count(lit(1)).as("__n") +: cols.map(c => count(ucol(c)).as(c)): _*)
        .head()
      val total = counts.getLong(0)
      val keep = cols.zipWithIndex
        .filter { case (_, i) => counts.getLong(i + 1) * 2 >= total }
        .map(_._1)
      f.copy(df = f.df.select((keep :+ KEY).map(ucol): _*))

    case NumericColumns =>
      f.copy(df = f.df.select((f.numericCols :+ KEY).map(ucol): _*))

    case IndexBy(e) =>
      val (f2, e2) = materializeLinRegs(f, e)
      f.copy(df = dropLrTemps(f2.df.withColumn(KEY, compileExpr(e2, f2))),
        keyNames = e match { case ColRef(n) => Seq(n); case _ => Nil })

    case SortByColumn(c) =>
      // stable: new primary sort, previous spec as tie-break. A name the
      // frame no longer carries but that matches the group/index key's
      // SOURCE name means the key itself — the Deedle row-index idiom
      // (Logic Commit Frequency.hb:38 sorts by `date` right after
      // `group by date -> sum` consumed it)
      val target =
        if (f.df.columns.contains(c) || !f.keyNames.contains(c)) ucol(c)
        else col(KEY)
      f.copy(order = target.asc +: f.order)

    case GroupBy(cols, RowsBy(red)) =>
      // group cols become the key; remaining numeric columns are reduced
      // (MTTR.hb:24-28: SprintNumber must be re-created from `keys`)
      val nums = f.numericCols.filterNot(cols.contains)
      val aggs = nums.map(c =>
        reduceDet(red, ucol(c), f.df.schema(c).dataType).as(c))
      val keyCol = if (cols.size == 1) ucol(cols.head)
        else struct(cols.map(ucol): _*)
      val grouped = f.df.groupBy(keyCol.as(KEY))
        .agg(aggs.head, aggs.tail: _*)
      // series columns that were group keys stay meaningful (one entity
      // per row; re-creatable from `keys`); ones that got REDUCED are now
      // aggregates sharing the entity column's name — deactivate them or
      // a later window would key on sums
      HbFrame(grouped, Seq(col(KEY).asc), f.series.filter(cols.contains),
        keyNames = cols)

    case WindowAgg(tsCol, mins, delay, cols, red) =>
      // tumbling event-time aggregation — ONE translation for batch and
      // streaming. The watermark tag is erased under batch execution
      // (EliminateEventTimeWatermark) and bounds state in append-mode
      // streaming; grouping directly on the window() expression (not a
      // pre-projected bucket column) is what lets Spark's unsupported-
      // operation checker admit the append-mode aggregation. Bucket
      // bounds flatten to window_start/window_end AFTER the agg — a
      // narrow projection. The key becomes (window_start, group cols).
      val nums = f.numericCols.filterNot(cols.contains)
      require(nums.nonEmpty,
        "window group by needs at least one numeric column to reduce")
      val aggs = nums.map(c =>
        reduceDet(red, ucol(c), f.df.schema(c).dataType).as(c))
      val wm = f.df.withWatermark(tsCol, s"$delay minutes")
      val grouped = wm
        .groupBy(window(ucol(tsCol), s"$mins minutes").as("__w") +:
          cols.map(ucol): _*)
        .agg(aggs.head, aggs.tail: _*)
        .select(col("__w.start").as("window_start") +:
          col("__w.end").as("window_end") +:
          (cols.map(ucol) ++ nums.map(ucol)): _*)
      val keyed = grouped.withColumn(KEY,
        struct(col("window_start") +: cols.map(ucol): _*))
      HbFrame(keyed, Seq(col(KEY).asc), f.series.filter(cols.contains))

    case GroupBy(cols, sel) =>
      // maxby/minby keep the full extremal row (snippets:117-132;
      // 1_General.fs:51-58 "keep the latest change of the work item")
      val (e0, desc) = sel match {
        case MaxBy(x) => (x, true)
        case MinBy(x) => (x, false)
        case _ => throw new IllegalStateException
      }
      val (f2, e) = materializeLinRegs(f, e0)
      val ord = compileExpr(e, f2)
      val w = Window.partitionBy(cols.map(ucol): _*)
        .orderBy((if (desc) ord.desc else ord.asc) +: f2.order: _*)
      val keyCol = if (cols.size == 1) ucol(cols.head)
        else struct(cols.map(ucol): _*)
      val picked = dropLrTemps(f2.df
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn"))
        .withColumn(KEY, keyCol)
      HbFrame(picked, Seq(col(KEY).asc), f.series, keyNames = cols)

    case Pivot(rowE0, colE0, red, valE0, values) =>
      val keyName = rowE0 match {
        case ColRef(n) => n
        case _ => "key"
      }
      // linreg fits materialize per expression slot (distinct temp names)
      val (fa, rowE) = materializeLinRegs(f, rowE0)
      val (fb, colE) = materializeLinRegs(fa, colE0)
      val (fc, valE) = materializeLinRegs(fb, valE0)
      val f2 = fc
      // pivot reifies the row key as a column (cache sample shape
      // `{Todo,Doing,Done,SprintNumber}`, tools/visualizer/cli/src/
      // Program.fs:49 — Velocity.hb:29 sorts by it right after)
      val colEType =
        f2.df.select(compileExpr(colE, f2)).schema.head.dataType
      val grouped = f2.df
        .withColumn(keyName, compileExpr(rowE, f2))
        .withColumn("__pcol", compileExpr(colE, f2).cast(StringType))
        .groupBy(ucol(keyName))
      // explicit values skip the distinct-collect discovery job — at
      // 100 TB a high-cardinality colE would otherwise hit the driver.
      // Numeric values render through the SAME representation colE's
      // string cast produces (a double column casts 1 to "1.0" — a bare
      // "1" would silently match nothing)
      val wide =
        if (values.isEmpty) grouped.pivot("__pcol")
        else grouped.pivot("__pcol", values.map {
          case StrLit(s) => s
          case NumLit(v) => colEType match {
            case DoubleType | FloatType => v.toString
            case _ if v == v.toLong => v.toLong.toString
            case _ => v.toString
          }
          case other =>
            throw new IllegalArgumentException(s"pivot value $other")
        })
      val pivoted = wide
        .agg(reduceDet(red, compileExpr(valE, f2),
          f2.df.select(compileExpr(valE, f2)).schema.head.dataType))
        .withColumn(KEY, ucol(keyName))
      // pivot output is a fresh aggregated shape — no surviving column
      // still means "per-entity series"
      HbFrame(pivoted, Seq(col(KEY).asc), Nil)

    case Buckets(n, red) =>
      // NTILE without the single-partition global window — the bucket
      // boundaries are identical, but the ordinal comes from a range
      // repartition (operators.Ordinals), so pre-aggregation frames of
      // any size bucket in parallel
      val nums = f.numericCols
      val aggs = nums.map(c =>
        reduceDet(red, ucol(c), f.df.schema(c).dataType).as(c))
      val bucketed = graft.operators.Ordinals
        .withGlobalNtile(f.df, "__bucket", n, f.order)
        .groupBy(col("__bucket").as(KEY))
        .agg(aggs.head, aggs.tail: _*)
      // buckets reduce every numeric column — series deactivates (same
      // rationale as group by)
      HbFrame(bucketed, Seq(col(KEY).asc), Nil)

    case KMeansCluster(n, red) =>
      // operators.KMeansDet: deterministic Lloyd (quantile init, fixed
      // iterations, canonical centroid-sorted ids) — cluster ids are
      // reproducible across engines and Spark versions, unlike MLlib's
      // randomized kmeans|| (rows with a null feature are skipped, like
      // VectorAssembler handleInvalid=skip did here before).
      // Deliberate strictness (SCALE.md §deviations): fewer usable rows
      // than k FAILS loudly (KMeansDet.fit requires n >= k) instead of
      // silently returning degenerate duplicate clusters — same policy
      // as `int()` on non-convertible values
      val nums = f.numericCols
      val aggs = nums.map(c =>
        reduceDet(red, ucol(c), f.df.schema(c).dataType).as(c))
      // unusable-feature rows drop BEFORE labeling: the IsNotNull
      // conjunction pushes to the source, and `cluster` is then never
      // null (filtering on cluster would double-evaluate the assignment
      // CASE). The !isnan guard matches KMeansDet.usable — a NaN feature
      // passes isNotNull but would get a null cluster from withCluster
      // and surface as a spurious null-key group
      val fit = f.df.filter(nums.map { c =>
        val x = ucol(c).cast(DoubleType)
        ucol(c).isNotNull && !isnan(x) &&
          x =!= lit(Double.PositiveInfinity) &&
          x =!= lit(Double.NegativeInfinity)
      }.reduce(_ && _))
      val clustered = graft.operators.KMeansDet
        .withCluster(fit, nums, Seq(col(KEY)), n, out = "__cluster")
        .groupBy(col("__cluster").as(KEY))
        .agg(aggs.head, aggs.tail: _*)
      HbFrame(clustered, Seq(col(KEY).asc), Nil)

    case Each(red) =>
      // row-wise reduction across numeric cells (snippets:101-108)
      val arr = array(f.numericCols.map(c => ucol(c).cast(DoubleType)): _*)
      val out = f.df.withColumn(red.name, eachReduce(red, arr))
        .select(col(red.name), col(KEY))
      f.copy(df = out)

    case LinearExtrapolation(name, known, nPred, nTrain) =>
      extrapolate(f, name, known, nPred, nTrain)

    // ---- training-pipeline extension statements (Ast.scala) --------
    // All are keyed on the frame index (`__key`), per the reference's
    // key discipline ("joins are always done on the index") — programs
    // `index rows by <id>` first so survival/placement is deterministic
    // (ingest ordinals are partitioning-dependent).

    case DedupExact(c) =>
      // row-set filter: columns, order and series all survive
      f.copy(df = graft.operators.Dedup.exactSurvivors(f.df, c, KEY))

    case DedupSubstrings(c, k) =>
      // column-adding editor (like `scrub`): rows survive, covered
      // positions excise into `scrubbed`
      f.copy(df = graft.operators.SubstringDedup.scrubRepeats(
        f.df, KEY, c, k))

    case DedupMinhash(c, th) =>
      // portable hasher: a .hb program is a cross-engine artifact, so
      // its near-dup signatures must re-derive bit-for-bit anywhere
      // (same contract as the k-means statement's KMeansDet)
      f.copy(df = graft.operators.Dedup.minhashLsh(f.df, c, KEY, th,
        portable = true))

    case DedupSimhash(c, h) =>
      f.copy(df = graft.operators.Dedup.simhashDedup(f.df, c, KEY, h,
        portable = true))

    case ClusterMinhash(c, th) =>
      // adds `component` = the minimum key of the row's near-dup
      // cluster (transitive closure over verified MinHash pairs) — the
      // clustering form of `dedup minhash`; row set unchanged
      val pairs = graft.operators.Dedup.minhashPairs(f.df, c, KEY, th,
        portable = true)
      f.copy(df = graft.operators.Components.withComponents(f.df, KEY,
        pairs, "id_a", "id_b"))

    case Scrub(c, k) =>
      // passage removal on the frame key (all columns + scrubbed/
      // n_tokens/n_removed survive; row set and key unchanged)
      f.copy(df = graft.operators.PassageDedup.scrub(f.df, KEY, c, k))

    case Encode(c, n) =>
      // vocabulary fit on the frame itself, token_ids keyed on the
      // frame key (row set and key unchanged); the fit pass and the
      // encode output share one persisted input when the chain is
      // shuffle-bearing (fitInput)
      f.copy(df = graft.operators.Vocab.fitEncode(fitInput(f.df, "encode"),
        KEY, c, n))

    case TopBy(k, sc, st) =>
      // stratified selection keyed on the frame index (the tie-break);
      // rows outside the per-stratum top-k drop, `rank` appears
      f.copy(df = graft.operators.Selection
        .topKPerStratum(f.df, st, sc, KEY, k))

    case TopFracBy(p, sc, st) =>
      f.copy(df = graft.operators.Selection
        .topFracPerStratum(f.df, st, sc, KEY, p, 100))

    case BpeEnc(c, n) =>
      // merge table trained on the frame itself (one distributed word
      // count, the merge loop in driver memory), encoding a pure narrow
      // map; row set unchanged
      val bpeBase = fitInput(f.df, "bpe")
      f.copy(df = bpeEncode(bpeBase, c,
        graft.operators.Bpe.fit(bpeBase, c, n, minCount = 1L)))

    case BpeUsing(c, conf, n) =>
      f.copy(df = bpeEncode(f.df, c, graft.operators.Bpe.fitStored(
        bind(st, resolve, conf), c, n, 1L, conf, store)))

    case WordPieceEnc(c, n) =>
      // likelihood-ranked fit (bounded driver rows) + the native greedy
      // encode as a pure narrow map — no join, row set unchanged
      val wpBase = fitInput(f.df, "wordpiece")
      // one word-frame pass drives the merge fit AND the alphabet
      f.copy(df = wordPieceEncode(wpBase, c,
        graft.operators.WordPiece.fit(wpBase, c, n, minCount = 1L)._2))

    case WordPieceUsing(c, conf, n) =>
      f.copy(df = wordPieceEncode(f.df, c,
        graft.operators.WordPiece.vocabularyStored(bind(st, resolve, conf),
          c, n, 1L, conf, store)))

    case UnigramEnc(c, n) =>
      // candidate fit + one Viterbi-EM round (bounded model rows), then
      // the native compiled DP encode as a pure narrow map
      val ugBase = fitInput(f.df, "unigram")
      f.copy(df = unigramEncode(ugBase, c,
        graft.operators.Unigram.fitEm(ugBase, c, n)))

    case UnigramUsing(c, conf, n) =>
      f.copy(df = unigramEncode(f.df, c, graft.operators.Unigram.fitStored(
        bind(st, resolve, conf), c, n, conf, store)))

    case BpeBytesEnc(c, n) =>
      // byte-level twin: case/whitespace-preserving, lossless under
      // `decode bytes`; same bounded-fit + narrow-encode shape
      val bbBase = fitInput(f.df, "bpe bytes")
      f.copy(df = bpeBytesEncode(bbBase, c, graft.operators.Bpe.fit(
        bbBase, c, n, minCount = 1L, byteLevel = true)))

    case BpeBytesUsing(c, conf, n) =>
      f.copy(df = bpeBytesEncode(f.df, c, graft.operators.Bpe.fitStored(
        bind(st, resolve, conf), c, n, 1L, conf, store, byteLevel = true)))

    case BpeBytesDecode(c) =>
      // stateless narrow map — no model, stream-safe
      f.copy(df = spread(f.df).withColumn("text_decoded",
        graft.operators.Bpe.decodeBytesCol(col(c))))

    case FimTransform(c, pm, salt) =>
      // fill-in-middle on the frame key — pure narrow map, row set and
      // key unchanged
      f.copy(df = graft.operators.SpanCorrupt.fim(spread(f.df), KEY, c,
        pm, salt))

    case UnigramIdsEnc(c, n, tags) =>
      // unigram trainer-input twin: refined model, sorted-order ids.
      // With a `tags` clause the listed strings are RESERVED: excluded
      // from the fit corpus (segmentedCorpus — tag text contributes
      // zero piece statistics) and each occurrence ONE dedicated id
      // above the sorted piece layout
      val ugiBase = fitInput(f.df, "unigram ids")
      f.copy(df = unigramIdsEncode(ugiBase, c,
        graft.operators.Unigram.fitEm(graft.functions.SpecialTokens
          .segmentedCorpus(ugiBase, c, tags), c, n), tags))

    case UnigramIdsUsing(c, conf, n, tags) =>
      f.copy(df = unigramIdsEncode(f.df, c,
        graft.operators.Unigram.fitStored(bind(st, resolve, conf), c, n,
          conf, store, specials = tags), tags))

    case WordPieceIdsEnc(c, n, tags) =>
      // BERT trainer-input twin of `wordpiece`: same fit + final
      // vocabulary, emitted as vocabFrame-layout id arrays; `tags`
      // reserve specials exactly as `bpe ids`' clause (fit-excluded,
      // dedicated ids N+1+k, case-exact through the lowercasing walk)
      val wpiBase = fitInput(f.df, "wordpiece ids")
      // one word-frame pass drives the merge fit AND the alphabet
      f.copy(df = wordPieceIdsEncode(wpiBase, c,
        graft.operators.WordPiece.fit(graft.functions.SpecialTokens
          .segmentedCorpus(wpiBase, c, tags), c, n, minCount = 1L)._2, tags))

    case WordPieceIdsUsing(c, conf, n, tags) =>
      f.copy(df = wordPieceIdsEncode(f.df, c,
        graft.operators.WordPiece.vocabularyStored(bind(st, resolve, conf),
          c, n, 1L, conf, store, specials = tags), tags))

    case BpeIdsEnc(c, n, tags) =>
      // trainer-input twin of `bpe bytes`: same fit, ids instead of
      // spellings — token_ids is the array `emit packed` consumes. The
      // fitted table (+ any reserved tags) is published as COLUMN
      // METADATA on token_ids (Bpe.mergesMetadata) so a caller — or a
      // later `decode ids` statement — can export/round-trip/decode
      // the EXACT fit without a second training pass — schema
      // inspection costs zero Spark jobs.
      val biBase = fitInput(f.df, "bpe ids")
      val merges = graft.operators.Bpe.fit(biBase, c, n,
        minCount = 1L, byteLevel = true, specials = tags)
      f.copy(df = spread(biBase)
        .withColumn("token_ids",
          graft.operators.Bpe.encodeIdsCol(col(c), merges, tags))
        .withMetadata("token_ids",
          graft.operators.Bpe.mergesMetadata(merges, tags))
        .withColumn("n_ids",
          when(col("token_ids").isNotNull,
            size(col("token_ids")).cast("long"))))

    case BpeIdsUsing(c, conf, n, tags) =>
      // trainer-input ids at ingest: same byte fit as `bpe bytes …
      // using` (reserved tags excluded from it and part of the store
      // key); adds the row-printable space-joined `ids_str`
      val merges = graft.operators.Bpe.fitStored(bind(st, resolve, conf),
        c, n, 1L, conf, store, byteLevel = true, specials = tags)
      f.copy(df = withIds(f.df,
          graft.operators.Bpe.encodeIdsCol(col(c), merges, tags))
        .withMetadata("token_ids",
          graft.operators.Bpe.mergesMetadata(merges, tags)))

    case BpeIdsDecode(c) =>
      // batch inverse under the SAME table: the merges (+ specials)
      // ride on the ids column's metadata from this program's encode
      // statement — zero refit, no way to bind a different table
      require(f.df.columns.contains(c), s"decode ids: no '$c' column")
      val merges = graft.operators.Bpe
        .mergesFromMetadata(f.df.schema, c)
        .getOrElse(throw new IllegalArgumentException(
          s"decode ids: column '$c' carries no merge-table metadata — " +
            "encode with `bpe ids`/`sft` first, or bind a " +
            "configuration with `decode ids … using`"))
      val sp = graft.operators.Bpe.specialsFromMetadata(f.df.schema, c)
      f.copy(df = spread(f.df).withColumn("text_decoded",
        graft.operators.Bpe.decodeIdsCol(col(c), merges, sp)))

    case BpeIdsDecodeUsing(c, conf, n, tc) =>
      // lossless inverse under the SAME table: the fit column is the
      // `of` clause (default "text"), which must name the column the
      // ENCODE statement fit on — the model key includes it, so matching
      // columns share ONE fit and mismatched columns would silently bind
      // a different table
      val merges = graft.operators.Bpe.fitStored(bind(st, resolve, conf),
        tc, n, 1L, conf, store, byteLevel = true)
      f.copy(df = f.df.withColumn("text_decoded",
        graft.operators.Bpe.decodeIdsCol(col(c), merges)))

    case SftChat(pc, rc, n) =>
      // chat-template trainer inputs in one statement: render with the
      // RESERVED tags, ONE specials-aware byte fit (tag text excluded),
      // ids + the exact loss boundary; the table rides token_ids'
      // metadata (the BpeIdsEnc tap)
      Seq(pc, rc).foreach(c => require(f.df.columns.contains(c),
        s"sft: no '$c' column"))
      // the sibling emitters (SpanCorrupt.corrupt, fim) require-fail on
      // output-column collisions — overwriting a pre-existing
      // rendered/token_ids/… silently would hide a program bug
      Seq("rendered", "token_ids", "loss_start", "n_ids").foreach(c =>
        require(!f.df.columns.contains(c),
          s"sft: frame already has a '$c' column — rename it first"))
      val sftSp = graft.operators.Sft.Specials
      // cached whatever the chain: the rendered projection is consumed
      // by the eager byte fit AND every downstream pass, and is
      // expensive per row even when the chain carries no exchange
      val renderedDf = graft.Scope.cache(spread(f.df).withColumn(
        "rendered", graft.operators.Sft.render(col(pc), col(rc))),
        "hb sft: rendered frame")
      val sftMerges = graft.operators.Bpe.fit(renderedDf,
        "rendered", n, minCount = 1L, byteLevel = true, specials = sftSp)
      f.copy(df = renderedDf
        .withColumn("token_ids", graft.operators.Bpe.encodeIdsCol(
          col("rendered"), sftMerges, sftSp))
        .withMetadata("token_ids",
          graft.operators.Bpe.mergesMetadata(sftMerges, sftSp))
        .withColumn("loss_start",
          graft.operators.Sft.lossStart(col(pc), sftMerges, sftSp))
        .withColumn("n_ids",
          when(col("token_ids").isNotNull,
            size(col("token_ids")).cast("long"))))

    case SftUsing(pc, rc, conf, n) =>
      // SFT trainer inputs at ingest: the specials-aware byte table fits
      // on the configuration's RENDERED pairs (reserved chat tags, tag
      // text excluded from the fit; the specials list is part of the
      // model key); the frame renders + encodes + reports the exact
      // boundary as a narrow map. Same collision discipline as `sft`
      Seq("rendered", "token_ids", "ids_str", "loss_start", "n_ids")
        .foreach(c => require(!f.df.columns.contains(c),
          s"sft: frame already has a '$c' column — rename it first"))
      val sftSp = graft.operators.Sft.Specials
      val fitDf = bind(st, resolve, conf).withColumn("rendered",
        graft.operators.Sft.render(col(pc), col(rc)))
      val merges = graft.operators.Bpe.fitStored(fitDf, "rendered", n,
        1L, conf, store, byteLevel = true, specials = sftSp)
      f.copy(df = withIds(f.df.withColumn("rendered",
            graft.operators.Sft.render(col(pc), col(rc))),
          graft.operators.Bpe.encodeIdsCol(col("rendered"), merges, sftSp))
        .withMetadata("token_ids",
          graft.operators.Bpe.mergesMetadata(merges, sftSp))
        .withColumn("loss_start",
          graft.operators.Sft.lossStart(col(pc), merges, sftSp)))

    case RebalanceBy(strat, ts, salt, w) =>
      // ids are the frame index; percentages to match `mix`/`split`
      // (the /100 cancels out of the rate ratios — and x/100.0 is the
      // correctly-rounded double the equivalent literal parses to, so
      // the shared oracle sees identical arithmetic)
      val tgts = ts.map { case (s2, v) => s2 -> v / 100.0 }.toMap
      f.copy(df = w match {
        case None => graft.operators.Sampling.rebalance(
          f.df, KEY, salt, strat, tgts)
        case Some(wc) => graft.operators.Sampling.rebalanceByWeight(
          f.df, KEY, salt, strat, wc, tgts)
      })

    case Shuffle(salt) =>
      // global epoch position keyed on the frame index — a
      // range-exchange ordinal, never a single-partition window
      f.copy(df = graft.operators.Sampling.shuffleOrder(f.df, KEY, salt))

    case Curriculum(score, bands, salt) =>
      // banded epoch order on the frame key — emits band + shuffle_pos
      // (the Shuffle ordinal contract), so `shards` composes unchanged
      f.copy(df = graft.operators.Sampling.curriculumOrder(
        f.df, KEY, salt, score, bands))

    case Upsample(strat, fs, salt, plan) =>
      // replicas fork the frame key: recompose it to key:rep so the
      // key stays unique and a later shuffle/shards orders replicas
      // totally (Sampling.upsampleByFactor documents the collision)
      val factors = plan match {
        case None => fs.toMap
        case Some((wc, budget)) =>
          // planned form: percentages (the rebalance /100 convention —
          // x/100.0 is the correctly-rounded double of the equivalent
          // literal, so a shared oracle sees identical arithmetic);
          // the ≤k-row plan collect is bounded by stratum cardinality
          graft.operators.Sampling.epochPlanFactors(
            graft.operators.Sampling.epochPlan(f.df, strat, wc,
              fs.map { case (s2, v) => s2 -> v / 100.0 }.toMap, budget),
            strat)
      }
      // planned form drops unlisted strata (budget semantics); the
      // factor form passes them through at 1
      val up = graft.operators.Sampling.upsampleByFactor(
        f.df, KEY, salt, strat, factors,
        default = if (plan.isDefined) 0.0 else 1.0)
      f.copy(df = up.withColumn(KEY,
        concat_ws(":", col(KEY).cast("string"), col("rep"))))

    case Shards(n) =>
      // training-artifact layout over the epoch order: needs the
      // shuffle_pos ordinal — name the missing statement, don't fail
      // later inside the placement arithmetic
      if (!f.df.columns.contains("shuffle_pos"))
        throw new IllegalArgumentException(
          "`shards` needs a shuffle_pos column — `shuffle` first")
      f.copy(df = graft.operators.Sampling
        .epochShards(f.df, "shuffle_pos", n))

    // ---- offline-fit / online-score: the model fits on the resolved
    // configuration, the frame side is a stateless narrow map
    case ScoreUsing(c, conf, b, salt) =>
      val ref = bind(st, resolve, conf)
      val (mp, mc) = graft.cache.LineageCache.model(store, "surprisal",
        Seq(conf, c, b.toString, salt), ref)(
        graft.operators.Surprisal.fit(ref, c, b, salt))(
        graft.operators.Surprisal.modelMaps)
      f.copy(df = graft.operators.Surprisal
        .withScoresNarrow(f.df, mp, mc, c, b, salt))

    case ClassifyUsing(c, pos, neg, b, salt) =>
      val (p, n) = (bind(st, resolve, pos), bind(st, resolve, neg))
      val (mp, mn, np, nn) = graft.cache.LineageCache.model(store,
        "classifier", Seq(pos, neg, c, b.toString, salt), p, n)(
        graft.operators.Classifier.fit(p, n, c, b, salt))(
        graft.operators.Classifier.modelMaps)
      f.copy(df = graft.operators.Classifier
        .withMarginsNarrow(f.df, mp, mn, np, nn, c, b, salt))

    case LangIdUsing(c, conf) =>
      // trainable language ID: the multiclass trigram NB fits on the
      // labeled configuration (its `lang` column); the frame side is the
      // zero-shuffle literal-map argmax — no-evidence rows keep NULLs.
      // The key carries the EFFECTIVE buckets/salt (the fit defaults)
      // like the classifier/surprisal keys: if those defaults are ever
      // surfaced or changed, a persisted store must not serve a model
      // fit under different hashing parameters
      val seeds = bind(st, resolve, conf)
      val maps = graft.cache.LineageCache.model(store, "langid",
        Seq(conf, c, "4096", "lid"), seeds)(
        graft.operators.LangId.fit(seeds, "lang", c))(
        graft.operators.LangId.modelMaps)
      f.copy(df = graft.operators.LangId.withLangNarrow(f.df, maps, c))

    case EncodeUsing(c, conf, size) =>
      f.copy(df = graft.operators.Vocab.encodeNarrow(f.df, c,
        graft.operators.Vocab.fitStored(bind(st, resolve, conf), c, size,
          conf, store)))

    case DecodeUsing(c, conf, size) =>
      // the model fits on the configuration's TEXT column ("text" by the
      // corpus contract), so it is the model `encode text using` binds;
      // the frame side inverts the id arrays
      f.copy(df = graft.operators.Vocab.decodeNarrow(f.df, c,
        graft.operators.Vocab.fitStored(bind(st, resolve, conf), "text",
          size, conf, store)))

    case FertilityUsing(c, conf, n) =>
      // tokenizer observability: the byte table (shared with any encode
      // statement on the same column) fits on the configuration, the
      // frame reports per-doc fertility/compression as a narrow map
      val merges = graft.operators.Bpe.fitStored(bind(st, resolve, conf),
        c, n, 1L, conf, store, byteLevel = true)
      val nIds = size(graft.operators.Bpe.encodeIdsCol(col(c), merges))
        .cast("long")
      f.copy(df = f.df
        .withColumn("words",
          graft.functions.TextSignals.tokens(col(c)).cast("long"))
        .withColumn("chars", length(col(c)).cast("long"))
        .withColumn("n_ids", nIds)
        .withColumn("fertility_permille",
          when(col("words") > 0, expr("n_ids * 1000L div words")))
        .withColumn("compression_permille",
          when(col("n_ids") > 0, expr("chars * 1000L div n_ids"))))

    case DeconUsing(c, conf, n) =>
      // decontamination: the eval configuration's distinct n-grams
      // collect into ONE literal array (require-bounded, the
      // narrow-scorer contract) and the frame side is a stateless
      // arrays_overlap — no aggregation, no state, append-safe
      val evalGrams = graft.operators.Decontaminate.ngramRows(
        bind(st, resolve, conf).select(lit(0L).as("__eid"), col(c)),
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

    case SemDeconUsing(c, conf, thr) =>
      // SEMANTIC decon: the eval configuration's quantized vectors +
      // norms collect into ONE typed literal pair (require-bounded, the
      // DeconUsing discipline) and the frame side is the native
      // codegen'd MaxCosQ narrow map — no join, no state, append-safe
      val qc = graft.operators.Similarity.quantize(col(c))
      val ev = bind(st, resolve, conf)
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

    case SplitBy(pcts, by, salt) =>
      val labels = pcts.length match {
        case 2 => Seq("train", "test")
        case 3 => Seq("train", "val", "test")
        case n => throw new IllegalArgumentException(
          s"split expects 2 or 3 percentages (train[/val]/test), got $n")
      }
      require(math.abs(pcts.sum - 100.0) < 1e-9,
        s"split percentages must sum to 100, got ${pcts.sum}")
      f.copy(df = graft.operators.Sampling.hashSplit(f.df, by, salt,
        labels.zip(pcts.map(_ / 100.0)), name = "split"))

    case SampleBy(pct, by, salt) =>
      require(pct >= 0 && pct <= 100,
        s"sample percentage must be in [0,100], got $pct")
      f.copy(df = graft.operators.Sampling.hashSample(f.df, by, salt,
        pct / 100.0))

    case MixBy(strat, ps, dflt, salt) =>
      // ids are the frame index (key discipline: `index rows by` the
      // stable id first); percentages to match `split`/`sample`
      f.copy(df = graft.operators.Sampling.stratifiedSample(f.df, KEY,
        salt, strat, ps.map { case (s2, v) => s2 -> v / 100.0 }.toMap,
        dflt / 100.0))

    case TemperatureMixBy(strat, salt) =>
      // temperature-2 domain mix: kept mass ∝ √n_s, rarest stratum
      // keeps 100% — exact-integer salted cut on the frame index
      f.copy(df = graft.operators.Sampling.temperatureSample(f.df, KEY,
        salt, strat))

    case Pack(tc, budget, shards) =>
      // the layout REPLACES the frame (like group by): key + placement
      val packed = graft.operators.Packing
        .packedLayout(f.df, KEY, tc, budget, shards)
      HbFrame(packed, Seq(col(KEY).asc), Nil)

    case PackBins(tc, budget, shards) =>
      // document-aligned best-fit-decreasing bins; same frame contract
      val packed = graft.operators.Packing.binLayout(f.df, KEY, tc,
        budget, shards, decreasing = true, bestFit = true)
      HbFrame(packed, Seq(col(KEY).asc), Nil)

    case EmitPacked(c, budget, shards) =>
      // layout over the id COUNTS, then the spanning emit; the DSL
      // surface renders id arrays as space-joined strings (the `bpe`
      // convention — row-printable, oracle-comparable)
      // cached whatever the chain: the layout pass (id counts) and the
      // placement join both consume the frame, whose plan embeds the
      // per-row encode projection — uncached the encode runs once per
      // pass (guide §8: decide with small rows, but re-attaching must
      // not recompute the heavy rows)
      val withN = graft.Scope.cache(f.df.withColumn("__n", size(col(c))),
        "hb emit: encoded frame")
      val layout = graft.operators.Packing.packedLayout(withN, KEY,
        "__n", budget, shards)
      val placed = layout.join(withN.select(col(KEY), col(c)), KEY)
      val emitted = graft.operators.Packing
        .emitPacked(placed, c, budget)
      HbFrame(emitted
        // position_ids ride along (the third trainer column) — sliced
        // away for free when a program doesn't ask for them. EXACT
        // (r13): a mid-document continuation's positions carry its
        // true in-document offset (first_doc_offset, also emitted), so
        // the artifact no longer ships the restart-at-0 approximation
        .withColumn("position_ids", concat_ws(" ",
          graft.operators.Packing.positionIdsExact(col("doc_starts"),
            col("first_doc_offset"), col("n_tokens"), budget)
            .cast("array<string>")))
        .withColumn("input_ids",
          concat_ws(" ", col("input_ids").cast("array<string>")))
        .withColumn("doc_starts",
          concat_ws(" ", col("doc_starts").cast("array<string>")))
        .withColumn(KEY,
          concat_ws(":", col("shard"), col("seq"))),
        Seq(col("shard").asc, col("seq").asc), Nil)

    case EmitAligned(c, budget, shards) =>
      // loss_start (the `sft` statement's boundary column) rides into
      // the artifact as per-sequence `loss_bounds` when present —
      // bin_offset + loss_start per doc, exact under aligned bins
      val hasLoss = f.df.columns.contains("loss_start")
      // cached whatever the chain — see EmitPacked
      val withN = graft.Scope.cache(f.df.withColumn("__n", size(col(c))),
        "hb emit: encoded frame")
      val layout = graft.operators.Packing.binLayout(withN, KEY, "__n",
        budget, shards, decreasing = true, bestFit = true)
      val carried = col(KEY) +: col(c) +:
        (if (hasLoss) Seq(col("loss_start")) else Nil)
      val placed = layout.join(withN.select(carried: _*), KEY)
      val emitted = graft.operators.Packing
        .emitAligned(placed, c, budget,
          lossStartCol = if (hasLoss) Some("loss_start") else None)
      val withBounds =
        if (hasLoss) emitted
          // the trainer-ready labels column: input id outside the
          // masked prefixes and padding, -100 inside (the ignore-index
          // convention) — derived from the arrays before stringifying
          .withColumn("labels", concat_ws(" ",
            graft.operators.Packing.sftLabels(col("input_ids"),
              col("doc_starts"), col("loss_bounds"), col("n_tokens"))
              .cast("array<string>")))
          .withColumn("loss_bounds",
            concat_ws(" ", col("loss_bounds").cast("array<string>")))
        else emitted
      HbFrame(withBounds
        .withColumn("position_ids", concat_ws(" ",
          graft.operators.Packing.positionIds(col("doc_starts"),
            col("n_tokens"), budget).cast("array<string>")))
        .withColumn("input_ids",
          concat_ws(" ", col("input_ids").cast("array<string>")))
        .withColumn("doc_starts",
          concat_ws(" ", col("doc_starts").cast("array<string>")))
        .withColumn(KEY,
          concat_ws(":", col("shard"), col("bin"))),
        Seq(col("shard").asc, col("bin").asc), Nil)

    case Chunk(tc, w, stride) =>
      // the layout REPLACES the frame (like pack); the key stays the
      // source doc key — not unique (chunk_id disambiguates), which is
      // fine for the layout-consuming tail of a pipeline
      val chunks = graft.operators.Chunking
        .chunkLayout(f.df, KEY, tc, w, stride)
      HbFrame(chunks, Seq(col(KEY).asc, col("chunk_id").asc), Nil)

    case Pairs(tc, sc, gc, m) =>
      // one keyed max_by/min_by aggregation (operators.Preference);
      // the group becomes the frame key — one pair row per prompt
      val paired = graft.operators.Preference
        .preferencePairs(f.df, gc, KEY, tc, sc, m)
      HbFrame(paired.withColumn(KEY, col(gc).cast("string")),
        Seq(col(gc).asc), Nil)

    case Neighbors(k, vecE, predE, mode) =>
      val vecCol = vecE match {
        case ColRef(n) => n
        case other => throw new IllegalArgumentException(
          s"neighbors expects a vector column reference, got $other")
      }
      // Indexed modes hand the query set to the operator as a predicate
      // on the id column (the index operators filter their own internal
      // projections, which carry only the key + index columns), so the
      // predicate must reference `keys` alone; the exact path filters
      // the full frame and allows any row predicate. `keys` compiles to
      // col(KEY) and the operators' idCol IS the frame key, so the same
      // compiled Column resolves against the internal frames.
      def keyPred: Column => Column = { _ =>
        def keysOnly(e: Expr): Boolean = e match {
          case KeysExpr | MissingLit | TrueLit => true
          case _: NumLit | _: StrLit => true
          case Bin(_, a, b) => keysOnly(a) && keysOnly(b)
          case Not(a) => keysOnly(a)
          case IfElse(c, t2, e2) =>
            keysOnly(c) && keysOnly(t2) && keysOnly(e2)
          case IntCast(a) => keysOnly(a)
          case Contains(a, vs) => keysOnly(a) && vs.forall(keysOnly)
          case _ => false // column refs / regex / signals / windows
        }
        if (!keysOnly(predE)) throw new IllegalArgumentException(
          "indexed neighbors (pq/ivf/mmr) restrict the query predicate" +
            s" to `keys`, got ${Printer.print(predE)}")
        compileExpr(predE, f)
      }
      val res = mode match {
        case AnnIndex.Exact =>
          val queries = f.df.filter(compileExpr(predE, f))
          graft.operators.Similarity
            .bruteForceTopK(f.df, queries, KEY, vecCol, k)
        case AnnIndex.Pq(m) =>
          // the statement pins the oracle-checked configuration: 16
          // codes per subspace, exact re-rank of a 50-row shortlist
          graft.operators.Similarity.pqTopK(f.df, keyPred, KEY, vecCol,
            k, m = m, codes = 16, rerank = 50)
        case AnnIndex.Ivf(n) =>
          // KMeansDet cells: the ranking replays in any engine (the
          // gate oracle re-derives the fit)
          graft.operators.Similarity.ivfTopK(f.df, keyPred, KEY, vecCol,
            k, nCells = n, nprobe = 4)
        case AnnIndex.Mmr(lam) =>
          graft.operators.Similarity.mmrTopK(f.df, keyPred, KEY, vecCol,
            k, pool = 50, lambdaTenths = lam)
      }
      HbFrame(res.withColumn(KEY, struct(col("query_id"), col("rank"))),
        Seq(col(KEY).asc), Nil)

    case Diverse(k, vecE) =>
      val vecCol = vecE match {
        case ColRef(n) => n
        case other => throw new IllegalArgumentException(
          s"diverse expects a vector column reference, got $other")
      }
      // frame collapses to the k selected rows; the selected id IS the
      // frame key, rank the natural order
      HbFrame(graft.operators.Similarity.kCenterSelect(f.df, KEY, vecCol, k),
        Seq(col("rank").asc), Nil)
  }

  // ------------------------------------------------------------ reductions

  private val dec6 = DecimalType(30, 6)
  private val dec12 = DecimalType(38, 12)

  /** Deterministic grouped reduction. groupBy aggregation order is
    * partition-dependent, so floating-point sum/mean/variance/stddev go
    * through exact decimal accumulation (associative in any order) with
    * one deterministic rounding back to double — the engine's grouped
    * results are then bit-stable under any partitioning, like the gate
    * catalogue's Det helpers. Integer inputs and order-insensitive
    * reductions pass through. (Window frames iterate rows in frame
    * order, so moving/expanding don't need this.) */
  private def reduceDet(red: Reduction, c: Column, dt: DataType): Column = {
    val floating = dt == DoubleType || dt == FloatType
    if (!floating) reduce(red, c)
    else red match {
      case Reduction.Sum => sum(c.cast(dec6)).cast(DoubleType)
      case Reduction.Mean => sum(c.cast(dec6)).cast(DoubleType) / count(c)
      case Reduction.Variance =>
        val s1 = sum(c.cast(dec6)).cast(DoubleType)
        val s2 = sum((c * c).cast(dec12)).cast(DoubleType)
        // clamp: catastrophic cancellation on (near-)constant columns can
        // leave the numerator a hair negative → NaN out of the sqrt in
        // StdDev where var_samp/stddev_samp return 0.0. Null-preserving
        // (a when(), NOT greatest(), which skips nulls): an all-null
        // group must stay NULL like var_samp, not clamp to -0.0
        val num = s2 - s1 * s1 / count(c)
        when(num < lit(0.0), lit(0.0)).otherwise(num) / (count(c) - lit(1))
      case Reduction.StdDev =>
        sqrt(reduceDet(Reduction.Variance, c, dt))
      case other => reduce(other, c)
    }
  }

  private def reduce(red: Reduction, c: Column): Column = red match {
    case Reduction.Count => count(c)
    case Reduction.Distinct => count_distinct(c)
    case Reduction.Max => max(c)
    case Reduction.Mean => avg(c)
    case Reduction.Median => median(c)
    case Reduction.Min => min(c)
    case Reduction.StdDev => stddev_samp(c)
    case Reduction.Sum => sum(c)
    case Reduction.Variance => var_samp(c)
  }

  /** Row-wise (array) form of the reduction vocabulary. */
  private def eachReduce(red: Reduction, arr0: Column): Column = {
    val arr = filter(arr0, _.isNotNull)
    val n = size(arr)
    val sumE = aggregate(arr, lit(0.0), _ + _)
    red match {
      case Reduction.Count => n.cast(DoubleType)
      case Reduction.Distinct => size(array_distinct(arr)).cast(DoubleType)
      case Reduction.Max => array_max(arr)
      case Reduction.Min => array_min(arr)
      case Reduction.Sum => sumE
      case Reduction.Mean => sumE / n
      case Reduction.Median =>
        val s = array_sort(arr)
        when(n % 2 === 1, element_at(s, (n / 2) + 1))
          .otherwise((element_at(s, n / 2) + element_at(s, n / 2 + 1)) / 2)
      case Reduction.Variance =>
        val mean = sumE / n
        aggregate(arr, lit(0.0), (acc, x) => acc + (x - mean) * (x - mean)) /
          (n - 1)
      case Reduction.StdDev =>
        sqrt(eachReduce(Reduction.Variance, arr0))
    }
  }

  // ----------------------------------------------------------- expressions

  /** Analysis-only type probe (no job): does `e` compile to a string
    * column of `f`? Drives the `= ''` missing-check idiom below; an
    * unanalyzable expression conservatively reads as string (literal
    * compare — the always-safe meaning). */
  private def stringTyped(e: Expr, f: HbFrame): Boolean =
    try f.df.select(compileExpr(e, f)).schema.head.dataType == StringType
    catch { case _: Throwable => true }

  def compileExpr(e: Expr, f: HbFrame): Column = e match {
    case ColRef(n) => ucol(n)
    case StrLit(v) => lit(v)
    case NumLit(v) => if (v == v.toLong) lit(v.toLong) else lit(v)
    case MissingLit => lit(null)
    case TrueLit => lit(true)
    case KeysExpr => col(KEY)
    case OrdinalsExpr =>
      // 0-based like ingest keys (ODataProvider.fs:128-133); with an
      // active series key, the ordinal is per-series
      row_number().over(orderedWindow(f)).cast(LongType) - 1
    case Bin("=", l, MissingLit) => compileExpr(l, f).isNull
    case Bin("=", MissingLit, r) => compileExpr(r, f).isNull
    case Bin("!=", l, MissingLit) => compileExpr(l, f).isNotNull
    case Bin("!=", MissingLit, r) => compileExpr(r, f).isNotNull
    // `x = ''` against a NON-STRING column is the reference corpus's
    // missing-check idiom: hobbes serializes absent numerics as "" (its
    // tests/testdata.json LeadTimeDays/CycleTimeDays rows), so
    // `only !(LeadTimeDays = '')` (MTTR.hb:21, LogicCycleTime.hb:19)
    // means "keep rows where the number is present". Under plain SQL
    // coercion '' casts to a null double and the comparison is null for
    // EVERY row — `only` would drop the whole frame (found by the r16
    // golden witness). Compile it as the missing-check it denotes;
    // string columns keep literal '' equality.
    case Bin("=", l, StrLit("")) if !stringTyped(l, f) =>
      compileExpr(l, f).isNull
    case Bin("=", StrLit(""), r) if !stringTyped(r, f) =>
      compileExpr(r, f).isNull
    case Bin("!=", l, StrLit("")) if !stringTyped(l, f) =>
      compileExpr(l, f).isNotNull
    case Bin("!=", StrLit(""), r) if !stringTyped(r, f) =>
      compileExpr(r, f).isNotNull
    case Bin(op, l, r) =>
      val (lc, rc) = (compileExpr(l, f), compileExpr(r, f))
      op match {
        case "=" => lc === rc
        case "!=" => lc =!= rc
        case ">" => lc > rc
        case "<" => lc < rc
        case ">=" => lc >= rc
        case "<=" => lc <= rc
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
        case "%" => lc % rc
        case "&&" => lc && rc
        case "||" => lc || rc
        case other => throw new IllegalArgumentException(s"op $other")
      }
    case Not(x) => !compileExpr(x, f)
    case IfElse(c, t, e2) =>
      when(compileExpr(c, f), compileExpr(t, f))
        .otherwise(compileExpr(e2, f))
    case IntCast(x) =>
      // reference: a non-convertible value FAILS the transformation
      // (hobbes-autocomplete.code-snippets:150-157). ANSI stays off
      // globally (minhash wraparound arithmetic), so strictness is local:
      // a null produced from a non-null input raises like the reference
      // instead of silently nulling.
      val src = compileExpr(x, f)
      val casted = src.cast(IntegerType)
      when(src.isNotNull && casted.isNull,
        raise_error(concat(lit("int(): cannot convert '"),
          src.cast(StringType), lit("'"))).cast(IntegerType))
        .otherwise(casted)
    case Contains(x, vs) =>
      compileExpr(x, f).isin(vs.map {
        case StrLit(s) => s
        case NumLit(n) => n
        case other => throw new IllegalArgumentException(s"contains $other")
      }: _*)
    case TextSig(kind, x) =>
      // the canonical signal columns (graft.functions.TextSignals) —
      // the same formulas the gate catalogue pins against full oracles
      val src = compileExpr(x, f).cast(StringType)
      kind match {
        case TextSigKind.Tokens => graft.functions.TextSignals.tokens(src)
        case TextSigKind.Quality => graft.functions.TextSignals.quality(src)
        case TextSigKind.LangId => graft.functions.TextSignals.langid(src)
        case TextSigKind.Repetition =>
          graft.functions.TextSignals.repetition(src)
        case TextSigKind.Normalize =>
          graft.functions.TextNorm.normalize(src)
      }
    case RegexExtract(x, pat, toks) =>
      val src = compileExpr(x, f).cast(StringType)
      val parts = toks.map {
        case GroupTok(n) => regexp_extract(src, pat, n)
        case LitTok(s) => lit(s)
      }
      if (parts.size == 1) parts.head else concat(parts: _*)
    case FormatDate(x, part) =>
      val ts = to_timestamp(compileExpr(x, f))
      part match {
        case DatePart.Date => to_date(ts)
        case DatePart.Day => dayofmonth(ts)
        case DatePart.Week => weekofyear(ts)
        case DatePart.WeekDay => dayofweek(ts)
        case DatePart.Month => month(ts)
        case DatePart.Year => year(ts)
      }
    case Moving(red, n, x) =>
      val w = orderedWindow(f)
      val c = compileExpr(x, f)
      // first n-1 points are missing (snippets:182-189; stripped by
      // programs via `only !(x = missing)`, MTTR.hb:32-35); with an
      // active series key, the prefix is per-series
      when(row_number().over(w) >= n,
        reduce(red, c).over(w.rowsBetween(-(n - 1), 0)))
    case Expanding(red, x) =>
      val w = orderedWindow(f)
        .rowsBetween(Window.unboundedPreceding, 0)
      reduce(red, compileExpr(x, f)).over(w)
    case LinReg(_, _) =>
      // never compiled inline: materializeLinRegs rewrites every LinReg
      // node into an aggregate-fit temp column before compilation —
      // a whole-frame window here would be a single-partition plan
      throw new IllegalArgumentException(
        "linear regression is supported in create column / only / " +
          "index rows by / maxby / minby / pivot / extrapolation " +
          "positions")
    case other =>
      throw new IllegalArgumentException(s"cannot compile $other")
  }

  /** Ordered window for `moving`/`expanding`/`ordinals`: partitioned by
    * the series key when one is active (the 100 TB path — zero
    * single-partition WindowExec), whole-frame otherwise (faithful
    * Deedle semantics, fine post-aggregation).
    *
    * The un-keyed shape is the engine's ONE single-partition plan, so
    * it self-polices: when the frame's optimizer size estimate exceeds
    * `graft.window.warnBytes` (session conf, default 256 MB — a frame
    * that size sorting through one WindowExec partition is a scale
    * bug, not parity), a named warning prints; with
    * `graft.window.strict = true` it RAISES instead, naming the
    * `series:` opt-in. Plan-stats only — no job runs. */
  private def orderedWindow(f: HbFrame)
      : org.apache.spark.sql.expressions.WindowSpec = {
    val sc = f.seriesCols
    if (sc.nonEmpty) Window.partitionBy(sc: _*).orderBy(f.order: _*)
    else {
      val conf = f.df.sparkSession.conf
      val warnBytes = BigInt(
        conf.get("graft.window.warnBytes", (256L << 20).toString))
      val est = f.df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est > warnBytes) {
        val msg = "whole-frame-window: moving/expanding without a " +
          s"`series:` key compiles to ONE window partition (estimated " +
          s"$est bytes > graft.window.warnBytes=$warnBytes) — key the " +
          "window with `series: <col>` for the partitioned scale path"
        if (conf.get("graft.window.strict", "false").toBoolean)
          throw new IllegalArgumentException(s"strict: $msg")
        Console.err.println(s"[graft] WARN $msg")
      }
      Window.orderBy(f.order: _*)
    }
  }

  // ------------------------------------------------- linear regression

  /** Rewrite every `linear regression [x] [y]` subexpression into a
    * reference to a materialized `__lrN` column.
    *
    * The fit is a one-row aggregate (exact decimal sums, same scheme as
    * `extrapolate`) broadcast-crossJoined back — or, with an active
    * series key, a per-series aggregate equi-joined back. Either way the
    * plan is a partial-aggregate + broadcast/shuffle join: parallel at
    * any scale, where the r2 formulation (`covar_samp over
    * partitionBy(lit(0))`) forced the whole frame through one
    * WindowExec partition. */
  private def materializeLinRegs(f: HbFrame, e: Expr): (HbFrame, Expr) = {
    val regs = collectLinRegs(e).distinct
    // offset past temps a previous expression of the SAME statement
    // already materialized (pivot has three expression slots)
    val base = f.df.columns.count(_.startsWith("__lr"))
    regs.zipWithIndex.foldLeft((f, e)) { case ((fc, ec), (lr, i)) =>
      val tmp = s"__lr${base + i}"
      (materializeLinReg(fc, lr, tmp), substitute(ec, lr, ColRef(tmp)))
    }
  }

  private def collectLinRegs(e: Expr): Seq[LinReg] = e match {
    case lr @ LinReg(x, y) =>
      if (collectLinRegs(x).nonEmpty || collectLinRegs(y).nonEmpty)
        throw new IllegalArgumentException(
          "nested linear regression is not supported")
      Seq(lr)
    case Bin(_, l, r) => collectLinRegs(l) ++ collectLinRegs(r)
    case Not(x) => collectLinRegs(x)
    case IfElse(c, t, e2) =>
      collectLinRegs(c) ++ collectLinRegs(t) ++ collectLinRegs(e2)
    case IntCast(x) => collectLinRegs(x)
    case TextSig(_, x) => collectLinRegs(x)
    case Contains(x, _) => collectLinRegs(x)
    case RegexExtract(x, _, _) => collectLinRegs(x)
    case FormatDate(x, _) => collectLinRegs(x)
    case Moving(_, _, x) => collectLinRegs(x)
    case Expanding(_, x) => collectLinRegs(x)
    case _ => Nil
  }

  private def substitute(e: Expr, from: Expr, to: Expr): Expr =
    if (e == from) to
    else e match {
      case Bin(op, l, r) =>
        Bin(op, substitute(l, from, to), substitute(r, from, to))
      case Not(x) => Not(substitute(x, from, to))
      case IfElse(c, t, e2) => IfElse(substitute(c, from, to),
        substitute(t, from, to), substitute(e2, from, to))
      case IntCast(x) => IntCast(substitute(x, from, to))
      case TextSig(k, x) => TextSig(k, substitute(x, from, to))
      case Contains(x, vs) => Contains(substitute(x, from, to), vs)
      case RegexExtract(x, p, ts) =>
        RegexExtract(substitute(x, from, to), p, ts)
      case FormatDate(x, p) => FormatDate(substitute(x, from, to), p)
      case Moving(r, n, x) => Moving(r, n, substitute(x, from, to))
      case Expanding(r, x) => Expanding(r, substitute(x, from, to))
      case other => other
    }

  private def materializeLinReg(f: HbFrame, lr: LinReg,
      name: String): HbFrame = {
    val xc = compileExpr(lr.x, f).cast(DoubleType)
    val yc = compileExpr(lr.y, f).cast(DoubleType)
    val aggs = Seq(
      count(lit(1)).as("__n"),
      sum(xc.cast(dec6)).cast(DoubleType).as("__sx"),
      sum(yc.cast(dec6)).cast(DoubleType).as("__sy"),
      sum((xc * yc).cast(dec12)).cast(DoubleType).as("__sxy"),
      sum((xc * xc).cast(dec12)).cast(DoubleType).as("__sxx"))
    val slope = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
      (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
    val fitCols = Seq(slope.as(s"${name}_s"),
      (col("__sy") / col("__n")).as(s"${name}_my"),
      (col("__sx") / col("__n")).as(s"${name}_mx"))
    val sc = f.seriesCols
    val joined =
      if (sc.isEmpty) {
        val fit = f.df.agg(aggs.head, aggs.tail: _*).select(fitCols: _*)
        f.df.crossJoin(broadcast(fit))
      } else {
        // per-series fit: null-safe equi-join so null series keys keep
        // their group's fit (groupBy groups nulls together); key columns
        // aliased in the fit frame to keep resolution unambiguous
        val keyAlias = f.series.zipWithIndex.map { case (c, j) =>
          (c, s"${name}_k$j") }
        val fit = f.df.groupBy(sc: _*).agg(aggs.head, aggs.tail: _*)
          .select(keyAlias.map { case (c, a) => col(c).as(a) } ++
            fitCols: _*)
        val cond = keyAlias.map { case (c, a) => f.df(c) <=> fit(a) }
          .reduce(_ && _)
        f.df.join(fit, cond).drop(keyAlias.map(_._2): _*)
      }
    val out = joined
      .withColumn(name,
        (col(s"${name}_my") - col(s"${name}_s") * col(s"${name}_mx")) +
          col(s"${name}_s") * xc)
      .drop(s"${name}_s", s"${name}_my", s"${name}_mx")
    f.copy(df = out)
  }

  /** Drop the `__lrN` temp columns a statement's rewrite introduced. */
  private def dropLrTemps(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith("__lr")).toIndexedSeq: _*)

  // -------------------------------------------------------- extrapolation

  /** `create column N (linear extrapolation [known] nPred nTrain)` — fit on
    * the last nTrain keys, append nPred predicted rows extending the index
    * (snippets:206-213). The reference's implementation crashes its
    * calculator (production transformations/Metrics.fs:69-81, disabled
    * with "there's a bug making the calculator crash"); this is the fix.
    */
  private def extrapolate(f0: HbFrame, name: String, known0: Expr,
      nPred: Int, nTrain: Int): HbFrame = {
    val (f, known) = materializeLinRegs(f0, known0)
    val spark = f.df.sparkSession
    val y = compileExpr(known, f).cast(DoubleType)
    val x = col(KEY).cast(DoubleType)
    // compute the known column while any __lr temps are in scope, then
    // drop them so they never leak into the appended/unioned output
    val base = dropLrTemps(f.df.withColumn(name, y))
    val tail = base.orderBy(col(KEY).desc).limit(nTrain)
      .select(x.as("__x"), col(name).as("__y"))
    // decimal accumulation: the tail fit is bit-stable under any
    // partitioning of the nTrain rows (same scheme as reduceDet)
    val fit = tail.agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast(dec6)).cast(DoubleType).as("sx"),
      sum(col("__y").cast(dec6)).cast(DoubleType).as("sy"),
      sum((col("__x") * col("__y")).cast(dec12)).cast(DoubleType).as("sxy"),
      sum((col("__x") * col("__x")).cast(dec12)).cast(DoubleType).as("sxx"),
      max(col("__x")).as("maxx"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        (col("sy") / col("n")).as("my"),
        (col("sx") / col("n")).as("mx"),
        col("maxx"))
    val preds = spark.range(1, nPred + 1).toDF("__i")
      .crossJoin(broadcast(fit))
      .select((col("maxx") + col("__i")).as("__newx"),
        (col("my") + col("slope") * (col("maxx") + col("__i") - col("mx")))
          .as(name))
    val appendRows = base.columns.filterNot(c => c == name || c == KEY)
      .foldLeft(preds) { (df, c) =>
        df.withColumn(c, lit(null).cast(base.schema(c).dataType))
      }.withColumn(KEY, col("__newx").cast(base.schema(KEY).dataType))
      .drop("__newx", "__i")
    val unioned = base.unionByName(
      appendRows.select(base.columns.map(col).toIndexedSeq: _*))
    HbFrame(unioned, Seq(col(KEY).asc), f.series)
  }
}
