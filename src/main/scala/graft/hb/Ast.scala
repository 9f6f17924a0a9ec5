package graft.hb

/** AST for the hobbes transformation DSL (SURVEY §2).
  *
  * Statement and expression inventory mirrors the reference surface exactly:
  * statement syntax from tools/hobbes-vscode/.vscode/
  * hobbes-autocomplete.code-snippets:3-213 and the seven corpus programs in
  * tests/transformations/ .hb corpus; expression vocabulary from
  * tools/hobbes-vscode/syntaxes/hobbes.YAML-tmLanguage:5-18.
  */
object Ast {

  /** Reduction vocabulary (hobbes.YAML-tmLanguage:13-14). */
  sealed abstract class Reduction(val name: String)
  object Reduction {
    case object Count extends Reduction("count")
    case object Distinct extends Reduction("distinct")
    case object Max extends Reduction("max")
    case object Mean extends Reduction("mean")
    case object Median extends Reduction("median")
    case object Min extends Reduction("min")
    case object StdDev extends Reduction("stddev")
    case object Sum extends Reduction("sum")
    case object Variance extends Reduction("variance")
    val all: Seq[Reduction] =
      Seq(Count, Distinct, Max, Mean, Median, Min, StdDev, Sum, Variance)
    def byName(n: String): Option[Reduction] = all.find(_.name == n)
  }

  /** Date parts for `format date` (snippets:134-141, lowercased). */
  sealed abstract class DatePart(val name: String)
  object DatePart {
    case object Date extends DatePart("date")
    case object Day extends DatePart("day")
    case object Week extends DatePart("week")
    case object WeekDay extends DatePart("weekday")
    case object Month extends DatePart("month")
    case object Year extends DatePart("year")
    val all: Seq[DatePart] = Seq(Date, Day, Week, WeekDay, Month, Year)
    def byName(n: String): Option[DatePart] =
      all.find(_.name == n.toLowerCase)
  }

  sealed trait Expr
  /** Column reference — bare identifier or double-quoted name. */
  case class ColRef(name: String) extends Expr
  /** Single-quoted string literal. */
  case class StrLit(v: String) extends Expr
  case class NumLit(v: Double) extends Expr
  /** `missing` — the null literal (snippets:174-181). */
  case object MissingLit extends Expr
  /** `keys` — row key reified (snippets:166-173; MTTR.hb:28). */
  case object KeysExpr extends Expr
  /** `ordinals` — row ordinal (hobbes.YAML-tmLanguage:10). */
  case object OrdinalsExpr extends Expr
  /** boolean constant `True` — `only True` keeps all rows (F# DSL,
    * 1_General.fs:65-67). */
  case object TrueLit extends Expr

  /** Binary ops: = != > < >= <= + - * / && || */
  case class Bin(op: String, l: Expr, r: Expr) extends Expr
  case class Not(e: Expr) extends Expr
  /** `if [b] {t} else {f}` (snippets:142-149), nestable (logic.hb:18). */
  case class IfElse(cond: Expr, t: Expr, f: Expr) extends Expr
  /** `int (e)` (snippets:150-157). */
  case class IntCast(e: Expr) extends Expr
  /** `contains <e> [v1; v2; …]` (tutorial/transformations.fsx:110-126). */
  case class Contains(e: Expr, values: Seq[Expr]) extends Expr

  /** Text-analysis signal functions — this engine's extension
    * vocabulary, `int (e)`-shaped so curation signals are first-class
    * expressions in `create column`/`only` like everything else in the
    * reference's closed DSL (hobbes-autocomplete.code-snippets:3-213):
    * `tokens (e)` whitespace token count, `quality (e)` bounded quality
    * score, `langid (e)` language guess, `repetition (e)`
    * duplicate-token fraction. Compiled to the canonical
    * graft.functions.TextSignals columns. */
  sealed abstract class TextSigKind(val name: String)
  object TextSigKind {
    case object Tokens extends TextSigKind("tokens")
    case object Quality extends TextSigKind("quality")
    case object LangId extends TextSigKind("langid")
    case object Repetition extends TextSigKind("repetition")
    /** `normalize (e)` — the deterministic NFKC-lite cleanup
      * (graft.functions.TextNorm.normalize, string result). */
    case object Normalize extends TextSigKind("normalize")
    val all: Seq[TextSigKind] =
      Seq(Tokens, Quality, LangId, Repetition, Normalize)
    def byName(n: String): Option[TextSigKind] = all.find(_.name == n)
  }
  case class TextSig(kind: TextSigKind, e: Expr) extends Expr

  /** `regex [e] /re/ [tok…]` — result is the concatenation of group
    * captures and literal tokens (snippets:158-165; Velocity.hb:24). */
  sealed trait RegexTok
  case class GroupTok(n: Int) extends RegexTok
  case class LitTok(s: String) extends RegexTok
  case class RegexExtract(e: Expr, pattern: String, toks: Seq[RegexTok])
      extends Expr

  /** `format date <col> <part>` (snippets:134-141). */
  case class FormatDate(e: Expr, part: DatePart) extends Expr

  /** `moving <red> <n> [e]` — trailing window, missing prefix
    * (snippets:182-189). */
  case class Moving(red: Reduction, window: Int, e: Expr) extends Expr
  /** `expanding <red> [e]` (snippets:190-197). */
  case class Expanding(red: Reduction, e: Expr) extends Expr
  /** `linear regression [x] [y]` (snippets:198-205). */
  case class LinReg(x: Expr, y: Expr) extends Expr
  /** Parser-internal: `linear extrapolation` in expression position;
    * promoted to the LinearExtrapolation statement by parseStatement. */
  private[hb] case class ExtrapExpr(known: Expr, nPred: Int, nTrain: Int)
      extends Expr

  sealed trait GroupReduction
  case class RowsBy(red: Reduction) extends GroupReduction
  case class MaxBy(e: Expr) extends GroupReduction
  case class MinBy(e: Expr) extends GroupReduction

  sealed trait Statement
  case class CreateColumn(name: String, e: Expr) extends Statement
  case class RenameColumn(from: String, to: String) extends Statement
  case class SliceColumns(names: Seq[String]) extends Statement
  case class Only(e: Expr) extends Statement
  case object DenseRows extends Statement
  case object DenseColumns extends Statement
  case object NumericColumns extends Statement
  case class IndexBy(e: Expr) extends Statement
  case class SortByColumn(name: String) extends Statement
  case class GroupBy(cols: Seq[String], red: GroupReduction) extends Statement
  /** `window <tsCol> <minutes> [<delayMinutes>] group by <cols…> ->
    * <reduction>` — tumbling event-time aggregation: every remaining
    * numeric column reduces per (time bucket, group cols), the bucket
    * bounds surface as `window_start`/`window_end`. One translation for
    * batch and streaming: the watermark tag (delay defaults to 0 —
    * emit a bucket as soon as event time passes its end; production
    * authors raise it to admit late data) is a no-op under batch
    * execution and bounds state in append-mode streaming. */
  case class WindowAgg(tsCol: String, minutes: Int, delayMinutes: Int,
      cols: Seq[String], red: Reduction) extends Statement
  /** `pivot [rowE] [colE] -> red [valueE]` (Velocity.hb:28), with an
    * optional trailing explicit value list `['a'; 'b'; …]`. With values
    * the output schema is declared up front and no distinct-discovery job
    * runs on the driver — the scale path when colE is high-cardinality;
    * without, columns are discovered like the reference (which always
    * materializes the full pivot, Program.fs:49). */
  case class Pivot(rowE: Expr, colE: Expr, red: Reduction, valueE: Expr,
      values: Seq[Expr] = Nil) extends Statement
  case class Buckets(n: Int, red: Reduction) extends Statement
  case class KMeansCluster(n: Int, red: Reduction) extends Statement
  case class Each(red: Reduction) extends Statement
  /** `create column X (linear extrapolation [known] nPredict nTrain)` is an
    * expression in the reference grammar but appends rows — modeled as a
    * statement here (SURVEY §7.4.7). */
  case class LinearExtrapolation(name: String, known: Expr, nPredict: Int,
      nTrain: Int) extends Statement
  /** `!# … !#` literate block — retained for tooling, skipped by the
    * engine (hobbes.YAML-tmLanguage:24-27). */
  case class Comment(text: String) extends Statement

  // ---- training-pipeline extension statements -------------------------
  // No .hb analogue exists in the reference corpus (these operators are
  // this engine's extensions); the surface follows the reference's
  // statement style — lowercase keyword, bare/quoted column names,
  // bracketed expressions — so extension pipelines read like the rest of
  // a program and round-trip through the same Printer/parser validation.

  /** `dedup exact <col>` — keep the lowest-key row per normalized text
    * fingerprint (operators.Dedup.exactSurvivors). */
  case class DedupExact(col: String) extends Statement
  /** `dedup substrings <col> <k>` — EXACT repeated-substring removal
    * (Lee et al. 2022 EXACTSUBSTR, r13): every token covered by a
    * ≥k-token substring occurring verbatim more than once corpus-wide
    * is excised — adds `scrubbed` and `n_removed` next to the text
    * (operators.SubstringDedup.scrubRepeats on the frame key). The
    * arbitrary-length exact sibling of the winnowed `scrub`
    * cross-corpus statement. */
  case class DedupSubstrings(col: String, k: Int) extends Statement
  /** `dedup minhash <col> <threshold>` — MinHash+LSH near-dup survivors
    * (operators.Dedup.minhashLsh, portable hasher: the text surface is
    * the cross-engine contract, so signatures must re-derive anywhere). */
  case class DedupMinhash(col: String, threshold: Double) extends Statement
  /** `dedup simhash <col> <maxHamming>` — SimHash near-dup survivors
    * (operators.Dedup.simhashDedup, portable hasher). */
  case class DedupSimhash(col: String, maxHamming: Int) extends Statement
  /** `cluster minhash <col> <threshold>` — adds a `component` column:
    * the minimum key of the row's near-dup cluster under verified
    * MinHash pair evidence (operators.Components over
    * Dedup.minhashPairs) — the transitive form of `dedup minhash`. */
  case class ClusterMinhash(col: String, threshold: Double)
      extends Statement
  /** `split <tr>/<va>/<te> by <col> ['salt']` — deterministic hash split
    * (operators.Sampling.hashSplit). 2 percents = train/test, 3 =
    * train/val/test; they must sum to 100. */
  case class SplitBy(percents: Seq[Double], col: String,
      salt: String = "split") extends Statement
  /** `sample <pct> by <col> ['salt']` — deterministic hash sample
    * keeping pct% of rows (operators.Sampling.hashSample; percentages
    * to match `split`). */
  case class SampleBy(percent: Double, col: String,
      salt: String = "sample") extends Statement
  /** `mix by <stratumCol> [s1 p1; s2 p2; …] <defaultPct> ['salt']` —
    * stratified domain-mix sample: each listed stratum keeps its own
    * percentage, others keep defaultPct; ids are the frame index
    * (operators.Sampling.stratifiedSample). */
  case class MixBy(stratumCol: String, percents: Seq[(String, Double)],
      defaultPercent: Double, salt: String = "mix") extends Statement
  /** `mix temperature by <stratumCol> ['salt']` — the temperature-2
    * domain mix (kept mass per stratum ∝ √n_s, rarest stratum keeps
    * 100%; operators.Sampling.temperatureSample): the p_s ∝ n_s^(1/T)
    * reweighting multilingual pretraining applies, as an exact-integer
    * salted cut (bucket²·n_s < 10⁸·n_min) — downsample-only, ids are
    * the frame index. */
  case class TemperatureMixBy(stratumCol: String,
      salt: String = "tmix") extends Statement
  /** `pack <tokensCol> <budget> [shards]` — sequence-packing layout
    * keyed on the frame index (operators.Packing.packedLayout). */
  case class Pack(tokensCol: String, budget: Long, shards: Int = 64)
      extends Statement
  /** `pack bins <tokensCol> <budget> [shards]` — DOCUMENT-ALIGNED
    * bins under best-fit-decreasing (operators.Packing.binLayout,
    * decreasing + bestFit): the SFT layout where documents must not
    * cross sequence boundaries. Replaces the frame like `pack`:
    * key + (shard, bin, bin_offset). */
  case class PackBins(tokensCol: String, budget: Long, shards: Int = 64)
      extends Statement
  /** `emit packed <idsCol> <budget> [shards]` — layout + MATERIALIZE
    * the GPT-style spanning training sequences in one statement
    * (operators.Packing.packedLayout over size(ids), then emitPacked):
    * one row per (shard, seq) with `input_ids` (space-joined, padded
    * to the budget with 0), `n_tokens`, `n_docs`, `doc_starts`
    * (space-joined new-document offsets). Replaces the frame. */
  case class EmitPacked(idsCol: String, budget: Long, shards: Int = 64)
      extends Statement
  /** `emit aligned <idsCol> <budget> [shards]` — the DOCUMENT-ALIGNED
    * twin ([[PackBins]] placement via best-fit-decreasing, then
    * emitAligned): one row per (shard, bin), same output shape. */
  case class EmitAligned(idsCol: String, budget: Long, shards: Int = 64)
      extends Statement
  /** `pairs <textCol> <scoreCol> by <groupCol> [minMargin]` —
    * preference-pair (DPO) artifact emit (operators.Preference): one
    * (chosen, rejected) row per group — best vs worst candidate by the
    * integer score with deterministic id tie-breaks; groups with < 2
    * candidates or margin below `minMargin` (default 1) drop. Replaces
    * the frame; the group becomes the key. */
  case class Pairs(textCol: String, scoreCol: String, groupCol: String,
      minMargin: Long = 1L) extends Statement
  /** `chunk <textCol> <window> [stride]` — fixed-window token chunking
    * with stride (operators.Chunking.chunkLayout). The frame key stays
    * the SOURCE document key (one doc → many chunk rows; `chunk_id`
    * disambiguates), so `create column <id> keys` re-materializes the
    * doc id exactly like after `pack`. stride defaults to window
    * (disjoint chunks). */
  case class Chunk(textCol: String, window: Int, stride: Int)
      extends Statement
  /** Index mode for `neighbors` — which ANN path the statement compiles
    * to. `exact` (the default, no trailing clause) is the brute-force
    * cosine baseline; the indexed modes are the scale paths:
    * `pq <m>` product quantization with exact re-rank, `ivf <cells>`
    * coarse-cell pruning, `mmr <lambdaTenths>` diversity re-rank over
    * the exact pool. Indexed modes take their query set as a predicate
    * over `keys` ONLY (the index operators filter on the id column). */
  sealed trait AnnIndex
  object AnnIndex {
    case object Exact extends AnnIndex
    /** `pq <m>`: m subspace codebooks, 16 codes, exact re-rank of 50. */
    case class Pq(m: Int) extends AnnIndex
    /** `ivf <cells>`: deterministic coarse cells, nprobe = 4. */
    case class Ivf(cells: Int) extends AnnIndex
    /** `mmr <lambdaTenths>`: greedy λ/10 trade over a pool of 50. */
    case class Mmr(lambdaTenths: Int) extends AnnIndex
  }
  /** `neighbors <k> [<vecCol>] [<queryPred>] [pq <m>|ivf <n>|mmr <λ>]`
    * — cosine top-k of every row matching the predicate against the
    * whole frame (ids are the frame index). No trailing mode → exact
    * brute force (operators.Similarity.bruteForceTopK); the indexed
    * modes compile to pqTopK / ivfTopK / mmrTopK. */
  case class Neighbors(k: Int, vec: Expr, pred: Expr,
      index: AnnIndex = AnnIndex.Exact) extends Statement
  /** `scrub <textCol> [k]` — passage removal: drop every token covered
    * by a corpus-repeated k-token window, all copies (the Lee-et-al
    * ExactSubstr policy; operators.PassageDedup.scrub). Adds
    * `scrubbed`/`n_tokens`/`n_removed`; row set and key unchanged. */
  case class Scrub(textCol: String, k: Int = 8) extends Statement
  /** `encode <textCol> <size>` — fit a top-`size` frequency vocabulary
    * on the frame and add `token_ids` (OOV → 0, null text → null;
    * operators.Vocab.fitEncode on the frame key). */
  case class Encode(textCol: String, size: Int) extends Statement
  /** `top <k> by <scoreCol> per <stratumCol>` — stratified quality
    * selection: keep the best k rows of every stratum by
    * (score DESC, key ASC), plus a 1-based `rank` within the stratum
    * (operators.Selection.topKPerStratum on the frame key). */
  case class TopBy(k: Int, scoreCol: String, stratumCol: String)
      extends Statement
  /** `top <p> pct by <scoreCol> per <stratumCol>` — the fractional
    * twin: keep the best ceil(p% of the stratum) rows of every stratum
    * under the same (score DESC, key ASC) total order
    * (operators.Selection.topFracPerStratum on the frame key). */
  case class TopFracBy(pct: Int, scoreCol: String, stratumCol: String)
      extends Statement
  /** `bpe <textCol> <nMerges>` — train a BPE merge table on the frame's
    * text column (deterministic pair counts, operators.Bpe) and add
    * `bpe` = the space-joined subword encoding. */
  case class BpeEnc(textCol: String, nMerges: Int) extends Statement
  /** `wordpiece <textCol> <nMerges>` — the BERT tokenizer family
    * (operators.WordPiece): fit `nMerges` likelihood-ranked merges on
    * the frame's text, build the final vocabulary, and add `wp` (the
    * greedy longest-match piece stream, `##` continuations, `[UNK]`
    * collapse) and `n_pieces`. */
  case class WordPieceEnc(textCol: String, nMerges: Int) extends Statement
  /** `decon <textCol> using <conf> [n]` — decontamination at ingest:
    * the eval configuration's distinct word n-grams (bounded by the
    * eval-benchmark contract) become a broadcast literal set, and the
    * frame/stream side adds `contaminated` via a stateless
    * arrays_overlap narrow map — the streaming form of [[DeconOf]]. */
  case class DeconUsing(textCol: String, conf: String, n: Int = 8)
      extends Statement
  /** `decon semantic <vecCol> using <conf> [thresholdFp]` — SEMANTIC
    * decontamination at ingest: the eval configuration's quantized
    * vectors + norms (bounded by the eval-benchmark contract) collect
    * into ONE pair of array literals at translation time, and the
    * frame/stream side adds `max_cos_fp`/`contaminated` via the native
    * codegen'd [[graft.functions.MaxCosQ]] narrow map — the streaming
    * form of [[graft.hb.Configurations.SemDeconOf]] (catches
    * paraphrased benchmark leakage the n-gram [[DeconUsing]] misses).
    * thresholdFp is fixed-point cosine ×1e9 (default 0.25). */
  case class SemDeconUsing(vecCol: String, conf: String,
      thresholdFp: Long = 250000000L) extends Statement

  /** `fim <textCol> [permille] ['salt']` — the fill-in-the-middle
    * pretraining transform ([[graft.operators.SpanCorrupt.fim]]): a
    * deterministic permille of documents reorder PSM
    * (`<PRE> prefix <SUF> suffix <MID> middle`) under salted-md5 cut
    * draws keyed on the frame index; the rest pass through. Adds
    * `fim`/`fim_applied`/`n_tokens`. Pure narrow map — stream-safe. */
  case class FimTransform(textCol: String, permille: Int = 900,
      salt: String = "fim") extends Statement
  /** `unigram <textCol> <topMulti>` — the SentencePiece-family
    * unigram-LM tokenizer (operators.Unigram): candidate fit + one
    * Viterbi hard-EM refinement on the frame's text, then min-cost
    * segmentation; adds `ug` (space-joined pieces) and `n_pieces`. */
  case class UnigramEnc(textCol: String, topMulti: Int) extends Statement
  /** `unigram <textCol> using <conf> <topMulti>` — the [[UnigramEnc]]
    * twin with the model fit OFFLINE on a named batch configuration;
    * the frame/stream side is the stateless compiled Viterbi encode. */
  case class UnigramUsing(textCol: String, conf: String, topMulti: Int)
      extends Statement
  /** `wordpiece <textCol> using <conf> <nMerges>` — the
    * [[WordPieceEnc]] twin with the model fit OFFLINE on a named batch
    * configuration; the frame/stream side is the stateless greedy
    * encode (a pure narrow map — append-safe on streams). */
  case class WordPieceUsing(textCol: String, conf: String, nMerges: Int)
      extends Statement

  /** `wordpiece ids <textCol> <nMerges> [tags '<t>' …]` — the BERT
    * trainer-input form of [[WordPieceEnc]]: the same fit + final
    * vocabulary, emitted as vocabFrame-layout id ARRAYS (`token_ids`:
    * [UNK]=0, sorted vocabulary at 1..N) plus `ids_str`/`n_ids`. The
    * optional `tags` clause (r14 — the [[BpeIdsEnc]] discipline for
    * the second family) RESERVES each listed string: segmented
    * atomically before the lowercasing tokenizer, excluded from the
    * fit corpus, one dedicated id N+1+k above the vocabulary. */
  case class WordPieceIdsEnc(textCol: String, nMerges: Int,
      tags: Seq[String] = Nil) extends Statement

  /** `wordpiece ids <textCol> using <conf> <nMerges> [tags '<t>' …]` —
    * [[WordPieceIdsEnc]] with the model fit OFFLINE on a named batch
    * configuration (persisted under a bound store; the tags list is
    * part of the stored-model key): BERT input_ids at ingest as a
    * stateless codegen'd narrow map. */
  case class WordPieceIdsUsing(textCol: String, conf: String,
      nMerges: Int, tags: Seq[String] = Nil) extends Statement

  /** `unigram ids <textCol> <topMulti> [tags '<t>' …]` — the
    * trainer-input form of [[UnigramEnc]]: the refined model's pieces
    * emitted as sorted-order id ARRAYS (`[UNK]` = 0), plus
    * `ids_str`/`n_ids`. The optional `tags` clause (r14) reserves
    * specials exactly as [[WordPieceIdsEnc]]'s. */
  case class UnigramIdsEnc(textCol: String, topMulti: Int,
      tags: Seq[String] = Nil) extends Statement

  /** `unigram ids <textCol> using <conf> <topMulti> [tags '<t>' …]` —
    * [[UnigramIdsEnc]] with the model fit OFFLINE on a named batch
    * configuration (persisted under a bound store; the tags list is
    * part of the stored-model key). */
  case class UnigramIdsUsing(textCol: String, conf: String,
      topMulti: Int, tags: Seq[String] = Nil) extends Statement

  /** `langid <textCol> using <conf>` — TRAINABLE language ID at
    * ingest (r14): the multiclass char-trigram NB
    * ([[graft.operators.LangId]]) fits OFFLINE on the named batch
    * configuration (which must carry a `lang` label column next to
    * `textCol`); the stream side adds `n_grams`/`lang_pred` as a
    * stateless zero-shuffle narrow map (no-evidence rows keep NULLs).
    * The learned twin of the `langid (e)` expression signal. */
  case class LangIdUsing(textCol: String, conf: String)
      extends Statement

  /** `fertility <textCol> using <conf> <nMerges>` — the tokenizer
    * OBSERVABILITY statement at ingest (r13): under a byte table fit
    * OFFLINE on the named configuration, report per document `words`
    * (whitespace tokens), `chars`, `n_ids`, `fertility_permille`
    * (ids·1000/words — subword splits per word, the tokenizer-quality
    * metric) and `compression_permille` (chars·1000/ids). Stateless
    * codegen'd narrow map, append-safe — per-corpus roll-ups happen
    * downstream in batch where the grouping is cheap and exact. */
  case class FertilityUsing(textCol: String, conf: String,
      nMerges: Int) extends Statement

  /** `decode ids <idsCol> using <conf> <nMerges> [of <textCol>]` — the
    * LOSSLESS inverse of `bpe ids … using` under the same offline-fit
    * byte table: adds `text_decoded`, byte-identical to the original
    * text (an out-of-range id raises — wrong-tokenizer drift).
    * `textCol` names the column the ENCODE side fit its table on
    * (default `text`): the stored-model key includes the fit column, so
    * a decode fit on a different column would silently bind a DIFFERENT
    * table and corrupt `text_decoded` — the `of` clause keeps the two
    * sides keyed identically when the encode statement's column is not
    * `text`. Stateless narrow map, append-safe. */
  case class BpeIdsDecodeUsing(idsCol: String, conf: String,
      nMerges: Int, textCol: String = "text") extends Statement

  /** `decode ids <idsCol>` (no `using`) — the BATCH inverse (r13):
    * decodes under the merge table the SAME program's `bpe ids` (or
    * `sft`) statement published on the ids column's METADATA
    * ([[graft.operators.Bpe.mergesMetadata]]) — zero refit, the two
    * sides can never bind different tables. Raises when the column
    * carries no table (run the encode statement first, or use the
    * `using` form to bind a configuration). Adds `text_decoded`. */
  case class BpeIdsDecode(idsCol: String) extends Statement
  /** `rebalance by <stratumCol> [weight <wcol>] [s1 p1; s2 p2; …]
    * ['salt']` — keep the largest deterministic subsample whose stratum
    * mix is exactly the listed percentages, measured over document
    * counts or, with the `weight` clause, over SUM(wcol) mass (token /
    * char budgets); unlisted strata drop (operators.Sampling.rebalance
    * / rebalanceByWeight on the frame key). */
  case class RebalanceBy(stratumCol: String,
      targets: Seq[(String, Double)], salt: String = "rebalance",
      weightCol: Option[String] = None)
      extends Statement
  /** `diverse <k> [vec]` — greedy k-center coreset selection over the
    * vector column: the frame collapses to the k most mutually
    * dissimilar rows as (rank, key, maxsim_fp)
    * (operators.Similarity.kCenterSelect on the frame key). */
  case class Diverse(k: Int, vec: Expr) extends Statement
  /** `shuffle ['salt']` — add `shuffle_pos`, the row's 1-based global
    * training-epoch position under (salted hash of the key, key)
    * (operators.Sampling.shuffleOrder on the frame key; a different
    * salt is an independent epoch order). */
  case class Shuffle(salt: String = "epoch") extends Statement
  /** `curriculum by <score> <bands> ['salt']` — curriculum training
    * order (operators.Sampling.curriculumOrder on the frame key):
    * `shuffle_pos` follows the global quality band (NTILE over the
    * score, low = early) with a salted decorrelated shuffle inside
    * each band, so a following [[Shards]] puts the easiest band in
    * the first shards. Emits `band` and `shuffle_pos` — the same
    * ordinal contract as [[Shuffle]]. */
  case class Curriculum(scoreCol: String, bands: Int,
      salt: String = "curriculum") extends Statement
  /** `upsample by <stratum> [s f; …] ['salt']` — deterministic
    * fractional stratum upsampling
    * (operators.Sampling.upsampleByFactor on the frame key): each row
    * emits ⌊f⌋ replicas plus one more on a salted hash draw of the
    * fractional remainder, so the stratum's mass scales by exactly f;
    * f < 1 downsamples, 0 drops, unlisted strata pass through (factor
    * 1). Adds 0-based `rep` and recomposes the frame key to key:rep,
    * so a following [[Shuffle]]/[[Shards]] orders replicas totally.
    *
    * BUDGET form: `upsample by <stratum> weight <w> [s pct; …]
    * budget <B> ['salt']` — the factors are PLANNED instead of given
    * (operators.Sampling.epochPlan): stratum s repeats for
    * B·pct_s/mass_s epochs so the output holds B weight-units at the
    * listed mix; strata outside the target list DROP (budget
    * semantics). Percentages like `rebalance`; must sum to 100. */
  case class Upsample(stratumCol: String, factors: Seq[(String, Double)],
      salt: String = "upsample",
      plan: Option[(String, Long)] = None) extends Statement
  /** `shards <n>` — balanced contiguous shard placement over the epoch
    * order: requires a prior [[Shuffle]]'s `shuffle_pos` column and
    * adds `shard`/`pos_in_shard`, the training-artifact layout
    * [[graft.sinks.Sinks.writeShards]] materializes
    * (operators.Sampling.epochShards). */
  case class Shards(n: Int) extends Statement
  /** `score <textCol> using <conf> [buckets] ['salt']` — the
    * offline-fit/online-score pairing, authorable from the closed DSL:
    * a hashed-bigram LM (operators.Surprisal) fits on the MODEL
    * configuration named `conf`, and the frame — a live stream in
    * StreamHb — gains (n_pairs, surprisal_sum, avg1000) through the
    * zero-shuffle literal-map scorer. Model configurations resolve
    * through the runner (StreamHb's `resolve`); a batch Engine run
    * rejects the statement by name. */
  case class ScoreUsing(textCol: String, conf: String,
      buckets: Int = 4096, salt: String = "lm") extends Statement
  /** `classify <textCol> using <posConf> <negConf> [buckets] ['salt']`
    * — hashed-NB seed classifier (operators.Classifier) fit on the two
    * seed configurations, margins scored on the frame through the
    * stateless narrow path: (n_tokens, margin_sum, margin1000). */
  case class ClassifyUsing(textCol: String, pos: String, neg: String,
      buckets: Int = 4096, salt: String = "nb") extends Statement
  /** `encode <textCol> using <conf> <size>` — the [[Encode]] twin with
    * the vocabulary fit on a MODEL configuration instead of the frame
    * itself (operators.Vocab.encodeNarrow): yesterday's ids tokenize
    * today's stream. */
  case class EncodeUsing(textCol: String, conf: String, size: Int)
      extends Statement
  /** `decode <idsCol> using <conf> <size>` — the [[EncodeUsing]]
    * inverse: the vocabulary fits on the MODEL configuration and the
    * frame's id arrays decode back to the space-joined token stream
    * (operators.Vocab.decodeNarrow — visible `<oov>` marker keeps
    * positions aligned; an id outside the fitted vocabulary raises,
    * the wrong-vocabulary drift signal). */
  case class DecodeUsing(idsCol: String, conf: String, size: Int)
      extends Statement
  /** `bpe bytes <textCol> <nMerges>` — the BYTE-LEVEL [[BpeEnc]]:
    * GPT-2-style regex pretokens, byte-alphabet symbols, case and
    * whitespace preserved, lossless `decode bytes` inverse
    * (byte-level operators.Bpe.fit + the codegen'd native encode). Adds
    * `bpe` like [[BpeEnc]]. */
  case class BpeBytesEnc(textCol: String, nMerges: Int) extends Statement

  /** `decode bytes <encCol>` — lossless inverse of `bpe bytes`'s
    * subword stream: adds `text_decoded`, byte-identical to the
    * encoded text (needs no merge table; a symbol outside the byte
    * alphabet raises — wrong-tokenizer drift). */
  case class BpeBytesDecode(encCol: String) extends Statement

  /** `bpe ids <textCol> <nMerges>` — the TRAINER-INPUT form of
    * [[BpeBytesEnc]]: the same byte-level merge table, emitted as
    * GPT-2-layout token-id ARRAYS (`token_ids`: ids 0-255 = bytes,
    * 255+rank = merge `rank`; `n_ids` = the length) — the shape
    * `emit packed`/`emit aligned` consume, so a pretraining pipeline
    * closes corpus → `input_ids` inside one program.
    *
    * Optional `tags '<t1>' '<t2>' …` clause (r13): the listed strings
    * become RESERVED special tokens — atomic single ids above the
    * vocabulary, excluded from the fit, losslessly decoded — so a
    * program can chain `fim text` → `bpe ids fim 6 tags '<PRE>'
    * '<SUF>' '<MID>'` and the sentinels never fragment. */
  case class BpeIdsEnc(textCol: String, nMerges: Int,
      tags: Seq[String] = Nil) extends Statement

  /** `sft <promptCol> <responseCol> <nMerges>` — the chat-template
    * trainer-input statement (r13): render each (prompt, response)
    * pair as `<|user|> p <|assistant|> r`, fit an `nMerges` byte table
    * on the rendered corpus with the chat tags RESERVED
    * (operators.Sft.Specials — atomic ids above the vocabulary, tag
    * text excluded from the fit), and emit `rendered`, `token_ids`
    * (specials-aware GPT-2-layout arrays), `n_ids`, and the EXACT
    * token-level `loss_start` (the rendered prefix's id count — a
    * strict prefix of token_ids by construction). Composes with
    * `emit aligned token_ids …`, which picks loss_start up as
    * per-sequence `loss_bounds` (= bin_offset + loss_start per doc).
    * The fitted table rides token_ids' column metadata
    * (Bpe.mergesMetadata) for zero-cost artifact export. */
  case class SftChat(promptCol: String, responseCol: String,
      nMerges: Int) extends Statement

  /** `sft <promptCol> <responseCol> using <conf> <nMerges>` —
    * [[SftChat]] at INGEST: the specials-aware byte table fits OFFLINE
    * on the named configuration's rendered pairs (persisted under a
    * bound store — the specials list is part of the key); the live
    * stream renders, encodes (`token_ids`/`ids_str`/`n_ids`) and
    * reports the exact `loss_start` as a stateless codegen'd narrow
    * map — SFT trainer inputs with exact mask boundaries at ingest. */
  case class SftUsing(promptCol: String, responseCol: String,
      conf: String, nMerges: Int) extends Statement

  /** `bpe ids <textCol> using <conf> <nMerges> [tags '<t>' …]` —
    * [[BpeIdsEnc]] with the byte table trained OFFLINE on a model
    * configuration (the tags list is part of the stored-model key):
    * the stream side is the stateless codegen'd id encode —
    * trainer-input arrays at ingest, under yesterday's vocabulary when
    * a store is bound. */
  case class BpeIdsUsing(textCol: String, conf: String, nMerges: Int,
      tags: Seq[String] = Nil) extends Statement

  /** `bpe bytes <textCol> using <conf> <nMerges>` — [[BpeBytesEnc]]
    * with the merge table trained on a MODEL configuration
    * (byte-level operators.Bpe.fit at translation time): the offline-fit /
    * online-encode pairing for the LOSSLESS tokenizer — the stream
    * side is a stateless codegen'd narrow map. */
  case class BpeBytesUsing(textCol: String, conf: String, nMerges: Int)
      extends Statement

  /** `bpe <textCol> using <conf> <nMerges>` — the [[BpeEnc]] twin with
    * the merge table trained on a MODEL configuration
    * (operators.Bpe.fit + the codegen'd native encode). */
  case class BpeUsing(textCol: String, conf: String, nMerges: Int)
      extends Statement

  /** Parsed program: YAML-ish header properties + statement list.
    * Header shape per tests/transformations/ .hb corpus: scalar keys, list values
    * (`url:` with `- …` items) and one nested block (`meta:`). */
  case class Header(
      props: Map[String, String],
      lists: Map[String, Seq[String]],
      meta: Map[String, String])

  case class Program(header: Header, statements: Seq[Statement]) {
    def transformations: Seq[Statement] =
      statements.filterNot(_.isInstanceOf[Comment])
  }
}
