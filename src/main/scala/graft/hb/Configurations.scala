package graft.hb

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cache.LineageCache
import Ast._

/** The platform's configuration layer, collapsed into a library
  * (SURVEY §3): a *configuration* binds a transformation chain to a
  * source, where a source is a provider table or the merge/join of other
  * configurations' outputs (tools/workbench/src/Types.fs:58-63,91-104).
  *
  * The reference resolves this graph through RabbitMQ workers with every
  * stage materialized in CouchDB under `source:t1:…:tn` keys
  * (Types.fs:182-202); here the graph is resolved recursively in one
  * Spark session — lazily fused by Catalyst — with the same lineage
  * key scheme backing an optional parquet checkpoint cache, so shared
  * chain prefixes across configurations compute once.
  */
object Configurations {

  sealed trait ConfSource
  /** A provider table (resolved by the caller-supplied table resolver). */
  case class TableSource(name: String) extends ConfSource
  /** Union of other configurations' outputs (S6). */
  case class MergeOf(configs: Seq[String]) extends ConfSource
  /** Outer index join of two configurations' outputs on a field (S7). */
  case class JoinOf(left: String, right: String, field: String)
      extends ConfSource
  /** Corpus configuration flagged against an eval-set configuration
    * (Graft.decontaminate): corpus rows + `contaminated`. The eval side
    * is a second configuration, mirroring how the reference's
    * join/merge providers bind other configurations as operands
    * (Types.fs:97-104) — two-frame ops are SOURCES, not statements. */
  case class DeconOf(corpus: String, evalSet: String, idField: String,
      textField: String, n: Int = 8) extends ConfSource
  /** SEMANTIC twin of [[DeconOf]] (Graft.semanticDecon): corpus rows +
    * `max_cos_fp` (fixed-point ×1e9 max embedding cosine vs the eval
    * configuration) + `contaminated` at ≥ thresholdFp — catches
    * paraphrased leakage that shares no n-gram. */
  case class SemDeconOf(corpus: String, evalSet: String, idField: String,
      vecField: String, thresholdFp: Long) extends ConfSource
  /** Fuzzy twin of [[DeconOf]] (Graft.nearDups): corpus rows +
    * `neardup` = verified MinHash Jaccard ≥ threshold against any row
    * of the reference configuration. */
  case class NearDupOf(corpus: String, reference: String, idField: String,
      textField: String, threshold: Double = 0.5) extends ConfSource
  /** Editing twin of [[DeconOf]] (Graft.scrubAgainst): corpus rows +
    * `scrubbed`/`n_tokens`/`n_removed` — eval-quoted k-windows excised
    * from the text, the rest of the doc kept. */
  case class ScrubOf(corpus: String, evalSet: String, idField: String,
      textField: String, k: Int = 8) extends ConfSource
  /** Backward as-of join of two configurations' outputs
    * (Graft.asof): left rows + `prefix`-named most-recent right
    * values. */
  case class AsofOf(left: String, right: String,
      leftTime: String, rightTime: String,
      leftKeys: Seq[String], rightKeys: Seq[String],
      rightVals: Seq[String], prefix: String = "asof_") extends ConfSource
  /** Point-in-interval (binned range) join of two configurations'
    * outputs (Graft.rangeJoin). Bounds are longs. */
  case class RangeOf(points: String, intervals: String,
      pointField: String, startField: String, endField: String,
      pointKeys: Seq[String], intervalKeys: Seq[String],
      binWidth: Long) extends ConfSource
  /** Hybrid retrieval (Graft.retrieve): per-seed top-k corpus rows by
    * reciprocal-rank fusion of the lexical inverted-index ranking (text
    * fields) and the embedding-cosine ranking (vec fields) —
    * `(query_id, rank, neighbor_id, rrf_fp, n_lists)`. The seeds and
    * both corpus modalities are other configurations' outputs. */
  case class RetrieveOf(corpus: String, seeds: String, idField: String,
      textField: String, vecField: String, k: Int,
      maxDfPermille: Int = 500) extends ConfSource
  /** DSIR importance selection (Graft.dsirSelect): the raw
    * configuration's rows scoring in the top pct% under the target
    * configuration's smoothed unigram model, plus `score_fp`. */
  case class DsirOf(raw: String, target: String, idField: String,
      textField: String, pct: Double, buckets: Int = 0)
      extends ConfSource
  /** LM-surprisal quality filter (Graft.surprisalKeep): the corpus
    * configuration's rows whose hashed-bigram surprisal under the
    * reference configuration's model is ≤ maxAvg1000 milli-bits per
    * bigram, plus `avg1000`. */
  case class SurprisalOf(corpus: String, reference: String,
      idField: String, textField: String, buckets: Int, salt: String,
      maxAvg1000: Long) extends ConfSource
  /** Hashed-NB quality classifier (Graft.classifierKeep): the corpus
    * configuration's rows whose per-token log-likelihood margin under
    * the model fitted on the positive-seed vs negative-seed
    * configurations is ≥ minMargin1000 milli-bits, plus `margin1000`.
    * The first THREE-configuration combinator — seeds are sources,
    * like every two-frame operand (Types.fs:97-104). */
  case class ClassifierOf(corpus: String, posSeed: String, negSeed: String,
      idField: String, textField: String, buckets: Int, salt: String,
      minMargin1000: Long) extends ConfSource
  /** Corpus drift report (Graft.drift): the top-k rising and falling
    * frequency movers between two configurations' outputs — snapshot
    * QA as a configuration source. */
  case class DriftOf(a: String, b: String, textField: String, k: Int)
      extends ConfSource
  /** Vocabulary-coverage report (Graft.vocabCoverage): per-stratum OOV
    * mass of the corpus configuration under a size-capped vocabulary
    * fitted on the vocab configuration. */
  case class CoverageOf(corpus: String, vocabCorpus: String,
      stratumField: String, textField: String, size: Int)
      extends ConfSource

  /** `header`: the program header the chain runs under — the Runner
    * reads only its `series:` key (keyed execution, Engine.run), which
    * also enters the lineage key. */
  case class Conf(source: ConfSource, statements: Seq[Statement],
      header: Header = Header(Map(), Map(), Map()))

  /** Build a Conf from `.hb` text (header `provider:`/`table:` ignored —
    * the source is given explicitly). */
  def conf(source: ConfSource, hbText: String): Conf =
    Conf(source, HbParser.parse(hbText).transformations)

  /** `truncatePlans = true` lazily `localCheckpoint`s every resolved
    * configuration before memoizing it: downstream configurations then
    * analyze a LEAF plan instead of the whole growing chain — Catalyst
    * re-analysis of the 9-stage hb_pretrain_e2e graph cost ~1.9 s of
    * driver gap per run (r17 profile) — and each configuration's chain
    * executes ONCE (the checkpoint blocks serve every consumer), the
    * reuse the reference's CouchDB stage materialization gives its
    * workers. Lazy (eager = false): a configuration materializes on
    * first use, never speculatively. The cost is executor storage for
    * each configuration's OUTPUT (not its intermediates) for the
    * session's lifetime — right for multi-consumer pipeline graphs,
    * wrong for a one-shot linear chain whose output dwarfs storage;
    * hence opt-in per Runner. */
  final class Runner(
      spark: SparkSession,
      resolveTable: String => DataFrame,
      cache: Option[LineageCache] = None,
      truncatePlans: Boolean = false) {

    /** Resolved configurations by lineage key: a configuration name
      * promises nothing across `run` calls, its content does. */
    private val memo = scala.collection.mutable.Map[String, DataFrame]()

    /** Lineage key of a configuration: source identity, the `series:`
      * header when set, and the printed statement chain, recursively
      * (Types.fs:182-190 scheme). Pure — plans nothing; a cycle raises
      * IllegalArgumentException, an unknown name NoSuchElementException. */
    def lineageKey(configs: Map[String, Conf], name: String): String =
      keyOf(configs, name, Set.empty)

    private def keyOf(configs: Map[String, Conf], name: String,
        visiting: Set[String]): String = {
      if (visiting.contains(name))
        throw new IllegalArgumentException(
          s"configuration cycle through '$name'")
      val c = confOf(configs, name)
      def k(n: String) = keyOf(configs, n, visiting + name)
      val src = c.source match {
        case TableSource(t) => s"table:$t"
        case MergeOf(cs) => cs.map(k).mkString("merge(", ",", ")")
        case JoinOf(l, r, f) => s"join(${k(l)},${k(r)},$f)"
        case DeconOf(cp, ev, id, tx, n) =>
          s"decon(${k(cp)},${k(ev)},$id,$tx,$n)"
        case SemDeconOf(cp, ev, id, vc, th) =>
          s"semdecon(${k(cp)},${k(ev)},$id,$vc,$th)"
        case NearDupOf(cp, rf, id, tx, th) =>
          s"neardup(${k(cp)},${k(rf)},$id,$tx,$th)"
        case ScrubOf(cp, ev, id, tx, n) =>
          s"scrubof(${k(cp)},${k(ev)},$id,$tx,$n)"
        case AsofOf(l, r, lt, rt, lk, rk, rv, px) =>
          s"asof(${k(l)},${k(r)},$lt,$rt,${lk.mkString("+")}," +
            s"${rk.mkString("+")},${rv.mkString("+")},$px)"
        case RangeOf(pt, iv, pf, sf, ef, pk, ik, w) =>
          s"range(${k(pt)},${k(iv)},$pf,$sf,$ef,${pk.mkString("+")}," +
            s"${ik.mkString("+")},$w)"
        case RetrieveOf(cp, sd, id, tx, vc, n, df) =>
          s"retrieve(${k(cp)},${k(sd)},$id,$tx,$vc,$n,$df)"
        case DsirOf(rw, tg, id, tx, pct, b) =>
          s"dsir(${k(rw)},${k(tg)},$id,$tx,$pct,$b)"
        case SurprisalOf(cp, rf, id, tx, b, sa, mx) =>
          s"surprisal(${k(cp)},${k(rf)},$id,$tx,$b,$sa,$mx)"
        case ClassifierOf(cp, ps, ns, id, tx, b, sa, mn) =>
          s"classifier(${k(cp)},${k(ps)},${k(ns)},$id,$tx,$b,$sa,$mn)"
        case DriftOf(a, b, tx, n) => s"drift(${k(a)},${k(b)},$tx,$n)"
        case CoverageOf(cp, vc, st, tx, sz) =>
          s"coverage(${k(cp)},${k(vc)},$st,$tx,$sz)"
      }
      val series = c.header.props.get("series").fold("")(s => s" series($s)")
      ((src + series) +: c.statements.map(Printer.print)).mkString(":")
    }

    private def confOf(configs: Map[String, Conf], name: String): Conf =
      configs.getOrElse(name,
        throw new NoSuchElementException(s"no configuration '$name'"))

    /** The configuration's result frame, resolved once per lineage key
      * (through the LineageCache when one is bound). */
    def run(configs: Map[String, Conf], name: String): DataFrame = {
      val key = lineageKey(configs, name)
      memo.getOrElseUpdate(key, {
        def compute = build(configs, name)(Engine.run(_, _))
        val resolved = cache match {
          case Some(lc) => lc.getOrCompute(lc.key("conf", Seq(key)))(compute)
          case None => compute
        }
        if (truncatePlans)
          graft.Scope.checkpoint(resolved, s"hb conf:$name", eager = false)
        else resolved
      })
    }

    /** The chart view of a configuration: its chain run KEEPING the
      * engine key and row order (Engine.runKeyed). Operands resolve
      * through [[run]]; the keyed frame itself is neither memoised nor
      * cached, since the cache holds result frames. */
    def runKeyed(configs: Map[String, Conf], name: String): DataFrame =
      build(configs, name)(Engine.runKeyed)

    /** Resolve `name`'s source and run its chain with `engine`. The
      * EAGER jobs a configuration fires while it builds (statement fits,
      * decon gram collects, scrub digests) carry the configuration name
      * (guide §1.5): the profile view of a multi-stage pipeline is
      * unreadable without it. */
    private def build(configs: Map[String, Conf], name: String)(
        engine: (Program, DataFrame) => DataFrame): DataFrame =
      graft.Scope.labeled(s"hb conf:$name") {
        val c = confOf(configs, name)
        def sub(n: String) = run(configs, n)
        val source = c.source match {
          case TableSource(t) => resolveTable(t)
          case MergeOf(cs) => Graft.merge(cs.map(sub))
          case JoinOf(l, r, f) => Graft.join(sub(l), sub(r), f)
          case DeconOf(cp, ev, id, tx, n) =>
            Graft.decontaminate(sub(cp), sub(ev), id, tx, n)
          case SemDeconOf(cp, ev, id, vc, th) =>
            Graft.semanticDecon(sub(cp), sub(ev), id, vc, th)
          case NearDupOf(cp, rf, id, tx, th) =>
            Graft.nearDups(sub(cp), sub(rf), id, tx, th)
          case ScrubOf(cp, ev, id, tx, k) =>
            Graft.scrubAgainst(sub(cp), sub(ev), id, tx, k)
          case AsofOf(l, r, lt, rt, lk, rk, rv, px) =>
            Graft.asof(sub(l), sub(r), lt, rt, lk, rk, rv, px)
          case RangeOf(pt, iv, pf, sf, ef, pk, ik, w) =>
            Graft.rangeJoin(sub(pt), sub(iv), pf, sf, ef, pk, ik, w)
          case RetrieveOf(cp, sd, id, tx, vc, k, df) =>
            Graft.retrieve(sub(cp), sub(sd), id, tx, vc, k, df)
          case DsirOf(rw, tg, id, tx, pct, b) =>
            Graft.dsirSelect(sub(rw), sub(tg), id, tx, pct, b)
          case SurprisalOf(cp, rf, id, tx, b, sa, mx) =>
            Graft.surprisalKeep(sub(cp), sub(rf), id, tx, b, sa, mx)
          case ClassifierOf(cp, ps, ns, id, tx, b, sa, mn) =>
            Graft.classifierKeep(sub(cp), sub(ps), sub(ns), id, tx, b,
              sa, mn)
          case DriftOf(a, b, tx, k) =>
            Graft.drift(sub(a), sub(b), tx, k)
          case CoverageOf(cp, vc, st, tx, sz) =>
            Graft.vocabCoverage(sub(cp), sub(vc), st, tx, sz)
        }
        engine(Program(c.header, c.statements), source)
      }
  }
}
