package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every custom Catalyst expression's doGenCode must produce Java that
  * JANINO CAN COMPILE — not merely Scala that scalac accepted.
  *
  * Why this exists: generated code calls companion-object kernels as
  * static methods (`graft.functions.Foo.kernel(...)`), but scalac only
  * emits a static forwarder when the companion CLASS has no member of
  * the same name. `LangScore.eval`/`TrigramBuckets.eval` clashed with
  * the inherited `Expression.eval(InternalRow)`, so no forwarder
  * existed, Janino failed the compile, and every query paid the
  * interpreted fallback SILENTLY from r15 until the r16 bench log was
  * finally read (results stayed bit-identical — only the compiled fast
  * path was lost, plus one ERROR stack trace per query in the logs).
  *
  * Defense: run one representative gate per expression family at
  * sf0.001 with codegen fallback DISABLED, so a broken doGenCode fails
  * the suite instead of degrading performance quietly.
  */
class CodegenCompileSpec extends AnyFunSuite {

  lazy val spark = Sessions.local()

  /** One gate per custom-expression family (union covers every
    * expression in graft.functions with a doGenCode):
    * - t_langid_nb        → TrigramBuckets, LangScore
    * - t_lm_surprisal     → TokenScores.evalSurprisal
    * - t_nb_classify      → TokenScores.evalMargin
    * - t_bpe_encode / hb_bpe_ids → BpeEncodeExpr encode/decode/byteMap
    * - hb_wordpiece_ids   → WordPieceEncodeExpr
    * - hb_unigram_ids     → UnigramEncodeExpr
    * - t_span_corrupt_ids → SpanCorruptExpr
    * - t_bpe_specials     → SpecialTokens.split
    * - d_minhash_lsh      → MinHashSig, ShingleHashes
    * - d_simhash          → SimHash64
    * - d_substring_dedup  → WindowDigests (rolling Rabin–Karp)
    * - s_ann_rplsh        → RpSig64
    * - s_ann_pq           → DotQ (+ stored-model ADC path)
    * - s_ann_topk         → MaxCosQ
    * - a7_kmeans          → ArgminDist
    * - e12_modulo         → HoistedLiteral (`only (bucket % 3 = 1)` and
    *   the `create column` constants; every filter and projection
    *   constant of the catalogue goes through it)
    */
  private val representatives = Seq(
    "t_langid_nb", "t_lm_surprisal", "t_nb_classify",
    "t_bpe_encode", "hb_bpe_ids", "hb_wordpiece_ids", "hb_unigram_ids",
    "t_span_corrupt_ids", "t_bpe_specials",
    "d_minhash_lsh", "d_simhash", "d_substring_dedup",
    "s_ann_rplsh", "s_ann_pq", "s_ann_topk", "a7_kmeans", "e12_modulo")

  test("representative gates execute with codegen fallback disabled " +
      "(CODEGEN_ONLY factory, no whole-stage fallback)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val missing = representatives.filterNot(SparkEntry.queries.contains)
      assert(missing.isEmpty, s"gates renamed/removed: $missing")
      for (name <- representatives) {
        val n = SparkEntry.queries(name)(spark, dir).count()
        assert(n >= 0, s"$name returned a negative count")
      }
    } finally {
      def restore(key: String, prev: Option[String]): Unit = prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      restore("spark.sql.codegen.fallback", prevFallback)
      restore("spark.sql.codegen.factoryMode", prevFactory)
    }
  }
}
