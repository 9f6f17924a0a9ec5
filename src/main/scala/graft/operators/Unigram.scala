package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer (the SentencePiece family: Kudo 2018) — the
  * third tokenizer family next to [[Bpe]] and [[WordPiece]]. Where BPE
  * grows a vocabulary bottom-up by merging and WordPiece scores merges
  * by likelihood, the unigram model starts from a CANDIDATE vocabulary
  * (every substring up to `maxPieceLen`, frequency-ranked) and segments
  * by minimum total piece cost — Viterbi over a unigram language model.
  *
  * Deterministic, engine-portable reconstruction of that recipe:
  *
  *   - costs are INTEGER bit lengths, `cost(p) = bitlen(total) −
  *     bitlen(freq_p)` — the [[Surprisal]] `bitlen` surrogate for
  *     −log₂ p̂ (a true log is a transcendental whose last bits vary by
  *     libm; `length(bin(x))` is exact in Spark AND DuckDB, so every DP
  *     cell replays in a SQL oracle);
  *   - the trainer runs ONE hard-EM (Viterbi-EM) refinement: segment
  *     the distinct words under the candidate costs, recount piece
  *     mass from the segmentation, add-one smooth (every piece
  *     survives — single characters keep full coverage), recost;
  *   - segmentation ties break (cost ASC, piece count ASC, piece
  *     length DESC) per DP cell — a total order, so the segmentation
  *     is partitioning- and engine-stable.
  *
  * 100 TB design: the corpus is touched once per fit phase (the
  * distinct-word frame, Heap's-law-bounded); candidate explosion is
  * O(len·maxPieceLen) substrings per DISTINCT word; the selected
  * vocabulary is bounded (alphabet + topMulti rows) and collects to the
  * driver like every model table (Surprisal/Classifier contract).
  * Encoding is ONE native compiled DP pass per document
  * ([[graft.functions.UnigramEncodeExpr]]) — a zero-shuffle narrow
  * map, stream-safe. */
object Unigram {

  /** One vocabulary entry: the piece, its (possibly smoothed) mass,
    * and its integer bit-length cost. */
  final case class Piece(piece: String, freq: Long, costBits: Int)

  private def bitlen(x: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(x) // x >= 1

  private def words(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Decontaminate.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))

  /** Candidate fit: every single character plus the `topMulti` most
    * frequent multi-character substrings (length ≤ `maxPieceLen`,
    * every occurrence counted, ties broken piece ASC), with
    * `cost = bitlen(total) − bitlen(freq)` over the selected set. */
  def fit(df: DataFrame, textCol: String, topMulti: Int,
      maxPieceLen: Int = 6): Seq[Piece] =
    fitWords(words(df, textCol), topMulti, maxPieceLen)

  /** [[fit]] over a prepared distinct-word frame — the EM entry points
    * persist ONE words frame and drive every phase from it (the corpus
    * was re-scanned once per phase/prune round before r16; the frame is
    * piece-independent, so sharing is free). */
  private def fitWords(w: DataFrame, topMulti: Int,
      maxPieceLen: Int): Seq[Piece] = {
    require(topMulti >= 0, s"topMulti must be >= 0, got $topMulti")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    def substr(s: Column, pos: Column, len: Column): Column =
      call_function("substring", s, pos, len)
    val subs = w.select(col("__f"),
      explode(flatten(transform(sequence(lit(1), length(col("__w"))),
        i => transform(
          sequence(lit(1),
            greatest(least(lit(maxPieceLen),
              length(col("__w")) - i + 1), lit(1))),
          l => substr(col("__w"), i, l))))).as("__p"))
      .groupBy(col("__p")).agg(sum(col("__f")).as("__c"))
    val chars = subs.filter(length(col("__p")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))) // alphabet-bounded
    val multi = subs.filter(length(col("__p")) >= 2)
      .orderBy(col("__c").desc, col("__p").asc)
      .limit(topMulti)
      .collect().map(r => (r.getString(0), r.getLong(1))) // ≤ topMulti
    val sel = (chars ++ multi).toSeq
    val total = sel.map(_._2).sum
    sel.map { case (p, f) => Piece(p, f, bitlen(total) - bitlen(f)) }
      .sortBy(_.piece)
  }

  /** One hard-EM (Viterbi-EM) refinement round: segment the distinct
    * words under `pieces`' costs, recount each piece's mass from the
    * segmentation (word-frequency weighted), add-one smooth, recost.
    * Every input piece survives (smoothing), so character coverage
    * holds whatever the segmentation chose. */
  def refit(df: DataFrame, textCol: String,
      pieces: Seq[Piece], maxPieceLen: Int = 6): Seq[Piece] =
    refitWords(words(df, textCol), pieces, maxPieceLen)

  /** [[refit]] over a prepared distinct-word frame (see [[fitWords]]). */
  private def refitWords(w: DataFrame,
      pieces: Seq[Piece], maxPieceLen: Int): Seq[Piece] = {
    require(pieces.nonEmpty, "refit needs a non-empty vocabulary")
    val model = pieces.map(p => (p.piece, p.costBits))
    val segCounts = w
      .select(col("__f"),
        explode(graft.functions.UnigramEncodeExpr.ug_encode(
          array(col("__w")), model, maxPieceLen)).as("__p"))
      .groupBy(col("__p")).agg(sum(col("__f")).as("__c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ vocab
    val smoothed = pieces.map(p =>
      (p.piece, segCounts.getOrElse(p.piece, 0L) + 1L))
    val total = smoothed.map(_._2).sum
    smoothed.map { case (p, f) => Piece(p, f, bitlen(total) - bitlen(f)) }
      .sortBy(_.piece)
  }

  /** Candidate fit + one Viterbi-EM refinement — the shipped model.
    * One persisted distinct-word frame serves both phases (one corpus
    * scan instead of two). */
  def fitEm(df: DataFrame, textCol: String, topMulti: Int,
      maxPieceLen: Int = 6): Seq[Piece] = graft.Scope.nested { sc =>
    val w = sc.cache(words(df, textCol), "unigram: words")
    refitWords(w, fitWords(w, topMulti, maxPieceLen), maxPieceLen)
  }

  /** SentencePiece's outer loop (Kudo 2018 §3.2): seed a LARGE
    * candidate vocabulary (`seedMult · targetVocab` multi-character
    * pieces), then alternate the hard-EM refit with likelihood-loss
    * pruning until the vocabulary has EXACTLY `targetVocab` pieces —
    * the "give me a 32k-piece unigram model" entry point [[fitEm]]
    * (fixed candidate count, no pruning) cannot express.
    *
    * Loss is the deterministic integer surrogate of SentencePiece's
    * Δlikelihood: for a multi-character piece p,
    * `loss(p) = freq_p · (altCost(p) − cost_p)` where `altCost(p)` is
    * the cheapest segmentation of p's text using every piece EXCEPT p
    * (the same per-code-point DP as the encoder, min total bit cost) —
    * how many extra corpus bits removing p would cost. Low/negative
    * loss ⇒ p is redundant (other pieces cover it as cheaply) and is
    * pruned first, under the total order (loss ASC, piece ASC). Each
    * round prunes at most `prunePermille`/1000 of the EXCESS over
    * target (≥1), then re-runs the EM recount so later rounds judge
    * with refreshed masses. Single-code-point pieces are NEVER pruned —
    * the character-coverage invariant: every corpus word stays
    * segmentable, so the trained model never emits `[UNK]` on its own
    * training corpus (UnigramSpec pins it).
    *
    * 100 TB design: unchanged from [[fit]]/[[refit]] — the corpus is
    * touched once per EM round (the Heap's-law-bounded distinct-word
    * frame); pruning itself runs on the driver over the ≤(alphabet +
    * seedMult·target) candidate table, O(|vocab| · len · maxPieceLen)
    * integer DP per round — model-sized, never data-sized. */
  def fitTarget(df: DataFrame, textCol: String, targetVocab: Int,
      maxPieceLen: Int = 6, seedMult: Int = 4,
      prunePermille: Int = 250): Seq[Piece] = graft.Scope.nested { sc =>
    require(targetVocab >= 2, s"targetVocab must be >= 2, got $targetVocab")
    require(seedMult >= 2, s"seedMult must be >= 2, got $seedMult")
    require(prunePermille >= 1 && prunePermille <= 1000,
      s"prunePermille must be in [1, 1000], got $prunePermille")
    val w = sc.cache(words(df, textCol), "unigram: words")
    var pieces = fitWords(w, seedMult * targetVocab, maxPieceLen)
    val nChars = pieces.count(isSingleCp)
    require(targetVocab >= nChars,
      s"targetVocab=$targetVocab is below the corpus alphabet size " +
        s"$nChars — character coverage needs every single-character " +
        "piece; raise the target")
    require(pieces.size >= targetVocab,
      s"corpus yields only ${pieces.size} candidate pieces " +
        s"(alphabet $nChars) — cannot reach targetVocab=$targetVocab; " +
        "lower the target or raise maxPieceLen")
    while (pieces.size > targetVocab) {
      pieces = refitWords(w, pieces, maxPieceLen)
      val excess = pieces.size - targetVocab
      val nPrune = math.max(1, excess * prunePermille / 1000)
      val costOf = pieces.map(p => p.piece -> p.costBits).toMap
      val maxLen = math.min(maxPieceLen,
        pieces.iterator.map(p => p.piece.codePointCount(0, p.piece.length))
          .foldLeft(1)(math.max))
      val ranked = pieces.filter(p => !isSingleCp(p))
        .map(p => (p.freq * (altCost(p.piece, costOf, maxLen) -
          p.costBits.toLong), p))
        .sortBy { case (loss, p) => (loss, p.piece) }
      pieces = {
        val drop = ranked.take(math.min(nPrune, excess))
          .map(_._2.piece).toSet
        pieces.filter(p => !drop.contains(p.piece))
      }
    }
    refitWords(w, pieces, maxPieceLen)
  }

  /** Persistent fit — the [[Bpe.fitStored]] contract for the
    * unigram family: with a [[graft.cache.LineageCache]] bound, the
    * refined piece table ([[fitEm]]) persists as a bounded parquet
    * artifact under a content key; a later SESSION (new JVM, same store
    * root) loads it instead of re-running the candidate fit + EM pass —
    * segmentation stability across incremental ingest runs. Key hygiene
    * is the caller's: change `ugKey` when the fit corpus is supposed to
    * change; otherwise corpus growth does NOT re-train, by design. With
    * or without a store the table is memoised in the open
    * [[graft.Scope]] ([[graft.cache.LineageCache.model]]). */
  def fitStored(df: DataFrame, textCol: String, topMulti: Int,
      ugKey: String, store: Option[graft.cache.LineageCache],
      maxPieceLen: Int = 6, specials: Seq[String] = Nil): Seq[Piece] = {
    // specials change the fit corpus (tag text excluded) → part of the
    // key, length-prefixed for injectivity (the Bpe.fitStored rule)
    val parts =
      Seq(ugKey, textCol, topMulti.toString, maxPieceLen.toString) ++
        (if (specials.isEmpty) Nil
         else Seq("specials",
           specials.map(s => s"${s.length}:$s").mkString(",")))
    graft.cache.LineageCache.model(store, "unigram", parts, df)(
      modelFrame(df.sparkSession, fitEm(graft.functions.SpecialTokens
        .segmentedCorpus(df, textCol, specials),
        textCol, topMulti, maxPieceLen)))(
      // ≤ alphabet + topMulti rows by the fit contract — bounded
      _.collect()
        .map(r => Piece(r.getString(0), r.getLong(1), r.getInt(2)))
        .sortBy(_.piece).toSeq)
  }

  /** Reserved byte-fallback piece spelling for byte value `b` —
    * SentencePiece's `<0xXX>` convention. */
  def bytePiece(b: Int): String = f"<0x$b%02X>"

  /** Upgrade a fitted model with SentencePiece-style BYTE FALLBACK
    * (r13): add the 256 reserved `<0xXX>` pieces so coverage is TOTAL —
    * a character unseen at fit time decomposes into its UTF-8 bytes
    * instead of collapsing the whole word to `[UNK]`. This is the
    * production answer for the stored-model workflow (fit on one corpus
    * slice, `… using`-apply on another), where the encode corpus's
    * alphabet routinely exceeds the fit corpus's.
    *
    * Deterministic integer cost, NON-participating by design: each byte
    * piece costs `max(costBits) + 8` — a fixed penalty above every real
    * piece, NOT probability mass — so every non-fallback cost (and
    * therefore every segmentation of covered text) is IDENTICAL to the
    * un-upgraded model's, and fallback fires only where nothing else
    * covers. The byte pieces are ordinary model rows: they serialize
    * through the TSV interchange and take ids in the sorted layout.
    * [[graft.functions.UnigramEncodeExpr]] recognizes the spellings and
    * treats them as per-code-point decomposition EDGES (never matched
    * against the literal text). */
  def withByteFallback(pieces: Seq[Piece]): Seq[Piece] = {
    require(pieces.nonEmpty, "withByteFallback needs a fitted model")
    require(!pieces.exists(p =>
      graft.functions.UnigramEncodeExpr.isBytePiece(p.piece)),
      "model already carries <0xXX> byte pieces")
    val maxCost = pieces.map(_.costBits).max
    (pieces ++ (0 until 256).map(b =>
      Piece(bytePiece(b), 0L, maxCost + 8))).sortBy(_.piece)
  }

  private def isSingleCp(p: Piece): Boolean =
    p.piece.codePointCount(0, p.piece.length) == 1

  /** Cheapest segmentation (total bit cost) of `word` using every
    * vocabulary piece except `word` itself — the encoder's
    * per-code-point DP, min-cost only (tie rules don't move the
    * minimum). Finite whenever single-character coverage holds. */
  private def altCost(word: String, costOf: Map[String, Int],
      maxLen: Int): Long = {
    val u16 = word.length
    val n = word.codePointCount(0, u16)
    val bounds = new Array[Int](n + 1)
    var o = 0
    var k = 0
    while (k < n) { bounds(k) = o; o = word.offsetByCodePoints(o, 1); k += 1 }
    bounds(n) = u16
    val INF = Long.MaxValue / 4
    val cost = new Array[Long](n + 1)
    var i = 1
    while (i <= n) {
      var best = INF
      var l = 1
      val hi = math.min(maxLen, i)
      while (l <= hi) {
        val sub = word.substring(bounds(i - l), bounds(i))
        if (sub != word) costOf.get(sub) match {
          case Some(c) if cost(i - l) < INF =>
            val t = cost(i - l) + c
            if (t < best) best = t
          case _ =>
        }
        l += 1
      }
      cost(i) = best
      i += 1
    }
    cost(n)
  }

  /** Per-ROW piece array for a whole text column — one native compiled
    * Viterbi pass ([[graft.functions.UnigramEncodeExpr]]); pure narrow
    * map, zero shuffles, stream-safe. A word with an out-of-alphabet
    * character collapses to `[UNK]`. */
  def encodeCol(text: Column, pieces: Seq[Piece],
      maxPieceLen: Int = 6): Column = {
    require(pieces.nonEmpty, "encodeCol needs a non-empty vocabulary")
    graft.functions.UnigramEncodeExpr.ug_encode(
      Decontaminate.tokens(text),
      pieces.map(p => (p.piece, p.costBits)), maxPieceLen)
  }

  /** [[encodeCol]] emitting TOKEN IDS (`array<int>`, the
    * [[WordPiece.vocabFrame]] id discipline: `[UNK]` = 0, pieces in
    * sorted order at 1..N). The literal piece→id map constant-folds
    * once; the per-element lookup stays in-plan — still a zero-shuffle
    * narrow map. */
  def encodeIdsCol(text: Column, pieces: Seq[Piece],
      maxPieceLen: Int = 6): Column = {
    val sorted = pieces.map(_.piece).distinct.sorted
    val keys = array(("[UNK]" +: sorted).map(lit): _*)
    val vals = array((0 to sorted.size).map(i => lit(i)): _*)
    val m = map_from_arrays(keys, vals)
    transform(encodeCol(text, pieces, maxPieceLen),
      p => element_at(m, p))
  }

  /** [[encodeIdsCol]] with RESERVED special tokens (r13): specials
    * segment the text atomically before the lowercasing tokenizer and
    * each occurrence is ONE dedicated id `N+1+k` above the sorted piece
    * layout (N = distinct piece count) — the
    * [[WordPiece.encodeIdsCol]] discipline for the third family. Pure
    * narrow map; per-document HOF shell cost is O(segments). */
  def encodeIdsCol(text: Column, pieces: Seq[Piece],
      specials: Seq[String], maxPieceLen: Int): Column = {
    require(pieces.nonEmpty, "encodeIdsCol needs a non-empty vocabulary")
    graft.functions.SpecialTokens.validate(specials)
    val n = pieces.map(_.piece).distinct.size
    val parts = graft.functions.SpecialTokens.special_split(text, specials)
    flatten(transform(parts, s =>
      specials.zipWithIndex.foldRight(
        encodeIdsCol(s, pieces, maxPieceLen)) {
        case ((sp, k), acc) =>
          when(s === lit(sp), array(lit(n + 1 + k))).otherwise(acc)
      }))
  }

  /** The shippable model table: `(piece, freq, cost_bits)` in piece
    * order — reproducible bit-for-bit, the unigram counterpart of
    * [[WordPiece.vocabFrame]]. */
  def modelFrame(spark: org.apache.spark.sql.SparkSession,
      pieces: Seq[Piece]): DataFrame = {
    require(pieces.nonEmpty, "modelFrame needs a non-empty vocabulary")
    import spark.implicits._
    pieces.sortBy(_.piece).map(p => (p.piece, p.freq, p.costBits))
      .toDF("piece", "freq", "cost_bits")
  }
}
