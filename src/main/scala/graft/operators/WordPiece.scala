package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer (the BERT family: Schuster & Nakajima 2012; Wu
  * et al. 2016 §4.1) — the second production tokenizer family next to
  * [[Bpe]]. Same merge-table machinery, two deliberate differences:
  *
  *   - TRAINING ranks candidate pairs by the likelihood ratio
  *     `count(l,r) / (count(l)·count(r))` instead of raw pair count —
  *     a pair merges when its parts co-occur more than chance, so rare
  *     but exclusive pairs beat frequent-by-accident ones. Scores are
  *     fixed-point integers (`c_pair·1e6 div (c_l·c_r)`) under the
  *     total order (score DESC, pair count DESC, left ASC, right ASC),
  *     so a SQL oracle replays every round bit-for-bit.
  *   - ENCODING is greedy longest-match-first against the final
  *     vocabulary (not merge replay): at each position take the
  *     longest vocabulary piece, `##`-prefixed off word start; a word
  *     with an unmatchable remainder encodes as one `[UNK]`.
  *
  * Symbols follow the BERT convention: the word-initial piece is bare,
  * every continuation piece carries the `##` prefix ("cat" →
  * `c ##a ##t`; merging (`c`,`##a`) yields `ca`).
  *
  * 100 TB design: the corpus is touched ONCE (the word-count frame —
  * Heap's-law-bounded distinct words), and the training rounds run in
  * driver memory over the collected distinct words ([[fit]]).
  * Encoding is ONE native compiled pass per document
  * ([[graft.functions.WordPieceEncodeExpr]] — hash-set membership, the
  * BpeEncodeExpr recipe): a pure narrow map, zero shuffles,
  * vocabulary-size-independent probes, stream-safe. The Column-fold
  * form ([[encodeWord]]) stays as the executable specification the
  * parity test pins the native pass against.
  */
object WordPiece {

  final case class Merge(rank: Int, left: String, right: String,
      scoreFp: Long) {
    /** BERT join rule: the right part drops its continuation marker. */
    def merged: String = left + right.stripPrefix("##")
  }

  val Unk = "[UNK]"
  private[graft] val ScoreScale = 1000000L

  // substring(Column, Column, Column) has no functions._ overload
  private def substring(str: Column, pos: Column, len: Column): Column =
    call_function("substring", str, pos, len)

  /** Train `nMerges` likelihood-ranked merges (fewer when no pair
    * reaches `minCount`) and return them with the final vocabulary —
    * the corpus alphabet (every word-initial and `##`-continuation
    * character) plus each merge's joined piece, sorted.
    *
    * The [[Bpe.fit]] split applied to the likelihood trainer: the
    * corpus is touched exactly once, distributed (the (word, freq)
    * aggregate of [[Bpe.wordFrame]]); the merge loop and the alphabet both
    * come from the collected distinct-word frame in driver memory (at
    * most [[Bpe.WordBound]] words, failing loudly above). A real BERT
    * vocabulary is ~30k pieces, and a round-by-round Spark fit would
    * pay two aggregates + one collect per merge.
    *
    * The in-memory loop maintains pair counts AND unit counts so the
    * likelihood score `(pc·1e6) div (uc_l·uc_r)` is the fixed-point
    * arithmetic the SQL oracle replays, under the total order (score
    * DESC, pair count DESC, left ASC, right ASC). Unlike the raw-count
    * BPE heap, a merge moves the score of every pair sharing a unit
    * with (left, right, merged) — so next to the pair→words occurrence
    * index the loop keeps a unit→pairs index and re-pushes fresh heap
    * entries for every pair whose pc OR endpoint uc changed; lazy
    * deletion validates both components at pop. WordPieceSpec pins the
    * merge list to the round-by-round specification; SCALE.md carries
    * the measured ≥1k-merge wall-clock. */
  def fit(df: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L): (Seq[Merge], Seq[String]) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    // the BPE word frame: distinct lowercase whitespace words
    val collected = Bpe.collectWords(Bpe.wordFrame(df, textCol),
      "wordpiece", "words")
    // WordPiece spelling, split per CODE POINT (Spark's substring
    // units): first bare, rest ##-prefixed
    val words = collected.map { case (w, _) =>
      Bpe.codePoints(w).zipWithIndex
        .map { case (c, i) => if (i == 0) c else "##" + c }
    }
    // the initial spellings of the full distinct-word set ARE the
    // alphabet; read before the trainer rewrites them in place
    val alphabet = words.iterator.flatten.toSet
    val merges = fitInMemory(words, collected.map(_._2), nMerges, minCount)
    (merges, (alphabet.toSeq ++ merges.map(_.merged)).distinct.sorted)
  }

  /** The in-memory indexed likelihood trainer behind [[fit]]. */
  private def fitInMemory(words: Array[Array[String]], freqs: Array[Long],
      nMerges: Int, minCount: Long): Seq[Merge] = {
    import scala.collection.mutable
    val counts = mutable.HashMap.empty[(String, String), Long]
    val units = mutable.HashMap.empty[String, Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // unit → pairs currently containing it on either side: the index
    // that finds every pair whose SCORE moved because a merge changed
    // an endpoint's unit count (pc-unchanged pairs included)
    val byUnit = mutable.HashMap.empty[String,
      mutable.HashSet[(String, String)]]
    // overflow-guarded: at production corpus scale two unit counts of
    // ~1e10 make ul·ur exceed Long (and pc·ScoreScale overflows past
    // pc ~9.2e12), silently corrupting the merge order. When either
    // product leaves the Long range, compute the SAME quotient in
    // BigInt — the result always fits (pc ≤ min(ul, ur), so the score
    // is ≤ ScoreScale), and the fast path is bit-identical to the
    // un-guarded arithmetic in the non-overflow range.
    def score(pc: Long, l: String, r: String): Long = {
      val ul = units.getOrElse(l, 1L)
      val ur = units.getOrElse(r, 1L)
      // fits-in-Long test for positive operands: high word zero AND the
      // low word still positive (a product in [2^63, 2^64) has a zero
      // high word but reads negative)
      if (Math.multiplyHigh(ul, ur) == 0 && ul * ur > 0 &&
          Math.multiplyHigh(pc, ScoreScale) == 0 && pc * ScoreScale >= 0)
        pc * ScoreScale / (ul * ur)
      else
        (BigInt(pc) * ScoreScale / (BigInt(ul) * ur)).toLong
    }
    def addPair(p: (String, String), f: Long, w: Int): Unit = {
      counts(p) = counts.getOrElse(p, 0L) + f
      occ.getOrElseUpdate(p, mutable.HashSet.empty) += w
      byUnit.getOrElseUpdate(p._1, mutable.HashSet.empty) += p
      byUnit.getOrElseUpdate(p._2, mutable.HashSet.empty) += p
    }
    // max-heap under (score DESC, pair count DESC, left ASC, right
    // ASC) — the [[fit]] total order; string comparisons reversed so
    // the lexicographically smallest pair wins. Lazy deletion: a
    // popped entry is live only if BOTH its count and its score match
    // the standing maps (scores move without pc moving when a merge
    // shifts an endpoint's unit count).
    val ord = new Ordering[(Long, Long, String, String)] {
      def compare(a: (Long, Long, String, String),
          b: (Long, Long, String, String)): Int = {
        val s = java.lang.Long.compare(a._1, b._1)
        if (s != 0) s
        else {
          val c = java.lang.Long.compare(a._2, b._2)
          if (c != 0) c
          else {
            val l = b._3.compareTo(a._3)
            if (l != 0) l else b._4.compareTo(a._4)
          }
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, Long, String, String)](ord)
    var i = 0
    while (i < words.length) {
      val syms = words(i)
      var j = 0
      while (j < syms.length) {
        units(syms(j)) = units.getOrElse(syms(j), 0L) + freqs(i)
        if (j < syms.length - 1) addPair((syms(j), syms(j + 1)), freqs(i), i)
        j += 1
      }
      i += 1
    }
    counts.foreach { case (p, c) => heap.enqueue((score(c, p._1, p._2), c,
      p._1, p._2)) }
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      // pop to the first LIVE entry (count AND score match)
      var best: (String, String) = null
      var bestC = 0L
      var bestS = 0L
      while (best == null && heap.nonEmpty) {
        val (s, c, l, r) = heap.dequeue()
        if (counts.getOrElse((l, r), 0L) == c && c > 0 &&
            score(c, l, r) == s) {
          best = (l, r); bestC = c; bestS = s
        }
      }
      if (best == null || bestC < minCount) done = true
      else {
        val (l, r) = best
        val m = Merge(rank, l, r, bestS)
        val mergedSym = m.merged
        val touched = occ.getOrElse(best, mutable.HashSet.empty).toArray
        val changedPairs = mutable.HashSet.empty[(String, String)]
        // NET unit deltas (accumulated across touched words, applied
        // once): only l, r and the merged symbol net-change, so the
        // score re-push fans out over O(pairs sharing those three
        // units), not over every unit of every touched word
        val unitDelta = mutable.HashMap.empty[String, Long]
        def bumpUnit(u: String, d: Long): Unit =
          unitDelta(u) = unitDelta.getOrElse(u, 0L) + d
        var t = 0
        while (t < touched.length) {
          val w = touched(t)
          val old = words(w)
          val f = freqs(w)
          var j = 0
          while (j < old.length) {
            bumpUnit(old(j), -f)
            if (j < old.length - 1) {
              val p = (old(j), old(j + 1))
              counts(p) = counts.getOrElse(p, 0L) - f
              occ.get(p).foreach(_ -= w)
              changedPairs += p
            }
            j += 1
          }
          // the same greedy left-to-right carry pass as applyMergeAs
          val next = Array.newBuilder[String]
          var carry: String = null
          var k = 0
          while (k < old.length) {
            val x = old(k)
            if (carry == null) carry = x
            else if (carry == l && x == r) { next += mergedSym; carry = null }
            else { next += carry; carry = x }
            k += 1
          }
          if (carry != null) next += carry
          val nw = next.result()
          words(w) = nw
          j = 0
          while (j < nw.length) {
            bumpUnit(nw(j), f)
            if (j < nw.length - 1) {
              val p = (nw(j), nw(j + 1))
              addPair(p, f, w)
              changedPairs += p
            }
            j += 1
          }
          t += 1
        }
        // apply the net unit deltas, then re-push every pair sharing a
        // NET-changed unit (their scores moved without their pc moving)
        unitDelta.foreach { case (u, d) =>
          if (d != 0L) {
            units(u) = units.getOrElse(u, 0L) + d
            if (units(u) <= 0L) units.remove(u): Unit
            byUnit.get(u).foreach(ps => changedPairs ++= ps)
          }
        }
        changedPairs.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c <= 0) {
            counts.remove(p); occ.remove(p)
            byUnit.get(p._1).foreach(_ -= p)
            byUnit.get(p._2).foreach(_ -= p)
          } else heap.enqueue((score(c, p._1, p._2), c, p._1, p._2))
        }
        merges += m
        rank += 1
      }
    }
    merges.result()
  }

  /** Persistent fit — the [[Bpe.fitStored]] contract for the WordPiece
    * family: with a [[graft.cache.LineageCache]] bound, the learned
    * merge list persists as a ≤`nMerges`-row parquet artifact under a
    * content key, and a later SESSION (new JVM, same store root) loads
    * it instead of re-training — piece-id stability across incremental
    * ingest runs. Key hygiene is the caller's: change `wpKey` when the
    * fit corpus is supposed to change; otherwise corpus growth does NOT
    * re-train, by design. A specials list changes the FIT CORPUS (tag
    * text excluded from the statistics), so it is part of the key. */
  def fitStored(df: DataFrame, textCol: String, nMerges: Int,
      minCount: Long, wpKey: String,
      store: Option[graft.cache.LineageCache],
      specials: Seq[String] = Nil): Seq[Merge] = {
    val parts = Bpe.storeKeyParts(wpKey, textCol, nMerges, minCount,
      specials)
    val spark = df.sparkSession
    import spark.implicits._
    graft.cache.LineageCache.model(store, "wordpiece", parts, df)(
      fitSegmented(df, textCol, nMerges, minCount, specials)._1
        .map(m => (m.rank, m.left, m.right, m.scoreFp))
        .toDF("rank", "left", "right", "score_fp"))(
      _.collect() // ≤ nMerges rows by the fit contract — bounded
        .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3)))
        .sortBy(_.rank).toSeq)
  }

  /** The ENCODER-ready persisted artifact: the final vocabulary
    * (corpus alphabet + merged pieces) under the same store contract as
    * [[fitStored]], so a reload skips the corpus pass too (the
    * zero-refit-jobs property StoredModelSpec pins). One artifact = one
    * encoder: a session that loads this list encodes identically
    * forever. */
  def vocabularyStored(df: DataFrame, textCol: String, nMerges: Int,
      minCount: Long, wpKey: String,
      store: Option[graft.cache.LineageCache],
      specials: Seq[String] = Nil): Seq[String] = {
    val parts = Bpe.storeKeyParts(wpKey, textCol, nMerges, minCount,
      specials)
    val spark = df.sparkSession
    import spark.implicits._
    graft.cache.LineageCache.model(store, "wordpiece_vocab", parts, df)(
      fitSegmented(df, textCol, nMerges, minCount, specials)._2
        .toDF("piece"))(
      // alphabet + merges rows by the fit contract — bounded
      _.collect().map(_.getString(0)).toSeq.sorted)
  }

  /** [[fit]] over the specials-excluded corpus. */
  private def fitSegmented(df: DataFrame, textCol: String, nMerges: Int,
      minCount: Long, specials: Seq[String]): (Seq[Merge], Seq[String]) =
    fit(graft.functions.SpecialTokens.segmentedCorpus(df, textCol,
      specials), textCol, nMerges, minCount)

  /** The shippable vocab.txt-equivalent table: `(id, piece)` with
    * `[UNK]` at id 0 and the vocabulary in its deterministic sorted
    * order after it — engine- and partitioning-stable, so the artifact
    * a downstream tokenizer loads is reproducible bit-for-bit. */
  def vocabFrame(spark: org.apache.spark.sql.SparkSession,
      vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "vocabFrame needs a non-empty vocabulary")
    import spark.implicits._
    ((0, Unk) +: vocab.distinct.sorted.zipWithIndex
      .map { case (p, i) => (i + 1, p) }).toDF("id", "piece")
  }

  /** Greedy longest-match piece array for one word column against a
    * literal vocabulary. Word-initial pieces match bare, continuations
    * `##`-prefixed; an unmatchable remainder collapses the word to one
    * `[UNK]`. Pure narrow expression (the per-position candidate probe
    * walks lengths `maxPieceLen..1`). */
  def encodeWord(word: Column, vocab: Seq[String],
      maxPieceLen: Int = 16): Column = {
    require(vocab.nonEmpty, "encodeWord needs a non-empty vocabulary")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val vocabLit = array(vocab.map(lit): _*)
    // no vocabulary piece is longer than its longest member — probing
    // lengths beyond that is pure wasted membership checks (the fold is
    // interpreted, so the constant matters)
    val effMax = math.min(maxPieceLen,
      vocab.map(p => if (p.startsWith("##")) p.length - 2 else p.length)
        .max.max(1))
    val len = length(word)
    val init = struct(lit(1).as("p"),
      array().cast("array<string>").as("toks"), lit(false).as("bad"))
    val folded = aggregate(sequence(lit(1), greatest(len, lit(1))), init,
      (st, _) => {
        val p = st.getField("p")
        val stDone = st.getField("bad") || p > len
        val hi = least(lit(effMax), len - p + 1)
        val cand = (l: Column) =>
          when(p === 1, substring(word, p, l))
            .otherwise(concat(lit("##"), substring(word, p, l)))
        val matched = filter(sequence(hi, lit(1), lit(-1)),
          l => array_contains(vocabLit, cand(l)))
        val l0 = element_at(matched, 1)
        when(stDone, st)
          .when(size(matched) === 0,
            struct(p.as("p"), st.getField("toks").as("toks"),
              lit(true).as("bad")))
          .otherwise(struct((p + l0).as("p"),
            concat(st.getField("toks"), array(cand(l0))).as("toks"),
            lit(false).as("bad")))
      },
      st => when(st.getField("bad"), array(lit(Unk)))
        .otherwise(st.getField("toks")))
    when(len > 0, folded).otherwise(array().cast("array<string>"))
  }

  /** Per-ROW piece array for a whole text column — ONE native compiled
    * pass ([[graft.functions.WordPieceEncodeExpr]]: hash-set vocabulary,
    * greedy longest-match, `[UNK]` collapse; parity with the
    * [[encodeWord]] fold pinned in WordPieceSpec). A pure narrow map:
    * zero shuffles at any scale, stream-safe. */
  def encodeCol(text: Column, vocab: Seq[String],
      maxPieceLen: Int = 16): Column = {
    require(vocab.nonEmpty, "encodeCol needs a non-empty vocabulary")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    graft.functions.WordPieceEncodeExpr.wp_encode(
      Decontaminate.tokens(text), vocab, maxPieceLen)
  }

  /** The BERT `input_ids` form: the same greedy walk with each piece
    * mapped to its [[vocabFrame]] id (`[UNK]` = 0, sorted vocabulary at
    * 1..N) — the shippable training-artifact column; the
    * t_wordpiece_vocab table is its exact decoder. Pure narrow map. */
  def encodeIdsCol(text: Column, vocab: Seq[String],
      maxPieceLen: Int = 16): Column = {
    require(vocab.nonEmpty, "encodeIdsCol needs a non-empty vocabulary")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    graft.functions.WordPieceEncodeExpr.wp_encode_ids(
      Decontaminate.tokens(text), vocab, maxPieceLen)
  }

  /** [[encodeIdsCol]] with RESERVED special tokens (r13): the text is
    * segmented around special occurrences BEFORE the lowercasing
    * whitespace tokenizer ([[graft.functions.SpecialTokens]] —
    * leftmost-first, longest-match), so a tag like `<|user|>` survives
    * case-exact as ONE dedicated id `N+1+k` (N = vocabulary size;
    * `[UNK]`=0, sorted vocab 1..N — the [[vocabFrame]] layout, specials
    * stacked on top, the HF added_tokens convention). Plain segments
    * encode through the same compiled greedy walk; concatenating the
    * per-element streams in order is the document's id stream. Still a
    * pure narrow map: the split and the per-segment encodes are
    * codegen'd/interpreted in-plan, zero shuffles, stream-safe (the
    * per-document segment count is tag-bounded, so the interpreted
    * HOF shell costs O(segments), not O(tokens)). */
  def encodeIdsCol(text: Column, vocab: Seq[String],
      specials: Seq[String], maxPieceLen: Int): Column = {
    require(vocab.nonEmpty, "encodeIdsCol needs a non-empty vocabulary")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    graft.functions.SpecialTokens.validate(specials)
    val n = vocab.distinct.size
    val parts = graft.functions.SpecialTokens.special_split(text, specials)
    flatten(transform(parts, s =>
      specials.zipWithIndex.foldRight(
        graft.functions.WordPieceEncodeExpr.wp_encode_ids(
          Decontaminate.tokens(s), vocab, maxPieceLen)) {
        case ((sp, k), acc) =>
          when(s === lit(sp), array(lit(n + 1 + k))).otherwise(acc)
      }))
  }

  /** Encode every document: lowercase whitespace words, each replaced
    * by its piece sequence — one narrow [[encodeCol]] pass, zero
    * shuffles (the encode is context-free per word and the inner loop
    * is compiled, so there is nothing to memoize or join). Returns
    * `(idCol, wp, n_pieces)` with `wp` the space-joined piece stream;
    * a doc with no words gets `wp = '' / n_pieces = 0`, null text stays
    * null. */
  def encode(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], maxPieceLen: Int = 16): DataFrame =
    df.select(col(idCol),
        encodeCol(col(textCol), vocab, maxPieceLen).as("__wps"))
      .select(col(idCol),
        array_join(col("__wps"), " ").as("wp"),
        when(col("__wps").isNotNull, size(col("__wps")).cast("long"))
          .as("n_pieces"))
}
