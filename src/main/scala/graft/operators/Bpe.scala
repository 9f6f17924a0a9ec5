package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic byte-pair-encoding tokenizer training — the missing
  * piece between corpus curation and the training run: learn the merge
  * table ON the corpus the pipeline just built (Sennrich et al., ACL
  * '16), then encode with it.
  *
  * Word-level BPE: the corpus collapses to its DISTINCT words with
  * frequencies (one shuffle of (word, count) pairs — the only time the
  * corpus itself is touched); every word starts as its character
  * sequence plus a `</w>` end marker, and each of the N rounds (a) sums
  * adjacent-symbol-pair frequencies over the vocabulary, (b) takes the
  * best pair under the TOTAL order (count DESC, left ASC, right ASC)
  * and (c) rewrites the vocabulary with the merge applied greedily
  * left-to-right (overlapping matches like `a a a` resolve to
  * merge-at-even-offsets within each run of consecutive matches, which
  * IS the left-to-right greedy result).
  *
  * Everything is integer counts and string comparisons — no floats
  * anywhere — so the learned merges are bit-reproducible in any engine
  * and the whole N-round fit replays as unrolled SQL (the gate oracle
  * does exactly that, window functions for the run-parity rule
  * included).
  *
  * 100 TB shape: the rounds run in driver memory over the collected
  * distinct-word frame (Heap's-law bounded, ≪ corpus; [[fit]] fails
  * loudly above [[WordBound]]); the corpus never re-enters after the
  * initial word count. Encoding is a pure narrow map (per-token fold
  * over the ≤N broadcast-as-literals merge list) — zero shuffles, no
  * model join.
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String) {
    def merged: String = left + right
  }

  /** End-of-word marker symbol (never collides with 1-char symbols). */
  val EndOfWord = "</w>"

  /** A word as its initial symbol array: characters, then [[EndOfWord]]. */
  private def charSyms(word: Column): Column =
    concat(
      transform(sequence(lit(1), length(word)),
        i => substring(word, i, lit(1))),
      array(lit(EndOfWord)))

  // substring(Column, Column, Column) has no functions._ overload
  private def substring(str: Column, pos: Column, len: Column): Column =
    call_function("substring", str, pos, len)

  /** One greedy left-to-right merge pass over a symbol array: fold with
    * a carry — `carry==left && x==right` emits the merged symbol and
    * clears the carry (so the right half can't start another match),
    * anything else flushes the carry. Pure narrow expression. */
  def applyMerge(syms: Column, left: String, right: String): Column =
    applyMergeAs(syms, left, right, left + right)

  /** [[applyMerge]] emitting `merged` for each match (WordPiece's join
    * drops the right part's `##`). */
  private[graft] def applyMergeAs(syms: Column, left: String, right: String,
      merged: String): Column = {
    val init = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("carry"))
    aggregate(syms, init,
      (acc, x) => {
        val out = acc.getField("out")
        val carry = acc.getField("carry")
        when(carry.isNull, struct(out.as("out"), x.as("carry")))
          .when(carry === lit(left) && x === lit(right),
            struct(concat(out, array(lit(merged))).as("out"),
              lit(null).cast("string").as("carry")))
          .otherwise(struct(concat(out, array(carry)).as("out"),
            x.as("carry")))
      },
      acc => {
        val out = acc.getField("out")
        val carry = acc.getField("carry")
        when(carry.isNull, out).otherwise(concat(out, array(carry)))
      })
  }

  /** The word-count frame behind the trainer: one pass over the
    * corpus — the ONLY time the corpus is touched. The tokenize/explode
    * map work runs BEFORE the groupBy shuffle, so a row-group-capped
    * input layout would serialize it (the r14 3.6–8.6× finding);
    * decouple from file layout up front. */
  private[graft] def wordFrame(df0: DataFrame, textCol: String): DataFrame = {
    val df = graft.PlanAudit.repartitionIfLayoutBound(df0)
    df.select(explode(Decontaminate.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .select(col("__w"), col("__f"), charSyms(col("__w")).as("__syms"))
  }

  /** The BYTE-LEVEL twin of [[wordFrame]]: distinct PRETOKENS (GPT-2
    * regex cut, [[graft.functions.BpeEncodeExpr.pretokenPattern]] —
    * case and whitespace preserved) with frequencies, each spelled in
    * the 256-char byte alphabet ([[graft.functions.BpeByteMapExpr]],
    * one mapped char per UTF-8 byte) and split per mapped char, NO
    * `</w>` terminal — the pretoken boundary is the terminal,
    * GPT-2-style. Pretokenization is Spark's codegen'd
    * `regexp_extract_all` over the same Java pattern the encode
    * scanner replicates (BpeSpec pins scanner ≡ Pattern), so trainer
    * and encoder cut identically. */
  private[graft] def byteFrame(df0: DataFrame, textCol: String,
      specials: Seq[String] = Nil): DataFrame = {
    // layout-decoupled like wordFrame: the regex pretokenizer is the
    // map-side hot loop and must not inherit a row-group-capped scan
    val df = graft.PlanAudit.repartitionIfLayoutBound(df0)
    // with specials: one narrow explode of the non-special segments
    // first, so the tag literals never reach the pretokenizer (a doc
    // that is ALL tags contributes nothing — correct: it carries no
    // learnable text)
    val textRows =
      if (specials.isEmpty) df.select(col(textCol).as("__txt"))
      else df.select(explode(graft.functions.SpecialTokens
        .special_segments(col(textCol), specials)).as("__txt"))
    textRows.select(explode(regexp_extract_all(col("__txt"),
        lit(graft.functions.BpeEncodeExpr.pretokenPattern), lit(0)))
        .as("__p"))
      .filter(length(col("__p")) > 0)
      .groupBy(col("__p")).agg(count(lit(1)).as("__f"))
      .select(graft.functions.BpeEncodeExpr.byte_map(col("__p")).as("__w"),
        col("__f"))
      .select(col("__w"), col("__f"),
        transform(sequence(lit(1), length(col("__w"))),
          i => substring(col("__w"), i, lit(1))).as("__syms"))
  }

  /** The most distinct words (or pretokens) a driver-local fit holds:
    * ~1M words is tens of MB of driver heap, and a real corpus's
    * Heap's-law vocabulary sits far below it. */
  val WordBound: Int = 1 << 20

  /** Collect a word frame's (word, frequency) rows to the driver — at
    * most `bound`, and a corpus with MORE distinct units fails naming
    * the trainer and the bound instead of fitting on a truncated
    * vocabulary (a truncated fit diverges from the oracle with no
    * other signal). `bound + 1` rows are collected so the overflow is
    * seen without a second count job. */
  private[graft] def collectWords(frame: DataFrame, trainer: String,
      unit: String, bound: Int = WordBound): Array[(String, Long)] = {
    // the trainers ignore row order; sorting makes the bounded collect
    // one top-k job instead of an incremental take over partitions
    val rows = frame.select(col("__w"), col("__f"))
      .orderBy(col("__f").desc, col("__w").asc)
      .limit(bound + 1)
      .collect() // ≤ bound + 1 rows by construction
    if (rows.length > bound)
      throw new IllegalArgumentException(s"$trainer fit: the corpus has " +
        s"more than $bound distinct $unit, the driver-local trainer's bound")
    rows.map(r => (r.getString(0), r.getLong(1)))
  }

  /** A word's code points, each as a one-symbol string. */
  private[operators] def codePoints(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var ci = 0
    while (ci < w.length) {
      val l = Character.charCount(w.codePointAt(ci))
      out += w.substring(ci, ci + l)
      ci += l
    }
    out.result()
  }

  /** Learn `nMerges` merges from the corpus (fewer if the vocabulary
    * runs out of repeated pairs first: training stops when the best
    * pair's weighted count drops below `minCount`).
    *
    * The corpus is touched exactly once, distributed: the (word, freq)
    * aggregate of [[wordFrame]] (or, with `byteLevel`, the pretoken
    * aggregate of [[byteFrame]], whose tables pair with
    * [[encodeBytesCol]]/[[encodeIdsCol]]). The merge loop then runs in
    * driver memory over the collected distinct-word frame — Heap's-law
    * bounded, at most [[WordBound]] rows, failing loudly above — the
    * split Sennrich's subword-nmt, HuggingFace tokenizers and
    * SentencePiece all use. In memory the classic indexed trainer
    * applies: a pair→count map, a pair→touched-words index and a lazy
    * max-heap under the (count DESC, left ASC, right ASC) total order —
    * O(touched·log P) per merge, so a 32k-merge fit is driver time, not
    * 32k Spark rounds (SCALE.md carries the measured wall-clock). The
    * merge list equals the round-by-round specification the gate oracles
    * unroll in SQL (BpeSpec pins the parity, word-level, byte-level and
    * with specials).
    *
    * Non-empty `specials` (byte-level only) EXCLUDE the reserved
    * tokens' literal text from the fit corpus (the HF added_tokens
    * discipline): only the plain segments around special occurrences
    * contribute pretoken statistics, so no merge is spent on fragments
    * of a control tag. Pair with [[encodeIdsCol]]/[[decodeIdsCol]]
    * under the SAME specials list. */
  def fit(df: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L, byteLevel: Boolean = false,
      specials: Seq[String] = Nil): Seq[Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(specials.isEmpty || byteLevel,
      "special tokens are a byte-level feature")
    val collected =
      if (byteLevel) collectWords(byteFrame(df, textCol, specials), "bpe",
        "pretokens")
      else collectWords(wordFrame(df, textCol), "bpe", "words")
    // symbol arrays per word: chars [+ </w> in word mode — byteFrame
    // words are already byte-alphabet spellings with no terminal]
    val words = collected.map { case (w, _) =>
      if (byteLevel) codePoints(w) else codePoints(w) :+ EndOfWord
    }
    fitInMemory(words, collected.map(_._2), nMerges, minCount)
  }

  /** The in-memory indexed trainer behind [[fit]]. */
  private def fitInMemory(words: Array[Array[String]], freqs: Array[Long],
      nMerges: Int, minCount: Long): Seq[Merge] = {
    import scala.collection.mutable
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // max-heap under the trainer's total order: count DESC, then the
    // LEXICOGRAPHICALLY SMALLEST (left, right) wins — so reverse the
    // string comparisons. Lazy deletion: stale entries pop and drop.
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val l = b._2.compareTo(a._2)
          if (l != 0) l else b._3.compareTo(a._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    var i = 0
    while (i < words.length) {
      val syms = words(i)
      var j = 0
      while (j < syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        counts(p) = counts.getOrElse(p, 0L) + freqs(i)
        occ.getOrElseUpdate(p, mutable.HashSet.empty) += i
        j += 1
      }
      i += 1
    }
    // one live heap entry per DISTINCT pair (not per occurrence)
    counts.foreach { case (p, c) => heap.enqueue((c, p._1, p._2)) }
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      // pop to the first LIVE entry (count matches the standing map)
      var best: (String, String) = null
      var bestC = 0L
      while (best == null && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (counts.getOrElse((l, r), 0L) == c && c > 0) {
          best = (l, r); bestC = c
        }
      }
      if (best == null || bestC < minCount) done = true
      else {
        val (l, r) = best
        val touched = occ.getOrElse(best, mutable.HashSet.empty).toArray
        val changed = mutable.HashSet.empty[(String, String)]
        var t = 0
        while (t < touched.length) {
          val w = touched(t)
          val old = words(w)
          val f = freqs(w)
          // remove the old adjacencies
          var j = 0
          while (j < old.length - 1) {
            val p = (old(j), old(j + 1))
            counts(p) = counts.getOrElse(p, 0L) - f
            occ.get(p).foreach(_ -= w)
            changed += p
            j += 1
          }
          // the same greedy left-to-right carry pass as applyMerge
          val next = Array.newBuilder[String]
          var carry: String = null
          var m = 0
          while (m < old.length) {
            val x = old(m)
            if (carry == null) carry = x
            else if (carry == l && x == r) { next += (l + r); carry = null }
            else { next += carry; carry = x }
            m += 1
          }
          if (carry != null) next += carry
          val nw = next.result()
          words(w) = nw
          // add the new adjacencies
          j = 0
          while (j < nw.length - 1) {
            val p = (nw(j), nw(j + 1))
            counts(p) = counts.getOrElse(p, 0L) + f
            occ.getOrElseUpdate(p, mutable.HashSet.empty) += w
            changed += p
            j += 1
          }
          t += 1
        }
        changed.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c <= 0) { counts.remove(p); occ.remove(p) }
          else heap.enqueue((c, p._1, p._2))
        }
        merges += Merge(rank, l, r)
        rank += 1
      }
    }
    merges.result()
  }

  /** Persistent fit — the [[Vocab.fitStored]] contract for merge
    * tables: with a [[graft.cache.LineageCache]] bound, the learned
    * (rank, left, right) list is saved as a ≤`nMerges`-row parquet
    * artifact under a content key, and a later SESSION (new JVM, same
    * store root) loads it instead of re-training — so incremental
    * ingest tokenizes today's batch with YESTERDAY's vocabulary
    * (subword-id stability across runs is what makes shipped token
    * streams meaningful). The caller owns key hygiene exactly as with
    * `vocabKey`: change `bpeKey` when the fit corpus is supposed to
    * change; otherwise corpus growth does NOT re-train the merges, by
    * design. With or without a store the table comes from the one
    * trainer, [[fit]], and is memoised in the open [[graft.Scope]]
    * ([[graft.cache.LineageCache.model]]), so two statements binding
    * one table fit it once. */
  def fitStored(df: DataFrame, textCol: String, nMerges: Int,
      minCount: Long, bpeKey: String,
      store: Option[graft.cache.LineageCache],
      byteLevel: Boolean = false,
      specials: Seq[String] = Nil): Seq[Merge] = {
    require(specials.isEmpty || byteLevel,
      "special tokens are a byte-level feature — word-level tables " +
        "have no reserved-id layout")
    // the mode is part of the artifact key: a byte table and a word
    // table with the same corpus key are DIFFERENT tokenizers — and so
    // is the specials list (it changes the fit corpus's segmentation)
    val kind = if (byteLevel) "bpebytes" else "bpe"
    val parts = storeKeyParts(bpeKey, textCol, nMerges, minCount, specials)
    val spark = df.sparkSession
    import spark.implicits._
    graft.cache.LineageCache.model(store, kind, parts, df)(
      fit(df, textCol, nMerges, minCount, byteLevel, specials)
        .map(m => (m.rank, m.left, m.right)).toDF("rank", "left", "right"))(
      _.collect() // ≤ nMerges rows by the fit contract — bounded
        .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_.rank).toSeq)
  }

  /** A merge-table fit's store-key parts. Each special is
    * length-prefixed so the key is INJECTIVE in the list: plain
    * mkString(",") would collide tags '<a,b>' with '<a' 'b>' (commas
    * are expressible via the quoted `tags` clause) and silently reuse
    * the wrong cached model. */
  private[operators] def storeKeyParts(key: String, textCol: String,
      nMerges: Int, minCount: Long, specials: Seq[String]): Seq[String] =
    Seq(key, textCol, nMerges.toString, minCount.toString) ++
      (if (specials.isEmpty) Nil
       else Seq("specials",
         specials.map(s => s"${s.length}:$s").mkString(",")))

  /** Column-metadata key under which [[mergesMetadata]] publishes a
    * fitted merge table on its encode output column. */
  val MergesMetadataKey = "graft.bpe.merges"

  /** Companion key for the reserved special-token list (order = the
    * id layout above the merges). */
  val SpecialsMetadataKey = "graft.bpe.specials"

  /** The fitted merge table (+ specials list) as Spark COLUMN
    * METADATA — the zero-cost model tap for statement surfaces that
    * fit internally (`bpe ids`, `sft`): the table rides on the output
    * column's schema, so a caller can recover the EXACT fit (for
    * artifact export, round-trip audits, decode) without a second fit
    * and without any Spark job — schema inspection is driver-side.
    * One "left right" string per rank; safe because merge symbols
    * never contain a space (byte-level symbols spell whitespace via
    * the mapped alphabet; word-level symbols come from
    * whitespace-split words). */
  def mergesMetadata(merges: Seq[Merge],
      specials: Seq[String] = Nil)
      : org.apache.spark.sql.types.Metadata = {
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .putStringArray(MergesMetadataKey,
        merges.sortBy(_.rank).map(m => m.left + " " + m.right).toArray)
    if (specials.nonEmpty)
      b.putStringArray(SpecialsMetadataKey, specials.toArray)
    b.build()
  }

  /** Recover a merge table published by [[mergesMetadata]] from a
    * schema; None when the column carries no table. */
  def mergesFromMetadata(schema: org.apache.spark.sql.types.StructType,
      colName: String): Option[Seq[Merge]] =
    schema.fields.find(_.name == colName)
      .filter(_.metadata.contains(MergesMetadataKey))
      .map(_.metadata.getStringArray(MergesMetadataKey).toSeq
        .zipWithIndex.map { case (lr, i) =>
          val sp = lr.indexOf(' ')
          require(sp > 0, s"malformed merge metadata entry '$lr'")
          Merge(i + 1, lr.substring(0, sp), lr.substring(sp + 1))
        })

  /** The specials list riding next to a published merge table (Nil
    * when the encode carried none). */
  def specialsFromMetadata(
      schema: org.apache.spark.sql.types.StructType,
      colName: String): Seq[String] =
    schema.fields.find(_.name == colName)
      .filter(_.metadata.contains(SpecialsMetadataKey))
      .map(_.metadata.getStringArray(SpecialsMetadataKey).toSeq)
      .getOrElse(Nil)

  /** [[encodeCol]] as the native single-pass expression
    * (functions.BpeEncodeExpr) — identical output (BpeSpec pins the
    * parity property), ~10× less work than the interpreted nested-HOF
    * fold. The production encode path; the HOF form remains as the
    * executable semantic specification. */
  def encodeColFast(text: Column, merges: Seq[Merge]): Column =
    graft.functions.BpeEncodeExpr.bpe_encode(text,
      merges.sortBy(_.rank).map(m => (m.left, m.right)))

  /** Byte-level encode under a byte-level [[fit]] table: pretokenize →
    * byte-alphabet symbols → pair-rank merges → subwords joined by
    * single spaces. Case, whitespace and every byte survive —
    * [[decodeBytesCol]] inverts it exactly. Codegen'd narrow map. */
  def encodeBytesCol(text: Column, merges: Seq[Merge]): Column =
    graft.functions.BpeEncodeExpr.bpe_encode_bytes(text,
      merges.sortBy(_.rank).map(m => (m.left, m.right)))

  /** Lossless inverse of [[encodeBytesCol]] (needs no merge table —
    * subwords concatenate back to the byte stream by construction). */
  def decodeBytesCol(enc: Column): Column =
    graft.functions.BpeEncodeExpr.bpe_decode_bytes(enc)

  /** [[encodeBytesCol]] emitting TOKEN IDS (`array<int>`, GPT-2 id
    * layout: ids 0-255 = bytes, 255+rank = merge `rank`, and — with a
    * non-empty `specials` list — 256+nMerges+k for special k) — the
    * form a training run ships; [[decodeIdsCol]] inverts byte-exactly
    * under the same table + specials. A special occurrence is ONE
    * reserved id: segmented atomically before pretokenization, never
    * merged with or split by adjacent text
    * ([[graft.functions.SpecialTokens]]). */
  def encodeIdsCol(text: Column, merges: Seq[Merge],
      specials: Seq[String] = Nil): Column =
    graft.functions.BpeEncodeExpr.bpe_encode_ids(text,
      merges.sortBy(_.rank).map(m => (m.left, m.right)), specials)

  /** Lossless id-stream decode under the same byte-level table (and
    * the same specials list — a special id decodes to its literal
    * text). */
  def decodeIdsCol(ids: Column, merges: Seq[Merge],
      specials: Seq[String] = Nil): Column =
    graft.functions.BpeEncodeExpr.bpe_decode_ids(ids,
      merges.sortBy(_.rank).map(m => (m.left, m.right)), specials)

  /** The SHIPPABLE tokenizer artifact table for a byte-level merge
    * list — the vocab.json/merges.txt equivalent a training config
    * points at: one row per id under the GPT-2 layout (`kind` byte,
    * ids 0-255, spelling = the alphabet char, rank 0; then `kind`
    * merge, id 255+rank, spelling = the merged string). A duplicate
    * merged string keeps its row per RANK (ids stay dense); the
    * ENCODER maps such a spelling to its lowest id
    * ([[graft.functions.BpeEncodeExpr.Table.symIds]]), so decode
    * under this table is total either way. Driver-built from the
    * ≤nMerges merge list — 256+n rows by contract. */
  def vocabFrame(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge], specials: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val bytes = (0 until 256).map(b => (b,
      String.valueOf(graft.functions.BpeEncodeExpr.byteAlphabet(b)),
      "byte", 0))
    val ms = merges.sortBy(_.rank)
      .map(m => (255 + m.rank, m.merged, "merge", m.rank))
    val sp = specials.zipWithIndex
      .map { case (s, k) => (256 + merges.size + k, s, "special", 0) }
    (bytes ++ ms ++ sp).toDF("id", "sym", "kind", "rank")
  }

  /** Encode a text column with a learned merge list: per-token char
    * split, the merges folded in rank order, subword streams joined by
    * spaces. Pure narrow map — the merge table rides in the expression
    * tree, nothing shuffles, nothing joins. (Expression depth grows
    * with the merge count; for vocabularies beyond a few hundred
    * merges, materialize intermediate columns every ~64 folds to keep
    * codegen happy — still narrow.) The executable semantic
    * specification for [[encodeColFast]], which BpeSpec pins
    * bit-identical. */
  def encodeCol(text: Column, merges: Seq[Merge]): Column = {
    val sorted = merges.sortBy(_.rank)
    concat_ws(" ",
      flatten(transform(
        filter(Decontaminate.tokens(text), w => length(w) > 0),
        w => sorted.foldLeft(charSyms(w)) { (syms, m) =>
          applyMerge(syms, m.left, m.right)
        })))
  }
}
