package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Frequency vocabulary + token-id encoding — the step between raw text
  * and the packing/chunking operators: fit a top-N token vocabulary on
  * a corpus, then encode each document as its id sequence (OOV → 0),
  * the way a training pipeline materializes token ids once and ships
  * integers to every downstream consumer.
  *
  * Determinism contract: vocabulary rank orders by (count DESC, token
  * ASC) — a total order, so ids are stable under any partitioning and
  * any engine replays them (the gate's DuckDB oracle re-derives the
  * whole vocabulary). Id 0 is reserved for out-of-vocabulary tokens.
  *
  * 100 TB shape: token counts are one map-side-combined aggregate of
  * (token, count) pairs — the corpus shuffles counts, not text. The
  * top-N cut is a TakeOrdered (per-partition top-N, then a bounded
  * merge — no global sort materializes), and the id-assigning window
  * runs on that ≤ N-row frame (post-aggregation smallness, the same
  * bounded-window discipline as the pivot/group gates). Encoding
  * broadcasts the ≤ N-row vocabulary; the only keyed exchange is the
  * per-document re-assembly on the doc id.
  */
object Vocab {

  /** Top-`size` tokens of `textCol` by frequency: (token, id, n) with
    * id 1..size in (n DESC, token ASC) rank order. */
  def fit(df: DataFrame, textCol: String, size: Int): DataFrame = {
    require(size > 0, s"vocab size must be > 0, got $size")
    val counts = df
      .select(explode(Decontaminate.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    // TakeOrdered keeps the frame ≤ size rows from here on; the
    // ranking window is bounded by the vocab-size contract
    val top = counts.orderBy(col("n").desc, col("token").asc).limit(size)
    top.withColumn("id",
      row_number().over(Window.orderBy(col("n").desc, col("token").asc)))
      .select(col("token"), col("id"), col("n"))
  }

  /** Encode `textCol` as `token_ids` (array<int>, OOV → 0, null text →
    * null) against a fitted vocabulary. All input columns survive. */
  def encode(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(Decontaminate.tokens(col(textCol)))
        .as(Seq("__pos", "__tok")))
    val ids = toks
      .join(broadcast(vocab.select(col("token").as("__tok"),
        col("id").cast(IntegerType).as("__id"))), Seq("__tok"), "left")
      .select(col(idCol), col("__pos"),
        coalesce(col("__id"), lit(0)).as("__id"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__id")))),
        x => x("__id")).as("token_ids"))
    df.join(ids, Seq(idCol), "left")
  }

  /** fit + encode in one call (the vocabulary is fit on `df` itself). */
  def fitEncode(df: DataFrame, idCol: String, textCol: String,
      size: Int): DataFrame =
    encode(df, idCol, textCol, fit(df, textCol, size))

  /** The fitted vocabulary as a driver-side map for the narrow
    * encoding path — bounded by the fit contract (≤ size rows). */
  def vocabMap(vocab: DataFrame): Map[String, Int] = {
    vocab.select(col("token"), col("id").cast(IntegerType))
      .collect() // ≤ size rows by Vocab.fit construction
      .map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  /** Zero-shuffle encoding: `token_ids` as a per-row transform of the
    * token array against the vocabulary embedded as a literal map — no
    * explode, no aggregation, STREAM-SAFE (fit the vocabulary offline,
    * encode the live stream; the [[Surprisal.withScoresNarrow]]
    * discipline). OOV → 0, null text → null, identical values to
    * [[encode]] (VocabSpec). The literal scales with the vocabulary —
    * right for the ≤size fit contract; a 100k+ external vocabulary
    * should use [[encode]]'s broadcast join in batch instead. */
  def encodeNarrow(df: DataFrame, textCol: String,
      vocab: Map[String, Int]): DataFrame = {
    val vLit = typedlit(vocab)
    val tk = Decontaminate.tokens(col(textCol))
    // layout-decoupled (guide §2.5) — streaming frames no-op
    graft.PlanAudit.repartitionIfLayoutBound(df).withColumn("token_ids",
      when(tk.isNotNull,
        transform(tk, w => coalesce(element_at(vLit, w), lit(0)))))
  }

  /** Per-stratum vocabulary coverage: (stratumCol, n_tokens, n_oov,
    * oov_permille) — the tokenizer-coverage sanity metric a pipeline
    * checks before committing to a vocabulary (an OOV rate that
    * differs sharply by domain/language means the vocab under-serves
    * that stratum). `oov_permille = (n_oov·1000) div n_tokens` — pure
    * integer, order-free. Same tokenization as [[fit]]/[[encode]], so
    * the rate measures exactly what encoding would map to id 0.
    *
    * 100 TB shape: one narrow explode into a left join against the
    * broadcast ≤size-row vocab, then a map-side-combined per-stratum
    * aggregate — strata, not tokens, reach the exchange. */
  def coverage(df: DataFrame, stratumCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val toks = df.select(col(stratumCol),
      explode(Decontaminate.tokens(col(textCol))).as("__tok"))
    toks
      .join(broadcast(vocab.select(col("token").as("__tok"),
        lit(true).as("__inv"))), Seq("__tok"), "left")
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille", expr("(n_oov * 1000) div n_tokens"))
  }

  /** Decode `idsCol` (array<int> of token ids) back to a
    * space-joined `text_decoded` string against a fitted vocabulary —
    * the inspection path every shipped token stream needs (spot-check
    * what the model actually trains on). The exact inverse of
    * [[encode]] on in-vocabulary tokens; OOV id 0 decodes to the
    * visible marker `<oov>` rather than silently dropping (a decoded
    * doc must keep its token positions aligned with the id stream);
    * ids outside [0, |vocab|] RAISE in-plan — they mean the stream was
    * produced under a DIFFERENT vocabulary, the exact drift
    * [[fitStored]] exists to prevent. Null ids → null. Zero-shuffle:
    * a per-row transform against the ≤size-row vocab as a literal map
    * (the [[encodeNarrow]] discipline — stream-safe). */
  def decodeNarrow(df: DataFrame, idsCol: String,
      vocab: Map[String, Int], out: String = "text_decoded"): DataFrame = {
    val inv = typedlit(vocab.map { case (t, i) => i -> t })
    val maxId = vocab.values.foldLeft(0)(math.max)
    val ids = col(idsCol)
    df.withColumn(out,
      when(ids.isNotNull, concat_ws(" ",
        transform(ids, i =>
          when(i < 0 || i > maxId,
            raise_error(concat(lit("decodeNarrow: token id "),
              i.cast(StringType),
              lit(" outside the fitted vocabulary — id stream and " +
                "vocabulary are out of sync"))))
            .otherwise(coalesce(element_at(inv, i), lit("<oov>")))))))
  }

  /** Persistent fit — the cell-model contract (Similarity.fitModels)
    * for vocabularies: with a [[graft.cache.LineageCache]] bound, the
    * fitted (token, id, n) frame is saved as a ≤`size`-row parquet
    * artifact under a content key, and a later SESSION (new JVM, same
    * store root) loads it instead of re-counting the corpus — so
    * incremental ingest encodes with yesterday's ids (id stability is
    * what makes shipped token ids meaningful across runs). The caller
    * owns key hygiene exactly as with `modelKey`: change `vocabKey`
    * when the fit corpus is supposed to change; otherwise growth does
    * NOT re-rank the vocabulary, by design. Returns the [[vocabMap]]
    * form, memoised in the open [[graft.Scope]]
    * ([[graft.cache.LineageCache.model]]). */
  def fitStored(df: DataFrame, textCol: String, size: Int,
      vocabKey: String,
      store: Option[graft.cache.LineageCache]): Map[String, Int] =
    graft.cache.LineageCache.model(store, "vocab",
      Seq(vocabKey, textCol, size.toString), df)(fit(df, textCol, size))(
      vocabMap)
}
