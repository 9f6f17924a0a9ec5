package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, WordPiece}

/** The executable SPECIFICATION trainers of the BPE and WordPiece
  * families — the parity oracle for the production driver-local
  * trainers ([[Bpe.fit]], [[WordPiece.fit]]). Every round re-aggregates
  * every adjacent pair over the whole word frame in Spark and takes one
  * driver row: exactly the shape the gate oracles unroll in SQL. */
object SpecTrainers {

  /** Pair counts of a (__w, __f, __syms) frame: (__l, __r, __c). */
  private def pairCounts(vocab: DataFrame): DataFrame = {
    val n = size(col("__syms"))
    vocab
      .select(col("__f"), explode(arrays_zip(
        slice(col("__syms"), lit(1), greatest(n - 1, lit(0))).as("__l"),
        slice(col("__syms"), lit(2), greatest(n - 1, lit(0))).as("__r")))
        .as("__p"))
      .groupBy(col("__p.__l").as("__l"), col("__p.__r").as("__r"))
      .agg(sum(col("__f")).as("__c"))
  }

  /** BPE over a prepared vocabulary frame — [[Bpe.wordFrame]] for the
    * word level, [[Bpe.byteFrame]] (with or without specials) for the
    * byte level. Each round truncates lineage with an eager local
    * checkpoint: a persist chain would keep every prior round's plan
    * and the plan text AQE renders per job doubles per round. */
  def bpe(frame: DataFrame, nMerges: Int,
      minCount: Long = 2L): Seq[Bpe.Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var vocab = frame.localCheckpoint(true)
    val merges = Seq.newBuilder[Bpe.Merge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val best = pairCounts(vocab)
        .orderBy(col("__c").desc, col("__l").asc, col("__r").asc)
        .limit(1).collect()
      best.headOption.filter(_.getLong(2) >= minCount) match {
        case None => done = true
        case Some(row) =>
          val m = Bpe.Merge(rank, row.getString(0), row.getString(1))
          merges += m
          vocab = vocab.select(col("__w"), col("__f"),
            Bpe.applyMerge(col("__syms"), m.left, m.right).as("__syms"))
            .localCheckpoint(true)
          rank += 1
      }
    }
    merges.result()
  }

  /** A word as WordPiece symbols: first char bare, rest `##`-prefixed. */
  private def pieceSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)),
      i => when(i === 1, call_function("substring", word, i, lit(1)))
        .otherwise(concat(lit("##"),
          call_function("substring", word, i, lit(1)))))

  /** WordPiece: each round ranks pairs by the fixed-point likelihood
    * `(pc·1e6) div (uc_l·uc_r)` under (score DESC, pair count DESC,
    * left ASC, right ASC) from two aggregates (pair counts and unit
    * counts); stops when no pair reaches `minCount`. */
  def wordPiece(df: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L): Seq[WordPiece.Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var vocab = Bpe.wordFrame(df, textCol)
      .select(col("__w"), col("__f"), pieceSyms(col("__w")).as("__syms"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[WordPiece.Merge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val units = vocab
        .select(col("__f"), explode(col("__syms")).as("__u"))
        .groupBy(col("__u")).agg(sum(col("__f")).as("__uc"))
      val best = pairCounts(vocab)
        .join(units.select(col("__u").as("__l"), col("__uc").as("__lc")),
          "__l")
        .join(units.select(col("__u").as("__r"), col("__uc").as("__rc")),
          "__r")
        .select(col("__l"), col("__r"), col("__c"),
          expr(s"(__c * ${WordPiece.ScoreScale}) div (__lc * __rc)")
            .as("__s"))
        .orderBy(col("__s").desc, col("__c").desc, col("__l").asc,
          col("__r").asc)
        .limit(1).collect()
      best.headOption.filter(_.getAs[Long]("__c") >= minCount) match {
        case None => done = true
        case Some(row) =>
          val m = WordPiece.Merge(rank, row.getAs[String]("__l"),
            row.getAs[String]("__r"), row.getAs[Long]("__s"))
          merges += m
          vocab = vocab.select(col("__w"), col("__f"),
            Bpe.applyMergeAs(col("__syms"), m.left, m.right, m.merged)
              .as("__syms")).localCheckpoint(true)
          rank += 1
      }
    }
    merges.result()
  }
}
