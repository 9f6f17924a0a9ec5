package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.WordPiece

/** WordPiece trainer + greedy encoder: likelihood ranking, ## join
  * rule, longest-match-first, [UNK] collapse, distinct-word memo. */
class WordPieceSpec extends AnyFunSuite {

  lazy val spark = Sessions.local()
  import spark.implicits._

  test("likelihood ranking beats raw frequency") {
    // "xy" co-occurs exclusively (x never appears without y following);
    // "aa" has a higher raw pair count but a/…/a are everywhere, so the
    // likelihood ratio picks (x, ##y) first
    val docs = Seq(
      (1L, "xy xy xy aa aa aa aa ab ba ab ba aab baa")).toDF("doc_id", "text")
    val (merges, _) = WordPiece.fit(docs, "text", 1, minCount = 1L)
    assert(merges.head.left == "x" && merges.head.right == "##y")
    assert(merges.head.merged == "xy")
  }

  test("## join rule chains through later merges") {
    val docs = Seq((1L, "zzz zzz zzz")).toDF("doc_id", "text")
    val (merges, _) = WordPiece.fit(docs, "text", 2, minCount = 1L)
    // round 1 merges two adjacent ##-or-initial z's; round 2 completes
    val syms = merges.map(_.merged)
    assert(syms.contains("zzz") || syms.contains("##zzz"))
    merges.foreach(m => assert(!m.merged.contains("####")))
  }

  test("greedy encode is longest-match-first with ## continuations") {
    val vocab = Seq("un", "##aff", "##able", "##a", "##f", "##b", "##l",
      "##e", "u", "##n", "a")
    val out = Seq((1L, "unaffable a")).toDF("doc_id", "text")
    val enc = WordPiece.encode(out, "doc_id", "text", vocab).head()
    assert(enc.getAs[String]("wp") == "un ##aff ##able a")
    assert(enc.getAs[Long]("n_pieces") == 4L)
  }

  test("unmatchable remainder collapses the word to [UNK]") {
    val vocab = Seq("a", "##b") // no piece can start 'q'
    val enc = WordPiece.encode(
      Seq((1L, "ab qq ab")).toDF("doc_id", "text"),
      "doc_id", "text", vocab).head()
    assert(enc.getAs[String]("wp") == "a ##b [UNK] a ##b")
  }

  test("fit → vocabulary → encode round-trips the training corpus " +
    "without [UNK]") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cats sat"),
      (3L, "a mat on a cat")).toDF("doc_id", "text")
    val (merges, vocab) = WordPiece.fit(docs, "text", 4, minCount = 1L)
    assert(merges.size == 4)
    assert(merges.map(_.rank) == Seq(1, 2, 3, 4))
    assert(merges.forall(_.scoreFp > 0))
    val enc = WordPiece.encode(docs, "doc_id", "text", vocab)
      .orderBy("doc_id").collect()
    assert(enc.length == 3)
    assert(!enc.exists(_.getAs[String]("wp").contains("[UNK]")))
    // stripping ## markers reconstructs the concatenated words
    enc.zip(Seq("thecatsatonthemat", "thecatssat", "amatonacat"))
      .foreach { case (r, expected) =>
        assert(r.getAs[String]("wp").replace(" ", "")
          .replace("##", "") == expected)
      }
  }

  test("native encodeCol matches the Column-fold specification " +
    "word for word") {
    val rnd = new scala.util.Random(13)
    val alphabet = "abcde"
    val words = (0 until 60).map(_ =>
      (0 until (1 + rnd.nextInt(9)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val docs = words.grouped(6).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val (_, vocab) = WordPiece.fit(docs, "text", 5, minCount = 1L)
    // fold path per word, reassembled like the old join form
    val foldRef = docs.select(col("doc_id"),
      flatten(transform(
        filter(graft.operators.Decontaminate.tokens(col("text")),
          w => length(w) > 0),
        w => WordPiece.encodeWord(w, vocab))).as("p"))
      .select(col("doc_id"), array_join(col("p"), " ").as("wp"))
      .orderBy("doc_id").collect().map(_.getAs[String]("wp")).toSeq
    val native = WordPiece.encode(docs, "doc_id", "text", vocab)
      .orderBy("doc_id").collect().map(_.getAs[String]("wp")).toSeq
    assert(native === foldRef)
  }

  test("encodeIdsCol maps pieces through the vocabFrame layout, UNK=0") {
    val vocab = Seq("a", "##b") // sorted: ##b → 1, a → 2
    val out = Seq((1L, "ab qq"))
      .toDF("doc_id", "text")
      .select(WordPiece.encodeIdsCol(col("text"), vocab).as("ids"))
      .head().getSeq[Int](0)
    assert(out === Seq(2, 1, 0))
    // the vocabFrame table is the exact decoder
    val vf = WordPiece.vocabFrame(spark, vocab)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out.map(vf) === Seq("a", "##b", "[UNK]"))
  }

  test("fit equals the likelihood spec trainer, minCount stop, layout") {
    // random small-alphabet corpus: plenty of unit-count churn, so the
    // likelihood scores of UNTOUCHED pairs move between rounds — the
    // case the unit→pairs re-push index exists for
    val rnd = new scala.util.Random(29)
    val alphabet = "abcdxyz"
    val words = (0 until 90).map(_ =>
      (0 until (1 + rnd.nextInt(7)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val docs = words.grouped(9).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val spec = SpecTrainers.wordPiece(docs, "text", 20, minCount = 1L)
    val (a, vocab) = WordPiece.fit(docs.coalesce(1), "text", 20,
      minCount = 1L)
    assert(a == spec, s"\nspec: $spec\nfit:  $a")
    assert(WordPiece.fit(docs.repartition(13), "text", 20,
      minCount = 1L)._1 == a)
    // the vocabulary is the corpus alphabet plus every merged piece
    val alpha = words.flatMap(w =>
      w.head.toString +: w.tail.map(c => s"##$c")).distinct
    assert(vocab == (alpha ++ a.map(_.merged)).distinct.sorted)
    // minCount stop rule (every pair unique → below 2)
    val one = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    assert(WordPiece.fit(one, "text", 5, minCount = 2L)._1.isEmpty)
    assert(SpecTrainers.wordPiece(one, "text", 5, minCount = 2L).isEmpty)
  }

  test("non-BMP pieces: the native encode counts CODE POINTS like the " +
      "Column-fold spec (a 2-code-point piece is 4 UTF-16 units)") {
    // with maxPieceLen = 2, a UTF-16-unit probe cap could never form
    // the piece "😀😁" (4 UTF-16 units) the spec fold matches
    val vocab = Seq("😀😁", "😀", "##😀", "##😁")
    val docs = Seq((1L, "😀😁😀😁 😀")).toDF("doc_id", "text")
    val foldRef = docs.select(
      flatten(transform(
        filter(graft.operators.Decontaminate.tokens(col("text")),
          w => length(w) > 0),
        w => WordPiece.encodeWord(w, vocab, maxPieceLen = 2))).as("p"))
      .select(array_join(col("p"), " ")).head().getString(0)
    val native = WordPiece.encode(docs, "doc_id", "text", vocab,
      maxPieceLen = 2).head().getAs[String]("wp")
    assert(native == foldRef)
    assert(native == "😀😁 ##😀 ##😁 😀")
  }

  test("guards") {
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](WordPiece.fit(df, "text", 0))
    intercept[IllegalArgumentException](
      WordPiece.encodeWord(lit("a"), Seq.empty))
  }

  test("special tokens: atomic reserved ids N+1+k above the sorted " +
      "vocab, case-exact through the lowercasing tokenizer") {
    val vocab = Seq("a", "##b", "x", "##y") // N = 4
    val sp = Seq("<|doc|>", "<TAG>")
    // the uppercase tag would be DESTROYED by the lowercasing tokenizer
    // without the pre-split; embedded without spaces it must still cut
    val out = Seq((1L, "ab <|doc|>xy<TAG> ab"))
      .toDF("doc_id", "text")
      .select(WordPiece.encodeIdsCol(col("text"), vocab, sp, 16).as("ids"))
      .head().getSeq[Int](0)
    // sorted vocab: ##b → 1, ##y → 2, a → 3, x → 4; specials 5, 6
    assert(out === Seq(3, 1, 5, 4, 2, 6, 3, 1))
    // a tagless doc matches the plain encoder exactly
    val plain = Seq((1L, "ab xy")).toDF("doc_id", "text")
    val p1 = plain.select(
      WordPiece.encodeIdsCol(col("text"), vocab, sp, 16)).head().getSeq[Int](0)
    val p2 = plain.select(
      WordPiece.encodeIdsCol(col("text"), vocab)).head().getSeq[Int](0)
    assert(p1 === p2)
  }
}
