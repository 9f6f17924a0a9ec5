package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Unigram, WordPiece}
import graft.sinks.TokenizerFiles

/** Tokenizer artifact interchange (sinks.TokenizerFiles): the exported
  * GPT-2 / BERT / SentencePiece-style files reconstruct the in-memory
  * model EXACTLY, and mixed or malformed artifacts fail loudly. */
class TokenizerFilesSpec extends AnyFunSuite {

  lazy val spark: org.apache.spark.sql.SparkSession = Sessions.local()
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("GPT-2 pair: writeGpt2/readGpt2 round-trips the byte merge " +
      "table and the loaded table encodes + decodes identically") {
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, s"The Quick  brown\tfox #$i, End.\n")).toDF("doc_id", "text")
    val merges = Bpe.fit(docs, "text", 12, minCount = 1L, byteLevel = true)
    assert(merges.nonEmpty)
    val dir = tmp("gpt2_rt")
    TokenizerFiles.writeGpt2(dir, merges)
    val loaded = TokenizerFiles.readGpt2(dir)
    assert(loaded == merges)
    // the loaded table drives the SAME native encode (and the decode
    // inverts byte-exactly, so the artifact is shippable as-is)
    val got = docs.select(col("doc_id"),
      Bpe.encodeBytesCol(col("text"), loaded).as("bpe"),
      Bpe.decodeBytesCol(
        Bpe.encodeBytesCol(col("text"), loaded)).as("decoded"))
      .orderBy("doc_id").collect()
    val ref = docs.select(col("doc_id"),
      Bpe.encodeBytesCol(col("text"), merges).as("bpe"),
      col("text").as("decoded"))
      .orderBy("doc_id").collect()
    got.zip(ref).foreach { case (g, r) =>
      assert(g.getString(1) == r.getString(1))
      assert(g.getString(2) == r.getString(2))
    }
    // vocab.json is a flat one-object file with one entry per id:
    // 256 bytes + one per rank (this fixture has no duplicate merged
    // spellings). Structural scan independent of the loader's parser:
    // count top-level ':' separators honoring string escapes.
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/vocab.json")))
    assert(jsonEntryCount(json) == 256 + merges.size)
    assert(json.startsWith("{") && json.endsWith("}"))
  }

  /** Count `key: value` entries in a flat JSON object by scanning for
    * top-level ':' while tracking in-string state and escapes — an
    * independent structural check that doesn't reuse the loader's
    * parser (that would be circular). */
  private def jsonEntryCount(s: String): Int = {
    var i = 0; var inStr = false; var n = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else if (c == '"') inStr = true
      else if (c == ':') n += 1
      i += 1
    }
    n
  }

  test("GPT-2 loader refuses mixed artifacts (vocab.json from a " +
      "different training than merges.txt)") {
    val docs = Seq.tabulate(20)(i =>
      (i.toLong, "low lower lowest newer wider")).toDF("doc_id", "text")
    val a = Bpe.fit(docs, "text", 6, minCount = 1L, byteLevel = true)
    val b = Bpe.fit(docs.select(col("doc_id"),
      concat(col("text"), lit(" zebra zebra zebra zebra")).as("text")),
      "text", 6, minCount = 1L, byteLevel = true)
    assume(a != b)
    val dirA = tmp("gpt2_a"); val dirB = tmp("gpt2_b")
    TokenizerFiles.writeGpt2(dirA, a)
    TokenizerFiles.writeGpt2(dirB, b)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dirB/vocab.json"),
      java.nio.file.Paths.get(s"$dirA/vocab.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[IllegalArgumentException](TokenizerFiles.readGpt2(dirA))
    assert(e.getMessage.contains("disagree") ||
      e.getMessage.contains("mismatch"), e.getMessage)
  }

  test("writeGpt2 refuses word-level symbols (space inside a symbol) " +
      "and non-dense ranks") {
    val e = intercept[IllegalArgumentException](
      TokenizerFiles.writeGpt2(tmp("gpt2_bad"),
        Seq(Bpe.Merge(1, "a b", "c"))))
    assert(e.getMessage.contains("whitespace"))
    val e2 = intercept[IllegalArgumentException](
      TokenizerFiles.writeGpt2(tmp("gpt2_bad2"),
        Seq(Bpe.Merge(2, "a", "b"))))
    assert(e2.getMessage.contains("dense"))
  }

  test("BERT vocab.txt: write/read round-trips the vocabulary and the " +
      "loaded list encodes identically (ids included)") {
    val docs = Seq.tabulate(25)(i =>
      (i.toLong, "hugging huggable hug bugs bug")).toDF("doc_id", "text")
    val (_, vocab) = WordPiece.fit(docs, "text", 8, minCount = 1L)
    val path = s"${tmp("bert_rt")}/vocab.txt"
    TokenizerFiles.writeBertVocab(path, vocab)
    val loaded = TokenizerFiles.readBertVocab(path)
    assert(loaded == vocab.sorted)
    val got = WordPiece.encode(docs, "doc_id", "text", loaded)
      .orderBy("doc_id").collect().map(_.getString(1))
    val ref = WordPiece.encode(docs, "doc_id", "text", vocab)
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(got.toSeq == ref.toSeq)
    // vocabFrame over the loaded list reproduces the id layout — the
    // file's line numbers ARE the ids
    val ids = WordPiece.vocabFrame(spark, loaded)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path)).toArray(Array.empty[String])
      .filter(_.nonEmpty)
    assert(ids.map(_._2).toSeq == lines.toSeq)
    assert(ids.map(_._1).toSeq == lines.indices)
  }

  test("BERT loader requires [UNK] at id 0; writer refuses newlines, " +
      "duplicates and a pre-inserted [UNK]") {
    val path = s"${tmp("bert_bad")}/vocab.txt"
    TokenizerFiles.writeBertVocab(path, Seq("a", "b"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "a\nb\n".getBytes)
    val e = intercept[IllegalArgumentException](
      TokenizerFiles.readBertVocab(path))
    assert(e.getMessage.contains("[UNK]"))
    intercept[IllegalArgumentException](
      TokenizerFiles.writeBertVocab(path, Seq("a", "a")))
    intercept[IllegalArgumentException](
      TokenizerFiles.writeBertVocab(path, Seq("a\nb")))
    intercept[IllegalArgumentException](
      TokenizerFiles.writeBertVocab(path, Seq("a", "[UNK]")))
  }

  test("Unigram piece TSV: write/read round-trips the model (freq and " +
      "integer bit costs exact) and the loaded model encodes identically") {
    val docs = Seq.tabulate(25)(i =>
      (i.toLong, "internationalization nation inter national"))
      .toDF("doc_id", "text")
    val model = Unigram.fitEm(docs, "text", topMulti = 12)
    val path = s"${tmp("sp_rt")}/pieces.tsv"
    TokenizerFiles.writeUnigramTsv(path, model)
    val loaded = TokenizerFiles.readUnigramTsv(path)
    assert(loaded.sortBy(_.piece) == model.sortBy(_.piece))
    val got = docs.select(
      array_join(Unigram.encodeCol(col("text"), loaded), " "))
      .orderBy(lit(1)).collect().map(_.getString(0))
    val ref = docs.select(
      array_join(Unigram.encodeCol(col("text"), model), " "))
      .orderBy(lit(1)).collect().map(_.getString(0))
    assert(got.toSeq == ref.toSeq)
  }

  test("added_tokens.json: writeGpt2 with specials round-trips through " +
      "readGpt2WithSpecials; non-contiguous ids fail loudly") {
    val docs = Seq.tabulate(20)(i =>
      (i.toLong, s"<|user|> ask thing $i <|assistant|> answer"))
      .toDF("doc_id", "text")
    val sp = Seq("<|user|>", "<|assistant|>")
    val merges = Bpe.fit(docs, "text", 8, minCount = 1L,
      byteLevel = true, specials = sp)
    val dir = tmp("gpt2_sp")
    TokenizerFiles.writeGpt2(dir, merges, sp)
    val (loadedM, loadedSp) = TokenizerFiles.readGpt2WithSpecials(dir)
    assert(loadedM == merges && loadedSp == sp)
    // the loaded pair drives an identical specials-aware encode
    val probe = Seq((1L, "x<|user|> ask <|assistant|> y"))
      .toDF("doc_id", "text")
    val a = probe.select(Bpe.encodeIdsCol(col("text"), merges, sp))
      .head().getSeq[Int](0)
    val b = probe.select(Bpe.encodeIdsCol(col("text"), loadedM, loadedSp))
      .head().getSeq[Int](0)
    assert(a == b)
    // a specials-free artifact loads Nil
    val dir2 = tmp("gpt2_nosp")
    TokenizerFiles.writeGpt2(dir2, merges)
    assert(TokenizerFiles.readGpt2WithSpecials(dir2)._2.isEmpty)
    // ids not sitting exactly on top of the vocabulary → loud failure
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir2).resolve("added_tokens.json"),
      s"""{"<|user|>":${256 + merges.size + 5}}""".getBytes)
    val e = intercept[IllegalArgumentException](
      TokenizerFiles.readGpt2WithSpecials(dir2))
    assert(e.getMessage.contains("contiguous"))
  }

  test("BERT directory: writeBert/readBertWithSpecials round-trips " +
      "vocab AND tags; wrong-vocabulary added_tokens fail loudly") {
    val docs = Seq.tabulate(20)(i =>
      (i.toLong, s"<|DOC|> some words here $i <|END|>"))
      .toDF("doc_id", "text")
    val sp = Seq("<|DOC|>", "<|END|>")
    val (_, vocab) = WordPiece.fit(docs, "text", 6, minCount = 1L)
    val dir = tmp("bert_sp")
    TokenizerFiles.writeBert(dir, vocab, sp)
    val (v2, sp2) = TokenizerFiles.readBertWithSpecials(dir)
    assert(v2 == vocab.distinct.sorted && sp2 == sp)
    // the loaded pair drives an identical specials-aware encode
    val probe = Seq((1L, "<|DOC|> some words <|END|>"))
      .toDF("doc_id", "text")
    val a = probe.select(WordPiece.encodeIdsCol(col("text"), vocab, sp, 16))
      .head().getSeq[Int](0)
    val b = probe.select(WordPiece.encodeIdsCol(col("text"), v2, sp2, 16))
      .head().getSeq[Int](0)
    assert(a == b)
    // specials-free artifact loads Nil
    val dir2 = tmp("bert_nosp")
    TokenizerFiles.writeBert(dir2, vocab)
    assert(TokenizerFiles.readBertWithSpecials(dir2)._2.isEmpty)
    // an added_tokens.json written for a DIFFERENT vocabulary size
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir2).resolve("added_tokens.json"),
      s"""{"<|DOC|>":${vocab.distinct.size + 9}}""".getBytes)
    val e = intercept[IllegalArgumentException](
      TokenizerFiles.readBertWithSpecials(dir2))
    assert(e.getMessage.contains("contiguous"))
  }

  test("Unigram directory: writeUnigramModel/readUnigramModelWithSpecials " +
      "round-trips pieces AND tags") {
    val docs = Seq.tabulate(20)(i => (i.toLong, s"abc abd bcd $i"))
      .toDF("doc_id", "text")
    val sp = Seq("<|DOC|>", "<|END|>")
    val model = Unigram.fitEm(docs, "text", topMulti = 8)
    val dir = tmp("ug_sp")
    TokenizerFiles.writeUnigramModel(dir, model, sp)
    val (m2, sp2) = TokenizerFiles.readUnigramModelWithSpecials(dir)
    assert(m2.toSet == model.toSet && sp2 == sp)
    val probe = Seq((1L, "<|DOC|> abc bcd <|END|>")).toDF("doc_id", "text")
    val a = probe.select(Unigram.encodeIdsCol(col("text"), model, sp, 6))
      .head().getSeq[Int](0)
    val b = probe.select(Unigram.encodeIdsCol(col("text"), m2, sp2, 6))
      .head().getSeq[Int](0)
    assert(a == b)
    // specials-free artifact loads Nil
    val dir2 = tmp("ug_nosp")
    TokenizerFiles.writeUnigramModel(dir2, model)
    assert(TokenizerFiles.readUnigramModelWithSpecials(dir2)._2.isEmpty)
  }

  test("Unigram TSV guards: malformed line, tab inside a piece") {
    val path = s"${tmp("sp_bad")}/pieces.tsv"
    intercept[IllegalArgumentException](
      TokenizerFiles.writeUnigramTsv(path,
        Seq(Unigram.Piece("a\tb", 1, 1))))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "justonepiece\n".getBytes)
    val e = intercept[IllegalArgumentException](
      TokenizerFiles.readUnigramTsv(path))
    assert(e.getMessage.contains("TAB"))
  }
}
