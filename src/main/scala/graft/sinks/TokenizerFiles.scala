package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.operators.{Bpe, Unigram, WordPiece}

/** Tokenizer artifact INTERCHANGE — the model tables
  * ([[Bpe.vocabFrame]], [[WordPiece.vocabFrame]],
  * [[Unigram.modelFrame]]) written in the file formats training stacks
  * actually consume, plus the loaders that reconstruct the in-memory
  * model EXACTLY (round-trip gates pin `encode(loaded) == encode(fit)`
  * hash-identical):
  *
  *   - byte-level BPE → the GPT-2 pair: `vocab.json` (spelling → id,
  *     the openai/gpt-2 encoder.json layout — ids 0-255 are the
  *     bytes_to_unicode alphabet, merge `rank` sits at id 255+rank) and
  *     `merges.txt` (`#version: 0.2` header, one `left right` pair per
  *     line in rank order — line order IS the rank, as in the
  *     published format);
  *   - WordPiece → BERT `vocab.txt`: one piece per line, the line
  *     number is the token id — `[UNK]` at 0, then the vocabulary in
  *     sorted order (the [[WordPiece.vocabFrame]] id layout);
  *   - Unigram-LM → a SentencePiece-style piece list TSV:
  *     `piece<TAB>freq<TAB>cost_bits` per line (the integer-bitlen
  *     surrogate of the .vocab piece/log-prob dump, so the loaded model
  *     replays the engine's exact DP costs).
  *
  * All three are DRIVER-side files by design: a tokenizer model is
  * bounded (≤ alphabet + merges/vocab rows) by each fit contract and
  * already lives on the driver — these are the artifacts a 1000-node
  * training job distributes to workers, not data-plane outputs. Data
  * sinks stay in [[Sinks]].
  *
  * Writers REFUSE spellings the format cannot carry unambiguously
  * (newlines anywhere; a space inside a BPE merge symbol, since the
  * merges.txt line splits on space; a tab inside a TSV piece) instead
  * of silently corrupting the artifact — byte-level BPE never produces
  * them (bytes_to_unicode maps whitespace bytes to printable
  * surrogates), and word-level tokenizers split on whitespace, so a
  * violation means the caller handed the wrong table. */
object TokenizerFiles {

  private val Utf8 = StandardCharsets.UTF_8

  // ---------------------------------------------------------------- GPT-2

  /** Write `vocab.json` + `merges.txt` under `dir` for a byte-level
    * merge list (byte-level [[Bpe.fit]] output). A duplicate
    * merged SPELLING keeps only its lowest id in vocab.json (a JSON
    * object cannot carry duplicate keys; the encoder resolves spellings
    * to their lowest id the same way — BpeEncodeExpr.Table.symIds), while
    * merges.txt keeps every rank's line so the loaded table replays
    * sequential rank semantics exactly. */
  def writeGpt2(dir: String, merges: Seq[Bpe.Merge],
      specials: Seq[String] = Nil): Unit = {
    val sorted = merges.sortBy(_.rank)
    require(sorted.map(_.rank) == (1 to sorted.size),
      s"writeGpt2 needs dense ranks 1..${sorted.size}, got " +
        sorted.map(_.rank).mkString(","))
    sorted.foreach { m =>
      require(!m.left.exists(c => c == ' ' || c == '\n' || c == '\r') &&
        !m.right.exists(c => c == ' ' || c == '\n' || c == '\r'),
        s"merges.txt cannot carry whitespace inside a symbol " +
          s"(rank ${m.rank}: '${m.left}' + '${m.right}') — byte-level " +
          "tables never contain it; is this a word-level merge list?")
    }
    val d = Files.createDirectories(Paths.get(dir))
    val vocab = new StringBuilder("{")
    val seen = scala.collection.mutable.HashSet.empty[String]
    var first = true
    def put(sym: String, id: Int): Unit = if (seen.add(sym)) {
      if (!first) vocab.append(',')
      first = false
      vocab.append('"').append(escapeJson(sym)).append("\":").append(id)
    }
    (0 until 256).foreach(b =>
      put(String.valueOf(graft.functions.BpeEncodeExpr.byteAlphabet(b)), b))
    sorted.foreach(m => put(m.merged, 255 + m.rank))
    vocab.append('}')
    write(d.resolve("vocab.json"), vocab.result())
    write(d.resolve("merges.txt"),
      ("#version: 0.2" +: sorted.map(m => s"${m.left} ${m.right}"))
        .mkString("", "\n", "\n"))
    // specials ship as the HF added_tokens.json convention: a flat
    // {token: id} object, ids contiguous ABOVE the learned vocabulary
    // (256+nMerges+k) — NOT entries in vocab.json, whose ids are the
    // learned layout. Absent when there are no specials.
    if (specials.nonEmpty)
      writeAddedTokens(d.resolve("added_tokens.json").toString,
        specials, 256 + sorted.size)
  }

  /** Write an `added_tokens.json` ({token: id}, ids contiguous from
    * `firstId` in list order) — the HF convention, shared by all three
    * tokenizer families (the first reserved id differs per family:
    * 256+nMerges for byte-BPE, vocab+1 for WordPiece/Unigram whose
    * `[UNK]`+sorted-pieces layout ends at the vocabulary size). */
  def writeAddedTokens(path: String, specials: Seq[String],
      firstId: Int): Unit = {
    graft.functions.SpecialTokens.validate(specials)
    require(firstId >= 0, s"firstId must be >= 0, got $firstId")
    mkParent(Paths.get(path))
    write(Paths.get(path),
      specials.zipWithIndex.map { case (s, k) =>
        "\"" + escapeJson(s) + "\":" + (firstId + k)
      }.mkString("{", ",", "}"))
  }

  /** Load an `added_tokens.json` written by [[writeAddedTokens]]:
    * returns the specials in ID ORDER after checking the ids are
    * contiguous from `firstId` — a file whose ids don't sit exactly on
    * top of the expected vocabulary was written for a DIFFERENT model
    * and fails loudly instead of mis-tokenizing. Returns Nil when the
    * file does not exist (a specials-free artifact). */
  def readAddedTokens(path: String, firstId: Int): Seq[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Nil
    val ids = parseJsonStringIntObject(
      new String(Files.readAllBytes(p), Utf8))
    val ordered = ids.toSeq.sortBy(_._2)
    ordered.zipWithIndex.foreach { case ((tok, id), k) =>
      require(id == firstId + k,
        s"added_tokens.json: id $id for '$tok' is not contiguous from " +
          s"$firstId — artifact from a different vocabulary?")
    }
    ordered.map(_._1)
  }

  /** Load a GPT-2 pair written by [[writeGpt2]] (or any encoder.json/
    * merges.txt following the published layout). Rank = merges.txt line
    * order; vocab.json is cross-checked — every merged spelling must
    * carry its lowest-occurrence id at 255+rank, so a vocab/merges pair
    * from DIFFERENT trainings fails loudly instead of mis-tokenizing. */
  def readGpt2(dir: String): Seq[Bpe.Merge] = {
    val d = Paths.get(dir)
    val lines = Files.readAllLines(d.resolve("merges.txt"), Utf8)
    val merges = scala.collection.immutable.ArraySeq
      .unsafeWrapArray(lines.toArray(Array.empty[String]))
      .filter(l => l.nonEmpty && !l.startsWith("#version"))
      .zipWithIndex.map { case (l, i) =>
        val sp = l.indexOf(' ')
        require(sp > 0 && l.indexOf(' ', sp + 1) < 0,
          s"merges.txt line ${i + 2}: expected 'left right', got '$l'")
        Bpe.Merge(i + 1, l.substring(0, sp), l.substring(sp + 1))
      }
    val ids = parseJsonStringIntObject(
      new String(Files.readAllBytes(d.resolve("vocab.json")), Utf8))
    val firstId = scala.collection.mutable.HashMap.empty[String, Int]
    (0 until 256).foreach { b =>
      val s = String.valueOf(graft.functions.BpeEncodeExpr.byteAlphabet(b))
      require(ids.get(s).contains(b),
        s"vocab.json byte id mismatch for byte $b ('$s'): got ${ids.get(s)}")
      firstId.getOrElseUpdate(s, b): Unit
    }
    merges.foreach { m =>
      val expect = firstId.getOrElseUpdate(m.merged, 255 + m.rank)
      require(ids.get(m.merged).contains(expect),
        s"vocab.json/merges.txt disagree on '${m.merged}': vocab has " +
          s"${ids.get(m.merged)}, merges imply $expect — mixed artifacts?")
    }
    merges
  }

  /** [[readGpt2]] plus the specials list from `added_tokens.json`
    * (Nil when the artifact has none) — id contiguity above the merge
    * table is checked by [[readAddedTokens]]. */
  def readGpt2WithSpecials(dir: String): (Seq[Bpe.Merge], Seq[String]) = {
    val merges = readGpt2(dir)
    (merges, readAddedTokens(
      Paths.get(dir).resolve("added_tokens.json").toString,
      256 + merges.size))
  }

  // ----------------------------------------------------------------- BERT

  /** Write a BERT `vocab.txt` for a [[WordPiece.fit]] vocabulary:
    * `[UNK]` on line 0, then the vocabulary in sorted order — line
    * number = token id, the [[WordPiece.vocabFrame]] layout. */
  def writeBertVocab(path: String, vocab: Seq[String]): Unit = {
    require(vocab.nonEmpty, "writeBertVocab needs a non-empty vocabulary")
    val sorted = vocab.distinct.sorted
    require(sorted.size == vocab.size,
      "writeBertVocab: duplicate pieces in the vocabulary")
    sorted.foreach(p => require(
      p.nonEmpty && !p.exists(c => c == '\n' || c == '\r'),
      s"vocab.txt cannot carry an empty piece or a newline " +
        s"inside a piece: '$p'"))
    require(!sorted.contains(WordPiece.Unk),
      s"the vocabulary must not already contain ${WordPiece.Unk} — " +
        "it is implicit at id 0")
    mkParent(Paths.get(path))
    write(Paths.get(path),
      (WordPiece.Unk +: sorted).mkString("", "\n", "\n"))
  }

  /** Write a BERT artifact DIRECTORY: `vocab.txt` plus — when specials
    * are present — `added_tokens.json` with ids contiguous from N+1
    * (N = vocabulary size; `[UNK]`=0, sorted vocab 1..N), exactly the
    * reserved layout [[WordPiece.encodeIdsCol]] assigns to its
    * `specials` argument. Closes the r14 asymmetry where only byte-BPE
    * round-tripped its tags through the interchange files. */
  def writeBert(dir: String, vocab: Seq[String],
      specials: Seq[String] = Nil): Unit = {
    val d = Files.createDirectories(Paths.get(dir))
    writeBertVocab(d.resolve("vocab.txt").toString, vocab)
    if (specials.nonEmpty)
      writeAddedTokens(d.resolve("added_tokens.json").toString,
        specials, vocab.distinct.size + 1)
  }

  /** Load a BERT artifact directory written by [[writeBert]]: the
    * vocabulary plus the specials in id order (Nil when the artifact
    * has none) — id contiguity above the vocabulary is checked by
    * [[readAddedTokens]]. */
  def readBertWithSpecials(dir: String): (Seq[String], Seq[String]) = {
    val d = Paths.get(dir)
    val vocab = readBertVocab(d.resolve("vocab.txt").toString)
    (vocab, readAddedTokens(d.resolve("added_tokens.json").toString,
      vocab.size + 1))
  }

  /** Load a vocab.txt written by [[writeBertVocab]]: returns the piece
    * list (without `[UNK]`) — the `vocab` argument
    * [[WordPiece.encodeCol]] and [[WordPiece.vocabFrame]] take, in the
    * id order the file pins. */
  def readBertVocab(path: String): Seq[String] = {
    val lines = Files.readAllLines(Paths.get(path), Utf8)
    val all = scala.collection.immutable.ArraySeq
      .unsafeWrapArray(lines.toArray(Array.empty[String]))
      .filter(_.nonEmpty)
    require(all.headOption.contains(WordPiece.Unk),
      s"vocab.txt must start with ${WordPiece.Unk} at id 0, got " +
        s"'${all.headOption.getOrElse("<empty>")}'")
    all.tail
  }

  // ---------------------------------------------------------- SentencePiece

  /** Write a SentencePiece-style piece-list TSV for a [[Unigram]]
    * model: `piece<TAB>freq<TAB>cost_bits` per line, pieces in sorted
    * order (the [[Unigram.modelFrame]] presentation) — freq and the
    * integer bit cost both ship so the loaded model replays the
    * engine's exact Viterbi arithmetic. */
  def writeUnigramTsv(path: String, pieces: Seq[Unigram.Piece]): Unit = {
    require(pieces.nonEmpty, "writeUnigramTsv needs a non-empty model")
    val sorted = pieces.sortBy(_.piece)
    require(sorted.map(_.piece).distinct.size == sorted.size,
      "writeUnigramTsv: duplicate pieces in the model")
    sorted.foreach(p => require(p.piece.nonEmpty &&
      !p.piece.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"piece TSV cannot carry an empty piece or a tab/newline inside " +
        s"a piece: '${p.piece}'"))
    mkParent(Paths.get(path))
    write(Paths.get(path),
      sorted.map(p => s"${p.piece}\t${p.freq}\t${p.costBits}")
        .mkString("", "\n", "\n"))
  }

  /** Write a SentencePiece-style artifact DIRECTORY: `pieces.tsv` plus
    * — when specials are present — `added_tokens.json` with ids
    * contiguous from N+1 (N = distinct piece count; `[UNK]`=0, sorted
    * pieces 1..N), exactly the reserved layout
    * [[Unigram.encodeIdsCol]] assigns to its `specials` argument. */
  def writeUnigramModel(dir: String, pieces: Seq[Unigram.Piece],
      specials: Seq[String] = Nil): Unit = {
    val d = Files.createDirectories(Paths.get(dir))
    writeUnigramTsv(d.resolve("pieces.tsv").toString, pieces)
    if (specials.nonEmpty)
      writeAddedTokens(d.resolve("added_tokens.json").toString,
        specials, pieces.map(_.piece).distinct.size + 1)
  }

  /** Load a unigram artifact directory written by [[writeUnigramModel]]:
    * the piece list plus the specials in id order (Nil when the
    * artifact has none) — id contiguity above the piece layout is
    * checked by [[readAddedTokens]]. */
  def readUnigramModelWithSpecials(dir: String)
      : (Seq[Unigram.Piece], Seq[String]) = {
    val d = Paths.get(dir)
    val pieces = readUnigramTsv(d.resolve("pieces.tsv").toString)
    (pieces, readAddedTokens(d.resolve("added_tokens.json").toString,
      pieces.map(_.piece).distinct.size + 1))
  }

  /** Load a piece-list TSV written by [[writeUnigramTsv]] — the
    * `pieces` argument [[Unigram.encodeCol]] and [[Unigram.modelFrame]]
    * take. */
  def readUnigramTsv(path: String): Seq[Unigram.Piece] = {
    val lines = Files.readAllLines(Paths.get(path), Utf8)
    scala.collection.immutable.ArraySeq
      .unsafeWrapArray(lines.toArray(Array.empty[String]))
      .filter(_.nonEmpty)
      .zipWithIndex.map { case (l, i) =>
        val parts = l.split('\t')
        require(parts.length == 3,
          s"piece TSV line ${i + 1}: expected piece<TAB>freq<TAB>" +
            s"cost_bits, got '$l'")
        Unigram.Piece(parts(0), parts(1).toLong, parts(2).toInt)
      }
  }

  // -------------------------------------------------------------- plumbing

  private def write(p: Path, content: String): Unit = {
    Files.write(p, content.getBytes(Utf8))
    ()
  }

  private def mkParent(p: Path): Unit = {
    val parent = p.toAbsolutePath.getParent
    if (parent != null) { Files.createDirectories(parent); () }
  }

  private def escapeJson(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Strict parser for the flat `{"string": int, …}` object
    * [[writeGpt2]] emits (and encoder.json matches) — string keys with
    * JSON escapes, integer values, no nesting. Loud on anything else:
    * interchange correctness beats permissiveness here. */
  private def parseJsonStringIntObject(text: String): Map[String, Int] = {
    val out = Map.newBuilder[String, Int]
    var i = 0
    val n = text.length
    def skipWs(): Unit = while (i < n && text.charAt(i).isWhitespace) i += 1
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"vocab.json parse error at offset $i: $msg")
    def expect(c: Char): Unit = {
      skipWs()
      if (i >= n || text.charAt(i) != c) fail(s"expected '$c'")
      i += 1
    }
    def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < n && text.charAt(i) != '"') {
        val c = text.charAt(i)
        if (c == '\\') {
          if (i + 1 >= n) fail("dangling escape")
          text.charAt(i + 1) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/' => sb.append('/'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'u' =>
              if (i + 6 > n) fail("truncated \\u escape")
              sb.append(Integer.parseInt(text.substring(i + 2, i + 6), 16)
                .toChar)
              i += 6
            case other => fail(s"unsupported escape \\$other")
          }
        } else { sb.append(c); i += 1 }
      }
      if (i >= n) fail("unterminated string")
      i += 1
      sb.result()
    }
    def parseInt(): Int = {
      skipWs()
      val start = i
      if (i < n && text.charAt(i) == '-') i += 1
      while (i < n && text.charAt(i).isDigit) i += 1
      if (i == start) fail("expected an integer value")
      text.substring(start, i).toInt
    }
    expect('{')
    skipWs()
    if (i < n && text.charAt(i) == '}') { i += 1; return out.result() }
    var more = true
    while (more) {
      val k = parseString()
      expect(':')
      out += k -> parseInt()
      skipWs()
      if (i < n && text.charAt(i) == ',') i += 1
      else more = false
    }
    expect('}')
    skipWs()
    if (i != n) fail("trailing content after the object")
    out.result()
  }
}
