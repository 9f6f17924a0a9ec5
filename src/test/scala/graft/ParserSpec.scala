package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.hb.{Ast, HbParser, Printer}
import Ast._

/** Golden tests: the parser must accept the reference's own test corpus
  * (read in place from /root/reference — the seven real `.hb` programs). */
class ParserSpec extends AnyFunSuite {

  private val corpusDir = "/root/reference/tests/transformations"

  private def assumeCorpus(): Unit =
    assume(new java.io.File(corpusDir).isDirectory,
      s"the reference corpus $corpusDir is absent")

  private def parseFile(name: String): Program = {
    assumeCorpus()
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$corpusDir/$name")), "UTF-8")
    HbParser.parse(text)
  }

  test("parses all seven corpus programs") {
    assumeCorpus()
    val names = new java.io.File(corpusDir).listFiles()
      .map(_.getName).filter(_.endsWith(".hb"))
    assert(names.length == 7)
    names.foreach { n =>
      val p = parseFile(n)
      assert(p.transformations.nonEmpty, s"$n has no statements")
    }
  }

  test("Velocity.hb shape") {
    val p = parseFile("Velocity.hb")
    assert(p.header.props("provider") == "odata")
    assert(p.header.meta.get("category").contains("workitems"))
    val ts = p.transformations
    assert(ts.head == Only(Bin("=", ColRef("WorkItemType"), StrLit("User Story"))))
    assert(ts(1) == GroupBy(Seq("Iteration.IterationName", "WorkItemId"),
      MaxBy(ColRef("ChangedDate"))))
    assert(ts(2) == RenameColumn("Iteration.IterationLevel3", "Sprint Name"))
    // create column SprintNumber (int (regex [..] /../ [$1]))
    ts(3) match {
      case CreateColumn("SprintNumber", IntCast(RegexExtract(
          ColRef("Sprint Name"), pat, Seq(GroupTok(1))))) =>
        assert(pat.contains("[Ss]"))
      case other => fail(s"unexpected $other")
    }
    assert(ts(6) == Only(Not(Bin(">", ColRef("SprintNumber"), NumLit(45)))))
    assert(ts(7) == Pivot(ColRef("SprintNumber"), ColRef("State"),
      Reduction.Count, ColRef("SprintNumber")))
    assert(ts(8) == SortByColumn("SprintNumber"))
    assert(ts(9) == CreateColumn("Velocity 3",
      Moving(Reduction.Mean, 3, ColRef("Done"))))
    assert(ts(11) == SliceColumns(Seq("Velocity 3", "Velocity 7")))
  }

  test("MTTR.hb shape") {
    val ts = parseFile("MTTR.hb").transformations
    assert(ts.head == Only(Bin("&&",
      Bin("=", ColRef("WorkItemType"), StrLit("Bug")),
      Not(Bin("=", ColRef("LeadTimeDays"), StrLit(""))))))
    assert(ts.contains(GroupBy(Seq("SprintNumber"),
      RowsBy(Reduction.Sum))))
    assert(ts.contains(CreateColumn("SprintNumber", KeysExpr)))
    assert(ts.contains(IndexBy(ColRef("SprintNumber"))))
    assert(ts.contains(CreateColumn("LeadTimeDays",
      Bin("/", ColRef("temp"), ColRef("tick")))))
  }

  test("Commit Frequency: rest provider with url list, format date") {
    val p = parseFile("Logic Commit Frequency.hb")
    assert(p.header.props("provider") == "rest")
    assert(p.header.lists("url").size == 15)
    assert(p.header.props("values") == "value")
    val ts = p.transformations
    assert(ts.head == CreateColumn("date",
      FormatDate(ColRef("committer.date"), DatePart.Date)))
    // nested comparisons with && / || precedence
    ts(1) match {
      case Only(Bin("||", Bin("&&", _, _), _)) => ()
      case other => fail(s"bad precedence: $other")
    }
  }

  test("modulo binds at multiplicative precedence and round-trips") {
    assert(HbParser.parseStatement("only (a + b % 3 = 1)") ==
      Only(Bin("=",
        Bin("+", ColRef("a"), Bin("%", ColRef("b"), NumLit(3))),
        NumLit(1))))
    val st = HbParser.parseStatement("create column m (x % 10 * 2)")
    assert(st == CreateColumn("m",
      Bin("*", Bin("%", ColRef("x"), NumLit(10)), NumLit(2))))
    assert(HbParser.parseStatement(Printer.print(st)) == st)
  }

  test("nested if expression (logic.hb)") {
    val st = HbParser.parseStatement(
      "create column State (if [StateCategory = 'Completed' || " +
        "StateCategory = 'Resolved'] {'Done'} else { if [\"StateCategory\" " +
        "= 'InProgress'] {'Doing'} else {'Todo'} })")
    st match {
      case CreateColumn("State", IfElse(_, StrLit("Done"),
          IfElse(_, StrLit("Doing"), StrLit("Todo")))) => ()
      case other => fail(s"unexpected $other")
    }
  }

  test("remaining statement forms") {
    assert(HbParser.parseStatement("dense rows") == DenseRows)
    assert(HbParser.parseStatement("dense columns") == DenseColumns)
    assert(HbParser.parseStatement("numeric columns") == NumericColumns)
    assert(HbParser.parseStatement("buckets (4) -> (sum)") ==
      Buckets(4, Reduction.Sum))
    assert(HbParser.parseStatement("k-means (3) -> (mean)") ==
      KMeansCluster(3, Reduction.Mean))
    assert(HbParser.parseStatement("each mean") == Each(Reduction.Mean))
    assert(HbParser.parseStatement("create column tick 1") ==
      CreateColumn("tick", NumLit(1)))
    assert(HbParser.parseStatement(
      "create column f (linear extrapolation [Done] 5 10)") ==
      LinearExtrapolation("f", ColRef("Done"), 5, 10))
    assert(HbParser.parseStatement("create column r (linear regression [x] [y])")
      == CreateColumn("r", LinReg(ColRef("x"), ColRef("y"))))
    assert(HbParser.parseStatement("only (contains State ['Done'; 'Doing'])")
      == Only(Contains(ColRef("State"),
        Seq(StrLit("Done"), StrLit("Doing")))))
    assert(HbParser.parseStatement("create column e (expanding sum [v])") ==
      CreateColumn("e", Expanding(Reduction.Sum, ColRef("v"))))
    assert(HbParser.parseStatement("create column o ordinals") ==
      CreateColumn("o", OrdinalsExpr))
    assert(HbParser.parseStatement("only !(x = missing)") ==
      Only(Not(Bin("=", ColRef("x"), MissingLit))))
  }

  test("training-pipeline extension statements") {
    assert(HbParser.parseStatement("dedup exact text") == DedupExact("text"))
    assert(HbParser.parseStatement("dedup minhash text 0.5") ==
      DedupMinhash("text", 0.5))
    assert(HbParser.parseStatement("dedup simhash text 3") ==
      DedupSimhash("text", 3))
    assert(HbParser.parseStatement("cluster minhash text 0.5") ==
      ClusterMinhash("text", 0.5))
    assert(HbParser.parseStatement("split 80/10/10 by doc_id") ==
      SplitBy(Seq(80.0, 10.0, 10.0), "doc_id"))
    assert(HbParser.parseStatement("split 98/1/1 by doc_id 's1'") ==
      SplitBy(Seq(98.0, 1.0, 1.0), "doc_id", "s1"))
    assert(HbParser.parseStatement("split 90/10 by \"my id\"") ==
      SplitBy(Seq(90.0, 10.0), "my id"))
    assert(HbParser.parseStatement("pack n_chars 4096") ==
      Pack("n_chars", 4096L))
    assert(HbParser.parseStatement("pack n_chars 4096 8") ==
      Pack("n_chars", 4096L, 8))
    assert(HbParser.parseStatement("sample 25 by doc_id") ==
      SampleBy(25.0, "doc_id"))
    assert(HbParser.parseStatement("sample 80 by doc_id 's1'") ==
      SampleBy(80.0, "doc_id", "s1"))
    assert(HbParser.parseStatement(
      "mix by lang [en 100; de 50; fr 25] 10 'mix1'") ==
      MixBy("lang", Seq("en" -> 100.0, "de" -> 50.0, "fr" -> 25.0),
        10.0, "mix1"))
    assert(HbParser.parseStatement("mix by lang [] 10") ==
      MixBy("lang", Nil, 10.0))
    assert(HbParser.parseStatement("chunk text 64 48") ==
      Chunk("text", 64, 48))
    assert(HbParser.parseStatement("chunk text 64") == // stride defaults
      Chunk("text", 64, 64))
    assert(HbParser.parseStatement("neighbors 10 [embedding] [keys < 5]") ==
      Neighbors(10, ColRef("embedding"),
        Bin("<", KeysExpr, NumLit(5))))
    assert(HbParser.parseStatement(
      "neighbors 10 [embedding] [keys < 5] pq 8") ==
      Neighbors(10, ColRef("embedding"),
        Bin("<", KeysExpr, NumLit(5)), AnnIndex.Pq(8)))
    assert(HbParser.parseStatement(
      "neighbors 10 [embedding] [keys < 5] ivf 16") ==
      Neighbors(10, ColRef("embedding"),
        Bin("<", KeysExpr, NumLit(5)), AnnIndex.Ivf(16)))
    assert(HbParser.parseStatement(
      "neighbors 10 [embedding] [keys < 5] mmr 7") ==
      Neighbors(10, ColRef("embedding"),
        Bin("<", KeysExpr, NumLit(5)), AnnIndex.Mmr(7)))
    assert(HbParser.parseStatement("encode text 64") == Encode("text", 64))
    assert(HbParser.parseStatement("top 5 by n_chars per source") ==
      TopBy(5, "n_chars", "source"))
    assert(HbParser.parseStatement("top 25 pct by n_chars per lang") ==
      TopFracBy(25, "n_chars", "lang"))
    assert(HbParser.parseStatement("bpe text 8") == BpeEnc("text", 8))
    assert(HbParser.parseStatement(
      "window ts 60 group by event_type -> sum") ==
      WindowAgg("ts", 60, 0, Seq("event_type"), Reduction.Sum))
    assert(HbParser.parseStatement(
      "window ts 60 15 group by event_type region -> mean") ==
      WindowAgg("ts", 60, 15, Seq("event_type", "region"),
        Reduction.Mean))
    assert(HbParser.parseStatement(
      "rebalance by source [src0 40; src1 30] 'r1'") ==
      RebalanceBy("source", Seq("src0" -> 40.0, "src1" -> 30.0), "r1"))
    assert(HbParser.parseStatement(
      "rebalance by source weight n_chars [src0 40; src1 30] 'r1'") ==
      RebalanceBy("source", Seq("src0" -> 40.0, "src1" -> 30.0), "r1",
        Some("n_chars")))
    assert(HbParser.parseStatement("shuffle") == Shuffle())
    assert(HbParser.parseStatement("shuffle 'ep1'") == Shuffle("ep1"))
    assert(HbParser.parseStatement("shards 8") == Shards(8))
    assert(HbParser.parseStatement(
      "upsample by lang [en 2.5; de 0.5; zh 0] 'u1'") ==
      Upsample("lang", Seq("en" -> 2.5, "de" -> 0.5, "zh" -> 0.0), "u1"))
    assert(HbParser.parseStatement("upsample by lang [en 2]") ==
      Upsample("lang", Seq("en" -> 2.0)))
    assert(HbParser.parseStatement(
      "upsample by lang weight n_chars [en 50; de 50] budget 1000 'b1'")
      == Upsample("lang", Seq("en" -> 50.0, "de" -> 50.0), "b1",
        Some("n_chars" -> 1000L)))
    // weight without budget (or vice versa) is a named parse error
    intercept[HbParser.ParseError] {
      HbParser.parseStatement("upsample by lang weight n_chars [en 50]")
    }
    assert(HbParser.parseStatement("curriculum by n_chars 3 'c1'") ==
      Curriculum("n_chars", 3, "c1"))
    assert(HbParser.parseStatement("curriculum by score 4") ==
      Curriculum("score", 4))
    assert(HbParser.parseStatement("decode token_ids using corpus 64") ==
      DecodeUsing("token_ids", "corpus", 64))
    // r11: byte-level tokenizer + document-aligned packing forms
    assert(HbParser.parseStatement("bpe bytes text 6") ==
      BpeBytesEnc("text", 6))
    assert(HbParser.parseStatement("bpe bytes text using corpus 6") ==
      BpeBytesUsing("text", "corpus", 6))
    assert(HbParser.parseStatement("decode bytes bpe") ==
      BpeBytesDecode("bpe"))
    // r12: the trainer-input ids form
    assert(HbParser.parseStatement("bpe ids text 6") ==
      BpeIdsEnc("text", 6))
    // r12: semantic decon at ingest
    assert(HbParser.parseStatement("decon semantic embedding using ev") ==
      SemDeconUsing("embedding", "ev"))
    assert(HbParser.parseStatement(
      "decon semantic embedding using ev 900000000") ==
      SemDeconUsing("embedding", "ev", 900000000L))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      SemDeconUsing("v", "e", 123L)).trim) == SemDeconUsing("v", "e", 123L))
    // r12: normalize expression
    assert(HbParser.parseStatement("create column n (normalize (text))")
      == CreateColumn("n", TextSig(TextSigKind.Normalize, ColRef("text"))))
    // r12: fill-in-middle transform
    assert(HbParser.parseStatement("fim text") == FimTransform("text"))
    assert(HbParser.parseStatement("fim text 500 'f2'") ==
      FimTransform("text", 500, "f2"))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      FimTransform("text", 500, "f2")).trim) ==
      FimTransform("text", 500, "f2"))
    // r12: temperature mix (√-weighted domain sampling)
    assert(HbParser.parseStatement("mix temperature by lang 'tm1'") ==
      TemperatureMixBy("lang", "tm1"))
    assert(HbParser.parseStatement("mix temperature by source") ==
      TemperatureMixBy("source"))
    assert(HbParser.parseStatement(
      graft.hb.Printer.print(TemperatureMixBy("lang", "x")).trim) ==
      TemperatureMixBy("lang", "x"))
    assert(HbParser.parseStatement(
      graft.hb.Printer.print(BpeIdsEnc("scrubbed", 12)).trim) ==
      BpeIdsEnc("scrubbed", 12))
    assert(HbParser.parseStatement("bpe ids text using corpus 6") ==
      BpeIdsUsing("text", "corpus", 6))
    assert(HbParser.parseStatement("wordpiece ids text 6") ==
      WordPieceIdsEnc("text", 6))
    assert(HbParser.parseStatement("wordpiece ids text using corpus 6") ==
      WordPieceIdsUsing("text", "corpus", 6))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      WordPieceIdsUsing("t", "c", 9)).trim) ==
      WordPieceIdsUsing("t", "c", 9))
    assert(HbParser.parseStatement("unigram ids text 16") ==
      UnigramIdsEnc("text", 16))
    assert(HbParser.parseStatement("unigram ids text using corpus 16") ==
      UnigramIdsUsing("text", "corpus", 16))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      UnigramIdsUsing("t", "c", 9)).trim) == UnigramIdsUsing("t", "c", 9))
    // r14: the tags clause on the wordpiece/unigram ids families —
    // parse + print→parse round trip, batch and using forms
    assert(HbParser.parseStatement(
      "wordpiece ids tagged 6 tags '<|DOC|>' '<|END|>'") ==
      WordPieceIdsEnc("tagged", 6, Seq("<|DOC|>", "<|END|>")))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      WordPieceIdsEnc("t", 9, Seq("<A>", "<B>"))).trim) ==
      WordPieceIdsEnc("t", 9, Seq("<A>", "<B>")))
    assert(HbParser.parseStatement(
      "wordpiece ids t using c 6 tags '<X>'") ==
      WordPieceIdsUsing("t", "c", 6, Seq("<X>")))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      WordPieceIdsUsing("t", "c", 9, Seq("<A>"))).trim) ==
      WordPieceIdsUsing("t", "c", 9, Seq("<A>")))
    assert(HbParser.parseStatement(
      "unigram ids tagged 16 tags '<|DOC|>'") ==
      UnigramIdsEnc("tagged", 16, Seq("<|DOC|>")))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      UnigramIdsEnc("t", 9, Seq("<A>", "<B>"))).trim) ==
      UnigramIdsEnc("t", 9, Seq("<A>", "<B>")))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      UnigramIdsUsing("t", "c", 9, Seq("<A>"))).trim) ==
      UnigramIdsUsing("t", "c", 9, Seq("<A>")))
    assert(HbParser.parseStatement("decode ids token_ids using corpus 6")
      == BpeIdsDecodeUsing("token_ids", "corpus", 6))
    assert(HbParser.parseStatement(
      "decode ids token_ids using corpus 6 of body")
      == BpeIdsDecodeUsing("token_ids", "corpus", 6, "body"))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      BpeIdsDecodeUsing("t", "c", 9)).trim) ==
      BpeIdsDecodeUsing("t", "c", 9))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      BpeIdsDecodeUsing("t", "c", 9, "body")).trim) ==
      BpeIdsDecodeUsing("t", "c", 9, "body"))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      BpeIdsUsing("t", "c", 9)).trim) == BpeIdsUsing("t", "c", 9))
    assert(HbParser.parseStatement("sft prompt response 6") ==
      SftChat("prompt", "response", 6))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      SftChat("p", "r", 12)).trim) == SftChat("p", "r", 12))
    assert(HbParser.parseStatement("sft prompt response using corpus 6")
      == SftUsing("prompt", "response", "corpus", 6))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      SftUsing("p", "r", "c", 12)).trim) == SftUsing("p", "r", "c", 12))
    assert(HbParser.parseStatement(
      "bpe ids fim 6 tags '<PRE>' '<SUF>' '<MID>'") ==
      BpeIdsEnc("fim", 6, Seq("<PRE>", "<SUF>", "<MID>")))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      BpeIdsEnc("t", 9, Seq("<A>", "<B>"))).trim) ==
      BpeIdsEnc("t", 9, Seq("<A>", "<B>")))
    assert(HbParser.parseStatement(
      "bpe ids text using corpus 6 tags '<X>'") ==
      BpeIdsUsing("text", "corpus", 6, Seq("<X>")))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      BpeIdsUsing("t", "c", 9, Seq("<A>"))).trim) ==
      BpeIdsUsing("t", "c", 9, Seq("<A>")))
    // a tag containing a single quote is unprintable (the lexer has no
    // escape syntax) — the printer must REFUSE, not emit a string that
    // breaks the print→parse round trip
    intercept[IllegalArgumentException] {
      graft.hb.Printer.print(BpeIdsEnc("t", 9, Seq("<a'b>")))
    }
    assert(HbParser.parseStatement("decode ids token_ids") ==
      BpeIdsDecode("token_ids"))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      BpeIdsDecode("t")).trim) == BpeIdsDecode("t"))
    assert(HbParser.parseStatement("dedup substrings text 8") ==
      DedupSubstrings("text", 8))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      DedupSubstrings("t", 12)).trim) == DedupSubstrings("t", 12))
    assert(HbParser.parseStatement("fertility text using corpus 6") ==
      FertilityUsing("text", "corpus", 6))
    assert(HbParser.parseStatement("langid text using corpus") ==
      LangIdUsing("text", "corpus"))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      LangIdUsing("t", "c")).trim) == LangIdUsing("t", "c"))
    assert(HbParser.parseStatement(graft.hb.Printer.print(
      FertilityUsing("t", "c", 9)).trim) == FertilityUsing("t", "c", 9))
    assert(HbParser.parseStatement("pack bins n_chars 1024 8") ==
      PackBins("n_chars", 1024L, 8))
    assert(HbParser.parseStatement("pack bins n_chars 1024") ==
      PackBins("n_chars", 1024L))
    // printed forms re-parse to the same statement (the lineage-key
    // and oracle-replay contract)
    assert(HbParser.parseStatement("emit packed token_ids 512 4") ==
      EmitPacked("token_ids", 512L, 4))
    assert(HbParser.parseStatement("emit aligned token_ids 512") ==
      EmitAligned("token_ids", 512L))
    assert(HbParser.parseStatement("pairs text score_fp by prompt_id 2") ==
      Pairs("text", "score_fp", "prompt_id", 2L))
    assert(HbParser.parseStatement("pairs text score_fp by prompt_id") ==
      Pairs("text", "score_fp", "prompt_id"))
    Seq[Statement](BpeBytesEnc("text", 6),
      BpeBytesUsing("text", "corpus", 6), BpeBytesDecode("bpe"),
      PackBins("n_chars", 1024L, 8), EmitPacked("token_ids", 512L, 4),
      EmitAligned("token_ids", 512L, 4), Pairs("text", "sc", "p", 5L),
      Pairs("text", "sc", "p"), WordPieceEnc("text", 6),
      WordPieceUsing("text", "corpus", 6), UnigramEnc("text", 16),
      UnigramUsing("text", "corpus", 16), DeconUsing("text", "eval", 4),
      DeconUsing("text", "eval")).foreach { st =>
      assert(HbParser.parseStatement(Printer.print(st)) == st,
        Printer.print(st))
    }
    assert(HbParser.parseStatement("diverse 8 [embedding]") ==
      Diverse(8, ColRef("embedding")))
    // a regex nested inside another regex's operand still gets its
    // OUTER pattern lexed as a literal (count-based lexer rule), while
    // division between completed regexes stays division
    assert(HbParser.parseStatement(
      "create column x (regex [regex [y] /a/ [$1]] /b/ [$1])") ==
      CreateColumn("x", RegexExtract(
        RegexExtract(ColRef("y"), "a", Seq(GroupTok(1))),
        "b", Seq(GroupTok(1)))))
    assert(HbParser.parseStatement(
      "create column x (regex [y] /a/ [$1] / z)") ==
      CreateColumn("x", Bin("/",
        RegexExtract(ColRef("y"), "a", Seq(GroupTok(1))), ColRef("z"))))
  }

  test("regex unescaping: corpus double-backslash becomes single") {
    HbParser.parseStatement(
      """create column n (regex [s] /[Ss]print [^\\d]*([\\d]+).*/ [$1])""") match {
      case CreateColumn("n", RegexExtract(_, pat, _)) =>
        assert(pat == """[Ss]print [^\d]*([\d]+).*""")
      case other => fail(s"unexpected $other")
    }
  }
}
