package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** BPE trainer semantics the oracle can't see: the classic worked
  * example, greedy overlap resolution, early stopping, encoding of
  * UNSEEN words, and partitioning invariance of the learned merges. */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()
  import spark.implicits._

  test("learns the textbook merge sequence (low/lower/lowest)") {
    // (l,o) and (o,w) tie at 5; left tie-break picks (l,o). Then
    // (lo,w) at 5, then (low,</w>) at 3.
    val df = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    val merges = Bpe.fit(df, "text", 3, minCount = 1L)
      .map(m => (m.left, m.right))
    assert(merges == Seq("l" -> "o", "lo" -> "w", "low" -> Bpe.EndOfWord))
  }

  test("greedy left-to-right: overlapping matches merge at even offsets") {
    val df = Seq((1L, "aaaa aaaa aa")).toDF("doc_id", "text")
    val merges = Bpe.fit(df, "text", 1, minCount = 1L)
    assert(merges.map(m => (m.left, m.right)) == Seq("a" -> "a"))
    val enc = df.select(Bpe.encodeCol(col("text"), merges)).head().getString(0)
    assert(enc == s"aa aa ${Bpe.EndOfWord} aa aa ${Bpe.EndOfWord} aa ${Bpe.EndOfWord}")
  }

  test("stops when the best pair drops below minCount") {
    // every word distinct, every char distinct: all pair counts are 1.
    val df = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    assert(Bpe.fit(df, "text", 5, minCount = 2L).isEmpty)
    // minCount=1 keeps merging until symbols run out or rounds do.
    assert(Bpe.fit(df, "text", 5, minCount = 1L).nonEmpty)
  }

  test("encodes unseen words by applying the merge table") {
    val train = Seq((1L, "the the the then")).toDF("doc_id", "text")
    val merges = Bpe.fit(train, "text", 2, minCount = 1L)
    // (h,e) beats the (t,h) tie at 4 by the left-asc tie-break, then
    // (t,he): unseen "thee" starts with the learned "the".
    assert(merges.map(m => m.merged) == Seq("he", "the"))
    val enc = Seq((1L, "thee")).toDF("doc_id", "text")
      .select(Bpe.encodeCol(col("text"), merges)).head().getString(0)
    assert(enc == s"the e ${Bpe.EndOfWord}")
  }

  test("learned merges are invariant under repartitioning") {
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, s"spark scan table value part hash row$i")).toDF("doc_id", "text")
    val a = Bpe.fit(docs.coalesce(1), "text", 6, minCount = 1L)
    val b = Bpe.fit(docs.repartition(11), "text", 6, minCount = 1L)
    assert(a == b)
  }

  test("fit equals the spec trainer: overlap runs, minCount stop, layout") {
    // mixed corpus: repeated-char runs (the l==r run-parity case),
    // shared prefixes/suffixes, ties — everything that could make an
    // incrementally-maintained count diverge from recomputation
    val docs = Seq.tabulate(25)(i =>
      (i.toLong, s"low lower lowest aaaa baab wide wider widest " +
        s"the then there row$i"))
      .toDF("doc_id", "text")
    val spec = SpecTrainers.bpe(Bpe.wordFrame(docs, "text"), 24, 1L)
    val a = Bpe.fit(docs.coalesce(1), "text", 24, minCount = 1L)
    assert(a == spec, s"spec=$spec\nfit=$a")
    assert(Bpe.fit(docs.repartition(13), "text", 24, minCount = 1L) == a)
    // early stop at minCount parity
    val c = SpecTrainers.bpe(Bpe.wordFrame(docs, "text"), 24, 40L)
    assert(Bpe.fit(docs, "text", 24, minCount = 40L) == c && c.size < 24)
  }

  test("fitStored: a fresh session loads the merge table, no retrain") {
    val root = java.nio.file.Files
      .createTempDirectory("bpe_store").toString
    val store = new graft.cache.LineageCache(spark, root)
    val docs = Seq.tabulate(20)(i =>
      (i.toLong, "low lower lowest newer wider")).toDF("doc_id", "text")
    var fitted: Seq[Bpe.Merge] = null
    val fitJobs = JobCounter.count(spark) {
      fitted = Bpe.fitStored(docs, "text", 6, 1L, "corpus@v1", Some(store))
    }
    assert(fitted == Bpe.fit(docs, "text", 6, minCount = 1L))
    // a fresh store handle on the same root simulates a new session;
    // the load may only pay parquet-footer reads, never the per-round
    // trainer jobs
    val store2 = new graft.cache.LineageCache(spark, root)
    var loaded: Seq[Bpe.Merge] = null
    val jobs = JobCounter.count(spark) {
      loaded = Bpe.fitStored(docs, "text", 6, 1L, "corpus@v1", Some(store2))
    }
    assert(fitJobs > jobs,
      s"cached fitStored ran $jobs job(s) vs $fitJobs to fit — it retrained")
    assert(loaded == fitted)
    // the stored table is yesterday's: a GROWN corpus encodes with the
    // same merges (key hygiene is the caller's, by contract)
    val grown = docs.union(Seq((99L, "zzz zzz zzz zzz zzz zzz"))
      .toDF("doc_id", "text"))
    assert(Bpe.fitStored(grown, "text", 6, 1L, "corpus@v1", Some(store2))
      == fitted)
    // the byte-level mode stores under a DIFFERENT artifact key (a
    // byte table and a word table with the same corpus key are
    // different tokenizers), reloads without retraining, and matches
    // the direct fit
    val bFitted = Bpe.fitStored(docs, "text", 6, 1L, "corpus@v1",
      Some(store2), byteLevel = true)
    assert(bFitted == Bpe.fit(docs, "text", 6, minCount = 1L,
      byteLevel = true))
    assert(bFitted != fitted, "byte and word tables must differ")
    val store3 = new graft.cache.LineageCache(spark, root)
    assert(Bpe.fitStored(docs, "text", 6, 1L, "corpus@v1", Some(store3),
      byteLevel = true) == bFitted)
  }

  test("pair-rank encode replays a duplicate-pair table sequentially") {
    // (ab,c) appears at ranks 1 AND 3; rank 1 is dead (no "ab" symbol
    // exists yet) and only the rank-3 occurrence may fire — a
    // lowest-rank-ever lookup would wrongly skip it after rank 2
    val merges = Seq(Bpe.Merge(1, "ab", "c"), Bpe.Merge(2, "a", "b"),
      Bpe.Merge(3, "ab", "c"))
    val out = Seq((1L, "abc")).toDF("doc_id", "text")
      .select(Bpe.encodeColFast(col("text"), merges)).head().getString(0)
    assert(out == s"abc ${Bpe.EndOfWord}")
    // and matches the HOF specification form exactly
    val hof = Seq((1L, "abc")).toDF("doc_id", "text")
      .select(Bpe.encodeCol(col("text"), merges)).head().getString(0)
    assert(out == hof)
  }

  test("pair-rank encode is bit-identical to the sequential spec at " +
      "a 256+-merge table") {
    // deterministic pseudo-corpus over a small alphabet so pairs repeat
    // enough to learn hundreds of merges
    val rnd = new scala.util.Random(42)
    val alpha = "abcdef"
    def word() = Seq.fill(3 + rnd.nextInt(7))(
      alpha(rnd.nextInt(alpha.length))).mkString
    val corpus = Seq.tabulate(400)(i =>
      (i.toLong, Seq.fill(12)(word()).mkString(" "))).toDF("doc_id", "text")
    val merges = Bpe.fit(corpus, "text", 300, minCount = 1L)
    assert(merges.size >= 256, s"only ${merges.size} merges learned")
    // driver-side reference: the naive all-merges-in-rank-order greedy
    // fold — the exact algorithm encodeCol's HOF expresses
    def refEncode(text: String): String = {
      val toks = text.replaceAll("\\s+", " ").toLowerCase
        .split(" ", -1).filter(_.nonEmpty)
      toks.flatMap { w =>
        var syms = w.map(_.toString).toVector :+ Bpe.EndOfWord
        merges.sortBy(_.rank).foreach { m =>
          val next = Vector.newBuilder[String]
          var carry: String = null
          syms.foreach { x =>
            if (carry == null) carry = x
            else if (carry == m.left && x == m.right) {
              next += m.left + m.right; carry = null
            } else { next += carry; carry = x }
          }
          if (carry != null) next += carry
          syms = next.result()
        }
        syms
      }.mkString(" ")
    }
    val probes = (Seq.tabulate(120)(i =>
      (i.toLong, Seq.fill(8)(word()).mkString(" "))) ++
      Seq((900L, "aaaaaaa bbb"), (901L, ""), (902L, "unseen zz")))
      .toDF("doc_id", "text")
    val got = probes
      .select(col("doc_id"), col("text"),
        Bpe.encodeColFast(col("text"), merges).as("fast"))
      .collect()
    got.foreach { r =>
      assert(r.getString(2) == refEncode(r.getString(1)),
        s"doc ${r.getLong(0)} diverged")
    }
  }

  test("native encodeColFast matches the HOF form char-for-char") {
    val train = Seq.tabulate(30)(i =>
      (i.toLong, "low lower lowest newer wider")).toDF("doc_id", "text")
    val merges = Bpe.fit(train, "text", 8, minCount = 1L)
    val probes = Seq(
      (1L, "low lower lowest"),
      (2L, "  leading   and trailing  "),
      (3L, "MiXeD CaSe LoWeR"),
      (4L, "unseen新词 mixed 中文 tokens"),
      (5L, ""), (6L, "   "),
      (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = probes.select(col("doc_id"),
      Bpe.encodeCol(col("text"), merges).as("hof"),
      Bpe.encodeColFast(col("text"), merges).as("fast"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"doc ${r.getLong(0)}: hof='${r.getString(1)}' " +
          s"fast='${r.getString(2)}'")
    }
  }

  test("fit equals the spec trainer word-level, byte-level, with specials") {
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, s"The Spark spark scan TABLE value part hash row$i mix"))
      .toDF("doc_id", "text")
    val w = Bpe.fit(docs, "text", 12, minCount = 1L)
    assert(w == SpecTrainers.bpe(Bpe.wordFrame(docs, "text"), 12, 1L))
    val b = Bpe.fit(docs, "text", 12, minCount = 1L, byteLevel = true)
    assert(b == SpecTrainers.bpe(Bpe.byteFrame(docs, "text"), 12, 1L))
    // byte-level with reserved specials (the sft / `bpe ids … tags`
    // statement shape): the tag text leaves the fit corpus through
    // byteFrame's segmentation
    val sp = Seq("<|U|>", "<|A|>")
    val tagged = docs.selectExpr("doc_id",
      "concat('<|U|> ', text, ' <|A|>') AS text")
    val s = Bpe.fit(tagged, "text", 12, minCount = 1L, byteLevel = true,
      specials = sp)
    assert(s == SpecTrainers.bpe(Bpe.byteFrame(tagged, "text", sp), 12, 1L))
    assert(w != b && s.nonEmpty)
  }

  test("the word collect fails above its bound and names it") {
    val docs = Seq((1L, "one two three four five six six")).toDF("doc_id",
      "text")
    val frame = Bpe.wordFrame(docs, "text")
    assert(Bpe.collectWords(frame, "bpe", "words", bound = 6).length == 6)
    val e = intercept[IllegalArgumentException](
      Bpe.collectWords(frame, "bpe", "words", bound = 5))
    assert(e.getMessage.contains("bpe fit") &&
      e.getMessage.contains("more than 5 distinct words"), e.getMessage)
    val p = intercept[IllegalArgumentException](Bpe.collectWords(
      Bpe.byteFrame(docs, "text"), "bpe", "pretokens", bound = 5))
    assert(p.getMessage.contains("more than 5 distinct pretokens"))
    assert(Bpe.WordBound == (1 << 20))
  }

  // ---- byte-level, case-preserving mode (r11) ----

  /** Random strings over a pool of ASCII letters (both cases), digits,
    * punctuation, whitespace, and multi-byte code points (é, 中, 𝄞, 😀
    * — the last two are surrogate PAIRS, exercising 4-byte UTF-8). */
  private def randomText(rnd: scala.util.Random, maxLen: Int): String = {
    val sb = new java.lang.StringBuilder
    val extra = Array(0xE9, 0x4E2D, 0x1D11E, 0x1F600)
    (0 until rnd.nextInt(maxLen)).foreach { _ =>
      val cp: Int = rnd.nextInt(6) match {
        case 0 => ' '
        case 1 => 'a' + rnd.nextInt(26)
        case 2 => 'A' + rnd.nextInt(26)
        case 3 => '0' + rnd.nextInt(10)
        case 4 => "\t\n.,#!?-".charAt(rnd.nextInt(8)).toInt
        case 5 => extra(rnd.nextInt(extra.length))
      }
      sb.appendCodePoint(cp)
    }
    sb.toString
  }

  test("byte-level: the pretoken scanner IS the Java regex (and a " +
      "lossless partition) on random strings") {
    import graft.functions.BpeEncodeExpr
    val rnd = new scala.util.Random(42)
    (0 until 1000).foreach { _ =>
      val s = randomText(rnd, 40)
      val sc = BpeEncodeExpr.pretokensByScanner(s)
      assert(sc == BpeEncodeExpr.pretokensByRegex(s), s"on '$s'")
      assert(sc.mkString == s, s"partition must concatenate back: '$s'")
    }
  }

  test("byte-level: decode ∘ encode is byte-identical on arbitrary " +
      "strings, under a trained table and the empty table") {
    import graft.functions.BpeEncodeExpr
    val rnd = new scala.util.Random(7)
    val corpus = Seq.tabulate(30)(i =>
      (i.toLong, s"The Low lower  LOWEST\n\tmix ${i % 7} 中文 end."))
      .toDF("doc_id", "text")
    val merges = Bpe.fit(corpus, "text", 24, minCount = 1L,
      byteLevel = true)
    assert(merges.nonEmpty)
    val probes = (Seq.tabulate(200)(i => (i.toLong, randomText(rnd, 60)))
      :+ (9001L, "Hello  World\n\tMixed CASE 42!")).toDF("doc_id", "text")
    for (tbl <- Seq(merges, Seq.empty[Bpe.Merge])) {
      val out = probes.select(col("text"),
        Bpe.decodeBytesCol(Bpe.encodeBytesCol(col("text"), tbl)).as("rt"))
        .collect()
      out.foreach(r => assert(r.getString(1) == r.getString(0),
        s"round trip broke: '${r.getString(0)}' → '${r.getString(1)}'"))
    }
  }

  test("byte-level token IDS: decode ∘ encode is byte-identical; ids " +
      "follow the GPT-2 layout (bytes 0-255, merges 255+rank)") {
    val rnd = new scala.util.Random(23)
    val corpus = Seq.tabulate(30)(i =>
      (i.toLong, s"The Low lower  LOWEST\n\tmix ${i % 7} end."))
      .toDF("doc_id", "text")
    val merges = Bpe.fit(corpus, "text", 16, minCount = 1L,
      byteLevel = true)
    val probes = (Seq.tabulate(120)(i => (i.toLong, randomText(rnd, 50)))
      :+ (9001L, "The  QUICK\tbrown 42!")).toDF("doc_id", "text")
    val out = probes.select(col("text"),
      Bpe.decodeIdsCol(Bpe.encodeIdsCol(col("text"), merges), merges)
        .as("rt"),
      Bpe.encodeIdsCol(col("text"), merges).as("ids"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(0),
        s"id round trip broke: '${r.getString(0)}'")
      val ids = r.getSeq[Int](2)
      assert(ids.forall(id => id >= 0 && id <= 255 + merges.size))
    }
    // a single ASCII letter encodes to its byte id
    val one = Seq((1L, "z")).toDF("doc_id", "text")
      .select(Bpe.encodeIdsCol(col("text"), Seq.empty).as("ids"))
      .head().getSeq[Int](0)
    assert(one == Seq('z'.toInt))
    // an out-of-vocabulary id raises with the id
    val bad = Seq((1L, Array(255 + merges.size + 1))).toDF("doc_id", "ids")
    val e = intercept[Exception] {
      bad.select(Bpe.decodeIdsCol(col("ids"), merges)).collect()
    }
    assert(e.getMessage.contains((255 + merges.size + 1).toString),
      e.getMessage)
  }

  test("byte-level: case and whitespace SURVIVE the tokenizer (the " +
      "artifact-losslessness the word-level mode deliberately lacks)") {
    val corpus = Seq((1L, "Data data DATA  data\ndata")).toDF("doc_id", "text")
    val merges = Bpe.fit(corpus, "text", 8, minCount = 1L,
      byteLevel = true)
    val probe = Seq((1L, "Data  DATA\ndata")).toDF("doc_id", "text")
    val enc = probe.select(
      Bpe.encodeBytesCol(col("text"), merges).as("b"),
      Bpe.encodeColFast(col("text"),
        Bpe.fit(corpus, "text", 8, minCount = 1L)).as("w")).head()
    // byte mode: decode returns the exact input
    val rt = probe.select(Bpe.decodeBytesCol(
      Bpe.encodeBytesCol(col("text"), merges))).head().getString(0)
    assert(rt == "Data  DATA\ndata")
    // word mode on the same text is lossy: lowercased, whitespace
    // collapsed — the gap this mode closes
    assert(enc.getString(1).contains("data"))
    assert(!enc.getString(1).contains("Data"))
    // and byte mode's symbols keep the distinct casings apart
    assert(enc.getString(0).contains("D"))
  }

  test("byte-level: a single space attaches to the following run " +
      "(GPT-2 Ġword device) and becomes part of learned merges") {
    import graft.functions.BpeEncodeExpr
    assert(BpeEncodeExpr.pretokensByScanner("the cat") ==
      Seq("the", " cat"))
    assert(BpeEncodeExpr.pretokensByScanner("a  b") == Seq("a", "  ", "b"))
    assert(BpeEncodeExpr.pretokensByScanner("x 42, ok") ==
      Seq("x", " 42", ",", " ok"))
    val corpus = Seq.tabulate(20)(i => (i.toLong, "the cat the cat"))
      .toDF("doc_id", "text")
    val merges = Bpe.fit(corpus, "text", 12, minCount = 1L,
      byteLevel = true)
    // 'Ġ' (mapped 0x20) appears inside learned merge symbols: the
    // space-prefixed word is ONE token family, GPT-2-style
    assert(merges.exists(m => (m.left + m.right).contains('Ġ')),
      merges.toString)
  }

  test("special tokens: atomic reserved ids above the vocab, lossless " +
      "id round trip with specials present, tag text excluded from fit") {
    import graft.functions.SpecialTokens
    val sp = Seq("<|user|>", "<|assistant|>")
    val rnd = new scala.util.Random(31)
    // a tag-dense corpus and its tag-free twin (the tags' segments as
    // separate rows) must learn the SAME merges: specials contribute
    // no statistics
    val tagged = Seq.tabulate(30)(i =>
      (i.toLong, s"<|user|> ask ${i % 5} thing <|assistant|> answer it"))
      .toDF("doc_id", "text")
    val twin = Seq.tabulate(30)(i =>
      Seq((2L * i, s" ask ${i % 5} thing "), (2L * i + 1, " answer it")))
      .flatten.toDF("doc_id", "text")
    val merges = Bpe.fit(tagged, "text", 12, minCount = 1L,
      byteLevel = true, specials = sp)
    assert(merges == Bpe.fit(twin, "text", 12, minCount = 1L,
      byteLevel = true),
      "specials leaked into the fit statistics")
    val base = 256 + merges.size
    // a special alone is exactly ONE reserved id; tags embedded without
    // surrounding whitespace still cut atomically
    val probe = Seq(
      (1L, "<|user|>"),
      (2L, "x<|user|>y"),
      (3L, "<|assistant|><|user|>"),
      (4L, "no tags at all"),
      (5L, "literal <|user|> inside running text <|assistant|> tail"))
      .toDF("doc_id", "text")
    val out = probe.select(col("text"),
      Bpe.encodeIdsCol(col("text"), merges, sp).as("ids"),
      Bpe.decodeIdsCol(Bpe.encodeIdsCol(col("text"), merges, sp),
        merges, sp).as("rt")).collect()
    out.foreach { r =>
      assert(r.getString(2) == r.getString(0),
        s"specials round trip broke: '${r.getString(0)}'")
    }
    assert(out(0).getSeq[Int](1) == Seq(base))
    assert(out(2).getSeq[Int](1) == Seq(base + 1, base))
    assert(out(1).getSeq[Int](1).count(_ == base) == 1)
    assert(out(3).getSeq[Int](1).forall(_ < base))
    // random texts with specials injected: round trip stays lossless
    (0 until 100).foreach { i =>
      val s = randomText(rnd, 30) + sp(i % 2) + randomText(rnd, 30)
      val row = Seq((1L, s)).toDF("doc_id", "text").select(
        Bpe.decodeIdsCol(Bpe.encodeIdsCol(col("text"), merges, sp),
          merges, sp)).head()
      assert(row.getString(0) == s, s"on '$s'")
    }
    // the memoized Scan equals a naive fresh-search scan for any
    // monotone cursor sequence (the memo's staleness rule is the one
    // thing a refactor could silently break)
    val rnd2 = new scala.util.Random(91)
    (0 until 200).foreach { _ =>
      val alpha = "ab<>|"
      val s = (0 until rnd2.nextInt(40))
        .map(_ => alpha(rnd2.nextInt(alpha.length))).mkString
      val sps = Array("<a>", "<|", "a>>", "<a>>").filter(_ => rnd2.nextBoolean()) match {
        case e if e.isEmpty => Array("<a>")
        case e => e
      }
      val scan = new SpecialTokens.Scan(s, sps)
      def naive(from: Int): Long = {
        var bs = Int.MaxValue; var bi = -1
        sps.indices.foreach { q =>
          val i = s.indexOf(sps(q), from)
          if (i >= 0 && (i < bs ||
              (i == bs && sps(q).length > sps(bi).length))) { bs = i; bi = q }
        }
        if (bi < 0) -1L else (bs.toLong << 32) | bi.toLong
      }
      var from = 0
      while (from <= s.length) {
        assert(scan.next(from) == naive(from), s"s='$s' from=$from")
        from += 1 + rnd2.nextInt(3)
      }
    }
    // scanner: leftmost occurrence wins; same-start ties go longest
    val ov = Array("<a>", "<a>>")
    val hit = SpecialTokens.nextSpecial("x<a>>y", 0, ov)
    assert((hit >>> 32).toInt == 1 && (hit & 0xFFFFFFFFL) == 1,
      s"longest-match tie-break failed: $hit")
    val first = SpecialTokens.nextSpecial("<a> then <a>>", 0, ov)
    assert((first >>> 32).toInt == 0 && (first & 0xFFFFFFFFL) == 0)
    // vocabFrame carries the specials rows at the reserved ids
    val vf = Bpe.vocabFrame(spark, merges, sp)
      .filter(col("kind") === "special").orderBy(col("id")).collect()
    assert(vf.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      sp.zipWithIndex.map { case (s, k) => (base + k, s) })
  }
}
