package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Vocab

/** Vocabulary fit + token-id encoding: rank determinism, OOV, nulls. */
class VocabSpec extends AnyFunSuite {

  lazy val spark = Sessions.local()
  import spark.implicits._

  private def docs = Seq(
    (1L, "b a a c"), (2L, "a b rare"), (3L, null.asInstanceOf[String]))
    .toDF("id", "text")

  test("fit ranks by (count desc, token asc) with ids from 1") {
    val v = Vocab.fit(docs, "text", size = 3).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    // a:3, b:2, c:1/rare:1 → tie broken by token asc
    assert(v == Seq(("a", 1, 3L), ("b", 2, 2L), ("c", 3, 1L)))
  }

  test("encode maps OOV to 0, keeps positions, null text → null") {
    val out = Vocab.fitEncode(docs, "id", "text", size = 3)
      .select("id", "token_ids").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    assert(out(1L) == Seq(2, 1, 1, 3))  // b a a c
    assert(out(2L) == Seq(1, 2, 0))     // rare is OOV
    assert(out(3L) == null)
  }

  test("fitStored: a fresh session loads the vocabulary, no refit") {
    val root = java.nio.file.Files
      .createTempDirectory("vocab_store").toString
    val store = new graft.cache.LineageCache(spark, root)
    // first call fits and writes the artifact
    var fitted: Map[String, Int] = null
    val fitJobs = JobCounter.count(spark) {
      fitted = Vocab.fitStored(docs, "text", 3, "corpus@v1", Some(store))
    }
    assert(fitted == Vocab.vocabMap(Vocab.fit(docs, "text", 3)))
    // a fresh store handle on the same root simulates a new session
    // (the cache is on-disk, not in-memory); the second construction
    // may only pay parquet-footer reads, never the count/rank/write
    // jobs of a refit
    val store2 = new graft.cache.LineageCache(spark, root)
    var loaded: Map[String, Int] = null
    val jobs = JobCounter.count(spark) {
      loaded = Vocab.fitStored(docs, "text", 3, "corpus@v1", Some(store2))
    }
    assert(fitJobs > jobs,
      s"cached fitStored ran $jobs job(s) vs $fitJobs to fit — it refit")
    assert(store2.contains(store2.key("vocab", Seq("corpus@v1", "text", "3"))))
    assert(loaded == fitted)
    // ...and the stored ids drive encoding of NEW documents: the id
    // map is yesterday's, growth does not re-rank
    val newDocs = Seq((9L, "c c c c a")).toDF("id", "text")
    val enc = Vocab.encodeNarrow(newDocs, "text",
      Vocab.fitStored(newDocs, "text", 3, "corpus@v1", Some(store2)))
      .select("token_ids").head().getSeq[Int](0)
    assert(enc == Seq(3, 3, 3, 3, 1)) // c stays id 3 despite dominating
  }

  test("encoding is stable under repartitioning") {
    val a = Vocab.fitEncode(docs.repartition(7), "id", "text", 3)
      .select("id", "token_ids").collect().map(_.toString).sorted.toSeq
    val b = Vocab.fitEncode(docs, "id", "text", 3)
      .select("id", "token_ids").collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("narrow (literal-map) encoding matches the join path exactly") {
    val v = Vocab.fit(docs, "text", size = 3)
    val joined = Vocab.encode(docs, "id", "text", v)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getSeq[Int](2).toList)).toMap
    val narrow = Vocab.encodeNarrow(docs, "text", Vocab.vocabMap(v))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getSeq[Int](2).toList)).toMap
    assert(narrow == joined, s"narrow=$narrow joined=$joined")
  }

  test("coverage counts exactly what encode would map to id 0") {
    val strat = Seq(("x", "b a a c"), ("x", "a b rare"), ("y", "z q"))
      .toDF("src", "text")
    // counts: a:3 b:2, then c/q/rare/z tie at 1 → token-asc keeps c;
    // vocab = {a, b, c}, so rare/z/q are the OOV mass
    val v = Vocab.fit(strat, "text", size = 3)
    val cov = Vocab.coverage(strat, "src", "text", v).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(cov("x") == ((7L, 1L, 142L)), s"got ${cov("x")}") // 1/7 OOV
    assert(cov("y") == ((2L, 2L, 1000L)), s"got ${cov("y")}") // all OOV
    // a full vocabulary drives every stratum to zero
    val full = Vocab.coverage(strat, "src", "text",
      Vocab.fit(strat, "text", size = 100)).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(full.values.forall(_ == 0L), s"got $full")
  }

  test("decodeNarrow: the exact inverse of encode with a visible " +
      "<oov> marker; out-of-vocabulary ids raise") {
    val vocab = Vocab.fit(docs, "text", size = 3)
    val enc = Vocab.encode(docs, "id", "text", vocab)
    val dec = Vocab.decodeNarrow(enc, "token_ids", Vocab.vocabMap(vocab))
      .select("id", "text_decoded").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(dec(1L) == "b a a c")
    assert(dec(2L) == "a b <oov>")   // rare is OOV -> marker, aligned
    assert(dec(3L) == null)          // null text -> null ids -> null
    // an id beyond the fitted vocabulary is wrong-vocabulary drift
    val drifted = enc.withColumn("token_ids",
      org.apache.spark.sql.functions.array(lit(99)))
    val e = intercept[Exception] {
      Vocab.decodeNarrow(drifted, "token_ids",
        Vocab.vocabMap(vocab)).collect()
    }
    assert(e.getMessage.contains("outside the fitted vocabulary"))
  }
}
