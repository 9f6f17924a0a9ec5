package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.LineageCache
import graft.operators.{Unigram, WordPiece}

/** The persisted-model lifecycle for the WordPiece and Unigram families
  * (the Bpe.fitStored contract, r12) and its StreamHb wiring: a fresh
  * store handle on the same root simulates a NEW SESSION — the reload
  * may only pay parquet-footer reads, never the trainer jobs, and the
  * translated stream encodes identically under yesterday's model. */
class StoredModelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()
  import spark.implicits._

  private def corpus = Seq.tabulate(30)(i =>
    (i.toLong, "hugging huggable hug bugs bug running runner"))
    .toDF("doc_id", "text")

  /** [[corpus]] as `documents.parquet` in a fresh directory, and the
    * resolver that binds it as configuration `corpus`. */
  private def corpusTable(prefix: String)
      : (String, String => org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    corpus.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/staging")
    // single-file layout the glob-filtered file source expects
    val part = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dir/staging")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    java.nio.file.Files.copy(java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    (dir, {
      case "corpus" => spark.read.parquet(s"$dir/documents.parquet")
      case other => throw new NoSuchElementException(other)
    })
  }

  test("WordPiece.fitStored/vocabularyStored: a fresh session loads " +
      "the artifacts, no retrain, identical model") {
    val root = java.nio.file.Files
      .createTempDirectory("wp_store").toString
    val store = new LineageCache(spark, root)
    val docs = corpus
    var fitted: Seq[WordPiece.Merge] = null
    var vocab: Seq[String] = null
    val fitJobs = JobCounter.count(spark) {
      fitted = WordPiece.fitStored(docs, "text", 8, 1L, "corpus@v1",
        Some(store))
      vocab = WordPiece.vocabularyStored(docs, "text", 8, 1L,
        "corpus@v1", Some(store))
    }
    assert((fitted, vocab) == WordPiece.fit(docs, "text", 8, minCount = 1L))
    val store2 = new LineageCache(spark, root)
    var loaded: Seq[WordPiece.Merge] = null
    var loadedVocab: Seq[String] = null
    val jobs = JobCounter.count(spark) {
      loaded = WordPiece.fitStored(docs, "text", 8, 1L, "corpus@v1",
        Some(store2))
      loadedVocab = WordPiece.vocabularyStored(docs, "text", 8, 1L,
        "corpus@v1", Some(store2))
    }
    assert(fitJobs > jobs,
      s"cached fitStored ran $jobs job(s) vs $fitJobs to fit — it retrained")
    assert(loaded == fitted)
    assert(loadedVocab == vocab)
    // yesterday's model: a GROWN corpus loads the same artifacts
    val grown = docs.union(Seq((99L, "zzz zzz zzz zzz"))
      .toDF("doc_id", "text"))
    assert(WordPiece.vocabularyStored(grown, "text", 8, 1L,
      "corpus@v1", Some(store2)) == vocab)
  }

  test("Unigram.fitStored: a fresh session loads the piece table, " +
      "no refit, identical model") {
    val root = java.nio.file.Files
      .createTempDirectory("ug_store").toString
    val store = new LineageCache(spark, root)
    val docs = corpus
    var fitted: Seq[Unigram.Piece] = null
    val fitJobs = JobCounter.count(spark) {
      fitted = Unigram.fitStored(docs, "text", 12, "corpus@v1", Some(store))
    }
    assert(fitted == Unigram.fitEm(docs, "text", 12).sortBy(_.piece))
    val store2 = new LineageCache(spark, root)
    var loaded: Seq[Unigram.Piece] = null
    val jobs = JobCounter.count(spark) {
      loaded = Unigram.fitStored(docs, "text", 12, "corpus@v1",
        Some(store2))
    }
    assert(fitJobs > jobs,
      s"cached fitStored ran $jobs job(s) vs $fitJobs to fit — it refit")
    assert(loaded == fitted)
    // a different maxPieceLen is a DIFFERENT artifact key
    assert(store2.contains(store2.key("unigram",
      Seq("corpus@v1", "text", "12", "6"))))
    assert(!store2.contains(store2.key("unigram",
      Seq("corpus@v1", "text", "12", "4"))))
  }

  test("StreamHb with a store: `wordpiece/unigram … using` translate " +
      "from the persisted model in a later session — zero refit jobs " +
      "beyond the bounded artifact reads — and encode identically") {
    val root = java.nio.file.Files
      .createTempDirectory("hb_store").toString
    val (dir, resolve) = corpusTable("hb_store_data")
    val wpProg = "wordpiece text using corpus 6\nslice columns doc_id wp\n"
    val ugProg = "unigram text using corpus 8\nslice columns doc_id ug\n"
    // session 1: fit + persist while translating
    val store = new LineageCache(spark, root)
    val wp1 = graft.streaming.StreamHb.runTable(spark, dir, "documents",
      wpProg, "stored_wp_1", resolve, Some(store))
      .orderBy("doc_id").collect().map(_.toSeq)
    val ug1 = graft.streaming.StreamHb.runTable(spark, dir, "documents",
      ugProg, "stored_ug_1", resolve, Some(store))
      .orderBy("doc_id").collect().map(_.toSeq)
    // session 2: a fresh store handle; translation must LOAD, not fit.
    // Count jobs in the translation phase only (apply, not the stream
    // run): the resolver hands a lazy frame that is never scanned when
    // every model comes from the store.
    val store2 = new LineageCache(spark, root)
    var translateJobs = -1
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDf = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    translateJobs = JobCounter.count(spark) {
      graft.streaming.StreamHb.apply(
        graft.hb.HbParser.parse(wpProg), streamDf, resolve, Some(store2))
      graft.streaming.StreamHb.apply(
        graft.hb.HbParser.parse(ugProg), streamDf, resolve, Some(store2))
    }
    // baseline: the same two translations WITHOUT a store refit from
    // scratch — the stored path must be decisively cheaper
    val refitJobs = JobCounter.count(spark) {
      graft.streaming.StreamHb.apply(
        graft.hb.HbParser.parse(wpProg), streamDf, resolve)
      graft.streaming.StreamHb.apply(
        graft.hb.HbParser.parse(ugProg), streamDf, resolve)
    }
    assert(translateJobs < refitJobs,
      s"stored translation ran $translateJobs job(s) vs $refitJobs to " +
        "refit — the store was not used")
    // and the session-2 results are bit-identical to session 1's
    val wp2 = graft.streaming.StreamHb.runTable(spark, dir, "documents",
      wpProg, "stored_wp_2", resolve, Some(store2))
      .orderBy("doc_id").collect().map(_.toSeq)
    val ug2 = graft.streaming.StreamHb.runTable(spark, dir, "documents",
      ugProg, "stored_ug_2", resolve, Some(store2))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(wp2.toSeq == wp1.toSeq)
    assert(ug2.toSeq == ug1.toSeq)
  }

  test("specials lists are INJECTIVE in the store key: tag lists whose " +
      "flat joins collide never share a cached model") {
    val root = java.nio.file.Files
      .createTempDirectory("sp_store").toString
    val store = new LineageCache(spark, root)
    val docs = corpus
    // '<a,b>' vs '<a' + 'b>': identical under mkString(",") — the
    // length-prefixed key must keep them distinct for all 3 families
    val a = Seq("<a,b>")
    val b = Seq("<a", "b>")
    val wpA = WordPiece.vocabularyStored(docs, "text", 4, 1L, "k",
      Some(store), specials = a)
    val wpB = WordPiece.vocabularyStored(docs, "text", 4, 1L, "k",
      Some(store), specials = b)
    assert(wpA == wpB, "same corpus stats — vocab equal, keys distinct")
    val ugA = Unigram.fitStored(docs, "text", 8, "k", Some(store),
      specials = a)
    val ugB = Unigram.fitStored(docs, "text", 8, "k", Some(store),
      specials = b)
    assert(ugA == ugB)
    val bpA = graft.operators.Bpe.fitStored(docs, "text", 4, 1L, "k",
      Some(store), byteLevel = true, specials = a)
    val bpB = graft.operators.Bpe.fitStored(docs, "text", 4, 1L, "k",
      Some(store), byteLevel = true, specials = b)
    // byte fits EXCLUDE tag text: '<a,b>' and '<a'/'b>' segment the
    // corpus identically here (no tag occurs in it) so the merge
    // tables match — but each list must have hit its own key slot
    assert(bpA == bpB)
    val slots = new java.io.File(root).listFiles()
    assert(slots != null && slots.length >= 6,
      s"expected >= 6 distinct store slots, got ${slots.length}: " +
        slots.map(_.getName).mkString(", "))
  }

  test("store and no store fit the same model: `bpe`, `bpe ids … tags` " +
      "and `wordpiece` return identical rows") {
    val (dir, resolve) = corpusTable("hb_paths_data")
    Seq("bpe text using corpus 6\nslice columns doc_id bpe\n",
      "bpe ids text using corpus 6 tags '<|x|>' 'hug'\n" +
        "slice columns doc_id ids_str\n",
      "wordpiece text using corpus 6\nslice columns doc_id wp\n")
      .zipWithIndex.foreach { case (prog, i) =>
        val store = new LineageCache(spark, java.nio.file.Files
          .createTempDirectory("hb_paths_store").toString)
        def rows(q: String, st: Option[LineageCache]) =
          graft.streaming.StreamHb.runTable(spark, dir, "documents", prog,
            q, resolve, st).orderBy("doc_id").collect().map(_.toSeq).toSeq
        val plain = rows(s"paths_none_$i", None)
        assert(plain.nonEmpty)
        assert(rows(s"paths_store_$i", Some(store)) == plain, prog)
      }
  }
}
