package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.hb.Configurations._

/** The materialisation scope: what a scope caches dies with it, a plan
  * another scope holds is neither re-filled nor released, and concurrent
  * callers in their own scopes get the serial bytes without touching the
  * session conf. */
class ScopeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  private def docs: DataFrame = {
    import spark.implicits._
    (0 until 60).map(i =>
      (i.toLong, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} tail$i"))
      .toDF("doc_id", "text")
  }

  /** Fit (`encode` over an aggregate) plus the two-pass emit layout. */
  private val packedHb =
    """index rows by doc_id
      |dedup exact text
      |split 80/10/10 by doc_id 's1'
      |only (split = 'train')
      |encode text 16
      |emit packed token_ids 64 2
      |slice columns shard seq n_docs n_tokens input_ids doc_starts
      |""".stripMargin

  /** The gateway's fit op: exact dedup, then a unigram tokenizer fit. */
  private val unigramHb =
    """index rows by doc_id
      |dedup exact text
      |unigram text 16
      |""".stripMargin

  private def rows(hb: String): Seq[String] =
    graft.hb.Graft.runHb(hb, docs).collect().map(_.toString).toSeq.sorted

  test("a scoped fit + emit packed program and a scoped truncating " +
    "Runner leave the cache manager empty") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    Scope.open(_ => rows(packedHb))
    assert(cm.isEmpty, "program caches must die with the scope")
    val configs = Map(
      "clean" -> conf(TableSource("docs"), "dedup exact text"),
      "packed" -> conf(MergeOf(Seq("clean")),
        "encode text 16\nemit packed token_ids 64 2"))
    val n = Scope.open { _ =>
      new Runner(spark, _ => docs, truncatePlans = true)
        .run(configs, "packed").count()
    }
    assert(n > 0)
    assert(cm.isEmpty, "Runner caches must die with the enclosing scope")
  }

  test("concurrent fit-bearing programs in their own scopes match their " +
    "serial runs and leave the session conf untouched") {
    val programs = Seq(packedHb, unigramHb)
    val serial = programs.map(hb => Scope.open(_ => rows(hb)))
    val confBefore = spark.conf.getAll
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try for (rep <- 1 to 5) {
      val runs = programs.map(hb =>
        scala.concurrent.Future(Scope.open(_ => rows(hb))))
      val got = runs.map(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration("10 min")))
      assert(got == serial, s"concurrent result differs at rep $rep")
    } finally pool.shutdown()
    assert(spark.conf.getAll == confBefore)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("cache on a plan another scope holds neither fills nor releases it") {
    val df = spark.range(0, 2000).selectExpr("id", "id * 7 % 13 AS x")
      .filter("x > 3")
    Scope.open { outer =>
      outer.cache(df, "outer")
      assert(df.storageLevel != StorageLevel.NONE)
      val baseline = JobCounter.count(spark) {}
      val jobs = JobCounter.count(spark) {
        Scope.open(inner => inner.cache(df, "inner"))
        outer.cache(df, "outer again")
      }
      assert(jobs == baseline, s"a held plan was filled again ($jobs jobs)")
      assert(df.storageLevel != StorageLevel.NONE,
        "closing a scope released a plan it did not create")
    }
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("memos live in the enclosing open scope, not in nested ones") {
    var computed = 0
    def fit(): String = Scope.memo("k") { computed += 1; "model" }
    Scope.open { _ =>
      Scope.nested(_ => fit())
      Scope.nested(_ => fit())
    }
    assert(computed == 1, "a nested scope must forward its memo")
    fit(); fit()
    assert(computed == 3, "with no scope open nothing is memoised")
  }
}
