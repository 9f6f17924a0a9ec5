package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Components

/** Connected components: correctness on known graphs, logarithmic-round
  * convergence on the path graph (label propagation's worst case), and
  * the no-leaked-cache lifecycle. */
class ComponentsSpec extends AnyFunSuite {

  lazy val spark = Sessions.local()
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two cliques and a bridge-free pair resolve to min-id labels") {
    // clique {1,2,3}, chain {10-11}, crossing edge ordering variants
    val got = cc(Seq((2L, 1L), (3L, 2L), (1L, 3L), (11L, 10L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("transitive chain A~B~C clusters all three (the case pair-drop " +
    "semantics cannot express)") {
    val got = cc(Seq((5L, 7L), (7L, 9L)))
    assert(got == Map(5L -> 5L, 7L -> 5L, 9L -> 5L))
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val got = cc(Seq((4L, 4L), (4L, 6L), (6L, 4L), (4L, 6L), (8L, 4L)))
    assert(got == Map(4L -> 4L, 6L -> 4L, 8L -> 4L))
  }

  test("a 200-node path converges (pointer jumping: O(log n) rounds, " +
    "not O(n)) and labels everything with the path min") {
    val edges = (0L until 199L).map(i => (i, i + 1))
    // maxRounds 15 ≪ the 199 rounds plain propagation would need —
    // convergence inside it is the logarithmic-rounds evidence.
    // driverMaxEdges 0 forces the DISTRIBUTED path (the size-adaptive
    // default would union-find this tiny graph on the driver)
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    val got =
      try Components.connectedComponents(
        edges.toDF("a", "b"), "a", "b", maxRounds = 15)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      finally spark.conf.unset("graft.cc.driverMaxEdges")
    assert(got.length == 200 && got.forall(_._2 == 0L))
  }

  test("driver union-find path == distributed pointer-jumping path " +
    "on a mixed graph (r17 size-adaptive execution)") {
    // random-ish mixed graph: cliques, chains, isolated pairs, reversed
    // and duplicate edges — both execution strategies must produce the
    // identical (id -> min reachable id) map
    val edges = ((0L until 60L).map(i => (i, (i * 7) % 60)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 100L))).filter(e => e._1 != e._2)
    def run(): Map[Long, Long] =
      Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = run() // default conf: driver path (edges << 1M)
    spark.conf.set("graft.cc.driverMaxEdges", "0") // force distributed
    try {
      val viaDistributed = run()
      assert(viaDriver == viaDistributed)
      assert(viaDriver.nonEmpty)
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
  }

  test("above graft.cc.driverMaxEdges the distributed path reads the " +
    "cached edges once and leaks no cache") {
    // every edge row passes one counting (nondeterministic, so never
    // duplicated by the optimizer) projection; the operator caches the
    // edge frame before the size probe, so the probe, the symmetric
    // union and the rounds all read blocks — each row is evaluated once
    val evals = spark.sparkContext.longAccumulator("cc-edge-evals")
    val tap = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val es = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L), (8L, 6L))
    val edges = es.toDF("a", "b").withColumn("a", tap(col("a")))
    val viaDriver = cc(es)
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set("graft.cc.driverMaxEdges", "2") // 6 edges > 2
    try {
      val got = Components.connectedComponents(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == viaDriver)
      assert(evals.value == es.size,
        s"edge plan evaluated ${evals.value} rows for ${es.size} edges")
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the operator scope must release the edge cache")
  }

  test("withComponents labels every row; isolated rows are their own " +
    "component; no caches leak") {
    val df = Seq(1L, 2L, 3L, 50L).toDF("id")
    val edges = Seq((1L, 2L)).toDF("a", "b")
    val got = Components.withComponents(df, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 50L -> 50L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "connectedComponents must release its iteration caches")
  }

  test("empty edge list: no pairs, every df row its own component") {
    val df = Seq(1L, 2L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val got = Components.withComponents(df, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }
}
